package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.time.LocalDate

import graft.config._
import graft.transforms.CigTransforms
import graft.transforms.CigTransforms._

/** ETL-shaped operators from SURVEY §2, each as a (SparkSession, sfDir) =>
  * DataFrame query over the driver testdata. These compose the library
  * pieces (CigTransforms, freshness aggregation, marker anti-join) into the
  * shapes the reference actually runs.
  *
  * Determinism: every query that feeds the DuckDB oracle ends in a total
  * ORDER BY so row content AND order are reproducible; float outputs are
  * either per-row arithmetic (bit-deterministic) or decimal-summed then
  * cast to double (exact, order-independent).
  */
object EtlOps {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")

  /** The events table is written with parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects by default. Read nanos as raw longs
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to a
    * microsecond timestamp — the same lossless conversion DuckDB applies
    * (the testdata's nano field is micro-granular).
    *
    * The flag is deliberately SESSION-scoped, not save/restored around the
    * read: Spark re-converts each file footer's schema at task execution
    * time from a planning-time conf snapshot, so the flag must still be on
    * when the returned (lazy) DataFrame is finally executed — restoring it
    * here would break any later action (verified: only `count()` survives,
    * because it prunes every column). Entry points we own ([[graft.Bench]],
    * [[graft.Verify]], [[graft.PlanDump]], [[graft.IngestMain]], tests) set it
    * at session construction; this set covers driver-owned sessions. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** Fixed ingestion date for reproducible audit columns (reference allows
    * a config override, `ingestion_config.json:11`). */
  val IngestionDate: LocalDate = LocalDate.of(2019, 7, 3)

  /** q01 — the flagship: full T0→T8 cleanup pipeline + P11 sentinel→NULL
    * over lineitem, standing in for one CigIngestionFile
    * (`CigEolHostingIngestionLogic.py:10-42`, `ParquetFileInsertion.py:50-75`). */
  val lineitemConfig: TableConfig = TableConfig(
    targetName = "HOST_CIG_Lineitem", source = "lineitem", isEnabled = true,
    columns = Seq(
      ColumnMeta("l_orderkey", TypeClass.IntLike),
      ColumnMeta("l_linenumber", TypeClass.IntLike),
      ColumnMeta("l_quantity", TypeClass.IntLike),   // double 17.0 → "17" (T2)
      ColumnMeta("l_returnflag", TypeClass.Str, nullable = false),
      ColumnMeta("l_shipdate", TypeClass.DateTime),
      ColumnMeta("MissingCol"),                       // T1 → "None" → NULL
      ColumnMeta("Environment"),
      ColumnMeta("CIGCopyTime"),
      ColumnMeta("CIGProcessed")))

  def fullIngest(s: SparkSession, dir: String): DataFrame = {
    val cleaned = CigTransforms.pipeline(
      t(s, dir, "lineitem"), lineitemConfig, "NL_Hosting", IngestionDate)
    sentinelsToNull(cleaned)
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q02 — P1 ordered projection + rename + drop-extras
    * (`ParquetFileInsertion.py:50`). */
  def orderedProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderstatus").as("status"), col("o_orderkey").as("id"))
      .orderBy("id")

  /** q03 — T0a/T0b/T0c audit-column injection with the env-shortening rule
    * (`CigEolHostingIngestionLogic.py:16-22`; `main_mailbox.py:56`). */
  def auditColumns(s: SparkSession, dir: String): DataFrame =
    addAuditColumns(t(s, dir, "nation"), "NL_Hosting_Mailbox", IngestionDate)
      .orderBy("n_nationkey")

  /** q04 — T0d full-cell NaT/nan normalization + P11 sentinel→NULL
    * round-trip on a synthesized edge-case column (FIXTURES §3). */
  def nullSentinelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val synth = t(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 5 === 0, "NaT")
        .when(col("event_id") % 5 === 1, "nan")
        .when(col("event_id") % 5 === 2, "nanarnia") // full-cell: untouched
        .when(col("event_id") % 5 === 3, lit(null: String))
        .otherwise("x").as("raw"))
    synth
      .withColumn("cleaned", sentinelToNullExpr(normalizeNullsExpr(col("raw"))))
      .select("event_id", "cleaned")
      .orderBy("event_id")
  }

  /** q05 — T0e boolean normalization (`CigEolHostingIngestionLogic.py:29-30`). */
  def boolNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      normalizeBoolsExpr(
        when(col("event_id") % 3 === 0, "True")
          .when(col("event_id") % 3 === 1, "False")
          .otherwise("Truex")).as("flag"))
      .orderBy("event_id")

  /** q06 — T2 nullable-int trailing-".0" strip
    * (`CigEolHostingIngestionLogic.py:61-73`). */
  def nullableIntFix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      stripTrailingDotZeroExpr(col("l_quantity").cast("string")).as("qty"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q07 — T3 scientific-notation canonicalization; output as DOUBLE so the
    * oracle compares numeric values, not float-formatting dialects
    * (`CigEolHostingIngestionLogic.py:75-90`). */
  def sciNotationFix(s: SparkSession, dir: String): DataFrame = {
    val synth = t(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 4 === 0, "1.801439850948301e+16")
        .when(col("event_id") % 4 === 1, "2.5e-3")
        .when(col("event_id") % 4 === 2, NullSentinel)
        .otherwise("42").as("raw"))
    synth
      .withColumn("canon", canonicalizeSciNotationExpr(col("raw")))
      .select(col("event_id"),
        sentinelToNullExpr(col("canon")).cast("double").as("value"))
      .orderBy("event_id")
  }

  /** q08 — T5 datetime truncation to 23 chars
    * (`CigEolHostingIngestionLogic.py:92-104`). */
  def datetimeTruncate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      truncateDatetimeExpr(concat(
        lit("2019-07-0"), (col("event_id") % 9 + 1).cast("string"),
        lit(" 12:34:56.789012"), (col("event_id") % 10).cast("string")))
        .as("dt"))
      .orderBy("event_id")

  /** q09 — T6 NVARCHAR(MAX) truncation (cap lowered to 150 so the testdata
    * actually exercises it; prod cap is 100000,
    * `CigEolHostingIngestionLogic.py:44-59`). */
  def nvarcharTruncate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      truncateNvarcharMaxExpr(col("text"), 150).as("text_capped"),
      length(col("text")).cast("bigint").as("orig_len"))
      .orderBy("doc_id")

  /** q10 — T7 odd-column overrides (`CigEolHostingIngestionLogic.py:120-127`). */
  def oddColumns(s: SparkSession, dir: String): DataFrame = {
    val withOdd = t(s, dir, "part")
      .withColumn("Geolocation", concat(lit("raw-geo-"), col("p_partkey")))
      .withColumn("Logo", lit("binarystuff"))
    withOdd.select(
      col("p_partkey"),
      sentinelToNullExpr(oddColumnExpr("Geolocation", col("Geolocation"))).as("Geolocation"),
      sentinelToNullExpr(oddColumnExpr("Logo", col("Logo"))).as("Logo"))
      .orderBy("p_partkey")
  }

  /** q11 — T4 non-nullable default: sentinel → empty string
    * (`CigEolHostingIngestionLogic.py:106-112`). */
  def notNullableFix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      notNullableFixExpr(
        when(col("event_id") % 3 === 0, NullSentinel)
          .otherwise(concat(lit("v"), col("event_id")))).as("val"))
      .orderBy("event_id")

  /** q12 — P3/J1 config-membership semi-join: keep customers whose nation
    * is in the configured region (reference keeps files whose entity is in
    * config, `main.py:78-85`). Config side is tiny → broadcast. */
  def configSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val asiaNations = t(s, dir, "nation").filter(col("n_regionkey") === 2)
    t(s, dir, "customer")
      .join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
      .select("c_custkey", "c_name", "c_nationkey")
      .orderBy("c_custkey")
  }

  /** q13 — P10/J4 marker-ledger anti-join: already-ingested units are
    * skipped on rerun (`CustomMarkerTable.py:47-59` via Luigi). A REAL
    * marker ledger is metadata-sized and Spark's stats auto-broadcast it;
    * the fixture proxy derives the marker set from orders itself (1/3 of
    * the table), so the join carries NO forced hint — small ledgers
    * broadcast by stats, corpus-proportional ones shuffle on the key. */
  def markerAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val marker = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("m_orderkey"))
    orders.join(marker,
        col("o_orderkey") === col("m_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** q14 — P4 environment/datasource allow-list filter (`main.py:41-43`). */
  def envFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")

  /** q15 — P5 ingestion-date filter: files older than the ingestion date
    * are skipped, newer pass (`main.py:46-48`). */
  def dateFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q16 — A4/A5 freshness aggregation: latest partition date per
    * (environment × source) (`check_bucket_latest_folders.py:52-62,291-300`).
    * Map-side partial agg; max is exact on timestamps. */
  def freshnessLatest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(max(col("ts")).cast("string").as("latest_ts"),
        count(lit(1)).as("n_files"))
      .orderBy("event_type")

  /** q17 — P9/J3 stale-detection with exception rules: sources whose latest
    * date is stale, minus grace-period exceptions, as an anti-join over a
    * rules frame (`check_bucket_latest_folders.py:91-231`). */
  def freshnessStale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val latest = t(s, dir, "events")
      .groupBy("user_id", "event_type").agg(max(col("ts")).as("latest_ts"))
    val cutoff = lit("2024-01-29 00:00:00").cast("timestamp")
    val stale = latest.filter(col("latest_ts") < cutoff)
    // exception rules: user_ids with a standing grace exemption
    val exceptions = Seq(3L, 7L, 11L, 13L).toDF("x_user_id")
    stale.join(broadcast(exceptions),
        col("user_id") === col("x_user_id"), "left_anti")
      .select(col("user_id"), col("event_type"),
        col("latest_ts").cast("string").as("latest_ts"))
      .orderBy("user_id", "event_type")
  }

  /** q18 — the reference's own test-query shape: date-cast filter +
    * upper-equality + multi-key sort + column subset
    * (`test_compare_sql_local_and_prod_data.py:32-33`). */
  def testQueryShape(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(to_date(col("o_orderdate")) >= lit("1996-01-01").cast("date") &&
        upper(col("o_orderpriority")) === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("order_date"))
      .orderBy("order_date", "o_orderkey")

  /** q19 — the commented-out DISTINCT variant
    * (`test_compare_sql_local_and_prod_data.py:35-39`). */
  def distinctIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderpriority").distinct()
      .orderBy("o_orderpriority")

  /** q20 — A6 existence probe (marker `SELECT ... LIMIT 1`,
    * `CustomMarkerTable.py:53-59`), expressed order-independently. */
  def existenceProbe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .agg((count(lit(1)) > 0).as("marker_exists"),
        count(lit(1)).as("n_rows"))

  /** q21 — A7 run-summary counts per group (`main.py:170-186`). */
  def runSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_tasks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  /** q22 — latest-file-per-group, the window-function generalization of A4
    * (SURVEY §2.6): row_number over (group, recency). */
  def latestPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts").cast("string").as("ts"))
      .orderBy("user_id")
  }

  /** q23 — J2 enrich-join (file ← config, first match): fact enriched from
    * a dimension. NO forced broadcast hint: part scales with the data
    * (SF-proportional), so the join is left to stats/AQE — broadcast
    * while the dim fits the threshold, shuffled hash join past it. */
  def enrichJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
        col("p_type"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q24 — multi-join aggregate (revenue per nation): the scale-out shape
    * of the reference's per-table fan-out. nation (25 rows, constant at
    * every SF) keeps its broadcast hint; customer is SF-proportional so
    * its join is left to stats/AQE (broadcast under the threshold,
    * shuffled hash join past it). The money sum goes through
    * DECIMAL(18,4) so it is exact and order-independent, then back to
    * DOUBLE for oracle comparison. */
  def revenuePerNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }
}
