package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** General relational operators beyond the reference's own surface: set
  * operations, pivot, the window-function suite, exact distributed
  * percentiles, and cube grouping sets. These round out the engine to a
  * full analytics surface (SURVEY §2.6 notes the reference has only
  * degenerate forms of these — list-difference, max-per-group).
  *
  * Scale notes: set ops and pivot are single-shuffle hash aggregates;
  * the window suite shuffles once on the partition key and every
  * function shares that sort; percentiles use rank arithmetic (two
  * window passes), never a driver-side sort.
  */
object RelationalOps {

  import EtlOps.t

  /** q46 — set operations (INTERSECT / EXCEPT), the generalization of the
    * reference's list-difference exception rules
    * (`check_bucket_latest_folders.py:222-229`): customers partitioned
    * into has-orders / no-orders via set ops on the key column. Both ops
    * compile to one hash aggregate + one shuffle each. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    val withOrd = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    cust.intersect(withOrd).withColumn("tag", lit("with_orders"))
      .unionAll(cust.except(withOrd).withColumn("tag", lit("no_orders")))
      .select(col("tag"), col("c_custkey"))
      .orderBy("tag", "c_custkey")
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q47 — pivot: per-user counts fanned out one column per event type.
    * The pivot values are DECLARED ([[EventTypes]]) so Spark skips the
    * extra distinct-values scan — the whole pivot is one hash aggregate
    * (scale rule: never let pivot infer values from 100 TB of data). */
  def pivotCounts(s: SparkSession, dir: String): DataFrame =
    EtlOps.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0, EventTypes)
      .orderBy("user_id")

  /** q48 — the window-function suite over one shared sort: row_number,
    * lag, lead, running sum, rank. All five reuse the single
    * shuffle+sort on (o_custkey, o_orderdate, o_orderkey); the running
    * money sum goes through DECIMAL so it is exact (and the rank window
    * re-sorts within the same partitioning — no second shuffle). */
  def windowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      to_date(col("o_orderdate")).as("order_date"),
      row_number().over(w).cast("bigint").as("rn"),
      lag(to_date(col("o_orderdate")), 1).over(w).as("prev_date"),
      lead(col("o_orderkey"), 1).over(w).as("next_key"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(wRows)
        .cast("double").as("cum_spend"),
      rank().over(wPrice).cast("bigint").as("price_rank"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q49 — exact distributed percentiles (p50/p90/p99 of l_quantity per
    * return flag) via rank arithmetic: value at row ceil(p·n) of the
    * per-group sort. Integer position logic means both engines pick the
    * same physical row — no float interpolation to diverge on. At scale
    * this is two window passes + one aggregate, all partition-parallel
    * by group (vs. a single-node sort in naive implementations). */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    def pick(p: Double) = max(when(
      col("rn") === ceil(lit(p) * col("n")).cast("bigint"),
      col("l_quantity")))
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        row_number().over(w).cast("bigint").as("rn"),
        count(lit(1)).over(wAll).as("n"))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n_rows"),
        pick(0.50).as("p50"), pick(0.90).as("p90"), pick(0.99).as("p99"))
      .orderBy("l_returnflag")
  }

  /** q62 — JSON column processing: extract a typed field from the
    * events' JSON props and aggregate per type. `get_json_object` is a
    * codegen'd built-in (no UDF); at scale prefer parsing ONCE with
    * `from_json` + a schema when several fields are read (single parse,
    * pruned struct) — one field extracts cheaper via the path form. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    EtlOps.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q52 — CUBE grouping sets (every (lang, source) subtotal combination)
    * — the full-lattice sibling of q40's ROLLUP. One pass; Spark's Expand
    * operator replicates each row into its 4 grouping sets before one
    * hash aggregate — never 4 scans. */
  def cubeStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping_id().cast("bigint").as("lvl"))
      .select(
        coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("total_chars"), col("lvl"))
      .orderBy("lang", "source")

  // --- q208: native top-k aggregate ---------------------------------------

  /** Ranking depth for the per-user event top-k. */
  val TopKDepth = 3

  /** q208 — exact per-group top-k via the native
    * [[graft.functions.TopKAgg]] aggregate: each user's
    * [[TopKDepth]] highest-valued events, SELECTED by a k-bounded
    * aggregation buffer instead of SORTED by the
    * `row_number() OVER (...)` window idiom. The aggregate's partials
    * are k rows per group per partition, map-side combine, and merge
    * associatively in the shuffle — no per-partition sort, no group
    * co-location requirement beyond the final agg exchange. The window
    * twin ([[topkEventsWindow]], A/B-only) is the plan it replaces.
    *
    * Parity: values are frozen to ×1e6 fixed point (floor of one IEEE
    * multiply — exact in both engines); ties break (score DESC,
    * event_id ASC), the same total order as the window idiom, so the
    * oracle is the plain window form.
    *
    * Scale (100 TB): the classic "top 3 per customer over a trillion
    * events" — the window form shuffles or at best WindowGroupLimit-
    * trims and then SORTS every surviving row per partition; the
    * aggregate ships exactly k·|groups| longs and compares against a
    * k-sized buffer. Selection beats sorting when k ≪ group size. */
  def topkNative(s: SparkSession, dir: String): DataFrame = {
    EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 1e6).cast("bigint").as("score_fp"))
      .groupBy("user_id")
      .agg(expr(s"topk_agg(score_fp, event_id, $TopKDepth)").as("tk"))
      .select(col("user_id"), posexplode(col("tk")))
      .select(col("user_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col")(1).as("event_id"), col("col")(0).as("score_fp"))
      .orderBy("user_id", "rank")
  }

  /** The window-idiom twin of [[topkNative]] — A/B measurement and
    * spec-equality only (same output, the plan under audit is q208's). */
  private[graft] def topkEventsWindow(s: SparkSession, dir: String): DataFrame =
    EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 1e6).cast("bigint").as("score_fp"))
      .withColumn("rank", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("score_fp").desc, col("event_id"))).cast("bigint"))
      .filter(col("rank") <= TopKDepth)
      .select(col("user_id"), col("rank"), col("event_id"), col("score_fp"))
      .orderBy("user_id", "rank")

  def topkNativeOracle: String =
    s"""WITH e AS (SELECT user_id, event_id,
       |    CAST(floor(value * 1e6) AS BIGINT) AS score_fp FROM events),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY score_fp DESC, event_id) AS rnk FROM e)
       |SELECT user_id, CAST(rnk AS BIGINT) AS "rank", event_id, score_fp
       |FROM r WHERE rnk <= $TopKDepth ORDER BY user_id, rnk""".stripMargin

  // --- q298: JSON schema-drift audit ----------------------------------------

  /** Day the planted payload change ships. */
  val JsonDriftDay = 15

  /** q298 — semi-structured (JSON payload) schema-drift audit: event
    * `props` payloads have no enforced schema, so upstream producers
    * ship key additions and removals silently — the drift q187's
    * COLUMN contracts can't see because the column itself is just a
    * string. Per key: first/last day observed, days present, event
    * share before and after the change day — new keys (appeared
    * mid-stream), retired keys, and coverage shifts all fall out of
    * one table. The planted producer change at day [[JsonDriftDay]]
    * (a `v2` key on every 3rd event; every 7th event replaces the `k`
    * payload with `alt`) must read as: `v2`/`alt` first seen exactly
    * then, `k` coverage dropping after.
    *
    * Exactness: key extraction is engine JSON parsing of identical
    * strings; all outputs are integer counts and single divisions.
    *
    * Scale (100 TB): keys explode bounded by payload size (≤ a few per
    * event); one (key, day) collapse with map-side combine. */
  def jsonSchemaDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_id",
      "CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS d", "props")
    val mutated = ev.selectExpr("event_id", "d",
      s"CASE WHEN d >= $JsonDriftDay AND event_id % 7 = 0 " +
        "THEN '{\"alt\": 1}' " +
        s"WHEN d >= $JsonDriftDay AND event_id % 3 = 0 " +
        "THEN concat(substring(props, 1, length(props) - 1), " +
        "', \"v2\": 1}') " +
        "ELSE props END AS p")
    val keyed = mutated.selectExpr("d",
      "explode(json_object_keys(p)) AS key")
    val tot = mutated.groupBy("d").agg(count(lit(1L)).as("n_d"))
    val perKeyDay = keyed.groupBy("key", "d")
      .agg(count(lit(1L)).as("n"))
    perKeyDay.join(broadcast(tot), "d")
      .groupBy("key").agg(
        min(col("d")).as("first_day"), max(col("d")).as("last_day"),
        count(lit(1L)).as("days_present"),
        sum(col("n")).as("n_events"),
        sum(when(col("d") < JsonDriftDay, col("n")).otherwise(0L))
          .as("n_before"),
        sum(when(col("d") < JsonDriftDay, col("n_d")).otherwise(0L))
          .as("tot_before"),
        sum(when(col("d") >= JsonDriftDay, col("n")).otherwise(0L))
          .as("n_after"),
        sum(when(col("d") >= JsonDriftDay, col("n_d")).otherwise(0L))
          .as("tot_after"))
      .selectExpr("key", "first_day", "last_day", "days_present",
        "n_events",
        "CASE WHEN tot_before > 0 THEN round(CAST(n_before AS DOUBLE)" +
          " / tot_before, 4) ELSE 0.0 END AS share_before",
        "CASE WHEN tot_after > 0 THEN round(CAST(n_after AS DOUBLE)" +
          " / tot_after, 4) ELSE 0.0 END AS share_after",
        s"first_day >= $JsonDriftDay AS appeared_mid",
        "CASE WHEN tot_before > 0 AND tot_after > 0 THEN " +
          "abs(CAST(n_after AS DOUBLE) / tot_after - " +
          "CAST(n_before AS DOUBLE) / tot_before) > 0.05 " +
          "ELSE TRUE END AS coverage_shifted")
      .orderBy("key")
  }

  def jsonSchemaDriftOracle: String =
    s"""WITH ev AS (SELECT event_id,
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS d, props
       |  FROM events),
       |m AS (SELECT event_id, d,
       |    CASE WHEN d >= $JsonDriftDay AND event_id % 7 = 0
       |      THEN '{"alt": 1}'
       |      WHEN d >= $JsonDriftDay AND event_id % 3 = 0
       |      THEN concat(substring(props, 1, length(props) - 1),
       |        ', "v2": 1}')
       |      ELSE props END AS p
       |  FROM ev),
       |keyed AS (SELECT d, unnest(json_keys(p)) AS "key" FROM m),
       |tot AS (SELECT d, count(*) AS n_d FROM m GROUP BY d),
       |pkd AS (SELECT "key", d, count(*) AS n FROM keyed
       |  GROUP BY 1, 2),
       |agg AS (SELECT "key",
       |    min(pkd.d) AS first_day, max(pkd.d) AS last_day,
       |    count(*) AS days_present,
       |    CAST(sum(n) AS BIGINT) AS n_events,
       |    CAST(sum(CASE WHEN pkd.d < $JsonDriftDay THEN n ELSE 0
       |      END) AS BIGINT) AS n_before,
       |    CAST(sum(CASE WHEN pkd.d < $JsonDriftDay THEN n_d ELSE 0
       |      END) AS BIGINT) AS tot_before,
       |    CAST(sum(CASE WHEN pkd.d >= $JsonDriftDay THEN n ELSE 0
       |      END) AS BIGINT) AS n_after,
       |    CAST(sum(CASE WHEN pkd.d >= $JsonDriftDay THEN n_d ELSE 0
       |      END) AS BIGINT) AS tot_after
       |  FROM pkd JOIN tot ON tot.d = pkd.d GROUP BY "key")
       |SELECT "key", first_day, last_day, days_present, n_events,
       |  CASE WHEN tot_before > 0 THEN round(CAST(n_before AS DOUBLE)
       |    / tot_before, 4) ELSE 0.0 END AS share_before,
       |  CASE WHEN tot_after > 0 THEN round(CAST(n_after AS DOUBLE)
       |    / tot_after, 4) ELSE 0.0 END AS share_after,
       |  first_day >= $JsonDriftDay AS appeared_mid,
       |  CASE WHEN tot_before > 0 AND tot_after > 0 THEN
       |    abs(CAST(n_after AS DOUBLE) / tot_after -
       |    CAST(n_before AS DOUBLE) / tot_before) > 0.05
       |    ELSE TRUE END AS coverage_shifted
       |FROM agg ORDER BY "key"""".stripMargin
}
