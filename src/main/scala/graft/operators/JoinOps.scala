package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators Spark has no dedicated keyword for, each built the way
  * it survives 100 TB:
  *
  *  - as-of join: NOT a range join — the classic distributed form is the
  *    sort-merge "union trick": tag both streams, union, one window pass
  *    per key carries the latest right-side value forward. One shuffle on
  *    the key, zero row explosion, no inequality join at all.
  *  - banded range join: the small band table broadcasts; the fact side
  *    streams through a broadcast nested-loop that never shuffles the
  *    fact. (For fact-to-fact interval joins the same banding idea
  *    bucketizes both sides to convert the inequality into an equi-join.)
  *  - salted skew join: a hot-keyed fact joined to a dimension by
  *    replicating the dimension once per salt bucket — the standard cure
  *    when one key would drown a single reducer. Complements q38's
  *    salted aggregation.
  */
object JoinOps {

  /** q50 — as-of join: for each purchase event, the latest click of the
    * same user at-or-before the purchase timestamp (NULL when none).
    * Union-trick plan: clicks sort before purchases at equal ts (side
    * 0 < 1), so `last(click_ts, ignoreNulls)` over rows-unbounded-
    * preceding is exactly the as-of match. The DuckDB oracle states the
    * same query with its native ASOF LEFT JOIN. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), lit(null).cast("timestamp").as("click_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionAll(purchases)
      .withColumn("last_click_ts",
        last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("string").as("ts"),
        col("last_click_ts").cast("string").as("last_click_ts"))
      .orderBy("user_id", "event_id")
  }

  /** Irregular price bands for the range join — irregular so no closed
    * form exists and a genuine interval predicate is exercised. */
  val PriceBands: Seq[(Long, Double, Double)] = Seq(
    (0L, 0.0, 1000.0), (1L, 1000.0, 5000.0), (2L, 5000.0, 20000.0),
    (3L, 20000.0, 60000.0), (4L, 60000.0, 200000.0))

  /** q51 — banded range join: lineitems histogrammed into irregular price
    * bands via `lo <= price < hi`. The band table is broadcast, so the
    * plan is a BroadcastNestedLoopJoin that streams the fact side in
    * place — no shuffle of lineitem, and the aggregate is map-side
    * partial. */
  def bandedRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = PriceBands.toDF("band_id", "lo", "hi")
    EtlOps.t(s, dir, "lineitem")
      .join(broadcast(bands),
        col("l_extendedprice") >= col("lo") &&
          col("l_extendedprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("total_price"))
      .orderBy("band_id")
  }

  /** Bloom false-positive rate for [[bloomPruneJoin]]: 1% keeps the
    * filter ~1.2 KB per 1k keys — broadcastable at any dimension size
    * that is itself broadcastable. */
  val BloomFpp = 0.01

  /** q66 — bloom-pruned join: revenue of lineitems belonging to URGENT
    * orders. The urgent-order keys are compressed into a
    * [[org.apache.spark.util.sketch.BloomFilter]] on the driver, and the
    * fact table is pre-filtered by the native
    * [[graft.functions.BloomMightContain]] probe INSIDE the parquet scan
    * stage — before the join's shuffle — so only ~selectivity × fact
    * rows (plus ≤1% false positives) are ever shuffled. The exact join
    * then removes the false positives: the result is bit-identical to
    * the plain join, which is exactly what the oracle states. This is
    * Spark's runtime-filter/DPP contract made explicit for hand-built
    * plans; at 100 TB it is the difference between shuffling 100 TB and
    * shuffling the selectivity. */
  def bloomPruneJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = EtlOps.t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    // two light driver passes over the (already filtered) dimension side:
    // size the filter, then fold the keys into it
    val nKeys = math.max(urgent.count(), 1L)
    val bloom = urgent.stat.bloomFilter("o_orderkey", nKeys, BloomFpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val pruned = EtlOps.t(s, dir, "lineitem")
      .filter(call_function("bloom_might_contain",
        lit(bos.toByteArray), col("l_orderkey")))
    pruned
      .join(urgent, pruned("l_orderkey") === urgent("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("order_month")
  }

  val JoinSalts = 8

  /** q53 — salted skew join: events (hot user keys) ⋈ user dimension.
    * The dimension is replicated once per salt value and the fact picks a
    * deterministic salt per row, so each hot key spreads over
    * [[JoinSalts]] reducers instead of drowning one. Result is provably
    * the plain join (the oracle IS the plain join). AQE's skew handling
    * does this adaptively for sort-merge joins; the explicit form also
    * covers broadcast-ineligible dimensions and pre-AQE engines. */
  def saltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("user_name", concat(lit("u"), col("user_id")))
    val saltedDim = dim.withColumn("salt",
      explode(sequence(lit(0), lit(JoinSalts - 1))))
    val saltedFact = ev.withColumn("salt",
      pmod(hash(col("event_id")), lit(JoinSalts)))
    saltedFact.join(saltedDim, Seq("user_id", "salt"))
      .groupBy("user_name")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("total_value"))
      .orderBy("user_name")
  }

  // --- q94: point-in-time (temporal) dimension join ---------------------

  /** q94 — point-in-time join against an SCD2 dimension: every purchase
    * event looks up the state interval (built from the user's
    * NON-purchase event runs, q71-style) that was valid AT its
    * timestamp — the correctness-critical lookup behind training-data
    * label joins ("what did we know at prediction time"), where a naive
    * latest-value join silently leaks the future.
    *
    * Distributed shape: dimension build is one user-keyed window pass;
    * the temporal join is a user-keyed EQUI-join with the interval
    * containment as a post-join filter — intervals per user are
    * disjoint, so no row explosion, and both sides share the user_id
    * partitioning (no extra shuffle between build and join). A range/
    * banded join is unnecessary when the equi-key already bounds the
    * candidate set. */
  def temporalDimJoin(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = e.filter(col("event_type") =!= "purchase")
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val byVersion = Window.partitionBy(col("d_user")).orderBy(col("version"))
    val dim = runs.groupBy(col("user_id").as("d_user"), col("version"),
        col("event_type").as("state"))
      .agg(min(col("ts")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    facts.join(dim,
        facts("user_id") === dim("d_user") &&
          facts("ts") >= dim("valid_from") &&
          (dim("valid_to").isNull || facts("ts") < dim("valid_to")),
        "left")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("string").as("ts"),
        col("state").as("state_at_purchase"), col("version"))
      .orderBy("event_id")
  }

  // --- q244: interval self-overlap statistics via sweep-line ------------

  /** q244 — interval self-overlap statistics WITHOUT the overlap join:
    * the fact-to-fact inequality join (`a.start < b.end AND b.start <
    * a.end`) has inherently quadratic OUTPUT, so any operator that
    * enumerates the pairs is output-bound no matter how it is joined
    * (a tiled equi-join prototype of this query measured 18.6 s at
    * sf0.1 on 27M pairs — 100× more at 10×). Every statistic the
    * pipeline actually wants is computable by a SWEEP instead:
    *
    *  - n_pairs: at each interval START, the number of currently-open
    *    intervals joins it — a running sum over ±1 boundary events
    *    (ends sort before starts: intervals are half-open [sd, ed)).
    *  - overlap_days: Σ_day C(active_day, 2) over the day grid — each
    *    pair contributes exactly its shared-day count.
    *  - max_concurrency: max running active count at a start.
    *
    * The oracle computes the SAME three numbers by the brute-force
    * inequality join (DuckDB IEJoin) — matching hashes prove the
    * O(n log n) sweep decomposition exactly equals the O(n²) join.
    *
    * Scale (100 TB): boundary events are 2 rows per interval, the
    * sweep is one window pass per priority partition (parallel across
    * priorities; at higher cardinality the partition key is the
    * natural shard); the day grid is ≤ len rows per interval,
    * collapsing map-side to |calendar| cells. Nothing quadratic
    * anywhere — the join Spark would brute-force is gone entirely. */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = EtlOps.t(s, dir, "orders").selectExpr(
      "o_orderkey AS k", "o_orderpriority AS prio",
      "CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS sd",
      "CAST(datediff(o_orderdate, DATE '1995-01-01') " +
        "+ o_orderkey % 28 + 1 AS BIGINT) AS ed")
    // boundary events: kind 0 = end (−1), kind 1 = start (+1); ends
    // sort first so a pair touching only at the boundary never counts
    val ev = iv.selectExpr("prio", "sd AS t", "1 AS kind", "k",
        "CAST(1 AS BIGINT) AS delta")
      .unionAll(iv.selectExpr("prio", "ed AS t", "0 AS kind", "k",
        "CAST(-1 AS BIGINT) AS delta"))
    val wPrev = Window.partitionBy("prio")
      .orderBy(col("t"), col("kind"), col("k"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val swept = ev.withColumn("active_before",
      coalesce(sum(col("delta")).over(wPrev), lit(0L)))
    val pairStats = swept.filter(col("kind") === 1)
      .groupBy("prio").agg(
        sum(col("active_before")).as("n_pairs"),
        (max(col("active_before")) + 1L).as("max_concurrency"))
    val dayCells = iv
      .select(col("prio"), explode(expr("sequence(sd, ed - 1)"))
        .as("day"))
      .groupBy("prio", "day").agg(count(lit(1)).as("a"))
    val odays = dayCells.groupBy("prio")
      .agg(sum(expr("a * (a - 1) div 2")).as("overlap_days"))
    pairStats.join(odays, "prio")
      .selectExpr("prio", "n_pairs",
        "CAST(overlap_days AS BIGINT) AS overlap_days",
        "max_concurrency")
      .orderBy("prio")
  }

  def intervalOverlapOracle: String =
    s"""WITH iv AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
       |    CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
       |      AS BIGINT) AS sd,
       |    CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
       |      + o_orderkey % 28 + 1 AS BIGINT) AS ed
       |  FROM orders),
       |p AS (SELECT a.prio, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(least(a.ed, b.ed) - greatest(a.sd, b.sd))
       |      AS BIGINT) AS overlap_days
       |  FROM iv a JOIN iv b ON a.prio = b.prio AND a.k < b.k
       |    AND a.sd < b.ed AND b.sd < a.ed
       |  GROUP BY 1),
       |mc AS (SELECT prio, CAST(max(cnt) AS BIGINT)
       |    AS max_concurrency
       |  FROM (SELECT a.prio, a.k, count(*) AS cnt
       |    FROM iv a JOIN iv b ON a.prio = b.prio
       |      AND b.sd <= a.sd AND a.sd < b.ed
       |    GROUP BY a.prio, a.k)
       |  GROUP BY prio)
       |SELECT p.prio AS prio, n_pairs, overlap_days, max_concurrency
       |FROM p JOIN mc ON mc.prio = p.prio
       |ORDER BY prio""".stripMargin
}
