package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profiling / multi-level aggregation operators — the data-quality side
  * of a training-data pipeline (generalizing the reference's freshness
  * monitor from one metric to whole-table profiles).
  */
object ProfileOps {

  import EtlOps.t

  /** q40 — corpus stats at every rollup level (lang × source): one pass,
    * grouping-set expansion handled by Spark's Expand operator — no
    * multiple scans. NULL level markers are coalesced to '<all>' so the
    * output is sort-stable across engines. */
  def rollupStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .rollup(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping_id().cast("bigint").as("lvl"))
      .select(
        coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("total_chars"), col("lvl"))
      .orderBy("lang", "source")

  /** q41 — per-column table profile: count / nulls / distincts / min /
    * max for a column set, one aggregate pass per column group, unioned.
    * Values stringified for a uniform schema (the usual profile-table
    * shape). */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def prof(c: String): DataFrame =
      li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_v"),
        max(col(c)).cast("string").as("max_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_v"), col("max_v"))
    prof("l_quantity")
      .unionAll(prof("l_returnflag"))
      .unionAll(prof("l_discount"))
      .orderBy("col_name")
  }

  /** q42 — approximate distinct-count + quantile sketches under a HARD
    * oracle gate (q60's pattern, extended to the quantile sketch). The
    * sketches (HLL, GK-quantile) are the 100 TB substitutes for exact
    * countDistinct / global sort; their raw values are engine-specific,
    * so the oracle-checked output is the accuracy CONTRACT instead:
    *
    *  - `supp_within_3sigma`: the HLL estimate of distinct l_suppkey
    *    sits within 15% (3σ at the default rsd = 0.05) of the exact
    *    count — a column q60 doesn't cover.
    *  - `median_in_bounds`: `percentile_approx(l_extendedprice, 0.5,
    *    1000)` lands between the EXACT discrete p40 and p60 values.
    *    The sketch guarantees rank error ≤ n/1000, so the bound holds
    *    for ANY merge order of partial sketches — the boolean is
    *    stable even though the sketch value itself may vary with
    *    partitioning.
    *
    * The exact anchors (row count, exact distinct, exact rank-picked
    * p40/p60) are emitted alongside and hash-compared. Rank-picking is
    * pure integer arithmetic on the global rank ordered by value — the
    * value AT a rank is deterministic under ties — so both engines
    * select the identical parquet double: bit parity without tolerance.
    * The exact-rank verifier side runs through the q114 distributed
    * global rank (range partition + offsets — no single-partition
    * window anywhere); the sketch path (one map-combinable aggregate)
    * is what runs at 100 TB. */
  def approxStats(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val agg = li.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_suppkey")).as("exact_supp"),
      approx_count_distinct(col("l_suppkey")).as("approx_supp"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
        .as("amed"))
    // exact p40/p60 via the q114 distributed global rank — a plain
    // row_number() OVER (ORDER BY v) funnels the whole table through
    // one partition at scale
    val ranked = ScaleOps.withGlobalRank(
      li.select(col("l_extendedprice").as("v")), "rn", col("v"))
    ranked.crossJoin(broadcast(agg))
      .agg(
        max(col("n_rows")).as("n_rows"),
        max(col("exact_supp")).as("exact_supp"),
        max(col("approx_supp")).as("approx_supp"),
        max(col("amed")).as("amed"),
        min(when(col("rn") === floor((col("n_rows") - 1) * 0.4) + 1,
          col("v"))).as("p40"),
        min(when(col("rn") === floor((col("n_rows") - 1) * 0.6) + 1,
          col("v"))).as("p60"))
      .select(
        col("n_rows"), col("exact_supp"), col("p40"), col("p60"),
        (abs(col("approx_supp") - col("exact_supp")) <=
          col("exact_supp") * 0.15).as("supp_within_3sigma"),
        (col("amed") >= col("p40") && col("amed") <= col("p60"))
          .as("median_in_bounds"))
  }

  /** Accuracy parameters swept by the q329 audit (Spark's
    * percentile_approx guarantees relative RANK error <= 1/accuracy). */
  val QuantAccuracies = Seq(50, 200, 1000, 10000)

  /** q329 — approximate-quantile accuracy audit: sweep
    * percentile_approx's accuracy knob and check each estimate against
    * its CONTRACTUAL rank window — the exact values at ranks
    * median +/- ceil(n/accuracy), computed distributively via the q114
    * global rank. q42 spot-checks one sketch at one setting; this is
    * the sizing curve: the smallest accuracy whose bounds are still
    * tight enough is the memory knob a 100 TB profiling pass should
    * run at (sketch memory grows with accuracy; rank error shrinks).
    *
    * Parity: ranks, tolerances and bound VALUES are exact (integer
    * rank algebra + order statistics the oracle replays with a plain
    * window); the sketch estimate itself is engine-specific, so the
    * output carries the exact bounds and the boolean contract verdict
    * (oracle: literal TRUE — the q60 pattern), never the estimate.
    *
    * Scale (100 TB): one pass for the four sketches (one aggregate),
    * one range-partitioned rank pass for the bounds; the bound lookup
    * joins a broadcast 4-row grid against three ranks per accuracy. */
  def quantileAccuracy(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
    val nRow = li.agg(count(lit(1)).as("n"))
    val apxCols = QuantAccuracies.map(a =>
      percentile_approx(col("v"), lit(0.5), lit(a)).as(s"apx_$a"))
    val apxRow = li.agg(apxCols.head, apxCols.tail: _*)
    val ranked = ScaleOps.withGlobalRank(li, "rn", col("v"))
    val accArr = array(QuantAccuracies.map(a => lit(a.toLong)): _*)
    val grid = nRow.select(explode(accArr).as("accuracy"), col("n"))
      .withColumn("tol", expr("(n + accuracy - 1) div accuracy"))
      .withColumn("k_med", expr("(n + 1) div 2"))
      .withColumn("k_lo", greatest(lit(1L), expr("k_med - tol")))
      .withColumn("k_hi", least(col("n"), expr("k_med + tol")))
    val pts = ranked.join(broadcast(grid),
        col("rn") === col("k_lo") || col("rn") === col("k_med") ||
          col("rn") === col("k_hi"))
      .groupBy("accuracy")
      .agg(min(when(col("rn") === col("k_lo"), col("v"))).as("lo_v"),
        min(when(col("rn") === col("k_med"), col("v"))).as("exact_med"),
        max(when(col("rn") === col("k_hi"), col("v"))).as("hi_v"),
        min(col("tol")).as("rank_tol"))
    val apxCase = "CASE " + QuantAccuracies
      .map(a => s"WHEN accuracy = $a THEN apx_$a").mkString(" ") + " END"
    pts.crossJoin(broadcast(apxRow))
      .withColumn("apx", expr(apxCase))
      .select(col("accuracy"), col("rank_tol"), col("exact_med"),
        col("lo_v"), col("hi_v"),
        (col("apx") >= col("lo_v") && col("apx") <= col("hi_v"))
          .as("approx_in_bounds"))
      .orderBy("accuracy")
  }

  def quantileAccuracyOracle: String = {
    val accList = QuantAccuracies.mkString("[", ", ", "]")
    s"""WITH nn AS (SELECT count(*) AS n FROM lineitem),
       |r AS (SELECT l_extendedprice AS v,
       |    row_number() OVER (ORDER BY l_extendedprice) AS rn
       |  FROM lineitem),
       |g0 AS (SELECT CAST(unnest($accList) AS BIGINT) AS accuracy),
       |g1 AS (SELECT accuracy, (n + accuracy - 1) // accuracy AS tol,
       |    (n + 1) // 2 AS k_med, n FROM g0, nn),
       |g2 AS (SELECT accuracy, tol, greatest(1, k_med - tol) AS k_lo,
       |    k_med, least(n, k_med + tol) AS k_hi FROM g1),
       |pts AS (SELECT accuracy,
       |    min(CASE WHEN rn = k_lo THEN v END) AS lo_v,
       |    min(CASE WHEN rn = k_med THEN v END) AS exact_med,
       |    max(CASE WHEN rn = k_hi THEN v END) AS hi_v,
       |    min(tol) AS rank_tol
       |  FROM r JOIN g2 ON rn = k_lo OR rn = k_med OR rn = k_hi
       |  GROUP BY accuracy)
       |SELECT accuracy, rank_tol, exact_med, lo_v, hi_v,
       |  TRUE AS approx_in_bounds
       |FROM pts ORDER BY accuracy""".stripMargin
  }

  /** q60 — sketch-accuracy contract: exact distinct counts plus booleans
    * asserting the HLL estimates sit within 3σ (15% at the default
    * rsd=0.05). The oracle computes the exact counts and literal TRUEs —
    * so the correctness gate now also fails if a sketch regression
    * pushes the estimate out of bounds, without requiring the engines'
    * sketches to agree bit-for-bit (they can't; that part stays q42's
    * rows-only check). HLL is deterministic given the data, so the
    * booleans are stable per scale factor. */
  def sketchAccuracy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey")).as("ap"),
        approx_count_distinct(col("l_orderkey")).as("ao"))
      .select(
        col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")) <=
          col("exact_parts") * 0.15).as("parts_within_3sigma"),
        (abs(col("ao") - col("exact_orders")) <=
          col("exact_orders") * 0.15).as("orders_within_3sigma"))

  // --- q117: space-saving heavy hitters ---------------------------------

  /** Sketch capacity for q117; the guarantee threshold is N/capacity. */
  val HeavyCap = 64

  /** q117 — heavy-hitter detection via the native Space-Saving
    * aggregate ([[graft.functions.SpaceSavingAgg]]): O(capacity)
    * counters per partition, associatively merged partials, no full
    * (key → count) aggregation — the sketch that finds hot keys on a
    * 100 TB scan where the exact group-by is itself the skew hazard.
    * The probe key floor(√(event_id mod 10000)) has linearly skewed
    * frequencies (key v occurs 2v+1 times per 10k rows), so real heavy
    * hitters exist at every sf.
    *
    * Like q60, the gate pins the sketch's CONTRACT, not its internals
    * (counter values depend on merge order): every key with true count
    * > N/capacity must be tracked, and every tracked estimate must
    * satisfy true ≤ est ≤ true + err. The oracle recomputes the exact
    * scalars and expects the guarantee booleans to be literally TRUE. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val keyed = EtlOps.events(s, dir)
      .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("k"))
      .persist()
    val sketch = keyed
      .agg(expr(s"space_saving_agg(k, $HeavyCap)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e")(0).as("k"), col("e")(1).as("est"),
        col("e")(2).as("err"))
    val exact = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
    val total = keyed.count()
    val joined = sketch.join(exact, Seq("k"), "left").persist()
    val boundsOk = joined
      .agg(min(col("cnt").isNotNull &&
        col("est") >= col("cnt") && col("est") - col("err") <= col("cnt"))
        .as("ok"))
    val heavy = exact.filter(col("cnt") * HeavyCap > total)
    val heavyTracked = heavy.join(sketch, Seq("k"), "left_anti").count() == 0
    val nHeavy = heavy.count()
    boundsOk.select(
      lit(total).as("n_rows"),
      lit(joined.count()).as("n_tracked"),
      lit(nHeavy).as("n_heavy"),
      lit(heavyTracked).as("all_heavy_tracked"),
      col("ok").as("all_bounds_hold"))
  }

  // --- q175: Count-Min frequency audit ----------------------------------

  /** CMS geometry: depth hash rows × width counters. Width 64 against
    * 100 distinct probe keys FORCES collisions at every sf, so the
    * audit exercises real overestimates, not the happy path. */
  val CmsDepth = 4
  val CmsWidth = 64

  /** q175 — Count-Min sketch frequency audit over the native
    * [[graft.functions.CountMinAgg]]: build the depth×width counter
    * matrix in one aggregate over the skewed q117 probe key, then
    * compare every key's CMS point estimate (min of its depth
    * counters) against its exact count. Complements q117: Space-Saving
    * answers "which keys are heavy", CMS answers "how often is ANY
    * given key" in O(depth·width) memory — the pair is the standard
    * streaming frequency toolkit.
    *
    * Unlike q60/q117 (contract-gated because sketch internals depend
    * on merge order), CMS counters are plain per-cell sums —
    * merge-order INDEPENDENT — so the DuckDB oracle rebuilds the same
    * matrix in SQL from the same md5-derived hashes and the estimates
    * match EXACTLY, cell for cell. `within_bound` additionally pins
    * the analytic guarantee est ≤ true + 3N/width (ε = e/width).
    *
    * Scale (100 TB): the sketch is one map-combinable aggregate with
    * O(1) state per partition — the frequency profile that never
    * shuffles the key stream; the exact side exists only to audit it
    * (and is itself a 100-group aggregate here). */
  def countMinAudit(s: SparkSession, dir: String): DataFrame = {
    val keyed = EtlOps.events(s, dir)
      .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("k"))
    def idx = array((0 until CmsDepth).map(j =>
      call_function("md5_fp60",
        concat(lit(s"$j:"), col("k").cast("string"))) % CmsWidth): _*)
    val sk = keyed.withColumn("hs", idx)
      .agg(expr(s"count_min_agg(hs, $CmsDepth, $CmsWidth)").as("cm"))
    val exact = keyed.groupBy("k").agg(count(lit(1)).as("exact_n"))
    val tot = keyed.agg(count(lit(1)).as("n_total"))
    exact.crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
      .withColumn("hs", idx)
      .withColumn("est", least((0 until CmsDepth).map(j =>
        expr(s"cm[CAST($j * $CmsWidth + hs[$j] AS INT)]")): _*))
      .select(col("k"), col("exact_n"), col("est"),
        (col("est") - col("exact_n")).as("overestimate"),
        ((col("est") - col("exact_n")) * CmsWidth <= lit(3) * col("n_total"))
          .as("within_bound"))
      .orderBy("k")
  }

  def countMinAuditOracle: String = {
    val hash = (j: String, k: String) =>
      s"CAST('0x' || substr(md5(CAST($j AS VARCHAR) || ':' || " +
        s"CAST($k AS VARCHAR)), 1, 15) AS BIGINT) % $CmsWidth"
    s"""WITH k AS (SELECT CAST(floor(sqrt(event_id % 10000)) AS BIGINT)
       |    AS k FROM events),
       |j AS (SELECT unnest(range(0, $CmsDepth)) AS j),
       |h AS (SELECT k.k, j.j, ${hash("j.j", "k.k")} AS hh FROM k, j),
       |counters AS (SELECT j, hh, count(*) AS c FROM h GROUP BY j, hh),
       |exact AS (SELECT k, count(*) AS exact_n FROM k GROUP BY k),
       |keys AS (SELECT DISTINCT k FROM k),
       |kh AS (SELECT keys.k, j.j, ${hash("j.j", "keys.k")} AS hh
       |  FROM keys, j),
       |est AS (SELECT kh.k, CAST(min(c.c) AS BIGINT) AS est
       |  FROM kh JOIN counters c ON kh.j = c.j AND kh.hh = c.hh
       |  GROUP BY kh.k),
       |tot AS (SELECT count(*) AS n FROM k)
       |SELECT e.k, e.exact_n, est.est,
       |  est.est - e.exact_n AS overestimate,
       |  (est.est - e.exact_n) * $CmsWidth <= 3 * tot.n AS within_bound
       |FROM exact e JOIN est USING (k) CROSS JOIN tot
       |ORDER BY e.k""".stripMargin
  }

  // --- q186: referential-integrity (FK orphan) audit ---------------------

  /** q186 — FK orphan audit over the star schema: for each child→parent
    * edge, how many child rows reference a parent that is not there.
    * The data-quality gate a warehouse runs before trusting any join —
    * a silent orphan population turns inner joins into row loss and
    * left joins into null fan-in. A deterministic in-query outage mask
    * (drop parents with key ≡ 0 mod 50) plants orphans the TPC-H-ish
    * fixture doesn't have, so the audit exercises real violations.
    *
    * Shape: each edge is one left anti join of the child's DISTINCT
    * key set (collapsed map-side first — the anti join ships distinct
    * keys, not child rows) against the parent key set, plus one exact
    * child count. All integers.
    *
    * Scale (100 TB): the child side collapses to its distinct FK set
    * before any join; parent key sets broadcast when small (dims) and
    * shuffle on the key otherwise (orders) — never the fact rows. */
  def fkOrphans(s: SparkSession, dir: String): DataFrame = {
    def audit(label: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val keys = child.select(col(key).as("k"))
      val par = parent.select(col(pkey).as("k"))
        .filter(col("k") % 50 =!= 0) // planted missing parents
      val perKey = keys.groupBy("k").agg(count(lit(1)).as("n"))
      val orphans = perKey.join(par, Seq("k"), "left_anti")
      val tot = perKey.agg(sum(col("n")).as("n_child"),
        count(lit(1)).as("n_keys"))
      val orph = orphans.agg(
        coalesce(sum(col("n")), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
      tot.crossJoin(orph)
        .select(lit(label).as("fk"), col("n_child"), col("n_keys"),
          col("n_orphan_rows"), col("n_orphan_keys"),
          round(col("n_orphan_rows").cast("double") /
            col("n_child").cast("double"), 6).as("orphan_rate"))
    }
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    audit("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
      .unionAll(audit("lineitem.l_partkey->part", li, "l_partkey",
        t(s, dir, "part"), "p_partkey"))
      .unionAll(audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .unionAll(audit("orders.o_custkey->customer", o, "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .orderBy("fk")
  }

  def fkOrphansOracle: String = {
    def one(label: String, child: String, key: String, parent: String,
        pkey: String) =
      s"""SELECT '$label' AS fk,
         |  CAST(sum(n) AS BIGINT) AS n_child,
         |  count(*) AS n_keys,
         |  CAST(sum(CASE WHEN orphan THEN n ELSE 0 END) AS BIGINT)
         |    AS n_orphan_rows,
         |  CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphan_keys,
         |  round(CAST(sum(CASE WHEN orphan THEN n ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(n) AS DOUBLE), 6) AS orphan_rate
         |FROM (SELECT c.$key AS k, count(*) AS n,
         |    max(p.$pkey) IS NULL AS orphan
         |  FROM $child c LEFT JOIN
         |    (SELECT $pkey FROM $parent WHERE $pkey % 50 <> 0) p
         |    ON c.$key = p.$pkey
         |  GROUP BY c.$key)""".stripMargin
    Seq(
      one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      one("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      one("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      one("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
  }

  // --- q199: deletion-impact (right-to-be-forgotten) audit ---------------

  /** Deterministic deletion cohort: every customer / user whose id is
    * ≡ 0 mod [[DelMod]] has requested erasure. */
  val DelMod = 97

  /** q199 — deletion-impact audit: before executing a
    * right-to-be-forgotten batch, price its blast radius — for each
    * table, how many rows the erasure touches, following the FK
    * cascade (customer → orders → lineitem; user → events). The
    * compliance dry-run a warehouse executes to size the rewrite and
    * to prove, post-deletion, that the same query returns zeros.
    *
    * Shape: the deletion cohort is a key-set semi-join at every hop —
    * orders carries o_custkey directly; lineitem inherits through the
    * DISTINCT affected order-key set (the q186 collapse-before-join
    * rule); events matches on user_id. All integers + one rate
    * division.
    *
    * Scale (100 TB): each fact table pays one scan + a semi join
    * against a key set that is 1/[[DelMod]] of its dimension. The key
    * sets are SF-proportional, so the semi joins carry NO forced
    * broadcast hint — stats/AQE broadcast them while they fit the
    * threshold and fall back to a shuffled semi join past it. */
  def deletionImpact(s: SparkSession, dir: String): DataFrame = {
    def row(label: String, tbl: DataFrame, affected: DataFrame): DataFrame = {
      val tot = tbl.agg(count(lit(1)).as("n_rows"))
      val aff = affected.agg(count(lit(1)).as("n_affected"))
      tot.crossJoin(aff)
        .select(lit(label).as("tbl"), col("n_rows"), col("n_affected"),
          round(col("n_affected").cast("double") /
            col("n_rows").cast("double"), 6).as("affected_frac"))
    }
    val cust = t(s, dir, "customer")
    val delCust = cust.filter(col("c_custkey") % DelMod === 0)
      .select(col("c_custkey"))
    val orders = t(s, dir, "orders")
    val delOrders = orders.join(delCust,
      orders("o_custkey") === delCust("c_custkey"), "left_semi")
    val delOrderKeys = delOrders.select(col("o_orderkey")).distinct()
    val li = t(s, dir, "lineitem")
    val delLi = li.join(delOrderKeys,
      li("l_orderkey") === delOrderKeys("o_orderkey"), "left_semi")
    val ev = EtlOps.events(s, dir)
    val delEv = ev.filter(col("user_id") % DelMod === 0)
    row("customer", cust, delCust)
      .unionAll(row("orders", orders, delOrders))
      .unionAll(row("lineitem", li, delLi))
      .unionAll(row("events", ev, delEv))
      .orderBy("tbl")
  }

  def deletionImpactOracle: String =
    s"""WITH delc AS (SELECT c_custkey FROM customer
       |  WHERE c_custkey % $DelMod = 0),
       |delo AS (SELECT o_orderkey FROM orders
       |  WHERE o_custkey IN (SELECT c_custkey FROM delc)),
       |rows_t AS (
       |  SELECT 'customer' AS tbl, (SELECT count(*) FROM customer) AS n_rows,
       |    (SELECT count(*) FROM delc) AS n_affected
       |  UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
       |    (SELECT count(*) FROM delo)
       |  UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
       |    (SELECT count(*) FROM lineitem
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
       |  UNION ALL SELECT 'events', (SELECT count(*) FROM events),
       |    (SELECT count(*) FROM events WHERE user_id % $DelMod = 0))
       |SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(n_affected AS BIGINT) AS n_affected,
       |  round(CAST(n_affected AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
       |    AS affected_frac
       |FROM rows_t ORDER BY tbl""".stripMargin

  // --- q187: declarative data-contract audit -----------------------------

  /** q187 — data-contract audit: a declared contract set (not-null,
    * range, enum membership, key uniqueness, JSON-shape) evaluated
    * against the star schema in one conditional-aggregate pass per
    * table. The publish gate a data platform runs before a snapshot is
    * released to consumers — contracts the fixture genuinely violates
    * (l_quantity ≤ 45, l_discount ≤ 0.08, (l_orderkey, l_linenumber)
    * uniqueness) surface as non-zero violation counts alongside the
    * passing ones, so the audit is exercised on both outcomes.
    *
    * Shape: all contracts for a table compile into ONE aggregate row
    * (sums of violation indicators + a count-distinct for the key
    * contract), unpivoted by a `stack` generator — the table is
    * scanned once no matter how many contracts it carries, and the
    * aggregate collapses map-side. Generalizes the reference's
    * single-purpose existence/freshness gates
    * (check_bucket_latest_folders.py) to contracts-as-data.
    *
    * Parity: all integers except the final rate (one division).
    *
    * Scale (100 TB): per table one scan + one 1-row aggregate; the
    * count-distinct key contract is the only exchange (distinct
    * partials collapse map-side first). Adding a contract adds a
    * column to the partial, not a pass. */
  def contractAudit(s: SparkSession, dir: String): DataFrame = {
    def audit(tbl: DataFrame, rowRules: Seq[(String, Column)],
        unique: Seq[(String, Seq[String])]): DataFrame = {
      val aggs =
        rowRules.zipWithIndex.map { case ((_, bad), k) =>
          sum(when(bad, 1L).otherwise(0L)).as(s"v_$k") } ++
        unique.zipWithIndex.map { case ((_, ks), k) =>
          (count(lit(1)) - countDistinct(ks.head, ks.tail: _*))
            .as(s"v_${rowRules.size + k}") }
      val one = tbl.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val pairs = (rowRules.map(_._1) ++ unique.map(_._1)).zipWithIndex
        .map { case (id, k) => s"'$id', v_$k" }.mkString(", ")
      val n = rowRules.size + unique.size
      one.select(col("n_rows"),
        expr(s"stack($n, $pairs) AS (contract, n_violations)"))
    }
    val li = audit(t(s, dir, "lineitem"), Seq(
      "CT01|lineitem|l_quantity|range[1,45]" ->
        !col("l_quantity").between(1d, 45d),
      "CT02|lineitem|l_discount|range[0,0.08]" ->
        !col("l_discount").between(0d, 0.08),
      "CT03|lineitem|l_tax|range[0,0.08]" ->
        !col("l_tax").between(0d, 0.08),
      "CT04|lineitem|l_returnflag|enum{A,N,R}" ->
        !col("l_returnflag").isin("A", "N", "R"),
      "CT05|lineitem|l_orderkey|not_null" -> col("l_orderkey").isNull),
      Seq("CT06|lineitem|l_orderkey,l_linenumber|unique" ->
        Seq("l_orderkey", "l_linenumber")))
    val o = audit(t(s, dir, "orders"), Seq(
      "CT07|orders|o_totalprice|range(0,500000]" ->
        !(col("o_totalprice") > 0d && col("o_totalprice") <= 500000d),
      "CT08|orders|o_orderstatus|enum{P,O,F}" ->
        !col("o_orderstatus").isin("P", "O", "F"),
      "CT09|orders|o_orderdate|not_null" -> col("o_orderdate").isNull),
      Seq("CT10|orders|o_orderkey|unique" -> Seq("o_orderkey")))
    val ev = audit(EtlOps.events(s, dir), Seq(
      "CT11|events|value|range[0,500]" -> !col("value").between(0d, 500d),
      "CT12|events|props|json_has_k" ->
        get_json_object(col("props"), "$.k").isNull),
      Seq("CT13|events|event_id|unique" -> Seq("event_id")))
    li.unionAll(o).unionAll(ev)
      .select(split(col("contract"), "\\|").getItem(0).as("contract_id"),
        split(col("contract"), "\\|").getItem(1).as("tbl"),
        split(col("contract"), "\\|").getItem(2).as("col_name"),
        split(col("contract"), "\\|").getItem(3).as("rule"),
        col("n_rows"), col("n_violations"),
        round(col("n_violations").cast("double") /
          col("n_rows").cast("double"), 6).as("violation_rate"),
        (col("n_violations") === 0L).as("ok"))
      .orderBy("contract_id")
  }

  def contractAuditOracle: String = {
    def block(tbl: String, nRows: String,
        rules: Seq[(String, String)]): String = {
      val cols = rules.map { case (id, v) =>
        s"$v AS \"v_$id\"" }.mkString(",\n    ")
      val sel = rules.map { case (id, _) =>
        s"""SELECT '$id' AS contract, n_rows, "v_$id" AS n_violations
           |FROM agg_$tbl""".stripMargin }
      s"""agg_$tbl AS (SELECT count(*) AS n_rows,
         |    $cols
         |  FROM $nRows),
         |un_$tbl AS (${sel.mkString("\nUNION ALL\n")})""".stripMargin
    }
    val li = block("lineitem", "lineitem", Seq(
      "CT01|lineitem|l_quantity|range[1,45]" ->
        "CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 45) THEN 1 ELSE 0 END) AS BIGINT)",
      "CT02|lineitem|l_discount|range[0,0.08]" ->
        "CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.08) THEN 1 ELSE 0 END) AS BIGINT)",
      "CT03|lineitem|l_tax|range[0,0.08]" ->
        "CAST(sum(CASE WHEN NOT (l_tax BETWEEN 0 AND 0.08) THEN 1 ELSE 0 END) AS BIGINT)",
      "CT04|lineitem|l_returnflag|enum{A,N,R}" ->
        "CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)",
      "CT05|lineitem|l_orderkey|not_null" ->
        "CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)",
      "CT06|lineitem|l_orderkey,l_linenumber|unique" ->
        "count(*) - count(DISTINCT (l_orderkey, l_linenumber))"))
    val o = block("orders", "orders", Seq(
      "CT07|orders|o_totalprice|range(0,500000]" ->
        "CAST(sum(CASE WHEN NOT (o_totalprice > 0 AND o_totalprice <= 500000) THEN 1 ELSE 0 END) AS BIGINT)",
      "CT08|orders|o_orderstatus|enum{P,O,F}" ->
        "CAST(sum(CASE WHEN o_orderstatus NOT IN ('P','O','F') THEN 1 ELSE 0 END) AS BIGINT)",
      "CT09|orders|o_orderdate|not_null" ->
        "CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)",
      "CT10|orders|o_orderkey|unique" ->
        "count(*) - count(DISTINCT o_orderkey)"))
    val ev = block("events", "events", Seq(
      "CT11|events|value|range[0,500]" ->
        "CAST(sum(CASE WHEN NOT (value BETWEEN 0 AND 500) THEN 1 ELSE 0 END) AS BIGINT)",
      "CT12|events|props|json_has_k" ->
        "CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT)",
      "CT13|events|event_id|unique" ->
        "count(*) - count(DISTINCT event_id)"))
    s"""WITH $li,
       |$o,
       |$ev,
       |allc AS (SELECT * FROM un_lineitem
       |  UNION ALL SELECT * FROM un_orders
       |  UNION ALL SELECT * FROM un_events)
       |SELECT string_split(contract, '|')[1] AS contract_id,
       |  string_split(contract, '|')[2] AS tbl,
       |  string_split(contract, '|')[3] AS col_name,
       |  string_split(contract, '|')[4] AS rule,
       |  n_rows, n_violations,
       |  round(CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
       |    AS violation_rate,
       |  n_violations = 0 AS ok
       |FROM allc ORDER BY contract_id""".stripMargin
  }

  // --- q87: equi-width histogram ----------------------------------------

  val HistBins = 10

  /** q87 — per-group equi-width histogram: [[HistBins]] bins over each
    * event type's value range, with bin bounds derived from the group's
    * min/max. Two passes over the fact table, zero shuffles of it: the
    * per-type min/max aggregate is map-side-partial and tiny, broadcast
    * back for binning, and the (type, bin) count aggregate has ≤
    * types×bins groups. The profile histogram every data-quality
    * dashboard draws, at any scale.
    *
    * Parity: bin = least(9, floor((v−min)/(max−min)·10)) is one fixed
    * op order; Spark's floor(double) is already LONG, DuckDB's stays
    * DOUBLE until the integral-exact BIGINT cast; bounds are per-row
    * double arithmetic with identical order. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir).select(col("event_type"), col("value"))
    val stats = e.groupBy("event_type")
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val binned = e.join(broadcast(stats), "event_type")
      .withColumn("bin",
        when(col("vmax") === col("vmin"), 0L)
          .otherwise(least(lit((HistBins - 1).toLong),
            expr(s"CAST(floor((value - vmin) / (vmax - vmin) * $HistBins.0) AS BIGINT)"))))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"))
    binned.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("bin"),
        (col("vmin") + col("bin") * ((col("vmax") - col("vmin")) / HistBins))
          .as("bin_lo"),
        (col("vmin") + (col("bin") + 1) * ((col("vmax") - col("vmin")) / HistBins))
          .as("bin_hi"),
        col("cnt"))
      .orderBy("event_type", "bin")
  }

  // --- q92: equi-depth histogram ----------------------------------------

  val DepthBuckets = 8

  /** q92 — equi-depth (equal-frequency) histogram per event type:
    * [[DepthBuckets]] buckets of (nearly) equal row count with their
    * value ranges — the complement of q87's equi-width bins, and the
    * boundary structure a query optimizer's column statistics actually
    * store. Bucket assignment is pure integer rank arithmetic
    * (bucket = (rn−1)·B div n), so both engines place every row
    * identically — no float interpolation, no engine quantile semantics.
    * One windowed rank pass per group (partition-parallel), one
    * aggregate. */
  /** Hot-key ratio above which a key column is flagged for salting. */
  val SkewFactor = 4.0

  /** q100 — join-key skew advisor: for each candidate shuffle key,
    * the cardinality profile that decides the physical plan at 100 TB —
    * row count, distinct keys, the hottest key's row count, and the
    * hot ratio max_cnt/(rows/keys). A ratio ≫ 1 says one reducer
    * drowns and the key needs salting (q38/q53) or AQE skew handling;
    * ≈ 1 says hash partitioning balances. This is the measurement
    * behind every "should I salt?" decision, run as ONE aggregate pair
    * per key column (both map-side-partial).
    *
    * Parity: the ratio is (max_cnt · n_keys) / n_rows — BIGINT products
    * then one float division, so no intermediate rounding. */
  def skewAdvisor(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, c: String, label: String): DataFrame =
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"))
        .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_cnt"),
          ((col("max_cnt") * col("n_keys")) / col("n_rows"))
            .as("hot_ratio"))
        .withColumn("needs_salt", col("hot_ratio") > SkewFactor)
    val li = EtlOps.t(s, dir, "lineitem")
    val ev = EtlOps.events(s, dir)
    audit(li, "l_orderkey", "lineitem.l_orderkey")
      .unionAll(audit(li, "l_suppkey", "lineitem.l_suppkey"))
      .unionAll(audit(li, "l_partkey", "lineitem.l_partkey"))
      .unionAll(audit(ev, "user_id", "events.user_id"))
      .unionAll(audit(ev, "event_type", "events.event_type"))
      .orderBy("key_col")
  }

  def equiDepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    EtlOps.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).cast("bigint").as("rn"),
        count(lit(1)).over(wAll).as("n"))
      .withColumn("bucket", expr(s"(rn - 1) * $DepthBuckets div n"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy("event_type", "bucket")
  }

  // --- q126: per-source token-distribution drift ------------------------

  /** q126 — mixture drift audit: for every source, the total-variation
    * distance ½·Σ_token |p_source(token) − p_corpus(token)| between its
    * token distribution and the corpus-wide one, over the FULL corpus
    * vocabulary (tokens absent from a source contribute their corpus
    * mass). The per-source complement of q123: OOV says "the vocabulary
    * doesn't cover this source"; drift says "this source's distribution
    * is unlike the mixture" — the check run before reweighting or
    * dropping a source from a training mix.
    *
    * Scale (100 TB): two token aggregates (map-combinable), then a
    * vocabulary-sized grid per source — |sources| is small and the
    * corpus side is the aggregated VOCABULARY, not the token stream.
    * Parity: each |p−q| term is one fixed-order double expression,
    * pushed through floor(x·10⁹) BIGINT fixed-point before the sum, so
    * the aggregate is order-independent and bit-identical across
    * engines (the ClusterOps technique). */
  def sourceDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val corpus = tok.groupBy("token").agg(count(lit(1)).as("cc"))
    val srcTotals = tok.groupBy("source").agg(count(lit(1)).as("ts"))
    val srcCnt = tok.groupBy("source", "token").agg(count(lit(1)).as("cs"))
    // broadcast the |sources| side (enum-bounded), NEVER the vocabulary:
    // |vocab| grows with the corpus (Heaps' law) — the per-(source,token)
    // grid and its srcCnt join shuffle on token, the vocab's natural key
    val grid = broadcast(srcTotals).crossJoin(corpus)
      .join(srcCnt, Seq("source", "token"), "left")
      .na.fill(0L, Seq("cs"))
      .crossJoin(broadcast(
        tok.agg(count(lit(1)).as("tc"))))
    grid
      .withColumn("term", expr(
        "CAST(floor(abs(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE) " +
          "- CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE)) * 1000000000.0) AS BIGINT)"))
      .groupBy("source")
      .agg(max(col("ts")).as("n_tokens"), sum(col("term")).as("tvsum"))
      .selectExpr("source", "n_tokens",
        "round(CAST(tvsum AS DOUBLE) / 1000000000.0 / 2.0, 6) AS tv_distance")
      .orderBy("source")
  }

  /** q126 oracle — same grid, same fixed-point term. */
  def sourceDriftOracle: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |corpus AS (SELECT token, count(*) AS cc FROM tok GROUP BY token),
      |tc AS (SELECT count(*) AS tc FROM tok),
      |st AS (SELECT source, count(*) AS ts FROM tok GROUP BY source),
      |sc AS (SELECT source, token, count(*) AS cs FROM tok
      |  GROUP BY source, token),
      |grid AS (SELECT st.source, st.ts, corpus.token, corpus.cc, tc.tc,
      |    coalesce(sc.cs, 0) AS cs
      |  FROM st CROSS JOIN corpus CROSS JOIN tc
      |  LEFT JOIN sc ON sc.source = st.source AND sc.token = corpus.token),
      |terms AS (SELECT source, ts,
      |    CAST(floor(abs(CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)
      |      - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE)) * 1000000000.0)
      |      AS BIGINT) AS term
      |  FROM grid)
      |SELECT source, CAST(max(ts) AS BIGINT) AS n_tokens,
      |  round(CAST(CAST(sum(term) AS BIGINT) AS DOUBLE)
      |    / 1000000000.0 / 2.0, 6) AS tv_distance
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // --- q155: snapshot KS drift audit ------------------------------------

  /** Two-sample KS critical coefficient at α = 0.05: the verdict flags
    * ks > c(α)·√((nA+nB)/(nA·nB)), so the threshold ADAPTS to sample
    * size — a fixed cutoff either fires on every small source (noise
    * floor above it) or misses real drift on huge ones (floor far
    * below it). */
  val KsCritCoeff = 1.358

  /** q155 — two-sample Kolmogorov–Smirnov drift audit between ingest
    * snapshots, per source: the monitor a pipeline runs on every new
    * crawl drop to answer "did this source's DOCUMENTS change shape
    * since last time?" before the mixture weights (q129–q133) are
    * trusted. The compared statistic is the per-document whitespace
    * token count (q25's definition); the two snapshots are the halves
    * of a deterministic salted-fingerprint split (doc_id PARITY would
    * alias against this corpus's source = doc_id mod |sources|
    * assignment — every source would land entirely in one half) — the
    * same-distribution NULL case, so the expected KS here is the
    * sampling noise floor (~√((nA+nB)/(nA·nB))), and the spec asserts
    * the no-drift verdict. Against a REAL pair of snapshots the split
    * column is the ingest date. Complements q126: that flags a source unlike the corpus
    * MIXTURE (token mass), this flags a source unlike its OWN PAST
    * (document shape).
    *
    * Parity: KS needs a supremum over the pooled CDF gap — a global
    * sort in principle. Here it is one window cumsum over the
    * per-(source, tok-count) GRID (|distinct counts| rows, not |docs|),
    * and the gap stays in EXACT integers: at each distinct value
    * sup|F_A−F_B| ∝ |cumA·nB − cumB·nA| (common denominator nA·nB), so
    * the max is over exact DECIMAL(38,0) products (nA/nB can pass 2³¹·²
    * at the 100 TB target, where BIGINT products would wrap silently)
    * and the ONLY division is the final normalize.
    *
    * Scale (100 TB): one map-combinable (source, toks) count aggregate,
    * then window work over the value grid per source — the heavy
    * stream never sorts. */
  def snapshotKsDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("source"),
      TextOps.wsTokenCount(col("text")).as("toks"),
      (TextOps.md5Fingerprint60(
        concat(lit("ks:"), col("doc_id").cast("string"))) % 2 === 0)
        .as("in_a"))
    val grid = d.groupBy("source", "toks")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a_cnt"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b_cnt"))
    val w = Window.partitionBy("source").orderBy("toks")
    val wAll = Window.partitionBy("source")
    grid
      .withColumn("cum_a", sum(col("a_cnt")).over(w))
      .withColumn("cum_b", sum(col("b_cnt")).over(w))
      .withColumn("n_a", sum(col("a_cnt")).over(wAll))
      .withColumn("n_b", sum(col("b_cnt")).over(wAll))
      // DECIMAL(38,0) products: cum·n approaches 2^63² at the 100 TB
      // target once n_a/n_b pass ~2^31.5 — BIGINT would wrap silently
      // and corrupt the KS statistic (same discipline as q152/q158)
      .withColumn("gap",
        abs(col("cum_a").cast("decimal(19,0)") *
            col("n_b").cast("decimal(19,0)") -
          col("cum_b").cast("decimal(19,0)") *
            col("n_a").cast("decimal(19,0)")))
      .groupBy("source")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("gap")).as("max_gap"))
      .withColumn("ks",
        col("max_gap").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))
      .withColumn("ks_crit",
        lit(KsCritCoeff) *
          sqrt((col("n_a").cast("double") + col("n_b").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double"))))
      .select(col("source"), col("n_a"), col("n_b"),
        round(col("ks"), 6).as("ks"),
        round(col("ks_crit"), 6).as("ks_crit"),
        (col("ks") > col("ks_crit")).as("drifted"))
      .orderBy("source")
  }

  /** q155 oracle — same grid, same integer gap, same single division. */
  def snapshotKsDriftOracle: String =
    s"""WITH d AS (SELECT source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks,
       |    CAST('0x' || substr(md5('ks:' || CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % 2 = 0 AS in_a
       |  FROM documents),
       |grid AS (SELECT source, toks,
       |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
       |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b_cnt
       |  FROM d GROUP BY source, toks),
       |c AS (SELECT source, toks,
       |    CAST(sum(a_cnt) OVER (PARTITION BY source ORDER BY toks
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_a,
       |    CAST(sum(b_cnt) OVER (PARTITION BY source ORDER BY toks
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_b,
       |    CAST(sum(a_cnt) OVER (PARTITION BY source) AS BIGINT) AS n_a,
       |    CAST(sum(b_cnt) OVER (PARTITION BY source) AS BIGINT) AS n_b
       |  FROM grid),
       |g AS (SELECT source, max(n_a) AS n_a, max(n_b) AS n_b,
       |    max(abs(CAST(cum_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
       |      - CAST(cum_b AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0))))
       |      AS max_gap
       |  FROM c GROUP BY source)
       |SELECT source, n_a, n_b,
       |  round(CAST(max_gap AS DOUBLE)
       |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks,
       |  round($KsCritCoeff * sqrt((CAST(n_a AS DOUBLE)
       |    + CAST(n_b AS DOUBLE))
       |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS ks_crit,
       |  CAST(max_gap AS DOUBLE)
       |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) >
       |    $KsCritCoeff * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
       |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS drifted
       |FROM g ORDER BY source""".stripMargin

  // --- q158: distributed bootstrap confidence intervals ------------------

  /** Bootstrap replicates per group. */
  val BootB = 32

  /** q158 — distributed bootstrap confidence intervals for the
    * per-source mean document length: the error bars a corpus datasheet
    * should carry before anyone compares two sources' means. Classic
    * resampling needs a per-replicate multinomial draw over N rows —
    * undistributable — so this uses the weighted (Bayesian/Poisson-
    * style) bootstrap: replicate b reweights every document by
    * w = −ln(u_{doc,b}) (Exp(1), so the weight vector is Dirichlet
    * up to normalization) with u the salted-fingerprint deterministic
    * uniform, and the CI is read off the [[BootB]] replicate means —
    * reported as the 2nd-smallest and 2nd-largest (a ~94% interval at
    * B = 32).
    *
    * Determinism: weights freeze to ×10⁶ fixed point, so Σw·x and Σw
    * are exact integer sums (x = n_chars is integral) carried in
    * DECIMAL(38,0) — w_fp reaches ~2.8e7, so at 100 TB the per-group
    * Σw·x passes 2^63 and BIGINT would wrap silently; each replicate
    * mean is ONE double division, the rank pick is integer, and the
    * across-replicate mean freezes the same way.
    *
    * Scale (100 TB): the corpus is read ONCE and exploded ×B inside
    * codegen (a generator, no join); one (source, b) aggregate — B·
    * |sources| groups — then window work over that tiny frame. This is
    * the standard way to put error bars on anything map-combinable
    * without a second pass. */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reps = t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("w_fp", expr(
        "CAST(floor(-ln(greatest(CAST(md5_fp60(concat('bs:', " +
          "CAST(b AS STRING), ':', CAST(doc_id AS STRING))) AS DOUBLE) " +
          "/ 1152921504606846976.0, 1e-12)) * 1000000.0) AS BIGINT)"))
      .groupBy("source", "b")
      // DECIMAL(38,0) sums (q152's num_term discipline): w_fp reaches
      // ~2.8e7, so at the 100 TB target per-group Σ w_fp·n_chars passes
      // 2^63 and non-ANSI BIGINT would wrap silently — wrong CIs with no
      // error. decimal(19,0)×decimal(19,0) → decimal(38,0) exactly.
      .agg(sum(col("w_fp").cast("decimal(19,0)") *
          col("n_chars").cast("decimal(19,0)")).as("swx"),
        sum(col("w_fp").cast("decimal(38,0)")).as("sw"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"))
      .withColumn("boot_mean",
        col("swx").cast("double") / col("sw").cast("double"))
    val w = Window.partitionBy("source")
      .orderBy(col("boot_mean"), col("b"))
    reps.withColumn("rk", row_number().over(w))
      .withColumn("mean_fp",
        expr("CAST(floor(boot_mean * 1000000.0) AS BIGINT)"))
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("sx")).as("sx"),
        round(expr(s"CAST(sum(mean_fp) AS DOUBLE) / $BootB / 1000000.0"),
          6).as("boot_mean"),
        round(max(when(col("rk") === 2, col("boot_mean"))), 6).as("ci_lo"),
        round(max(when(col("rk") === BootB - 1, col("boot_mean"))), 6)
          .as("ci_hi"))
      .select(col("source"), col("n_docs"),
        round(col("sx").cast("double") / col("n_docs"), 6)
          .as("point_mean"),
        col("boot_mean"), col("ci_lo"), col("ci_hi"))
      .orderBy("source")
  }

  /** q158 oracle — same weights, same fixed-point sums, same rank pick. */
  def bootstrapCiOracle: String =
    s"""WITH d AS (SELECT source, doc_id, n_chars FROM documents),
       |reps AS (SELECT source, doc_id, n_chars, b FROM d
       |  CROSS JOIN (SELECT unnest(range(0, $BootB)) AS b)),
       |wts AS (SELECT source, b, n_chars,
       |    CAST(floor(-ln(greatest(CAST(CAST('0x' || substr(md5('bs:' ||
       |      CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0, 1e-12))
       |      * 1000000.0) AS BIGINT) AS w_fp
       |  FROM reps),
       |agg AS (SELECT source, b,
       |    sum(CAST(w_fp AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0)))
       |      AS swx,
       |    sum(CAST(w_fp AS DECIMAL(38,0))) AS sw,
       |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sx
       |  FROM wts GROUP BY source, b),
       |m AS (SELECT source, b, n_docs, sx,
       |    CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS boot_mean
       |  FROM agg),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY boot_mean, b) AS rk,
       |    CAST(floor(boot_mean * 1000000.0) AS BIGINT) AS mean_fp
       |  FROM m)
       |SELECT source, max(n_docs) AS n_docs,
       |  round(CAST(max(sx) AS DOUBLE) / max(n_docs), 6) AS point_mean,
       |  round(CAST(sum(mean_fp) AS DOUBLE) / $BootB / 1000000.0, 6)
       |    AS boot_mean,
       |  round(max(CASE WHEN rk = 2 THEN boot_mean END), 6) AS ci_lo,
       |  round(max(CASE WHEN rk = ${BootB - 1} THEN boot_mean END), 6)
       |    AS ci_hi
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  // --- q140: Neyman-allocation sampling design --------------------------

  /** Total sample size the allocation distributes. */
  val NeymanK = 100L

  /** q140 — Neyman-optimal stratified sample design: allocate a
    * [[NeymanK]]-document inspection sample across sources proportional
    * to N_h·S_h (stratum size × stratum std-dev of document length) —
    * the allocation that minimizes the variance of the estimated corpus
    * mean, vs q64's equal-per-stratum take. A wildly heterogeneous
    * source earns more of the sample than a uniform one of equal size.
    *
    * Parity: moments are EXACT integer sums (Σx, Σx² of n_chars);
    * population variance is one double expression with a fixed op order
    * over those integers; S_h = sqrt(var) is IEEE-correctly-rounded in
    * both engines; the weight N_h·S_h freezes to ×1e6 fixed point and
    * the allocation is integer arithmetic from there (floor allocation,
    * capped at N_h — a stratum cannot contribute more docs than it
    * has).
    *
    * Scale (100 TB): one map-combinable aggregate to |sources| rows;
    * totals as a window over that grid (q131's one-lineage rule). At
    * ~10¹² chars per source carry Σx² as DECIMAL(38,0). */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = EtlOps.t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sx"),
        sum(expr("n_chars * n_chars")).as("sxx"))
      .withColumn("varp", expr(
        "CAST(n_docs * sxx - sx * sx AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)"))
      .withColumn("w_fp", expr(
        "CAST(floor(CAST(n_docs AS DOUBLE) * sqrt(varp) * 1000000.0) AS BIGINT)"))
    val wAll = Window.partitionBy()
    g.withColumn("wsum", sum(col("w_fp")).over(wAll))
      .withColumn("alloc",
        least(expr(s"($NeymanK * w_fp) div wsum"), col("n_docs")))
      .select(col("source"), col("n_docs"),
        round(expr("CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)"), 6)
          .as("mean_chars"),
        round(sqrt(col("varp")), 6).as("sd_chars"),
        col("w_fp"), col("alloc"))
      .orderBy("source")
  }

  /** q141 — jackknife source influence: for each source, the corpus
    * mean document length recomputed WITHOUT that source (leave-one-
    * group-out) and the resulting influence n_h·(mean − loo_mean) — the
    * robustness audit that says which single source, if it turned out
    * to be garbage or was removed for licensing, would move corpus
    * statistics the most. Everything derives from exact integer totals
    * (Σx and N overall and per source), so the only float steps are two
    * divisions and one subtraction with a fixed op order.
    *
    * Scale (100 TB): one map-combinable aggregate to |sources| rows;
    * the totals the leave-one-out means need are windows over that grid
    * (q131's one-lineage rule) — the corpus is scanned ONCE for all
    * |sources| leave-one-out estimates, where naive re-aggregation
    * would scan it |sources| times. */
  def jackknifeInfluence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    EtlOps.t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sx"))
      .withColumn("nt", sum(col("n_docs")).over(wAll))
      .withColumn("st", sum(col("sx")).over(wAll))
      .select(col("source"), col("n_docs"),
        round(expr("CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)"), 6)
          .as("mean_chars"),
        round(expr(
          "CAST(st - sx AS DOUBLE) / CAST(nt - n_docs AS DOUBLE)"), 6)
          .as("loo_mean"),
        round(expr(
          """CAST(n_docs AS DOUBLE) * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
            | - CAST(st - sx AS DOUBLE) / CAST(nt - n_docs AS DOUBLE))"""
            .stripMargin.replace("\n", "")), 6).as("influence"))
      .orderBy("source")
  }

  def jackknifeInfluenceOracle: String =
    """WITH g AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sx
      |  FROM documents GROUP BY source),
      |t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS nt,
      |    CAST(sum(sx) OVER () AS BIGINT) AS st FROM g)
      |SELECT source, n_docs,
      |  round(CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    AS mean_chars,
      |  round(CAST(st - sx AS DOUBLE) / CAST(nt - n_docs AS DOUBLE), 6)
      |    AS loo_mean,
      |  round(CAST(n_docs AS DOUBLE) * (CAST(st AS DOUBLE)
      |      / CAST(nt AS DOUBLE)
      |    - CAST(st - sx AS DOUBLE) / CAST(nt - n_docs AS DOUBLE)), 6)
      |    AS influence
      |FROM t ORDER BY source""".stripMargin

  // --- q142: Zipf slope of the vocabulary -------------------------------

  /** Vocabulary head the slope is fit over. */
  val ZipfTopK = 100

  /** q142 — Zipf slope: OLS fit of ln(freq) against ln(rank) over the
    * top-[[ZipfTopK]] vocabulary — THE one-number corpus-health
    * statistic (natural text sits near −1; templated/boilerplate
    * corpora flatten, deduped corpora steepen). ln values freeze to
    * ×1e6 fixed point the moment they are computed (q131's technique),
    * so the OLS moments are exact integer sums and the slope is one
    * double division at the end.
    *
    * Scale (100 TB): the corpus collapses to its vocabulary in one
    * map-combinable aggregate; only the top-K rows (pruned by
    * orderBy+limit BEFORE any window) reach the single-partition rank
    * window, and the fit runs over K rows. */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = EtlOps.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(ZipfTopK)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("w")))
        .cast("bigint"))
      .withColumn("lr", expr(
        "CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      .withColumn("lf", expr(
        "CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    ranked.agg(
      count(lit(1)).as("k"),
      sum(col("lr")).as("sr"), sum(col("lf")).as("sf"),
      sum(expr("lr * lf")).as("srf"), sum(expr("lr * lr")).as("srr"))
      .select(col("k"),
        round(expr(
          """CAST(k * srf - sr * sf AS DOUBLE)
            | / CAST(k * srr - sr * sr AS DOUBLE)""".stripMargin
            .replace("\n", "")), 6).as("zipf_slope"),
        round(expr(
          """(CAST(sf AS DOUBLE) - CAST(k * srf - sr * sf AS DOUBLE)
            | / CAST(k * srr - sr * sr AS DOUBLE) * CAST(sr AS DOUBLE))
            | / CAST(k AS DOUBLE) / 1000000.0""".stripMargin
            .replace("\n", "")), 6).as("intercept_ln"))
  }

  def zipfSlopeOracle: String =
    s"""WITH v AS (SELECT w, count(*) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w ORDER BY n DESC, w LIMIT $ZipfTopK),
       |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS "rank"
       |  FROM v),
       |f AS (SELECT
       |    CAST(floor(ln(CAST("rank" AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      AS lr,
       |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS lf
       |  FROM r),
       |m AS (SELECT count(*) AS k, CAST(sum(lr) AS BIGINT) AS sr,
       |    CAST(sum(lf) AS BIGINT) AS sf,
       |    CAST(sum(lr * lf) AS BIGINT) AS srf,
       |    CAST(sum(lr * lr) AS BIGINT) AS srr FROM f)
       |SELECT k,
       |  round(CAST(k * srf - sr * sf AS DOUBLE)
       |    / CAST(k * srr - sr * sr AS DOUBLE), 6) AS zipf_slope,
       |  round((CAST(sf AS DOUBLE) - CAST(k * srf - sr * sf AS DOUBLE)
       |    / CAST(k * srr - sr * sr AS DOUBLE) * CAST(sr AS DOUBLE))
       |    / CAST(k AS DOUBLE) / 1000000.0, 6) AS intercept_ln
       |FROM m""".stripMargin

  /** q143 — Heaps'-law fit: vocabulary size V against token count T per
    * source follows V ≈ k·T^β; the exponent β (slope of ln V on ln T
    * across sources) is the corpus's lexical-diversity number —
    * templated/duplicated text pushes β down, diverse text toward ~0.8.
    * Per-source (T, V) pairs come from one distinct-aggregate; the fit
    * reuses q142's discipline (ln frozen to ×1e6 fixed point, exact
    * integer OLS moments, one double division). Output: the global fit
    * plus each source's residual — which sources are lexically poorer
    * than their size predicts.
    *
    * Scale (100 TB): (source, word) distinct-aggregate is the only
    * corpus-sized exchange; everything downstream is |sources| rows. */
  def heapsLaw(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = EtlOps.t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("t_tokens"), countDistinct(col("w")).as("v_words"))
      .withColumn("lt", expr(
        "CAST(floor(ln(CAST(t_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      .withColumn("lv", expr(
        "CAST(floor(ln(CAST(v_words AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    val wAll = Window.partitionBy()
    grid
      .withColumn("k", count(lit(1)).over(wAll))
      .withColumn("st", sum(col("lt")).over(wAll))
      .withColumn("sv", sum(col("lv")).over(wAll))
      .withColumn("stv", sum(expr("lt * lv")).over(wAll))
      .withColumn("stt", sum(expr("lt * lt")).over(wAll))
      .withColumn("beta", expr(
        "CAST(k * stv - st * sv AS DOUBLE) / CAST(k * stt - st * st AS DOUBLE)"))
      .select(col("source"), col("t_tokens"), col("v_words"),
        round(col("beta"), 6).as("beta"),
        round(expr(
          """(CAST(lv AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(k AS DOUBLE)
            | + beta * (CAST(lt AS DOUBLE) - CAST(st AS DOUBLE)
            |   / CAST(k AS DOUBLE)))) / 1000000.0""".stripMargin
            .replace("\n", "")), 6).as("residual_ln"))
      .orderBy("source")
  }

  def heapsLawOracle: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |g AS (SELECT source, count(*) AS t_tokens,
      |    count(DISTINCT w) AS v_words FROM tok GROUP BY source),
      |f AS (SELECT *,
      |    CAST(floor(ln(CAST(t_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS lt,
      |    CAST(floor(ln(CAST(v_words AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS lv FROM g),
      |m AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS k,
      |    CAST(sum(lt) OVER () AS BIGINT) AS st,
      |    CAST(sum(lv) OVER () AS BIGINT) AS sv,
      |    CAST(sum(lt * lv) OVER () AS BIGINT) AS stv,
      |    CAST(sum(lt * lt) OVER () AS BIGINT) AS stt FROM f),
      |b AS (SELECT *, CAST(k * stv - st * sv AS DOUBLE)
      |    / CAST(k * stt - st * st AS DOUBLE) AS beta FROM m)
      |SELECT source, t_tokens, v_words, round(beta, 6) AS beta,
      |  round((CAST(lv AS DOUBLE) - (CAST(sv AS DOUBLE) / CAST(k AS DOUBLE)
      |    + beta * (CAST(lt AS DOUBLE) - CAST(st AS DOUBLE)
      |      / CAST(k AS DOUBLE)))) / 1000000.0, 6) AS residual_ln
      |FROM b ORDER BY source""".stripMargin

  /** q145 — unigram entropy per source: Shannon entropy of the token
    * distribution, H = ln T − (Σ c·ln c)/T — the information-density
    * twin of q142/q143 (boilerplate and templated text collapse H;
    * diverse prose raises it toward ln V). Computed from exact integer
    * counts; ln c freezes to ×1e6 fixed point per DISTINCT (source,
    * word) — vocabulary-sized ln evaluations, weighted by exact counts
    * into an integer sum, one double expression at the end. Also
    * reports the normalized H/ln V (evenness ∈ (0, 1]).
    *
    * Scale (100 TB): one (source, word) count aggregate — the only
    * corpus-sized exchange — then a |sources|-row reduction. */
  def unigramEntropy(s: SparkSession, dir: String): DataFrame =
    EtlOps.t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .withColumn("clc", expr(
        "c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      .groupBy("source")
      .agg(sum(col("c")).as("t_tokens"), count(lit(1)).as("v_words"),
        sum(col("clc")).as("sclc"))
      .select(col("source"), col("t_tokens"), col("v_words"),
        round(expr(
          """ln(CAST(t_tokens AS DOUBLE)) - CAST(sclc AS DOUBLE) / 1000000.0
            | / CAST(t_tokens AS DOUBLE)""".stripMargin.replace("\n", "")), 6)
          .as("entropy"),
        round(expr(
          """(ln(CAST(t_tokens AS DOUBLE)) - CAST(sclc AS DOUBLE) / 1000000.0
            | / CAST(t_tokens AS DOUBLE)) / ln(CAST(v_words AS DOUBLE))"""
            .stripMargin.replace("\n", "")), 6).as("evenness"))
      .orderBy("source")

  def unigramEntropyOracle: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |g AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
      |f AS (SELECT source, c, c * CAST(floor(ln(CAST(c AS DOUBLE))
      |    * 1000000.0) AS BIGINT) AS clc FROM g),
      |m AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_tokens,
      |    count(*) AS v_words, CAST(sum(clc) AS BIGINT) AS sclc
      |  FROM f GROUP BY source)
      |SELECT source, t_tokens, v_words,
      |  round(ln(CAST(t_tokens AS DOUBLE)) - CAST(sclc AS DOUBLE)
      |    / 1000000.0 / CAST(t_tokens AS DOUBLE), 6) AS entropy,
      |  round((ln(CAST(t_tokens AS DOUBLE)) - CAST(sclc AS DOUBLE)
      |    / 1000000.0 / CAST(t_tokens AS DOUBLE))
      |    / ln(CAST(v_words AS DOUBLE)), 6) AS evenness
      |FROM m ORDER BY source""".stripMargin

  def neymanAllocationOracle: String =
    s"""WITH g AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS sx,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY source),
       |v AS (SELECT *, CAST(n_docs * sxx - sx * sx AS DOUBLE)
       |      / CAST(n_docs * n_docs AS DOUBLE) AS varp FROM g),
       |w AS (SELECT *, CAST(floor(CAST(n_docs AS DOUBLE) * sqrt(varp)
       |      * 1000000.0) AS BIGINT) AS w_fp FROM v),
       |t AS (SELECT *, CAST(sum(w_fp) OVER () AS BIGINT) AS wsum FROM w)
       |SELECT source, n_docs,
       |  round(CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS mean_chars,
       |  round(sqrt(varp), 6) AS sd_chars, w_fp,
       |  LEAST(($NeymanK * w_fp) // wsum, n_docs) AS alloc
       |FROM t ORDER BY source""".stripMargin

  // --- q168: PSI drift monitor --------------------------------------------

  /** PSI geometry: fixed-width value bins (width 10, capped at
    * [[PsiBins]]), Laplace add-one smoothing, and the industry drift
    * thresholds (0.1 = investigate, 0.25 = act) in the ×10⁹ fixed
    * point the statistic is carried in. */
  val PsiBins = 10
  val PsiBinWidth = 10.0
  val PsiWarnFp = 100000000L   // PSI 0.1
  val PsiActFp = 250000000L    // PSI 0.25

  /** q168 — Population Stability Index drift monitor, the industry
    * companion to q155's KS: per event_type, split events into an A/B
    * snapshot pair and compare their value-BIN distributions with
    * PSI = Σ_bins (p_A − p_B)·ln(p_A/p_B) (add-one smoothed so empty
    * bins are defined). KS answers "are the distributions different?"
    * with a calibrated test; PSI answers "by how much, and where" —
    * its per-bin terms localize the drift and its 0.1/0.25 thresholds
    * are the monitoring convention. The unit is events (thousands per
    * type), not documents — PSI at n≈25 is sampling noise, which the
    * first cut of this operator demonstrated by flagging everything.
    * Fixture plants a REAL drift: the 'error' type splits by value
    * (A = low half) instead of by fingerprint, so exactly one type
    * must cross the action threshold and the rest idle at the noise
    * floor (spec-pinned). Small-sample caveat: the 0.1/0.25 thresholds
    * assume ≳1000 rows per side — the smoothed null-split PSI floats
    * around bins·2/n, so `warn` is meaningful only once n clears that
    * floor (the spec documents the sf0.001 behavior).
    *
    * Float discipline: each bin's term freezes to ×10⁹ BIGINT before
    * the (order-free) integer sum — the q160/q142 pattern — with the
    * dense [[PsiBins]]-bin completion done by an explode of the full
    * grid (q152's discipline: missing bins still carry a smoothed
    * term when n_A ≠ n_B).
    *
    * Scale (100 TB): one (source, bin, side) count aggregate
    * (map-combinable), a |sources|·bins dense frame, and per-row
    * codegen terms. */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val d = EtlOps.events(s, dir)
      .select(col("event_type").as("source"), col("value"),
        when(col("event_type") === "error", col("value") < 34.0)
          .otherwise(TextOps.md5Fingerprint60(
            concat(lit("psi:"), col("event_id").cast("string"))) % 2 === 0)
          .as("in_a"))
      .withColumn("bin",
        expr(s"least(CAST(floor(value / $PsiBinWidth) AS BIGINT), " +
          s"${PsiBins - 1})"))
    val cnt = d.groupBy("source", "bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a_cnt"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b_cnt"))
    val tot = cnt.groupBy("source")
      .agg(sum(col("a_cnt")).as("n_a"), sum(col("b_cnt")).as("n_b"))
    val dense = tot
      .select(col("source"), col("n_a"), col("n_b"),
        explode(expr(
          s"sequence(CAST(0 AS BIGINT), CAST(${PsiBins - 1} AS BIGINT))"))
          .as("bin"))
      .join(cnt, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("a_cnt", "b_cnt"))
    val termFp = expr(
      s"CAST(floor((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins) - " +
        s"CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins)) * " +
        s"ln((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins)) / " +
        s"(CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins))) * " +
        "1000000000.0) AS BIGINT)")
    dense
      .withColumn("term_fp", termFp)
      .groupBy("source")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("term_fp")).as("psi_fp"))
      .select(col("source").as("event_type"), col("n_a"), col("n_b"),
        round(col("psi_fp").cast("double") / 1e9, 6).as("psi"),
        (col("psi_fp") >= PsiWarnFp).as("warn"),
        (col("psi_fp") >= PsiActFp).as("act"))
      .orderBy("event_type")
  }

  def psiDriftOracle: String =
    s"""WITH d AS (SELECT event_type AS source, value,
       |    CASE WHEN event_type = 'error' THEN value < 34.0
       |      ELSE CAST('0x' || substr(md5('psi:' ||
       |        CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 END
       |      AS in_a,
       |    least(CAST(floor(value / $PsiBinWidth) AS BIGINT),
       |      ${PsiBins - 1}) AS bin
       |  FROM events),
       |cnt AS (SELECT source, bin,
       |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
       |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b_cnt
       |  FROM d GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(a_cnt) AS BIGINT) AS n_a,
       |    CAST(sum(b_cnt) AS BIGINT) AS n_b FROM cnt GROUP BY 1),
       |dense AS (SELECT tot.source, tot.n_a, tot.n_b,
       |    CAST(g.bin AS BIGINT) AS bin,
       |    COALESCE(cnt.a_cnt, 0) AS a_cnt, COALESCE(cnt.b_cnt, 0) AS b_cnt
       |  FROM tot CROSS JOIN (SELECT unnest(range(0, $PsiBins)) AS bin) g
       |  LEFT JOIN cnt ON cnt.source = tot.source AND cnt.bin = g.bin),
       |terms AS (SELECT source, n_a, n_b,
       |    CAST(floor((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins) -
       |      CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins)) *
       |      ln((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins)) /
       |      (CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins))) *
       |      1000000000.0) AS BIGINT) AS term_fp
       |  FROM dense)
       |SELECT source AS event_type, max(n_a) AS n_a, max(n_b) AS n_b,
       |  round(CAST(sum(term_fp) AS DOUBLE) / 1e9, 6) AS psi,
       |  CAST(sum(term_fp) AS BIGINT) >= $PsiWarnFp AS warn,
       |  CAST(sum(term_fp) AS BIGINT) >= $PsiActFp AS act
       |FROM terms GROUP BY source ORDER BY event_type""".stripMargin

  // --- q224: HyperLogLog distinct-count audit -----------------------------

  /** HLL geometry: m = 2^8 registers. Standard error 1.04/√m ≈ 6.5%. */
  val HllM = 256

  /** Linear-counting threshold: raw estimate ≤ 2.5·m switches to the
    * small-range correction (Flajolet et al. 2007 §4). */
  val HllLinearThresh: Double = 2.5 * HllM

  /** α_m · 1e9 frozen at build time — the SAME integer literal lands in
    * the Spark expression and the oracle SQL, so no runtime libm. */
  val HllAlphaFp: Long =
    math.floor(0.7213 / (1.0 + 1.079 / HllM) * 1e9).toLong

  /** ln(m/V)·1e9 for V = 1..m, frozen at build time (the q190
    * DCG-discount pattern): the linear-counting estimate m·ln(m/V)
    * becomes an integer table lookup — zero runtime log on either
    * engine. */
  lazy val HllLnTable: IndexedSeq[Long] = (1 to HllM).map(v =>
    math.floor(math.log(HllM.toDouble / v) * 1e9).toLong)

  /** Rank of the hash suffix: trailing-zero count of w = h >> 8, plus 1,
    * clamped to the 53 bits a 60-bit hash leaves (w = 0 ⇒ the isolate
    * trick gives bit_count(-1) = 64 ⇒ clamp). `w & -w` isolates the
    * lowest set bit; minus 1 masks the trailing zeros — pure bit
    * arithmetic, identical on both engines. */
  private[graft] def hllRankSql(h: String): String = {
    val w = s"($h >> 8)"
    s"least(bit_count((($w & -$w) - 1)) + 1, 53)"
  }

  /** Σ_j 2^(60-M_j) as DECIMAL(38,0): each term is an exact long
    * (M ≤ 53 ⇒ shift ∈ [7, 60]); the sum can exceed int64 when many
    * registers are empty (256·2^60 = 2^68), hence decimal. */
  private[graft] def hllSpSparkSql(regs: String): String =
    s"aggregate($regs, CAST(0 AS DECIMAL(38,0)), (acc, r) -> " +
      "acc + CAST(shiftleft(CAST(1 AS BIGINT), CAST(60 - r AS INT)) " +
      "AS DECIMAL(38,0)))"

  /** Raw harmonic-mean estimate α_m·m²·2^60 / S′ — both engines cast
    * the SAME exact integer S′ to double and run the SAME left-assoc
    * chain, so the doubles agree bitwise. */
  private[graft] def hllRawSql(sp: String): String =
    s"CAST($HllAlphaFp AS DOUBLE) / 1e9 * " +
      s"${HllM.toDouble * HllM} * 1152921504606846976.0 / CAST($sp AS DOUBLE)"

  /** Linear-counting estimate m·ln(m/V) via the frozen table. `spark`
    * selects element-access syntax. */
  private[graft] def hllLinearSql(vz: String, spark: Boolean): String = {
    val lits = HllLnTable.mkString(", ")
    val el =
      if (spark) s"element_at(array($lits), CAST($vz AS INT))"
      else s"([$lits])[CAST($vz AS INT)]"
    s"CAST($HllM AS DOUBLE) * CAST($el AS DOUBLE) / 1e9"
  }

  /** The corrected estimate: linear counting in the small range (raw ≤
    * 2.5m and some register still empty), raw harmonic mean otherwise. */
  private[graft] def hllEstSql(sp: String, vz: String, spark: Boolean): String =
    s"CASE WHEN (${hllRawSql(sp)}) <= $HllLinearThresh AND $vz > 0 " +
      s"THEN (${hllLinearSql(vz, spark)}) ELSE (${hllRawSql(sp)}) END"

  /** q224 — HyperLogLog distinct-count audit over the native
    * [[graft.functions.HllAgg]]: three cardinality scopes over events
    * (distinct event_ids globally — large, exercises the raw harmonic
    * path; distinct users per event_type — mid; distinct event types —
    * tiny, exercises linear counting), each estimated from a 256-register
    * sketch and audited against the exact `count(DISTINCT)`.
    *
    * Completes the streaming frequency toolkit: Space-Saving (q117)
    * answers "which keys are heavy", CMS (q175) "how often is a given
    * key", HLL answers "how many distinct keys" in O(m) memory. Like
    * CMS — and unlike Space-Saving — the register state is a plain
    * per-bucket MAX, merge-order independent, so the DuckDB oracle
    * rebuilds the identical registers with GROUP BY bucket → max(rank)
    * and every derived double matches bitwise (S′ is an exact DECIMAL
    * integer; α and the ln table are build-time integer literals).
    *
    * Scale (100 TB): the sketch side shuffles O(m) longs per group —
    * the distinct-count profile that never ships the key stream; the
    * exact side (a full key shuffle) exists only to audit it. */
  def hllAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
    val keyed = ev.select(lit("event_ids").as("scope"),
        lit("all").as("grp"), col("event_id").cast("string").as("k"))
      .unionAll(ev.select(lit("users_by_type").as("scope"),
        col("event_type").as("grp"), col("user_id").cast("string").as("k")))
      .unionAll(ev.select(lit("types").as("scope"), lit("all").as("grp"),
        col("event_type").as("k")))
    val hashed = keyed
      .withColumn("h", call_function("md5_fp60", col("k")))
      .withColumn("bkt", col("h") % HllM)
      .withColumn("rnk", expr(hllRankSql("h")).cast("long"))
    val regs = hashed.groupBy("scope", "grp")
      .agg(expr(s"hll_agg(array(bkt, rnk), $HllM)").as("regs"))
    val exact = keyed.groupBy("scope", "grp")
      .agg(countDistinct(col("k")).as("exact_n"))
    regs.join(exact, Seq("scope", "grp"))
      .withColumn("vz",
        expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)"))
      .withColumn("sp", expr(hllSpSparkSql("regs")))
      .withColumn("est",
        expr(hllEstSql("sp", "vz", spark = true)))
      .select(col("scope"), col("grp"), col("exact_n"), col("vz"),
        expr(s"(${hllRawSql("sp")}) <= $HllLinearThresh AND vz > 0")
          .as("used_linear"),
        round(col("est"), 4).as("est_n"),
        expr("round((est - CAST(exact_n AS DOUBLE)) / " +
          "CAST(exact_n AS DOUBLE) * 100.0, 4)").as("rel_err_pct"),
        expr("abs((est - CAST(exact_n AS DOUBLE)) / " +
          "CAST(exact_n AS DOUBLE)) <= 0.2").as("within_bound"))
      .orderBy("scope", "grp")
  }

  // --- q226: join-cardinality estimation audit ----------------------------

  /** The estimator's prediction from the integer components — ONE
    * generated string evaluated over identical exact integers on both
    * engines (end-biased histogram / containment-of-value-sets model:
    * exact HH×HH products, HH-to-average-tail cross terms, uniform
    * tail×tail under containment — Ioannidis & Poosala; the System R
    * assumption set). */
  private def joinPredSql: String =
    "CAST(j_both AS DOUBLE) + " +
      "CASE WHEN d_tb > 0 THEN CAST(sa_only AS DOUBLE) * " +
      "CAST(n_tb AS DOUBLE) / CAST(d_tb AS DOUBLE) ELSE 0.0 END + " +
      "CASE WHEN d_ta > 0 THEN CAST(sb_only AS DOUBLE) * " +
      "CAST(n_ta AS DOUBLE) / CAST(d_ta AS DOUBLE) ELSE 0.0 END + " +
      "CASE WHEN greatest(d_ta, d_tb) > 0 THEN CAST(n_ta AS DOUBLE) * " +
      "CAST(n_tb AS DOUBLE) / CAST(greatest(d_ta, d_tb) AS DOUBLE) " +
      "ELSE 0.0 END"

  private def joinQErrSql(pred: String): String =
    s"greatest(($pred) / CAST(actual AS DOUBLE), " +
      s"CAST(actual AS DOUBLE) / ($pred))"

  /** q226 — join-cardinality estimation audit: the optimizer-statistics
    * question ("how big will this join be?") answered from per-side
    * end-biased histograms — exact heavy hitters (freq ≥ 4× mean) plus
    * a uniform tail under the containment assumption — and audited
    * against the exact join size, with the q-error every
    * cardinality-estimation paper grades on. Five edges: the natural
    * FK joins (containment holds and the parent is key-unique ⇒
    * q-error 1.0 exactly — the estimator is provably exact there), a
    * PLANTED hot key on the lineitem side (exercises the HH machinery),
    * a filtered-parent edge (containment deliberately violated ⇒ the
    * estimator's characteristic error becomes visible), and a
    * many-to-many self-edge on events.user_id (the uniform-tail model
    * ignores within-tail variance ⇒ Σf² > n²/d, a structural
    * underestimate).
    *
    * Parity: every component is an exact integer (freq sums, distinct
    * counts, HH products); the prediction is ONE shared double
    * expression over those integers; actual join size is Σ f_A(k)·f_B(k)
    * over the freq frames — no row-level join materialized.
    *
    * Scale (100 TB): each side collapses map-side to (key, freq) — the
    * only corpus-sized shuffle; totals broadcast; HH frames are
    * τ-bounded tiny; even the "actual" audit side joins freq frames,
    * never fact rows. This is how an optimizer gathers stats without
    * paying the join it is trying to price. */
  def joinCardAudit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    // Round-14 restructure (same outputs, proved by the unchanged
    // oracle): the r13 form built fa and fb as SEPARATE aggregates and
    // then re-derived each up to three times (totals, HH filter, exact
    // join size) — per edge: 2 scans recomputed ×3, 2 groupBy
    // exchanges, a full-outer AND an inner key join (the 2,745-line
    // plan the r13 verdict flagged). Now ONE side-tagged union feeds
    // ONE (k)-keyed aggregate holding BOTH histograms; the frame is
    // persisted and every downstream component — totals, HH
    // classification, HH cross terms, Σ fa·fb — is an aggregate over
    // it. Per edge: one corpus-sized exchange, two cached-frame
    // passes, no key joins at all (guide §2.3 aggregate-before-
    // shuffle, §6 scan reuse). Null keys keep the join semantics of
    // the original full-outer/inner forms: a null key never matches,
    // so its row contributes to the side-only sums and never to
    // j_both/actual.
    def edge(label: String, aKeys: DataFrame, bKeys: DataFrame,
        selfEdge: Boolean = false): DataFrame = {
      val freq0 =
        if (selfEdge)
          aKeys.groupBy("k").agg(count(lit(1)).as("fa"))
            .select(col("k"), col("fa"), col("fa").as("fb"))
        else
          aKeys.select(col("k"), lit(1L).as("ia"), lit(0L).as("ib"))
            .unionAll(
              bKeys.select(col("k"), lit(0L).as("ia"), lit(1L).as("ib")))
            .groupBy("k")
            .agg(sum("ia").as("na"), sum("ib").as("nb"))
            .select(col("k"),
              when(col("na") > 0, col("na")).as("fa"),
              when(col("nb") > 0, col("nb")).as("fb"))
      val freq = freq0.persist()
      val t = freq.agg(
        coalesce(sum("fa"), lit(0L)).as("n_a"),
        count(col("fa")).as("d_a"),
        coalesce(sum("fb"), lit(0L)).as("n_b"),
        count(col("fb")).as("d_b"))
      val hha = col("fa").isNotNull &&
        col("fa") >= greatest(lit(2L), expr("4 * n_a DIV d_a"))
      val hhb = col("fb").isNotNull &&
        col("fb") >= greatest(lit(2L), expr("4 * n_b DIV d_b"))
      val matched = col("k").isNotNull
      freq.crossJoin(broadcast(t))
        .agg(
          first(col("n_a")).as("n_a"), first(col("d_a")).as("d_a"),
          first(col("n_b")).as("n_b"), first(col("d_b")).as("d_b"),
          coalesce(sum(when(hha && hhb && matched,
            col("fa") * col("fb"))), lit(0L)).as("j_both"),
          coalesce(sum(when(hha && !(hhb && matched), col("fa"))),
            lit(0L)).as("sa_only"),
          coalesce(sum(when(hhb && !(hha && matched), col("fb"))),
            lit(0L)).as("sb_only"),
          coalesce(sum(when(hha, 1L).otherwise(0L)), lit(0L))
            .as("n_hh_a"),
          coalesce(sum(when(hhb, 1L).otherwise(0L)), lit(0L))
            .as("n_hh_b"),
          coalesce(sum(when(hha, col("fa"))), lit(0L)).as("s_hh_a"),
          coalesce(sum(when(hhb, col("fb"))), lit(0L)).as("s_hh_b"),
          coalesce(sum(when(matched, col("fa") * col("fb"))), lit(0L))
            .as("actual"))
        .withColumn("n_ta", col("n_a") - col("s_hh_a"))
        .withColumn("d_ta", col("d_a") - col("n_hh_a"))
        .withColumn("n_tb", col("n_b") - col("s_hh_b"))
        .withColumn("d_tb", col("d_b") - col("n_hh_b"))
        .selectExpr(s"'$label' AS edge", "n_a", "d_a", "n_hh_a",
          "n_b", "d_b", "n_hh_b", "actual",
          s"round(${joinPredSql}, 2) AS predicted",
          s"round(${joinQErrSql(joinPredSql)}, 4) AS q_error")
    }
    val liOrderKeys = li.select(col("l_orderkey").as("k"))
    val hot = li.filter(col("l_orderkey") % 61 === 0)
      .select(lit(1L).as("k"))
    edge("lineitem_orders_hotkey",
      liOrderKeys.unionAll(hot).unionAll(hot),
      ord.select(col("o_orderkey").as("k")))
      .unionAll(edge("lineitem_part",
        li.select(col("l_partkey").as("k")),
        t(s, dir, "part").select(col("p_partkey").as("k"))))
      .unionAll(edge("orders_customer",
        ord.select(col("o_custkey").as("k")),
        t(s, dir, "customer").select(col("c_custkey").as("k"))))
      .unionAll(edge("orders_customer_filtered",
        ord.select(col("o_custkey").as("k")),
        t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"))))
      .unionAll(edge("events_self_user",
        EtlOps.events(s, dir).select(col("user_id").as("k")),
        EtlOps.events(s, dir).select(col("user_id").as("k")),
        // both sides are the same scan: ONE histogram serves as fa
        // and fb (same rows, so identical outputs for half the pass)
        selfEdge = true))
      .orderBy("edge")
  }

  def joinCardAuditOracle: String = {
    val edges = Seq(
      ("lineitem_orders_hotkey",
        "SELECT l_orderkey AS k FROM lineitem " +
          "UNION ALL SELECT 1 FROM lineitem WHERE l_orderkey % 61 = 0 " +
          "UNION ALL SELECT 1 FROM lineitem WHERE l_orderkey % 61 = 0",
        "SELECT o_orderkey AS k FROM orders"),
      ("lineitem_part", "SELECT l_partkey AS k FROM lineitem",
        "SELECT p_partkey AS k FROM part"),
      ("orders_customer", "SELECT o_custkey AS k FROM orders",
        "SELECT c_custkey AS k FROM customer"),
      ("orders_customer_filtered", "SELECT o_custkey AS k FROM orders",
        "SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0"),
      ("events_self_user", "SELECT user_id AS k FROM events",
        "SELECT user_id AS k FROM events"))
    val blocks = edges.zipWithIndex.map { case ((label, aSql, bSql), i) =>
      s"""e${i}fa AS (SELECT k, count(*) AS fa FROM ($aSql) GROUP BY k),
         |e${i}fb AS (SELECT k, count(*) AS fb FROM ($bSql) GROUP BY k),
         |e${i}ta AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a,
         |  count(*) AS d_a FROM e${i}fa),
         |e${i}tb AS (SELECT CAST(sum(fb) AS BIGINT) AS n_b,
         |  count(*) AS d_b FROM e${i}fb),
         |e${i}hha AS (SELECT k, fa FROM e${i}fa, e${i}ta
         |  WHERE fa >= greatest(2, (4 * n_a) // d_a)),
         |e${i}hhb AS (SELECT k, fb FROM e${i}fb, e${i}tb
         |  WHERE fb >= greatest(2, (4 * n_b) // d_b)),
         |e${i}cmp AS (SELECT
         |    COALESCE(CAST(sum(CASE WHEN fa IS NOT NULL AND fb IS NOT
         |      NULL THEN fa * fb END) AS BIGINT), 0) AS j_both,
         |    COALESCE(CAST(sum(CASE WHEN fb IS NULL THEN fa END)
         |      AS BIGINT), 0) AS sa_only,
         |    COALESCE(CAST(sum(CASE WHEN fa IS NULL THEN fb END)
         |      AS BIGINT), 0) AS sb_only,
         |    COALESCE(CAST(sum(CASE WHEN fa IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT), 0) AS n_hh_a,
         |    COALESCE(CAST(sum(CASE WHEN fb IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT), 0) AS n_hh_b,
         |    COALESCE(CAST(sum(CASE WHEN fa IS NOT NULL THEN fa END)
         |      AS BIGINT), 0) AS s_hh_a,
         |    COALESCE(CAST(sum(CASE WHEN fb IS NOT NULL THEN fb END)
         |      AS BIGINT), 0) AS s_hh_b
         |  FROM (SELECT COALESCE(a.k, b.k) AS k, a.fa, b.fb
         |    FROM e${i}hha a FULL OUTER JOIN e${i}hhb b ON a.k = b.k)),
         |e${i}act AS (SELECT COALESCE(CAST(sum(a.fa * b.fb) AS BIGINT),
         |  0) AS actual FROM e${i}fa a JOIN e${i}fb b ON a.k = b.k),
         |e${i}row AS (SELECT '$label' AS edge, n_a, d_a, n_hh_a,
         |    n_b, d_b, n_hh_b, actual,
         |    round(${joinPredSql}, 2) AS predicted,
         |    round(${joinQErrSql(joinPredSql)}, 4) AS q_error
         |  FROM (SELECT n_a, d_a, n_b, d_b, j_both, sa_only, sb_only,
         |      n_hh_a, n_hh_b, actual,
         |      n_a - s_hh_a AS n_ta, d_a - n_hh_a AS d_ta,
         |      n_b - s_hh_b AS n_tb, d_b - n_hh_b AS d_tb
         |    FROM e${i}ta, e${i}tb, e${i}cmp, e${i}act))"""
        .stripMargin
    }
    s"""WITH ${blocks.mkString(",\n")}
       |${edges.indices.map(i => s"SELECT * FROM e${i}row")
        .mkString("\nUNION ALL ")}
       |ORDER BY edge""".stripMargin
  }

  def hllAuditOracle: String = {
    val hash = "CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)"
    s"""WITH k AS (
       |  SELECT 'event_ids' AS scope, 'all' AS grp,
       |    CAST(event_id AS VARCHAR) AS k FROM events
       |  UNION ALL SELECT 'users_by_type', event_type,
       |    CAST(user_id AS VARCHAR) FROM events
       |  UNION ALL SELECT 'types', 'all', event_type FROM events),
       |br AS (SELECT scope, grp, h % $HllM AS bkt,
       |    CAST(${hllRankSql("h")} AS BIGINT) AS rnk
       |  FROM (SELECT scope, grp, $hash AS h FROM k)),
       |regs AS (SELECT scope, grp, bkt, max(rnk) AS r FROM br
       |  GROUP BY 1, 2, 3),
       |grps AS (SELECT DISTINCT scope, grp FROM br),
       |dense AS (SELECT g.scope, g.grp, COALESCE(regs.r, 0) AS r
       |  FROM grps g
       |  CROSS JOIN (SELECT unnest(range(0, $HllM)) AS b) t
       |  LEFT JOIN regs ON regs.scope = g.scope AND regs.grp = g.grp
       |    AND regs.bkt = t.b),
       |st AS (SELECT scope, grp,
       |    sum(CAST((CAST(1 AS BIGINT) << CAST(60 - r AS INT))
       |      AS DECIMAL(38,0))) AS sp,
       |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vz
       |  FROM dense GROUP BY 1, 2),
       |ex AS (SELECT scope, grp, count(DISTINCT k) AS exact_n FROM k
       |  GROUP BY 1, 2),
       |j AS (SELECT st.scope, st.grp, ex.exact_n, st.vz,
       |    ${hllEstSql("st.sp", "st.vz", spark = false)} AS est,
       |    (${hllRawSql("st.sp")}) <= $HllLinearThresh AND st.vz > 0
       |      AS used_linear
       |  FROM st JOIN ex ON st.scope = ex.scope AND st.grp = ex.grp)
       |SELECT scope, grp, exact_n, vz, used_linear,
       |  round(est, 4) AS est_n,
       |  round((est - CAST(exact_n AS DOUBLE)) /
       |    CAST(exact_n AS DOUBLE) * 100.0, 4) AS rel_err_pct,
       |  abs((est - CAST(exact_n AS DOUBLE)) /
       |    CAST(exact_n AS DOUBLE)) <= 0.2 AS within_bound
       |FROM j ORDER BY scope, grp""".stripMargin
  }

  // --- q227: Benford first-digit conformance audit ------------------------

  /** χ²(df=8, α=0.05) critical value, ×1e6 fixed point — the conformance
    * gate compares integers. */
  val BenfordCritFp: Long = 15507310L

  /** Benford probability P(d) = log10(1 + 1/d) as build-time double
    * literals — the SAME literal lands in both engines' expected-count
    * expression (no runtime libm). */
  private lazy val benfordP: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Inverse-CDF thresholds for the PLANTED conforming sample: a 60-bit
    * uniform hash h yields first digit d = 1 + |{k : h ≥ T_k}| with
    * T_k = ⌊log10(k)·2^60⌋ — pure integer comparisons, and the digit is
    * exactly Benford-distributed because h/2^60 is uniform. */
  private lazy val benfordThresh: IndexedSeq[Long] =
    (2 to 9).map(d => math.floor(math.log10(d.toDouble) *
      1152921504606846976.0).toLong)

  /** First significant digit of a numeric column with x ≥ 1 — via the
    * integer string of ⌊x⌋ (floor on doubles is exact on both engines;
    * BIGINT→string never involves float formatting). */
  private def benfordDigitSql(x: String): String =
    s"CAST(substr(CAST(CAST(floor($x) AS BIGINT) AS STRING), 1, 1) " +
      "AS BIGINT)"

  private def benfordPlantDigitSql(h: String): String =
    "1 + " + benfordThresh.map(t =>
      s"(CASE WHEN $h >= $t THEN 1 ELSE 0 END)").mkString(" + ")

  /** n·P(digit) as ONE shared CASE over the frozen literals. */
  private def benfordExpSql: String =
    "CAST(n AS DOUBLE) * (CASE digit " +
      benfordP.zipWithIndex.map { case (p, i) =>
        s"WHEN ${i + 1} THEN $p" }.mkString(" ") + " ELSE 0.0 END)"

  /** q227 — Benford first-digit conformance audit: the classic
    * data-quality / fraud screen (Nigrini) — does a numeric column's
    * first-significant-digit distribution follow P(d) = log10(1+1/d)?
    * Four real columns are audited (extended price, order total, retail
    * price, event value) plus a PLANTED conforming sample drawn by
    * integer inverse-CDF from the document hash, so both verdict
    * branches are exercised: the plant conforms; part.p_retailprice is
    * the degenerate counter-case (every value in [900, 1000) ⇒ all mass
    * on digit 9, a maximal χ² — exactly what the audit exists to flag,
    * e.g. a column that silently became a constant-range default).
    * Output is the dense (scope × digit 1..9) grid with observed and
    * expected counts, per-cell χ² contribution, and the per-scope χ²
    * against the df=8 critical value.
    *
    * Parity: digits come from integer strings (floor is exact; no
    * double formatting); P(d) and the plant thresholds are build-time
    * literals; each χ² term is one shared double expression frozen to
    * ×1e6 fixed point before the order-free integer sum (q216's
    * discipline); the verdict compares integers.
    *
    * Scale (100 TB): one narrow scan per audited column collapsing
    * map-side to ≤ 9 cells each — the audit's shuffle is 9 rows per
    * scope regardless of input size; everything downstream is dense-grid
    * arithmetic on |scopes|·9 rows. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val keyed =
      t(s, dir, "lineitem").selectExpr("'lineitem_extprice' AS scope",
          s"${benfordDigitSql("l_extendedprice")} AS digit")
        .unionAll(t(s, dir, "orders").selectExpr(
          "'orders_totalprice' AS scope",
          s"${benfordDigitSql("o_totalprice")} AS digit"))
        .unionAll(t(s, dir, "part").selectExpr(
          "'part_retailprice' AS scope",
          s"${benfordDigitSql("p_retailprice")} AS digit"))
        .unionAll(EtlOps.events(s, dir).filter(col("value") >= 1)
          .selectExpr("'events_value' AS scope",
            s"${benfordDigitSql("value")} AS digit"))
        .unionAll(EtlOps.events(s, dir)
          .withColumn("h", call_function("md5_fp60",
            concat(lit("benford:"), col("event_id").cast("string"))))
          .selectExpr("'benford_plant' AS scope",
            s"CAST(${benfordPlantDigitSql("h")} AS BIGINT) AS digit"))
    // the corpus collapses HERE to <= 45 cells; persist so the grid /
    // totals / chi2 consumers reuse the cells instead of re-expanding
    // the 5-scan union per reference
    val obs = keyed.groupBy("scope", "digit")
      .agg(count(lit(1)).as("obs")).persist()
    val tot = obs.groupBy("scope").agg(sum(col("obs")).as("n"))
    val digits = s.range(1, 10).selectExpr("id AS digit")
    val grid = tot.crossJoin(broadcast(digits))
      .join(obs, Seq("scope", "digit"), "left")
      .withColumn("o", coalesce(col("obs"), lit(0L)))
      .withColumn("exp_d", expr(benfordExpSql))
      .withColumn("term_fp", floor(
        (col("o").cast("double") - col("exp_d")) *
          (col("o").cast("double") - col("exp_d")) / col("exp_d") * 1e6)
        .cast("bigint"))
    val chi = grid.groupBy("scope")
      .agg(sum(col("term_fp")).as("chi2_fp"))
    grid.join(chi, "scope")
      .select(col("scope"), col("digit"), col("n"), col("o").as("obs"),
        (floor(col("exp_d") * 1e4).cast("bigint").cast("double") / 1e4)
          .as("exp_n"),
        round(col("term_fp").cast("double") / 1e6, 6).as("term"),
        round(col("chi2_fp").cast("double") / 1e6, 6).as("chi2"),
        (col("chi2_fp") <= BenfordCritFp).as("conforms"))
      .orderBy("scope", "digit")
  }

  def benfordAuditOracle: String =
    s"""WITH k AS (
       |  SELECT 'lineitem_extprice' AS scope,
       |    ${benfordDigitSql("l_extendedprice")} AS digit FROM lineitem
       |  UNION ALL SELECT 'orders_totalprice',
       |    ${benfordDigitSql("o_totalprice")} FROM orders
       |  UNION ALL SELECT 'part_retailprice',
       |    ${benfordDigitSql("p_retailprice")} FROM part
       |  UNION ALL SELECT 'events_value',
       |    ${benfordDigitSql("value")} FROM events WHERE value >= 1
       |  UNION ALL SELECT 'benford_plant',
       |    CAST(${benfordPlantDigitSql("h")} AS BIGINT)
       |  FROM (SELECT CAST('0x' || substr(md5('benford:' ||
       |    CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |    FROM events)),
       |obs AS (SELECT scope, digit, count(*) AS obs FROM k
       |  GROUP BY scope, digit),
       |tot AS (SELECT scope, CAST(sum(obs) AS BIGINT) AS n FROM obs
       |  GROUP BY scope),
       |dig AS (SELECT unnest(range(1, 10)) AS digit),
       |grid AS (SELECT t.scope, d.digit, t.n, coalesce(o.obs, 0) AS o
       |  FROM tot t CROSS JOIN dig d
       |  LEFT JOIN obs o ON o.scope = t.scope AND o.digit = d.digit),
       |cell AS (SELECT scope, digit, n, o, $benfordExpSql AS exp_d
       |  FROM grid),
       |fp AS (SELECT scope, digit, n, o, exp_d,
       |    CAST(floor((CAST(o AS DOUBLE) - exp_d) *
       |      (CAST(o AS DOUBLE) - exp_d) / exp_d * 1e6) AS BIGINT)
       |      AS term_fp
       |  FROM cell),
       |chi AS (SELECT scope, CAST(sum(term_fp) AS BIGINT) AS chi2_fp
       |  FROM fp GROUP BY scope)
       |SELECT fp.scope, fp.digit, fp.n, fp.o AS obs,
       |  CAST(CAST(floor(exp_d * 1e4) AS BIGINT) AS DOUBLE) / 1e4
       |    AS exp_n,
       |  round(CAST(term_fp AS DOUBLE) / 1e6, 6) AS term,
       |  round(CAST(chi2_fp AS DOUBLE) / 1e6, 6) AS chi2,
       |  chi2_fp <= $BenfordCritFp AS conforms
       |FROM fp JOIN chi ON chi.scope = fp.scope
       |ORDER BY fp.scope, fp.digit""".stripMargin

  // --- q241: functional-dependency / key discovery audit ------------------

  /** Candidate dependencies: (name, table, lhs columns, rhs column);
    * rhs = "<row>" audits KEYNESS of the lhs (any group with >1 row
    * violates). Mix chosen so both verdicts and the approximate band
    * are real on this data. */
  val FdCandidates: Seq[(String, String, Seq[String], String)] = Seq(
    ("li_line_key", "lineitem", Seq("l_orderkey", "l_linenumber"),
      "<row>"),
    ("li_line_suppkey", "lineitem", Seq("l_orderkey", "l_linenumber"),
      "l_suppkey"),
    ("li_part_supp", "lineitem", Seq("l_partkey"), "l_suppkey"),
    ("li_order_shipdate", "lineitem", Seq("l_orderkey"), "l_shipdate"),
    ("ord_key", "orders", Seq("o_orderkey"), "<row>"),
    ("ord_key_cust", "orders", Seq("o_orderkey"), "o_custkey"),
    ("ord_cust_priority", "orders", Seq("o_custkey"),
      "o_orderpriority"),
    ("cust_key_nation", "customer", Seq("c_custkey"), "c_nationkey"),
    ("part_brand_type", "part", Seq("p_brand"), "p_type"),
    ("nation_key_region", "nation", Seq("n_nationkey"), "n_regionkey"))

  /** q241 — functional-dependency / key discovery: the data-profiling
    * question schema inference, join planning, and contract authoring
    * all start from — does lhs determine rhs, and is lhs a KEY? Each
    * candidate is one map-side-combined group collapse counting
    * per-group distinct rhs (or row count for keyness); a dependency
    * HOLDS when no group carries >1, and the violation RATE separates
    * approximate FDs (Papenbrock/TANE's ε) from noise. This audit is
    * how the repo discovered that (l_orderkey, l_linenumber) is NOT a
    * key of the synthetic lineitem (dup line rows with differing
    * suppkeys — the fact that broke q237's first tiebreak), pinned
    * here as a first-class result next to the holding FK-side
    * dependencies.
    *
    * Parity: all counts are integers; the rate divides once.
    *
    * Scale (100 TB): per candidate one narrow scan collapsing
    * map-side to |lhs-groups| cells and then to ONE row — profiling
    * cost is scan-bound, output is |candidates| rows. */
  def fdDiscovery(s: SparkSession, dir: String): DataFrame = {
    val rows = FdCandidates.map { case (name, table, lhs, rhs) =>
      val base = t(s, dir, table)
      val metric =
        if (rhs == "<row>") count(lit(1))
        else countDistinct(col(rhs))
      base.groupBy(lhs.map(col): _*)
        .agg(metric.as("m"), count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("cnt")).as("n_rows"),
          sum(when(col("m") > 1, 1L).otherwise(0L))
            .as("violating_groups"),
          max(col("m")).as("max_per_group"))
        .selectExpr(s"'$name' AS fd",
          s"'${lhs.mkString("+")}' AS lhs", s"'$rhs' AS rhs",
          "n_rows", "n_groups", "violating_groups", "max_per_group")
    }
    rows.reduce(_ unionAll _)
      .selectExpr("fd", "lhs", "rhs", "n_rows", "n_groups",
        "violating_groups", "max_per_group",
        "round(CAST(violating_groups AS DOUBLE) / " +
          "CAST(n_groups AS DOUBLE), 6) AS violation_rate",
        "violating_groups = 0 AS holds",
        "violating_groups * 100 <= n_groups AS approx_holds")
      .orderBy("fd")
  }

  def fdDiscoveryOracle: String = {
    val selects = FdCandidates.map { case (name, table, lhs, rhs) =>
      val metric =
        if (rhs == "<row>") "count(*)" else s"count(DISTINCT $rhs)"
      s"""SELECT '$name' AS fd, '${lhs.mkString("+")}' AS lhs,
         |  '$rhs' AS rhs,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_groups,
         |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS violating_groups,
         |  CAST(max(m) AS BIGINT) AS max_per_group
         |FROM (SELECT $metric AS m, count(*) AS cnt FROM $table
         |  GROUP BY ${lhs.mkString(", ")})""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH g AS ($selects)
       |SELECT fd, lhs, rhs, n_rows, n_groups, violating_groups,
       |  max_per_group,
       |  round(CAST(violating_groups AS DOUBLE) /
       |    CAST(n_groups AS DOUBLE), 6) AS violation_rate,
       |  violating_groups = 0 AS holds,
       |  violating_groups * 100 <= n_groups AS approx_holds
       |FROM g ORDER BY fd""".stripMargin
  }

  // --- q242: range-selectivity histogram audit ----------------------------

  /** Equi-depth bucket count, the 1-in-k histogram build sample, and
    * the probe constants (build-time literals spanning the
    * o_totalprice range). */
  val HistBuckets = 20
  val HistSampleMod = 10L
  val HistProbes: Seq[Double] = Seq(
    3.3e7, 2.6e9, 6.3e10, 1.6e11, 2.45e11)

  /** q242 — range-selectivity histogram audit: the third leg of the
    * optimizer-statistics family (q226 prices join edges, q231 join
    * orders; this prices RANGE predicates). An equi-depth histogram is
    * built from a deterministic 1-in-[[HistSampleMod]] sample (the
    * production stats-build shape — percent_rank bucketing on the
    * sample, never a corpus sort), and each probe `val ≤ c` is
    * estimated as full-buckets-below plus linear interpolation in the
    * straddling bucket, scaled by the sampling factor — audited
    * against the exact count, next to the single-bucket uniform model
    * whose q-error shows what the histogram buys (~equal at the range
    * ends, decisively better in the skewed middle).
    *
    * Parity: bucket assignment is percent_rank → floor (the
    * engine-parity-safe decile-grid idiom); per-bucket interpolation
    * terms freeze to ×1e6 before the order-free sum; q-errors compare
    * frozen integers.
    *
    * Scale (100 TB): corpus work = the sample filter + ONE exact
    * count pass for the audit side (5 probes in one scan); the
    * histogram and every estimate are |buckets|-sized arithmetic. */
  def histSelectivity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = t(s, dir, "orders")
    // v = price² — a deterministic monotone transform giving the
    // SKEWED density a histogram exists for (the raw column is
    // near-uniform, where the single-bucket model is already right)
    val smp = ord
      .filter(call_function("md5_fp60",
        concat(lit("hist:"), col("o_orderkey").cast("string")))
        % HistSampleMod === 0)
      .selectExpr("o_totalprice * o_totalprice AS v")
    val bucketed = smp.withColumn("pr",
        percent_rank().over(Window.orderBy("v")))
      .withColumn("b",
        least(floor(col("pr") * HistBuckets), lit(HistBuckets - 1))
          .cast("bigint"))
    val hist = bucketed.groupBy("b")
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("lo"),
        max(col("v")).as("hi")).persist()
    val nSmp = hist.agg(sum(col("cnt")).as("n_s"),
      min(col("lo")).as("gmin"), max(col("hi")).as("gmax"))
    val probeGrid = s.createDataFrame(HistProbes.map(Tuple1(_)))
      .toDF("c")
    // per (probe, bucket) interpolation term, frozen ×1e6
    val est = probeGrid.crossJoin(hist)
      .withColumn("term_fp", floor(expr(
        "CASE WHEN hi <= c THEN CAST(cnt AS DOUBLE) " +
          "WHEN lo > c THEN 0.0 " +
          "WHEN hi > lo THEN CAST(cnt AS DOUBLE) * (c - lo) / " +
          "(hi - lo) ELSE CAST(cnt AS DOUBLE) END * 1e6"))
        .cast("bigint"))
      .groupBy("c").agg(sum(col("term_fp")).as("est_fp"))
    val actualAggs = HistProbes.zipWithIndex.map { case (c, i) =>
      sum(when(expr("o_totalprice * o_totalprice") <= c, 1L)
        .otherwise(0L)).as(s"a_$i") }
    val actual = ord.agg(actualAggs.head, actualAggs.tail: _*)
    val actualRows = HistProbes.zipWithIndex.map { case (c, i) =>
      actual.selectExpr(s"CAST($c AS DOUBLE) AS c",
        s"a_$i AS actual") }.reduce(_ unionAll _)
    est.join(actualRows, "c").crossJoin(broadcast(nSmp))
      .selectExpr("c", "actual",
        s"CAST(est_fp AS DOUBLE) / 1e6 * $HistSampleMod AS est_h",
        s"CAST(n_s AS DOUBLE) * $HistSampleMod * " +
          "(CASE WHEN c >= gmax THEN 1.0 WHEN c <= gmin THEN 0.0 " +
          "ELSE (c - gmin) / (gmax - gmin) END) AS est_n")
      .selectExpr("c", "actual",
        "round(est_h, 2) AS est_hist", "round(est_n, 2) AS est_naive",
        "round(greatest((est_h + 1.0) / (CAST(actual AS DOUBLE) + " +
          "1.0), (CAST(actual AS DOUBLE) + 1.0) / (est_h + 1.0)), 4)" +
          " AS qerr_hist",
        "round(greatest((est_n + 1.0) / (CAST(actual AS DOUBLE) + " +
          "1.0), (CAST(actual AS DOUBLE) + 1.0) / (est_n + 1.0)), 4)" +
          " AS qerr_naive",
        "greatest((est_h + 1.0) / (CAST(actual AS DOUBLE) + 1.0), " +
          "(CAST(actual AS DOUBLE) + 1.0) / (est_h + 1.0)) <= " +
          "greatest((est_n + 1.0) / (CAST(actual AS DOUBLE) + 1.0), " +
          "(CAST(actual AS DOUBLE) + 1.0) / (est_n + 1.0)) " +
          "AS hist_wins")
      .orderBy("c")
  }

  def histSelectivityOracle: String = {
    val sampleFp = "CAST('0x' || substr(md5('hist:' || " +
      "CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT)"
    val probeVals = HistProbes.map(c =>
      s"SELECT CAST($c AS DOUBLE) AS c0").mkString(" UNION ALL ")
    val actuals = HistProbes.zipWithIndex.map { case (c, i) =>
      s"CAST(sum(CASE WHEN o_totalprice * o_totalprice <= $c " +
        s"THEN 1 ELSE 0 END) AS BIGINT) AS a_$i" }.mkString(", ")
    val actualRows = HistProbes.zipWithIndex.map { case (c, i) =>
      s"SELECT CAST($c AS DOUBLE) AS c, a_$i AS actual FROM act"
    }.mkString(" UNION ALL ")
    s"""WITH smp AS (SELECT o_totalprice * o_totalprice AS v
       |  FROM orders
       |  WHERE $sampleFp % $HistSampleMod = 0),
       |bk AS (SELECT v, least(CAST(floor(pr * $HistBuckets) AS
       |      BIGINT), ${HistBuckets - 1}) AS b
       |  FROM (SELECT v, percent_rank() OVER (ORDER BY v) AS pr
       |    FROM smp)),
       |hist AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt,
       |    min(v) AS lo, max(v) AS hi FROM bk GROUP BY b),
       |ns AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_s,
       |    min(lo) AS gmin, max(hi) AS gmax FROM hist),
       |pc AS ($probeVals),
       |est AS (SELECT c, CAST(sum(term_fp) AS BIGINT) AS est_fp
       |  FROM (SELECT pc.c0 AS c, CAST(floor(
       |      CASE WHEN hi <= pc.c0 THEN CAST(cnt AS DOUBLE)
       |        WHEN lo > pc.c0 THEN 0.0
       |        WHEN hi > lo THEN CAST(cnt AS DOUBLE) *
       |          (pc.c0 - lo) / (hi - lo)
       |        ELSE CAST(cnt AS DOUBLE) END * 1e6) AS BIGINT)
       |      AS term_fp
       |    FROM pc CROSS JOIN hist) GROUP BY c),
       |act AS (SELECT $actuals FROM orders),
       |ar AS ($actualRows),
       |j AS (SELECT est.c, ar.actual,
       |    CAST(est_fp AS DOUBLE) / 1e6 * $HistSampleMod AS est_h,
       |    CAST(ns.n_s AS DOUBLE) * $HistSampleMod *
       |      (CASE WHEN est.c >= ns.gmax THEN 1.0
       |        WHEN est.c <= ns.gmin THEN 0.0
       |        ELSE (est.c - ns.gmin) / (ns.gmax - ns.gmin) END)
       |      AS est_n
       |  FROM est JOIN ar ON ar.c = est.c CROSS JOIN ns)
       |SELECT c, actual,
       |  round(est_h, 2) AS est_hist, round(est_n, 2) AS est_naive,
       |  round(greatest((est_h + 1.0) / (CAST(actual AS DOUBLE) +
       |    1.0), (CAST(actual AS DOUBLE) + 1.0) / (est_h + 1.0)), 4)
       |    AS qerr_hist,
       |  round(greatest((est_n + 1.0) / (CAST(actual AS DOUBLE) +
       |    1.0), (CAST(actual AS DOUBLE) + 1.0) / (est_n + 1.0)), 4)
       |    AS qerr_naive,
       |  greatest((est_h + 1.0) / (CAST(actual AS DOUBLE) + 1.0),
       |    (CAST(actual AS DOUBLE) + 1.0) / (est_h + 1.0)) <=
       |    greatest((est_n + 1.0) / (CAST(actual AS DOUBLE) + 1.0),
       |    (CAST(actual AS DOUBLE) + 1.0) / (est_n + 1.0))
       |    AS hist_wins
       |FROM j ORDER BY c""".stripMargin
  }

  // --- q238: HLL set algebra (union merge + inclusion-exclusion) ----------

  /** The audited set predicates over events (shared SQL, both
    * engines): two value bands with a planted overlap window, and two
    * DISJOINT type sets — the inclusion-exclusion caveat case. */
  val HllSetDefs: Seq[(String, String)] = Seq(
    ("lo_band", "value < 100"),
    ("hi_band", "value >= 50"),
    ("clicks", "event_type = 'click'"),
    ("views", "event_type = 'view'"))

  val HllSetPairs: Seq[(String, String, String)] = Seq(
    ("lo_hi", "lo_band", "hi_band"),
    ("lo_clicks", "lo_band", "clicks"),
    ("clicks_views", "clicks", "views"))

  /** q238 — HLL set algebra: the property that makes HLL an
    * infrastructure primitive is MERGEABILITY — union registers are
    * the elementwise MAX of the operands' registers, so per-segment
    * sketches combine without revisiting data — and the standard
    * intersection recipe |A∩B| ≈ est(A)+est(B)−est(A∪B)
    * (inclusion-exclusion) inherits ABSOLUTE error from three
    * estimates, so it degrades as the true intersection shrinks
    * relative to the union. This audit prices both: three pairs (big
    * overlap, partial overlap, and DISJOINT type sets where the
    * estimate is pure noise — possibly negative), each with exact
    * truths, sketch estimates, the union 3σ bound, and the
    * `inter_reliable` gate (exact∩ ≥ union/10) a production system
    * uses to decide when to trust the sketch vs fall back to an exact
    * join.
    *
    * Parity: the Spark side merges registers with zip_with/greatest
    * (the production merge); the oracle rebuilds the union sketch
    * from the unioned key stream — mathematically the same registers
    * (max over a union = max of maxes), so every derived double
    * matches bitwise through the q224 frozen-constant estimator.
    *
    * Scale (100 TB): per set, O(m)=256 longs cross the exchange; the
    * union costs a 256-element map per pair — no data contact. The
    * exact sides exist only to audit. */
  def hllSetAlgebra(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir).persist()
    val keyed = HllSetDefs.map { case (name, pred) =>
      ev.filter(expr(pred)).select(lit(name).as("set_name"),
        col("event_id").cast("string").as("k"))
    }.reduce(_ unionAll _)
    val hashed = keyed
      .withColumn("h", call_function("md5_fp60", col("k")))
      .withColumn("bkt", col("h") % HllM)
      .withColumn("rnk", expr(hllRankSql("h")).cast("long"))
    val sets = hashed.groupBy("set_name")
      .agg(expr(s"hll_agg(array(bkt, rnk), $HllM)").as("regs"),
        countDistinct(col("k")).as("exact_n")).persist()
    val pairs = s.createDataFrame(
      HllSetPairs.map(p => (p._1, p._2, p._3)))
      .toDF("pair", "sa", "sb")
    val exacts = HllSetPairs.map { case (pair, a, b) =>
      val (pa, pb) = (HllSetDefs.toMap.apply(a),
        HllSetDefs.toMap.apply(b))
      ev.agg(
        countDistinct(when(expr(s"($pa) AND ($pb)"), col("event_id")))
          .as("exact_inter"),
        countDistinct(when(expr(s"($pa) OR ($pb)"), col("event_id")))
          .as("exact_union"))
        .withColumn("pair", lit(pair))
    }.reduce(_ unionAll _)
    def estOf(regs: String, pfx: String) =
      Seq(s"CAST(size(filter($regs, r -> r = 0)) AS BIGINT) " +
        s"AS ${pfx}_vz",
        s"${hllSpSparkSql(regs)} AS ${pfx}_sp")
    val joined = pairs
      .join(sets.select(col("set_name").as("sa"),
        col("regs").as("ra"), col("exact_n").as("exact_a")), "sa")
      .join(sets.select(col("set_name").as("sb"),
        col("regs").as("rb"), col("exact_n").as("exact_b")), "sb")
      .join(exacts, "pair")
      .withColumn("ru",
        expr("zip_with(ra, rb, (x, y) -> greatest(x, y))"))
    joined.selectExpr(Seq("pair", "exact_a", "exact_b", "exact_union",
        "exact_inter") ++ estOf("ra", "a") ++ estOf("rb", "b") ++
        estOf("ru", "u"): _*)
      .selectExpr("pair", "exact_a", "exact_b", "exact_union",
        "exact_inter",
        s"${hllEstSql("a_sp", "a_vz", spark = true)} AS est_a",
        s"${hllEstSql("b_sp", "b_vz", spark = true)} AS est_b",
        s"${hllEstSql("u_sp", "u_vz", spark = true)} AS est_u")
      .selectExpr("pair", "exact_a", "exact_b", "exact_union",
        "exact_inter",
        "round(est_a, 4) AS est_a", "round(est_b, 4) AS est_b",
        "round(est_u, 4) AS est_union",
        "round(est_a + est_b - est_u, 4) AS est_inter",
        "round((est_u - CAST(exact_union AS DOUBLE)) / " +
          "CAST(exact_union AS DOUBLE) * 100.0, 4) AS union_err_pct",
        "abs((est_u - CAST(exact_union AS DOUBLE)) / " +
          "CAST(exact_union AS DOUBLE)) <= 0.195 AS union_within_3sig",
        "exact_inter * 10 >= exact_union AS inter_reliable")
      .orderBy("pair")
  }

  def hllSetAlgebraOracle: String = {
    val hash = "CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)"
    val setSelects = HllSetDefs.map { case (name, pred) =>
      s"SELECT '$name' AS set_name, CAST(event_id AS VARCHAR) AS k " +
        s"FROM events WHERE $pred"
    }.mkString("\n  UNION ALL ")
    // the union sketch rebuilds from the union KEY stream — equal to
    // the register-max merge by the max-of-max property
    val pairSelects = HllSetPairs.map { case (pair, a, b) =>
      val (pa, pb) = (HllSetDefs.toMap.apply(a),
        HllSetDefs.toMap.apply(b))
      s"""SELECT '$pair' AS pair, '$a' AS sa, '$b' AS sb,
         |  (SELECT count(DISTINCT event_id) FROM events
         |    WHERE ($pa) AND ($pb)) AS exact_inter,
         |  (SELECT count(DISTINCT event_id) FROM events
         |    WHERE ($pa) OR ($pb)) AS exact_union""".stripMargin
    }.mkString("\nUNION ALL ")
    val uSelects = HllSetPairs.map { case (pair, a, b) =>
      s"SELECT '$pair' AS set_name, k FROM keyed " +
        s"WHERE set_name = '$a' OR set_name = '$b'"
    }.mkString("\n  UNION ALL ")
    s"""WITH keyed AS (
       |  $setSelects),
       |allk AS (SELECT set_name, k FROM keyed
       |  UNION ALL $uSelects),
       |br AS (SELECT set_name, h % $HllM AS bkt,
       |    CAST(${hllRankSql("h")} AS BIGINT) AS rnk
       |  FROM (SELECT set_name, $hash AS h FROM allk)),
       |regs AS (SELECT set_name, bkt, max(rnk) AS r FROM br
       |  GROUP BY 1, 2),
       |grps AS (SELECT DISTINCT set_name FROM br),
       |dense AS (SELECT g.set_name, COALESCE(regs.r, 0) AS r
       |  FROM grps g
       |  CROSS JOIN (SELECT unnest(range(0, $HllM)) AS b) t
       |  LEFT JOIN regs ON regs.set_name = g.set_name
       |    AND regs.bkt = t.b),
       |st AS (SELECT set_name,
       |    sum(CAST((CAST(1 AS BIGINT) << CAST(60 - r AS INT))
       |      AS DECIMAL(38,0))) AS sp,
       |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS vz
       |  FROM dense GROUP BY 1),
       |ex AS (SELECT set_name, count(DISTINCT k) AS exact_n
       |  FROM keyed GROUP BY 1),
       |est AS (SELECT set_name,
       |    ${hllEstSql("st.sp", "st.vz", spark = false)} AS est
       |  FROM st),
       |pr AS ($pairSelects)
       |SELECT pr.pair, ea.exact_n AS exact_a, eb.exact_n AS exact_b,
       |  CAST(pr.exact_union AS BIGINT) AS exact_union,
       |  CAST(pr.exact_inter AS BIGINT) AS exact_inter,
       |  round(sa.est, 4) AS est_a, round(sb.est, 4) AS est_b,
       |  round(su.est, 4) AS est_union,
       |  round(sa.est + sb.est - su.est, 4) AS est_inter,
       |  round((su.est - CAST(pr.exact_union AS DOUBLE)) /
       |    CAST(pr.exact_union AS DOUBLE) * 100.0, 4)
       |    AS union_err_pct,
       |  abs((su.est - CAST(pr.exact_union AS DOUBLE)) /
       |    CAST(pr.exact_union AS DOUBLE)) <= 0.195
       |    AS union_within_3sig,
       |  pr.exact_inter * 10 >= pr.exact_union AS inter_reliable
       |FROM pr
       |JOIN ex ea ON ea.set_name = pr.sa
       |JOIN ex eb ON eb.set_name = pr.sb
       |JOIN est sa ON sa.set_name = pr.sa
       |JOIN est sb ON sb.set_name = pr.sb
       |JOIN est su ON su.set_name = pr.pair
       |ORDER BY pr.pair""".stripMargin
  }

  // --- q231: join-order costing audit -------------------------------------

  /** Uniform-containment join estimate n_a·n_b / max(d_a, d_b) — ONE
    * generated double expression shared by both engines (System R /
    * Selinger). Arguments are already-cast double sub-expressions. */
  private def selJoin(nA: String, dA: String, nB: String, dB: String)
      : String = s"(($nA) * ($nB) / greatest($dA, $dB))"

  private def selD(c: String): String = s"CAST($c AS DOUBLE)"

  /** The cascaded Selinger estimates per left-deep order: each step
    * reuses the previous estimate as the left input, with the left
    * side's distinct count preserved from the base table but capped at
    * the intermediate size (the textbook bookkeeping). Returns
    * (est1, est2, est3) expression strings over the stat column names
    * n_l, d_ok_l, d_pk_l, n_o, d_ck_o, n_c3, n_p. */
  private def selOrder(ord: String): (String, String, String) = {
    val (nl, dok, dpk) = (selD("n_l"), selD("d_ok_l"), selD("d_pk_l"))
    val (no, dck) = (selD("n_o"), selD("d_ck_o"))
    val (nc, np) = (selD("n_c3"), selD("n_p"))
    ord match {
      case "1_lo_c_p" =>
        val e1 = selJoin(nl, dok, no, no)
        val e2 = selJoin(e1, dck, nc, nc)
        val e3 = selJoin(e2, s"least($dpk, $e2)", np, np)
        (e1, e2, e3)
      case "2_lo_p_c" =>
        val e1 = selJoin(nl, dok, no, no)
        val e2 = selJoin(e1, s"least($dpk, $e1)", np, np)
        val e3 = selJoin(e2, s"least($dck, $e2)", nc, nc)
        (e1, e2, e3)
      case "3_lp_o_c" =>
        val e1 = selJoin(nl, dpk, np, np)
        val e2 = selJoin(e1, s"least($dok, $e1)", no, no)
        val e3 = selJoin(e2, s"least($dck, $e2)", nc, nc)
        (e1, e2, e3)
      case "4_oc_l_p" =>
        val e1 = selJoin(no, dck, nc, nc)
        val e2 = selJoin(e1, s"least($no, $e1)", nl, dok)
        val e3 = selJoin(e2, s"least($dpk, $e2)", np, np)
        (e1, e2, e3)
    }
  }

  private val SelOrders =
    Seq("1_lo_c_p", "2_lo_p_c", "3_lp_o_c", "4_oc_l_p")

  /** Per-order output expressions (SQL, shared verbatim): estimates
    * frozen at 2 decimals, cost at 2, q-error at 4; acts are the three
    * exact intermediate sizes for that order. */
  private def selRowSql(ord: String): String = {
    val (e1, e2, e3) = selOrder(ord)
    val acts = ord match {
      case "1_lo_c_p" => Seq("act_lo", "act_loc", "act_final")
      case "2_lo_p_c" => Seq("act_lo", "act_lop", "act_final")
      case "3_lp_o_c" => Seq("act_lp", "act_lop", "act_final")
      case "4_oc_l_p" => Seq("act_oc", "act_loc", "act_final")
    }
    val costFp = s"CAST(floor((($e1) + ($e2) + ($e3)) * 100) AS BIGINT)"
    val actCost = s"(${acts(0)} + ${acts(1)} + ${acts(2)})"
    val costD = s"(CAST($costFp AS DOUBLE) / 100)"
    val qe = s"greatest($costD / CAST($actCost AS DOUBLE), " +
      s"CAST($actCost AS DOUBLE) / $costD)"
    s"'$ord' AS ord, " +
      s"CAST(CAST(floor(($e1) * 100) AS BIGINT) AS DOUBLE) / 100 " +
      "AS est1, " +
      s"CAST(CAST(floor(($e2) * 100) AS BIGINT) AS DOUBLE) / 100 " +
      "AS est2, " +
      s"CAST(CAST(floor(($e3) * 100) AS BIGINT) AS DOUBLE) / 100 " +
      "AS est3, " +
      s"${acts(0)} AS act1, ${acts(1)} AS act2, ${acts(2)} AS act3, " +
      s"$costFp AS est_cost_fp, CAST($actCost AS BIGINT) AS act_cost, " +
      s"CAST(CAST(floor(($qe) * 10000) AS BIGINT) AS DOUBLE) / 10000 " +
      "AS q_error"
  }

  /** q231 — join-order costing audit: what cardinality estimation is
    * FOR — rank the left-deep join orders of the 4-table star query
    * lineitem ⋈ orders ⋈ customer(filtered to ⅓) ⋈ part by the
    * Selinger C_out cost (sum of cascaded uniform-containment
    * estimates over base-table stats) and audit each order's predicted
    * cost against its EXACT intermediate sizes — computed from
    * frequency-frame algebra, never by materializing a join. The
    * decision bit `model_agrees` (does the model's argmin equal the
    * true argmin?) is the planner's pass/fail; per-order q-errors show
    * WHERE the uniform model over/under-prices (the filtered-customer
    * edge violates containment exactly as q226 isolates). Starting
    * from the selective orders ⋈ filtered-customer edge wins by ~2×
    * in true C_out — the classic push-the-selective-join-first
    * lesson, here derived from statistics alone.
    *
    * Parity: all stats and actual sizes are exact integers; every
    * estimate is ONE generated double expression evaluated over those
    * integers on both engines; costs/q-errors freeze via floor fixed
    * point; argmins compare the frozen integers.
    *
    * Scale (100 TB): each stat is a map-side-combined (key, freq)
    * collapse or a freq-frame equi-join — the audit prices joins
    * without paying them; the 4-order costing itself is arithmetic on
    * one broadcast stats row, exactly how a planner consumes its
    * statistics catalog. */
  def joinOrderAudit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
    val cf = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("ck"))
    val pt = t(s, dir, "part").select(col("p_partkey").as("pk"))
    val statL = li.agg(count(lit(1)).as("n_l"),
      countDistinct(col("ok")).as("d_ok_l"),
      countDistinct(col("pk")).as("d_pk_l"))
    val statO = ord.agg(count(lit(1)).as("n_o"),
      countDistinct(col("ck")).as("d_ck_o"))
    val statC = cf.agg(count(lit(1)).as("n_c3"))
    val statP = pt.agg(count(lit(1)).as("n_p"))
    val fOk = li.groupBy("ok").agg(count(lit(1)).as("f_ok"))
    // exact intermediates from freq algebra (no row-level join output):
    val actLo = fOk.join(ord.select("ok"), "ok")
      .agg(coalesce(sum("f_ok"), lit(0L)).as("act_lo"))
    val actLp = li.groupBy("pk").agg(count(lit(1)).as("f_pk"))
      .join(pt, "pk")
      .agg(coalesce(sum("f_pk"), lit(0L)).as("act_lp"))
    val ordC = ord.join(cf, "ck").select("ok")
    val actOc = ordC.agg(count(lit(1)).as("act_oc"))
    val actLoc = fOk.join(ordC, "ok")
      .agg(coalesce(sum("f_ok"), lit(0L)).as("act_loc"))
    // L⋈O⋈P rows: per lineitem row, multiplicities f_O(ok)·f_P(pk)
    // (both key-unique FK parents ⇒ semi-join counts)
    val actLop = li.join(ord.select("ok"), "ok").join(pt, "pk")
      .agg(count(lit(1)).as("act_lop"))
    val actFinal = li.join(ordC, "ok").join(pt, "pk")
      .agg(count(lit(1)).as("act_final"))
    val statsRow = statL.crossJoin(statO).crossJoin(statC)
      .crossJoin(statP).crossJoin(actLo).crossJoin(actLp)
      .crossJoin(actOc).crossJoin(actLoc).crossJoin(actLop)
      .crossJoin(actFinal).persist()
    // one comma-joined projection list per order, wrapped in a struct
    // so selectExpr takes it as a single expression
    val unioned = SelOrders.map(o =>
      statsRow.selectExpr(s"struct(${selRowSql(o)}) AS r"))
      .reduce(_ unionAll _)
      .selectExpr("r.*")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    unioned
      .withColumn("picked_by_model",
        col("est_cost_fp") === min(col("est_cost_fp")).over(w))
      .withColumn("truly_best",
        col("act_cost") === min(col("act_cost")).over(w))
      .withColumn("model_agrees",
        max(when(col("picked_by_model") && col("truly_best"), 1)
          .otherwise(0)).over(w) === 1)
      .select(col("ord"), col("est1"), col("est2"), col("est3"),
        col("act1"), col("act2"), col("act3"),
        (col("est_cost_fp").cast("double") / 100).as("est_cost"),
        col("act_cost"), col("q_error"), col("picked_by_model"),
        col("truly_best"), col("model_agrees"))
      .orderBy("ord")
  }

  def joinOrderAuditOracle: String = {
    val rowSelects = SelOrders.map(o =>
      s"SELECT ${selRowSql(o)} FROM stats").mkString("\nUNION ALL ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem),
       |o AS (SELECT o_orderkey AS ok, o_custkey AS ck FROM orders),
       |cf AS (SELECT c_custkey AS ck FROM customer
       |  WHERE c_custkey % 3 = 0),
       |pt AS (SELECT p_partkey AS pk FROM part),
       |sl AS (SELECT CAST(count(*) AS BIGINT) AS n_l,
       |    CAST(count(DISTINCT ok) AS BIGINT) AS d_ok_l,
       |    CAST(count(DISTINCT pk) AS BIGINT) AS d_pk_l FROM li),
       |so AS (SELECT CAST(count(*) AS BIGINT) AS n_o,
       |    CAST(count(DISTINCT ck) AS BIGINT) AS d_ck_o FROM o),
       |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_c3 FROM cf),
       |sp AS (SELECT CAST(count(*) AS BIGINT) AS n_p FROM pt),
       |fok AS (SELECT ok, CAST(count(*) AS BIGINT) AS f_ok FROM li
       |  GROUP BY ok),
       |alo AS (SELECT COALESCE(CAST(sum(f_ok) AS BIGINT), 0) AS act_lo
       |  FROM fok JOIN o USING (ok)),
       |alp AS (SELECT COALESCE(CAST(sum(f_pk) AS BIGINT), 0) AS act_lp
       |  FROM (SELECT pk, CAST(count(*) AS BIGINT) AS f_pk FROM li
       |    GROUP BY pk) f JOIN pt USING (pk)),
       |oc AS (SELECT o.ok FROM o JOIN cf USING (ck)),
       |aoc AS (SELECT CAST(count(*) AS BIGINT) AS act_oc FROM oc),
       |aloc AS (SELECT COALESCE(CAST(sum(f_ok) AS BIGINT), 0)
       |    AS act_loc FROM fok JOIN oc USING (ok)),
       |alop AS (SELECT CAST(count(*) AS BIGINT) AS act_lop FROM li
       |  JOIN (SELECT ok FROM o) oo USING (ok) JOIN pt USING (pk)),
       |afin AS (SELECT CAST(count(*) AS BIGINT) AS act_final FROM li
       |  JOIN oc USING (ok) JOIN pt USING (pk)),
       |stats AS (SELECT * FROM sl, so, sc, sp, alo, alp, aoc, aloc,
       |  alop, afin),
       |rows_ AS ($rowSelects),
       |mm AS (SELECT min(est_cost_fp) AS me, min(act_cost) AS ma
       |  FROM rows_)
       |SELECT ord, est1, est2, est3, act1, act2, act3,
       |  CAST(est_cost_fp AS DOUBLE) / 100 AS est_cost, act_cost,
       |  q_error,
       |  est_cost_fp = me AS picked_by_model,
       |  act_cost = ma AS truly_best,
       |  (SELECT max(CASE WHEN r2.est_cost_fp = m2.me
       |      AND r2.act_cost = m2.ma THEN 1 ELSE 0 END)
       |    FROM rows_ r2, mm m2) = 1 AS model_agrees
       |FROM rows_, mm ORDER BY ord""".stripMargin
  }

  // --- q245: Mann–Whitney rank-sum drift test ----------------------------

  /** Day-of-month boundary splitting each stream into the two samples. */
  val MwSplitDay = 15
  /** Planted location shift added to the second half of the decoy type. */
  val MwPlantShift = 25.0

  /** q245 — Mann–Whitney U (Wilcoxon rank-sum) drift test per event
    * type, first half of the month vs second: the NONPARAMETRIC
    * companion to q155's KS statistic — sensitive to location shift
    * where KS measures sup-distance, and (unlike a t-test) immune to
    * the heavy tails synthetic metric streams carry. Tie-corrected:
    * ranks are midranks, the variance subtracts Σ(t³−t)/(n(n−1)).
    *
    * Exactness: the test runs on the (type, value) CELL grid (the q155
    * discipline) — 2·midrank = 2·cum_before + t + 1 is an INTEGER, so
    * 2·R₁ and 2·U₁ and the tie sum are exact bigints; only the final
    * z-score divides/sqrts doubles, one identical expression tree on
    * both engines.
    *
    * Fixture: the real streams are stationary (|z| small — that is the
    * audit's answer); one planted drift stream ('click_drift', second
    * half shifted by +[[MwPlantShift]]) pins the detector's fire side.
    *
    * Scale (100 TB): ONE map-combined collapse to (type, value, half)
    * cells; the rank window runs per type over |cells|, never |rows|;
    * everything after is |types| arithmetic. */
  /** Shared stats frame for q245/q252: per type (n1, n2, 2·R₁,
    * Σ(t³−t)) — exact bigints from the (type, value) cell grid. */
  private[operators] def mwStatsFrame(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val base = ev.selectExpr("event_type AS et", "value",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 END" +
        " AS h1")
    val plant = ev.filter(col("event_type") === "click").selectExpr(
      "'click_drift' AS et",
      s"value + CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 0.0 " +
        s"ELSE $MwPlantShift END AS value",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 END" +
        " AS h1")
    val cells = base.unionAll(plant).groupBy("et", "value")
      .agg(sum(col("h1")).as("n1c"),
        sum(lit(1L) - col("h1")).as("n2c"))
      .withColumn("t", col("n1c") + col("n2c"))
    val w = Window.partitionBy("et").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("cumb",
      coalesce(sum(col("t")).over(w), lit(0L)))
    ranked.groupBy("et").agg(
      sum(col("n1c")).as("n1"), sum(col("n2c")).as("n2"),
      sum(col("n1c") * (lit(2L) * col("cumb") + col("t") + lit(1L)))
        .as("r1x2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie_sum"))
  }

  /** The unrounded tie-corrected z expression over [[mwStatsFrame]]'s
    * columns — ONE fixed tree, stated identically in the oracle. */
  private[operators] val MwZExpr: String =
    "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) " +
      "- CAST(n1 * n2 AS DOUBLE)) / (2.0 * sqrt(" +
      "(CAST(n1 AS DOUBLE) * n2 / 12.0) * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))"

  def mwDrift(s: SparkSession, dir: String): DataFrame = {
    mwStatsFrame(s, dir)
      .selectExpr("et AS event_type", "n1", "n2",
        "r1x2 - n1 * (n1 + 1) AS u1x2", "tie_sum",
        s"round($MwZExpr, 4) AS z",
        s"abs($MwZExpr) > 2.576 AS drifted")
      .orderBy("event_type")
  }

  def mwDriftOracle: String = {
    val zExpr = "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) " +
      "- CAST(n1 * n2 AS DOUBLE)) / (2.0 * sqrt(" +
      "(CAST(n1 AS DOUBLE) * n2 / 12.0) * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))"
    s"""WITH src AS (
       |  SELECT event_type AS et, value,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0
       |      END AS h1
       |  FROM events
       |  UNION ALL
       |  SELECT 'click_drift' AS et,
       |    value + CASE WHEN extract(day FROM ts) <= $MwSplitDay
       |      THEN 0.0 ELSE $MwPlantShift END AS value,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0
       |      END AS h1
       |  FROM events WHERE event_type = 'click'),
       |cells AS (SELECT et, value,
       |    CAST(sum(h1) AS BIGINT) AS n1c,
       |    CAST(sum(1 - h1) AS BIGINT) AS n2c,
       |    CAST(count(*) AS BIGINT) AS t
       |  FROM src GROUP BY et, value),
       |rk AS (SELECT *, coalesce(sum(t) OVER (PARTITION BY et
       |    ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    1 PRECEDING), 0) AS cumb FROM cells),
       |st AS (SELECT et, CAST(sum(n1c) AS BIGINT) AS n1,
       |    CAST(sum(n2c) AS BIGINT) AS n2,
       |    CAST(sum(n1c * (2 * cumb + t + 1)) AS BIGINT) AS r1x2,
       |    CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
       |  FROM rk GROUP BY et)
       |SELECT et AS event_type, n1, n2,
       |  r1x2 - n1 * (n1 + 1) AS u1x2, tie_sum,
       |  round($zExpr, 4) AS z,
       |  abs($zExpr) > 2.576 AS drifted
       |FROM st ORDER BY event_type""".stripMargin
  }

  // --- q252: Benjamini–Hochberg FDR gate over the drift monitors ---------

  /** Two-sided z critical values for αk/m, α=0.05, m=6 monitors —
    * Φ⁻¹(1 − 0.05k/12) computed at BUILD time and injected as literals
    * (the q190 discount-table discipline: zero runtime libm beyond the
    * shared sqrt, bit-identical in both engines). Rebuild if the
    * monitor count changes. */
  val BhZCrit: Seq[Double] = Seq(
    2.638257273476751, 2.3939797998185104, 2.2414027276049464,
    2.128045234184984, 2.0368341317013874, 1.9599639845400536)

  /** q252 — Benjamini–Hochberg FDR control over the q245 drift
    * monitors: a fleet running one drift test per stream fires
    * spuriously at rate α EACH — at 10⁴ monitored sources that is a
    * pager storm. BH sorts the |z| scores descending, compares the
    * k-th against the αk/m critical value, and rejects exactly ranks
    * 1..k* where k* is the LAST passing rank — controlling the
    * expected false-discovery fraction at α across the whole fleet.
    *
    * Exactness: reuses [[mwStatsFrame]]'s exact integers and the ONE
    * [[MwZExpr]] double tree; critical values are build-time literals;
    * the BH step-up is integer rank algebra.
    *
    * Scale (100 TB): the monitor frame is |streams|-sized (metadata) —
    * the single-partition rank window costs nothing; all corpus work
    * is q245's one cell collapse. */
  def bhFdrGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the e0 suffix makes both engines PARSE the literals as doubles —
    // a plain decimal literal goes through DECIMAL and the two engines
    // round the cast differently in the last ulp
    val crit = BhZCrit.map(v => s"${v}e0").mkString(", ")
    val z = mwStatsFrame(s, dir)
      .selectExpr("et", s"$MwZExpr AS z")
      .withColumn("k", row_number().over(
        Window.orderBy(abs(col("z")).desc, col("et"))))
      .withColumn("zcrit",
        expr(s"CAST(element_at(array($crit), k) AS DOUBLE)"))
      .withColumn("passing", abs(col("z")) >= col("zcrit"))
    z.withColumn("kstar", max(when(col("passing"), col("k"))
        .otherwise(0)).over(Window.partitionBy()))
      .selectExpr("et AS event_type", "CAST(k AS BIGINT) AS k",
        "round(z, 4) AS z", "zcrit", "passing",
        "k <= kstar AS rejected")
      .orderBy("k")
  }

  def bhFdrGateOracle: String = {
    val crit = BhZCrit.map(v => s"${v}e0").mkString(", ")
    s"""WITH src AS (
       |  SELECT event_type AS et, value,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0
       |      END AS h1
       |  FROM events
       |  UNION ALL
       |  SELECT 'click_drift' AS et,
       |    value + CASE WHEN extract(day FROM ts) <= $MwSplitDay
       |      THEN 0.0 ELSE $MwPlantShift END AS value,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0
       |      END AS h1
       |  FROM events WHERE event_type = 'click'),
       |cells AS (SELECT et, value,
       |    CAST(sum(h1) AS BIGINT) AS n1c,
       |    CAST(sum(1 - h1) AS BIGINT) AS n2c,
       |    CAST(count(*) AS BIGINT) AS t
       |  FROM src GROUP BY et, value),
       |rk AS (SELECT *, coalesce(sum(t) OVER (PARTITION BY et
       |    ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    1 PRECEDING), 0) AS cumb FROM cells),
       |st AS (SELECT et, CAST(sum(n1c) AS BIGINT) AS n1,
       |    CAST(sum(n2c) AS BIGINT) AS n2,
       |    CAST(sum(n1c * (2 * cumb + t + 1)) AS BIGINT) AS r1x2,
       |    CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
       |  FROM rk GROUP BY et),
       |zz AS (SELECT et, $MwZExpr AS z
       |  FROM st),
       |kk AS (SELECT et, z,
       |    CAST(row_number() OVER (ORDER BY abs(z) DESC, et) AS BIGINT)
       |      AS k FROM zz),
       |cc AS (SELECT *, CAST(list_extract([$crit], k) AS DOUBLE)
       |      AS zcrit,
       |    abs(z) >= CAST(list_extract([$crit], k) AS DOUBLE)
       |      AS passing FROM kk),
       |ks AS (SELECT max(CASE WHEN passing THEN k ELSE 0 END) AS kstar
       |  FROM cc)
       |SELECT et AS event_type, k, round(z, 4) AS z, zcrit, passing,
       |  k <= kstar AS rejected
       |FROM cc, ks ORDER BY k""".stripMargin
  }

  // --- q255: token-concentration metrics (HHI / Gini / top share) --------

  /** q255 — corpus concentration audit per source: Herfindahl–Hirschman
    * index, Gini coefficient, and top-token share over each source's
    * token-frequency distribution. The inequality-measure companion to
    * q142's Zipf slope: Zipf fits the SHAPE of the frequency law, these
    * summarize how concentrated the probability mass actually is — the
    * first screen for template-stamped or single-boilerplate sources
    * before the heavier dedup detectors run.
    *
    * Fixture: a planted 'src_skew' source (every src0 doc collapsed to
    * one fixed token repeated) that must peg HHI→1 and top share→1 —
    * and Gini→0, the classic degenerate case (ONE type is perfect
    * equality among types) that makes reading HHI and Gini together,
    * not either alone, the point of the audit.
    *
    * Exactness: HHI = Σc²/C² and top share are single divisions of
    * exact bigints; Gini = (2·Σᵢ i·c₍ᵢ₎ − (n+1)·C) / (n·C) from an
    * integer rank window over the ≤|vocab| frequency cells.
    *
    * Scale (100 TB): the corpus collapses map-side to (source, token)
    * cells — vocabulary-sized, NOT data-sized (the closed-vocab memory:
    * this frame does not grow under corpus replication); all three
    * metrics are window/aggregate algebra on those cells. */
  def concentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    val plant = d.filter(col("source") === "src0")
      .withColumn("toks", split(col("text"), " "))
      .selectExpr("'src_skew' AS source",
        "array_join(array_repeat('skewtok', size(toks)), ' ') AS text")
    val cells = d.select(col("source"), col("text"))
      .unionAll(plant)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val ranked = cells.withColumn("i", row_number().over(
      Window.partitionBy("source").orderBy(col("c"), col("tok"))))
    ranked.groupBy("source").agg(
        count(lit(1)).as("n_types"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"),
        sum(col("i") * col("c")).as("s1"), max(col("c")).as("cmax"))
      .selectExpr("source", "n_types", "total",
        "round(CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE) * total)" +
          ", 6) AS hhi",
        "round(CAST(2 * s1 - (n_types + 1) * total AS DOUBLE) / " +
          "(CAST(n_types AS DOUBLE) * total), 6) AS gini",
        "round(CAST(cmax AS DOUBLE) / total, 6) AS top_share")
      .orderBy("source")
  }

  def concentrationOracle: String =
    s"""WITH plant AS (SELECT 'src_skew' AS source,
       |    trim(repeat('skewtok ',
       |      len(string_split(text, ' ')))) AS text
       |  FROM documents WHERE source = 'src0'),
       |c AS (SELECT source, text FROM documents
       |  UNION ALL SELECT source, text FROM plant),
       |cells AS (SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM c),
       |fc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM cells GROUP BY source, tok),
       |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY c, tok) AS BIGINT) AS i FROM fc),
       |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(c) AS BIGINT) AS total,
       |    CAST(sum(c * c) AS BIGINT) AS sumsq,
       |    CAST(sum(i * c) AS BIGINT) AS s1,
       |    CAST(max(c) AS BIGINT) AS cmax
       |  FROM rk GROUP BY source)
       |SELECT source, n_types, total,
       |  round(CAST(sumsq AS DOUBLE) / (CAST(total AS DOUBLE) * total),
       |    6) AS hhi,
       |  round(CAST(2 * s1 - (n_types + 1) * total AS DOUBLE) /
       |    (CAST(n_types AS DOUBLE) * total), 6) AS gini,
       |  round(CAST(cmax AS DOUBLE) / total, 6) AS top_share
       |FROM ag ORDER BY source""".stripMargin

  // --- q270: energy-distance two-sample drift test ------------------------

  /** Drift flag threshold on the scaled statistic nm/(n+m)·D², in
    * value units (set ~40× above the stationary fleet's observed
    * ceiling and ~50× below the planted shift's statistic). */
  val EnergyFlag = 100.0

  /** q270 — energy-distance two-sample test per stream (Székely–Rizzo):
    * D² = 2E|X−Y| − E|X−X′| − E|Y−Y′|, zero iff the distributions are
    * EQUAL — where q245's Mann–Whitney reads location and q155's KS
    * reads sup-distance, energy distance is consistent against EVERY
    * alternative (variance, shape, tails). On 1-D data every pairwise
    * term collapses to ONE sorted prefix pass: Σᵢⱼ|xᵢ−yⱼ| =
    * Σ_cells a_k(v_k·B_<k − Bv_<k) + b_k(v_k·A_<k − Av_<k) over the
    * merged value-cell grid — exact bigints, no pair join, no kernel,
    * no libm.
    *
    * Fixture: the q245 plant ('click_drift', +25 on the second half)
    * must dominate the scaled statistic; stationary streams sit near 0.
    *
    * Scale (100 TB): ONE (type, value, half) cell collapse; the prefix
    * pass is a window over value cells per type; output is |types|
    * rows. */
  def energyDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val base = ev.selectExpr("event_type AS et",
      "CAST(round(value * 100, 0) AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val plant = ev.filter(col("event_type") === "click").selectExpr(
      "'click_drift' AS et",
      s"CAST(round((value + CASE WHEN extract(day FROM ts) <= " +
        s"$MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0) " +
        "AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val cells = base.unionAll(plant).groupBy("et", "v")
      .agg(sum(col("h1")).as("a"), sum(lit(1L) - col("h1")).as("b"))
    val w = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = cells
      .withColumn("ca", coalesce(sum(col("a")).over(w), lit(0L)))
      .withColumn("cb", coalesce(sum(col("b")).over(w), lit(0L)))
      .withColumn("cav",
        coalesce(sum(expr("a * v")).over(w), lit(0L)))
      .withColumn("cbv",
        coalesce(sum(expr("b * v")).over(w), lit(0L)))
    pre.groupBy("et").agg(
        sum(col("a")).as("n"), sum(col("b")).as("m"),
        sum(expr("a * (v * cb - cbv) + b * (v * ca - cav)")).as("sxy"),
        sum(expr("a * (v * ca - cav)")).as("sxx"),
        sum(expr("b * (v * cb - cbv)")).as("syy"))
      .selectExpr("et AS event_type", "n AS n1", "m AS n2",
        "round(CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) / 100.0" +
          ", 4) AS e_cross",
        "round(2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n) " +
          "/ 100.0, 4) AS e_within_1",
        "round(2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m) " +
          "/ 100.0, 4) AS e_within_2",
        "round((2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) " +
          "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n) - " +
          "2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m)) " +
          "/ 100.0, 4) AS energy",
        "round(CAST(n AS DOUBLE) * m / (n + m) * " +
          "(2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) " +
          "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n) - " +
          "2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m)) " +
          "/ 100.0, 4) AS stat",
        "CAST(n AS DOUBLE) * m / (n + m) * " +
          "(2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) " +
          "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n) - " +
          "2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m)) " +
          s"/ 100.0 > $EnergyFlag AS drifted")
      .orderBy("event_type")
  }

  def energyDriftOracle: String = {
    val d2 = "(2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) " +
      "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n) - " +
      "2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m)) / 100.0"
    s"""WITH src AS (SELECT event_type AS et,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END AS h1
       |  FROM events
       |  UNION ALL
       |  SELECT 'click_drift',
       |    CAST(round((value + CASE WHEN extract(day FROM ts) <=
       |      $MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0)
       |      AS BIGINT),
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END
       |  FROM events WHERE event_type = 'click'),
       |cells AS (SELECT et, v, CAST(sum(h1) AS BIGINT) AS a,
       |    CAST(sum(1 - h1) AS BIGINT) AS b
       |  FROM src GROUP BY et, v),
       |pre AS (SELECT *,
       |    coalesce(CAST(sum(a) OVER w AS BIGINT), 0) AS ca,
       |    coalesce(CAST(sum(b) OVER w AS BIGINT), 0) AS cb,
       |    coalesce(CAST(sum(a * v) OVER w AS BIGINT), 0) AS cav,
       |    coalesce(CAST(sum(b * v) OVER w AS BIGINT), 0) AS cbv
       |  FROM cells
       |  WINDOW w AS (PARTITION BY et ORDER BY v ROWS BETWEEN
       |    UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |ag AS (SELECT et, CAST(sum(a) AS BIGINT) AS n,
       |    CAST(sum(b) AS BIGINT) AS m,
       |    CAST(sum(a * (v * cb - cbv) + b * (v * ca - cav))
       |      AS BIGINT) AS sxy,
       |    CAST(sum(a * (v * ca - cav)) AS BIGINT) AS sxx,
       |    CAST(sum(b * (v * cb - cbv)) AS BIGINT) AS syy
       |  FROM pre GROUP BY et)
       |SELECT et AS event_type, n AS n1, m AS n2,
       |  round(CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m) / 100.0,
       |    4) AS e_cross,
       |  round(2.0 * CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
       |    / 100.0, 4) AS e_within_1,
       |  round(2.0 * CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m)
       |    / 100.0, 4) AS e_within_2,
       |  round($d2, 4) AS energy,
       |  round(CAST(n AS DOUBLE) * m / (n + m) * $d2, 4) AS stat,
       |  CAST(n AS DOUBLE) * m / (n + m) * $d2 > $EnergyFlag
       |    AS drifted
       |FROM ag ORDER BY event_type""".stripMargin
  }

  // --- q271: joint-extremes (tail dependence) audit -----------------------

  /** Audited upper-quantile levels (percent). */
  val TailLevels: Seq[Int] = Seq(80, 90, 95)
  /** Planted whales: every 10th user's values scale ×3 in BOTH metrics. */
  val TailWhaleFactor = 3L

  /** q271 — upper-tail dependence between two per-user metrics
    * (browse spend X = click+view, transact spend Y = purchase+
    * signup+error): λ_U(q) = P(Y > Q_Y(q) | X > Q_X(q)).
    * Correlation (q90/q257) reads the BODY of the joint distribution;
    * capacity planning and fraud care about whether the extremes
    * co-occur — metrics can be body-independent and tail-coupled. The
    * planted whale cohort (every 10th user ×[[TailWhaleFactor]] on
    * both metrics) makes the upper tails co-move: λ_U must sit far
    * above the independence baseline 1−q at every level.
    *
    * Exactness: thresholds are lower order statistics on frozen ×100
    * cells; exceed/joint counts are integers; λ and lift are single
    * divisions.
    *
    * Scale (100 TB): one user_id exchange to per-user sums; threshold
    * selection on value cells; the joint count is one broadcast-
    * threshold pass. */
  def tailDependence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pu = t(s, dir, "events")
      .selectExpr("user_id", "event_type",
        s"CAST(round(value * CASE WHEN user_id % 10 = 0 THEN " +
          s"$TailWhaleFactor * 100 ELSE 100 END, 0) AS BIGINT) AS v")
      .groupBy("user_id").agg(
        sum(when(col("event_type").isin("click", "view"), col("v"))
          .otherwise(0L)).as("x"),
        sum(when(!col("event_type").isin("click", "view"), col("v"))
          .otherwise(0L)).as("y")).persist()
    val lv = TailLevels.map(q => s"SELECT $q AS q").mkString(
      " UNION ALL ")
    val levels = s.sql(lv)
    def thr(metric: String) = {
      val cells = pu.groupBy(metric).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(metric)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      cells.crossJoin(broadcast(levels))
        .filter(expr(s"100 * cum >= q * n"))
        .groupBy("q").agg(min(col(metric)).as(s"${metric}_thr"),
          min(col("n")).as("n"))
    }
    val thrs = thr("x").join(thr("y").drop("n"), "q")
    pu.crossJoin(broadcast(thrs))
      .groupBy("q", "x_thr", "y_thr", "n").agg(
        sum(when(col("x") > col("x_thr"), 1L).otherwise(0L))
          .as("n_exceed_x"),
        sum(when(col("x") > col("x_thr") && col("y") > col("y_thr"),
          1L).otherwise(0L)).as("n_joint"))
      .selectExpr("q AS level_pct",
        "CAST(x_thr AS DOUBLE) / 100.0 AS x_thr",
        "CAST(y_thr AS DOUBLE) / 100.0 AS y_thr",
        "n_exceed_x", "n_joint",
        "CASE WHEN n_exceed_x > 0 THEN round(CAST(n_joint AS DOUBLE)" +
          " / n_exceed_x, 4) END AS lambda_u",
        "CASE WHEN n_exceed_x > 0 THEN round(CAST(n_joint AS DOUBLE)" +
          " / n_exceed_x / ((100.0 - q) / 100.0), 4) END " +
          "AS lift_vs_indep")
      .orderBy("level_pct")
  }

  def tailDependenceOracle: String = {
    val lv = TailLevels.map(q => s"SELECT $q AS q").mkString(
      " UNION ALL ")
    def thr(m: String) =
      s"""(SELECT q, CAST(min($m) AS BIGINT) AS ${m}_thr,
         |    CAST(min(n) AS BIGINT) AS n
         |  FROM (SELECT $m,
         |      CAST(sum(cnt) OVER (ORDER BY $m ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |      CAST(sum(cnt) OVER () AS BIGINT) AS n
         |    FROM (SELECT $m, CAST(count(*) AS BIGINT) AS cnt FROM pu
         |      GROUP BY $m)) c, lv
         |  WHERE 100 * cum >= q * n GROUP BY q)""".stripMargin
    s"""WITH pu AS (SELECT user_id,
       |    CAST(sum(CASE WHEN event_type IN ('click', 'view') THEN
       |      CAST(round(value * CASE WHEN user_id % 10 = 0 THEN
       |      $TailWhaleFactor * 100 ELSE 100 END, 0) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN event_type NOT IN ('click', 'view') THEN
       |      CAST(round(value * CASE WHEN user_id % 10 = 0 THEN
       |      $TailWhaleFactor * 100 ELSE 100 END, 0) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS y
       |  FROM events GROUP BY user_id),
       |lv AS ($lv),
       |tx AS ${thr("x")},
       |ty AS ${thr("y")},
       |th AS (SELECT tx.q, x_thr, y_thr, tx.n FROM tx
       |  JOIN ty ON ty.q = tx.q)
       |SELECT th.q AS level_pct,
       |  CAST(x_thr AS DOUBLE) / 100.0 AS x_thr,
       |  CAST(y_thr AS DOUBLE) / 100.0 AS y_thr,
       |  CAST(sum(CASE WHEN x > x_thr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exceed_x,
       |  CAST(sum(CASE WHEN x > x_thr AND y > y_thr THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_joint,
       |  CASE WHEN sum(CASE WHEN x > x_thr THEN 1 ELSE 0 END) > 0
       |    THEN round(CAST(sum(CASE WHEN x > x_thr AND y > y_thr
       |    THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN x > x_thr
       |    THEN 1 ELSE 0 END), 4) END AS lambda_u,
       |  CASE WHEN sum(CASE WHEN x > x_thr THEN 1 ELSE 0 END) > 0
       |    THEN round(CAST(sum(CASE WHEN x > x_thr AND y > y_thr
       |    THEN 1 ELSE 0 END) AS DOUBLE) / sum(CASE WHEN x > x_thr
       |    THEN 1 ELSE 0 END) / ((100.0 - th.q) / 100.0), 4) END
       |    AS lift_vs_indep
       |FROM pu, th GROUP BY th.q, x_thr, y_thr
       |ORDER BY level_pct""".stripMargin
  }

  // --- q278: Wasserstein-1 (earth-mover) drift -----------------------------

  /** W1 drift flag threshold, in `value` units: the planted
    * [[MwPlantShift]] = 25.0 shift must fire; natural half-month
    * variation on the un-planted streams stays well under it. */
  val W1Flag = 5.0

  /** q278 — Wasserstein-1 (earth-mover) drift per event type between
    * the two half-month snapshots (the q245/q270 split and plant):
    * completes the drift family with the MAGNITUDE-aware metric. q155's
    * KS reports the largest CDF gap (bounded by 1, blind to how FAR
    * mass moved), q245's MW reports rank evidence, q270's energy is a
    * squared-distance statistic in test units — W1 = ∫|F₁−F₂| is the
    * average distance mass must travel, in the VALUE's own units, so
    * "W1 ≈ 25" reads directly as "the distribution shifted by ~25".
    * For the planted click_drift stream (second half +25.0) W1 must
    * report ≈ [[MwPlantShift]]; every natural stream stays near 0.
    *
    * Exactness: values collapse to ×100 integer cells (the family
    * discipline); per-cell |F₁−F₂|·gap is |ca·m − cb·n|·gap — an exact
    * BIGINT in the fused numerator — frozen to a ×1e9 fixed-point term
    * after the single double division by n·m, so the cross-cell total
    * is an order-free integer sum (the q195/q275 discipline).
    *
    * Scale (100 TB): one (type, value-cell) collapse with map-side
    * combine; the cumulative window runs per type over the CELL grid
    * (value-resolution-bounded, saturates under replication — the q155
    * argument); no join, no pair, no sort beyond the grid window. */
  def w1Drift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val base = ev.selectExpr("event_type AS et",
      "CAST(round(value * 100, 0) AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val plant = ev.filter(col("event_type") === "click").selectExpr(
      "'click_drift' AS et",
      s"CAST(round((value + CASE WHEN extract(day FROM ts) <= " +
        s"$MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0) " +
        "AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val cells = base.unionAll(plant).groupBy("et", "v")
      .agg(sum(col("h1")).as("a"), sum(lit(1L) - col("h1")).as("b"))
    val w = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("et")
    val pre = cells
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .withColumn("gap",
        coalesce(lead(col("v"), 1).over(
          Window.partitionBy("et").orderBy("v")) - col("v"), lit(0L)))
      .withColumn("n", sum(col("a")).over(wAll))
      .withColumn("m", sum(col("b")).over(wAll))
    pre
      .withColumn("term_fp", expr(
        "CAST(floor(CAST(abs(ca * m - cb * n) AS DOUBLE) * gap " +
          "/ n / m * 1e9) AS BIGINT)"))
      .groupBy("et").agg(max(col("n")).as("n1"), max(col("m")).as("n2"),
        sum(col("term_fp")).as("w1_fp"))
      .selectExpr("et AS event_type", "n1", "n2",
        "round(CAST(w1_fp AS DOUBLE) / 1e9 / 100.0, 4) AS w1",
        s"CAST(w1_fp AS DOUBLE) / 1e9 / 100.0 > $W1Flag AS drifted")
      .orderBy("event_type")
  }

  def w1DriftOracle: String =
    s"""WITH src AS (SELECT event_type AS et,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END AS h1
       |  FROM events
       |  UNION ALL
       |  SELECT 'click_drift',
       |    CAST(round((value + CASE WHEN extract(day FROM ts) <=
       |      $MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0)
       |      AS BIGINT),
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END
       |  FROM events WHERE event_type = 'click'),
       |cells AS (SELECT et, v, CAST(sum(h1) AS BIGINT) AS a,
       |    CAST(sum(1 - h1) AS BIGINT) AS b
       |  FROM src GROUP BY et, v),
       |pre AS (SELECT et, v, a, b,
       |    CAST(sum(a) OVER (PARTITION BY et ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS ca,
       |    CAST(sum(b) OVER (PARTITION BY et ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cb,
       |    coalesce(lead(v, 1) OVER (PARTITION BY et ORDER BY v) - v,
       |      0) AS gap,
       |    CAST(sum(a) OVER (PARTITION BY et) AS BIGINT) AS n,
       |    CAST(sum(b) OVER (PARTITION BY et) AS BIGINT) AS m
       |  FROM cells),
       |terms AS (SELECT et, n, m,
       |    CAST(floor(CAST(abs(ca * m - cb * n) AS DOUBLE) * gap
       |      / n / m * 1e9) AS BIGINT) AS term_fp
       |  FROM pre)
       |SELECT et AS event_type, max(n) AS n1, max(m) AS n2,
       |  round(CAST(sum(term_fp) AS DOUBLE) / 1e9 / 100.0, 4) AS w1,
       |  CAST(sum(term_fp) AS DOUBLE) / 1e9 / 100.0 > $W1Flag
       |    AS drifted
       |FROM terms GROUP BY et ORDER BY event_type""".stripMargin

  // --- q280: Hill tail-index estimator -------------------------------------

  /** Order statistics the Hill estimator averages over (top-K per
    * source). */
  val HillK = 25

  /** Heavy-tail verdict threshold: tail index α < 2 ⇒ infinite
    * variance ⇒ mean-based size accounting is unstable for the source. */
  val HillHeavy = 2.0

  /** q280 — Hill tail-index of the document-size distribution per
    * source: α̂ = 1 / mean(ln x₍ᵢ₎ − ln x₍ₖ₎) over the top-[[HillK]]
    * order statistics. q142's Zipf slope measures the VOCABULARY's
    * power law; this measures the SIZE distribution's tail — the number
    * that decides whether per-source size budgeting can use means
    * (α > 2) or must switch to quantile-based accounting (α ≤ 2,
    * infinite variance: a single document can dominate a shard, the
    * straggler mode q100/q105 plan around). The planted 'pareto'
    * source applies x → x² div 100 to src0's sizes, which doubles
    * every log-spacing and therefore must report ~half src0's tail
    * index (spec-pinned to 1%; the div-100 truncation keeps it from
    * being exact; at the fixture's short
    * synthetic sizes every source reads α < 2, so the discriminating
    * output is the index itself, not the flag).
    *
    * Exactness: each of the K−1 log-spacings freezes to a ×1e6 BIGINT
    * the moment it is computed (the q142 ln discipline), so the mean is
    * an exact integer sum and α is one final double division.
    *
    * Scale (100 TB): the rank window partitions by source and the
    * top-K filter prunes immediately after it (K rows per source
    * survive); at 1000 executors this is one shuffle on source with
    * the per-partition top-K pushed map-side (WindowGroupLimit). */
  def hillTail(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    val base = d.selectExpr("source", "n_chars AS x", "doc_id")
    // planted heavy tail: squared-and-rescaled doc sizes — a Pareto-ish
    // transform (x → x² div 100) that thickens the upper tail decisively
    val plant = d.filter(col("source") === "src0")
      .selectExpr("'pareto_plant' AS source",
        "(n_chars * n_chars) div 100 AS x", "doc_id")
    val ranked = base.unionAll(plant)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("x").desc, col("doc_id"))))
      .filter(col("rk") <= HillK)
    val xk = ranked.filter(col("rk") === HillK)
      .select(col("source"), col("x").as("xk"))
    ranked.filter(col("rk") < HillK)
      .join(xk, "source")
      .withColumn("sp_fp", expr(
        "CAST(floor((ln(CAST(x AS DOUBLE)) - ln(CAST(xk AS DOUBLE))) " +
          "* 1000000.0) AS BIGINT)"))
      .groupBy("source").agg(count(lit(1)).as("k_used"),
        sum(col("sp_fp")).as("ss_fp"), max(col("xk")).as("x_k"))
      .selectExpr("source", "k_used", "x_k",
        "round(CAST(ss_fp AS DOUBLE) / 1e6 / k_used, 6) AS hill_h",
        "round(CAST(k_used AS DOUBLE) * 1e6 / CAST(ss_fp AS DOUBLE)" +
          ", 6) AS tail_index",
        s"CAST(k_used AS DOUBLE) * 1e6 / CAST(ss_fp AS DOUBLE) " +
          s"< $HillHeavy AS heavy_tail")
      .orderBy("source")
  }

  def hillTailOracle: String =
    s"""WITH base AS (SELECT source, n_chars AS x, doc_id
       |  FROM documents
       |  UNION ALL
       |  SELECT 'pareto_plant',
       |    CAST((n_chars * n_chars) // 100 AS BIGINT), doc_id
       |  FROM documents WHERE source = 'src0'),
       |ranked AS (SELECT source, x, row_number() OVER (
       |    PARTITION BY source ORDER BY x DESC, doc_id) AS rk
       |  FROM base),
       |xk AS (SELECT source, x AS xk FROM ranked WHERE rk = $HillK),
       |sp AS (SELECT r.source,
       |    CAST(floor((ln(CAST(r.x AS DOUBLE))
       |      - ln(CAST(xk.xk AS DOUBLE))) * 1000000.0) AS BIGINT)
       |      AS sp_fp, xk.xk
       |  FROM ranked r JOIN xk ON xk.source = r.source
       |  WHERE r.rk < $HillK)
       |SELECT source, count(*) AS k_used, max(xk) AS x_k,
       |  round(CAST(sum(sp_fp) AS DOUBLE) / 1e6 / count(*), 6)
       |    AS hill_h,
       |  round(CAST(count(*) AS DOUBLE) * 1e6
       |    / CAST(sum(sp_fp) AS DOUBLE), 6) AS tail_index,
       |  CAST(count(*) AS DOUBLE) * 1e6 / CAST(sum(sp_fp) AS DOUBLE)
       |    < $HillHeavy AS heavy_tail
       |FROM sp GROUP BY source ORDER BY source""".stripMargin

  // --- q300: drift-detector consensus fleet ---------------------------------

  /** KS two-sample α=0.05 critical coefficient and the MW critical z
    * (q245's 99% two-sided). */
  val KsCoef = 1.358
  val MwCrit = 2.576

  /** q300 — drift-detector consensus: the q156 agreement-Venn pattern
    * applied to the DRIFT fleet. Five detectors with different failure
    * modes — KS (max CDF gap, bounded), Wasserstein-1 (magnitude in
    * value units), Mann–Whitney (rank evidence, tie-corrected),
    * energy distance (squared-distance statistic), PSI (binned
    * share divergence, the scorecard favorite) — all evaluate the SAME
    * half-month split and plant (the q245/q270/q278 convention,
    * restated on ×100 integer cells). The output is the consensus
    * table: which detectors fire per stream, the majority verdict, and
    * the disagreement flag that routes a stream to a human instead of
    * an auto-page. The planted click_drift stream must fire all five;
    * disagreement on natural streams is the fleet's noise floor made
    * visible.
    *
    * Scale (100 TB): ONE (type, value-cell) collapse feeds the whole
    * fleet — KS/W1/MW/energy read it through one ordered window pass,
    * PSI through a 10-bin re-collapse — so five monitors cost one
    * cell-grid scan, not five event-log scans. Every cross-cell sum is
    * an exact integer (the detectors' own ×1e9 freezes); the five
    * statistics are fixed-order double expressions per stream row. */
  def driftConsensus(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events")
    val base = ev.selectExpr("event_type AS et",
      "CAST(round(value * 100, 0) AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val plant = ev.filter(col("event_type") === "click").selectExpr(
      "'click_drift' AS et",
      s"CAST(round((value + CASE WHEN extract(day FROM ts) <= " +
        s"$MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0) " +
        "AS BIGINT) AS v",
      s"CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1 ELSE 0 " +
        "END AS h1")
    val cells = base.unionAll(plant).groupBy("et", "v")
      .agg(sum(col("h1")).as("a"), sum(lit(1L) - col("h1")).as("b"))
      .persist()
    val wIn = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wEx = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("et")
    val pre = cells
      .withColumn("ca", sum(col("a")).over(wIn))
      .withColumn("cb", sum(col("b")).over(wIn))
      .withColumn("cax", coalesce(sum(col("a")).over(wEx), lit(0L)))
      .withColumn("cbx", coalesce(sum(col("b")).over(wEx), lit(0L)))
      .withColumn("cav", coalesce(sum(expr("a * v")).over(wEx), lit(0L)))
      .withColumn("cbv", coalesce(sum(expr("b * v")).over(wEx), lit(0L)))
      .withColumn("cumb", coalesce(sum(expr("a + b")).over(wEx), lit(0L)))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(
        Window.partitionBy("et").orderBy("v")) - col("v"), lit(0L)))
      .withColumn("n", sum(col("a")).over(wAll))
      .withColumn("m", sum(col("b")).over(wAll))
    val main = pre
      .withColumn("w1term", expr(
        "CAST(floor(CAST(abs(ca * m - cb * n) AS DOUBLE) * gap " +
          "/ n / m * 1e9) AS BIGINT)"))
      .groupBy("et").agg(
        max(col("n")).as("n1"), max(col("m")).as("n2"),
        max(expr("abs(ca * m - cb * n)")).as("ks_int"),
        sum(col("w1term")).as("w1_fp"),
        sum(expr("a * (2 * cumb + a + b + 1)")).as("r1x2"),
        sum(expr("(a + b) * (a + b) * (a + b) - (a + b)"))
          .as("tie_sum"),
        sum(expr("a * (v * cbx - cbv) + b * (v * cax - cav)"))
          .as("sxy"),
        sum(expr("a * (v * cax - cav)")).as("sxx"),
        sum(expr("b * (v * cbx - cbv)")).as("syy"))
    // PSI over fixed-width bins, dense-completed with Laplace smoothing
    val binned = cells
      .withColumn("bin", expr(
        s"least(v div ${(PsiBinWidth * 100).toLong}, ${PsiBins - 1})"))
      .groupBy("et", "bin")
      .agg(sum(col("a")).as("a_cnt"), sum(col("b")).as("b_cnt"))
    val tot = binned.groupBy("et")
      .agg(sum(col("a_cnt")).as("n_a"), sum(col("b_cnt")).as("n_b"))
    val psi = tot
      .select(col("et"), col("n_a"), col("n_b"), explode(expr(
        s"sequence(CAST(0 AS BIGINT), CAST(${PsiBins - 1} AS BIGINT))"))
        .as("bin"))
      .join(binned, Seq("et", "bin"), "left")
      .na.fill(0L, Seq("a_cnt", "b_cnt"))
      .withColumn("term_fp", expr(
        s"CAST(floor((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins) - " +
          s"CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins)) * " +
          s"ln((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins)) / " +
          s"(CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins))) * " +
          "1000000000.0) AS BIGINT)"))
      .groupBy("et").agg(sum(col("term_fp")).as("psi_fp"))
    val ks = "CAST(ks_int AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)"
    val ksCrit = s"$KsCoef * sqrt(CAST(n1 + n2 AS DOUBLE) / " +
      "(CAST(n1 AS DOUBLE) * n2))"
    val w1 = "CAST(w1_fp AS DOUBLE) / 1e9 / 100.0"
    val energy = "CAST(n1 AS DOUBLE) * n2 / (n1 + n2) * " +
      "(2.0 * CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) " +
      "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1) - " +
      "2.0 * CAST(syy AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2)) / 100.0"
    main.join(broadcast(psi), "et")
      .withColumn("f_ks", expr(s"$ks > $ksCrit"))
      .withColumn("f_w1", expr(s"$w1 > $W1Flag"))
      .withColumn("f_mw", expr(s"abs($MwZExpr) > $MwCrit"))
      .withColumn("f_en", expr(s"$energy > $EnergyFlag"))
      .withColumn("f_psi", expr(s"psi_fp >= $PsiActFp"))
      .withColumn("n_fired", expr(
        "CAST(f_ks AS INT) + CAST(f_w1 AS INT) + CAST(f_mw AS INT) " +
          "+ CAST(f_en AS INT) + CAST(f_psi AS INT)"))
      .selectExpr("et AS event_type", "n1", "n2",
        s"round($ks, 6) AS ks", "f_ks",
        s"round($w1, 4) AS w1", "f_w1",
        s"round($MwZExpr, 4) AS mw_z", "f_mw",
        s"round($energy, 4) AS energy", "f_en",
        "round(CAST(psi_fp AS DOUBLE) / 1e9, 6) AS psi", "f_psi",
        "CAST(n_fired AS BIGINT) AS n_fired",
        "n_fired >= 3 AS consensus_drift",
        "n_fired > 0 AND n_fired < 5 AS disagreement")
      .orderBy("event_type")
  }

  def driftConsensusOracle: String = {
    val mwz = "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) " +
      "- CAST(n1 * n2 AS DOUBLE)) / (2.0 * sqrt(" +
      "(CAST(n1 AS DOUBLE) * n2 / 12.0) * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))))"
    val ks = "CAST(ks_int AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)"
    val ksCrit = s"$KsCoef * sqrt(CAST(n1 + n2 AS DOUBLE) / " +
      "(CAST(n1 AS DOUBLE) * n2))"
    val w1 = "CAST(w1_fp AS DOUBLE) / 1e9 / 100.0"
    val energy = "CAST(n1 AS DOUBLE) * n2 / (n1 + n2) * " +
      "(2.0 * CAST(sxy AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) " +
      "- 2.0 * CAST(sxx AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1) - " +
      "2.0 * CAST(syy AS DOUBLE) / (CAST(n2 AS DOUBLE) * n2)) / 100.0"
    s"""WITH src AS (SELECT event_type AS et,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v,
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END AS h1
       |  FROM events
       |  UNION ALL
       |  SELECT 'click_drift',
       |    CAST(round((value + CASE WHEN extract(day FROM ts) <=
       |      $MwSplitDay THEN 0.0 ELSE $MwPlantShift END) * 100, 0)
       |      AS BIGINT),
       |    CASE WHEN extract(day FROM ts) <= $MwSplitDay THEN 1
       |      ELSE 0 END
       |  FROM events WHERE event_type = 'click'),
       |cells AS (SELECT et, v, CAST(sum(h1) AS BIGINT) AS a,
       |    CAST(sum(1 - h1) AS BIGINT) AS b
       |  FROM src GROUP BY et, v),
       |pre AS (SELECT et, v, a, b,
       |    CAST(sum(a) OVER wi AS BIGINT) AS ca,
       |    CAST(sum(b) OVER wi AS BIGINT) AS cb,
       |    CAST(coalesce(sum(a) OVER wx, 0) AS BIGINT) AS cax,
       |    CAST(coalesce(sum(b) OVER wx, 0) AS BIGINT) AS cbx,
       |    CAST(coalesce(sum(a * v) OVER wx, 0) AS BIGINT) AS cav,
       |    CAST(coalesce(sum(b * v) OVER wx, 0) AS BIGINT) AS cbv,
       |    CAST(coalesce(sum(a + b) OVER wx, 0) AS BIGINT) AS cumb,
       |    coalesce(lead(v) OVER (PARTITION BY et ORDER BY v) - v, 0)
       |      AS gap,
       |    CAST(sum(a) OVER (PARTITION BY et) AS BIGINT) AS n,
       |    CAST(sum(b) OVER (PARTITION BY et) AS BIGINT) AS m
       |  FROM cells
       |  WINDOW wi AS (PARTITION BY et ORDER BY v ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wx AS (PARTITION BY et ORDER BY v ROWS BETWEEN
       |      UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |main AS (SELECT et, max(n) AS n1, max(m) AS n2,
       |    CAST(max(abs(ca * m - cb * n)) AS BIGINT) AS ks_int,
       |    CAST(sum(CAST(floor(CAST(abs(ca * m - cb * n) AS DOUBLE)
       |      * gap / n / m * 1e9) AS BIGINT)) AS BIGINT) AS w1_fp,
       |    CAST(sum(a * (2 * cumb + a + b + 1)) AS BIGINT) AS r1x2,
       |    CAST(sum((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT)
       |      AS tie_sum,
       |    CAST(sum(a * (v * cbx - cbv) + b * (v * cax - cav))
       |      AS BIGINT) AS sxy,
       |    CAST(sum(a * (v * cax - cav)) AS BIGINT) AS sxx,
       |    CAST(sum(b * (v * cbx - cbv)) AS BIGINT) AS syy
       |  FROM pre GROUP BY et),
       |binned AS (SELECT et,
       |    least(v // ${(PsiBinWidth * 100).toLong}, ${PsiBins - 1})
       |      AS bin,
       |    CAST(sum(a) AS BIGINT) AS a_cnt,
       |    CAST(sum(b) AS BIGINT) AS b_cnt
       |  FROM cells GROUP BY 1, 2),
       |tt AS (SELECT et, CAST(sum(a_cnt) AS BIGINT) AS n_a,
       |    CAST(sum(b_cnt) AS BIGINT) AS n_b
       |  FROM binned GROUP BY et),
       |dense AS (SELECT tt.et, tt.n_a, tt.n_b, g.bin,
       |    coalesce(binned.a_cnt, 0) AS a_cnt,
       |    coalesce(binned.b_cnt, 0) AS b_cnt
       |  FROM tt CROSS JOIN (SELECT CAST(unnest(range(0, $PsiBins))
       |    AS BIGINT) AS bin) g
       |  LEFT JOIN binned ON binned.et = tt.et AND binned.bin = g.bin),
       |psi AS (SELECT et, CAST(sum(CAST(floor(
       |    (CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins) -
       |     CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins)) *
       |    ln((CAST(a_cnt + 1 AS DOUBLE) / (n_a + $PsiBins)) /
       |       (CAST(b_cnt + 1 AS DOUBLE) / (n_b + $PsiBins))) *
       |    1000000000.0) AS BIGINT)) AS BIGINT) AS psi_fp
       |  FROM dense GROUP BY et),
       |j AS (SELECT main.*, psi.psi_fp FROM main
       |  JOIN psi ON psi.et = main.et),
       |fl AS (SELECT *,
       |    $ks > $ksCrit AS f_ks,
       |    $w1 > $W1Flag AS f_w1,
       |    abs($mwz) > $MwCrit AS f_mw,
       |    $energy > $EnergyFlag AS f_en,
       |    psi_fp >= $PsiActFp AS f_psi
       |  FROM j),
       |nf AS (SELECT *,
       |    CAST(f_ks AS INT) + CAST(f_w1 AS INT) + CAST(f_mw AS INT)
       |      + CAST(f_en AS INT) + CAST(f_psi AS INT) AS n_fired
       |  FROM fl)
       |SELECT et AS event_type, n1, n2,
       |  round($ks, 6) AS ks, f_ks,
       |  round($w1, 4) AS w1, f_w1,
       |  round($mwz, 4) AS mw_z, f_mw,
       |  round($energy, 4) AS energy, f_en,
       |  round(CAST(psi_fp AS DOUBLE) / 1e9, 6) AS psi, f_psi,
       |  CAST(n_fired AS BIGINT) AS n_fired,
       |  n_fired >= 3 AS consensus_drift,
       |  n_fired > 0 AND n_fired < 5 AS disagreement
       |FROM nf ORDER BY event_type""".stripMargin
  }

  // --- q312: source-pair Jensen–Shannon divergence matrix -----------------

  /** ln 2 as a build-time literal injected into BOTH engines (the
    * IrDiscFp pattern) — no runtime libm constant to disagree on. */
  private val Ln2 = "0.6931471805599453"

  /** q312 — pairwise Jensen–Shannon divergence between the sources'
    * unigram distributions: the mixture-redundancy matrix. q126 asks
    * "did one source drift against yesterday"; THIS asks "which
    * sources say the same thing" — near-zero JS pairs are redundant
    * under a token budget (q128) and a high-JS outlier is either
    * valuable diversity or a contamination/extraction bug. JS is used
    * over KL because it is symmetric, bounded by ln 2, and defined
    * when a term exists in only one source.
    *
    * The absent-mass terms need no per-term rows at all: a term with
    * q = 0 contributes ½·p·ln(p/(p/2)) = ½·p·ln 2, so the whole
    * one-sided tail collapses to ½·ln 2·(1 − shared_mass) per side,
    * with shared_mass an EXACT integer ratio (Σ shared counts / total
    * tokens). Only co-occurring terms are enumerated.
    *
    * Parity: per-(term, pair) contributions are one fixed op order and
    * freeze to ×1e9 BIGINT before the cross-term sum (order-free);
    * shared masses are exact integer ratios; the tail is literal
    * arithmetic. `most_divergent` compares identically-computed
    * doubles.
    *
    * Scale (100 TB): one token collapse to (source, term) cells
    * (map-side combined), one exchange on term, and the per-term pair
    * explode is bounded by |sources|² — never by token volume. The
    * matrix is |sources|²/2 rows. */
  def jsDivergenceMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = EtlOps.t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val tot = cells.groupBy("source").agg(sum(col("c")).as("tot"))
    val byTerm = cells.join(broadcast(tot), "source")
      .groupBy("w")
      .agg(sort_array(collect_list(struct(
        col("source"), col("c"), col("tot")))).as("ss"))
    val pairs = byTerm
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
          |  transform(slice(ss, i + 2, size(ss)), b ->
          |    named_struct('sa', a.source, 'sb', b.source,
          |      'ca', a.c, 'cb', b.c, 'ta', a.tot, 'tb', b.tot))))"""
          .stripMargin)).as("p"))
      .select(col("p.*"))
      .withColumn("pa", col("ca").cast("double") / col("ta").cast("double"))
      .withColumn("pb", col("cb").cast("double") / col("tb").cast("double"))
      .withColumn("m", (col("pa") + col("pb")) * 0.5)
      .withColumn("cont_fp", floor(
        (lit(0.5) * (col("pa") * log(col("pa") / col("m")) +
          col("pb") * log(col("pb") / col("m")))) * lit(1e9)).cast("long"))
    val perPair = pairs.groupBy("sa", "sb").agg(
      count(lit(1)).as("n_shared_terms"),
      sum(col("cont_fp")).as("js_fp"),
      sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
      max(col("ta")).as("ta"), max(col("tb")).as("tb"))
    val wAll = Window.partitionBy(lit(1))
    perPair
      .withColumn("mass_a", col("sca").cast("double") / col("ta").cast("double"))
      .withColumn("mass_b", col("scb").cast("double") / col("tb").cast("double"))
      .withColumn("js", col("js_fp").cast("double") / lit(1e9) +
        lit(0.5) * lit(Ln2.toDouble) *
          (lit(2.0) - col("mass_a") - col("mass_b")))
      .withColumn("js_max", max(col("js")).over(wAll))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("n_shared_terms"),
        round(col("mass_a"), 6).as("mass_a_shared"),
        round(col("mass_b"), 6).as("mass_b_shared"),
        round(col("js"), 6).as("js"),
        round(col("js") / lit(Ln2.toDouble), 6).as("js_norm"),
        (col("js") === col("js_max")).as("most_divergent"))
      .orderBy("src_a", "src_b")
  }

  def jsDivergenceMatrixOracle: String =
    s"""WITH cells AS (SELECT source, unnest(string_split(text, ' '))
       |    AS w FROM documents),
       |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM cells GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
       |  FROM cnt GROUP BY 1),
       |ct AS (SELECT cnt.source, cnt.w, cnt.c, tot.tot
       |  FROM cnt JOIN tot USING (source)),
       |pr AS (SELECT a.source AS sa, b.source AS sb, a.w,
       |    CAST(a.c AS DOUBLE) / CAST(a.tot AS DOUBLE) AS pa,
       |    CAST(b.c AS DOUBLE) / CAST(b.tot AS DOUBLE) AS pb,
       |    a.c AS ca, b.c AS cb, a.tot AS ta, b.tot AS tb
       |  FROM ct a JOIN ct b ON a.w = b.w AND a.source < b.source),
       |fp AS (SELECT *, (pa + pb) * 0.5 AS m,
       |    CAST(floor((0.5 * (pa * ln(pa / ((pa + pb) * 0.5)) +
       |      pb * ln(pb / ((pa + pb) * 0.5)))) * 1000000000.0)
       |      AS BIGINT) AS cont_fp
       |  FROM pr),
       |pp AS (SELECT sa, sb, count(*) AS n_shared_terms,
       |    CAST(sum(cont_fp) AS BIGINT) AS js_fp,
       |    CAST(sum(ca) AS BIGINT) AS sca,
       |    CAST(sum(cb) AS BIGINT) AS scb,
       |    max(ta) AS ta, max(tb) AS tb
       |  FROM fp GROUP BY sa, sb),
       |j AS (SELECT *,
       |    CAST(js_fp AS DOUBLE) / 1000000000.0 + 0.5 * $Ln2 *
       |      (2.0 - CAST(sca AS DOUBLE) / CAST(ta AS DOUBLE)
       |           - CAST(scb AS DOUBLE) / CAST(tb AS DOUBLE)) AS js
       |  FROM pp)
       |SELECT sa AS src_a, sb AS src_b, n_shared_terms,
       |  round(CAST(sca AS DOUBLE) / CAST(ta AS DOUBLE), 6)
       |    AS mass_a_shared,
       |  round(CAST(scb AS DOUBLE) / CAST(tb AS DOUBLE), 6)
       |    AS mass_b_shared,
       |  round(js, 6) AS js,
       |  round(js / $Ln2, 6) AS js_norm,
       |  js = max(js) OVER () AS most_divergent
       |FROM j ORDER BY src_a, src_b""".stripMargin

  // --- q336: Huber M-estimator of per-source location ----------------------

  /** Huber clipping constant in n_chars units: residuals beyond ±100
    * chars of the current location get down-weighted ∝ 1/|r|. With the
    * synthetic corpus spread (48–553 chars, mean ≈ 298) roughly the
    * outer half of every source down-weights — substantive at every
    * sf. */
  val HuberC = "100.0"

  /** Fixed IRLS iteration count (deterministic; 3 is where the
    * location moves < 1 char on this corpus). */
  val HuberIters = 3

  /** q336 — Huber M-estimator of each source's typical document
    * length via iteratively-reweighted least squares (Huber 1964 —
    * the public robust-location construction): start at the mean,
    * then [[HuberIters]] rounds of m ← Σwᵢxᵢ/Σwᵢ with wᵢ =
    * min(1, c/|xᵢ−m|). Completes the robust-stats ladder (q89
    * winsorized mean caps mass, q259 MAD flags outliers; Huber
    * DOWN-WEIGHTS smoothly — the estimator a profiling report quotes
    * when the column is heavy-tailed but trimming is too blunt).
    * Output per source: n, plain mean, Huber location, final total
    * weight, and how many documents were down-weighted.
    *
    * Parity: x = n_chars is an exact integer; m₀ = Σx/n is one double
    * division; each iteration's weight products are frozen to
    * floor(·1e6) BIGINT before summation, so mₖ = Σnum_fp/Σden_fp is
    * an exact integer ratio evaluated with ONE double division —
    * order-free and engine-identical; the oracle unrolls the three
    * iterations as per-group CTE joins (the q308 pattern, GROUP BY
    * instead of a single vector).
    *
    * Scale (100 TB): per iteration ONE |sources|-group
    * map-side-combinable aggregate plus a broadcast of the
    * |sources|-row location table back to the scan — iterate-by-
    * aggregate with fixed depth, no data shuffle, no driver math. */
  def huberLocation(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("source"), col("n_chars")).persist()
    val m0 = docs.groupBy("source").agg(
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("m"),
      count(lit(1)).as("n"),
      (sum(col("n_chars")).cast("double") / count(lit(1))).as("mean0"))
    def step(m: DataFrame): DataFrame =
      docs.join(broadcast(m), Seq("source"))
        .selectExpr("source", "n", "mean0",
          s"CASE WHEN abs(CAST(n_chars AS DOUBLE) - m) <= $HuberC" +
            s" THEN 1.0 ELSE $HuberC / abs(CAST(n_chars AS DOUBLE) - m)" +
            " END AS w",
          "n_chars")
        .groupBy("source")
        .agg(first(col("n")).as("n"), first(col("mean0")).as("mean0"),
          sum(expr("CAST(floor((w * n_chars) * 1e6) AS BIGINT)"))
            .as("num_fp"),
          sum(expr("CAST(floor(w * 1e6) AS BIGINT)")).as("den_fp"),
          sum(when(expr("w < 1.0"), 1L).otherwise(0L)).as("n_down"))
        .selectExpr("source", "n", "mean0",
          "CAST(num_fp AS DOUBLE) / CAST(den_fp AS DOUBLE) AS m",
          "den_fp", "n_down")
    val last = (1 to HuberIters).foldLeft(m0.withColumn("den_fp", lit(0L))
        .withColumn("n_down", lit(0L)))((m, _) => step(m))
    last.selectExpr("source", "n", "round(mean0, 6) AS mean",
        "round(m, 6) AS huber_loc",
        "round(CAST(den_fp AS DOUBLE) / 1e6, 6) AS total_weight",
        "n_down AS n_downweighted")
      .orderBy("source")
  }

  def huberLocationOracle: String = {
    val iters = (1 to HuberIters).map { k =>
      val pm = if (k == 1) "m0" else s"m${k - 1}"
      s"""w$k AS (SELECT d.source, d.n_chars,
         |    CASE WHEN abs(CAST(d.n_chars AS DOUBLE) - $pm.m) <= $HuberC
         |      THEN 1.0
         |      ELSE $HuberC / abs(CAST(d.n_chars AS DOUBLE) - $pm.m)
         |    END AS w
         |  FROM documents d JOIN $pm ON d.source = $pm.source),
         |m$k AS (SELECT source,
         |    CAST(CAST(sum(CAST(floor((w * n_chars) * 1e6) AS BIGINT))
         |        AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(sum(CAST(floor(w * 1e6) AS BIGINT)) AS BIGINT)
         |        AS DOUBLE) AS m,
         |    CAST(sum(CAST(floor(w * 1e6) AS BIGINT)) AS BIGINT)
         |      AS den_fp,
         |    CAST(sum(CASE WHEN w < 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_down
         |  FROM w$k GROUP BY source)""".stripMargin
    }.mkString(",\n")
    s"""WITH m0 AS (SELECT source,
       |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS m,
       |    count(*) AS n,
       |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean0
       |  FROM documents GROUP BY source),
       |$iters
       |SELECT m0.source, m0.n, round(m0.mean0, 6) AS mean,
       |  round(m$HuberIters.m, 6) AS huber_loc,
       |  round(CAST(m$HuberIters.den_fp AS DOUBLE) / 1e6, 6)
       |    AS total_weight,
       |  m$HuberIters.n_down AS n_downweighted
       |FROM m0 JOIN m$HuberIters ON m0.source = m$HuberIters.source
       |ORDER BY m0.source""".stripMargin
  }

  // --- q341: Count-Sketch vs Count-Min bias audit ---------------------------

  /** Count-Sketch geometry: odd depth so the median is a single order
    * statistic (exact integer), width shared with the CMS side so the
    * collision pressure is identical. */
  val CsDepth = 5
  val CsWidth = 64

  /** q341 — Count-Sketch vs Count-Min head-to-head on the same skewed
    * stream (Charikar–Chen–Farach-Colton 2002 vs Cormode–Muthukrishnan
    * 2005): both sketches get depth×width = 5×64 counters and the same
    * md5-derived bucket hashes; CMS adds +1 and reads the MIN, CS adds
    * a hash-derived ±1 and reads the MEDIAN of sign-corrected
    * counters. The audit emits both estimates and signed errors per
    * key — CMS errors are ≥ 0 by construction (every collision
    * inflates), CS errors straddle zero (collisions cancel in
    * expectation; the estimator is unbiased). This is the sketch a
    * pipeline picks when UNDER-counting is as bad as over-counting
    * (e.g. change detection on frequency deltas).
    *
    * Parity: both counter matrices are plain (signed) integer sums —
    * merge-order independent — and both estimators are integer order
    * statistics, so the DuckDB oracle rebuilds everything
    * hash-for-hash (the q175 discipline); zero floats anywhere.
    *
    * Scale (100 TB): two O(depth·width)-state map-combinable
    * aggregates over the stream ([[graft.functions.CountSketchAgg]] /
    * [[graft.functions.CountMinAgg]]); the exact side is the
    * 100-group audit baseline. */
  def countSketchAudit(s: SparkSession, dir: String): DataFrame = {
    val keyed = EtlOps.events(s, dir)
      .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("k"))
    def hcol(j: Int) = call_function("md5_fp60",
      concat(lit(s"$j:"), col("k").cast("string"))) % CsWidth
    def sgn(j: Int) = when(call_function("md5_fp60",
      concat(lit(s"s$j:"), col("k").cast("string"))) % 2 === 0, 1L)
      .otherwise(-1L)
    def hIdx = array((0 until CsDepth).map(hcol): _*)
    def enc = array((0 until CsDepth).map(j =>
      sgn(j) * (hcol(j) + 1L)): _*)
    val cs = keyed.withColumn("enc", enc)
      .agg(expr(s"count_sketch_agg(enc, $CsDepth, $CsWidth)").as("cs"))
    val cm = keyed.withColumn("hs", hIdx)
      .agg(expr(s"count_min_agg(hs, $CsDepth, $CsWidth)").as("cm"))
    val exact = keyed.groupBy("k").agg(count(lit(1)).as("exact_n"))
    exact.crossJoin(broadcast(cs)).crossJoin(broadcast(cm))
      .withColumn("hs", hIdx)
      .withColumn("cms_est", least((0 until CsDepth).map(j =>
        expr(s"cm[CAST($j * $CsWidth + hs[$j] AS INT)]")): _*))
      .withColumn("cs_vals", array((0 until CsDepth).map(j =>
        sgn(j) * expr(s"cs[CAST($j * $CsWidth + hs[$j] AS INT)]")): _*))
      .withColumn("cs_est", expr("element_at(array_sort(cs_vals), 3)"))
      .select(col("k"), col("exact_n"), col("cms_est"), col("cs_est"),
        (col("cms_est") - col("exact_n")).as("cms_err"),
        (col("cs_est") - col("exact_n")).as("cs_err"))
      .orderBy("k")
  }

  def countSketchAuditOracle: String = {
    val hash = (j: String, k: String) =>
      s"CAST('0x' || substr(md5(CAST($j AS VARCHAR) || ':' || " +
        s"CAST($k AS VARCHAR)), 1, 15) AS BIGINT) % $CsWidth"
    val shash = (j: String, k: String) =>
      s"CAST('0x' || substr(md5('s' || CAST($j AS VARCHAR) || ':' || " +
        s"CAST($k AS VARCHAR)), 1, 15) AS BIGINT) % 2"
    s"""WITH k AS (SELECT CAST(floor(sqrt(event_id % 10000)) AS BIGINT)
       |    AS k FROM events),
       |j AS (SELECT unnest(range(0, $CsDepth)) AS j),
       |h AS (SELECT k.k, j.j, ${hash("j.j", "k.k")} AS hh,
       |    CASE WHEN ${shash("j.j", "k.k")} = 0 THEN 1 ELSE -1 END AS sg
       |  FROM k, j),
       |cs_counters AS (SELECT j, hh, CAST(sum(sg) AS BIGINT) AS c
       |  FROM h GROUP BY j, hh),
       |cm_counters AS (SELECT j, hh, count(*) AS c
       |  FROM h GROUP BY j, hh),
       |exact AS (SELECT k, count(*) AS exact_n FROM k GROUP BY k),
       |keys AS (SELECT DISTINCT k FROM k),
       |kh AS (SELECT keys.k, j.j, ${hash("j.j", "keys.k")} AS hh,
       |    CASE WHEN ${shash("j.j", "keys.k")} = 0 THEN 1 ELSE -1 END
       |      AS sg
       |  FROM keys, j),
       |cse AS (SELECT kh.k,
       |    CAST((list_sort(list(kh.sg * c.c)))[3] AS BIGINT) AS cs_est
       |  FROM kh JOIN cs_counters c ON kh.j = c.j AND kh.hh = c.hh
       |  GROUP BY kh.k),
       |cme AS (SELECT kh.k, CAST(min(c.c) AS BIGINT) AS cms_est
       |  FROM kh JOIN cm_counters c ON kh.j = c.j AND kh.hh = c.hh
       |  GROUP BY kh.k)
       |SELECT e.k, e.exact_n, cme.cms_est, cse.cs_est,
       |  cme.cms_est - e.exact_n AS cms_err,
       |  cse.cs_est - e.exact_n AS cs_err
       |FROM exact e JOIN cme USING (k) JOIN cse USING (k)
       |ORDER BY e.k""".stripMargin
  }

  // --- q356: KMV bottom-k sketch set algebra -------------------------------

  /** Sketch size for the KMV (k-minimum-values) distinct sketch. */
  val KmvK = 64

  /** 2^60 — the md5_fp60 hash space size, exactly representable as a
    * double (so the estimator arithmetic is bit-identical on both
    * engines). */
  private val Kmv2p60 = "CAST(1152921504606846976 AS DOUBLE)"

  /** q356 — KMV / bottom-k distinct sketch set algebra (Bar-Yossef et
    * al. 2002; Beyer et al. SIGMOD 2007) over per-source word-trigram
    * shingle sets,
    * head-to-head with exact truth for every source pair: the
    * inclusion–exclusion-free alternative to q238's HLL algebra. A KMV
    * sketch is the k smallest hash values of a set; its kth value
    * estimates the distinct count as (k−1)·2⁶⁰/h₍ₖ₎, and — the part HLL
    * cannot do natively — the UNION sketch is just the k smallest of
    * the two sketches' rows, and the fraction of those that appear in
    * BOTH input sketches is an unbiased Jaccard estimator, giving the
    * intersection as Ĵ·Û without differencing two noisy estimates.
    *
    * Sketches are built by the NATIVE [[graft.functions.KmvAgg]]
    * (`kmv_agg(h, k)`): one k-bounded deduping buffer per source, map-
    * side combinable — no per-source sort, no window, no upstream
    * distinct-by-hash pass. The pairwise algebra then runs ENTIRELY
    * in-row on the two k-arrays (array_distinct/sort/slice/intersect).
    *
    * Parity: hashes are md5_fp60 integers and a KMV sketch is a SET of
    * them, so the oracle's rank-window-over-distinct-hashes replays the
    * buffer exactly; the only doubles are the two pinned divisions and
    * the Ĵ·Û product, identical op order in the oracle.
    *
    * Scale (100 TB): the corpus is touched ONCE to build the distinct
    * (source, token) frame; everything pairwise runs on k-array rows
    * (|sources|² rows — catalog-sized). The exact-truth side
    * (the audit's yardstick) is the expensive part by design and is
    * bounded by |vocab|·s², s = sources sharing a token; at production
    * scale it would be sampled or dropped, and the sketch columns are
    * the product. */
  def kmvSetAlgebra(s: SparkSession, dir: String): DataFrame = {
    val k = KmvK
    // element universe: distinct word-trigram shingles per source (the
    // bare vocab is ~31 tokens/source on this corpus — smaller than k,
    // which would make every sketch trivially exact and the audit empty)
    val tok = EtlOps.t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("source"),
        explode(array_distinct(expr(DedupOps.wordGramArrayExpr(3))))
          .as("token"))
      .distinct().persist()
    // sketch + exact count in ONE aggregate: the native kmv_agg buffer
    // dedupes and selects as it goes (no window, no per-source sort —
    // k-long partials map-side combine)
    val est = tok
      .withColumn("h", call_function("md5_fp60", col("token")))
      .groupBy("source")
      .agg(expr(s"kmv_agg(h, $k)").as("sk"), count(lit(1)).as("n"))
      .selectExpr("source", "n", "sk",
        s"""CASE WHEN size(sk) < $k THEN CAST(size(sk) AS DOUBLE)
           | ELSE CAST(${k - 1} AS DOUBLE) * $Kmv2p60
           |   / CAST(element_at(sk, $k) AS DOUBLE)
           | END AS est""".stripMargin)
      .persist()
    val pairs = est.selectExpr("source AS sa", "n AS exact_a",
        "est AS est_a", "sk AS sk_a")
      .join(est.selectExpr("source AS sb", "n AS exact_b",
        "est AS est_b", "sk AS sk_b"), col("sa") < col("sb"))
    val inter = tok.as("x").join(tok.as("y"),
        col("x.token") === col("y.token") &&
          col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("exact_inter"))
    // pairwise algebra ENTIRELY in-row on the two k-arrays: the union
    // sketch is the k smallest of the merged arrays (KMV closure), the
    // Jaccard estimator is the shared fraction of that union sketch
    val usk = pairs.select("sa", "sb", "sk_a", "sk_b")
      .selectExpr("sa", "sb",
        s"slice(array_sort(array_distinct(concat(sk_a, sk_b))), 1, $k)" +
          " AS u",
        "array_intersect(sk_a, sk_b) AS both")
      .selectExpr("sa", "sb", "size(u) AS u_n",
        "element_at(u, size(u)) AS hku",
        "size(array_intersect(u, both)) AS m")
      .selectExpr("sa", "sb",
        s"""CASE WHEN u_n < $k THEN CAST(u_n AS DOUBLE)
           | ELSE CAST(${k - 1} AS DOUBLE) * $Kmv2p60 / CAST(hku AS DOUBLE)
           | END AS est_union""".stripMargin,
        "CAST(m AS DOUBLE) / CAST(u_n AS DOUBLE) AS est_jacc")
    pairs.drop("sk_a", "sk_b")
      .join(inter, Seq("sa", "sb")).join(usk, Seq("sa", "sb"))
      .selectExpr("sa", "sb", "exact_a", "exact_b",
        "exact_a + exact_b - exact_inter AS exact_union", "exact_inter",
        "round(CAST(exact_inter AS DOUBLE) / CAST(exact_a + exact_b" +
          " - exact_inter AS DOUBLE), 6) AS exact_jacc",
        "round(est_a, 4) AS est_a", "round(est_b, 4) AS est_b",
        "round(est_union, 4) AS est_union",
        "round(est_jacc, 6) AS est_jacc",
        "round(est_jacc * est_union, 4) AS est_inter",
        "round((est_union - CAST(exact_a + exact_b - exact_inter" +
          " AS DOUBLE)) / CAST(exact_a + exact_b - exact_inter" +
          " AS DOUBLE) * 100.0, 4) AS union_err_pct",
        "round(abs(est_jacc - CAST(exact_inter AS DOUBLE)" +
          " / CAST(exact_a + exact_b - exact_inter AS DOUBLE)), 6)" +
          " AS jacc_abs_err")
      .orderBy("sa", "sb")
  }

  def kmvSetAlgebraOracle: String = {
    val k = KmvK
    val h = "CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)"
    s"""WITH tok0 AS (SELECT source, string_split(text, ' ') AS toks
       |  FROM documents),
       |tok AS (SELECT DISTINCT source, token FROM (
       |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |      AS token
       |  FROM tok0) u),
       |hsh AS (SELECT DISTINCT source, $h AS h FROM tok),
       |sk AS (SELECT * FROM (SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h)
       |      AS rnk FROM hsh) WHERE rnk <= $k),
       |cnt AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
       |est AS (SELECT sk.source, cnt.n,
       |    CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |      ELSE CAST(${k - 1} AS DOUBLE) * $Kmv2p60
       |        / CAST(max(CASE WHEN rnk = $k THEN h END) AS DOUBLE)
       |      END AS est
       |  FROM sk JOIN cnt ON sk.source = cnt.source
       |  GROUP BY sk.source, cnt.n),
       |pairs AS (SELECT a.source AS sa, b.source AS sb,
       |    a.n AS exact_a, b.n AS exact_b, a.est AS est_a, b.est AS est_b
       |  FROM est a JOIN est b ON a.source < b.source),
       |inter AS (SELECT x.source AS sa, y.source AS sb,
       |    count(*) AS exact_inter
       |  FROM tok x JOIN tok y
       |    ON x.token = y.token AND x.source < y.source
       |  GROUP BY x.source, y.source),
       |u AS (SELECT p.sa, p.sb, s.h,
       |    max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
       |    max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
       |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
       |  GROUP BY p.sa, p.sb, s.h),
       |ur AS (SELECT *, row_number() OVER (PARTITION BY sa, sb
       |    ORDER BY h) AS rnk FROM u),
       |usk AS (SELECT sa, sb,
       |    CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
       |      ELSE CAST(${k - 1} AS DOUBLE) * $Kmv2p60
       |        / CAST(max(CASE WHEN rnk = $k THEN h END) AS DOUBLE)
       |      END AS est_union,
       |    CAST(CAST(sum(in_a * in_b) AS BIGINT) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS est_jacc
       |  FROM ur WHERE rnk <= $k GROUP BY sa, sb)
       |SELECT p.sa, p.sb, p.exact_a, p.exact_b,
       |  p.exact_a + p.exact_b - i.exact_inter AS exact_union,
       |  i.exact_inter,
       |  round(CAST(i.exact_inter AS DOUBLE) / CAST(p.exact_a + p.exact_b
       |    - i.exact_inter AS DOUBLE), 6) AS exact_jacc,
       |  round(p.est_a, 4) AS est_a, round(p.est_b, 4) AS est_b,
       |  round(u.est_union, 4) AS est_union,
       |  round(u.est_jacc, 6) AS est_jacc,
       |  round(u.est_jacc * u.est_union, 4) AS est_inter,
       |  round((u.est_union - CAST(p.exact_a + p.exact_b - i.exact_inter
       |    AS DOUBLE)) / CAST(p.exact_a + p.exact_b - i.exact_inter
       |    AS DOUBLE) * 100.0, 4) AS union_err_pct,
       |  round(abs(u.est_jacc - CAST(i.exact_inter AS DOUBLE)
       |    / CAST(p.exact_a + p.exact_b - i.exact_inter AS DOUBLE)), 6)
       |    AS jacc_abs_err
       |FROM pairs p JOIN inter i ON p.sa = i.sa AND p.sb = i.sb
       |JOIN usk u ON p.sa = u.sa AND p.sb = u.sb
       |ORDER BY p.sa, p.sb""".stripMargin
  }

  // --- q376: sliding-window HLL distinct series ------------------------------

  /** Trailing window width, days. */
  val SlideWinDays = 7

  /** q376 — trailing-7-day distinct users per day at SKETCH cost: one
    * 256-register HLL per (day, bucket) cell, and every window's
    * sketch is the register-max MERGE of its ≤[[SlideWinDays]] daily
    * sketches — the mergeability property that makes HLL the
    * time-window operator (day sketches are built once and reused by
    * every window that covers them; the raw user stream is touched
    * once). Audited against the exact sliding distinct (the q369
    * bounded-explode form). q224 audits HLL point estimates; q238 its
    * set algebra; THIS is the time-series shape a dashboard actually
    * serves, with per-window error against exact truth.
    *
    * Parity: the q224 register discipline verbatim (integer ranks,
    * DECIMAL(38,0) S′, frozen α and ln table); windows are integer
    * epoch-days; merge is GROUP BY max — order-free.
    *
    * Scale (100 TB): the corpus collapses ONCE to distinct (day, user)
    * and once more to (day, bucket) registers (365·256 rows/year);
    * window merges are ≤7× that. The EXACT side re-explodes (day,
    * user) ×7 — linear but user-stream-sized — and exists here only as
    * the audit; production serves the sketch column. */
  def slidingHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val w6 = SlideWinDays - 1
    val du = EtlOps.events(s, dir)
      .selectExpr(
        "unix_micros(date_trunc('day', ts)) div 86400000000 AS d",
        "user_id AS u")
      .distinct().persist()
    val days = du.select("d").distinct().persist()
    val hashed = du
      .withColumn("h",
        call_function("md5_fp60", col("u").cast("string")))
      .selectExpr("d", s"h % $HllM AS bkt",
        s"CAST(${hllRankSql("h")} AS BIGINT) AS rnk")
    val dayRegs = hashed.groupBy("d", "bkt").agg(max("rnk").as("r"))
    val wDays = days.select(col("d").as("w"))
    val merged = dayRegs
      .selectExpr(s"explode(sequence(d, d + $w6)) AS w", "bkt", "r")
      .join(wDays, Seq("w"), "left_semi")
      .groupBy("w", "bkt").agg(max("r").as("r"))
    val dense = wDays
      .crossJoin(s.range(HllM.toLong).select(col("id").as("bkt")))
      .join(merged, Seq("w", "bkt"), "left")
      .selectExpr("w", "coalesce(r, CAST(0 AS BIGINT)) AS r")
    val st = dense.groupBy("w").agg(
      expr("sum(CAST(shiftleft(CAST(1 AS BIGINT), CAST(60 - r AS INT))" +
        " AS DECIMAL(38,0)))").as("sp"),
      expr("CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)")
        .as("vz"))
    val exact = du
      .selectExpr(s"explode(sequence(d, d + $w6)) AS w", "u")
      .join(wDays, Seq("w"), "left_semi")
      .distinct().groupBy("w").agg(count(lit(1)).as("n_exact"))
    val minD = broadcast(days.agg(min("d").as("min_d")))
    st.join(exact, Seq("w")).crossJoin(minD)
      .selectExpr("w AS window_day", "n_exact",
        s"round(${hllEstSql("sp", "vz", spark = true)}, 4) AS est",
        s"round((${hllEstSql("sp", "vz", spark = true)}" +
          " - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)" +
          " * 100.0, 4) AS rel_err_pct",
        s"w >= min_d + $w6 AS window_full")
      .orderBy("window_day")
  }

  def slidingHllDistinctOracle: String = {
    val w6 = SlideWinDays - 1
    val hash = "CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15)" +
      " AS BIGINT)"
    s"""WITH du AS (SELECT DISTINCT
       |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
       |      // 86400000000 AS d,
       |    user_id AS u
       |  FROM events),
       |days AS (SELECT DISTINCT d FROM du),
       |br AS (SELECT d, h % $HllM AS bkt,
       |    CAST(${hllRankSql("h")} AS BIGINT) AS rnk
       |  FROM (SELECT d, $hash AS h FROM du)),
       |dayregs AS (SELECT d, bkt, max(rnk) AS r FROM br GROUP BY d, bkt),
       |cov AS (SELECT t.w, dr.bkt, dr.r FROM dayregs dr,
       |    LATERAL (SELECT unnest(range(dr.d, dr.d + $SlideWinDays))
       |      AS w) t
       |  WHERE t.w IN (SELECT d FROM days)),
       |merged AS (SELECT w, bkt, max(r) AS r FROM cov GROUP BY w, bkt),
       |dense AS (SELECT dy.d AS w, coalesce(m.r, 0) AS r
       |  FROM days dy CROSS JOIN (SELECT unnest(range(0, $HllM)) AS b) t
       |  LEFT JOIN merged m ON m.w = dy.d AND m.bkt = t.b),
       |st AS (SELECT w,
       |    sum(CAST((CAST(1 AS BIGINT) << CAST(60 - r AS INT))
       |      AS DECIMAL(38,0))) AS sp,
       |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vz
       |  FROM dense GROUP BY w),
       |exact AS (SELECT w, count(*) AS n_exact FROM (
       |  SELECT DISTINCT t.w, du.u FROM du,
       |    LATERAL (SELECT unnest(range(du.d, du.d + $SlideWinDays))
       |      AS w) t
       |  WHERE t.w IN (SELECT d FROM days)) GROUP BY w),
       |md AS (SELECT min(d) AS min_d FROM days)
       |SELECT st.w AS window_day, exact.n_exact,
       |  round(${hllEstSql("st.sp", "st.vz", spark = false)}, 4) AS est,
       |  round((${hllEstSql("st.sp", "st.vz", spark = false)}
       |    - CAST(exact.n_exact AS DOUBLE))
       |    / CAST(exact.n_exact AS DOUBLE) * 100.0, 4) AS rel_err_pct,
       |  st.w >= md.min_d + $w6 AS window_full
       |FROM st JOIN exact ON st.w = exact.w, md
       |ORDER BY window_day""".stripMargin
  }

  // --- q371: fingerprint-width collision audit ------------------------------

  /** Prefix widths (bits) priced by the audit. */
  val HashWidthBits: Seq[Int] = Seq(16, 24, 32, 40)

  /** q371 — fingerprint-width sizing: observed vs birthday-bound
    * expected collisions when the 60-bit md5 fingerprint is truncated
    * to b bits, over the event-id key population. Exact-dedup and
    * shuffle-partitioning correctness both rest on "the fingerprint is
    * wide enough"; this measures the failure rate at each width —
    * observed collisions n − |distinct prefixes| against the exact
    * occupancy expectation n − m·(1 − ((m−1)/m)ⁿ) — so the width knob
    * is chosen from data, not folklore. At 16 bits the fixture already
    * collides hundreds of times; at 40 bits never — the table IS the
    * margin-of-safety readout.
    *
    * Parity: prefixes are integer division by 2^(60−b); counts exact;
    * the expectation is one pinned pow/multiply chain (the q363
    * `power` discipline).
    *
    * Scale (100 TB): one scan, |widths| countDistinct aggregates
    * (Spark rewrites to one expand + aggregate); nothing else. */
  def hashWidthAudit(s: SparkSession, dir: String): DataFrame = {
    val keys = EtlOps.events(s, dir)
      .select(TextOps.md5Fingerprint60(col("event_id").cast("string"))
        .as("h")).persist()
    val aggs = HashWidthBits.map { b =>
      countDistinct(expr(s"h div ${1L << (60 - b)}")).as(s"d$b")
    } :+ count(lit(1)).as("n")
    val one = keys.agg(aggs.head, aggs.tail: _*)
    val grid = s.createDataFrame(HashWidthBits.map(Tuple1(_)))
      .toDF("bits")
    one.crossJoin(broadcast(grid))
      .selectExpr("bits", "n AS n_keys",
        HashWidthBits.map(b =>
          s"CASE WHEN bits = $b THEN d$b END").mkString(
          "coalesce(", ", ", ") AS n_distinct"),
        "CAST(pow(2.0, CAST(bits AS DOUBLE)) AS BIGINT) AS n_buckets")
      .selectExpr("bits", "n_keys", "n_distinct", "n_buckets",
        "n_keys - n_distinct AS n_collisions",
        "round(CAST(n_keys AS DOUBLE) - CAST(n_buckets AS DOUBLE)" +
          " * (1.0 - power(CAST(n_buckets - 1 AS DOUBLE)" +
          " / CAST(n_buckets AS DOUBLE), CAST(n_keys AS DOUBLE))), 2)" +
          " AS expected_collisions")
      .orderBy("bits")
  }

  def hashWidthAuditOracle: String = {
    val h = "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)" +
      " AS BIGINT)"
    val ds = HashWidthBits.map(b =>
      s"count(DISTINCT h // ${1L << (60 - b)}) AS d$b").mkString(", ")
    val co = HashWidthBits.map(b =>
      s"CASE WHEN bits = $b THEN d$b END").mkString(
      "coalesce(", ", ", ")")
    s"""WITH keys AS (SELECT $h AS h FROM events),
       |one AS (SELECT count(*) AS n, $ds FROM keys),
       |g AS (SELECT one.*, b.bits FROM one,
       |  (SELECT unnest(ARRAY[${HashWidthBits.mkString(", ")}])
       |    AS bits) b)
       |SELECT CAST(bits AS INT) AS bits, n AS n_keys,
       |  CAST($co AS BIGINT) AS n_distinct,
       |  CAST(pow(2.0, CAST(bits AS DOUBLE)) AS BIGINT) AS n_buckets,
       |  n - CAST($co AS BIGINT) AS n_collisions,
       |  round(CAST(n AS DOUBLE)
       |    - CAST(CAST(pow(2.0, CAST(bits AS DOUBLE)) AS BIGINT)
       |      AS DOUBLE)
       |    * (1.0 - power(CAST(CAST(pow(2.0, CAST(bits AS DOUBLE))
       |        AS BIGINT) - 1 AS DOUBLE)
       |      / CAST(CAST(pow(2.0, CAST(bits AS DOUBLE)) AS BIGINT)
       |        AS DOUBLE), CAST(n AS DOUBLE))), 2)
       |    AS expected_collisions
       |FROM g ORDER BY bits""".stripMargin
  }

  // --- q359: Sinkhorn entropic optimal transport ---------------------------

  /** Bucket count / width (value units) for the transport support. */
  val SinkBuckets = 10
  val SinkWidth = 50.0

  /** Entropic regularization sweep ε (bucket-distance units): the cost
    * must collapse onto exact W1 as ε → 0 — the knob curve. */
  val SinkEpsGrid: Seq[Double] = Seq(0.25, 1.0, 3.0)

  /** Sinkhorn scaling iterations (fixed, unrolled in the oracle). */
  val SinkIters = 5

  /** Gibbs kernels K_ij = exp(−|i−j|/ε) per grid ε, FROZEN to ×10¹²
    * integers at generation (the q353 discipline): both engines read
    * the same literal values, so no libm exp ever runs in-query. */
  private[graft] def sinkKfp(eps: Double): IndexedSeq[Long] =
    (0 until SinkBuckets).map(d =>
      math.floor(math.exp(-d.toDouble / eps) * 1e12).toLong)

  /** q359 — Sinkhorn entropic optimal transport (Cuturi, NeurIPS 2013)
    * between every pair of event-type value histograms, audited against
    * the EXACT 1-D Wasserstein-1 answer: in one dimension W1 has a
    * closed form (Σ|ΔCDF|, exact integer rationals here — q278's
    * metric), so this is the calibration bench for the algorithm one
    * would trust in higher dimensions where no closed form exists. Five
    * diag-scaling iterations u ← r⊘Kv, v ← c⊘Kᵀu on the frozen Gibbs
    * kernel, swept across [[SinkEpsGrid]] — the curve must collapse
    * onto W1 as ε → 0, and how fast it collapses is the knob readout;
    * outputs the plan's transport cost ⟨T, C⟩, the exact W1,
    * the entropy gap between them, and the plan's residual row-marginal
    * error (the honesty column: how converged the scaling actually is).
    *
    * Parity: the kernel is literal integers; every Σ_j inside the
    * scaling freezes each term to BIGINT before summing
    * (order-independent); each u/v update is ONE pinned double
    * division; the final cost and marginal residual freeze per-cell
    * ×10¹² and sum as BIGINT. W1 is exact integer arithmetic until one
    * final division.
    *
    * Scale (100 TB): ONE corpus scan into a (type, bucket) histogram;
    * the entire Sinkhorn iteration runs on |pairs|·K² metadata-sized
    * frames (here 10·100 cells). This is the general shape: OT between
    * N-point empirical measures is O(N²) and corpus-sized, OT between
    * HISTOGRAMS is sketch-sized — bucket first, transport after. */
  def sinkhornOt(s: SparkSession, dir: String): DataFrame = {
    val k = SinkBuckets
    val hist = EtlOps.events(s, dir)
      .selectExpr("event_type AS t",
        s"least(CAST(floor(value / $SinkWidth) AS INT), ${k - 1}) AS b")
      .groupBy("t", "b").agg(count(lit(1)).as("cnt"))
      .persist()
    val types = hist.select("t").distinct()
    val grid = types.crossJoin(
      s.range(k.toLong).select(col("id").cast("int").as("b")))
    val dense = grid.join(hist, Seq("t", "b"), "left")
      .select(col("t"), col("b"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val tot = dense.groupBy("t").agg(sum("cnt").as("n"))
    val marg = dense.join(tot, Seq("t"))
      .select(col("t"), col("b"), col("cnt"), col("n"),
        (col("cnt").cast("double") / col("n").cast("double")).as("p"))
      .persist()
    val pairs = types.select(col("t").as("ta"))
      .crossJoin(types.select(col("t").as("tb")))
      .filter(col("ta") < col("tb"))
    // dense pair grid: (ta, tb, b, r, c) + exact counts for W1
    val m = pairs
      .join(marg.select(col("t").as("ta"), col("b"), col("p").as("r"),
        col("cnt").as("cnt_a"), col("n").as("na")), Seq("ta"))
      .join(marg.select(col("t").as("tb"), col("b"),
        col("p").as("c"), col("cnt").as("cnt_b"), col("n").as("nb")),
        Seq("tb", "b"))
      .persist()
    val km = s.createDataFrame(
      for (e <- SinkEpsGrid.indices; i <- 0 until k; j <- 0 until k)
        yield (e, SinkEpsGrid(e), i, j, math.abs(i - j).toLong,
          sinkKfp(SinkEpsGrid(e))(math.abs(i - j))))
      .toDF("eid", "eps", "i", "j", "d", "kfp")
    val kmB = broadcast(km)
    val eGrid = broadcast(km.select("eid").distinct())
    // Cut cadence kept at one per HALF-iteration — round-14 A/B'd the
    // alternatives under bench methodology (warm + min-of-5) and the
    // original was fastest: no cuts at all 2.6 → 12+ s (the 10-half
    // chain re-plans and re-broadcasts per AQE stage), one cut per full
    // iteration 2.6 → 3.2 s; the half-step cuts stay (guide §1.1:
    // the "ideal" fresh plan lost to the measured one).
    var v = m.select(col("ta"), col("tb"), col("b").as("j"),
      lit(1.0).as("v")).crossJoin(eGrid)
    var u: DataFrame = null
    for (_ <- 1 to SinkIters) {
      u = CurationOps.cutLineage(
        v.join(kmB, Seq("eid", "j")).groupBy("ta", "tb", "eid", "i")
          .agg(sum(floor(col("kfp") * col("v")).cast("long")).as("kv"))
          .join(m.select(col("ta"), col("tb"), col("b").as("i"),
            col("r")), Seq("ta", "tb", "i"))
          .select(col("ta"), col("tb"), col("eid"), col("i"),
            when(col("r") === 0.0, lit(0.0))
              .otherwise(col("r") / (col("kv").cast("double")
                / lit(1e12))).as("u")))
      v = CurationOps.cutLineage(
        u.join(kmB, Seq("eid", "i")).groupBy("ta", "tb", "eid", "j")
          .agg(sum(floor(col("kfp") * col("u")).cast("long")).as("ku"))
          .join(m.select(col("ta"), col("tb"), col("b").as("j"),
            col("c")), Seq("ta", "tb", "j"))
          .select(col("ta"), col("tb"), col("eid"), col("j"),
            when(col("c") === 0.0, lit(0.0))
              .otherwise(col("c") / (col("ku").cast("double")
                / lit(1e12))).as("v")))
    }
    // transport plan cells: T_ij = (u_i * (kfp/1e12)) * v_j, pinned
    val cells = u.join(kmB, Seq("eid", "i"))
      .join(v, Seq("ta", "tb", "eid", "j"))
      .select(col("ta"), col("tb"), col("eid"), col("eps"), col("i"),
        col("j"), col("d"),
        ((col("u") * (col("kfp").cast("double") / lit(1e12)))
          * col("v")).as("tm"))
    val cost = cells.groupBy("ta", "tb", "eid", "eps")
      .agg(sum(floor(col("tm") * col("d").cast("double") * lit(1e12))
        .cast("long")).as("cost_fp"))
    val rowErr = cells.groupBy("ta", "tb", "eid", "i")
      .agg(sum(floor(col("tm") * lit(1e12)).cast("long")).as("ti"))
      .join(m.select(col("ta"), col("tb"), col("b").as("i"), col("r")),
        Seq("ta", "tb", "i"))
      .groupBy("ta", "tb", "eid")
      .agg(sum(abs(col("ti") - floor(col("r") * lit(1e12)).cast("long")))
        .as("rerr_fp"))
    // exact 1-D W1 in bucket units: sum over b<k-1 of |ΔCDF|
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("ta", "tb").orderBy("b")
    val w1 = m.select(col("ta"), col("tb"), col("b"),
        sum(col("cnt_a")).over(wA).as("cum_a"),
        sum(col("cnt_b")).over(wA).as("cum_b"),
        col("na"), col("nb"))
      .filter(col("b") < k - 1)
      .groupBy("ta", "tb")
      .agg(sum(abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
        .as("num"), max(col("na") * col("nb")).as("den"))
      .select(col("ta"), col("tb"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("w1"))
    cost.join(rowErr, Seq("ta", "tb", "eid")).join(w1, Seq("ta", "tb"))
      .selectExpr("ta", "tb", "eps", "round(w1, 6) AS w1_exact",
        "round(CAST(cost_fp AS DOUBLE) / 1e12, 6) AS sinkhorn_cost",
        "round(CAST(cost_fp AS DOUBLE) / 1e12 - w1, 6) AS entropy_gap",
        "round(CAST(rerr_fp AS DOUBLE) / 1e12, 8) AS row_marginal_err")
      .orderBy("ta", "tb", "eps")
  }

  def sinkhornOtOracle: String = {
    val k = SinkBuckets
    val kmVals = (for (e <- SinkEpsGrid.indices; i <- 0 until k;
        j <- 0 until k)
      yield s"($e, ${SinkEpsGrid(e)}::DOUBLE, $i, $j, " +
        s"${math.abs(i - j)}, ${sinkKfp(SinkEpsGrid(e))(math.abs(i - j))})")
      .mkString(", ")
    val iters = (1 to SinkIters).map { t =>
      s"""u$t AS MATERIALIZED (SELECT m.ta, m.tb, kv.eid, m.b AS i,
         |    CASE WHEN m.r = 0.0 THEN 0.0
         |      ELSE m.r / (CAST(kv.kv AS DOUBLE) / 1000000000000.0)
         |      END AS u
         |  FROM (SELECT v.ta, v.tb, km.eid, km.i,
         |      CAST(sum(CAST(floor(km.kfp * v.v) AS BIGINT)) AS BIGINT)
         |        AS kv
         |    FROM v${t - 1} v JOIN km ON km.eid = v.eid AND km.j = v.j
         |    GROUP BY v.ta, v.tb, km.eid, km.i) kv
         |  JOIN m ON m.ta = kv.ta AND m.tb = kv.tb AND m.b = kv.i),
         |v$t AS MATERIALIZED (SELECT m.ta, m.tb, ku.eid, m.b AS j,
         |    CASE WHEN m.c = 0.0 THEN 0.0
         |      ELSE m.c / (CAST(ku.ku AS DOUBLE) / 1000000000000.0)
         |      END AS v
         |  FROM (SELECT u.ta, u.tb, km.eid, km.j,
         |      CAST(sum(CAST(floor(km.kfp * u.u) AS BIGINT)) AS BIGINT)
         |        AS ku
         |    FROM u$t u JOIN km ON km.eid = u.eid AND km.i = u.i
         |    GROUP BY u.ta, u.tb, km.eid, km.j) ku
         |  JOIN m ON m.ta = ku.ta AND m.tb = ku.tb AND m.b = ku.j)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH hist AS (SELECT event_type AS t,
       |    least(CAST(floor(value / $SinkWidth) AS INT), ${k - 1}) AS b,
       |    count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |types AS (SELECT DISTINCT t FROM hist),
       |grid AS (SELECT t, CAST(gb.b AS INT) AS b FROM types,
       |  (SELECT unnest(range(0, $k)) AS b) gb),
       |dense AS (SELECT g.t, g.b, coalesce(h.cnt, 0) AS cnt
       |  FROM grid g LEFT JOIN hist h ON g.t = h.t AND g.b = h.b),
       |tot AS (SELECT t, CAST(sum(cnt) AS BIGINT) AS n FROM dense
       |  GROUP BY t),
       |marg AS (SELECT d.t, d.b, CAST(d.cnt AS BIGINT) AS cnt, tot.n,
       |    CAST(d.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS p
       |  FROM dense d JOIN tot ON d.t = tot.t),
       |m AS MATERIALIZED (SELECT a.t AS ta, b2.t AS tb, a.b,
       |    a.p AS r, b2.p AS c, a.cnt AS cnt_a, b2.cnt AS cnt_b,
       |    a.n AS na, b2.n AS nb
       |  FROM marg a JOIN marg b2 ON a.t < b2.t AND a.b = b2.b),
       |km AS (SELECT * FROM (VALUES $kmVals)
       |  AS km(eid, eps, i, j, d, kfp)),
       |v0 AS (SELECT m.ta, m.tb, eg.eid, m.b AS j, 1.0::DOUBLE AS v
       |  FROM m, (SELECT DISTINCT eid FROM km) eg),
       |$iters,
       |cells AS MATERIALIZED (SELECT u.ta, u.tb, u.eid, km.eps, u.i,
       |    v.j, km.d,
       |    (u.u * (CAST(km.kfp AS DOUBLE) / 1000000000000.0)) * v.v
       |      AS tm
       |  FROM u$SinkIters u
       |  JOIN km ON km.eid = u.eid AND km.i = u.i
       |  JOIN v$SinkIters v ON v.ta = u.ta AND v.tb = u.tb
       |    AND v.eid = u.eid AND v.j = km.j),
       |cost AS (SELECT ta, tb, eid, eps,
       |    CAST(sum(CAST(floor(tm * CAST(d AS DOUBLE)
       |      * 1000000000000.0) AS BIGINT)) AS BIGINT) AS cost_fp
       |  FROM cells GROUP BY ta, tb, eid, eps),
       |rerr AS (SELECT ti.ta, ti.tb, ti.eid,
       |    CAST(sum(abs(ti.ti - CAST(floor(m.r * 1000000000000.0)
       |      AS BIGINT))) AS BIGINT) AS rerr_fp
       |  FROM (SELECT ta, tb, eid, i,
       |      CAST(sum(CAST(floor(tm * 1000000000000.0) AS BIGINT))
       |        AS BIGINT) AS ti
       |    FROM cells GROUP BY ta, tb, eid, i) ti
       |  JOIN m ON m.ta = ti.ta AND m.tb = ti.tb AND m.b = ti.i
       |  GROUP BY ti.ta, ti.tb, ti.eid),
       |cum AS (SELECT ta, tb, b, na, nb,
       |    sum(cnt_a) OVER (PARTITION BY ta, tb ORDER BY b) AS cum_a,
       |    sum(cnt_b) OVER (PARTITION BY ta, tb ORDER BY b) AS cum_b
       |  FROM m),
       |w1 AS (SELECT ta, tb,
       |    CAST(CAST(sum(abs(cum_a * nb - cum_b * na)) AS BIGINT)
       |      AS DOUBLE) / CAST(max(na * nb) AS DOUBLE) AS w1
       |  FROM cum WHERE b < ${k - 1} GROUP BY ta, tb)
       |SELECT c.ta, c.tb, c.eps, round(w1.w1, 6) AS w1_exact,
       |  round(CAST(c.cost_fp AS DOUBLE) / 1000000000000.0, 6)
       |    AS sinkhorn_cost,
       |  round(CAST(c.cost_fp AS DOUBLE) / 1000000000000.0 - w1.w1, 6)
       |    AS entropy_gap,
       |  round(CAST(r.rerr_fp AS DOUBLE) / 1000000000000.0, 8)
       |    AS row_marginal_err
       |FROM cost c
       |JOIN rerr r ON c.ta = r.ta AND c.tb = r.tb AND c.eid = r.eid
       |JOIN w1 ON w1.ta = c.ta AND w1.tb = c.tb
       |ORDER BY c.ta, c.tb, c.eps""".stripMargin
  }
}
