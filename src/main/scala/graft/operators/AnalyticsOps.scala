package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics operators a large-scale event/text pipeline runs daily:
  * conversion funnels, n-gram language-model statistics, TF-IDF keyword
  * extraction, SCD type-2 dimension building, incremental partial-
  * aggregate merging, and statistical anomaly detection.
  *
  * Scale stance: every operator here is one or two key-partitioned
  * shuffles with map-side partial aggregation — no driver-side loops, no
  * collect. Funnel and SCD2 shuffle once on the entity key and do all
  * sequence logic inside the partition (window functions); the LM and
  * TF-IDF passes shuffle on the term key exactly once; the incremental
  * merge is the associative-reaggregation contract that makes daily
  * partials foldable into any coarser rollup without touching raw data.
  *
  * Float parity with the oracle follows the proven rules: sums go
  * through DECIMAL (exact, order-independent), derived doubles use one
  * fixed op order on both engines, sqrt is IEEE-exact.
  */
object AnalyticsOps {

  import EtlOps.t

  // --- q67: conversion funnel -------------------------------------------

  /** q67 — view → click → purchase funnel per user: the first view, the
    * first click strictly after that view, the first purchase strictly
    * after that click, and the funnel stage reached (0-3). Each stage
    * is one conditional min-aggregate joined against the previous
    * stage's result — every shuffle keys on user_id, but because each
    * stage filters on the PREVIOUS stage's timestamp the exchanges
    * chain rather than merge (the committed plan audit records 6
    * exchanges). What scales is that each exchange moves only
    * stage-filtered events and per-user stage rows, never the full
    * event table twice, and all of them partition on the same key so
    * AQE coalesces them against the same layout. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val users = e.select("user_id").distinct()
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("first_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("first_view"))
      .groupBy("user_id").agg(min(col("ts")).as("first_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("first_click"))
      .groupBy("user_id").agg(min(col("ts")).as("first_purchase"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        col("first_view").cast("string").as("first_view"),
        col("first_click").cast("string").as("first_click"),
        col("first_purchase").cast("string").as("first_purchase"),
        when(col("first_purchase").isNotNull, 3L)
          .when(col("first_click").isNotNull, 2L)
          .when(col("first_view").isNotNull, 1L)
          .otherwise(0L).as("stage"))
      .orderBy("user_id")
  }

  // --- q68: bigram language model ---------------------------------------

  val LmTopK = 20

  /** q68 — bigram language-model statistics: count every adjacent token
    * pair, condition on the first token, and report the top
    * [[LmTopK]] bigrams with their add-one-smoothed conditional
    * probability (c₁₂+1)/(c₁+V). The conditioning denominator c₁ is
    * DERIVED from the bigram counts (Σ c₁₂ over bigrams starting with
    * w₁) rather than re-counted from the corpus, so the heavy data is
    * scanned once for the bigram aggregate and once for the (distinct-
    * token) vocabulary scalar — the c₁ roll-up touches only the already-
    * aggregated bigram table. The bigram shuffle keys on the gram string
    * with map-side partials — the shape that builds n-gram LMs over
    * web-scale corpora. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val c12 = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(DedupOps.wordGramArrayExpr(2))).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ")(0))
      .groupBy("bigram", "w1")
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    c12.join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), col("c12"), col("c1"),
        ((col("c12") + 1L) / (col("c1") + col("v"))).as("p_smooth"))
      .orderBy(col("c12").desc, col("bigram"))
      .limit(LmTopK)
  }

  // --- q69: TF-IDF keyword extraction -----------------------------------

  val TfidfTopK = 3

  /** q69 — TF-IDF top-[[TfidfTopK]] terms per document. The score is
    * tf × (N/df) with a plain (not log-damped) inverse document
    * frequency: N/df is one exact IEEE division and tf × it one exact
    * multiply, so both engines produce bit-identical doubles — a log()
    * would hinge on matching libm implementations, which nothing
    * guarantees. The tf pass shuffles on (doc, term), the df pass on
    * term, the rank is one window over the doc key. */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * (col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  // --- q71: SCD type-2 dimension build ----------------------------------

  /** q71 — slowly-changing-dimension type 2: collapse each user's event
    * stream into versioned validity intervals, one row per consecutive
    * run of the same event_type, with [valid_from, valid_to) bounds and
    * an is_current flag on the open interval. One shuffle on user_id;
    * run detection, version numbering, and interval closing are three
    * window passes inside the partition — the standard distributed SCD2
    * build (no self-join, no driver logic). */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val versions = runs.groupBy("user_id", "version", "event_type")
      .agg(min(col("ts")).as("valid_from_ts"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    versions
      .withColumn("valid_to_ts", lead(col("valid_from_ts"), 1).over(byVersion))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_ts").cast("string").as("valid_from"),
        col("valid_to_ts").cast("string").as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"),
        col("n_events"))
      .orderBy("user_id", "version")
  }

  // --- q72: incremental partial-aggregate merge -------------------------

  /** q72 — incremental aggregation: daily revenue partials merged into a
    * monthly rollup. The partials are DECIMAL sums, so re-aggregation is
    * exact and associative — merging yesterday's partials with today's
    * delta gives bit-identical results to recomputing from raw data,
    * which is what the oracle asserts (it aggregates the raw table
    * directly). This is the contract that lets a 100 TB pipeline
    * maintain rollups by folding per-day partials instead of rescanning
    * history. */
  def incrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("ship_day"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev_partial"),
        count(lit(1)).as("n_partial"))
    daily
      .groupBy(date_format(col("ship_day"), "yyyy-MM").as("ship_month"))
      .agg(sum(col("rev_partial")).cast("double").as("revenue"),
        sum(col("n_partial")).as("n_lines"))
      .orderBy("ship_month")
  }

  // --- q78: CDC merge-apply ---------------------------------------------

  val CdcCutoff = "2024-01-15"

  /** q78 — CDC apply (MERGE semantics on plain parquet): a base snapshot
    * (latest state per user before [[CdcCutoff]]) merged with a change
    * stream (events at-or-after it; 'error' events act as DELETEs, all
    * others as UPSERTs). Per user: the latest delta wins — a delete
    * removes the user, an upsert replaces the state — and users without
    * deltas keep their base row. This is the reference's marker-style
    * append-only model upgraded to keyed mutation, and the batch core
    * of every warehouse MERGE INTO. Distributed shape: two window
    * passes and one full-outer join, all on the user key — one
    * partitioning end to end; at 100 TB the delta side is a day's
    * changes, far smaller than the snapshot, and never blocks on it. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val base = e.filter(col("ts") < lit(CdcCutoff).cast("timestamp"))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("b_event_id"),
        col("value").as("b_value"), col("ts").as("b_ts"))
    val delta = e.filter(col("ts") >= lit(CdcCutoff).cast("timestamp"))
      .withColumn("op",
        when(col("event_type") === "error", "D").otherwise("U"))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("d_event_id"),
        col("value").as("d_value"), col("ts").as("d_ts"), col("op"))
    base.join(delta, Seq("user_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("user_id"),
        when(col("op") === "U", "delta").otherwise("base").as("src"),
        when(col("op") === "U", col("d_event_id"))
          .otherwise(col("b_event_id")).as("event_id"),
        when(col("op") === "U", col("d_value"))
          .otherwise(col("b_value")).as("value"),
        when(col("op") === "U", col("d_ts")).otherwise(col("b_ts"))
          .cast("string").as("state_ts"))
      .orderBy("user_id")
  }

  // --- q73: statistical anomaly detection -------------------------------

  /** z-score threshold: the event values are roughly uniform per type
    * (bounded support ⇒ |z| ≲ √3), so 1.7 marks the genuine upper tail
    * rather than selecting nothing, as the gaussian-habit 3.0 would. */
  val ZThreshold = 1.7

  /** q73 — group-wise anomaly detection: per event_type mean/stddev from
    * exact DECIMAL-summed moments, then every event whose |z| exceeds
    * [[ZThreshold]]. The moment pass is one map-side-partial aggregate;
    * the small per-type stats broadcast back onto the stream, so the
    * fact table is scanned twice and shuffled never — at 100 TB the
    * stats pass is the only coordination. Parity: Σx and Σx² are exact
    * decimals; mean/var/z use one fixed op order (var = S2/n − mean²,
    * Bessel-free population form); sqrt is IEEE correctly-rounded. */
  def zscoreAnomalies(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,10)"))
        .cast("double").as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("std",
        sqrt(col("s2") / col("n") - col("mean") * col("mean")))
    e.join(broadcast(stats.select("event_type", "mean", "std")), "event_type")
      .withColumn("z", (col("value") - col("mean")) / col("std"))
      .filter(abs(col("z")) > ZThreshold)
      .select(col("event_id"), col("event_type"), col("value"),
        col("z"))
      .orderBy("event_id")
  }

  // --- q89: winsorized robust mean --------------------------------------

  /** q89 — winsorized mean per event type: exact rank-based p05/p95
    * (the q49 integer-position pick — no float interpolation), every
    * value clamped into [p05, p95], then the robust mean next to the raw
    * one with clip counts. The outlier-trimming step a metrics pipeline
    * applies before averaging heavy-tailed telemetry.
    *
    * Distributed shape: one windowed rank pass per group (partition-
    * parallel), the tiny per-group bounds broadcast back, one aggregate.
    * Parity: bound picking is integer row selection; clamping is exact
    * double comparison (least/greatest); both means are DECIMAL sums
    * divided once. */
  def winsorizedMean(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    // one scan: the ranked table feeds both the bound pick and the
    // clamped aggregate (persist so the sort-window runs once)
    val ranked = EtlOps.events(s, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).cast("bigint").as("rn"),
        count(lit(1)).over(wAll).as("n"))
      .persist()
    def pick(p: Double) = max(when(
      col("rn") === ceil(lit(p) * col("n")).cast("bigint"), col("value")))
    val bounds = ranked.groupBy("event_type")
      .agg(pick(0.05).as("p05"), pick(0.95).as("p95"))
    ranked.select(col("event_type"), col("value"))
      .join(broadcast(bounds), "event_type")
      .withColumn("wv", least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_raw"),
        (sum(col("wv").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_winsor"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L))
          .as("n_clip_hi"))
      .orderBy("event_type")
  }

  // --- q90: group-wise OLS regression -----------------------------------

  /** Fixed-point scale for the regression moment sums: values and
    * day-indices are small (|xy| < 10⁵), so 10⁹ keeps every summand
    * exactly representable in BIGINT with 10⁴ headroom on row count
    * even at sf 100. */
  val OlsScale = 1e9

  /** q90 — per-group ordinary least squares: regress event value on the
    * day index, one (slope, intercept, n) row per event type — the
    * trend-per-segment primitive behind drift dashboards.
    *
    * The whole regression is ONE map-side-partial aggregate over exact
    * fixed-point moment sums (Σx, Σy, Σxy, Σx²) — no window, no second
    * scan, no driver math; the closed form needs nothing else. Σx/Σx²
    * are integer-exact by nature; Σy/Σxy quantize per-row as
    * floor(v·10⁹) (double→DECIMAL would round on Spark but truncate on
    * DuckDB), so every sum is order-free BIGINT arithmetic and the
    * closed-form slope/intercept evaluate through one identical double
    * op order on both engines. */
  def groupOls(s: SparkSession, dir: String): DataFrame = {
    val anchor = TimeSeriesOps.CohortAnchor
    EtlOps.events(s, dir)
      .select(col("event_type"), col("value"),
        expr(s"CAST(datediff(CAST(ts AS DATE), DATE'$anchor') AS BIGINT)")
          .as("x"))
      .withColumn("y_fp", expr(s"CAST(floor(value * $OlsScale) AS BIGINT)"))
      .withColumn("xy_fp",
        expr(s"CAST(floor(CAST(x AS DOUBLE) * value * $OlsScale) AS BIGINT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y_fp")).as("sy_fp"),
        sum(col("xy_fp")).as("sxy_fp"))
      .select(col("event_type"), col("n"), col("sx"),
        (col("sy_fp") / lit(OlsScale)).as("sy"),
        ((col("n") * (col("sxy_fp") / lit(OlsScale)) -
          col("sx") * (col("sy_fp") / lit(OlsScale))) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .as("slope"))
      .select(col("event_type"), col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"))
      .orderBy("event_type")
  }

  // --- q95: audience overlap matrix -------------------------------------

  /** q95 — pairwise audience overlap: for every ordered pair of event
    * types, the distinct-user intersection size and Jaccard overlap of
    * their audiences. The segment-overlap matrix behind every audience
    * dashboard.
    *
    * Distributed shape: ONE distinct pass over (type, user), then the
    * intersection counts come from a self-join on user_id — each user
    * contributes their own type-pair cross product (bounded by the
    * type-count, not the user count), so shuffle volume is |user-type|²
    * /|users| not |events|². Audience sizes broadcast back onto the
    * tiny pair table. */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    // tu feeds the sizes aggregate and both sides of the pair join
    val tu = EtlOps.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct().persist()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val inter = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_both") / (col("n_a") + col("n_b") - col("n_both")))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  // --- q96: event-transition matrix -------------------------------------

  /** q96 — first-order Markov transition statistics: for every adjacent
    * (prev event type → event type) pair inside a user's ordered stream,
    * the transition count and the row-normalized probability. Path
    * analysis / next-event modeling in one window pass + one aggregate:
    * the lag shuffles once on user_id, the count once on the (tiny)
    * type-pair key, and the denominator derives from the already-
    * aggregated counts — raw events are scanned exactly once. */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cnt = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val totals = cnt.groupBy("prev_type")
      .agg(sum(col("n_trans")).as("n_from"))
    cnt.join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n_trans"),
        (col("n_trans") / col("n_from")).as("p_trans"))
      .orderBy("prev_type", "next_type")
  }

  // --- q148: LM quality banding (CCNet-style) ----------------------------

  /** Relative-to-corpus band edges: a doc whose pooled LM probability is
    * >2% above the corpus-pooled value is 'head', >2% below is 'tail'. */
  val LmBandLo = 0.98
  val LmBandHi = 1.02

  /** q148 — language-model quality banding: score every document by the
    * q68 add-one-smoothed bigram model and split the corpus into
    * head / middle / tail bands (CCNet's perplexity bucketing,
    * Wenzek et al. 2020). Two determinism substitutions keep the oracle
    * bit-exact: (a) the per-doc score is the POOLED probability estimate
    * Σ(c12+1) / Σ(c1+V) — two exact integer sums and ONE double
    * division — rather than a perplexity (whose per-token log/exp would
    * hinge on libm parity), and it orders documents the same way for
    * the banding's purpose; (b) the band edges are RELATIVE to the
    * corpus-pooled score (ratio ∈ {<0.98, [0.98,1.02], >1.02}), so the
    * banding is scale-adaptive without the global sort an
    * ntile/percentile split would pay.
    *
    * Scale (100 TB): LM counts are vocabulary-sized aggregates; scoring
    * joins the corpus bigram stream to them on the bigram/first-word
    * keys (broadcast when the vocab fits, shuffle otherwise) and
    * collapses back to one row per doc; the corpus-pooled scalar rides a
    * broadcast. No global ordering anywhere. */
  def perplexityBucket(s: SparkSession, dir: String): DataFrame = {
    val docBigrams = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(DedupOps.wordGramArrayExpr(2))).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ")(0))
      .persist() // feeds c12, c1, AND the per-doc scoring join
    val c12 = docBigrams.groupBy("bigram").agg(count(lit(1)).as("c12"))
    val c1 = docBigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val perDoc = docBigrams
      .join(c12, "bigram")
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c12") + 1L).as("num"),
        sum(col("c1") + col("v")).as("den"))
    val pooled = perDoc.agg(sum(col("num")).as("gnum"),
      sum(col("den")).as("gden"))
    perDoc.crossJoin(broadcast(pooled))
      .withColumn("score", col("num").cast("double") / col("den"))
      .withColumn("rel",
        col("score") / (col("gnum").cast("double") / col("gden")))
      .withColumn("band",
        when(col("rel") < LmBandLo, "tail")
          .when(col("rel") > LmBandHi, "head")
          .otherwise("middle"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("score"), 6).as("score"), round(col("rel"), 6).as("rel"),
        col("band"))
      .orderBy("doc_id")
  }

  def perplexityBucketOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t),
       |g2 AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
       |  FROM g),
       |c12 AS (SELECT bigram, count(*) AS c12 FROM g2 GROUP BY bigram),
       |c1 AS (SELECT w1, count(*) AS c1 FROM g2 GROUP BY w1),
       |v AS (SELECT count(DISTINCT tok) AS v FROM
       |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
       |d AS (SELECT g2.doc_id, count(*) AS n_bigrams,
       |    sum(c12.c12 + 1) AS num, sum(c1.c1 + v.v) AS den
       |  FROM g2 JOIN c12 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
       |  GROUP BY g2.doc_id),
       |p AS (SELECT sum(num) AS gnum, sum(den) AS gden FROM d),
       |sc AS (SELECT d.doc_id, d.n_bigrams,
       |    CAST(d.num AS DOUBLE) / d.den AS score,
       |    (CAST(d.num AS DOUBLE) / d.den) /
       |      (CAST(p.gnum AS DOUBLE) / p.gden) AS rel
       |  FROM d CROSS JOIN p)
       |SELECT doc_id, n_bigrams, round(score, 6) AS score,
       |  round(rel, 6) AS rel,
       |  CASE WHEN rel < $LmBandLo THEN 'tail'
       |       WHEN rel > $LmBandHi THEN 'head'
       |       ELSE 'middle' END AS band
       |FROM sc ORDER BY doc_id""".stripMargin

  // --- q200: A/B experiment analysis (two-proportion z-test) -------------

  /** Two-sided 95% critical value for the z-test. */
  val AbZCrit = 1.959964

  /** Conversion definition: an event of the metric type with value
    * above this (the "high-value action"; reach alone is saturated —
    * every user touches every type in the fixture, p = 1, se = 0). */
  val AbConvValue = 100.0

  /** q200 — A/B experiment readout: users split into variants by a
    * deterministic id hash (user_id mod 2 — the assignment a real
    * experiment platform computes from a salted hash), and for every
    * event type as a conversion metric the audit reports per-variant
    * reach, conversion rates, the pooled two-proportion z statistic
    * and the 95% verdict. The analysis step every event pipeline
    * terminates in; complements q158's bootstrap (nonparametric CI)
    * with the classical closed-form test.
    *
    * Parity: user and conversion counts are exact integers
    * (distinct-collapsed before any arithmetic); rates, the pooled
    * proportion, sqrt and z are doubles computed in one fixed op
    * order in both engines.
    *
    * Scale (100 TB): the event stream collapses to DISTINCT
    * (event_type, user) pairs in one map-combinable aggregate; variant
    * totals are a 2-row broadcast; everything after is
    * |event_types|-sized. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
    val users = ev.select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("variant"))
      .groupBy().agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
    // planted treatment effect (in-query fixture, the q191 pattern):
    // variant B's purchase values are doubled, so exactly one metric
    // carries a real effect and the other four are A/A negative controls
    val eff = when(col("event_type") === "purchase",
      col("value") * (lit(1.0) + lit(1.0) *
        (col("user_id") % 2).cast("double")))
      .otherwise(col("value"))
    val conv = ev.filter(eff > AbConvValue)
      .select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), (col("user_id") % 2).as("variant"))
      .groupBy("event_type").agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    // degenerate metrics (all or none converted) have se = 0: report
    // z = 0 / not significant instead of an undefined statistic
    val degenerate = (col("conv_a") + col("conv_b") === 0L) ||
      (col("conv_a") + col("conv_b") === col("n_a") + col("n_b"))
    val z = when(degenerate, 0.0).otherwise((pb - pa) / se)
    conv.crossJoin(broadcast(users))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
        round(z, 6).as("z_score"),
        (abs(z) > AbZCrit).as("significant"))
      .orderBy("event_type")
  }

  def abTestOracle: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |tot AS (SELECT
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM u),
       |cu AS (SELECT DISTINCT event_type, user_id FROM events
       |  WHERE (CASE WHEN event_type = 'purchase'
       |      THEN value * (1.0 + 1.0 * CAST(user_id % 2 AS DOUBLE))
       |      ELSE value END) > $AbConvValue),
       |conv AS (SELECT event_type,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS conv_a,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS conv_b
       |  FROM cu GROUP BY event_type),
       |g AS (SELECT c.*, t.n_a, t.n_b,
       |    CAST(c.conv_a AS DOUBLE) / CAST(t.n_a AS DOUBLE) AS pa,
       |    CAST(c.conv_b AS DOUBLE) / CAST(t.n_b AS DOUBLE) AS pb,
       |    CAST(c.conv_a + c.conv_b AS DOUBLE)
       |      / CAST(t.n_a + t.n_b AS DOUBLE) AS p
       |  FROM conv c CROSS JOIN tot t),
       |g2 AS (SELECT *,
       |    CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
       |      THEN 0.0
       |      ELSE (pb - pa) / sqrt(p * (1.0 - p)
       |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |      END AS z
       |  FROM g)
       |SELECT event_type, n_a, n_b, conv_a, conv_b,
       |  round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
       |  round(z, 6) AS z_score,
       |  abs(z) > $AbZCrit AS significant
       |FROM g2 ORDER BY event_type""".stripMargin

  // --- q239: incremental aggregates with retractions ----------------------

  /** q239 — incremental aggregate maintenance with RETRACTIONS: the
    * append-only partial merge (q72's contract) cannot absorb deletes
    * or updates, but any aggregate expressible as a GROUP-SUM of
    * per-row terms can — apply the change batch as ±1-weighted rows
    * (delete = weight −1 with the OLD values, update = one delete +
    * one insert) and ADD: state' = state + Σ w·term. This is the
    * retraction stream Flink/Materialize-style incremental view
    * maintenance runs on, and the GDPR-erasure path (q199 measures the
    * blast radius; this maintains the aggregates through it). The
    * fixture deletes one decile, inserts another, and rewrites a third
    * (drop-first-word update); maintained count/Σtok/Σtok² per source
    * are audited cell-by-cell against a full recompute of the final
    * corpus, and the derived variance (the reason Σx² is carried)
    * rides along in fixed point.
    *
    * Min/max are deliberately absent: they are NOT sum-decomposable —
    * a delete of the current extremum forces a rescan. Carrying
    * (count, sum, sum-of-squares) is exactly the retractable-state
    * design choice this operator documents.
    *
    * Parity: everything is exact integer arithmetic until the one
    * variance division (frozen ×1e6).
    *
    * Scale (100 TB): the standing state is |sources| rows; the change
    * batch collapses map-side to |sources| signed partials — the
    * corpus is never rescanned (the full recompute here is the AUDIT,
    * like q229). */
  def retractionAggs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps.wsTokenCount
    // in production T0 / batch / final are distinct inputs; here all
    // three derive from one fixture table — persist it so the six
    // derivation branches share one scan
    val d = EtlOps.t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        (col("doc_id") % 10).as("dec")).persist()
    def toks(c: org.apache.spark.sql.Column) =
      wsTokenCount(c).cast("bigint")
    // T0 = everything but decile 9; batch: delete dec 3, insert dec 9,
    // update dec 6 (retract old text, insert drop-first-word text)
    val t0 = d.filter(col("dec") =!= 9)
      .select(col("source"), toks(col("text")).as("t"),
        lit(1L).as("w"))
    val newText = expr("substring(text, instr(text, ' ') + 1)")
    val batch =
      d.filter(col("dec") === 3).select(col("source"),
          toks(col("text")).as("t"), lit(-1L).as("w"))
        .unionAll(d.filter(col("dec") === 9).select(col("source"),
          toks(col("text")).as("t"), lit(1L).as("w")))
        .unionAll(d.filter(col("dec") === 6).select(col("source"),
          toks(col("text")).as("t"), lit(-1L).as("w")))
        .unionAll(d.filter(col("dec") === 6).select(col("source"),
          toks(newText).as("t"), lit(1L).as("w")))
    def state(rows: DataFrame, pfx: String) = rows.groupBy("source")
      .agg(sum(col("w")).as(s"${pfx}_n"),
        sum(col("w") * col("t")).as(s"${pfx}_sum"),
        sum(col("w") * col("t") * col("t")).as(s"${pfx}_ssq"))
    val s0 = state(t0, "t0")
    val ds = state(batch, "d")
    // the final corpus, recomputed from scratch — the audit side
    val fin = d.filter(col("dec") =!= 3)
      .select(col("source"),
        when(col("dec") === 6, toks(newText))
          .otherwise(toks(col("text"))).as("t"), lit(1L).as("w"))
    val sf = state(fin, "f")
    // full-outer everywhere: a source can be born in the batch (all
    // docs inserted), die in it (all docs deleted — absent from the
    // final recompute), or both sides; missing states are zero
    s0.join(ds, Seq("source"), "full_outer")
      .join(sf, Seq("source"), "full_outer")
      .selectExpr("source",
        "coalesce(t0_n, 0) AS t0_n", "coalesce(d_n, 0) AS delta_n",
        "coalesce(t0_n, 0) + coalesce(d_n, 0) AS n_final",
        "coalesce(f_n, 0) AS n_full",
        "coalesce(t0_sum, 0) + coalesce(d_sum, 0) AS sum_final",
        "coalesce(f_sum, 0) AS sum_full",
        "coalesce(t0_ssq, 0) + coalesce(d_ssq, 0) AS ssq_final",
        "coalesce(f_ssq, 0) AS ssq_full")
      .selectExpr("source", "t0_n", "delta_n", "n_final", "n_full",
        "sum_final", "sum_full", "ssq_final", "ssq_full",
        // population variance from the maintained state, ×1e6 floor;
        // undefined (0) for an emptied group
        "CASE WHEN n_final = 0 THEN 0 ELSE " +
          "CAST(floor((CAST(ssq_final AS DOUBLE) / " +
          "CAST(n_final AS DOUBLE) - " +
          "(CAST(sum_final AS DOUBLE) / CAST(n_final AS DOUBLE)) * " +
          "(CAST(sum_final AS DOUBLE) / CAST(n_final AS DOUBLE))) " +
          "* 1e6) AS BIGINT) END AS var_fp",
        "n_final = n_full AND sum_final = sum_full AND " +
          "ssq_final = ssq_full AS state_consistent")
      .orderBy("source")
  }

  def retractionAggsOracle: String =
    s"""WITH d AS (SELECT doc_id, source, text, doc_id % 10 AS dec,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS t,
       |    CAST(len(string_split_regex(trim(
       |      substr(text, instr(text, ' ') + 1)), '\\s+')) AS BIGINT)
       |      AS t_new
       |  FROM documents),
       |t0 AS (SELECT source, t, 1 AS w FROM d WHERE dec <> 9),
       |batch AS (SELECT source, t, -1 AS w FROM d WHERE dec = 3
       |  UNION ALL SELECT source, t, 1 FROM d WHERE dec = 9
       |  UNION ALL SELECT source, t, -1 FROM d WHERE dec = 6
       |  UNION ALL SELECT source, t_new, 1 FROM d WHERE dec = 6),
       |fin AS (SELECT source,
       |    CASE WHEN dec = 6 THEN t_new ELSE t END AS t, 1 AS w
       |  FROM d WHERE dec <> 3),
       |s0 AS (SELECT source, CAST(sum(w) AS BIGINT) AS t0_n,
       |    CAST(sum(w * t) AS BIGINT) AS t0_sum,
       |    CAST(sum(w * t * t) AS BIGINT) AS t0_ssq
       |  FROM t0 GROUP BY source),
       |ds AS (SELECT source, CAST(sum(w) AS BIGINT) AS d_n,
       |    CAST(sum(w * t) AS BIGINT) AS d_sum,
       |    CAST(sum(w * t * t) AS BIGINT) AS d_ssq
       |  FROM batch GROUP BY source),
       |sf AS (SELECT source, CAST(sum(w) AS BIGINT) AS f_n,
       |    CAST(sum(w * t) AS BIGINT) AS f_sum,
       |    CAST(sum(w * t * t) AS BIGINT) AS f_ssq
       |  FROM fin GROUP BY source),
       |j AS (SELECT coalesce(s0.source, ds.source, sf.source)
       |    AS source,
       |    coalesce(t0_n, 0) AS t0_n, coalesce(d_n, 0) AS delta_n,
       |    coalesce(t0_n, 0) + coalesce(d_n, 0) AS n_final,
       |    coalesce(f_n, 0) AS n_full,
       |    coalesce(t0_sum, 0) + coalesce(d_sum, 0) AS sum_final,
       |    coalesce(f_sum, 0) AS sum_full,
       |    coalesce(t0_ssq, 0) + coalesce(d_ssq, 0) AS ssq_final,
       |    coalesce(f_ssq, 0) AS ssq_full
       |  FROM s0
       |  FULL OUTER JOIN ds ON ds.source = s0.source
       |  FULL OUTER JOIN sf ON sf.source =
       |    coalesce(s0.source, ds.source))
       |SELECT source, t0_n, delta_n, n_final, n_full,
       |  sum_final, sum_full, ssq_final, ssq_full,
       |  CASE WHEN n_final = 0 THEN 0 ELSE
       |    CAST(floor((CAST(ssq_final AS DOUBLE) /
       |      CAST(n_final AS DOUBLE) -
       |      (CAST(sum_final AS DOUBLE) / CAST(n_final AS DOUBLE)) *
       |      (CAST(sum_final AS DOUBLE) / CAST(n_final AS DOUBLE)))
       |      * 1e6) AS BIGINT) END AS var_fp,
       |  n_final = n_full AND sum_final = sum_full AND
       |    ssq_final = ssq_full AS state_consistent
       |FROM j ORDER BY source""".stripMargin

  // --- q235: sequential event-path mining ---------------------------------

  /** Every PlantMod-th user gets a deterministic appended tail of
    * THREE consecutive signup→click→purchase funnels; paths with lift
    * ≥ LiftFlag (×1e6 fp) are flagged. A repeated planted sequence
    * necessarily elevates its rotations too (…p→s→c…), so the flagged
    * set is the primary path (max lift ≈ 3.5) plus its two rotations
    * (≈ 2.5) — exactly what repetition looks like in real funnels,
    * while the independence noise floor stays ≈ 1.4. */
  val PathPlantMod = 2L
  val PathLiftFlagFp = 2000000L

  private val PathPlantTypes: Seq[String] =
    Seq.fill(3)(Seq("signup", "click", "purchase")).flatten

  /** observed support / independence expectation, in overflow-free
    * ratio-of-ratios form — ONE string shared by both engines. */
  private val PathLiftSql: String =
    "((CAST(n_occ AS DOUBLE) / CAST(n_win AS DOUBLE)) * " +
      "(CAST(n_ev AS DOUBLE) / CAST(ca AS DOUBLE)) * " +
      "(CAST(n_ev AS DOUBLE) / CAST(cb AS DOUBLE)) * " +
      "(CAST(n_ev AS DOUBLE) / CAST(cc AS DOUBLE)))"

  /** q235 — sequential event-path mining: which 3-step event sequences
    * are OVER-represented vs the independence baseline — the
    * product-analytics question behind funnel design (q67 checks ONE
    * ordered hypothesis; this mines all |types|³ of them). Per user,
    * events order by (ts, event_id); every consecutive triple is a
    * path occurrence; each path reports its occurrence count, user
    * reach, support, and LIFT = observed support / p(a)·p(b)·p(c)
    * under the unigram independence model — an exact integer-ratio
    * statistic here. The fixture plants one signup→click→purchase
    * tail on every [[PathPlantMod]]-th user, so exactly the planted
    * path (and no other) crosses the ×2 lift flag on this otherwise
    * type-independent synthetic stream — both verdict branches real.
    *
    * Parity: ordering is (ts, event_id) on both engines (timestamps
    * are never output); counts are integers; lift is one shared
    * integer-product division frozen at ×1e6; support divides once.
    *
    * Scale (100 TB): ONE exchange on user_id (the q67 partitioning),
    * windows inside the partition, then a map-side-combined path
    * rollup whose output is ≤|types|³ rows — path mining costs a
    * sessionization pass regardless of corpus size. */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    val planted = ev
      .filter(col("user_id") % PathPlantMod === 0)
      .select(col("user_id")).distinct()
      .selectExpr("user_id",
        "posexplode(array(" +
          PathPlantTypes.map(t => s"'$t'").mkString(", ") +
          ")) AS (i, et)")
      .selectExpr("user_id",
        "timestamp'2031-01-01 00:00:00' + make_dt_interval(0, 0, i, 0)" +
          " AS ts",
        "1000000000 + user_id * 10 + i AS event_id",
        "et AS event_type")
    val stream = ev.unionByName(planted)
    val w = Window.partitionBy("user_id").orderBy(col("ts"),
      col("event_id"))
    val paths = stream
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("event_type"), col("t1"), col("t2"))
          .as("path"),
        col("event_type").as("a"), col("t1").as("b"), col("t2").as("c"))
      .persist()
    val tot = stream.groupBy("event_type")
      .agg(count(lit(1)).as("c_t"))
    val n = stream.agg(count(lit(1)).as("n_ev"))
    val wtot = paths.agg(count(lit(1)).as("n_win"))
    paths.groupBy("path", "a", "b", "c")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .join(tot.select(col("event_type").as("a"), col("c_t").as("ca")),
        "a")
      .join(tot.select(col("event_type").as("b"), col("c_t").as("cb")),
        "b")
      .join(tot.select(col("event_type").as("c"), col("c_t").as("cc")),
        "c")
      .crossJoin(broadcast(n)).crossJoin(broadcast(wtot))
      // ratio-of-ratios form: integer products would overflow int64 at
      // the synthetic 10× (n_ev³ ≈ 1e15 × n_occ); each factor is one
      // exact division, shared op order both engines
      .withColumn("lift_fp", floor(expr(PathLiftSql) * 1e6)
        .cast("bigint"))
      .select(col("path"), col("n_occ"), col("n_users"),
        round(col("n_occ").cast("double") /
          col("n_win").cast("double"), 6).as("support"),
        round(col("lift_fp").cast("double") / 1e6, 6).as("lift"),
        (col("lift_fp") >= PathLiftFlagFp).as("over_represented"))
      .orderBy("path")
  }

  def eventPathsOracle: String =
    s"""WITH pl AS (SELECT DISTINCT user_id FROM events
       |  WHERE user_id % $PathPlantMod = 0),
       |plant AS (SELECT user_id,
       |    TIMESTAMP '2031-01-01 00:00:00' + to_minutes(CAST(i AS
       |      BIGINT)) AS ts,
       |    1000000000 + user_id * 10 + i AS event_id,
       |    ([${PathPlantTypes.map(t => s"'$t'").mkString(", ")}])
       |      [CAST(i + 1 AS INT)] AS event_type
       |  FROM pl CROSS JOIN (SELECT
       |    unnest(range(0, ${PathPlantTypes.size})) AS i)),
       |st AS (SELECT user_id, ts, event_id, event_type FROM events
       |  UNION ALL SELECT user_id, ts, event_id, event_type FROM plant),
       |seq AS (SELECT user_id, event_type AS a,
       |    lead(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS b,
       |    lead(event_type, 2) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS c
       |  FROM st),
       |p AS (SELECT user_id, a || '>' || b || '>' || c AS path, a, b, c
       |  FROM seq WHERE c IS NOT NULL),
       |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c_t
       |  FROM st GROUP BY event_type),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_ev FROM st),
       |wt AS (SELECT CAST(count(*) AS BIGINT) AS n_win FROM p),
       |g AS (SELECT path, a, b, c, CAST(count(*) AS BIGINT) AS n_occ,
       |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |  FROM p GROUP BY path, a, b, c),
       |lf AS (SELECT path, n_occ, n_users, n_win,
       |    CAST(floor($PathLiftSql * 1e6) AS BIGINT) AS lift_fp
       |  FROM (SELECT g.path, g.n_occ, g.n_users, wt.n_win, n.n_ev,
       |      ta.c_t AS ca, tb.c_t AS cb, tc.c_t AS cc
       |    FROM g
       |    JOIN tot ta ON ta.event_type = g.a
       |    JOIN tot tb ON tb.event_type = g.b
       |    JOIN tot tc ON tc.event_type = g.c
       |    CROSS JOIN n CROSS JOIN wt))
       |SELECT path, n_occ, n_users,
       |  round(CAST(n_occ AS DOUBLE) / CAST(n_win AS DOUBLE), 6)
       |    AS support,
       |  round(CAST(lift_fp AS DOUBLE) / 1e6, 6) AS lift,
       |  lift_fp >= $PathLiftFlagFp AS over_represented
       |FROM lf ORDER BY path""".stripMargin

  // --- q247: Shapley-value channel attribution ---------------------------

  /** q247 — exact Shapley-value conversion attribution over touchpoint
    * channel SETS: the game-theoretic alternative to last-touch (q63) and
    * path mining (q235). The coalition value v(S) counts conversions
    * whose pre-purchase touch set is contained in S; channel i's Shapley
    * value is Σ_{S∌i} |S|!(n−1−|S|)!/n! · (v(S∪{i}) − v(S)) — order-free
    * by construction, so (unlike Markov removal effects) it needs no
    * iterative solve and every weight is a RATIONAL with denominator n!.
    *
    * Exactness: touch sets become bitmasks; v is an integer count per
    * coalition; φ is accumulated ×n! as a bigint and divided once at the
    * end. Users who convert with NO prior touch sit at mask 0 — a subset
    * of every coalition, so they cancel in every marginal (the organic
    * baseline attributes to nobody, as it should).
    *
    * Scale (100 TB): the event stream collapses map-side to per-user
    * first-purchase + distinct pre-purchase touches (one user_id
    * exchange); everything after runs on ≤2ⁿ coalition cells (n =
    * |channels|, here 4 → 16 cells) — the combinatorial stage is
    * vocabulary-sized, never data-sized. */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val firstPur = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("pts"))
    val touches = ev.join(firstPur, "user_id")
      .filter(col("event_type") =!= "purchase" && col("ts") < col("pts"))
      .select(col("user_id"), col("event_type")).distinct()
    val chans = touches.select(col("event_type").as("ch")).distinct()
      .withColumn("bit",
        (row_number().over(Window.orderBy("ch")) - 1).cast("int"))
    val masks = touches
      .join(chans, touches("event_type") === chans("ch"))
      .groupBy("user_id")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
    val userMasks = firstPur.select("user_id")
      .join(masks, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"))
    val obs = userMasks.groupBy("mask").agg(count(lit(1)).as("conv"))
    val nDf = chans.agg(count(lit(1)).cast("int").as("n"))
    val coal = nDf.select(col("n"),
      explode(expr("sequence(0, shiftleft(1, n) - 1)")).as("smask"))
    val v = coal.join(obs,
        obs("mask").bitwiseAND(coal("smask")) === obs("mask"), "left")
      .groupBy("smask", "n")
      .agg(coalesce(sum(col("conv")), lit(0L)).as("v"))
    val fact = "CASE %s WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 " +
      "WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 END"
    val marg = chans.join(v.select(col("smask"), col("n"),
        col("v").as("v0")),
        expr("(smask & shiftleft(1, bit)) = 0"))
      .join(v.select(col("smask").as("smask1"), col("v").as("v1")),
        expr("smask1 = (smask | shiftleft(1, bit))"))
      .withColumn("scnt", expr("bit_count(smask)"))
      .withColumn("w", expr(
        s"CAST(${fact.format("scnt")} AS BIGINT) * " +
          s"${fact.format("(n - 1 - scnt)")}"))
    val touched = obs.crossJoin(broadcast(chans))
      .filter(expr("(mask & shiftleft(1, bit)) <> 0"))
      .groupBy("ch").agg(sum(col("conv")).as("touched_conv"))
    marg.groupBy("ch", "n")
      .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_scaled"))
      .join(touched, Seq("ch"), "left")
      .selectExpr("ch AS channel",
        "coalesce(touched_conv, 0) AS touched_conv", "phi_scaled",
        s"round(CAST(phi_scaled AS DOUBLE) / ${fact.format("n")}, 4) " +
          "AS phi")
      .orderBy("channel")
  }

  def shapleyAttributionOracle: String = {
    val fact = "CASE %s WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2 " +
      "WHEN 3 THEN 6 WHEN 4 THEN 24 WHEN 5 THEN 120 END"
    s"""WITH fp AS (SELECT user_id, min(ts) AS pts FROM events
       |  WHERE event_type = 'purchase' GROUP BY user_id),
       |tch AS (SELECT DISTINCT e.user_id, e.event_type
       |  FROM events e JOIN fp ON fp.user_id = e.user_id
       |  WHERE e.event_type <> 'purchase' AND e.ts < fp.pts),
       |chans AS (SELECT ch, CAST(row_number() OVER (ORDER BY ch) - 1
       |    AS INT) AS bit
       |  FROM (SELECT DISTINCT event_type AS ch FROM tch)),
       |mk AS (SELECT user_id, CAST(sum(1 << bit) AS BIGINT) AS mask
       |  FROM tch JOIN chans ON chans.ch = tch.event_type
       |  GROUP BY user_id),
       |um AS (SELECT coalesce(mk.mask, 0) AS mask FROM fp
       |  LEFT JOIN mk ON mk.user_id = fp.user_id),
       |obs AS (SELECT mask, CAST(count(*) AS BIGINT) AS conv FROM um
       |  GROUP BY mask),
       |nn AS (SELECT CAST(count(*) AS INT) AS n FROM chans),
       |coal AS (SELECT n, CAST(unnest(range(0, 1 << n)) AS BIGINT)
       |    AS smask FROM nn),
       |v AS (SELECT smask, n,
       |    CAST(coalesce(sum(conv), 0) AS BIGINT) AS v
       |  FROM coal LEFT JOIN obs ON (obs.mask & coal.smask) = obs.mask
       |  GROUP BY smask, n),
       |marg AS (SELECT chans.ch, v0.n, v0.smask,
       |    CAST(bit_count(v0.smask) AS INT) AS scnt,
       |    v1.v - v0.v AS dv
       |  FROM chans JOIN v v0 ON (v0.smask & (1 << chans.bit)) = 0
       |  JOIN v v1 ON v1.smask = (v0.smask | (1 << chans.bit))),
       |phi AS (SELECT ch, n,
       |    CAST(sum(CAST(${fact.format("scnt")} AS BIGINT) *
       |      ${fact.format("(n - 1 - scnt)")} * dv) AS BIGINT)
       |      AS phi_scaled
       |  FROM marg GROUP BY ch, n),
       |tc AS (SELECT ch, CAST(sum(conv) AS BIGINT) AS touched_conv
       |  FROM obs, chans WHERE (mask & (1 << bit)) <> 0 GROUP BY ch)
       |SELECT ch AS channel, coalesce(touched_conv, 0) AS touched_conv,
       |  phi_scaled,
       |  round(CAST(phi_scaled AS DOUBLE) / ${fact.format("n")}, 4)
       |    AS phi
       |FROM phi LEFT JOIN tc USING (ch) ORDER BY channel""".stripMargin
  }

  // --- q251: difference-in-differences experiment readout ----------------

  /** Treatment boundary (day-of-month), placebo boundary, planted lift. */
  val DidPostDay = 15
  val DidPlaceboDay = 8
  val DidPlantLift = 30.0

  /** q251 — difference-in-differences: the quasi-experimental
    * counterpart of q200's randomized A/B readout, for rollouts where
    * assignment is NOT randomized over time: treated users (odd
    * user_id) after the launch day vs their own pre-period, differenced
    * against the control group's trend. A placebo regression (fake
    * boundary at day [[DidPlaceboDay]], pre-period only) guards the
    * parallel-trends assumption: a "detector" that fires on the placebo
    * is reading seasonality, not the treatment.
    *
    * Fixture: a [[DidPlantLift]] lift is planted on treated-post rows
    * in-query; the stationary stream satisfies parallel trends by
    * construction, so DiD must recover ≈ the plant and placebo ≈ 0.
    *
    * Exactness: per-row values freeze to ×1e6 bigints BEFORE the
    * order-free cell sums (the q142 ln-freeze discipline); the four
    * cell means and their differences are one fixed double expression.
    *
    * Scale (100 TB): ONE map-combined collapse to (type, treat, post,
    * placebo-post) cells; everything after is |types|-sized arithmetic.
    * No shuffle beyond the cell aggregation. */
  def didReadout(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "CAST(user_id % 2 = 1 AS INT) AS treat",
      s"CAST(extract(day FROM ts) > $DidPostDay AS INT) AS post",
      s"CASE WHEN extract(day FROM ts) <= $DidPostDay THEN " +
        s"CAST(extract(day FROM ts) > $DidPlaceboDay AS INT) " +
        "ELSE NULL END AS ppost",
      s"CAST(floor((value + CASE WHEN user_id % 2 = 1 AND " +
        s"extract(day FROM ts) > $DidPostDay THEN $DidPlantLift " +
        "ELSE 0.0 END) * 1e6) AS BIGINT) AS v_fp")
    val cells = ev.groupBy("et").agg(
      sum(when(col("treat") === 1 && col("post") === 1, col("v_fp")))
        .as("s_tp"),
      count(when(col("treat") === 1 && col("post") === 1, 1)).as("n_tp"),
      sum(when(col("treat") === 1 && col("post") === 0, col("v_fp")))
        .as("s_t0"),
      count(when(col("treat") === 1 && col("post") === 0, 1)).as("n_t0"),
      sum(when(col("treat") === 0 && col("post") === 1, col("v_fp")))
        .as("s_cp"),
      count(when(col("treat") === 0 && col("post") === 1, 1)).as("n_cp"),
      sum(when(col("treat") === 0 && col("post") === 0, col("v_fp")))
        .as("s_c0"),
      count(when(col("treat") === 0 && col("post") === 0, 1)).as("n_c0"),
      sum(when(col("treat") === 1 && col("ppost") === 1, col("v_fp")))
        .as("p_tp"),
      count(when(col("treat") === 1 && col("ppost") === 1, 1))
        .as("m_tp"),
      sum(when(col("treat") === 1 && col("ppost") === 0, col("v_fp")))
        .as("p_t0"),
      count(when(col("treat") === 1 && col("ppost") === 0, 1))
        .as("m_t0"),
      sum(when(col("treat") === 0 && col("ppost") === 1, col("v_fp")))
        .as("p_cp"),
      count(when(col("treat") === 0 && col("ppost") === 1, 1))
        .as("m_cp"),
      sum(when(col("treat") === 0 && col("ppost") === 0, col("v_fp")))
        .as("p_c0"),
      count(when(col("treat") === 0 && col("ppost") === 0, 1))
        .as("m_c0"))
    val did = "(CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) " +
      "/ n_t0 - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) " +
      "/ n_c0)) / 1e6"
    val placebo = "(CAST(p_tp AS DOUBLE) / m_tp - CAST(p_t0 AS DOUBLE)" +
      " / m_t0 - (CAST(p_cp AS DOUBLE) / m_cp - CAST(p_c0 AS DOUBLE) " +
      "/ m_c0)) / 1e6"
    cells.selectExpr("et AS event_type",
        "n_tp + n_t0 AS n_treated", "n_cp + n_c0 AS n_control",
        s"round($did, 4) AS did",
        s"round($placebo, 4) AS placebo_did",
        s"$did > ${DidPlantLift / 2} AND abs($placebo) < " +
          s"${DidPlantLift / 2} AS effect_detected")
      .orderBy("event_type")
  }

  def didReadoutOracle: String = {
    val did = "(CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) " +
      "/ n_t0 - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) " +
      "/ n_c0)) / 1e6"
    val placebo = "(CAST(p_tp AS DOUBLE) / m_tp - CAST(p_t0 AS DOUBLE)" +
      " / m_t0 - (CAST(p_cp AS DOUBLE) / m_cp - CAST(p_c0 AS DOUBLE) " +
      "/ m_c0)) / 1e6"
    s"""WITH e AS (SELECT event_type AS et,
       |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
       |    CASE WHEN extract(day FROM ts) > $DidPostDay THEN 1 ELSE 0
       |      END AS post,
       |    CASE WHEN extract(day FROM ts) <= $DidPostDay THEN
       |      CASE WHEN extract(day FROM ts) > $DidPlaceboDay THEN 1
       |        ELSE 0 END ELSE NULL END AS ppost,
       |    CAST(floor((value + CASE WHEN user_id % 2 = 1 AND
       |      extract(day FROM ts) > $DidPostDay THEN $DidPlantLift
       |      ELSE 0.0 END) * 1e6) AS BIGINT) AS v_fp
       |  FROM events),
       |c AS (SELECT et,
       |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN v_fp END)
       |      AS BIGINT) AS s_tp,
       |    CAST(count(CASE WHEN treat = 1 AND post = 1 THEN 1 END)
       |      AS BIGINT) AS n_tp,
       |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN v_fp END)
       |      AS BIGINT) AS s_t0,
       |    CAST(count(CASE WHEN treat = 1 AND post = 0 THEN 1 END)
       |      AS BIGINT) AS n_t0,
       |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN v_fp END)
       |      AS BIGINT) AS s_cp,
       |    CAST(count(CASE WHEN treat = 0 AND post = 1 THEN 1 END)
       |      AS BIGINT) AS n_cp,
       |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN v_fp END)
       |      AS BIGINT) AS s_c0,
       |    CAST(count(CASE WHEN treat = 0 AND post = 0 THEN 1 END)
       |      AS BIGINT) AS n_c0,
       |    CAST(sum(CASE WHEN treat = 1 AND ppost = 1 THEN v_fp END)
       |      AS BIGINT) AS p_tp,
       |    CAST(count(CASE WHEN treat = 1 AND ppost = 1 THEN 1 END)
       |      AS BIGINT) AS m_tp,
       |    CAST(sum(CASE WHEN treat = 1 AND ppost = 0 THEN v_fp END)
       |      AS BIGINT) AS p_t0,
       |    CAST(count(CASE WHEN treat = 1 AND ppost = 0 THEN 1 END)
       |      AS BIGINT) AS m_t0,
       |    CAST(sum(CASE WHEN treat = 0 AND ppost = 1 THEN v_fp END)
       |      AS BIGINT) AS p_cp,
       |    CAST(count(CASE WHEN treat = 0 AND ppost = 1 THEN 1 END)
       |      AS BIGINT) AS m_cp,
       |    CAST(sum(CASE WHEN treat = 0 AND ppost = 0 THEN v_fp END)
       |      AS BIGINT) AS p_c0,
       |    CAST(count(CASE WHEN treat = 0 AND ppost = 0 THEN 1 END)
       |      AS BIGINT) AS m_c0
       |  FROM e GROUP BY et)
       |SELECT et AS event_type, n_tp + n_t0 AS n_treated,
       |  n_cp + n_c0 AS n_control,
       |  round($did, 4) AS did, round($placebo, 4) AS placebo_did,
       |  $did > ${DidPlantLift / 2} AND abs($placebo) <
       |    ${DidPlantLift / 2} AS effect_detected
       |FROM c ORDER BY event_type""".stripMargin
  }

  // --- q256: rank-biased overlap (RBO) top-k churn ------------------------

  /** Top-k depth; p is FIXED at 1/2 so every RBO weight is dyadic. */
  val RboK = 10
  /** lcm(1..10) · 2¹⁰ — the exact common denominator of all RBO terms. */
  val RboDen = 2520L * 1024L

  /** q256 — rank-biased overlap between consecutive days' top-k user
    * leaderboards: set-level churn metrics (q136's manifest churn)
    * ignore ORDER — RBO (Webber et al.) weights agreement at rank d by
    * p^d, so a top-1 swap moves it far more than a swap at rank 10.
    * With p fixed at 1/2 every weight is a dyadic rational, so the
    * whole metric accumulates as ONE exact integer: rbo·2520·1024 =
    * Σ_d o_d · (2520/d) · 2^(10−d) — zero libm, zero float sums (the
    * τ-grid powers-of-two discipline).
    *
    * Exactness: integer throughout; the readable rbo column is one
    * final division. Ranks tie-break by user_id on both engines.
    *
    * Fixture: three planted power users (the whole stream re-labeled
    * round-robin) anchor the top of every day's board — RBO must read
    * a stable prefix over a churning tail, where plain top-k overlap
    * reads mostly churn.
    *
    * Scale (100 TB): one (day, user) collapse; the rank window is
    * per-day; everything downstream operates on 2·k rows per day pair
    * — calendar-sized, not data-sized. */
  def rboChurn(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events")
      .selectExpr("CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS d",
        "user_id", "event_type")
    val plant = ev.selectExpr("d",
      "CAST(9000001 + user_id % 3 AS BIGINT) AS user_id")
    val daily = ev.select("d", "user_id").unionAll(plant)
      .groupBy("d", "user_id").agg(count(lit(1)).as("cnt"))
    val ranked = daily.withColumn("r", row_number().over(
        Window.partitionBy("d")
          .orderBy(col("cnt").desc, col("user_id"))))
      .filter(col("r") <= RboK).persist()
    val a = ranked.select(col("d"), col("user_id"), col("r").as("ra"))
    val b = ranked.select((col("d") - 1).as("d"), col("user_id"),
      col("r").as("rb"))
    val matched = a.join(b, Seq("d", "user_id"))
      .select((col("d") + 1).as("day"), col("ra"), col("rb"))
    val dgrid = ranked.select(col("d").as("day")).distinct()
      .filter(col("day") >= 1)
    val depth = dgrid.select(col("day"),
      explode(expr(s"sequence(1, $RboK)")).as("dep"))
    val terms = depth.join(matched, Seq("day"), "left")
      .groupBy("day", "dep")
      .agg(sum(when(col("ra") <= col("dep") && col("rb") <= col("dep"),
        1L).otherwise(0L)).as("o"))
      .withColumn("term", col("o") * (lit(2520L) / col("dep"))
        .cast("bigint") * expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"$RboK - dep)"))
    terms.groupBy("day").agg(
        sum(col("term")).as("rbo_fp"),
        max(when(col("dep") === RboK, col("o"))).as("overlap_k"))
      .selectExpr("day", "overlap_k",
        s"round(CAST(rbo_fp AS DOUBLE) / $RboDen, 6) AS rbo")
      .orderBy("day")
  }

  def rboChurnOracle: String =
    s"""WITH ev AS (SELECT
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT) AS d,
       |    user_id FROM events
       |  UNION ALL
       |  SELECT CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT),
       |    CAST(9000001 + user_id % 3 AS BIGINT)
       |  FROM events),
       |daily AS (SELECT d, user_id, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ev GROUP BY 1, 2),
       |rk AS (SELECT d, user_id, CAST(row_number() OVER (
       |    PARTITION BY d ORDER BY cnt DESC, user_id) AS BIGINT) AS r
       |  FROM daily QUALIFY r <= $RboK),
       |m AS (SELECT b.d AS day, a.r AS ra, b.r AS rb
       |  FROM rk a JOIN rk b ON b.user_id = a.user_id
       |    AND b.d = a.d + 1),
       |dg AS (SELECT DISTINCT d AS day FROM rk WHERE d >= 1),
       |dep AS (SELECT day, CAST(unnest(range(1, ${RboK + 1}))
       |    AS BIGINT) AS dep FROM dg),
       |t AS (SELECT dep.day, dep.dep,
       |    CAST(sum(CASE WHEN ra <= dep.dep AND rb <= dep.dep THEN 1
       |      ELSE 0 END) AS BIGINT) AS o
       |  FROM dep LEFT JOIN m ON m.day = dep.day
       |  GROUP BY dep.day, dep.dep),
       |s AS (SELECT day,
       |    CAST(sum(o * (2520 // dep) * (1 << ($RboK - dep)))
       |      AS BIGINT) AS rbo_fp,
       |    CAST(max(CASE WHEN dep = $RboK THEN o END) AS BIGINT)
       |      AS overlap_k
       |  FROM t GROUP BY day)
       |SELECT day, overlap_k,
       |  round(CAST(rbo_fp AS DOUBLE) / $RboDen, 6) AS rbo
       |FROM s ORDER BY day""".stripMargin

  // --- q257: Kendall τ-b rank correlation ---------------------------------

  /** Per-source pair-stage sample gate: 1-in-mod of docs enter the
    * quadratic stage. Identity (1), so the oracle covers every pair; a
    * larger mod caps the per-source pair budget at volume (pairs shrink
    * ×mod², τ estimates move only within sampling error). */
  val TauSampleMod: Long = 1L

  /** q257 — Kendall τ-b between two per-document quality signals
    * (distinct-token ratio vs length), per source: the RANK-correlation
    * companion to q90's per-group OLS — gate-redundancy analysis asks
    * "do these two signals ORDER documents the same way", which is a
    * τ question, not a Pearson one, and τ-b handles the tie mass a
    * closed vocabulary creates. C, D and tie counts are exact integers
    * from the pair join; τ-b = (C−D)/√((n₀−T_x)(n₀−T_y)) is one final
    * double expression.
    *
    * Scale (100 TB): pairs are per-source quadratic — the production
    * form gates the pair stage on a hash sample ([[TauSampleMod]], the
    * q237/q242 sampling discipline) so the quadratic budget is fixed
    * per source regardless of corpus size. */
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val d = EtlOps.t(s, dir, "documents")
      .filter(call_function("md5_fp60",
        concat(lit("tau:"), col("doc_id").cast("string")))
        % TauSampleMod === 0)
      .withColumn("toks", split(col("text"), " "))
      .select(col("source"), col("doc_id"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("x"),
        col("n_chars").as("y"))
    val a = d.select(col("source"), col("doc_id").as("ai"),
      col("x").as("xa"), col("y").as("ya"))
    val b = d.select(col("source"), col("doc_id").as("bi"),
      col("x").as("xb"), col("y").as("yb"))
    a.join(b, Seq("source")).filter(col("ai") < col("bi"))
      .groupBy("source").agg(
        count(lit(1)).as("n0"),
        sum(when((col("xa") > col("xb") && col("ya") > col("yb")) ||
          (col("xa") < col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("c"),
        sum(when((col("xa") > col("xb") && col("ya") < col("yb")) ||
          (col("xa") < col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("d"),
        sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
      .selectExpr("source", "n0", "c", "d", "tx", "ty",
        "CASE WHEN n0 > tx AND n0 > ty THEN " +
          "round(CAST(c - d AS DOUBLE) / sqrt(CAST(n0 - tx AS DOUBLE) " +
          "* CAST(n0 - ty AS DOUBLE)), 6) ELSE NULL END AS tau_b")
      .orderBy("source")
  }

  def kendallTauOracle: String = {
    val fp = "CAST(CAST('0x' || substr(md5('tau:' || " +
      "CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)"
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS x,
       |    n_chars AS y
       |  FROM documents WHERE $fp % $TauSampleMod = 0),
       |p AS (SELECT a.source,
       |    a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
       |  FROM d a JOIN d b ON a.source = b.source
       |    AND a.doc_id < b.doc_id),
       |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN (xa > xb AND ya > yb) OR
       |      (xa < xb AND ya < yb) THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN (xa > xb AND ya < yb) OR
       |      (xa < xb AND ya > yb) THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tx,
       |    CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ty
       |  FROM p GROUP BY source)
       |SELECT source, n0, c, d, tx, ty,
       |  CASE WHEN n0 > tx AND n0 > ty THEN
       |    round(CAST(c - d AS DOUBLE) / sqrt(CAST(n0 - tx AS DOUBLE) *
       |      CAST(n0 - ty AS DOUBLE)), 6) ELSE NULL END AS tau_b
       |FROM ag ORDER BY source""".stripMargin
  }

  // --- q259: median/MAD robust outliers vs the z-score they unmask -------

  /** Planted contamination: one extreme + five moderate outliers. */
  val MadPlantExtreme = 100000.0
  val MadPlantModerate = 450.0

  /** q259 — robust outlier detection by modified z-score
    * (0.6745·(x−median)/MAD > 3.5, Iglewicz–Hoaglin) next to q73's
    * mean/σ z-score, on a stream planted to exhibit MASKING: one
    * extreme outlier inflates σ so far that five moderate outliers sit
    * under 3σ and the classical detector reports ONE anomaly where
    * there are six. Median and MAD have 50% breakdown — the moderate
    * group stays flagged.
    *
    * Exactness: values quantize to ×100 bigints (the fixture is 2-dp);
    * median/MAD are lower-weighted-median selections on the (type,
    * value) cell grid (2·cum ≥ n); BOTH flag conditions are evaluated
    * per CELL in integer/fixed double algebra — no per-row state.
    *
    * Scale (100 TB): one map-combined cell collapse; two window passes
    * per type over |cells|; flags are cell-weighted sums. The
    * classical moments come from the same cells for free. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = t0events(s, dir).selectExpr("event_type AS et", "value")
    val plantBase = t0events(s, dir)
      .filter(col("event_type") === "view")
      .selectExpr("'view_spiked' AS et", "value")
    val plantOut = s.range(6).selectExpr("'view_spiked' AS et",
      s"CASE WHEN id = 0 THEN $MadPlantExtreme " +
        s"ELSE $MadPlantModerate END AS value")
    val cells = ev.unionAll(plantBase).unionAll(plantOut)
      .selectExpr("et", "CAST(round(value * 100, 0) AS BIGINT) AS v")
      .groupBy("et", "v").agg(count(lit(1)).as("cnt"))
    val wAll = Window.partitionBy("et")
    val wCum = Window.partitionBy("et").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val c2 = cells
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("sx", sum(expr("v * cnt")).over(wAll))
      .withColumn("sxx", sum(expr("v * v * cnt")).over(wAll))
    val med = c2.groupBy("et", "n", "sx", "sxx")
      .agg(min(when(expr("2 * cum >= n"), col("v"))).as("med"))
    val dev = cells.join(broadcast(med.select("et", "med")), "et")
      .selectExpr("et", "abs(v - med) AS dv", "cnt")
      .groupBy("et", "dv").agg(sum(col("cnt")).as("dcnt"))
    val mad = dev
      .withColumn("dcum", sum(col("dcnt")).over(
        Window.partitionBy("et").orderBy("dv")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dn", sum(col("dcnt")).over(Window.partitionBy("et")))
      .groupBy("et")
      .agg(min(when(expr("2 * dcum >= dn"), col("dv"))).as("mad"))
    cells.join(broadcast(med), "et").join(broadcast(mad), "et")
      .groupBy("et").agg(
        min(col("n")).as("n"), min(col("med")).as("med100"),
        min(col("mad")).as("mad100"),
        sum(when(expr(
          "CAST(n * v - sx AS DOUBLE) * CAST(n * v - sx AS DOUBLE) > " +
            "9.0 * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"), col("cnt"))
          .otherwise(0L)).as("n_flag_z"),
        sum(when(expr("6745 * abs(v - med) > 35000 * mad"), col("cnt"))
          .otherwise(0L)).as("n_flag_mad"))
      .selectExpr("et AS event_type", "n",
        "CAST(med100 AS DOUBLE) / 100.0 AS median",
        "CAST(mad100 AS DOUBLE) / 100.0 AS mad",
        "n_flag_z", "n_flag_mad",
        "n_flag_mad > n_flag_z AS masked_by_z")
      .orderBy("event_type")
  }

  /** events reader shared by the q259 plant (avoids a third scan). */
  private def t0events(s: SparkSession, dir: String): DataFrame =
    EtlOps.t(s, dir, "events")

  def madOutliersOracle: String =
    s"""WITH src AS (SELECT event_type AS et, value FROM events
       |  UNION ALL
       |  SELECT 'view_spiked' AS et, value FROM events
       |  WHERE event_type = 'view'
       |  UNION ALL
       |  SELECT 'view_spiked' AS et,
       |    CASE WHEN r = 0 THEN $MadPlantExtreme
       |      ELSE $MadPlantModerate END AS value
       |  FROM (SELECT unnest(range(0, 6)) AS r)),
       |cells AS (SELECT et, CAST(round(value * 100, 0) AS BIGINT) AS v,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM src GROUP BY et, v),
       |c2 AS (SELECT *,
       |    CAST(sum(cnt) OVER (PARTITION BY et ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY et) AS BIGINT) AS n,
       |    CAST(sum(v * cnt) OVER (PARTITION BY et) AS BIGINT) AS sx,
       |    CAST(sum(v * v * cnt) OVER (PARTITION BY et) AS BIGINT)
       |      AS sxx
       |  FROM cells),
       |med AS (SELECT et, n, sx, sxx,
       |    min(CASE WHEN 2 * cum >= n THEN v END) AS med
       |  FROM c2 GROUP BY et, n, sx, sxx),
       |dev AS (SELECT cells.et, abs(v - med) AS dv,
       |    CAST(sum(cnt) AS BIGINT) AS dcnt
       |  FROM cells JOIN med ON med.et = cells.et
       |  GROUP BY cells.et, abs(v - med)),
       |d2 AS (SELECT *,
       |    CAST(sum(dcnt) OVER (PARTITION BY et ORDER BY dv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS dcum,
       |    CAST(sum(dcnt) OVER (PARTITION BY et) AS BIGINT) AS dn
       |  FROM dev),
       |mad AS (SELECT et, min(CASE WHEN 2 * dcum >= dn THEN dv END)
       |    AS mad FROM d2 GROUP BY et),
       |fl AS (SELECT cells.et, n, med.med AS med100, mad.mad AS mad100,
       |    CAST(sum(CASE WHEN CAST(n * v - sx AS DOUBLE) *
       |      CAST(n * v - sx AS DOUBLE) > 9.0 *
       |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
       |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      THEN cnt ELSE 0 END) AS BIGINT) AS n_flag_z,
       |    CAST(sum(CASE WHEN 6745 * abs(v - med.med) >
       |      35000 * mad.mad THEN cnt ELSE 0 END) AS BIGINT)
       |      AS n_flag_mad
       |  FROM cells JOIN med ON med.et = cells.et
       |  JOIN mad ON mad.et = cells.et
       |  GROUP BY cells.et, n, med.med, mad.mad)
       |SELECT et AS event_type, n,
       |  CAST(med100 AS DOUBLE) / 100.0 AS median,
       |  CAST(mad100 AS DOUBLE) / 100.0 AS mad,
       |  n_flag_z, n_flag_mad,
       |  n_flag_mad > n_flag_z AS masked_by_z
       |FROM fl ORDER BY event_type""".stripMargin

  // --- q260: CUPED variance-reduced experiment readout --------------------

  /** Planted per-user heterogeneity slope and treatment lift. */
  val CupedUserAmp = 10.0
  val CupedLift = 20.0

  /** q260 — CUPED (controlled-experiment using pre-experiment data):
    * the variance-reduction standard of experimentation platforms,
    * completing the readout family (q200 randomized A/B, q251
    * quasi-experimental DiD). Each user's pre-period mean X is the
    * covariate; Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) removes
    * the between-user variance X explains, shrinking the readout CI by
    * 1−ρ² at zero experiment cost.
    *
    * Fixture: planted per-user heterogeneity ((user_id % 7) ·
    * [[CupedUserAmp]] added in BOTH periods — the persistent trait
    * CUPED exists to remove) and a [[CupedLift]] treated-post lift the
    * adjusted readout must still recover.
    *
    * Exactness: per-user period means freeze to ×1000 bigints; θ, ρ²,
    * and both arm means are closed-form rationals over integer sums
    * (mean(Y_adj|arm) = mean(Y|arm) − θ(mean(X|arm) − X̄) — no per-user
    * adjusted column materializes at all).
    *
    * Scale (100 TB): ONE user_id exchange to per-(type, user, period)
    * sums; everything after is |users| cells collapsing to |types|
    * rows. */
  def cupedReadout(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "user_id",
      s"CAST(extract(day FROM ts) > 15 AS INT) AS post",
      "CAST(floor((value + (user_id % 7) * " +
        s"$CupedUserAmp + CASE WHEN user_id % 2 = 1 AND " +
        s"extract(day FROM ts) > 15 THEN $CupedLift ELSE 0.0 END) " +
        "* 1000) AS BIGINT) AS v1000")
    val perUser = ev.groupBy("et", "user_id", "post")
      .agg(sum(col("v1000")).as("sv"), count(lit(1)).as("c"))
    val xy = perUser.groupBy("et", "user_id").agg(
        min(when(col("post") === 0, expr(
          "CAST(floor(CAST(sv AS DOUBLE) / c) AS BIGINT)"))).as("x"),
        min(when(col("post") === 1, expr(
          "CAST(floor(CAST(sv AS DOUBLE) / c) AS BIGINT)"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("treat", (col("user_id") % 2).cast("int"))
    val stats = xy.groupBy("et").agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
      sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"),
      sum(when(col("treat") === 1, col("y"))).as("syt"),
      sum(when(col("treat") === 1, col("x"))).as("sxt"),
      sum(col("treat")).as("nt"),
      sum(when(col("treat") === 0, col("y"))).as("syc"),
      sum(when(col("treat") === 0, col("x"))).as("sxc"))
    val theta = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
      "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    val naive = "(CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / " +
      "(n - nt)) / 1000.0"
    val cuped = s"($naive) - ($theta) * (CAST(sxt AS DOUBLE) / nt - " +
      "CAST(sxc AS DOUBLE) / (n - nt)) / 1000.0"
    val rho2 = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * " +
      "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    stats.selectExpr("et AS event_type", "n AS n_users",
        s"round($naive, 4) AS diff_naive",
        s"round($cuped, 4) AS diff_cuped",
        s"round($theta, 4) AS theta",
        s"round($rho2, 4) AS rho2",
        s"$rho2 > 0.3 AS covariate_useful")
      .orderBy("event_type")
  }

  def cupedReadoutOracle: String = {
    val theta = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
      "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    val naive = "(CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / " +
      "(n - nt)) / 1000.0"
    val cuped = s"($naive) - ($theta) * (CAST(sxt AS DOUBLE) / nt - " +
      "CAST(sxc AS DOUBLE) / (n - nt)) / 1000.0"
    val rho2 = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * " +
      "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
    s"""WITH e AS (SELECT event_type AS et, user_id,
       |    CASE WHEN extract(day FROM ts) > 15 THEN 1 ELSE 0 END
       |      AS post,
       |    CAST(floor((value + (user_id % 7) * $CupedUserAmp +
       |      CASE WHEN user_id % 2 = 1 AND extract(day FROM ts) > 15
       |      THEN $CupedLift ELSE 0.0 END) * 1000) AS BIGINT) AS v1000
       |  FROM events),
       |pu AS (SELECT et, user_id, post,
       |    CAST(sum(v1000) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM e GROUP BY et, user_id, post),
       |xy AS (SELECT et, user_id,
       |    min(CASE WHEN post = 0 THEN CAST(floor(CAST(sv AS DOUBLE)
       |      / c) AS BIGINT) END) AS x,
       |    min(CASE WHEN post = 1 THEN CAST(floor(CAST(sv AS DOUBLE)
       |      / c) AS BIGINT) END) AS y,
       |    CAST(user_id % 2 AS INT) AS treat
       |  FROM pu GROUP BY et, user_id
       |  HAVING x IS NOT NULL AND y IS NOT NULL),
       |st AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(CASE WHEN treat = 1 THEN y END) AS BIGINT) AS syt,
       |    CAST(sum(CASE WHEN treat = 1 THEN x END) AS BIGINT) AS sxt,
       |    CAST(sum(treat) AS BIGINT) AS nt,
       |    CAST(sum(CASE WHEN treat = 0 THEN y END) AS BIGINT) AS syc,
       |    CAST(sum(CASE WHEN treat = 0 THEN x END) AS BIGINT) AS sxc
       |  FROM xy GROUP BY et)
       |SELECT et AS event_type, n AS n_users,
       |  round($naive, 4) AS diff_naive,
       |  round($cuped, 4) AS diff_cuped,
       |  round($theta, 4) AS theta,
       |  round($rho2, 4) AS rho2,
       |  $rho2 > 0.3 AS covariate_useful
       |FROM st ORDER BY event_type""".stripMargin
  }

  // --- q263: power analysis / minimum detectable effect -------------------

  /** z literals (Φ⁻¹(0.975), Φ⁻¹(0.8)) — build-time, e0-suffixed so
    * both engines parse them as doubles; the effect the fleet plans
    * experiments around. */
  val PowerZa = "1.9599639845400536e0"
  val PowerZb = "0.8416212335729144e0"
  val PowerTargetLift = 20.0

  /** q263 — experiment power analysis per metric stream: the minimum
    * detectable effect at α=0.05 / power 0.8 given each stream's
    * empirical variance and arm sizes — MDE = (z_{α/2}+z_β)·
    * √(σ²(1/n₁+1/n₀)). The planning half of the experimentation family
    * (q200/q251/q260 read out results; this says whether a proposed
    * readout can work at all). The flag asks the concrete question:
    * is this stream powered to detect a [[PowerTargetLift]] lift?
    *
    * Exactness: σ² comes from ×100-frozen integer moments; the MDE is
    * one double expression with build-time z literals — no libm beyond
    * the correctly-rounded sqrt.
    *
    * Scale (100 TB): one map-combined collapse to per-(type, arm)
    * moments; output is |types| rows. */
  def powerMde(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "CAST(user_id % 2 AS INT) AS arm",
      "CAST(round(value * 100, 0) AS BIGINT) AS v")
    val zsum = s"($PowerZa + $PowerZb)"
    ev.groupBy("et").agg(
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        count(lit(1)).as("n"), sum(col("v")).as("sx"),
        sum(expr("v * v")).as("sxx"))
      .selectExpr("et AS event_type", "n1 AS n_treat", "n0 AS n_control",
        "round(sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * " +
          "sx) / (CAST(n AS DOUBLE) * n)) / 100.0, 4) AS sigma",
        s"round($zsum * sqrt((CAST(n AS DOUBLE) * sxx - " +
          "CAST(sx AS DOUBLE) * sx) / (CAST(n AS DOUBLE) * n)) / " +
          "100.0 * sqrt(1.0 / n1 + 1.0 / n0), 4) AS mde_abs",
        s"round($zsum * sqrt((CAST(n AS DOUBLE) * sxx - " +
          "CAST(sx AS DOUBLE) * sx) / (CAST(n AS DOUBLE) * n)) / " +
          "100.0 * sqrt(1.0 / n1 + 1.0 / n0) / " +
          "(CAST(sx AS DOUBLE) / n / 100.0), 4) AS mde_rel",
        s"$zsum * sqrt((CAST(n AS DOUBLE) * sxx - " +
          "CAST(sx AS DOUBLE) * sx) / (CAST(n AS DOUBLE) * n)) / " +
          s"100.0 * sqrt(1.0 / n1 + 1.0 / n0) <= $PowerTargetLift " +
          "AS powered_for_target")
      .orderBy("event_type")
  }

  def powerMdeOracle: String = {
    val zsum = s"($PowerZa + $PowerZb)"
    val sig = "sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * " +
      "sx) / (CAST(n AS DOUBLE) * n)) / 100.0"
    s"""WITH e AS (SELECT event_type AS et,
       |    CAST(user_id % 2 AS INT) AS arm,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
       |ag AS (SELECT et,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n1,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n0,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(v) AS BIGINT) AS sx,
       |    CAST(sum(v * v) AS BIGINT) AS sxx
       |  FROM e GROUP BY et)
       |SELECT et AS event_type, n1 AS n_treat, n0 AS n_control,
       |  round($sig, 4) AS sigma,
       |  round($zsum * $sig * sqrt(1.0 / n1 + 1.0 / n0), 4) AS mde_abs,
       |  round($zsum * $sig * sqrt(1.0 / n1 + 1.0 / n0) /
       |    (CAST(sx AS DOUBLE) / n / 100.0), 4) AS mde_rel,
       |  $zsum * $sig * sqrt(1.0 / n1 + 1.0 / n0) <= $PowerTargetLift
       |    AS powered_for_target
       |FROM ag ORDER BY event_type""".stripMargin
  }

  // --- q269: covariate matching for a confounded rollout -------------------

  val PsmLift = 20.0
  /** Matching caliper in frozen ×1000 covariate units (±50.0). */
  val PsmCaliper = 50000L

  /** q269 — nearest-neighbor covariate matching (the workhorse of
    * propensity-score designs) for a CONFOUNDED rollout: units
    * self-select into treatment with probability DECREASING in the
    * same per-user trait that drives the outcome (80% at trait tier 0
    * down to 20% at tier 6 — every tier keeps both arms, the common-
    * support condition matching needs), so the naive treated−control
    * difference reads the planted [[PsmLift]] MINUS the trait
    * imbalance. Each treated unit matches its nearest control on the
    * pre-period covariate X (with replacement, caliper
    * [[PsmCaliper]]); the matched ATT must move toward the lift the
    * naive readout buries. It will NOT fully recover it: X is a NOISY
    * proxy of the trait (per-user means over a handful of events), and
    * matching on a noisy covariate under-corrects — the textbook
    * attenuation every observational readout carries. The audit's
    * deliverable is the direction and size of the correction, not an
    * unbiased oracle. q260's CUPED needs randomization; this is the
    * observational fallback.
    *
    * Distributed matching shape: no pair join — controls and treated
    * sort together on X per stream, and each treated row reads its
    * nearest preceding/following control via two running-window
    * passes (the q243 sorted-adjacency idea applied to matching).
    *
    * Exactness: X and Y freeze to ×1000 bigints; nearest-of-two and
    * the caliper are integer compares; ATT/naive are single divisions.
    *
    * Scale (100 TB): one user_id exchange to per-user (X, Y); one sort
    * per stream partition; zero joins of unit-sized frames. */
  def psmMatching(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val treatSql = "CAST(md5_fp60(concat('psm:', " +
      "CAST(user_id AS STRING))) % 100 < 80 - 10 * (user_id % 7) " +
      "AS INT)"
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "user_id",
      s"$treatSql AS treat",
      s"CAST(extract(day FROM ts) > 15 AS INT) AS post",
      "CAST(floor((value + (user_id % 7) * 10.0 + " +
        s"CASE WHEN $treatSql = 1 AND " +
        s"extract(day FROM ts) > 15 THEN $PsmLift ELSE 0.0 END) " +
        "* 1000) AS BIGINT) AS v1000")
    val perUser = ev.groupBy("et", "user_id", "treat", "post")
      .agg(sum(col("v1000")).as("sv"), count(lit(1)).as("c"))
    val xy = perUser.groupBy("et", "user_id", "treat").agg(
        min(when(col("post") === 0, expr(
          "CAST(floor(CAST(sv AS DOUBLE) / c) AS BIGINT)"))).as("x"),
        min(when(col("post") === 1, expr(
          "CAST(floor(CAST(sv AS DOUBLE) / c) AS BIGINT)"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull).persist()
    val wPrev = Window.partitionBy("et")
      .orderBy(col("x"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // "next control" = "previous control in REVERSED order": Spark's
    // growing (UNBOUNDED PRECEDING) frames are incremental O(n), while
    // a (1, UNBOUNDED FOLLOWING) frame rescans per row — O(n²) per
    // partition, measured 26 s vs ~1 s at 10× on 15k units/stream
    val wNextRev = Window.partitionBy("et")
      .orderBy(col("x").desc, col("user_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cx = when(col("treat") === 0, col("x"))
    val cy = when(col("treat") === 0, col("y"))
    val m = xy
      .withColumn("px", last(cx, ignoreNulls = true).over(wPrev))
      .withColumn("py", last(cy, ignoreNulls = true).over(wPrev))
      .withColumn("nx", last(cx, ignoreNulls = true).over(wNextRev))
      .withColumn("ny", last(cy, ignoreNulls = true).over(wNextRev))
    val matched = m.filter(col("treat") === 1)
      .withColumn("usePrev", col("nx").isNull ||
        (col("px").isNotNull && col("x") - col("px") <= col("nx") - col("x")))
      .withColumn("mx", when(col("usePrev"), col("px"))
        .otherwise(col("nx")))
      .withColumn("my", when(col("usePrev"), col("py"))
        .otherwise(col("ny")))
      .filter(col("mx").isNotNull &&
        abs(col("x") - col("mx")) <= PsmCaliper)
    val att = matched.groupBy("et").agg(
      count(lit(1)).as("n_matched"),
      sum(col("y") - col("my")).as("att_sum"))
    val naive = xy.groupBy("et").agg(
      sum(col("treat").cast("long")).as("nt"),
      count(lit(1)).as("nu"),
      sum(when(col("treat") === 1, col("y"))).as("syt"),
      sum(when(col("treat") === 0, col("y"))).as("syc"))
    naive.join(att, "et")
      .selectExpr("et AS event_type", "nt AS n_treated", "n_matched",
        "round((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / " +
          "(nu - nt)) / 1000.0, 4) AS naive_diff",
        "round(CAST(att_sum AS DOUBLE) / n_matched / 1000.0, 4) " +
          "AS att_matched",
        "round(CAST(att_sum AS DOUBLE) / n_matched / 1000.0 - " +
          "(CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / " +
          "(nu - nt)) / 1000.0, 4) AS bias_removed")
      .orderBy("event_type")
  }

  def psmMatchingOracle: String =
    s"""WITH e AS (SELECT event_type AS et, user_id,
       |    CASE WHEN CAST('0x' || substr(md5('psm:' ||
       |      CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 <
       |      80 - 10 * (user_id % 7) THEN 1 ELSE 0 END AS treat,
       |    CASE WHEN extract(day FROM ts) > 15 THEN 1 ELSE 0 END
       |      AS post,
       |    CAST(floor((value + (user_id % 7) * 10.0 +
       |      CASE WHEN CAST('0x' || substr(md5('psm:' ||
       |      CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 <
       |      80 - 10 * (user_id % 7) AND
       |      extract(day FROM ts) > 15 THEN $PsmLift ELSE 0.0 END)
       |      * 1000) AS BIGINT) AS v1000
       |  FROM events),
       |pu AS (SELECT et, user_id, treat, post,
       |    CAST(sum(v1000) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM e GROUP BY et, user_id, treat, post),
       |xy AS (SELECT et, user_id, treat,
       |    min(CASE WHEN post = 0 THEN CAST(floor(CAST(sv AS DOUBLE)
       |      / c) AS BIGINT) END) AS x,
       |    min(CASE WHEN post = 1 THEN CAST(floor(CAST(sv AS DOUBLE)
       |      / c) AS BIGINT) END) AS y
       |  FROM pu GROUP BY et, user_id, treat
       |  HAVING x IS NOT NULL AND y IS NOT NULL),
       |m AS (SELECT *,
       |    last_value(CASE WHEN treat = 0 THEN x END IGNORE NULLS)
       |      OVER wp AS px,
       |    last_value(CASE WHEN treat = 0 THEN y END IGNORE NULLS)
       |      OVER wp AS py,
       |    first_value(CASE WHEN treat = 0 THEN x END IGNORE NULLS)
       |      OVER wn AS nx,
       |    first_value(CASE WHEN treat = 0 THEN y END IGNORE NULLS)
       |      OVER wn AS ny
       |  FROM xy
       |  WINDOW wp AS (PARTITION BY et ORDER BY x, user_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    wn AS (PARTITION BY et ORDER BY x, user_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
       |mt AS (SELECT et, x, y,
       |    CASE WHEN nx IS NULL OR (px IS NOT NULL AND x - px <=
       |      nx - x) THEN px ELSE nx END AS mx,
       |    CASE WHEN nx IS NULL OR (px IS NOT NULL AND x - px <=
       |      nx - x) THEN py ELSE ny END AS my
       |  FROM m WHERE treat = 1),
       |att AS (SELECT et, CAST(count(*) AS BIGINT) AS n_matched,
       |    CAST(sum(y - my) AS BIGINT) AS att_sum
       |  FROM mt WHERE mx IS NOT NULL AND abs(x - mx) <= $PsmCaliper
       |  GROUP BY et),
       |nv AS (SELECT et, CAST(sum(treat) AS BIGINT) AS nt,
       |    CAST(count(*) AS BIGINT) AS nu,
       |    CAST(sum(CASE WHEN treat = 1 THEN y END) AS BIGINT) AS syt,
       |    CAST(sum(CASE WHEN treat = 0 THEN y END) AS BIGINT) AS syc
       |  FROM xy GROUP BY et)
       |SELECT nv.et AS event_type, nt AS n_treated, n_matched,
       |  round((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) /
       |    (nu - nt)) / 1000.0, 4) AS naive_diff,
       |  round(CAST(att_sum AS DOUBLE) / n_matched / 1000.0, 4)
       |    AS att_matched,
       |  round(CAST(att_sum AS DOUBLE) / n_matched / 1000.0 -
       |    (CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) /
       |    (nu - nt)) / 1000.0, 4) AS bias_removed
       |FROM nv JOIN att ON att.et = nv.et
       |ORDER BY event_type""".stripMargin

  // --- q264: quantile treatment effects ------------------------------------

  /** Planted multiplicative treatment effect on the treated arm. */
  val QteFactor = 1.2

  /** q264 — quantile treatment effects: the mean readouts (q200, q251,
    * q260) are blind to WHERE in the distribution an effect lands; QTE
    * compares every decile of the treated arm against the control arm.
    * The planted effect is MULTIPLICATIVE (×[[QteFactor]]), so the
    * absolute QTE must GROW with the quantile — the signature a mean
    * readout flattens into one number.
    *
    * Exactness: deciles are lower order statistics on the (arm, value)
    * cell grid (first value whose 10·cum ≥ k·n — pure integers);
    * effects are single divisions.
    *
    * Scale (100 TB): one map-combined (type, arm, value) collapse; the
    * quantile windows run per (type, arm) over value cells. */
  def qte(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "CAST(user_id % 2 AS INT) AS arm",
      s"CAST(round(value * CASE WHEN user_id % 2 = 1 THEN " +
        s"$QteFactor * 100 ELSE 100 END, 0) AS BIGINT) AS v")
    val cells = ev.groupBy("et", "arm", "v")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("et", "arm").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val c2 = cells.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n",
        sum(col("cnt")).over(Window.partitionBy("et", "arm")))
    val grid = c2.select(col("et"), col("arm"), col("v"), col("cum"),
      col("n"), explode(expr("sequence(1, 9)")).as("k"))
    val qs = grid.filter(expr("10 * cum >= k * n"))
      .groupBy("et", "arm", "k").agg(min(col("v")).as("q"))
    val t = qs.filter(col("arm") === 1)
      .select(col("et"), col("k"), col("q").as("qt"))
    val c = qs.filter(col("arm") === 0)
      .select(col("et"), col("k"), col("q").as("qc"))
    t.join(c, Seq("et", "k"))
      .selectExpr("et AS event_type", "CAST(k AS BIGINT) AS decile",
        "CAST(qt AS DOUBLE) / 100.0 AS q_treat",
        "CAST(qc AS DOUBLE) / 100.0 AS q_control",
        "round(CAST(qt - qc AS DOUBLE) / 100.0, 4) AS qte_abs",
        "round(CAST(qt AS DOUBLE) / qc, 4) AS qte_ratio")
      .orderBy("event_type", "decile")
  }

  def qteOracle: String =
    s"""WITH e AS (SELECT event_type AS et,
       |    CAST(user_id % 2 AS INT) AS arm,
       |    CAST(round(value * CASE WHEN user_id % 2 = 1 THEN
       |      $QteFactor * 100 ELSE 100 END, 0) AS BIGINT) AS v
       |  FROM events),
       |cells AS (SELECT et, arm, v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM e GROUP BY et, arm, v),
       |c2 AS (SELECT *,
       |    CAST(sum(cnt) OVER (PARTITION BY et, arm ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY et, arm) AS BIGINT) AS n
       |  FROM cells),
       |g AS (SELECT et, arm, v, cum, n,
       |    CAST(unnest(range(1, 10)) AS BIGINT) AS k FROM c2),
       |qs AS (SELECT et, arm, k, CAST(min(v) AS BIGINT) AS q
       |  FROM g WHERE 10 * cum >= k * n GROUP BY et, arm, k)
       |SELECT t.et AS event_type, t.k AS decile,
       |  CAST(t.q AS DOUBLE) / 100.0 AS q_treat,
       |  CAST(c.q AS DOUBLE) / 100.0 AS q_control,
       |  round(CAST(t.q - c.q AS DOUBLE) / 100.0, 4) AS qte_abs,
       |  round(CAST(t.q AS DOUBLE) / c.q, 4) AS qte_ratio
       |FROM qs t JOIN qs c ON c.et = t.et AND c.k = t.k
       |  AND t.arm = 1 AND c.arm = 0
       |ORDER BY event_type, decile""".stripMargin

  // --- q284: delta-method ratio metrics ------------------------------------

  /** Planted effect: arm B's clicks with value above this count double
    * in the ratio's numerator. */
  val DrPlantThr = 5.0

  /** q284 — delta-method ratio metrics: per-user ratio metrics
    * (events-per-view) compared across A/B arms with the DELTA-METHOD
    * variance — the correction every experimentation platform needs
    * because a ratio of user-level sums is NOT a mean of iid
    * observations (users contribute correlated numerators and
    * denominators; naive binomial/t intervals are anti-conservative,
    * the classic ratio-metric pitfall). q200 tests binary conversion;
    * this tests continuous ratios: R = ΣX/ΣY per arm,
    * Var(R) ≈ (s²_x − 2R·s_xy + R²·s²_y)/(n·ȳ²). A planted numerator
    * boost on arm B's click metric must reject; error-per-view is the
    * clean A/A control. (purchase-per-view carries a REAL parity
    * imbalance in the stock generator — arm 1 purchases more and views
    * less — which the method correctly reports; the spec pins the
    * ordering, not a false-positive claim.)
    *
    * Exactness: all five user-level moments (Sx, Sy, Sxx, Syy, Sxy)
    * are exact BIGINT sums of event counts; the variance and z are one
    * fixed-order double expression over the 2-row-per-metric pivot.
    *
    * Scale (100 TB): one user_id exchange collapses events to user
    * rows (map-side combined); moments collapse per (metric, arm);
    * everything after is six-row algebra. */
  def deltaRatio(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
    val perUser = ev.groupBy(col("user_id")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("y"),
      (sum(when(col("event_type") === "click", 1L).otherwise(0L)) +
        sum(when(col("event_type") === "click" &&
          col("value") > DrPlantThr &&
          col("user_id") % 2 === 1, 1L).otherwise(0L))).as("x_click"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("x_purchase"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L))
        .as("x_error"))
    // one pass: the three metrics unpivot via stack, never re-scanning
    // the user collapse (the union form re-read events 3×)
    val long = perUser.selectExpr(
      "CAST(user_id % 2 AS BIGINT) AS arm", "y",
      "stack(3, 'click', x_click, 'purchase', x_purchase, " +
        "'error', x_error) AS (metric, x)")
    val mom = long.groupBy("metric", "arm").agg(
      count(lit(1L)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
      sum(expr("x * y")).as("sxy"))
    // delta-method Var(R) per arm, as one fixed-order double chain
    val varExpr = (p: String) =>
      s"(((CAST(${p}sxx AS DOUBLE) - CAST(${p}sx AS DOUBLE) * ${p}sx " +
        s"/ ${p}n) - 2.0 * (CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}sxy AS DOUBLE) - CAST(${p}sx AS DOUBLE) * ${p}sy " +
        s"/ ${p}n) + (CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}syy AS DOUBLE) - CAST(${p}sy AS DOUBLE) * ${p}sy " +
        s"/ ${p}n)) / (${p}n - 1.0)) / ${p}n / " +
        s"((CAST(${p}sy AS DOUBLE) / ${p}n) * " +
        s"(CAST(${p}sy AS DOUBLE) / ${p}n))"
    val piv = mom.groupBy("metric").agg(
      max(when(col("arm") === 0, col("n"))).as("an"),
      max(when(col("arm") === 0, col("sx"))).as("asx"),
      max(when(col("arm") === 0, col("sy"))).as("asy"),
      max(when(col("arm") === 0, col("sxx"))).as("asxx"),
      max(when(col("arm") === 0, col("syy"))).as("asyy"),
      max(when(col("arm") === 0, col("sxy"))).as("asxy"),
      max(when(col("arm") === 1, col("n"))).as("bn"),
      max(when(col("arm") === 1, col("sx"))).as("bsx"),
      max(when(col("arm") === 1, col("sy"))).as("bsy"),
      max(when(col("arm") === 1, col("sxx"))).as("bsxx"),
      max(when(col("arm") === 1, col("syy"))).as("bsyy"),
      max(when(col("arm") === 1, col("sxy"))).as("bsxy"))
    piv.selectExpr("metric", "an AS n_a", "bn AS n_b",
        "round(CAST(asx AS DOUBLE) / asy, 6) AS ratio_a",
        "round(CAST(bsx AS DOUBLE) / bsy, 6) AS ratio_b",
        s"round(sqrt(${varExpr("a")} + ${varExpr("b")}), 6) AS se_diff",
        s"round((CAST(bsx AS DOUBLE) / bsy - CAST(asx AS DOUBLE) " +
          s"/ asy) / sqrt(${varExpr("a")} + ${varExpr("b")}), 4) AS z",
        s"abs((CAST(bsx AS DOUBLE) / bsy - CAST(asx AS DOUBLE) " +
          s"/ asy) / sqrt(${varExpr("a")} + ${varExpr("b")})) > 1.96 " +
          "AS significant")
      .orderBy("metric")
  }

  def deltaRatioOracle: String = {
    val varExpr = (p: String) =>
      s"(((CAST(${p}sxx AS DOUBLE) - CAST(${p}sx AS DOUBLE) * ${p}sx " +
        s"/ ${p}n) - 2.0 * (CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}sxy AS DOUBLE) - CAST(${p}sx AS DOUBLE) * ${p}sy " +
        s"/ ${p}n) + (CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}sx AS DOUBLE) / ${p}sy) * " +
        s"(CAST(${p}syy AS DOUBLE) - CAST(${p}sy AS DOUBLE) * ${p}sy " +
        s"/ ${p}n)) / (${p}n - 1.0)) / ${p}n / " +
        s"((CAST(${p}sy AS DOUBLE) / ${p}n) * " +
        s"(CAST(${p}sy AS DOUBLE) / ${p}n))"
    s"""WITH pu AS (SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS y,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      + sum(CASE WHEN event_type = 'click'
       |        AND value > $DrPlantThr AND user_id % 2 = 1
       |        THEN 1 ELSE 0 END) AS BIGINT) AS x_click,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END) AS BIGINT) AS x_purchase,
       |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS x_error
       |  FROM events GROUP BY user_id),
       |lng AS (
       |  SELECT 'click' AS metric, CAST(user_id % 2 AS BIGINT) AS arm,
       |    x_click AS x, y FROM pu
       |  UNION ALL
       |  SELECT 'purchase', CAST(user_id % 2 AS BIGINT),
       |    x_purchase, y FROM pu
       |  UNION ALL
       |  SELECT 'error', CAST(user_id % 2 AS BIGINT), x_error, y
       |  FROM pu),
       |mom AS (SELECT metric, arm, count(*) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM lng GROUP BY metric, arm),
       |piv AS (SELECT metric,
       |    max(CASE WHEN arm = 0 THEN n END) AS an,
       |    max(CASE WHEN arm = 0 THEN sx END) AS asx,
       |    max(CASE WHEN arm = 0 THEN sy END) AS asy,
       |    max(CASE WHEN arm = 0 THEN sxx END) AS asxx,
       |    max(CASE WHEN arm = 0 THEN syy END) AS asyy,
       |    max(CASE WHEN arm = 0 THEN sxy END) AS asxy,
       |    max(CASE WHEN arm = 1 THEN n END) AS bn,
       |    max(CASE WHEN arm = 1 THEN sx END) AS bsx,
       |    max(CASE WHEN arm = 1 THEN sy END) AS bsy,
       |    max(CASE WHEN arm = 1 THEN sxx END) AS bsxx,
       |    max(CASE WHEN arm = 1 THEN syy END) AS bsyy,
       |    max(CASE WHEN arm = 1 THEN sxy END) AS bsxy
       |  FROM mom GROUP BY metric)
       |SELECT metric, an AS n_a, bn AS n_b,
       |  round(CAST(asx AS DOUBLE) / asy, 6) AS ratio_a,
       |  round(CAST(bsx AS DOUBLE) / bsy, 6) AS ratio_b,
       |  round(sqrt(${varExpr("a")} + ${varExpr("b")}), 6) AS se_diff,
       |  round((CAST(bsx AS DOUBLE) / bsy - CAST(asx AS DOUBLE)
       |    / asy) / sqrt(${varExpr("a")} + ${varExpr("b")}), 4) AS z,
       |  abs((CAST(bsx AS DOUBLE) / bsy - CAST(asx AS DOUBLE)
       |    / asy) / sqrt(${varExpr("a")} + ${varExpr("b")})) > 1.96
       |    AS significant
       |FROM piv ORDER BY metric""".stripMargin
  }

  // --- q286: propensity positivity / overlap audit --------------------------

  /** q286 — propensity positivity & overlap audit for the q269
    * observational fixture: per confounder stratum (user_id % 7, the
    * variable that drives BOTH treatment probability and outcome), the
    * estimated propensity p̂ₛ, each arm's share of its own population,
    * and the global overlap coefficient Σₛ min(share_t, share_c) — the
    * pre-flight check EVERY causal estimate (q250's IPW, q269's
    * matching) silently assumes: p̂ bounded away from {0,1}
    * (positivity) and arms actually sharing support (overlap). Also
    * reports the IPW effective sample size (Σw)²/Σw² per arm — how many
    * units of information survive reweighting (Kish).
    *
    * Exactness: per-stratum counts are integers; p̂, shares, ESS and
    * the overlap sum are fixed-order double expressions over the
    * 7-row stratum frame (window totals, no second scan).
    *
    * Scale (100 TB): one user collapse, one 7-row stratum collapse;
    * the audit is strata-sized algebra forever. */
  def propensityOverlap(s: SparkSession, dir: String): DataFrame = {
    val treatSql = "CAST(md5_fp60(concat('psm:', " +
      "CAST(user_id AS STRING))) % 100 < 80 - 10 * (user_id % 7) " +
      "AS INT)"
    val users = EtlOps.t(s, dir, "events")
      .selectExpr("user_id").distinct()
      .selectExpr("user_id % 7 AS stratum", s"$treatSql AS treat")
      .groupBy("stratum").agg(count(lit(1L)).as("n"),
        sum(col("treat")).as("nt"))
      .withColumn("nc", col("n") - col("nt"))
    // per-stratum double terms freeze to ×1e9 BIGINTs BEFORE the
    // cross-stratum window sums (the q195 order-free discipline)
    val frozen = users
      .withColumn("gnt", sum(col("nt")).over(Window.partitionBy(lit(1))))
      .withColumn("gnc", sum(col("nc")).over(Window.partitionBy(lit(1))))
      // strata violating positivity contribute nothing to the ESS
      // sums (they are flagged, not averaged over)
      .withColumn("wt2_fp", expr(
        "CASE WHEN nt = 0 THEN 0 ELSE " +
          "CAST(floor(CAST(n AS DOUBLE) * n / nt * 1e9) AS BIGINT) " +
          "END"))
      .withColumn("wc2_fp", expr(
        "CASE WHEN nc = 0 THEN 0 ELSE " +
          "CAST(floor(CAST(n AS DOUBLE) * n / nc * 1e9) AS BIGINT) " +
          "END"))
      .withColumn("ov_fp", expr(
        "CASE WHEN CAST(nt AS DOUBLE) / gnt < " +
          "CAST(nc AS DOUBLE) / gnc THEN " +
          "CAST(floor(CAST(nt AS DOUBLE) / gnt * 1e9) AS BIGINT) " +
          "ELSE CAST(floor(CAST(nc AS DOUBLE) / gnc * 1e9) AS BIGINT) " +
          "END"))
    frozen
      .withColumn("swt2", sum(col("wt2_fp")).over(
        Window.partitionBy(lit(1))))
      .withColumn("swc2", sum(col("wc2_fp")).over(
        Window.partitionBy(lit(1))))
      .withColumn("sov", sum(col("ov_fp")).over(
        Window.partitionBy(lit(1))))
      // ESS numerators cover the SAME strata as the denominators —
      // only positivity-satisfying ones (Cauchy–Schwarz then bounds
      // ESS by the covered unit count)
      .withColumn("vtn", sum(when(col("nt") > 0, col("n"))
        .otherwise(0L)).over(Window.partitionBy(lit(1))))
      .withColumn("vcn", sum(when(col("nc") > 0, col("n"))
        .otherwise(0L)).over(Window.partitionBy(lit(1))))
      .selectExpr("stratum", "n", "nt AS n_treat",
        "round(CAST(nt AS DOUBLE) / n, 4) AS p_hat",
        "round(CAST(nt AS DOUBLE) / gnt, 4) AS share_treat",
        "round(CAST(nc AS DOUBLE) / gnc, 4) AS share_ctrl",
        "nt > 0 AND nc > 0 AS positivity_ok",
        "round(CAST(sov AS DOUBLE) / 1e9, 4) AS overlap_coef",
        "round(CAST(vtn AS DOUBLE) * vtn / " +
          "(CAST(swt2 AS DOUBLE) / 1e9), 2) AS ess_treat",
        "round(CAST(vcn AS DOUBLE) * vcn / " +
          "(CAST(swc2 AS DOUBLE) / 1e9), 2) AS ess_ctrl")
      .orderBy("stratum")
  }

  def propensityOverlapOracle: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |st AS (SELECT user_id % 7 AS stratum,
       |    CASE WHEN CAST('0x' || substr(md5('psm:' ||
       |      CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 <
       |      80 - 10 * (user_id % 7) THEN 1 ELSE 0 END AS treat
       |  FROM u),
       |g AS (SELECT stratum, count(*) AS n,
       |    CAST(sum(treat) AS BIGINT) AS nt,
       |    CAST(count(*) - sum(treat) AS BIGINT) AS nc
       |  FROM st GROUP BY stratum),
       |t AS (SELECT *,
       |    CAST(sum(nt) OVER () AS BIGINT) AS gnt,
       |    CAST(sum(nc) OVER () AS BIGINT) AS gnc
       |  FROM g),
       |f AS (SELECT *,
       |    CASE WHEN nt = 0 THEN 0 ELSE
       |      CAST(floor(CAST(n AS DOUBLE) * n / nt * 1e9) AS BIGINT)
       |      END AS wt2_fp,
       |    CASE WHEN nc = 0 THEN 0 ELSE
       |      CAST(floor(CAST(n AS DOUBLE) * n / nc * 1e9) AS BIGINT)
       |      END AS wc2_fp,
       |    CASE WHEN CAST(nt AS DOUBLE) / gnt <
       |      CAST(nc AS DOUBLE) / gnc THEN
       |      CAST(floor(CAST(nt AS DOUBLE) / gnt * 1e9) AS BIGINT)
       |      ELSE CAST(floor(CAST(nc AS DOUBLE) / gnc * 1e9)
       |      AS BIGINT) END AS ov_fp
       |  FROM t),
       |z AS (SELECT *,
       |    CAST(sum(wt2_fp) OVER () AS BIGINT) AS swt2,
       |    CAST(sum(wc2_fp) OVER () AS BIGINT) AS swc2,
       |    CAST(sum(ov_fp) OVER () AS BIGINT) AS sov,
       |    CAST(sum(CASE WHEN nt > 0 THEN n ELSE 0 END) OVER ()
       |      AS BIGINT) AS vtn,
       |    CAST(sum(CASE WHEN nc > 0 THEN n ELSE 0 END) OVER ()
       |      AS BIGINT) AS vcn
       |  FROM f)
       |SELECT stratum, n, nt AS n_treat,
       |  round(CAST(nt AS DOUBLE) / n, 4) AS p_hat,
       |  round(CAST(nt AS DOUBLE) / gnt, 4) AS share_treat,
       |  round(CAST(nc AS DOUBLE) / gnc, 4) AS share_ctrl,
       |  nt > 0 AND nc > 0 AS positivity_ok,
       |  round(CAST(sov AS DOUBLE) / 1e9, 4) AS overlap_coef,
       |  round(CAST(vtn AS DOUBLE) * vtn /
       |    (CAST(swt2 AS DOUBLE) / 1e9), 2) AS ess_treat,
       |  round(CAST(vcn AS DOUBLE) * vcn /
       |    (CAST(swc2 AS DOUBLE) / 1e9), 2) AS ess_ctrl
       |FROM z ORDER BY stratum""".stripMargin

  // --- q287: mSPRT always-valid sequential monitor --------------------------

  /** Mixture scale τ², the fire threshold 1/α, the conversion
    * threshold, and the planted shift day. */
  val MsprtTau2 = 0.01
  val MsprtFire = 20.0
  val MsprtConvThr = 50.0
  val MsprtShiftDay = 10

  /** q287 — mSPRT always-valid sequential monitor: q200's fixed-horizon
    * z-test is only valid if you look ONCE; an experimentation platform
    * that peeks daily needs an always-valid p-value. This runs the
    * mixture SPRT (Johari et al.): per stream, daily cumulative
    * conversion counts per arm give θ̂ₙ = p̂_b − p̂_a and
    * Vₙ = p̄(1−p̄)(1/n_a + 1/n_b), and the mixture likelihood ratio
    * Λₙ = √(Vₙ/(Vₙ+τ²))·exp(τ²θ̂ₙ²/(2Vₙ(Vₙ+τ²))) is a test
    * martingale — the monitor fires the FIRST day Λₙ > 1/α and the
    * always-valid p-value is 1/max_k Λ_k. A planted stream whose
    * treatment arm converts more from day [[MsprtShiftDay]] must fire
    * after (not before) the shift; A/A streams must not fire.
    *
    * Exactness: the daily (arm, conversions, units) cells are exact
    * integer cumsums; Λ is one fixed-order double expression per
    * calendar cell; the running max and the fire-day argmin are exact
    * comparisons.
    *
    * Scale (100 TB): one (stream, user, day) collapse with map-side
    * combine, then calendar-cell windows — the monitor's cost is the
    * dedup of user-days, which is the metric's own definition. */
  /** Shared daily-cumulative conversion frame (et, d, na, nb, ca, cb)
    * behind q287's mSPRT and q292's group-sequential looks: per-stream
    * user-day units with the planted purchase_boost shift, collapsed to
    * calendar cells and cumulated per stream. */
  private[operators] def msprtCum(s: SparkSession,
      dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "user_id", "CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS d",
      "value")
    val base = ev.selectExpr("et", "user_id", "d",
      s"CAST(value > $MsprtConvThr AS INT) AS cv")
    val plant = ev.filter(col("et") === "purchase").selectExpr(
      "'purchase_boost' AS et", "user_id", "d",
      s"CAST(value > $MsprtConvThr OR (user_id % 2 = 1 AND " +
        s"d >= $MsprtShiftDay AND value > ${MsprtConvThr / 2}) " +
        "AS INT) AS cv")
    val ud = base.unionAll(plant)
      .groupBy("et", "user_id", "d")
      .agg(max(col("cv")).as("cv"))
      .selectExpr("et", "d", "CAST(user_id % 2 AS INT) AS arm", "cv")
    val daily = ud.groupBy("et", "d").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na_d"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb_d"),
      sum(when(col("arm") === 0, col("cv")).otherwise(0)).as("ca_d"),
      sum(when(col("arm") === 1, col("cv")).otherwise(0)).as("cb_d"))
    val wc = Window.partitionBy("et").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("na", sum(col("na_d")).over(wc))
      .withColumn("nb", sum(col("nb_d")).over(wc))
      .withColumn("ca", sum(col("ca_d")).over(wc))
      .withColumn("cb", sum(col("cb_d")).over(wc))
  }

  def msprtMonitor(s: SparkSession, dir: String): DataFrame = {
    val cum = msprtCum(s, dir)
    val lam = "CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 " +
      "OR ca + cb = na + nb THEN 1.0 ELSE " +
      "sqrt((CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) / " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      s"(1.0 / na + 1.0 / nb) + $MsprtTau2)) * " +
      s"exp($MsprtTau2 * (CAST(cb AS DOUBLE) / nb - " +
      "CAST(ca AS DOUBLE) / na) * (CAST(cb AS DOUBLE) / nb - " +
      "CAST(ca AS DOUBLE) / na) / (2.0 * " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) * " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      s"(1.0 / na + 1.0 / nb) + $MsprtTau2))) END"
    cum.withColumn("lam", expr(lam))
      .groupBy("et").agg(
        count(lit(1L)).as("n_days"),
        max(col("lam")).as("lam_max"),
        min(when(col("lam") > MsprtFire, col("d"))).as("fire_day"))
      .selectExpr("et AS stream", "n_days",
        "round(lam_max, 4) AS lambda_max",
        "round(CASE WHEN 1.0 / lam_max < 1.0 THEN 1.0 / lam_max " +
          "ELSE 1.0 END, 6) AS always_valid_p",
        "fire_day",
        "fire_day IS NOT NULL AS fired")
      .orderBy("stream")
  }

  /** Shared oracle CTE chain producing the same (et, d, na, nb, ca,
    * cb) cumulative frame as [[msprtCum]]. */
  private[operators] def MsprtCumSql: String =
    s"""ev AS (SELECT event_type AS et, user_id,
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS d, value
       |  FROM events),
       |src AS (SELECT et, user_id, d,
       |    CASE WHEN value > $MsprtConvThr THEN 1 ELSE 0 END AS cv
       |  FROM ev
       |  UNION ALL
       |  SELECT 'purchase_boost', user_id, d,
       |    CASE WHEN value > $MsprtConvThr OR (user_id % 2 = 1 AND
       |      d >= $MsprtShiftDay AND value > ${MsprtConvThr / 2})
       |      THEN 1 ELSE 0 END
       |  FROM ev WHERE et = 'purchase'),
       |ud AS (SELECT et, d, CAST(user_id % 2 AS INT) AS arm,
       |    max(cv) AS cv
       |  FROM src GROUP BY et, d, user_id),
       |daily AS (SELECT et, d,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS na_d,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nb_d,
       |    CAST(sum(CASE WHEN arm = 0 THEN cv ELSE 0 END) AS BIGINT)
       |      AS ca_d,
       |    CAST(sum(CASE WHEN arm = 1 THEN cv ELSE 0 END) AS BIGINT)
       |      AS cb_d
       |  FROM ud GROUP BY et, d),
       |cum AS (SELECT et, d,
       |    CAST(sum(na_d) OVER (PARTITION BY et ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS na,
       |    CAST(sum(nb_d) OVER (PARTITION BY et ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS nb,
       |    CAST(sum(ca_d) OVER (PARTITION BY et ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS ca,
       |    CAST(sum(cb_d) OVER (PARTITION BY et ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cb
       |  FROM daily)""".stripMargin

  def msprtMonitorOracle: String = {
    val lam = "CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 " +
      "OR ca + cb = na + nb THEN 1.0 ELSE " +
      "sqrt((CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) / " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      s"(1.0 / na + 1.0 / nb) + $MsprtTau2)) * " +
      s"exp($MsprtTau2 * (CAST(cb AS DOUBLE) / nb - " +
      "CAST(ca AS DOUBLE) / na) * (CAST(cb AS DOUBLE) / nb - " +
      "CAST(ca AS DOUBLE) / na) / (2.0 * " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) * " +
      "(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      s"(1.0 / na + 1.0 / nb) + $MsprtTau2))) END"
    s"""WITH $MsprtCumSql,
       |lm AS (SELECT et, d, $lam AS lam FROM cum)
       |SELECT et AS stream, count(*) AS n_days,
       |  round(max(lam), 4) AS lambda_max,
       |  round(CASE WHEN 1.0 / max(lam) < 1.0 THEN 1.0 / max(lam)
       |    ELSE 1.0 END, 6) AS always_valid_p,
       |  min(CASE WHEN lam > $MsprtFire THEN d END) AS fire_day,
       |  min(CASE WHEN lam > $MsprtFire THEN d END) IS NOT NULL
       |    AS fired
       |FROM lm GROUP BY et ORDER BY stream""".stripMargin
  }

  // --- q292: O'Brien–Fleming group-sequential monitor -----------------------

  /** Five equally-spaced interim looks (end of each 6-day block) and
    * the O'Brien–Fleming two-sided α=0.05 group-sequential z
    * boundaries for 5 looks (Jennison & Turnbull, Table 2.3 — public
    * literals, the q252 build-time-constant discipline). */
  val ObfLookDays: Seq[Long] = Seq(5L, 11L, 17L, 23L, 29L)
  val ObfBounds: Seq[Double] =
    Seq(4.8769, 3.3569, 2.6803, 2.2898, 2.0310)

  /** q292 — O'Brien–Fleming group-sequential monitor: the OTHER
    * standard answer to peeking (q287's mSPRT is always-valid at every
    * instant; OBF pre-registers K looks and spends almost no α early —
    * boundary 4.88 at look 1 — so the final look keeps near-nominal
    * power). Same fixture, same cumulative cells: per stream the
    * monitor evaluates z at each look day against the boundary; the
    * planted purchase_boost stream must cross at an interim look while
    * every A/A stream survives all five. Running both monitors on one
    * fixture is the comparison experimentation platforms publish.
    *
    * Exactness: z is one fixed-order double expression over exact
    * cumulative integers; boundaries are compile-time literals; the
    * crossing flag and first-cross window are exact comparisons.
    *
    * Scale (100 TB): shares q287's (stream, user, day) collapse; the
    * looks filter keeps 5 calendar cells per stream. */
  def obfMonitor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val looks = ObfLookDays.zip(ObfBounds).zipWithIndex
      .map { case ((d, b), i) => (i + 1L, d, b) }
      .toDF("look", "d", "bound")
    val z = "CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 " +
      "OR ca + cb = na + nb THEN 0.0 ELSE " +
      "(CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
      "sqrt(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) END"
    val atLooks = msprtCum(s, dir)
      .join(broadcast(looks), Seq("d"))
      .withColumn("z", expr(z))
      .withColumn("crossed", expr("abs(z) > bound"))
    atLooks
      .withColumn("first_cross", min(when(col("crossed"),
        col("look"))).over(Window.partitionBy("et")))
      .selectExpr("et AS stream", "look", "d AS day",
        "na + nb AS n_units", "round(z, 4) AS z", "bound",
        "crossed", "first_cross")
      .orderBy("stream", "look")
  }

  def obfMonitorOracle: String = {
    val z = "CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 " +
      "OR ca + cb = na + nb THEN 0.0 ELSE " +
      "(CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
      "sqrt(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) END"
    val lookRows = ObfLookDays.zip(ObfBounds).zipWithIndex
      .map { case ((d, b), i) => s"(${i + 1}, $d, $b)" }
      .mkString(", ")
    s"""WITH $MsprtCumSql,
       |lk AS (SELECT * FROM (VALUES $lookRows) l("look", d, bound)),
       |at_looks AS (SELECT cum.et, lk."look", cum.d, cum.na, cum.nb,
       |    cum.ca, cum.cb, lk.bound, $z AS z
       |  FROM cum JOIN lk ON lk.d = cum.d),
       |fl AS (SELECT *, abs(z) > bound AS crossed FROM at_looks)
       |SELECT et AS stream, CAST("look" AS BIGINT) AS "look",
       |  d AS day, na + nb AS n_units, round(z, 4) AS z, bound,
       |  crossed,
       |  CAST(min(CASE WHEN crossed THEN "look" END)
       |    OVER (PARTITION BY et) AS BIGINT) AS first_cross
       |FROM fl ORDER BY stream, "look"""".stripMargin
  }

  // --- q294: capped-metric sensitivity curve --------------------------------

  /** Cap percentiles swept (100 = uncapped). */
  val CapPcts: Seq[Int] = Seq(50, 75, 90, 95, 99, 100)

  /** q294 — capped-metric sensitivity curve: heavy-tailed metrics
    * (revenue per event) bury real treatment effects under tail
    * variance, so experimentation platforms CAP them — but the cap is
    * a bias/variance dial that should be chosen from data, not folklore.
    * This sweeps exact pooled-percentile caps over the q200 fixture
    * (arm B's purchase values doubled) and reports the Welch z of the
    * planted effect under each cap: too-low caps clip the effect away,
    * no cap drowns it — the max-|z| cap is the sensitivity-optimal
    * choice (Winsorized metrics, the q89 single-stat primitive, turned
    * into the decision curve).
    *
    * Exactness: values are ×100 integers; caps are exact percentiles
    * from the pooled value-cell cumulative (integer compare
    * cum·100 ≥ p·n); capped moments are integer sums per (cap, arm);
    * z is one fixed-order double expression.
    *
    * Scale (100 TB): one (arm, value-cell) collapse; the cap sweep
    * joins |caps| broadcast scalars against the CELL grid, never
    * re-scanning events. */
  def cappedMetricCurve(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
    val cells = ev.filter(col("event_type") === "purchase")
      .selectExpr("CAST(user_id % 2 AS INT) AS arm",
        "CAST(round(value * (1 + user_id % 2) * 100, 0) AS BIGINT) " +
          "AS v")
      .groupBy("arm", "v").agg(count(lit(1L)).as("c")).persist()
    val pooled = cells.groupBy("v").agg(sum(col("c")).as("pc"))
      .withColumn("cum", sum(col("pc")).over(
        Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("pc")).over(Window.partitionBy(lit(1))))
    val caps = CapPcts.map { p =>
      pooled.filter(expr(s"cum * 100 >= $p * n"))
        .orderBy("v").limit(1)
        .selectExpr(s"$p AS cap_pct", "v AS cap_v")
    }.reduce(_ unionAll _)
    val capped = cells.crossJoin(broadcast(caps))
      .selectExpr("cap_pct", "cap_v", "arm", "c",
        "CASE WHEN v < cap_v THEN v ELSE cap_v END AS cv")
    val mom = capped.groupBy("cap_pct", "cap_v").agg(
      sum(when(col("arm") === 0, col("c"))).as("na"),
      sum(when(col("arm") === 1, col("c"))).as("nb"),
      sum(when(col("arm") === 0, expr("c * cv"))).as("sa"),
      sum(when(col("arm") === 1, expr("c * cv"))).as("sb"),
      sum(when(col("arm") === 0,
        expr("CAST(c AS DECIMAL(38,0)) * cv * cv"))).as("qa"),
      sum(when(col("arm") === 1,
        expr("CAST(c AS DECIMAL(38,0)) * cv * cv"))).as("qb"))
    val z = "(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na) / " +
      "sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) " +
      "/ (na - 1.0) / na + " +
      "(CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) " +
      "/ (nb - 1.0) / nb)"
    mom
      .withColumn("z", expr(z))
      .withColumn("zmax", max(abs(col("z"))).over(
        Window.partitionBy(lit(1))))
      .selectExpr("cap_pct",
        "round(CAST(cap_v AS DOUBLE) / 100.0, 2) AS cap_value",
        "na + nb AS n",
        "round(CAST(sa AS DOUBLE) / na / 100.0, 4) AS mean_a",
        "round(CAST(sb AS DOUBLE) / nb / 100.0, 4) AS mean_b",
        "round(z, 4) AS z",
        "abs(z) = zmax AS best_cap")
      .orderBy("cap_pct")
  }

  def cappedMetricCurveOracle: String = {
    val z = "(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na) / " +
      "sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) " +
      "/ (na - 1.0) / na + " +
      "(CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) " +
      "/ (nb - 1.0) / nb)"
    val capSel = CapPcts.map { p =>
      s"""(SELECT $p AS cap_pct, v AS cap_v FROM pooled
         |  WHERE cum * 100 >= $p * n ORDER BY v LIMIT 1)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH cells AS (SELECT CAST(user_id % 2 AS INT) AS arm,
       |    CAST(round(value * (1 + user_id % 2) * 100, 0) AS BIGINT)
       |      AS v,
       |    count(*) AS c
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1, 2),
       |pooled AS (SELECT v, CAST(sum(c) AS BIGINT) AS pc,
       |    CAST(sum(sum(c)) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
       |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(sum(c)) OVER () AS BIGINT) AS n
       |  FROM cells GROUP BY v),
       |caps AS (
       |  $capSel),
       |capped AS (SELECT cap_pct, cap_v, arm, c,
       |    CASE WHEN v < cap_v THEN v ELSE cap_v END AS cv
       |  FROM cells, caps),
       |mom AS (SELECT cap_pct, cap_v,
       |    CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS na,
       |    CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN arm = 0 THEN c * cv END) AS BIGINT)
       |      AS sa,
       |    CAST(sum(CASE WHEN arm = 1 THEN c * cv END) AS BIGINT)
       |      AS sb,
       |    sum(CASE WHEN arm = 0 THEN CAST(c AS HUGEINT) * cv * cv
       |      END) AS qa,
       |    sum(CASE WHEN arm = 1 THEN CAST(c AS HUGEINT) * cv * cv
       |      END) AS qb
       |  FROM capped GROUP BY cap_pct, cap_v),
       |wz AS (SELECT *, $z AS z FROM mom),
       |mz AS (SELECT *, max(abs(z)) OVER () AS zmax FROM wz)
       |SELECT cap_pct,
       |  round(CAST(cap_v AS DOUBLE) / 100.0, 2) AS cap_value,
       |  na + nb AS n,
       |  round(CAST(sa AS DOUBLE) / na / 100.0, 4) AS mean_a,
       |  round(CAST(sb AS DOUBLE) / nb / 100.0, 4) AS mean_b,
       |  round(z, 4) AS z,
       |  abs(z) = zmax AS best_cap
       |FROM mz ORDER BY cap_pct""".stripMargin
  }

  // --- q297: A/A calibration fleet ------------------------------------------

  /** Number of synthetic A/A re-randomizations and the fleet pass bar
    * (binomial(20, 0.05) upper tail: P(>3 sig) < 2%). */
  val AaK = 20
  val AaMaxSig = 3

  /** q297 — A/A calibration fleet: before trusting any A/B verdict,
    * platforms re-randomize the SAME population K times with null
    * assignments and check the false-positive rate tracks α — the
    * end-to-end test that catches broken hash-based bucketing,
    * interference, and variance mis-estimation all at once (Kohavi's
    * "run A/A tests first"). Each of [[AaK]] assignments hashes
    * (seed k, user) to an arm; the q200 two-proportion z runs per
    * assignment; the fleet verdict is n_significant ≤ [[AaMaxSig]].
    *
    * Exactness: arms are hash integers; per-assignment counts are
    * integers; z is one fixed-order double expression over the
    * 2·K-cell pivot.
    *
    * Scale (100 TB): one user collapse to a converted flag, one
    * constant ×K explode, then a (k, arm) cell collapse — the audit
    * costs K× a user scan of booleans, never K× the event log. */
  def aaCalibration(s: SparkSession, dir: String): DataFrame = {
    val users = EtlOps.events(s, dir)
      .groupBy("user_id")
      .agg(max(when(col("value") > AbConvValue, 1L).otherwise(0L))
        .as("conv"))
    val assigned = users
      .selectExpr("user_id", "conv",
        s"explode(sequence(0, ${AaK - 1})) AS k")
      .selectExpr("k", "conv",
        "CAST(md5_fp60(concat('aa', CAST(k AS STRING), ':', " +
          "CAST(user_id AS STRING))) % 2 AS INT) AS arm")
    val cellsK = assigned.groupBy("k").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("ca"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("cb"))
    val z = "CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0 " +
      "ELSE (CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
      "sqrt(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) END"
    cellsK
      .withColumn("z", expr(z))
      .withColumn("sig", expr("abs(z) > 1.96"))
      .withColumn("n_sig", sum(when(col("sig"), 1L).otherwise(0L))
        .over(Window.partitionBy(lit(1))))
      .selectExpr("k AS assignment", "na", "nb",
        "round(CAST(ca AS DOUBLE) / na, 4) AS p_a",
        "round(CAST(cb AS DOUBLE) / nb, 4) AS p_b",
        "round(z, 4) AS z", "sig AS significant", "n_sig",
        s"round(CAST(n_sig AS DOUBLE) / $AaK, 4) AS fp_rate",
        s"n_sig <= $AaMaxSig AS calibrated")
      .orderBy("assignment")
  }

  def aaCalibrationOracle: String = {
    val z = "CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0.0 " +
      "ELSE (CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) / " +
      "sqrt(CAST(ca + cb AS DOUBLE) / (na + nb) * " +
      "(1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) * " +
      "(1.0 / na + 1.0 / nb)) END"
    s"""WITH u AS (SELECT user_id,
       |    CAST(max(CASE WHEN value > $AbConvValue THEN 1 ELSE 0 END)
       |      AS BIGINT) AS conv
       |  FROM events GROUP BY user_id),
       |a AS (SELECT k.k, u.conv,
       |    CAST(CAST('0x' || substr(md5('aa' || CAST(k.k AS VARCHAR)
       |      || ':' || CAST(u.user_id AS VARCHAR)), 1, 15) AS BIGINT)
       |      % 2 AS INT) AS arm
       |  FROM u, (SELECT unnest(range(0, $AaK)) AS k) k),
       |c AS (SELECT k,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS na,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nb,
       |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)
       |      AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)
       |      AS BIGINT) AS cb
       |  FROM a GROUP BY k),
       |wz AS (SELECT *, $z AS z, abs($z) > 1.96 AS sig FROM c),
       |f AS (SELECT *, CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END)
       |    OVER () AS BIGINT) AS n_sig FROM wz)
       |SELECT k AS assignment, na, nb,
       |  round(CAST(ca AS DOUBLE) / na, 4) AS p_a,
       |  round(CAST(cb AS DOUBLE) / nb, 4) AS p_b,
       |  round(z, 4) AS z, sig AS significant, n_sig,
       |  round(CAST(n_sig AS DOUBLE) / $AaK, 4) AS fp_rate,
       |  n_sig <= $AaMaxSig AS calibrated
       |FROM f ORDER BY assignment""".stripMargin
  }

  // --- q306: association-rule mining (support / confidence / lift) -------

  /** Minimum pair support (share of all baskets) for a reported rule. */
  val ArMinSupport = 0.05

  /** Lift beyond which a rule is flagged as a real association. */
  val ArLiftFlag = 1.1

  /** q306 — association-rule mining over (user, day) activity baskets:
    * every ordered rule A→B above [[ArMinSupport]] support reports
    * P(A∧B), confidence P(B|A), lift P(B|A)/P(B) and an [[ArLiftFlag]]
    * flag — the classic market-basket readout, here answering the
    * curation question "which activity types co-occur beyond chance"
    * before anyone builds a funnel (q67) on a pair that doesn't. The
    * raw streams are independent by construction, so a planted 'promo'
    * item (added to every purchase basket) must surface as the ONLY
    * flagged rule pair while the independent pairs sit at lift ≈ 0.92.
    *
    * Exactness: all counts are exact integers off one distinct
    * (user, day, item) frame; support/confidence/lift are single
    * double divisions over those integers.
    *
    * Scale (100 TB): the basket frame collapses the raw stream
    * map-side; pair generation self-joins WITHIN the (user, day) key —
    * bounded by the item alphabet, never by event volume — and the
    * per-item marginals broadcast to the pair frame. At a larger
    * alphabet the production guard is a per-basket cap (the q118
    * hot-bucket discipline); at |items| = 6 it is vacuous and
    * omitted. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    // ONE events scan: the collapsed basket frame (plus the planted
    // promo item) is persisted and feeds the pair join, both
    // marginals and the basket count
    val base = EtlOps.t(s, dir, "events")
      .selectExpr("user_id",
        "CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS g",
        "event_type AS item")
      .distinct()
    val items = base.unionAll(
      base.filter(col("item") === "purchase")
        .select(col("user_id"), col("g"), lit("promo").as("item")))
      .persist()
    val nBaskets = items.select("user_id", "g").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = items.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = items.as("a")
      .join(items.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.g") === col("b.g") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("antecedent"),
        col("b.item").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("item").as("antecedent"),
        col("n_item").as("n_ant"))), "antecedent")
      .join(broadcast(marg.select(col("item").as("consequent"),
        col("n_item").as("n_cons"))), "consequent")
      .crossJoin(broadcast(nBaskets))
      .withColumn("support",
        col("n_both").cast("double") / col("n_baskets").cast("double"))
      .filter(col("support") >= ArMinSupport)
      .withColumn("confidence",
        col("n_both").cast("double") / col("n_ant").cast("double"))
      .withColumn("lift", col("confidence") *
        col("n_baskets").cast("double") / col("n_cons").cast("double"))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ant"), col("n_cons"), col("n_baskets"),
        round(col("support"), 6).as("support"),
        round(col("confidence"), 6).as("confidence"),
        round(col("lift"), 6).as("lift"),
        (col("lift") > ArLiftFlag).as("associated"))
      .orderBy("antecedent", "consequent")
  }

  def assocRulesOracle: String =
    s"""WITH base AS (SELECT DISTINCT user_id,
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS g, event_type AS item
       |  FROM events),
       |items AS (SELECT * FROM base
       |  UNION ALL SELECT user_id, g, 'promo' FROM base
       |  WHERE item = 'purchase'),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
       |  FROM (SELECT DISTINCT user_id, g FROM items)),
       |marg AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
       |  FROM items GROUP BY item),
       |pairs AS (SELECT a.item AS antecedent, b.item AS consequent,
       |    CAST(count(*) AS BIGINT) AS n_both
       |  FROM items a JOIN items b ON a.user_id = b.user_id
       |    AND a.g = b.g AND a.item <> b.item
       |  GROUP BY 1, 2),
       |j AS (SELECT p.*, ma.n_item AS n_ant, mc.n_item AS n_cons,
       |    nb.n_baskets,
       |    CAST(p.n_both AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)
       |      AS support,
       |    CAST(p.n_both AS DOUBLE) / CAST(ma.n_item AS DOUBLE)
       |      AS confidence
       |  FROM pairs p
       |  JOIN marg ma ON ma.item = p.antecedent
       |  JOIN marg mc ON mc.item = p.consequent, nb)
       |SELECT antecedent, consequent, n_both, n_ant, n_cons, n_baskets,
       |  round(support, 6) AS support,
       |  round(confidence, 6) AS confidence,
       |  round(confidence * CAST(n_baskets AS DOUBLE)
       |    / CAST(n_cons AS DOUBLE), 6) AS lift,
       |  confidence * CAST(n_baskets AS DOUBLE)
       |    / CAST(n_cons AS DOUBLE) > $ArLiftFlag AS associated
       |FROM j WHERE support >= $ArMinSupport
       |ORDER BY antecedent, consequent""".stripMargin

  // --- q335: Simpson's-paradox reversal scan -------------------------------

  /** q335 — Simpson's-paradox scan (Simpson 1951; the standard
    * stratified-aggregation sanity check every experimentation /
    * BI readout should run): compare the urgent-vs-regular order value
    * gap in the POOLED data against the same gap WITHIN each customer
    * nation, and flag strata whose direction contradicts the pooled
    * direction — the signature of a confounded rollup (stratum sizes
    * correlated with both treatment and outcome). Treatment: order
    * priority 1-URGENT/2-HIGH; stratum: customer nation; metric: mean
    * order value. Output: one row per stratum plus the pooled row
    * (stratum = −1), each with group sizes, means, an exact direction
    * sign, and the reversal flag.
    *
    * Parity: prices are frozen to cents (floor(·100) BIGINT) so group
    * sums are exact integers; the direction sign is the exact integer
    * cross-product test sT·nC vs sC·nT — computed in 128-bit
    * (DECIMAL(38)/HUGEINT on Spark/DuckDB) so it cannot overflow
    * before ~1e38 (the BIGINT form would overflow the pooled row near
    * sf1); means are ONE double division + round at the end.
    *
    * Scale (100 TB): one dim join (customer — SF-proportional, so no
    * forced hint: stats/AQE broadcast it under the threshold and
    * shuffle past it), ONE
    * per-stratum aggregate over the data (map-side combinable), and
    * the pooled row is a RE-AGGREGATE of the |strata|-row frame (the
    * integer sums compose exactly) — the data is scanned once; rollup
    * semantics at metadata cost. (Not `Dataset.rollup`: in Spark 4.1
    * a rollup directly above a join trips the ambiguous-self-join
    * detector on the duplicated grouping attribute.) */
  def simpsonScan(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "orders").join(
        t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("c_nationkey AS nat",
        "o_orderpriority IN ('1-URGENT', '2-HIGH') AS treated",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS price_fp")
    val strata = j.groupBy("nat").agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated"), col("price_fp")).otherwise(0L))
          .as("s_t"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treated"), col("price_fp")).otherwise(0L))
          .as("s_c"))
    val pooled = strata.agg(
        sum(col("n_t")).as("n_t"), sum(col("s_t")).as("s_t"),
        sum(col("n_c")).as("n_c"), sum(col("s_c")).as("s_c"))
      .selectExpr("CAST(-1 AS BIGINT) AS nat", "n_t", "s_t", "n_c", "s_c")
    val agg = strata.selectExpr("CAST(nat AS BIGINT) AS nat", "n_t",
        "s_t", "n_c", "s_c")
      .unionByName(pooled)
      .selectExpr("nat AS stratum", "n_t", "n_c",
        "round(((CAST(s_t AS DOUBLE) / 100) / n_t), 6) AS avg_t",
        "round(((CAST(s_c AS DOUBLE) / 100) / n_c), 6) AS avg_c",
        "CAST(CASE WHEN CAST(s_t AS DECIMAL(38, 0)) * n_c" +
          " > CAST(s_c AS DECIMAL(38, 0)) * n_t THEN 1" +
          " WHEN CAST(s_t AS DECIMAL(38, 0)) * n_c" +
          " < CAST(s_c AS DECIMAL(38, 0)) * n_t THEN -1" +
          " ELSE 0 END AS BIGINT) AS direction")
    // pooled-direction attach via an unpartitioned window — the frame
    // is the ROLLUP output (|strata|+1 rows, group-bounded), so the
    // single-partition window is metadata-sized by construction
    agg.withColumn("pooled_dir",
        max(when(col("stratum") === -1L, col("direction")))
          .over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .selectExpr("stratum", "n_t", "n_c", "avg_t", "avg_c", "direction",
        "stratum <> -1 AND direction <> pooled_dir AS reversed")
      .orderBy("stratum")
  }

  def simpsonScanOracle: String =
    s"""WITH j AS (SELECT c.c_nationkey AS nat,
       |    o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS treated,
       |    CAST(floor(o.o_totalprice * 100) AS BIGINT) AS price_fp
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |agg AS (SELECT CAST(coalesce(nat, -1) AS BIGINT) AS stratum,
       |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_t,
       |    CAST(sum(CASE WHEN treated THEN price_fp ELSE 0 END)
       |      AS BIGINT) AS s_t,
       |    CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_c,
       |    CAST(sum(CASE WHEN treated THEN 0 ELSE price_fp END)
       |      AS BIGINT) AS s_c
       |  FROM j GROUP BY ROLLUP (nat)),
       |d AS (SELECT stratum, n_t, n_c,
       |    round(((CAST(s_t AS DOUBLE) / 100) / n_t), 6) AS avg_t,
       |    round(((CAST(s_c AS DOUBLE) / 100) / n_c), 6) AS avg_c,
       |    CAST(CASE WHEN CAST(s_t AS HUGEINT) * n_c
       |        > CAST(s_c AS HUGEINT) * n_t THEN 1
       |      WHEN CAST(s_t AS HUGEINT) * n_c
       |        < CAST(s_c AS HUGEINT) * n_t THEN -1
       |      ELSE 0 END AS BIGINT) AS direction
       |  FROM agg),
       |p AS (SELECT direction AS pooled_dir FROM d WHERE stratum = -1)
       |SELECT stratum, n_t, n_c, avg_t, avg_c, direction,
       |  stratum <> -1 AND direction <> pooled_dir AS reversed
       |FROM d, p ORDER BY stratum""".stripMargin
  // --- q386: sample-ratio-mismatch (SRM) gate --------------------------------

  /** Frozen chi-square (df=1) critical values — build-time literals on
    * both engines (the q252 z-critical discipline): α = .05/.01/.001. */
  val SrmChi2P05 = 3.841459
  val SrmChi2P01 = 6.634897
  val SrmChi2P001 = 10.827566

  /** q386 — sample-ratio-mismatch gate: the integrity pre-test every
    * experiment readout in this suite (q200 z-test, q260 CUPED, q284
    * delta-method, q287 mSPRT) implicitly assumes and none of them
    * checks — is the 50/50 hash assignment ACTUALLY 50/50 in the
    * logged data? A biased logging/bucketing bug shifts the arm ratio,
    * and any metric read on top is garbage regardless of its p-value
    * (Fabijan et al. 2019's diagnosis ladder). Per experiment (event
    * stream sliced by event_type): distinct users per arm, the df=1
    * chi-square statistic (n_a−n_b)²/(n_a+n_b) against the frozen
    * critical values, and a severity verdict. One experiment is
    * PLANTED broken — 'purchase' drops a third of arm-1 users (a
    * simulated one-arm logging failure) — so the gate's firing is part
    * of the oracle-checked output, not a slide claim.
    *
    * Parity: arm assignment is an exact md5 coin; counts exact; the
    * squared deviation goes through DECIMAL(38,0) ((n_a−n_b)² passes
    * int64 at corpus user counts) with ONE pinned double division;
    * thresholds are literals.
    *
    * Scale (100 TB): one distinct (experiment, user, arm) collapse
    * (map-combinable) and an enum-keyed rollup; the gate costs one
    * pass regardless of experiment count. */
  def srmGate(s: SparkSession, dir: String): DataFrame = {
    val units = EtlOps.events(s, dir)
      .select(col("event_type").as("experiment"), col("user_id").as("u"))
      .distinct()
      .withColumn("arm", call_function("md5_fp60",
        concat(lit("exp:"), col("u").cast("string"))) % 2)
      // planted one-arm logging failure: 'purchase' silently loses a
      // third of arm-1 users
      .filter(!(col("experiment") === "purchase" && col("arm") === 1 &&
        col("u") % 3 === 0))
    units.groupBy("experiment")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .selectExpr("experiment", "n_a", "n_b",
        "round(CAST(CAST(n_a - n_b AS DECIMAL(38,0))" +
          " * CAST(n_a - n_b AS DECIMAL(38,0)) AS DOUBLE)" +
          " / CAST(n_a + n_b AS DOUBLE), 6) AS chi2",
        s"CASE WHEN CAST(CAST(n_a - n_b AS DECIMAL(38,0))" +
          s" * CAST(n_a - n_b AS DECIMAL(38,0)) AS DOUBLE)" +
          s" / CAST(n_a + n_b AS DOUBLE) >= $SrmChi2P001 THEN 'p001'" +
          s" WHEN CAST(CAST(n_a - n_b AS DECIMAL(38,0))" +
          s" * CAST(n_a - n_b AS DECIMAL(38,0)) AS DOUBLE)" +
          s" / CAST(n_a + n_b AS DOUBLE) >= $SrmChi2P01 THEN 'p01'" +
          s" WHEN CAST(CAST(n_a - n_b AS DECIMAL(38,0))" +
          s" * CAST(n_a - n_b AS DECIMAL(38,0)) AS DOUBLE)" +
          s" / CAST(n_a + n_b AS DOUBLE) >= $SrmChi2P05 THEN 'p05'" +
          s" ELSE 'ok' END AS srm_verdict")
      .orderBy("experiment")
  }

  def srmGateOracle: String = {
    val coin = "CAST('0x' || substr(md5('exp:' || CAST(u AS VARCHAR))," +
      " 1, 15) AS BIGINT) % 2"
    val chi = "CAST(CAST(n_a - n_b AS DECIMAL(38,0))" +
      " * CAST(n_a - n_b AS DECIMAL(38,0)) AS DOUBLE)" +
      " / CAST(n_a + n_b AS DOUBLE)"
    s"""WITH units AS (SELECT experiment, u, $coin AS arm FROM (
       |  SELECT DISTINCT event_type AS experiment, user_id AS u
       |  FROM events)),
       |kept AS (SELECT * FROM units
       |  WHERE NOT (experiment = 'purchase' AND arm = 1 AND u % 3 = 0)),
       |agg AS (SELECT experiment,
       |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM kept GROUP BY experiment)
       |SELECT experiment, n_a, n_b, round($chi, 6) AS chi2,
       |  CASE WHEN $chi >= $SrmChi2P001 THEN 'p001'
       |       WHEN $chi >= $SrmChi2P01 THEN 'p01'
       |       WHEN $chi >= $SrmChi2P05 THEN 'p05'
       |       ELSE 'ok' END AS srm_verdict
       |FROM agg ORDER BY experiment""".stripMargin
  }

  // --- q391: pass@k estimator curve ------------------------------------------

  /** The k values of the pass@k curve — powers of two, the HumanEval
    * reporting convention. */
  val PassKs = Seq(1, 2, 4, 8)

  /** Fixed-point scale for per-problem pass probabilities. */
  private val PassFpScale = "1000000000000"

  /** q391 — unbiased pass@k curve (Chen et al. 2021, "Evaluating Large
    * Language Models Trained on Code", §2.1): per problem with n
    * samples and c successes, the unbiased estimator of P(≥1 success
    * in k draws) is 1 − C(n−c,k)/C(n,k), NOT 1 − (1−c/n)^k — each
    * without-replacement failure factor (n−c−i)/(n−i) is ≤ the
    * plug-in failure rate (n−c)/n, so the plug-in form is biased LOW,
    * and the difference is exactly what the estimator exists to
    * remove. Problems are users, samples are
    * their events, success is a deterministic md5 coin whose rate
    * varies by problem (u mod 50 · 2%: the fixture spans impossible
    * through near-certain problems, so saturation and the k ≤ n gate
    * both exercise). Per k: evaluable problem count (n ≥ k),
    * saturated count (n−c < k ⇒ estimator exactly 1), and the mean
    * pass@k over evaluable problems.
    *
    * Parity: C(n−c,k)/C(n,k) is evaluated as the falling-factorial
    * rational Π(n−c−i)/Π(n−i) with EXACT integer numerator and
    * denominator (Spark DECIMAL(38,0) products, DuckDB HUGEINT — both
    * exact at n ≤ 10⁴·⁵), ONE pinned double division, and a floor to
    * scaled-BIGINT fixed point per problem; means are exact BIGINT
    * sums with one final division (the q362/q383 discipline).
    *
    * Scale (100 TB): one map-combinable (problem → n, c) aggregate
    * over the event stream, then [[PassKs]].size 1-row aggregates
    * over the |problems| frame (lineage-cut, referenced once per k);
    * the curve never materializes per-sample state and the estimator
    * arithmetic is in-row. */
  def passAtK(s: SparkSession, dir: String): DataFrame = {
    val per = CurationOps.cutLineage(EtlOps.events(s, dir)
      .select(col("user_id").as("u"), col("event_id").as("eid"))
      .withColumn("ok", (call_function("md5_fp60",
        concat(lit("pk:"), col("eid").cast("string"))) % 1000 <
        (col("u") % 50) * 20).cast("int"))
      .groupBy("u")
      .agg(count(lit(1)).as("n"), sum(col("ok")).cast("long").as("c")))
    val rows = PassKs.map { k =>
      val num = (0 until k)
        .map(i => s"CAST(n - c - $i AS DECIMAL(38,0))").mkString(" * ")
      val den = (0 until k)
        .map(i => s"CAST(n - $i AS DECIMAL(38,0))").mkString(" * ")
      val passFp = s"CASE WHEN n < $k THEN CAST(NULL AS BIGINT)" +
        s" WHEN n - c < $k THEN CAST($PassFpScale AS BIGINT)" +
        s" ELSE $PassFpScale - CAST(floor(CAST($num AS DOUBLE)" +
        s" / CAST($den AS DOUBLE) * 1e12) AS BIGINT) END"
      per
        .selectExpr("n", "c", s"$passFp AS pass_fp",
          s"CASE WHEN n >= $k AND n - c < $k THEN 1 ELSE 0 END AS sat")
        .agg(count(col("pass_fp")).as("n_problems"),
          sum(col("sat")).cast("long").as("n_saturated"),
          sum(col("pass_fp")).as("sum_fp"))
        .selectExpr(s"CAST($k AS BIGINT) AS k", "n_problems",
          "n_saturated",
          "CASE WHEN n_problems > 0 THEN round(CAST(sum_fp AS DOUBLE)" +
            " / CAST(n_problems AS DOUBLE) / 1e12, 6) END AS pass_at_k")
    }
    rows.reduce(_ unionAll _).orderBy("k")
  }

  def passAtKOracle: String = {
    val coin = "CAST('0x' || substr(md5('pk:' || CAST(event_id AS" +
      " VARCHAR)), 1, 15) AS BIGINT) % 1000 < (user_id % 50) * 20"
    val blocks = PassKs.map { k =>
      val num = (0 until k)
        .map(i => s"CAST(n - c - $i AS HUGEINT)").mkString(" * ")
      val den = (0 until k)
        .map(i => s"CAST(n - $i AS HUGEINT)").mkString(" * ")
      val passFp = s"CASE WHEN n < $k THEN CAST(NULL AS BIGINT)" +
        s" WHEN n - c < $k THEN CAST($PassFpScale AS BIGINT)" +
        s" ELSE $PassFpScale - CAST(floor(CAST($num AS DOUBLE)" +
        s" / CAST($den AS DOUBLE) * 1e12) AS BIGINT) END"
      s"""SELECT CAST($k AS BIGINT) AS k,
         |  count(pass_fp) AS n_problems,
         |  CAST(sum(sat) AS BIGINT) AS n_saturated,
         |  CASE WHEN count(pass_fp) > 0 THEN
         |    round(CAST(sum(pass_fp) AS DOUBLE)
         |      / CAST(count(pass_fp) AS DOUBLE) / 1e12, 6) END
         |    AS pass_at_k
         |FROM (SELECT n, c, $passFp AS pass_fp,
         |    CASE WHEN n >= $k AND n - c < $k THEN 1 ELSE 0 END AS sat
         |  FROM per)""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH per AS (SELECT u, count(*) AS n,
       |    CAST(sum(ok) AS BIGINT) AS c
       |  FROM (SELECT user_id AS u,
       |      CASE WHEN $coin THEN 1 ELSE 0 END AS ok
       |    FROM events) GROUP BY u)
       |SELECT * FROM ($blocks) ORDER BY k""".stripMargin
  }
}
