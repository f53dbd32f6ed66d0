package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** K-means clustering on the embeddings table — one full Lloyd
  * iteration (assign → update → re-assign) with deterministic
  * initialization, as a pure DataFrame computation.
  *
  * Distributed shape: centroids are K rows and BROADCAST; the vector
  * table streams through the assignment cross-join without shuffling
  * (the argmin is a per-vector window over K candidate rows, K tiny),
  * and the centroid update is one map-side-partial aggregate on the
  * assignment key. Each additional Lloyd iteration repeats the same two
  * passes — the loop discipline (a lineage cut per generation) is
  * [[CurationOps.iterateCut]]; one iteration here keeps
  * the oracle an unrollable CTE chain.
  *
  * Parity: squared-L2 distances are generated 64-term chains with one
  * fixed op order (the [[VecSql]] technique); centroid means and
  * inertia go through floor(x·10⁹) BIGINT fixed-point sums — exact and
  * order-independent on both engines (double→DECIMAL casts round
  * differently across engines; floor does not). Ties in the argmin
  * break on cent_id over bit-identical distances.
  */
object ClusterOps {

  val K = 8
  private val Fp = "1000000000.0" // 10⁹ fixed-point scale (exact ≤ ~9e6)

  /** Σ_j (a[j]-b[j])², left-associated, generated for both dialects. */
  def dsqExpr(a: String, b: String, spark: Boolean): String =
    (1 to VecSql.Dims).map { j =>
      val x = VecSql.el(a, j, spark)
      val c = VecSql.el(b, j, spark)
      s"($x - $c) * ($x - $c)"
    }.mkString(" + ")

  /** q79 — one deterministic Lloyd step: init centroids = vectors with
    * vec_id < [[K]]; assign; recompute centroids as fixed-point means;
    * re-assign; report per-cluster size and inertia (sum of squared
    * distances to the updated centroid). */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    // v feeds both assignment passes and the centroid update of the ONE
    // action the caller runs — the cache engages during that execution,
    // so it cannot be unpersisted here (nothing is materialized yet).
    // Long-lived sessions reclaim it via clearCache, which
    // Bench.resetSharedState runs per query in Bench and Verify.
    val v = SimilarityOps.baseVectors(s, dir).persist()
    // limit(K) after the unique-id filter is a results no-op that makes
    // the K-row bound structural (visible to the planner and the
    // broadcast-size invariant; hard runtime cap on the broadcast)
    val c0 = v.filter(col("vec_id") < K).limit(K)
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"))

    def assign(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("cent_id"))
      v.crossJoin(broadcast(cents))
        .withColumn("dist", expr(dsqExpr("emb", "cemb", spark = true)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id", "emb", "cent_id", "dist")
    }

    val a1 = assign(c0)
    val sums = (1 to VecSql.Dims).map { j =>
      sum(expr(s"CAST(floor(element_at(emb, $j) * $Fp) AS BIGINT)"))
        .as(s"s$j")
    }
    val cnt = count(lit(1)).as("cnt")
    val c1 = a1.groupBy("cent_id")
      .agg(cnt, sums: _*)
      .select(col("cent_id"),
        array((1 to VecSql.Dims).map { j =>
          (col(s"s$j").cast("double") / lit(1e9)) / col("cnt")
        }: _*).as("cemb"))
      // cent_id ranges over the K initial centroids — structural bound
      .limit(K)
    val a2 = assign(c1)
    a2.groupBy("cent_id")
      .agg(count(lit(1)).as("n_assigned"),
        (sum(expr(s"CAST(floor(dist * $Fp) AS BIGINT)")).cast("double")
          / lit(1e9)).as("inertia"))
      .orderBy("cent_id")
  }

  /** The DuckDB oracle: the identical step as a CTE chain, generated
    * from the same constants and expression generators. */
  def kmeansOracle: String = {
    val sumCols = (1 to VecSql.Dims).map { j =>
      s"CAST(CAST(sum(CAST(floor(emb[$j] * $Fp) AS BIGINT)) AS BIGINT) AS DOUBLE) AS s$j"
    }.mkString(",\n    ")
    val meanList = (1 to VecSql.Dims).map { j =>
      s"(s$j / $Fp) / cnt"
    }.mkString(", ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, emb AS cemb FROM v WHERE vec_id < $K),
       |d1 AS (SELECT v.vec_id, v.emb, c0.cent_id,
       |    ${dsqExpr("emb", "cemb", spark = false)} AS dist
       |  FROM v CROSS JOIN c0),
       |a1 AS (SELECT vec_id, emb, cent_id FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY dist, cent_id) AS rn FROM d1) WHERE rn = 1),
       |c1 AS (SELECT cent_id, count(*) AS cnt,
       |    $sumCols
       |  FROM a1 GROUP BY cent_id),
       |c1a AS (SELECT cent_id, [$meanList] AS cemb FROM c1),
       |d2 AS (SELECT v.vec_id, c1a.cent_id,
       |    ${dsqExpr("emb", "cemb", spark = false)} AS dist
       |  FROM v CROSS JOIN c1a),
       |a2 AS (SELECT vec_id, cent_id, dist FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY dist, cent_id) AS rn FROM d2) WHERE rn = 1)
       |SELECT cent_id, count(*) AS n_assigned,
       |  CAST(CAST(sum(CAST(floor(dist * $Fp) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |    / $Fp AS inertia
       |FROM a2 GROUP BY cent_id ORDER BY cent_id""".stripMargin
  }

  // --- q135: cluster-balanced embedding sample --------------------------

  /** q135 — cluster-balanced coreset sampling: flatten embedding-space
    * density by sampling each k-means cell at a sqrt-scaled rate (the
    * embedding twin of q130's temperature rule — dense regions
    * down-weighted, sparse regions kept). Assignment uses the
    * deterministic q79 init centroids; per-cell targets are exact
    * integer arithmetic from floor(sqrt·1e9) weights; WHICH points
    * survive is fingerprint rank, capped at cell size (sampling without
    * replacement, so an upweighted sparse cell keeps everything it
    * has). The audit columns compare each cell's mean centroid distance
    * over ALL members vs over the SELECTED members — balanced sampling
    * should preserve within-cell geometry, and a selection that skews
    * toward the centroid (or the rim) shows up immediately.
    *
    * Scale (100 TB): K centroids broadcast to the streaming assignment
    * (no vector shuffle); the plan is K rows with totals as windows
    * over it (q131's one-lineage discipline); selection is one rank
    * window hash-partitioned by cell. Distances aggregate as
    * floor(d·10⁹) BIGINT — order-free, engine-exact. */
  def clusterBalancedSample(s: SparkSession, dir: String): DataFrame = {
    val v = SimilarityOps.baseVectors(s, dir).persist()
    // limit(K) after the unique-id filter is a results no-op that makes
    // the K-row bound structural (visible to the planner and the
    // broadcast-size invariant; hard runtime cap on the broadcast)
    val c0 = v.filter(col("vec_id") < K).limit(K)
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cent_id"))
    val a = v.crossJoin(broadcast(c0))
      .withColumn("dist", expr(dsqExpr("emb", "cemb", spark = true)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cent_id", "dist")
    val wAll = Window.partitionBy()
    val plan = a.groupBy("cent_id").agg(count(lit(1)).as("n_points"))
      // cent_id ranges over the K initial centroids — structural bound
      // (also licenses the wAll windows below: they run over <=K rows)
      .limit(K)
      .withColumn("w_fp",
        floor(sqrt(col("n_points").cast("double")) * 1e9).cast("bigint"))
      .withColumn("S", sum(col("w_fp")).over(wAll))
      .withColumn("N", sum(col("n_points")).over(wAll))
      .withColumn("target", expr("(N * w_fp) div S"))
      .select("cent_id", "n_points", "w_fp", "target")
    val rk = row_number().over(
      Window.partitionBy("cent_id").orderBy(col("fp"), col("vec_id")))
    val dfp = expr(s"CAST(floor(dist * $Fp) AS BIGINT)")
    a.withColumn("fp",
        TextOps.md5Fingerprint60(concat(lit("cbal"), col("vec_id").cast("string"))))
      .join(broadcast(plan), "cent_id")
      .withColumn("rk", rk)
      .groupBy("cent_id")
      .agg(
        first(col("n_points")).as("n_points"),
        first(col("w_fp")).as("w_fp"),
        first(col("target")).as("target"),
        sum(when(col("rk") <= col("target"), 1L).otherwise(0L)).as("realized"),
        sum(dfp).as("dall_fp"),
        sum(when(col("rk") <= col("target"), dfp).otherwise(0L)).as("dsel_fp"))
      .select(col("cent_id"), col("n_points"), col("w_fp"), col("target"),
        col("realized"),
        round((col("dall_fp").cast("double") / lit(1e9)) /
          col("n_points").cast("double"), 6).as("mean_dist"),
        // a cell whose integer target floors to 0 (possible when
        // N·w_fp < S for tiny cells) selects nothing — guard the mean
        // rather than emit NaN (oracle carries the matching CASE)
        when(col("realized") > 0,
          round((col("dsel_fp").cast("double") / lit(1e9)) /
            col("realized").cast("double"), 6)).otherwise(lit(0.0))
          .as("mean_dist_sel"))
      .orderBy("cent_id")
  }

  def clusterBalancedSampleOracle: String =
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, emb AS cemb FROM v WHERE vec_id < $K),
       |d1 AS (SELECT v.vec_id, c0.cent_id,
       |    ${dsqExpr("emb", "cemb", spark = false)} AS dist
       |  FROM v CROSS JOIN c0),
       |a1 AS (SELECT vec_id, cent_id, dist FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY dist, cent_id) AS rn FROM d1) WHERE rn = 1),
       |cnt AS (SELECT cent_id, count(*) AS n_points FROM a1 GROUP BY cent_id),
       |pl AS (SELECT cent_id, n_points,
       |    CAST(floor(sqrt(CAST(n_points AS DOUBLE)) * 1e9) AS BIGINT)
       |      AS w_fp FROM cnt),
       |tt AS (SELECT CAST(sum(w_fp) AS BIGINT) AS S,
       |    CAST(sum(n_points) AS BIGINT) AS N FROM pl),
       |pl2 AS (SELECT pl.cent_id, pl.n_points, pl.w_fp,
       |    (N * w_fp) // S AS target FROM pl, tt),
       |r AS (SELECT a1.vec_id, a1.cent_id, a1.dist,
       |    pl2.n_points, pl2.w_fp, pl2.target,
       |    row_number() OVER (PARTITION BY a1.cent_id ORDER BY
       |      CAST('0x' || substr(md5('cbal' || CAST(vec_id AS VARCHAR)),
       |        1, 15) AS BIGINT), vec_id) AS rk
       |  FROM a1 JOIN pl2 USING (cent_id))
       |SELECT cent_id, n_points, w_fp, target,
       |  CAST(sum(CASE WHEN rk <= target THEN 1 ELSE 0 END) AS BIGINT)
       |    AS realized,
       |  round((CAST(CAST(sum(CAST(floor(dist * $Fp) AS BIGINT)) AS BIGINT)
       |      AS DOUBLE) / 1e9) / CAST(n_points AS DOUBLE), 6) AS mean_dist,
       |  CASE WHEN sum(CASE WHEN rk <= target THEN 1 ELSE 0 END) > 0
       |    THEN round((CAST(CAST(sum(CASE WHEN rk <= target
       |      THEN CAST(floor(dist * $Fp) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) / 1e9)
       |    / CAST(CAST(sum(CASE WHEN rk <= target THEN 1 ELSE 0 END)
       |      AS BIGINT) AS DOUBLE), 6) ELSE 0.0 END AS mean_dist_sel
       |FROM r GROUP BY cent_id, n_points, w_fp, target
       |ORDER BY cent_id""".stripMargin

  // --- q106/q107: label-centroid diagnostics ----------------------------

  /** Outliers reported per label. */
  val OutlierK = 5

  /** The per-label centroid table: fixed-point means over each label's
    * member vectors — the same exact-summation construction as the q79
    * centroid update, keyed by the data's own label instead of an
    * assignment. One map-side-combinable aggregate down to |labels|
    * rows, which then BROADCAST to every consumer. */
  private def labelCentroids(v: DataFrame): DataFrame = {
    val sums = (1 to VecSql.Dims).map { j =>
      sum(expr(s"CAST(floor(element_at(emb, $j) * $Fp) AS BIGINT)"))
        .as(s"s$j")
    }
    v.groupBy("label")
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("label"),
        array((1 to VecSql.Dims).map { j =>
          (col(s"s$j").cast("double") / lit(1e9)) / col("cnt")
        }: _*).as("cemb"))
  }

  private def labeledVectors(s: SparkSession, dir: String): DataFrame =
    EtlOps.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")

  /** q106 — semantic outlier report: the [[OutlierK]] vectors farthest
    * (squared L2) from their own label's centroid, per label — the
    * embedding-space analogue of the text quality gate: items that sit
    * far from their group's mass are mislabeled, noisy, or genuinely
    * novel, and a curation pipeline routes them to review before
    * training.
    *
    * Shape: one aggregate to |labels| centroid rows, broadcast back, a
    * per-row 64-term distance chain (codegen'd, no shuffle), and a
    * per-label top-k window. The fact table streams through exactly
    * once; nothing here grows with corpus size except the one
    * label-keyed exchange for the window. */
  def semanticOutliers(s: SparkSession, dir: String): DataFrame = {
    val v = labeledVectors(s, dir).persist()
    val w = Window.partitionBy("label")
      .orderBy(col("dist").desc, col("vec_id"))
    v.join(broadcast(labelCentroids(v)), "label")
      .withColumn("dist", expr(dsqExpr("emb", "cemb", spark = true)))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= OutlierK)
      .select(col("label"), col("vec_id"), col("rank"),
        round(col("dist"), 6).as("dist2"))
      .orderBy("label", "rank")
  }

  /** q106 oracle — identical CTE chain, generated from the same
    * expression builders. */
  def semanticOutliersOracle: String = {
    val sumCols = (1 to VecSql.Dims).map { j =>
      s"CAST(CAST(sum(CAST(floor(emb[$j] * $Fp) AS BIGINT)) AS BIGINT) AS DOUBLE) AS s$j"
    }.mkString(",\n    ")
    val meanList = (1 to VecSql.Dims).map(j => s"(s$j / $Fp) / cnt").mkString(", ")
    s"""WITH v AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c AS (SELECT label, count(*) AS cnt,
       |    $sumCols
       |  FROM v GROUP BY label),
       |ca AS (SELECT label, [$meanList] AS cemb FROM c),
       |d AS (SELECT v.label, v.vec_id,
       |    ${dsqExpr("emb", "cemb", spark = false)} AS dist
       |  FROM v JOIN ca ON v.label = ca.label),
       |r AS (SELECT label, vec_id, dist, row_number() OVER (
       |    PARTITION BY label ORDER BY dist DESC, vec_id) AS rnk FROM d)
       |SELECT label, vec_id, CAST(rnk AS BIGINT) AS "rank",
       |  round(dist, 6) AS dist2
       |FROM r WHERE rnk <= $OutlierK ORDER BY label, rnk""".stripMargin
  }

  /** q107 — label-confusion matrix: assign every vector to its NEAREST
    * label centroid (ties on label id over bit-identical distances) and
    * count (true label, assigned label) pairs. Off-diagonal mass is the
    * standard label-noise / class-overlap audit a dataset card reports;
    * it also validates whether label-partitioned sampling (q102) mixes
    * semantically distinct material.
    *
    * Shape: centroids broadcast (|labels| rows), assignment is a
    * streamed cross-join + per-vector argmin window, and the confusion
    * matrix is one integer-count aggregate — all-integer output, no
    * float comparisons cross the engine boundary. */
  def labelConfusion(s: SparkSession, dir: String): DataFrame = {
    val v = labeledVectors(s, dir).persist()
    val cents = labelCentroids(v)
      .select(col("label").as("pred_label"), col("cemb"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("dist"), col("pred_label"))
    v.crossJoin(broadcast(cents))
      .withColumn("dist", expr(dsqExpr("emb", "cemb", spark = true)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_label")
  }

  /** q107 oracle — identical CTE chain. */
  def labelConfusionOracle: String = {
    val sumCols = (1 to VecSql.Dims).map { j =>
      s"CAST(CAST(sum(CAST(floor(emb[$j] * $Fp) AS BIGINT)) AS BIGINT) AS DOUBLE) AS s$j"
    }.mkString(",\n    ")
    val meanList = (1 to VecSql.Dims).map(j => s"(s$j / $Fp) / cnt").mkString(", ")
    s"""WITH v AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c AS (SELECT label, count(*) AS cnt,
       |    $sumCols
       |  FROM v GROUP BY label),
       |ca AS (SELECT label AS pred_label, [$meanList] AS cemb FROM c),
       |d AS (SELECT v.label, v.vec_id, ca.pred_label,
       |    ${dsqExpr("emb", "cemb", spark = false)} AS dist
       |  FROM v CROSS JOIN ca),
       |a AS (SELECT label, vec_id, pred_label FROM
       |  (SELECT *, row_number() OVER (PARTITION BY vec_id
       |     ORDER BY dist, pred_label) AS rn FROM d) WHERE rn = 1)
       |SELECT label, pred_label, count(*) AS n
       |FROM a GROUP BY label, pred_label
       |ORDER BY label, pred_label""".stripMargin
  }

  // --- q121: SemDeDup — semantic dedup within embedding clusters --------

  /** Threshold as a source literal so both dialects parse the identical
    * double. Planted scaled copies sit at cosine ≈ 1; random 64-dim
    * pairs almost never exceed 0.5. */
  val SemTheta = "0.99"

  /** q121 — SemDeDup (Abbas et al. 2023): cluster the corpus, then mark
    * as semantic duplicates the vectors whose cosine to an EARLIER
    * same-cluster vector reaches [[SemTheta]]. Assignment is spherical —
    * argmax cosine to the K fixed centroids, ties on cent_id — so a
    * scaled near-copy provably lands in its original's cluster (L2
    * assignment would not guarantee that). Per vector: cluster,
    * dominator count, dup flag, best dominator similarity.
    *
    * Scale (100 TB): the centroid table is K rows and broadcast, making
    * assignment a narrow streaming pass. The within-cluster pair join is
    * SemDeDup's published cost model — K grows with the corpus so
    * cluster populations stay bounded — and the q112 projected-space
    * prefilter composes in front of the exact cosines exactly as in
    * q86's kNN graph. Cosines evaluate through the native codegen'd
    * `dot_product` expression (same IEEE order as the oracle's generated
    * 64-term chains). */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val v = SimilarityOps.withNorm(SimilarityOps.corpusNear(s, dir))
    val c0 = SimilarityOps.withNorm(
        SimilarityOps.baseVectors(s, dir).filter(col("vec_id") < K))
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"),
        col("norm").as("cnorm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = v.crossJoin(broadcast(c0))
      .selectExpr("vec_id", "emb", "norm", "cent_id",
        "dot_product(emb, cemb) / (norm * cnorm) AS csim")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("cent_id", "vec_id", "emb", "norm")
      .persist()
    val b = assigned.select(col("cent_id"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    val doms = assigned.join(b, "cent_id")
      .filter(col("vec_b") < col("vec_id"))
      .selectExpr("cent_id", "vec_id",
        "dot_product(emb, emb_b) / (norm * norm_b) AS sim")
      .filter(expr(s"sim >= $SemTheta"))
      .groupBy("cent_id", "vec_id")
      .agg(count(lit(1)).as("n_dups"), max("sim").as("best_sim"))
    assigned.join(doms, Seq("cent_id", "vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) > 0L).as("is_dup"),
        round(coalesce(col("best_sim"), lit(-1.0)), 6).as("best_sim"))
      .orderBy("vec_id")
  }

  // --- q144: semantic eval-set contamination ----------------------------

  /** q144 — semantic eval contamination (the embedding-space complement
    * of q119's n-gram audit): a val example whose meaning — not its
    * words — already exists in the train set inflates eval scores just
    * as surely as a verbatim copy. Split: originals with vec_id ≡ 0
    * (mod 10) are val; train is everything else plus scaled near-copies
    * of HALF the val docs (vec_id ≡ 0 mod 20 — q119's construction in
    * vector space), so the audit provably flags exactly those and
    * clears the rest. A val doc is contaminated when its max cosine to
    * a same-cluster train vector reaches [[SemTheta]]; spherical
    * assignment guarantees a near-copy co-clusters with its original
    * (q121's argument), so the within-cluster search cannot miss the
    * planted leaks.
    *
    * Scale (100 TB): identical cost model to q121 — broadcast centroid
    * assignment, within-cluster val×train join with cluster populations
    * bounded by growing K, native `dot_product` cosines, and the q112
    * projected-space prefilter composes in front when clusters are
    * large. */
  def semanticContamination(s: SparkSession, dir: String): DataFrame = {
    val base = SimilarityOps.baseVectors(s, dir)
      .filter(col("vec_id") < SimilarityOps.CorpusCap)
    val copies = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + SimilarityOps.CopyOffset).as("vec_id"),
        expr("transform(emb, x -> x * 1.001)").as("emb"))
    val v = SimilarityOps.withNorm(base.unionAll(copies))
      .withColumn("is_val",
        col("vec_id") < SimilarityOps.CopyOffset && col("vec_id") % 10 === 0)
    val c0 = SimilarityOps.withNorm(base.filter(col("vec_id") < K))
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"),
        col("norm").as("cnorm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = v.crossJoin(broadcast(c0))
      .selectExpr("vec_id", "emb", "norm", "is_val", "cent_id",
        "dot_product(emb, cemb) / (norm * cnorm) AS csim")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("cent_id", "vec_id", "emb", "norm", "is_val")
      .persist()
    val train = assigned.filter(!col("is_val"))
      .select(col("cent_id"), col("emb").as("emb_t"), col("norm").as("norm_t"))
    val best = assigned.filter(col("is_val")).join(train, "cent_id")
      .selectExpr("cent_id", "vec_id",
        "dot_product(emb, emb_t) / (norm * norm_t) AS sim")
      .groupBy("cent_id", "vec_id").agg(max(col("sim")).as("max_sim"))
    assigned.filter(col("is_val"))
      .select("vec_id", "cent_id")
      .join(best, Seq("cent_id", "vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        round(coalesce(col("max_sim"), lit(-1.0)), 6).as("max_train_sim"),
        coalesce(expr(s"max_sim >= $SemTheta"), lit(false))
          .as("contaminated"))
      .orderBy("vec_id")
  }

  def semanticContaminationOracle: String = {
    def d(a: String, b: String) = VecSql.dot(a, b, spark = false)
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id < ${SimilarityOps.CorpusCap}),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL SELECT vec_id + ${SimilarityOps.CopyOffset} AS vec_id,
       |    list_transform(emb, x -> x * 1.001) AS emb FROM base
       |  WHERE vec_id % 20 = 0),
       |v AS (SELECT vec_id, emb, sqrt(${d("emb", "emb")}) AS norm,
       |    vec_id < ${SimilarityOps.CopyOffset} AND vec_id % 10 = 0
       |      AS is_val FROM corpus),
       |c AS (SELECT vec_id AS cent_id, emb AS cemb,
       |    sqrt(${d("emb", "emb")}) AS cnorm FROM base WHERE vec_id < $K),
       |a AS (SELECT v.vec_id, v.emb, v.norm, v.is_val, c.cent_id,
       |    (${d("v.emb", "c.cemb")}) / (v.norm * c.cnorm) AS csim FROM v, c),
       |asg AS (SELECT vec_id, emb, norm, is_val, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cent_id) AS rn FROM a) WHERE rn = 1),
       |bst AS (SELECT x.cent_id, x.vec_id, max(
       |    (${d("x.emb", "y.emb")}) / (x.norm * y.norm)) AS max_sim
       |  FROM asg x JOIN asg y
       |    ON x.cent_id = y.cent_id AND NOT y.is_val
       |  WHERE x.is_val GROUP BY x.cent_id, x.vec_id)
       |SELECT asg.vec_id, asg.cent_id,
       |  round(coalesce(bst.max_sim, -1.0), 6) AS max_train_sim,
       |  coalesce(bst.max_sim >= $SemTheta, FALSE) AS contaminated
       |FROM asg LEFT JOIN bst USING (cent_id, vec_id)
       |WHERE asg.is_val ORDER BY asg.vec_id""".stripMargin
  }

  /** q121 oracle — identical spherical assignment and pair predicate,
    * generated from the same constants and dot chains. */
  def semanticDedupOracle: String = {
    def d(a: String, b: String) = VecSql.dot(a, b, spark = false)
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id < ${SimilarityOps.CorpusCap}),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL SELECT vec_id + ${SimilarityOps.CopyOffset} AS vec_id,
       |    list_transform(emb, x -> x * 1.001) AS emb FROM base),
       |v AS (SELECT vec_id, emb, sqrt(${d("emb", "emb")}) AS norm FROM corpus),
       |c AS (SELECT vec_id AS cent_id, emb AS cemb,
       |    sqrt(${d("emb", "emb")}) AS cnorm FROM base WHERE vec_id < $K),
       |a AS (SELECT v.vec_id, v.emb, v.norm, c.cent_id,
       |    (${d("v.emb", "c.cemb")}) / (v.norm * c.cnorm) AS csim FROM v, c),
       |asg AS (SELECT vec_id, emb, norm, cent_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cent_id) AS rn FROM a) WHERE rn = 1),
       |p AS (SELECT x.cent_id, x.vec_id,
       |    (${d("x.emb", "y.emb")}) / (x.norm * y.norm) AS sim
       |  FROM asg x JOIN asg y
       |    ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id),
       |dd AS (SELECT cent_id, vec_id, count(*) AS n_dups, max(sim) AS best_sim
       |  FROM p WHERE sim >= $SemTheta GROUP BY cent_id, vec_id)
       |SELECT asg.vec_id, asg.cent_id,
       |  CAST(coalesce(dd.n_dups, 0) AS BIGINT) AS n_dups,
       |  (coalesce(dd.n_dups, 0) > 0) AS is_dup,
       |  round(coalesce(dd.best_sim, -1.0), 6) AS best_sim
       |FROM asg LEFT JOIN dd USING (cent_id, vec_id)
       |ORDER BY asg.vec_id""".stripMargin
  }

  // --- q176: embedding-space drift between slices -----------------------

  /** q176 — embedding centroid drift: for every label slice, the cosine
    * between its centroid and the pooled-corpus centroid, plus the norm
    * ratio — the embedding-space twin of the token drift monitors
    * (q126 TVD, q155 KS, q168 PSI). A slice whose centroid swings away
    * from the pool (cos drop) or collapses toward zero (norm shrink)
    * signals an encoder change or a content shift that token-level
    * monitors can miss entirely.
    *
    * Parity: per-dim centroid sums go through floor(x·10⁹) BIGINT
    * fixed point (order-free) accumulated in DECIMAL(38,0) — the
    * headroom discipline: at the 100 TB target a per-slice sum is
    * rows·10⁹-scale and would wrap BIGINT silently (the q152/q158
    * lesson). Centroid elements, the 64-term dot chains (native
    * [[graft.functions.DotProduct]] ≡ the oracle's generated chain),
    * sqrt (IEEE-exact), and the final divisions are all fixed-order
    * double ops — bit-identical across engines.
    *
    * Scale (100 TB): ONE map-combinable wide aggregate over the
    * vector table (64 fixed-point partials per slice), a |slices|-row
    * reduce for the pool, and per-slice scalar math. Nothing shuffles
    * but the 64-long partials — the cheapest possible drift probe on
    * an embedding corpus. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val v = EtlOps.t(s, dir, "embeddings")
      .selectExpr("label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
    val sums = (1 to VecSql.Dims).map { j =>
      sum(expr(s"CAST(floor(element_at(emb, $j) * $Fp) AS BIGINT)")
        .cast("decimal(38,0)")).as(s"s$j")
    }
    // feeds BOTH the per-label centroids and the pooled reduce — persist
    // the |labels|×(64+1) partials so the corpus scans once
    val byLab = v.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sums: _*)
      .persist()
    val labCent = byLab.select(col("label"), col("n_vecs"),
      array((1 to VecSql.Dims).map { j =>
        (col(s"s$j").cast("double") / lit(1e9)) / col("n_vecs")
      }: _*).as("cent"))
    val glob = byLab
      .agg(sum(col("n_vecs")).as("gn"),
        (1 to VecSql.Dims).map(j => sum(col(s"s$j")).as(s"g$j")): _*)
      .select(array((1 to VecSql.Dims).map { j =>
        (col(s"g$j").cast("double") / lit(1e9)) / col("gn")
      }: _*).as("gcent"))
    labCent.crossJoin(broadcast(glob))
      .selectExpr("label", "n_vecs",
        "round(dot_product(cent, gcent) / " +
          "(sqrt(dot_product(cent, cent)) * sqrt(dot_product(gcent, gcent)))" +
          ", 6) AS cos_to_global",
        "round(sqrt(dot_product(cent, cent)) / " +
          "sqrt(dot_product(gcent, gcent)), 6) AS norm_ratio")
      .orderBy("label")
  }

  def embeddingDriftOracle: String = {
    val d = VecSql.Dims
    val sumCols = (1 to d).map { j =>
      s"CAST(sum(CAST(floor(emb[$j] * $Fp) AS BIGINT)) AS DECIMAL(38,0)) AS s$j"
    }.mkString(",\n    ")
    val gSumCols = (1 to d).map(j =>
      s"CAST(sum(s$j) AS DECIMAL(38,0)) AS g$j").mkString(",\n    ")
    val centList = (1 to d).map(j =>
      s"(CAST(s$j AS DOUBLE) / 1e9) / n_vecs").mkString(", ")
    val gcentList = (1 to d).map(j =>
      s"(CAST(g$j AS DOUBLE) / 1e9) / gn").mkString(", ")
    def dot(a: String, b: String) = VecSql.dot(a, b, spark = false)
    s"""WITH v AS (SELECT label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |b AS (SELECT label, count(*) AS n_vecs,
       |    $sumCols
       |  FROM v GROUP BY label),
       |lc AS (SELECT label, n_vecs, [$centList] AS cent FROM b),
       |g AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS gn,
       |    $gSumCols
       |  FROM b),
       |gc AS (SELECT [$gcentList] AS gcent FROM g)
       |SELECT label, n_vecs,
       |  round((${dot("cent", "gcent")}) /
       |    (sqrt(${dot("cent", "cent")}) * sqrt(${dot("gcent", "gcent")})),
       |    6) AS cos_to_global,
       |  round(sqrt(${dot("cent", "cent")}) /
       |    sqrt(${dot("gcent", "gcent")}), 6) AS norm_ratio
       |FROM lc CROSS JOIN gc ORDER BY label""".stripMargin
  }
}
