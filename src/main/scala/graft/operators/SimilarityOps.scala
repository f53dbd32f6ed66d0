package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dialect-shared SQL generators for vector math. The SAME generated
  * string feeds Spark (`selectExpr`) and the DuckDB oracle (modulo element
  * access syntax), so the expression tree — and therefore every IEEE
  * operation order — is identical on both engines: results are
  * bit-reproducible without tolerances. Sums are left-associated chains.
  * The weighted sums ([[lshSig]], [[projComp]]) are the exception: Spark
  * evaluates them as native `dot_product`s over the same weights in the
  * same op order ([[lshSigCol]], [[projCol]]).
  */
object VecSql {
  val Dims = 64

  def el(c: String, j: Int, spark: Boolean): String =
    if (spark) s"element_at($c, $j)" else s"$c[$j]"

  /** Σ_j CAST(a[j] AS DOUBLE) * CAST(b[j] AS DOUBLE), left-associated. */
  def dot(a: String, b: String, spark: Boolean, dims: Int = Dims): String =
    (1 to dims).map(j =>
      s"CAST(${el(a, j, spark)} AS DOUBLE) * CAST(${el(b, j, spark)} AS DOUBLE)")
      .mkString(" + ")

  /** Numerator k of the LCG weight k/2³¹ − 0.5 at flat index i. */
  private def lcg(i: Long): Long = (1103515245L * i + 12345L) % 2147483648L

  /** Weight numerator of LSH plane p (0-based) at element j (1-based). */
  private def planeK(p: Int, j: Int): Long = lcg(p.toLong * Dims + (j - 1))

  /** Weight numerator of projection component p (1-based) at element j
    * (1-based): the [[planeK]] construction seed-offset by a prime, so
    * the projection matrix is distinct from the LSH planes. */
  private def projK(p: Int, j: Int): Long = lcg(7919L + (p - 1) * Dims + (j - 1))

  /** The oracle renders weight k as the literal `(k.0/2147483648.0 -
    * 0.5)`, which DuckDB evaluates to exactly this double. Spark would
    * read the same text as DECIMAL arithmetic, so the Spark side takes
    * the weights as double literals from here instead. */
  private def weight(k: Long): Double = k / 2147483648.0 - 0.5

  private def weightTerm(k: Long, embCol: String, j: Int): String =
    s"($k.0/2147483648.0 - 0.5) * CAST(${el(embCol, j, spark = false)} AS DOUBLE)"

  /** Spark: Σ_j w_j·x_j as one native `dot_product` against the weight
    * row. Its loop accumulates 0.0 + w₁x₁ + … left to right, the
    * oracle's left-associated chain, so results stay bit-identical —
    * and the whole-stage code stays one small loop per component. */
  private def weightedDot(emb: Column, ks: Seq[Long]): Column =
    call_function("dot_product", emb, typedLit(ks.map(weight)))

  /** Random-hyperplane LSH signature, DuckDB oracle text: `planes` sign
    * bits over the [[planeK]] weights. */
  def lshSig(embCol: String, planes: Int): String =
    (0 until planes).map { p =>
      val dotp = (1 to Dims).map(j => weightTerm(planeK(p, j), embCol, j))
        .mkString(" + ")
      s"(CASE WHEN ($dotp) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** [[lshSig]] for Spark, as BIGINT; 0 planes put every vector in
    * bucket 0. */
  def lshSigCol(emb: Column, planes: Int): Column =
    (0 until planes).map { p =>
      when(weightedDot(emb, (1 to Dims).map(planeK(p, _))) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduceOption(_ + _).getOrElse(lit(0L))

  /** Per-vector min / max over all dims as variadic least/greatest —
    * exact comparisons, so no fp-order concern. */
  def vMin(c: String, spark: Boolean, dims: Int = Dims): String =
    "least(" + (1 to dims).map(j =>
      s"CAST(${el(c, j, spark)} AS DOUBLE)").mkString(", ") + ")"
  def vMax(c: String, spark: Boolean, dims: Int = Dims): String =
    "greatest(" + (1 to dims).map(j =>
      s"CAST(${el(c, j, spark)} AS DOUBLE)").mkString(", ") + ")"

  /** int8-style quantization code for element j, referencing sibling
    * columns `vmin` and `scdiv`. `scdiv` is the GUARDED divisor the
    * caller must provide as `CASE WHEN sc = 0.0 THEN 1.0 ELSE sc END`
    * (sc = (vmax-vmin)/255): a constant vector has sc = 0 and dividing
    * by it yields 0/0 = NaN, whose ordering inside least/greatest the
    * two engines need not agree on. With the guard, x − vmin is 0 for
    * every element of a constant vector, so 0/1 pins the code to 0 —
    * and hoisting the single CASE into one column keeps the 64
    * per-element terms branch-free (a CASE per term blows the generated
    * processNext() past Janino's method limits and drops the whole
    * stage out of codegen). floor/least/greatest on integral-valued
    * doubles are exact on both engines. */
  private def qCode(c: String, j: Int, spark: Boolean): String =
    s"greatest(0.0, least(255.0, floor((CAST(${el(c, j, spark)} AS DOUBLE) - vmin) / scdiv)))"

  /** Σ_j code_j — integer-valued doubles, exact up to 255·dims. */
  def quantSum(c: String, spark: Boolean, dims: Int = Dims): String =
    (1 to dims).map(j => qCode(c, j, spark)).mkString(" + ")

  /** max_j |x_j − dequant(code_j)| — per-element arithmetic with the
    * identical op order on both engines, combined by exact greatest. */
  def quantMaxErr(c: String, spark: Boolean, dims: Int = Dims): String =
    "greatest(" + (1 to dims).map { j =>
      s"abs(CAST(${el(c, j, spark)} AS DOUBLE) - (vmin + (${qCode(c, j, spark)} + 0.5) * sc))"
    }.mkString(", ") + ")"

  /** Johnson–Lindenstrauss projection component p (1-based), DuckDB
    * oracle text: Σ_j w(p,j)·x_j over the [[projK]] weights,
    * left-associated for one fixed IEEE op order. */
  def projComp(embCol: String, p: Int): String =
    (1 to Dims).map(j => weightTerm(projK(p, j), embCol, j)).mkString(" + ")

  /** [[projComp]] for Spark. */
  def projCol(emb: Column, p: Int): Column =
    weightedDot(emb, (1 to Dims).map(projK(p, _)))
}

/** Similarity-search operators over the embeddings table: brute-force
  * cosine top-k (the baseline/verifier) and random-hyperplane-LSH
  * bucketed ANN (the scale path: at 100 TB the cross join is replaced by
  * a bucket-sharded join — each vector is scanned once for its signature
  * and candidates are confined to its bucket).
  */
object SimilarityOps {

  import EtlOps.t

  /** Structural cap for a query-/centroid-vector frame selected by a
    * unique-id predicate (`vec_id < k`, id-parity, …): the filter
    * already admits at most `k` rows, so `limit(k)` keeps every one of
    * them — a no-op on results that (a) makes the bound VISIBLE to the
    * planner and to the suite's broadcast-size invariant (Limit-bounded
    * subtree), and (b) hard-caps at runtime what a broadcast() of this
    * frame can ever ship to executors, even if the id predicate drifts. */
  private def capped(df: DataFrame, k: Int): DataFrame = df.limit(k)

  val CopyOffset = 1000000L
  val CorpusCap = 600 // keeps the all-pairs verifier quadratic-but-small

  /** embeddings as double arrays with precomputed norms. The norm (and
    * every cosine below) evaluates through the native [[graft.functions.DotProduct]]
    * expression — a codegen'd primitive loop with the same IEEE op order
    * as the oracle's generated 64-term chain. */
  def withNorm(df: DataFrame): DataFrame =
    df.selectExpr("vec_id", "emb", "sqrt(dot_product(emb, emb)) AS norm")

  def baseVectors(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
  }

  /** q33 corpus: capped embeddings ∪ scaled near-copies (cos = 1). */
  def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val e = baseVectors(s, dir).filter(col("vec_id") < CorpusCap)
    e.unionAll(e.selectExpr(s"vec_id + $CopyOffset AS vec_id",
      "transform(emb, x -> x * 1.001) AS emb"))
  }

  /** SPEC-ONLY exact all-pairs verifier for [[embeddingNearDup]] — the
    * same demotion as `DedupOps.ngramJaccardAllPairs` /
    * `simhashDedupAllPairs` / `GraphOps.knnEdgesBrute`: a corpus
    * cross-join is ground truth at fixture scale and a scale-killer at
    * any real one, so it lives ONLY behind the PipelineOpsSpec
    * banding-lossless gate and never on the query or bench surface. */
  def embeddingNearDupAllPairs(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(corpusNear(s, dir))
    val a = v.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = v.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .selectExpr("vec_a", "vec_b",
        "dot_product(emb_a, emb_b) / (norm_a * norm_b) AS cos")
      .filter(col("cos") >= 0.999)
      .selectExpr("vec_a", "vec_b", "round(cos, 6) AS cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** q33 — embedding-cosine near-dup pairs (cos ≥ 0.999), generated the
    * way 100 TB demands: each vector gets ONE random-hyperplane LSH
    * bucket (`lsh_sig`, the exact q35 signature), candidate pairs share
    * a bucket, and exact cosine is paid for candidates only. At
    * cos ≥ 0.999 the pair's angle is ≤ ~2.6°, so the chance any of the
    * 8 hyperplanes separates it is small — and the PipelineOpsSpec
    * banding-lossless gate pins (measured, not assumed) that the banded
    * result set EQUALS the retired all-pairs form
    * ([[embeddingNearDupAllPairs]], now spec-only) on the fixture.
    *
    * Parity: the oracle replays the same LCG-derived plane weights
    * (integer literals over 2³¹ — [[VecSql.lshSig]]) and the same
    * left-associated 64-term dot chains, so bucket ids and cosines are
    * bit-identical across engines.
    *
    * Scale (100 TB): one narrow scan computes signatures; the join is
    * bucket-equi (shuffle on bucket id, ~n²/2^planes candidate pairs
    * instead of n²/2; planes scale with corpus size). Near-dup mass
    * concentrated in one bucket is exact-dup mass q29 owns first —
    * the q118 hot-bucket-cap pattern slots in here unchanged if the
    * bucket histogram (q198) shows floods. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(corpusNear(s, dir))
      .selectExpr("vec_id", "emb", "norm", "lsh_sig(emb) AS bucket")
    val a = v.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("norm").as("norm_a"), col("bucket"))
    val b = v.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("norm").as("norm_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .selectExpr("vec_a", "vec_b",
        "dot_product(emb_a, emb_b) / (norm_a * norm_b) AS cos")
      .filter(col("cos") >= 0.999)
      .selectExpr("vec_a", "vec_b", "round(cos, 6) AS cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** q34 — brute-force cosine top-k (k=5) for query vectors vec_id < 8:
    * the exact baseline every ANN variant is measured against. The query
    * side is broadcast; candidates stream by partition. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir))
    val q = capped(v.filter(col("vec_id") < 8), 8)
      .select(col("vec_id").as("q_id"), col("emb").as("emb_q"),
        col("norm").as("norm_q"))
    val c = v.select(col("vec_id").as("cand_id"), col("emb").as("emb_c"),
      col("norm").as("norm_c"))
    val sims = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("cand_id"))
      .selectExpr("q_id", "cand_id",
        "dot_product(emb_q, emb_c) / (norm_q * norm_c) AS cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "cand_id", "CAST(rank AS BIGINT) AS rank", "round(cos, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  /** q43 — IVF-style ANN (rows-only check; the coarse-quantizer twin of
    * q35): bucket = nearest of K fixed coarse centroids (a deterministic
    * sample of the corpus — a trained KMeans would slot in identically);
    * queries probe their own centroid's inverted list only (nprobe=1),
    * paying exact cosine just within it. At 100 TB the assignment pass is
    * one broadcast(centroids) map over the corpus and each query touches
    * 1/K of the data. */
  val IvfCentroids = 16

  /** The IVF coarse assignment (vec → nearest fixed centroid, cent_id
    * tie-break) — shared by q43's searcher and q193's balance audit so
    * the index being audited is BY CONSTRUCTION the index being
    * searched. */
  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir))
    val cents = capped(v.filter(col("vec_id") < IvfCentroids), IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"),
        col("norm").as("cent_norm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    v.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "emb", "norm", "cent_id",
        "dot_product(emb, cent_emb) / (norm * cent_norm) AS cent_cos")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("emb"), col("norm"),
        col("cent_id").as("bucket"))
  }

  def ivfAnn(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssigned(s, dir)
    val q = capped(assigned.filter(col("vec_id") < 8), 8)
      .select(col("vec_id").as("q_id"), col("emb").as("emb_q"),
        col("norm").as("norm_q"), col("bucket"))
    val c = assigned.select(col("vec_id").as("cand_id"),
      col("emb").as("emb_c"), col("norm").as("norm_c"), col("bucket"))
    val sims = broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .selectExpr("q_id", "cand_id",
        "dot_product(emb_q, emb_c) / (norm_q * norm_c) AS cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .selectExpr("q_id", "cand_id", "CAST(rank AS BIGINT) AS rank",
        "round(cos, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  /** q54 — scalar int8 quantization of embeddings: per-vector min/max →
    * uniform 256-level codes → reconstruction error. The compression
    * primitive that makes 100 TB of fp32 vectors a 25 TB int8 store;
    * a narrow per-row pass (no shuffle), codegen'd end to end. Outputs
    * the code checksum (exact) and max reconstruction error (identical
    * fp op order to the oracle via the shared [[VecSql]] generators). */
  def quantizeVectors(s: SparkSession, dir: String): DataFrame =
    baseVectors(s, dir)
      .selectExpr("vec_id", "emb",
        s"${VecSql.vMin("emb", spark = true)} AS vmin",
        s"${VecSql.vMax("emb", spark = true)} AS vmax")
      .selectExpr("vec_id", "emb", "vmin", "(vmax - vmin) / 255.0 AS sc")
      .selectExpr("vec_id", "emb", "vmin", "sc",
        "CASE WHEN sc = 0.0 THEN 1.0 ELSE sc END AS scdiv")
      .selectExpr("vec_id",
        s"CAST(${VecSql.quantSum("emb", spark = true)} AS BIGINT) AS qsum",
        s"${VecSql.quantMaxErr("emb", spark = true)} AS max_err")
      .orderBy("vec_id")

  /** Reduced dimensionality for the q112 projection. 64→16 keeps the JL
    * distortion visible but bounded at the corpus size under test. */
  val ProjDims = 16

  /** q112 — Johnson–Lindenstrauss random projection: every embedding
    * maps to [[ProjDims]] components against a fixed LCG-seeded
    * projection matrix — the standard cheap dimensionality reduction
    * in front of ANN indexing and clustering (distance-preserving in
    * expectation, 4× smaller vectors, no training pass).
    *
    * A pure narrow map: the matrix is compile-time literals (nothing
    * broadcast, nothing learned), each output component is one
    * codegen'd `dot_product` against a literal weight row, and the scan
    * streams once — at any corpus size this runs at parquet-read speed
    * and the smaller vectors shrink every downstream shuffle 4×. */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val comps = (1 to ProjDims).map { p =>
      round(VecSql.projCol(col("emb"), p), 6).as(f"d$p%02d")
    }
    baseVectors(s, dir)
      .select(col("vec_id") +: comps: _*)
      .orderBy("vec_id")
  }

  /** q112 oracle — the projection as generated chains in the DuckDB
    * dialect. */
  def randomProjectionOracle: String = {
    val comps = (1 to ProjDims).map { p =>
      f"round(${VecSql.projComp("emb", p)}, 6) AS d$p%02d"
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $comps
       |FROM (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings) v
       |ORDER BY vec_id""".stripMargin
  }

  /** Cosine in the projected space over named component columns: a
    * [[ProjDims]]-term chain, one fixed op order. `a`/`b` are column
    * prefixes ("qd"/"d"). */
  private def projDot(a: String, b: String): String =
    (1 to ProjDims).map(p => f"$a$p%02d * $b$p%02d").mkString(" + ")

  /** q113 — ANN recall audit: for each q34 query, how many of the exact
    * cosine top-5 survive in the top-5 of the 16-dim projected space —
    * recall@5 of the q112 reduction, the number that decides whether
    * the cheap space is good enough to pre-filter retrieval. Evaluation
    * harnesses ship this next to the index itself; a recall regression
    * is how you catch a bad projection before production.
    *
    * Shape: both rankings broadcast their 8-query side and stream the
    * corpus once each; the overlap is an (8×5)-row join. The audit
    * costs two corpus scans regardless of scale. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val comps = (1 to ProjDims).map { p =>
      VecSql.projCol(col("emb"), p).as(f"d$p%02d")
    }
    val pnorm = "sqrt(" + (1 to ProjDims).map(p => f"d$p%02d * d$p%02d")
      .mkString(" + ") + ")"
    val proj = baseVectors(s, dir)
      .select(col("vec_id") +: comps: _*)
      .selectExpr("*", s"$pnorm AS pnorm")
    val q = capped(proj.filter(col("vec_id") < 8), 8)
      .select(col("vec_id").as("q_id") +:
        (1 to ProjDims).map(p => col(f"d$p%02d").as(f"qd$p%02d")) :+
        col("pnorm").as("qnorm"): _*)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("pcos").desc, col("cand_id"))
    val projTop = broadcast(q).crossJoin(proj.withColumnRenamed("vec_id", "cand_id"))
      .filter(col("q_id") =!= col("cand_id"))
      .selectExpr("q_id", "cand_id",
        s"(${projDot("qd", "d")}) / (qnorm * pnorm) AS pcos")
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= 5)
      .select("q_id", "cand_id")
    val exact = cosineTopK(s, dir).select("q_id", "cand_id")
    val overlap = exact.join(projTop, Seq("q_id", "cand_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    exact.select("q_id").distinct()
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("recall_at_5"))
      .orderBy("q_id")
  }

  /** q113 oracle — both rankings as generated CTEs. */
  def annRecallOracle: String = {
    val comps = (1 to ProjDims).map { p =>
      f"${VecSql.projComp("emb", p)} AS d$p%02d"
    }.mkString(",\n    ")
    val pnorm = "sqrt(" + (1 to ProjDims).map(p => f"d$p%02d * d$p%02d")
      .mkString(" + ") + ")"
    val pdot = (1 to ProjDims).map(p => f"q.d$p%02d * c.d$p%02d")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm FROM v),
       |s AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    (${VecSql.dot("q.emb", "c.emb", spark = false)}) / (q.norm * c.norm) AS cos
       |  FROM n q, n c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |ex AS (SELECT q_id, cand_id FROM
       |  (SELECT q_id, cand_id, row_number() OVER (
       |     PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk FROM s)
       |  WHERE rnk <= 5),
       |p AS (SELECT vec_id,
       |    $comps
       |  FROM v),
       |pn AS (SELECT *, $pnorm AS pnorm FROM p),
       |ps AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ($pdot) / (q.pnorm * c.pnorm) AS pcos
       |  FROM pn q, pn c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |pt AS (SELECT q_id, cand_id FROM
       |  (SELECT q_id, cand_id, row_number() OVER (
       |     PARTITION BY q_id ORDER BY pcos DESC, cand_id) AS rnk FROM ps)
       |  WHERE rnk <= 5),
       |ov AS (SELECT e.q_id, count(*) AS n_overlap
       |  FROM ex e JOIN pt ON pt.q_id = e.q_id AND pt.cand_id = e.cand_id
       |  GROUP BY e.q_id)
       |SELECT q.q_id, COALESCE(ov.n_overlap, 0) AS recall_at_5
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN ov ON ov.q_id = q.q_id
       |ORDER BY q.q_id""".stripMargin
  }

  val AnnPlanes: Int = graft.functions.LshSignature.DefaultPlanes // 256 buckets

  /** q35 — LSH-bucketed ANN: 8 random-hyperplane sign bits → bucket;
    * candidates share the query's bucket; exact cosine + top-3 inside the
    * bucket only. Misses vs q34 are the expected recall trade-off. */
  def lshAnn(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir))
      .selectExpr("vec_id", "emb", "norm", "lsh_sig(emb) AS bucket")
    val q = capped(v.filter(col("vec_id") < 8), 8)
      .select(col("vec_id").as("q_id"), col("emb").as("emb_q"),
        col("norm").as("norm_q"), col("bucket"))
    val c = v.select(col("vec_id").as("cand_id"), col("emb").as("emb_c"),
      col("norm").as("norm_c"), col("bucket"))
    val sims = broadcast(q).join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .selectExpr("q_id", "cand_id",
        "dot_product(emb_q, emb_c) / (norm_q * norm_c) AS cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .selectExpr("q_id", "cand_id", "CAST(rank AS BIGINT) AS rank", "round(cos, 6) AS cos_sim")
      .orderBy("q_id", "rank")
  }

  // --- q183: MaxSim late-interaction retrieval ---------------------------

  /** Query side: the vector sets of these labels. */
  val MaxSimQueryLabels = Seq(0, 1)

  /** q183 — ColBERT-style MaxSim late interaction (Khattab & Zaharia
    * 2020): a query is a SET of vectors, a document is a SET of
    * vectors, and the relevance score is Σ over query vectors of the
    * MAX cosine against the document's vectors. Here each label's
    * vector set plays one multi-vector document and two labels play
    * queries — the retrieval granularity between single-vector ANN
    * (q34/q35) and exact all-pairs (q33).
    *
    * Candidate generation is the q35 random-hyperplane LSH bucket
    * (`lsh_sig`, identical planes): a (query-vector, doc-vector) pair
    * is scored only when the two vectors share a bucket, so each
    * per-query-vector MAX ranges over that vector's bucket candidates
    * and a (q_label, d_label) row exists only when ≥1 query vector
    * found ≥1 candidate of that doc label. The max/sum MaxSim algebra
    * downstream is byte-identical to the exact form
    * ([[maxSimRetrievalExact]], now spec-only) — the PipelineOpsSpec
    * recall gate pins that top-1 retrieval per query survives banding
    * on the fixture.
    *
    * Parity: the oracle replays the SAME plane signature (integer
    * literals over 2³¹, [[VecSql.lshSig]]), bucket equi-join, fixed
    * 64-term cosine chain, exact MAX, and floor(cos·10⁹) BIGINT
    * freeze before the order-free score sum — candidate-set parity,
    * not just value parity.
    *
    * Scale (100 TB): no broadcast, no cross join — both sides of the
    * candidate join are corpus-scaled and shuffle on `bucket`
    * (candidate volume is Σ_b |Q_b|·|C_b|, bucket-local, not
    * |Q|·|corpus|); the two aggregations are map-combinable. This is
    * the q30/q33 demotion playbook applied to the last exact pair
    * stream that was on the production surface. */
  def maxSimRetrieval(s: SparkSession, dir: String): DataFrame = {
    val v = EtlOps.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "label", "emb",
        "sqrt(dot_product(emb, emb)) AS norm", "lsh_sig(emb) AS bucket")
    val q = v.filter(col("label").isin(MaxSimQueryLabels: _*))
      .select(col("label").as("q_label"), col("vec_id").as("q_vec"),
        col("emb").as("emb_q"), col("norm").as("norm_q"), col("bucket"))
    val pairs = q.join(
        v.select(col("label").as("d_label"), col("emb").as("emb_d"),
          col("norm").as("norm_d"), col("bucket")), Seq("bucket"))
      .selectExpr("q_label", "q_vec", "d_label",
        "dot_product(emb_q, emb_d) / (norm_q * norm_d) AS cos")
    val perVec = pairs.groupBy("q_label", "q_vec", "d_label")
      .agg(max(col("cos")).as("best"))
      .withColumn("best_fp", floor(col("best") * 1e9).cast("bigint"))
    val w = Window.partitionBy("q_label")
      .orderBy(col("score_fp").desc, col("d_label"))
    perVec.groupBy("q_label", "d_label")
      .agg(count(lit(1)).as("n_qvecs"), sum(col("best_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("q_label"), col("rank"), col("d_label"), col("n_qvecs"),
        col("score_fp"))
      .orderBy("q_label", "rank")
  }

  /** SPEC-ONLY exact all-pairs MaxSim verifier — the same demotion as
    * [[embeddingNearDupAllPairs]] / `DedupOps.ngramJaccardAllPairs`:
    * `broadcast(q).crossJoin(corpus)` where q is a corpus-derived label
    * subset is ground truth at fixture scale and a scale-killer at any
    * real corpus size (|Q|·|corpus| pair rows AND a corpus-scaled
    * broadcast). It lives ONLY behind the PipelineOpsSpec driver
    * reference + the q183 recall gate and never on the query or bench
    * surface. */
  def maxSimRetrievalExact(s: SparkSession, dir: String): DataFrame = {
    val v = EtlOps.t(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .selectExpr("vec_id", "label", "emb",
        "sqrt(dot_product(emb, emb)) AS norm")
    val q = v.filter(col("label").isin(MaxSimQueryLabels: _*))
      .select(col("label").as("q_label"), col("vec_id").as("q_vec"),
        col("emb").as("emb_q"), col("norm").as("norm_q"))
    val pairs = broadcast(q).crossJoin(
        v.select(col("label").as("d_label"), col("emb").as("emb_d"),
          col("norm").as("norm_d")))
      .selectExpr("q_label", "q_vec", "d_label",
        "dot_product(emb_q, emb_d) / (norm_q * norm_d) AS cos")
    val perVec = pairs.groupBy("q_label", "q_vec", "d_label")
      .agg(max(col("cos")).as("best"))
      .withColumn("best_fp", floor(col("best") * 1e9).cast("bigint"))
    val w = Window.partitionBy("q_label")
      .orderBy(col("score_fp").desc, col("d_label"))
    perVec.groupBy("q_label", "d_label")
      .agg(count(lit(1)).as("n_qvecs"), sum(col("best_fp")).as("score_fp"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("q_label"), col("rank"), col("d_label"), col("n_qvecs"),
        col("score_fp"))
      .orderBy("q_label", "rank")
  }

  def maxSimRetrievalOracle: String = {
    val labels = MaxSimQueryLabels.mkString(", ")
    s"""WITH v AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, label, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm,
       |    (${VecSql.lshSig("emb", AnnPlanes)}) AS bucket
       |  FROM v),
       |q AS (SELECT label AS q_label, vec_id AS q_vec, emb AS emb_q,
       |    norm AS norm_q, bucket FROM n WHERE label IN ($labels)),
       |p AS (SELECT q.q_label, q.q_vec, d.label AS d_label,
       |    (${VecSql.dot("q.emb_q", "d.emb", spark = false)}) /
       |      (q.norm_q * d.norm) AS cos
       |  FROM q JOIN n d ON q.bucket = d.bucket),
       |pv AS (SELECT q_label, q_vec, d_label,
       |    CAST(floor(max(cos) * 1e9) AS BIGINT) AS best_fp
       |  FROM p GROUP BY q_label, q_vec, d_label),
       |sc AS (SELECT q_label, d_label, count(*) AS n_qvecs,
       |    CAST(sum(best_fp) AS BIGINT) AS score_fp
       |  FROM pv GROUP BY q_label, d_label),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_label
       |    ORDER BY score_fp DESC, d_label) AS rnk FROM sc)
       |SELECT q_label, CAST(rnk AS BIGINT) AS "rank", d_label, n_qvecs,
       |  score_fp
       |FROM r ORDER BY q_label, rnk""".stripMargin
  }

  // --- q193: IVF inverted-list balance audit -----------------------------

  /** q193 — IVF index balance audit over q43's coarse assignment: per
    * inverted list its size, corpus share, size-over-mean and an
    * oversized flag (> 2× mean — the rebalance/re-train trigger), plus
    * the expected nprobe=1 probe cost Σ sz²/N (the candidates a query
    * drawn from the indexed distribution pays — THE number that says
    * whether a skewed list silently turned ANN back into brute force).
    * Shares [[ivfAssigned]] with q43, so it audits exactly the index
    * q43 searches.
    *
    * Parity: list sizes are integers; share / size-over-mean /
    * probe-cost are one division each over integer products (the
    * oversized flag is an exact integer comparison, no double
    * threshold).
    *
    * Scale (100 TB): the corpus pays the one broadcast-centroid
    * assignment pass it already pays to build the index; the audit
    * itself aggregates to |centroids| rows and a 1-row total. */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val lists = ivfAssigned(s, dir)
      .groupBy(col("bucket").as("cent_id"))
      .agg(count(lit(1)).as("list_size"))
    val tot = lists.agg(sum(col("list_size")).as("n_vecs"),
      sum(col("list_size") * col("list_size")).as("ss"),
      count(lit(1)).as("n_lists"))
    lists.crossJoin(broadcast(tot))
      .select(col("cent_id"), col("list_size"),
        round(col("list_size").cast("double") /
          col("n_vecs").cast("double"), 6).as("share"),
        round((col("list_size") * col("n_lists")).cast("double") /
          col("n_vecs").cast("double"), 6).as("size_over_mean"),
        (col("list_size") * col("n_lists") > col("n_vecs") * 2L)
          .as("oversized"),
        round(col("ss").cast("double") /
          col("n_vecs").cast("double"), 6).as("probe_cost_nprobe1"))
      .orderBy("cent_id")
  }

  def ivfBalanceOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm FROM v),
       |cents AS (SELECT vec_id AS cent_id, emb AS cent_emb,
       |    norm AS cent_norm
       |  FROM n WHERE vec_id < $IvfCentroids),
       |asg AS (SELECT vec_id, cent_id,
       |    (${VecSql.dot("emb", "cent_emb", spark = false)})
       |      / (norm * cent_norm) AS cent_cos
       |  FROM n, cents),
       |a AS (SELECT vec_id, cent_id AS bucket FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cent_cos DESC, cent_id) AS rn FROM asg)
       |  WHERE rn = 1),
       |lists AS (SELECT bucket AS cent_id, count(*) AS list_size
       |  FROM a GROUP BY bucket),
       |tot AS (SELECT CAST(sum(list_size) AS BIGINT) AS n_vecs,
       |    CAST(sum(list_size * list_size) AS BIGINT) AS ss,
       |    count(*) AS n_lists
       |  FROM lists)
       |SELECT l.cent_id, l.list_size,
       |  round(CAST(l.list_size AS DOUBLE) / CAST(t.n_vecs AS DOUBLE), 6)
       |    AS share,
       |  round(CAST(l.list_size * t.n_lists AS DOUBLE)
       |    / CAST(t.n_vecs AS DOUBLE), 6) AS size_over_mean,
       |  l.list_size * t.n_lists > t.n_vecs * 2 AS oversized,
       |  round(CAST(t.ss AS DOUBLE) / CAST(t.n_vecs AS DOUBLE), 6)
       |    AS probe_cost_nprobe1
       |FROM lists l CROSS JOIN tot t
       |ORDER BY l.cent_id""".stripMargin

  // --- q198: product-quantization distortion audit ------------------------

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims, [[PqK]]
    * codewords per subspace (codebook = the deterministic vec_id < K
    * sample, the q43/q79 stand-in for a trained codebook). */
  val PqM = 8
  val PqSubDim: Int = VecSql.Dims / PqM
  val PqK = 16

  /** q198 — product-quantization audit (Jégou et al. 2011): every
    * vector splits into [[PqM]] subvectors, each assigned its nearest
    * codeword by exact squared L2 (codeword-id tie-break); per
    * subspace the audit reports codebook USAGE (codes used, hottest
    * code's share — dead codewords and collapsed assignments are how
    * PQ indexes silently lose recall) and DISTORTION (mean/max squared
    * error). The measurement behind "is 32× compression safe for this
    * corpus" — q54's scalar-quantization twin at the subspace level.
    *
    * Parity: squared-L2 chains are generated left-associated in both
    * engines; assignments compare exact doubles; per-subspace error
    * means freeze each error to ×1e9 fixed point before the integer
    * sum; counts/shares are integers + one division.
    *
    * Scale (100 TB): the codebook is [[PqM]]·[[PqK]] rows broadcast;
    * each vector meets exactly [[PqK]] candidates per subspace
    * (corpus × M·K bounded, the q43 assignment shape); everything
    * after the argmin window is |M·K|-sized. */
  def pqAudit(s: SparkSession, dir: String): DataFrame = {
    val v = baseVectors(s, dir)
    def sub(c: String, m: Int) =
      s"slice($c, ${m * PqSubDim + 1}, $PqSubDim)"
    val subs = (0 until PqM).map(m =>
      struct(lit(m).as("m"), expr(sub("emb", m)).as("sv")))
    val vecSub = v.select(col("vec_id"), explode(array(subs: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    val cb = capped(v.filter(col("vec_id") < PqK), PqK)
      .select(col("vec_id").as("code"),
        explode(array(subs: _*)).as("s"))
      .select(col("code"), col("s.m").as("m"), col("s.sv").as("cv"))
    val sq = (1 to PqSubDim).map(j =>
      s"(element_at(sv, $j) - element_at(cv, $j)) * " +
        s"(element_at(sv, $j) - element_at(cv, $j))").mkString(" + ")
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("sqerr"), col("code"))
    val assigned = vecSub.join(broadcast(cb), Seq("m"))
      .withColumn("sqerr", expr(sq))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val perCode = assigned.groupBy("m", "code")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("sqerr") * lit(1e9)).cast("long")).as("err_fp"),
        max(col("sqerr")).as("mx"))
    perCode.groupBy("m")
      .agg(sum(col("n")).as("n_vecs"),
        count(lit(1)).as("n_codes_used"),
        max(col("n")).as("hot_n"),
        sum(col("err_fp")).as("err_fp"),
        max(col("mx")).as("max_sqerr"))
      .select(col("m").cast("bigint").as("subspace"), col("n_vecs"),
        col("n_codes_used"),
        round(col("hot_n").cast("double") /
          col("n_vecs").cast("double"), 6).as("top_code_share"),
        round(col("err_fp").cast("double") / lit(1e9) /
          col("n_vecs").cast("double"), 6).as("mean_sqerr"),
        round(col("max_sqerr"), 6).as("max_sqerr"))
      .orderBy("subspace")
  }

  def pqAuditOracle: String = {
    def sub(c: String, m: Int) =
      s"list_slice($c, ${m * PqSubDim + 1}, ${(m + 1) * PqSubDim})"
    val subSel = (0 until PqM).map(m =>
      s"SELECT vec_id, $m AS m, ${sub("emb", m)} AS sv FROM v")
      .mkString("\nUNION ALL ")
    val cbSel = (0 until PqM).map(m =>
      s"SELECT vec_id AS code, $m AS m, ${sub("emb", m)} AS cv " +
        s"FROM v WHERE vec_id < $PqK")
      .mkString("\nUNION ALL ")
    val sq = (1 to PqSubDim).map(j =>
      s"(sv[$j] - cv[$j]) * (sv[$j] - cv[$j])").mkString(" + ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |vs AS MATERIALIZED ($subSel),
       |cb AS MATERIALIZED ($cbSel),
       |cand AS (SELECT vs.vec_id, vs.m, cb.code, ($sq) AS sqerr
       |  FROM vs JOIN cb USING (m)),
       |assigned AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY sqerr, code) AS rn FROM cand)
       |  WHERE rn = 1),
       |per_code AS (SELECT m, code, count(*) AS n,
       |    CAST(sum(CAST(floor(sqerr * 1000000000.0) AS BIGINT))
       |      AS BIGINT) AS err_fp,
       |    max(sqerr) AS mx
       |  FROM assigned GROUP BY m, code)
       |SELECT CAST(m AS BIGINT) AS subspace,
       |  CAST(sum(n) AS BIGINT) AS n_vecs,
       |  count(*) AS n_codes_used,
       |  round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
       |    AS top_code_share,
       |  round(CAST(sum(err_fp) AS DOUBLE) / 1000000000.0
       |    / CAST(sum(n) AS DOUBLE), 6) AS mean_sqerr,
       |  round(max(mx), 6) AS max_sqerr
       |FROM per_code GROUP BY m ORDER BY subspace""".stripMargin
  }

  // --- q189: matryoshka (MRL) truncation audit ---------------------------

  /** Prefix widths audited (full width last — its row is the identity
    * check: overlap 1.0, gap 0). */
  val MrlDims = Seq(8, 16, 32, 64)
  val MrlQueries = 20L
  val MrlK = 10

  /** q189 — matryoshka truncation audit (Kusupati et al. 2022, MRL):
    * for each prefix width d, rank the corpus by cosine over only the
    * first d embedding dims and measure (a) top-k neighbor overlap
    * against the full-width ranking and (b) mean cosine distortion on
    * the full-width top-k pairs. THE go/no-go measurement for serving
    * truncated embeddings: it prices each cheaper width in recall lost.
    *
    * Parity: prefix dots ride the native [[graft.functions.DotProduct]]
    * ascending loop via `dot_product(slice(emb, 1, d), emb)` — the
    * identical IEEE chain the oracle generates term-by-term; ranks
    * compare exact doubles with vec_id tie-break; overlap counts are
    * integers; the gap freezes each |Δcos| to ×1e9 fixed point before
    * the order-free integer sum.
    *
    * Scale (100 TB): queries broadcast (the q34 shape); the corpus is
    * scanned ONCE — all four widths' cosines come out of one codegen'd
    * projection and fan out through a stack generator, so auditing more
    * widths adds columns, not scans; the only exchange is the
    * (dims, query)-keyed top-k window. Swap the exact pair stream for
    * q35/q43 candidates at production scale — the audit algebra is
    * unchanged. */
  def mrlAudit(s: SparkSession, dir: String): DataFrame = {
    val v = baseVectors(s, dir)
    def withNorms(df: DataFrame, pfx: String): DataFrame =
      df.select(col("vec_id") +: col("emb") +: MrlDims.map(d =>
        expr(s"sqrt(dot_product(slice(emb, 1, $d), emb))")
          .as(s"${pfx}n$d")): _*)
    val c = withNorms(v, "c")
      .select(col("vec_id").as("cid") +: col("emb").as("emb_c") +:
        MrlDims.map(d => col(s"cn$d")): _*)
    val q = withNorms(capped(v.filter(col("vec_id") < MrlQueries), MrlQueries.toInt), "q")
      .select(col("vec_id").as("qid") +: col("emb").as("emb_q") +:
        MrlDims.map(d => col(s"qn$d")): _*)
    val pairs = broadcast(q).crossJoin(c)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid") +: col("cid") +: MrlDims.map(d =>
        expr(s"dot_product(slice(emb_q, 1, $d), emb_c) / (qn$d * cn$d)")
          .as(s"cos$d")): _*)
    val stacked = pairs.select(col("qid"), col("cid"),
      expr(s"stack(${MrlDims.size}, " +
        MrlDims.map(d => s"$d, cos$d").mkString(", ") +
        ") AS (dims, cos)"))
    val w = Window.partitionBy(col("dims"), col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val ranked = stacked.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MrlK).persist()
    val full = ranked.filter(col("dims") === MrlDims.last)
      .select(col("qid"), col("cid"), col("cos").as("cos_full"))
    // n_queries comes from the RANKED frame: a query whose truncated
    // top-k shares nothing with full-width must still count in the
    // denominator (left join + coalesce picks up the zero-overlap case)
    val base = ranked.groupBy("dims")
      .agg(countDistinct(col("qid")).as("n_queries"))
    val ov = base.join(
      ranked.join(full.select("qid", "cid"), Seq("qid", "cid"))
        .groupBy("dims").agg(count(lit(1)).as("n_ov")),
      Seq("dims"), "left")
      .select(col("dims"), col("n_queries"),
        coalesce(col("n_ov"), lit(0L)).as("n_overlap"))
    val dist = full.join(stacked, Seq("qid", "cid"))
      .groupBy("dims")
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(abs(col("cos") - col("cos_full")) * lit(1e9))
          .cast("long")).as("gap_fp"))
    ov.join(dist, "dims")
      .select(col("dims").cast("bigint").as("dims"), col("n_queries"),
        lit(MrlK.toLong).as("k"), col("n_overlap"),
        round(col("n_overlap").cast("double") /
          (col("n_queries") * MrlK).cast("double"), 6).as("overlap_at_k"),
        round((col("gap_fp").cast("double") / lit(1e9)) /
          col("n_pairs").cast("double"), 6).as("mean_abs_cos_gap"))
      .orderBy("dims")
  }

  def mrlAuditOracle: String = {
    def norms(al: String) = MrlDims.map(d =>
      s"sqrt(${VecSql.dot("emb", "emb", spark = false, dims = d)}) AS n$d")
      .mkString(",\n    ")
    val cosCols = MrlDims.map(d =>
      s"(${VecSql.dot("q.emb", "c.emb", spark = false, dims = d)})" +
        s" / (q.n$d * c.n$d) AS cos$d").mkString(",\n    ")
    val stackSel = MrlDims.map(d =>
      s"SELECT qid, cid, $d AS dims, cos$d AS cos FROM pairs")
      .mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, emb,
       |    ${norms("n")}
       |  FROM v),
       |pairs AS MATERIALIZED (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    $cosCols
       |  FROM (SELECT * FROM n WHERE vec_id < $MrlQueries) q
       |    JOIN n c ON q.vec_id <> c.vec_id),
       |stacked AS MATERIALIZED ($stackSel),
       |ranked AS MATERIALIZED (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY dims, qid
       |      ORDER BY cos DESC, cid) AS rn FROM stacked)
       |  WHERE rn <= $MrlK),
       |full_k AS MATERIALIZED (SELECT qid, cid, cos AS cos_full
       |  FROM ranked WHERE dims = ${MrlDims.last}),
       |base AS (SELECT dims, count(DISTINCT qid) AS n_queries
       |  FROM ranked GROUP BY dims),
       |ov AS (SELECT b.dims, b.n_queries,
       |    CAST(coalesce(o.n_ov, 0) AS BIGINT) AS n_overlap
       |  FROM base b LEFT JOIN
       |    (SELECT r.dims, count(*) AS n_ov
       |     FROM ranked r JOIN full_k f USING (qid, cid)
       |     GROUP BY r.dims) o ON b.dims = o.dims),
       |dist AS (SELECT s.dims, count(*) AS n_pairs,
       |    CAST(sum(CAST(floor(abs(s.cos - f.cos_full) * 1000000000.0)
       |      AS BIGINT)) AS BIGINT) AS gap_fp
       |  FROM full_k f JOIN stacked s USING (qid, cid) GROUP BY s.dims)
       |SELECT CAST(ov.dims AS BIGINT) AS dims, ov.n_queries,
       |  CAST($MrlK AS BIGINT) AS k, ov.n_overlap,
       |  round(CAST(ov.n_overlap AS DOUBLE)
       |    / CAST(ov.n_queries * $MrlK AS DOUBLE), 6) AS overlap_at_k,
       |  round(CAST(d.gap_fp AS DOUBLE) / 1000000000.0
       |    / CAST(d.n_pairs AS DOUBLE), 6) AS mean_abs_cos_gap
       |FROM ov JOIN dist d ON ov.dims = d.dims
       |ORDER BY dims""".stripMargin
  }

  // --- q212: index-staleness recall audit ---------------------------------

  /** Ranking depth for the staleness recall comparison. */
  val StaleTopK = 5

  /** q212 — ANN index staleness audit: an IVF index whose coarse
    * centroids were trained on an OLD snapshot (even vec_ids only)
    * serves queries drawn from the NEW data (odd vec_ids); the audit
    * measures nprobe=1 recall@[[StaleTopK]] against exact brute force
    * for that stale index NEXT TO a freshly-trained index over the same
    * corpus — the number that decides WHEN to pay an index rebuild as
    * embeddings drift (the q161 incremental-dedup question asked of the
    * similarity index). Also reports rows probed, since a stale
    * quantizer can silently skew list sizes (q193's balance concern).
    *
    * Parity: every cosine goes through the native dot_product with the
    * oracle's generated op order; hits are exact integers; recall is
    * one double division. Ties break on cand_id everywhere.
    *
    * Scale (100 TB): assignment is one broadcast(centroids) map over
    * the corpus per index (the audit's 2× is the audit's price, not the
    * search path's); the exact ground truth is |queries|-bounded
    * (broadcast query set, never corpus²); recall aggregates
    * |queries|·k rows. */
  def indexStaleness(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir)).persist()
    val queries = capped(v.filter(col("vec_id") % 2 === 1 && col("vec_id") < 16), 16)
      .select(col("vec_id").as("q_id"), col("emb").as("emb_q"),
        col("norm").as("norm_q"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val exact = broadcast(queries)
      .crossJoin(v.select(col("vec_id").as("cand_id"),
        col("emb").as("emb_c"), col("norm").as("norm_c")))
      .filter(col("q_id") =!= col("cand_id"))
      .selectExpr("q_id", "cand_id",
        "dot_product(emb_q, emb_c) / (norm_q * norm_c) AS cos")
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= StaleTopK)
      .select("q_id", "cand_id")
      .persist()
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    def recallOf(cents: DataFrame, tag: String): DataFrame = {
      val c = broadcast(cents.select(col("vec_id").as("cent_id"),
        col("emb").as("cent_emb"), col("norm").as("cent_norm")))
      val wa = Window.partitionBy(col("vec_id"))
        .orderBy(col("cent_cos").desc, col("cent_id"))
      val assigned = v.crossJoin(c)
        .selectExpr("vec_id", "emb", "norm", "cent_id",
          "dot_product(emb, cent_emb) / (norm * cent_norm) AS cent_cos")
        .withColumn("rn", row_number().over(wa))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("emb"), col("norm"),
          col("cent_id").as("bucket"))
        .persist()
      val qb = assigned.join(queries,
          assigned("vec_id") === queries("q_id"))
        .select(col("q_id"), col("emb_q"), col("norm_q"), col("bucket"))
      val top = broadcast(qb)
        .join(assigned.select(col("vec_id").as("cand_id"),
          col("emb").as("emb_c"), col("norm").as("norm_c"),
          col("bucket")), Seq("bucket"))
        .filter(col("q_id") =!= col("cand_id"))
        .selectExpr("q_id", "cand_id",
          "dot_product(emb_q, emb_c) / (norm_q * norm_c) AS cos")
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= StaleTopK)
        .select("q_id", "cand_id")
      val hits = exact.join(top, Seq("q_id", "cand_id"))
        .agg(count(lit(1)).as("hits_total"))
      val probed = qb.select("bucket")
        .join(assigned.groupBy("bucket").agg(count(lit(1)).as("bs")),
          "bucket")
        .agg(sum(col("bs")).as("probed_rows"))
      hits.crossJoin(probed).crossJoin(nq)
        .select(lit(tag).as("index_age"), col("n_queries"),
          col("hits_total"),
          round(col("hits_total").cast("double") /
            (col("n_queries") * StaleTopK).cast("double"), 6).as("recall"),
          col("probed_rows"))
    }
    val fresh = recallOf(capped(v.filter(col("vec_id") < IvfCentroids), IvfCentroids), "fresh")
    val stale = recallOf(v.filter(col("vec_id") % 2 === 0 &&
      col("vec_id") < 2 * IvfCentroids), "stale")
    fresh.unionAll(stale).orderBy("index_age")
  }

  def indexStalenessOracle: String = {
    def indexCtes(t: String, centPred: String): String =
      s"""cents$t AS (SELECT vec_id AS cent_id, emb, norm FROM n
         |  WHERE $centPred),
         |asg$t AS (SELECT vec_id, emb, norm, cent_id AS bucket FROM (
         |  SELECT x.vec_id, x.emb, x.norm, c.cent_id,
         |    row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |      (${VecSql.dot("x.emb", "c.emb", spark = false)})
         |        / (x.norm * c.norm) DESC, c.cent_id) AS rn
         |  FROM n x, cents$t c) WHERE rn = 1),
         |qb$t AS (SELECT q.q_id, q.emb, q.norm, a.bucket
         |  FROM q JOIN asg$t a ON a.vec_id = q.q_id),
         |top$t AS (SELECT q_id, cand_id FROM (
         |  SELECT qb.q_id, a.vec_id AS cand_id,
         |    row_number() OVER (PARTITION BY qb.q_id ORDER BY
         |      (${VecSql.dot("qb.emb", "a.emb", spark = false)})
         |        / (qb.norm * a.norm) DESC, a.vec_id) AS rn
         |  FROM qb$t qb JOIN asg$t a USING (bucket)
         |  WHERE a.vec_id <> qb.q_id) WHERE rn <= $StaleTopK),
         |hits$t AS (SELECT count(*) AS hits_total
         |  FROM ex JOIN top$t USING (q_id, cand_id)),
         |probed$t AS (SELECT CAST(sum(bs) AS BIGINT) AS probed_rows
         |  FROM qb$t JOIN (SELECT bucket, count(*) AS bs FROM asg$t
         |    GROUP BY bucket) z USING (bucket))""".stripMargin
    def rowSql(t: String, tag: String): String =
      s"""SELECT '$tag' AS index_age,
         |  (SELECT count(*) FROM q) AS n_queries,
         |  CAST(hits_total AS BIGINT) AS hits_total,
         |  round(CAST(hits_total AS DOUBLE) /
         |    CAST((SELECT count(*) FROM q) * $StaleTopK AS DOUBLE), 6)
         |    AS recall,
         |  probed_rows
         |FROM hits$t, probed$t""".stripMargin
    s"""WITH v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm FROM v),
       |q AS (SELECT vec_id AS q_id, emb, norm FROM n
       |  WHERE vec_id % 2 = 1 AND vec_id < 16),
       |ex AS (SELECT q_id, cand_id FROM (
       |  SELECT q.q_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.q_id ORDER BY
       |      (${VecSql.dot("q.emb", "c.emb", spark = false)})
       |        / (q.norm * c.norm) DESC, c.vec_id) AS rn
       |  FROM q, n c WHERE c.vec_id <> q.q_id) WHERE rn <= $StaleTopK),
       |${indexCtes("f", s"vec_id < $IvfCentroids")},
       |${indexCtes("s",
        s"vec_id % 2 = 0 AND vec_id < ${2 * IvfCentroids}")}
       |${rowSql("f", "fresh")}
       |UNION ALL
       |${rowSql("s", "stale")}
       |ORDER BY index_age""".stripMargin
  }

  // --- q222: embedding-vector QA gate --------------------------------------

  /** Norm below this (and above zero) marks a degenerate low-norm
    * vector; exactly zero is its own failure class. */
  val LowNormTau = 0.5

  /** q222 — vector QA gate: the embedding-modality twin of the image
    * (q160) / audio (q165) / text (q27) quality gates, closing the
    * per-modality QA family. An embedding store rots in three
    * characteristic ways — all-zero vectors (failed encoder calls),
    * near-zero norms (truncated/overflowed writes), and exact
    * duplicate vectors (re-encoded content or a stuck producer) — and
    * each silently corrupts ANN search (zero vectors cosine-match
    * everything at 0/0, dups skew kNN neighborhoods). Per label:
    * counts of each failure class plus norm statistics. Degenerates
    * are PLANTED (zero / ×0.001 / verbatim copies of every 50th
    * vector — the fixture store is clean unit-norm, q149 pattern).
    *
    * Parity: norms go through the native dot_product (identical IEEE
    * chain to the oracle's generated 64-term sum); duplicate detection
    * groups on the DOUBLE ARRAY itself — no float→string round-trip,
    * whose formatting differs between engines; the mean norm freezes
    * per-vector to ×1e9 fixed point before the integer sum.
    *
    * Scale (100 TB): one narrow projection pass + a groupBy on the
    * vector value for dup detection (production would first collapse
    * to a 64-bit hash of the canonical binary encoding and only
    * group survivors; the direct array groupBy here is the
    * oracle-replayable form) + a |labels|-row rollup. */
  def vectorGate(s: SparkSession, dir: String): DataFrame = {
    val off = 1000000L
    val e = t(s, dir, "embeddings").selectExpr("vec_id", "label",
      "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
    val planted = e.filter(col("vec_id") % 50 === 0)
      .selectExpr(s"vec_id + $off AS vec_id", "label",
        "transform(emb, x -> CAST(0.0 AS DOUBLE)) AS emb")
      .unionAll(e.filter(col("vec_id") % 50 === 1)
        .selectExpr(s"vec_id + ${2 * off} AS vec_id", "label",
          "transform(emb, x -> x * 0.001) AS emb"))
      .unionAll(e.filter(col("vec_id") % 50 === 2)
        .selectExpr(s"vec_id + ${3 * off} AS vec_id", "label", "emb"))
    val c = e.unionAll(planted).persist()
    val dupCnt = c.groupBy("emb").agg(count(lit(1)).as("cnt"))
    c.selectExpr("vec_id", "label", "emb",
        "sqrt(dot_product(emb, emb)) AS norm")
      .join(dupCnt, "emb")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("norm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("norm") > 0.0 && col("norm") < LowNormTau, 1L)
          .otherwise(0L)).as("n_low_norm"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_vectors"),
        sum(floor(col("norm") * 1e9).cast("bigint")).as("norm_fp_sum"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .select(col("label"), col("n_vecs"), col("n_zero"),
        col("n_low_norm"), col("n_dup_vectors"),
        round(col("norm_fp_sum").cast("double") /
          (col("n_vecs").cast("double") * 1e9), 6).as("mean_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy("label")
  }

  def vectorGateOracle: String = {
    val off = 1000000L
    s"""WITH e0 AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |c AS (SELECT * FROM e0
       |  UNION ALL SELECT vec_id + $off, label,
       |    list_transform(emb, x -> CAST(0.0 AS DOUBLE))
       |  FROM e0 WHERE vec_id % 50 = 0
       |  UNION ALL SELECT vec_id + ${2 * off}, label,
       |    list_transform(emb, x -> x * 0.001)
       |  FROM e0 WHERE vec_id % 50 = 1
       |  UNION ALL SELECT vec_id + ${3 * off}, label, emb
       |  FROM e0 WHERE vec_id % 50 = 2),
       |g AS (SELECT emb, count(*) AS cnt FROM c GROUP BY emb),
       |n AS (SELECT c.label,
       |    sqrt(${VecSql.dot("c.emb", "c.emb", spark = false)}) AS norm,
       |    g.cnt
       |  FROM c JOIN g ON c.emb = g.emb)
       |SELECT label, count(*) AS n_vecs,
       |  CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_zero,
       |  CAST(sum(CASE WHEN norm > 0.0 AND norm < $LowNormTau THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_low_norm,
       |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_vectors,
       |  round(CAST(CAST(sum(CAST(floor(norm * 1e9) AS BIGINT))
       |    AS BIGINT) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e9), 6)
       |    AS mean_norm,
       |  round(min(norm), 6) AS min_norm,
       |  round(max(norm), 6) AS max_norm
       |FROM n GROUP BY label ORDER BY label""".stripMargin
  }

  // --- q279: embedding anisotropy audit ------------------------------------

  /** Planted-cone stream size and label. */
  val ConeN = 200
  val ConeLabel = 99

  /** Anisotropy verdict: mean pairwise cosine above this reads
    * "embeddings collapse toward one direction" (Ethayarajh 2019's
    * contextual-embedding finding; healthy spread sits near 0). */
  val ConeTau = 0.5

  /** q279 — embedding anisotropy audit per label: the mean pairwise
    * cosine of unit-normalized vectors (Ethayarajh's anisotropy — a
    * collapsed embedding space scores near 1, an isotropic one near 0)
    * plus each label centroid's alignment with the GLOBAL mean
    * direction. The two numbers separate the failure modes a similarity
    * index cares about: "this label's vectors all point one way"
    * (within-label collapse — LSH buckets overload, q35/q43 recall
    * craters) vs "every label points the SAME way" (global cone — the
    * whole index degenerates). A planted cone stream (near-parallel
    * synthetic vectors, label [[ConeLabel]]) must read ≈ 1 on both.
    *
    * The quadratic pairwise metric never materializes a pair (the q270
    * discipline): Σ_{i≠k} uᵢ·uₖ = ‖Σu‖² − Σ‖u‖², so the whole statistic
    * collapses to 64 per-label coordinate sums. Coordinates freeze to
    * ×1e6 BIGINTs per row (exact integer sums, order-free); the final
    * cosines/ratios are fixed-order double chains over the ≤11-row
    * aggregate.
    *
    * Scale (100 TB): one corpus scan into a 64-column map-combined
    * aggregate (11 groups); everything after runs on an 11×64 frame. */
  def embeddingAnisotropy(s: SparkSession, dir: String): DataFrame = {
    def realEl(j: Int) = s"CAST(element_at(embedding, $j) AS DOUBLE)"
    def coneEl(j: Int) =
      s"(1.0 + 0.001 * CAST((vec_id * $j) % 7 AS DOUBLE))"
    // the norm is HOISTED into its own column: referenced 64 times,
    // CollapseProject keeps it materialized once, so the projection
    // stays ~64 nodes instead of 64 inlined copies of the 128-op norm
    // chain (which blew the generated method past Janino's limit and
    // dropped the stage out of codegen — 89 s vs sub-second at sf0.1)
    def normOf(el: Int => String): String =
      "sqrt(" + (1 to VecSql.Dims).map(j =>
        s"${el(j)} * ${el(j)}").mkString(" + ") + ")"
    def uq(el: Int => String): Seq[String] =
      (1 to VecSql.Dims).map(j =>
        f"CAST(floor(${el(j)} / nrm * 1e6) AS BIGINT) AS u$j%02d")
    val e = t(s, dir, "embeddings")
    val real = e
      .selectExpr("label", s"${normOf(realEl)} AS nrm", "embedding")
      .selectExpr(("label" +: uq(realEl)): _*)
    val cone = e.filter(col("vec_id") < ConeN)
      .selectExpr(s"$ConeLabel AS label", s"${normOf(coneEl)} AS nrm",
        "vec_id")
      .selectExpr(("label" +: uq(coneEl)): _*)
    val rowq2 = (1 to VecSql.Dims).map(j => f"u$j%02d * u$j%02d")
      .mkString(" + ")
    val rows = real.unionAll(cone)
      .selectExpr(("label" +: (rowq2 + " AS q2") +:
        (1 to VecSql.Dims).map(j => f"u$j%02d")): _*)
    val aggs = sum(expr("CAST(q2 AS DECIMAL(38,0))")).as("uu") +:
      count(lit(1L)).as("n") +:
      (1 to VecSql.Dims).map(j => sum(col(f"u$j%02d")).as(f"s$j%02d"))
    val byLabel = rows.groupBy("label").agg(aggs.head, aggs.tail: _*)
    // Σ_j sj² as DECIMAL (exact), plus the label-centroid double chain
    val ssq = (1 to VecSql.Dims).map(j =>
      f"CAST(s$j%02d AS DECIMAL(38,0)) * s$j%02d").mkString(" + ")
    val wAll = Window.partitionBy(lit(1))
    val withG = byLabel
      .withColumn("ssq", expr(ssq))
      .withColumns((1 to VecSql.Dims).map(j =>
        f"g$j%02d" -> sum(col(f"s$j%02d")).over(wAll)).toMap)
    val dotSG = (1 to VecSql.Dims).map(j =>
      f"CAST(s$j%02d AS DOUBLE) * CAST(g$j%02d AS DOUBLE)")
      .mkString(" + ")
    val normG = "sqrt(" + (1 to VecSql.Dims).map(j =>
      f"CAST(g$j%02d AS DOUBLE) * CAST(g$j%02d AS DOUBLE)")
      .mkString(" + ") + ")"
    withG.selectExpr("label", "n",
        "round((CAST(ssq AS DOUBLE) - CAST(uu AS DOUBLE)) " +
          "/ (CAST(n AS DOUBLE) * n - n) / 1e12, 4) AS anisotropy",
        s"round(($dotSG) / (sqrt(CAST(ssq AS DOUBLE)) * $normG), 4) " +
          "AS centroid_align",
        "(CAST(ssq AS DOUBLE) - CAST(uu AS DOUBLE)) " +
          s"/ (CAST(n AS DOUBLE) * n - n) / 1e12 > $ConeTau " +
          "AS collapsed")
      .orderBy("label")
  }

  def embeddingAnisotropyOracle: String = {
    def realEl(j: Int) = s"CAST(embedding[$j] AS DOUBLE)"
    def coneEl(j: Int) =
      s"(1.0 + 0.001 * CAST((vec_id * $j) % 7 AS DOUBLE))"
    def uq(el: Int => String): String = {
      val norm = "sqrt(" + (1 to VecSql.Dims).map(j =>
        s"${el(j)} * ${el(j)}").mkString(" + ") + ")"
      (1 to VecSql.Dims).map(j =>
        f"CAST(floor(${el(j)} / $norm * 1e6) AS BIGINT) AS u$j%02d")
        .mkString(", ")
    }
    val rowq2 = (1 to VecSql.Dims).map(j => f"u$j%02d * u$j%02d")
      .mkString(" + ")
    val ulist = (1 to VecSql.Dims).map(j => f"u$j%02d").mkString(", ")
    val sums = (1 to VecSql.Dims).map(j =>
      f"CAST(sum(u$j%02d) AS BIGINT) AS s$j%02d").mkString(", ")
    val ssq = (1 to VecSql.Dims).map(j =>
      f"CAST(s$j%02d AS HUGEINT) * s$j%02d").mkString(" + ")
    val gsums = (1 to VecSql.Dims).map(j =>
      f"CAST(sum(s$j%02d) OVER () AS HUGEINT) AS g$j%02d")
      .mkString(", ")
    val dotSG = (1 to VecSql.Dims).map(j =>
      f"CAST(s$j%02d AS DOUBLE) * CAST(g$j%02d AS DOUBLE)")
      .mkString(" + ")
    val normG = "sqrt(" + (1 to VecSql.Dims).map(j =>
      f"CAST(g$j%02d AS DOUBLE) * CAST(g$j%02d AS DOUBLE)")
      .mkString(" + ") + ")"
    s"""WITH rows0 AS (
       |  SELECT label, ${uq(realEl)} FROM embeddings
       |  UNION ALL
       |  SELECT $ConeLabel AS label, ${uq(coneEl)}
       |  FROM embeddings WHERE vec_id < $ConeN),
       |rows2 AS (SELECT label, $rowq2 AS q2, $ulist FROM rows0),
       |ag AS (SELECT label, CAST(sum(q2) AS HUGEINT) AS uu,
       |    count(*) AS n, $sums
       |  FROM rows2 GROUP BY label),
       |wg AS (SELECT *, $ssq AS ssq, $gsums FROM ag)
       |SELECT label, n,
       |  round((CAST(ssq AS DOUBLE) - CAST(uu AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * n - n) / 1e12, 4) AS anisotropy,
       |  round(($dotSG) / (sqrt(CAST(ssq AS DOUBLE)) * $normG), 4)
       |    AS centroid_align,
       |  (CAST(ssq AS DOUBLE) - CAST(uu AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * n - n) / 1e12 > $ConeTau
       |    AS collapsed
       |FROM wg ORDER BY label""".stripMargin
  }

  // --- q281: cluster-quality audit (silhouette + Davies–Bouldin) ----------

  /** q281 — cluster-quality audit over the q43 IVF partition: per-list
    * centroid silhouette (s = (cos₁−cos₂)/(1−cos₂) from each point's
    * best and second-best centroid cosines — the O(n·c) simplified
    * silhouette, not the O(n²) pairwise one) and the Davies–Bouldin
    * ratio (worst (σᵢ+σⱼ)/d(cᵢ,cⱼ) over rival lists). q193 audits the
    * IVF index's SIZE balance; this audits its GEOMETRY — low
    * silhouette / high DB on a list means its vectors straddle centroid
    * boundaries, which is exactly where nprobe=1 recall (q113) dies.
    * Together they say whether to retrain centroids before scaling the
    * index out.
    *
    * Exactness: cosines evaluate through the same fixed-order chains as
    * q43 (native dot_product ≡ the oracle's generated 64-term chain);
    * per-point silhouette and own-distance freeze to ×1e9 BIGINTs, so
    * list means are exact integer ratios; the DB max runs over exact
    * double comparisons on the c² pair frame.
    *
    * Scale (100 TB): one corpus scan against broadcast centroids (the
    * q43 shape), collapsed map-side to |c| lists; everything after is
    * c²-frame algebra (c = [[IvfCentroids]], metadata-sized). */
  def clusterQuality(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir))
    val cents = capped(v.filter(col("vec_id") < IvfCentroids), IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"),
        col("norm").as("cent_norm"))
    val asg = v.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "cent_id",
        "dot_product(emb, cent_emb) / (norm * cent_norm) AS cent_cos")
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cent_cos").desc, col("cent_id"))
    val top = asg.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("vec_id").agg(
        max(when(col("rn") === 1, col("cent_id"))).as("bucket"),
        max(when(col("rn") === 1, col("cent_cos"))).as("cos1"),
        max(when(col("rn") === 2, col("cent_cos"))).as("cos2"))
    val pts = top.selectExpr("bucket",
      "CAST(floor((1.0 - cos1) * 1e9) AS BIGINT) AS a_fp",
      "CASE WHEN 1.0 - cos2 <= 0.0 THEN 0 ELSE " +
        "CAST(floor((cos1 - cos2) / (1.0 - cos2) * 1e9) AS BIGINT) " +
        "END AS s_fp")
    val clus = pts.groupBy("bucket").agg(count(lit(1L)).as("n"),
        sum(col("s_fp")).as("ss_fp"), sum(col("a_fp")).as("sa_fp"))
      .withColumn("sigma", expr("CAST(sa_fp AS DOUBLE) / n / 1e9"))
      // bucket ranges over the IvfCentroids centroid ids — limit() makes
      // the K-bound structural for the broadcasts below
      .limit(IvfCentroids)
    val cd = cents.select(col("cent_id").as("ci"),
        col("cent_emb").as("ea"), col("cent_norm").as("na"))
      .crossJoin(cents.select(col("cent_id").as("cj"),
        col("cent_emb").as("eb"), col("cent_norm").as("nb")))
      .filter(col("ci") =!= col("cj"))
      .selectExpr("ci", "cj",
        "1.0 - dot_product(ea, eb) / (na * nb) AS d")
    val si = clus.select(col("bucket").as("ci"),
      col("sigma").as("sig_i"))
    val sj = clus.select(col("bucket").as("cj"),
      col("sigma").as("sig_j"))
    val db = cd.join(broadcast(si), "ci").join(broadcast(sj), "cj")
      .withColumn("r", expr("(sig_i + sig_j) / d"))
      .groupBy("ci").agg(max(col("r")).as("db_i"))
    clus.join(broadcast(db), clus("bucket") === db("ci"), "left")
      .selectExpr("bucket", "n",
        "round(CAST(ss_fp AS DOUBLE) / n / 1e9, 6) AS silhouette",
        "round(sigma, 6) AS mean_own_dist",
        "round(db_i, 6) AS davies_bouldin")
      .orderBy("bucket")
  }

  def clusterQualityOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm
       |  FROM v),
       |cents AS (SELECT vec_id AS cent_id, emb AS cent_emb,
       |    norm AS cent_norm
       |  FROM n WHERE vec_id < $IvfCentroids),
       |asg AS (SELECT vec_id, cent_id,
       |    (${VecSql.dot("emb", "cent_emb", spark = false)})
       |      / (norm * cent_norm) AS cent_cos
       |  FROM n, cents),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cent_cos DESC, cent_id) AS rn FROM asg),
       |top AS (SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cent_id END) AS bucket,
       |    max(CASE WHEN rn = 1 THEN cent_cos END) AS cos1,
       |    max(CASE WHEN rn = 2 THEN cent_cos END) AS cos2
       |  FROM rk WHERE rn <= 2 GROUP BY vec_id),
       |pts AS (SELECT bucket,
       |    CAST(floor((1.0 - cos1) * 1e9) AS BIGINT) AS a_fp,
       |    CASE WHEN 1.0 - cos2 <= 0.0 THEN 0 ELSE
       |      CAST(floor((cos1 - cos2) / (1.0 - cos2) * 1e9) AS BIGINT)
       |      END AS s_fp
       |  FROM top),
       |clus AS (SELECT bucket, count(*) AS n,
       |    CAST(sum(s_fp) AS BIGINT) AS ss_fp,
       |    CAST(sum(a_fp) AS BIGINT) AS sa_fp,
       |    CAST(sum(a_fp) AS DOUBLE) / count(*) / 1e9 AS sigma
       |  FROM pts GROUP BY bucket),
       |cd AS (SELECT a.cent_id AS ci, b.cent_id AS cj,
       |    1.0 - (${VecSql.dot("a.cent_emb", "b.cent_emb",
                     spark = false)})
       |      / (a.cent_norm * b.cent_norm) AS d
       |  FROM cents a, cents b WHERE a.cent_id <> b.cent_id),
       |db AS (SELECT cd.ci, max((si.sigma + sj.sigma) / cd.d) AS db_i
       |  FROM cd JOIN clus si ON si.bucket = cd.ci
       |  JOIN clus sj ON sj.bucket = cd.cj
       |  GROUP BY cd.ci)
       |SELECT c.bucket, c.n,
       |  round(CAST(c.ss_fp AS DOUBLE) / c.n / 1e9, 6) AS silhouette,
       |  round(c.sigma, 6) AS mean_own_dist,
       |  round(db.db_i, 6) AS davies_bouldin
       |FROM clus c LEFT JOIN db ON db.ci = c.bucket
       |ORDER BY c.bucket""".stripMargin

  // --- q290: greedy k-center coreset ---------------------------------------

  /** Coreset size (greedy 2-approximation steps) and the fixed seed. */
  val KcK = 6
  val KcSeed = 0L

  /** q290 — greedy k-center coreset (Gonzalez's farthest-point
    * traversal): iteratively add the point FARTHEST from the current
    * center set — the classic 2-approximation to the k-center optimum
    * and the standard coverage-maximizing coreset for "pick K examples
    * that span the embedding space" (diverse eval panels, seed sets for
    * active learning, codebook init that beats random). Output: each
    * center with the covering distance that selected it (monotone
    * NONINCREASING — the greedy invariant the spec pins) and the final
    * coverage radius, i.e. the worst-case distance any point must
    * travel to its nearest center.
    *
    * Shape: K−1 rounds of corpus × broadcast-centers min-distance, each
    * ending in an orderBy-limit(1) argmax (one-row collect — the q274
    * metadata boundary), plus one final radius pass. K scans total, no
    * pair join; at 1000 executors each round is a map-side broadcast
    * probe + a top-1 reduction.
    *
    * Exactness: distances evaluate through the native dot_product ≡
    * the oracle's fixed 64-term chains; min/argmax are exact double
    * comparisons with a vec_id tie-break; the oracle UNROLLS the same
    * K−1 argmax steps as chained CTEs (selection is data-dependent, so
    * the recursion is made literal instead of recursive). */
  def kcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir)).persist()
    var centers = Vector((1, KcSeed, Option.empty[Double]))
    for (step <- 2 to KcK) {
      val ids = centers.map(_._2)
      val cents = v.filter(col("vec_id").isInCollection(ids))
        .select(col("vec_id").as("cid"), col("emb").as("ce"),
          col("norm").as("cn"))
      val far = v.crossJoin(broadcast(cents))
        .selectExpr("vec_id",
          "1.0 - dot_product(emb, ce) / (norm * cn) AS dist")
        .groupBy("vec_id").agg(min(col("dist")).as("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .collect()(0)
      centers = centers :+ ((step, far.getLong(0),
        Some(far.getDouble(1))))
    }
    val ids = centers.map(_._2)
    val cents = v.filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("cid"), col("emb").as("ce"),
        col("norm").as("cn"))
    val radius = v.crossJoin(broadcast(cents))
      .selectExpr("vec_id",
        "1.0 - dot_product(emb, ce) / (norm * cn) AS dist")
      .groupBy("vec_id").agg(min(col("dist")).as("mind"))
      .agg(max(col("mind")).as("r")).collect()(0).getDouble(0)
    import s.implicits._
    centers.map { case (step, cid, selD) =>
      (step, cid, selD.map(d => math.floor(d * 1e9) / 1e9), radius)
    }.toDF("step", "center_vec_id", "sel_dist_raw", "final_raw")
      .selectExpr("CAST(step AS BIGINT) AS step", "center_vec_id",
        "round(sel_dist_raw, 6) AS sel_dist",
        "round(final_raw, 6) AS final_radius")
      .orderBy("step")
  }

  def kcenterCoresetOracle: String = {
    val dist = s"1.0 - (${VecSql.dot("v.emb", "e.emb", spark = false)})" +
      " / (v.norm * e.norm)"
    def stepCtes(k: Int): String =
      s"""m$k AS (SELECT v.vec_id, min($dist) AS mind
         |  FROM n v, c${k - 1} ck JOIN n e ON e.vec_id = ck.cid
         |  GROUP BY v.vec_id),
         |p$k AS (SELECT vec_id, mind FROM (
         |    SELECT *, row_number() OVER (ORDER BY mind DESC, vec_id)
         |      AS rn FROM m$k) WHERE rn = 1),
         |c$k AS (SELECT cid, step, sel FROM c${k - 1}
         |  UNION ALL SELECT vec_id, $k, mind FROM p$k)""".stripMargin
    val steps = (2 to KcK).map(stepCtes).mkString(",\n")
    s"""WITH v0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm
       |  FROM v0),
       |c1 AS (SELECT CAST($KcSeed AS BIGINT) AS cid, 1 AS step,
       |  CAST(NULL AS DOUBLE) AS sel),
       |$steps,
       |fin AS (SELECT max(mind) AS r FROM (
       |  SELECT v.vec_id, min($dist) AS mind
       |  FROM n v, c$KcK ck JOIN n e ON e.vec_id = ck.cid
       |  GROUP BY v.vec_id))
       |SELECT CAST(step AS BIGINT) AS step, cid AS center_vec_id,
       |  round(CASE WHEN sel IS NULL THEN NULL
       |    ELSE floor(sel * 1e9) / 1e9 END, 6) AS sel_dist,
       |  round(fin.r, 6) AS final_radius
       |FROM c$KcK, fin ORDER BY step""".stripMargin
  }

  // --- q299: IVF nprobe recall/cost curve -----------------------------------

  /** Probe depths swept and the top-k the recall is measured at. */
  val NprobeMax = 4
  val NprobeK = 3

  /** q299 — IVF nprobe recall/cost curve: q43 runs the index at
    * nprobe=1 and q113 audits one operating point; this sweeps
    * nprobe ∈ 1..[[NprobeMax]] and reports recall@[[NprobeK]] against
    * the exact top-k TOGETHER with the scanned-candidate share — the
    * actual tuning artifact an ANN deployment publishes (FAISS-style
    * recall/QPS tables). Recall must be nondecreasing in nprobe and
    * the cost share ≈ nprobe/nlist; where the curve flattens is the
    * deployment's operating point.
    *
    * Shape: each probe row (query × centroid rank rc) EXPLODES into
    * the depths it serves (np ≥ rc), so the sweep joins the bucketed
    * corpus once, not once per depth; exact top-k is the q34 broadcast
    * baseline.
    *
    * Exactness: cosines are the shared fixed-order chains; ranks
    * tie-break on ids; recall/cost are integer ratios. */
  def nprobeCurve(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm(baseVectors(s, dir)).persist()
    val cents = capped(v.filter(col("vec_id") < IvfCentroids), IvfCentroids)
      .select(col("vec_id").as("cid"), col("emb").as("ce"),
        col("norm").as("cn"))
    val asg = v.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "emb", "norm", "cid",
        "dot_product(emb, ce) / (norm * cn) AS ccos")
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("ccos").desc, col("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("cand_id"), col("emb").as("emb_c"),
        col("norm").as("norm_c"), col("cid").as("bucket"))
    val qf = capped(v.filter(col("vec_id") < 8), 8)
      .select(col("vec_id").as("q_id"), col("emb").as("emb_q"),
        col("norm").as("norm_q"))
    val exact = v.crossJoin(broadcast(qf))
      .filter(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id AS cand_id",
        "dot_product(emb, emb_q) / (norm * norm_q) AS cos")
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= NprobeK)
      .select("q_id", "cand_id")
    val qc = qf.crossJoin(broadcast(cents))
      .selectExpr("q_id", "cid",
        "dot_product(emb_q, ce) / (norm_q * cn) AS qcos")
      .withColumn("rc", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("qcos").desc, col("cid"))))
      .filter(col("rc") <= NprobeMax)
      .selectExpr("q_id", "cid AS bucket",
        s"explode(sequence(rc, $NprobeMax)) AS np")
    val cand = qc.join(asg, "bucket")
      .filter(col("cand_id") =!= col("q_id"))
      .join(broadcast(qf), "q_id")
      .selectExpr("np", "q_id", "cand_id",
        "dot_product(emb_c, emb_q) / (norm_c * norm_q) AS cos")
    val top = cand.withColumn("rk", row_number().over(
        Window.partitionBy("np", "q_id")
          .orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rk") <= NprobeK)
    val hits = top.join(exact, Seq("q_id", "cand_id"), "left_semi")
      .groupBy("np").agg(count(lit(1L)).as("n_hits"))
    val costs = cand.groupBy("np").agg(count(lit(1L)).as("n_cand"))
    val nCorpus = v.count()
    hits.join(costs, "np")
      .selectExpr("CAST(np AS BIGINT) AS nprobe",
        "CAST(8 AS BIGINT) AS n_queries",
        s"round(CAST(n_hits AS DOUBLE) / (8.0 * $NprobeK), 4) " +
          "AS recall_at_k",
        "round(CAST(n_cand AS DOUBLE) / 8.0, 1) AS avg_candidates",
        s"round(CAST(n_cand AS DOUBLE) / (8.0 * $nCorpus), 4) " +
          "AS scan_share")
      .orderBy("nprobe")
  }

  def nprobeCurveOracle: String = {
    val nv = "(SELECT count(*) FROM n)"
    s"""WITH v0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${VecSql.dot("emb", "emb", spark = false)}) AS norm
       |  FROM v0),
       |cents AS (SELECT vec_id AS cid, emb AS ce, norm AS cn
       |  FROM n WHERE vec_id < $IvfCentroids),
       |asg0 AS (SELECT v.vec_id, v.emb, v.norm, c.cid,
       |    (${VecSql.dot("v.emb", "c.ce", spark = false)})
       |      / (v.norm * c.cn) AS ccos
       |  FROM n v, cents c),
       |asg AS (SELECT vec_id AS cand_id, emb AS emb_c,
       |    norm AS norm_c, cid AS bucket FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS rn FROM asg0)
       |  WHERE rn = 1),
       |qf AS (SELECT vec_id AS q_id, emb AS emb_q, norm AS norm_q
       |  FROM n WHERE vec_id < 8),
       |ex0 AS (SELECT q.q_id, v.vec_id AS cand_id,
       |    (${VecSql.dot("v.emb", "q.emb_q", spark = false)})
       |      / (v.norm * q.norm_q) AS cos
       |  FROM n v, qf q WHERE v.vec_id <> q.q_id),
       |exact AS (SELECT q_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, cand_id) AS rk FROM ex0)
       |  WHERE rk <= $NprobeK),
       |qc0 AS (SELECT q.q_id, c.cid,
       |    (${VecSql.dot("q.emb_q", "c.ce", spark = false)})
       |      / (q.norm_q * c.cn) AS qcos
       |  FROM qf q, cents c),
       |qc AS (SELECT q_id, cid AS bucket,
       |    unnest(range(rc, $NprobeMax + 1)) AS np FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, cid) AS rc FROM qc0)
       |  WHERE rc <= $NprobeMax),
       |cand AS (SELECT qc.np, qc.q_id, a.cand_id,
       |    (${VecSql.dot("a.emb_c", "q.emb_q", spark = false)})
       |      / (a.norm_c * q.norm_q) AS cos
       |  FROM qc JOIN asg a ON a.bucket = qc.bucket
       |  JOIN qf q ON q.q_id = qc.q_id
       |  WHERE a.cand_id <> qc.q_id),
       |top AS (SELECT np, q_id, cand_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY np, q_id
       |      ORDER BY cos DESC, cand_id) AS rk FROM cand)
       |  WHERE rk <= $NprobeK),
       |hits AS (SELECT np, count(*) AS n_hits FROM top
       |  WHERE EXISTS (SELECT 1 FROM exact e
       |    WHERE e.q_id = top.q_id AND e.cand_id = top.cand_id)
       |  GROUP BY np),
       |costs AS (SELECT np, count(*) AS n_cand FROM cand GROUP BY np)
       |SELECT CAST(hits.np AS BIGINT) AS nprobe,
       |  CAST(8 AS BIGINT) AS n_queries,
       |  round(CAST(n_hits AS DOUBLE) / (8.0 * $NprobeK), 4)
       |    AS recall_at_k,
       |  round(CAST(n_cand AS DOUBLE) / 8.0, 1) AS avg_candidates,
       |  round(CAST(n_cand AS DOUBLE) / (8.0 * $nv), 4) AS scan_share
       |FROM hits JOIN costs ON costs.np = hits.np
       |ORDER BY nprobe""".stripMargin
  }

  // --- q308: distributed PCA power iteration ------------------------------

  /** Fixed power-iteration count (unrolled in the oracle). */
  val PcaIters = 3

  /** Fixed-point scale for the order-independent row sums — the q70
    * PageRank discipline. */
  private val PcaFp = "1000000000000.0"

  /** q308 — top principal component of the embedding corpus by
    * distributed power iteration: v ← normalize(Xᵀ(X·v)) for
    * [[PcaIters]] rounds from the uniform start v₀ = 1/√64 — the
    * whitening/anisotropy primitive (q279 measures the mean direction;
    * THIS finds the dominant variance axis any ABTT/whitening pass
    * removes first, with its Rayleigh eigenvalue and share of total
    * second moment).
    *
    * The distributed shape is the one that matters: the d×d Gram
    * matrix is never materialized — each pass computes y_r = x_r·v
    * inside one codegen'd projection ([[graft.functions.DotProduct]])
    * and reduces Σ_r y_r·x_r to d values, so a pass moves d BIGINTs
    * per task, not d² anything.
    *
    * Parity: y_r is the native dot-product chain (same IEEE order as
    * the oracle's generated 64-term chain); each per-row contribution
    * x_rd·y_r quantizes to floor(·10¹²) BIGINT before the cross-row
    * sum (exact, order-independent — the q70 discipline); the norm and
    * the element-wise normalize run in one fixed op order over the
    * 64-element vector on both engines. Results are bit-identical with
    * no tolerance.
    *
    * Scale (100 TB): [[PcaIters]]+1 corpus passes (power iteration IS
    * k passes), each a narrow map + one 64-row map-side-combined
    * aggregate; the iterate v broadcasts at 512 bytes. Nothing else
    * moves. */
  /** One quantized power-iteration update v ← normalize(Xᵀ(Xv)) —
    * shared by q308 and q318's deflated pass (which subtracts the PC1
    * component from the raw update before normalizing). */
  private def pcaRawUpdate(corpus: DataFrame, vF: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(vF))
      .selectExpr("emb", "dot_product(emb, v) AS y")
      .select(col("y"), posexplode(col("emb")))
      .selectExpr("pos + 1 AS p",
        s"CAST(floor(col * y * $PcaFp) AS BIGINT) AS q")
      .groupBy("p").agg(sum("q").as("ufp"))

  private def pcaNormalize(uF: DataFrame): DataFrame =
    uF.selectExpr("u", "sqrt(dot_product(u, u)) AS nrm")
      .selectExpr("transform(u, x -> x / nrm) AS v", "nrm")

  private[graft] def pcaStep(corpus: DataFrame, vF: DataFrame): DataFrame =
    pcaNormalize(
      pcaRawUpdate(corpus, vF)
        .agg(expr("array_sort(collect_list(struct(p, ufp))) AS pairs"))
        .selectExpr(
          s"transform(pairs, t -> CAST(t.ufp AS DOUBLE) / $PcaFp) AS u"))

  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val corpus = baseVectors(s, dir).persist()
    val v0 = s.range(1).selectExpr(
      s"transform(sequence(1, ${VecSql.Dims}), i -> CAST(0.125 AS DOUBLE)) AS v")
    val last = (1 to PcaIters).foldLeft(v0)((f, _) =>
      pcaStep(corpus, f.select("v")))
    val trace = corpus.selectExpr(
      s"CAST(floor(dot_product(emb, emb) * $PcaFp) AS BIGINT) AS q")
      .agg(sum("q").as("tfp"))
    last.crossJoin(broadcast(trace))
      .select(col("nrm"), col("tfp"), posexplode(col("v")))
      .selectExpr("CAST(pos + 1 AS BIGINT) AS dim",
        "round(col, 6) AS loading", "round(nrm, 4) AS eigval",
        s"round(nrm / (CAST(tfp AS DOUBLE) / $PcaFp), 6)" +
          " AS explained_share")
      .orderBy("dim")
  }

  def pcaPowerOracle: String = {
    val n = VecSql.Dims
    def d(a: String, b: String) = VecSql.dot(a, b, spark = false, n)
    val iters = (1 to PcaIters).map { k =>
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""y$k AS (SELECT e.emb, (${d("e.emb", s"$pv.v")}) AS y
         |  FROM e, $pv),
         |c$k AS (SELECT dd.p,
         |    CAST(floor(y$k.emb[dd.p] * y$k.y * $PcaFp) AS BIGINT) AS q
         |  FROM y$k, dd),
         |ufp$k AS (SELECT p, CAST(sum(q) AS BIGINT) AS ufp
         |  FROM c$k GROUP BY p),
         |u$k AS (SELECT list(CAST(ufp AS DOUBLE) / $PcaFp ORDER BY p)
         |    AS u FROM ufp$k),
         |n$k AS (SELECT u, sqrt(${d("u", "u")}) AS nrm FROM u$k),
         |v$k AS (SELECT list_transform(u, x -> x / nrm) AS v, nrm
         |  FROM n$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |dd AS (SELECT unnest(range(1, ${n + 1})) AS p),
       |v0 AS (SELECT list_transform(range(1, ${n + 1}),
       |    i -> CAST(0.125 AS DOUBLE)) AS v),
       |$iters,
       |tr AS (SELECT CAST(sum(CAST(floor((${d("emb", "emb")})
       |    * $PcaFp) AS BIGINT)) AS BIGINT) AS tfp FROM e)
       |SELECT CAST(dd.p AS BIGINT) AS dim,
       |  round(v$PcaIters.v[dd.p], 6) AS loading,
       |  round(v$PcaIters.nrm, 4) AS eigval,
       |  round(v$PcaIters.nrm / (CAST(tr.tfp AS DOUBLE) / $PcaFp), 6)
       |    AS explained_share
       |FROM dd, v$PcaIters, tr ORDER BY dim""".stripMargin
  }

  // --- q318: second principal component by deflation -----------------------

  /** q318 — top-2 PCA by deflated power iteration: after q308 finds
    * (v₁, λ̂₁), the second direction runs the SAME iteration with an
    * exact Gram–Schmidt step — each raw update u = Xᵀ(Xw) is
    * orthogonalized to u − (v₁ᵀu)·v₁ before normalizing — so the Gram
    * matrix is still never materialized and the second component adds
    * only its own k corpus passes. The start vector alternates ±1/8
    * (deterministic, not parallel to v₁). On this near-degenerate
    * synthetic spectrum (λ₁/λ₂ ≈ 0.98) k power steps rank the two
    * directions only approximately, so the output pair is ORDERED by
    * Rayleigh estimate at the end; v₁ᵀv₂ is reported and is exactly
    * the Gram–Schmidt residual (≈ 0 to rounding) — the built-in
    * correctness audit.
    *
    * Parity: the q308 discipline verbatim — per-row contributions
    * floor to ×10¹² BIGINT; the orthogonalization is per-dim
    * fixed-order double algebra over broadcast (v₁, v₁ᵀu) scalars;
    * both engines run the identical unrolled arithmetic, including
    * the final ordering CASE.
    *
    * Scale (100 TB): 2·[[PcaIters]]+1 corpus passes total; every
    * correction is 64-element algebra off broadcast scalars. */
  def pcaDeflation(s: SparkSession, dir: String): DataFrame = {
    val corpus = baseVectors(s, dir).persist()
    val v0 = s.range(1).selectExpr(
      s"transform(sequence(1, ${VecSql.Dims}), i -> CAST(0.125 AS DOUBLE)) AS v")
    val pc1 = (1 to PcaIters).foldLeft(v0)((f, _) =>
      pcaStep(corpus, f.select("v"))).persist() // (v, nrm) = (v₁, λ̂₁)
    val w0 = s.range(1).selectExpr(
      s"transform(sequence(1, ${VecSql.Dims}), " +
        "i -> CAST(CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END" +
        " AS DOUBLE)) AS v")
    // Gram–Schmidt step: u ← Xᵀ(Xw); w' ← normalize(u − (v₁ᵀu)·v₁) —
    // exact per-step orthogonalization against the fixed v₁
    def deflatedStep(wF: DataFrame): DataFrame = {
      val u = pcaRawUpdate(corpus, wF)
        .agg(expr("array_sort(collect_list(struct(p, ufp))) AS pairs"))
        .selectExpr(
          s"transform(pairs, t -> CAST(t.ufp AS DOUBLE) / $PcaFp) AS u")
      val scal = u.crossJoin(broadcast(pc1.select(col("v").as("v1"))))
        .selectExpr("u", "v1", "dot_product(v1, u) AS proj")
      pcaNormalize(scal
        .selectExpr("zip_with(u, v1, (a, b) -> a - proj * b) AS u"))
    }
    val pc2 = (1 to PcaIters).foldLeft(w0)((f, _) =>
      deflatedStep(f.select("v")))
    // order the pair by Rayleigh estimate — on a near-degenerate
    // spectrum the complement's estimate can edge out the primary's
    val both = pc1.selectExpr("v AS va", "nrm AS la")
      .crossJoin(pc2.selectExpr("v AS vb", "nrm AS lb"))
      .selectExpr(
        "CASE WHEN lb > la THEN vb ELSE va END AS v1",
        "CASE WHEN lb > la THEN va ELSE vb END AS v2",
        "CASE WHEN lb > la THEN lb ELSE la END AS lam1",
        "CASE WHEN lb > la THEN la ELSE lb END AS lam2",
        "dot_product(va, vb) AS ortho")
    both.select(col("lam1"), col("lam2"), col("ortho"),
        posexplode(col("v1")).as(Seq("p0", "l1")), col("v2"))
      .selectExpr("CAST(p0 + 1 AS BIGINT) AS dim",
        "round(l1, 6) AS pc1_loading",
        "round(element_at(v2, CAST(p0 + 1 AS INT)), 6) AS pc2_loading",
        "round(lam1, 4) AS eigval1", "round(lam2, 4) AS eigval2",
        "round(abs(ortho), 6) AS orthogonality")
      .orderBy("dim")
  }

  def pcaDeflationOracle: String = {
    val n = VecSql.Dims
    def d(a: String, b: String) = VecSql.dot(a, b, spark = false, n)
    val pc1Iters = (1 to PcaIters).map { k =>
      val pv = if (k == 1) "v0" else s"v${k - 1}"
      s"""y$k AS (SELECT e.emb, (${d("e.emb", s"$pv.v")}) AS y
         |  FROM e, $pv),
         |c$k AS (SELECT dd.p,
         |    CAST(floor(y$k.emb[dd.p] * y$k.y * $PcaFp) AS BIGINT) AS q
         |  FROM y$k, dd),
         |ufp$k AS (SELECT p, CAST(sum(q) AS BIGINT) AS ufp
         |  FROM c$k GROUP BY p),
         |u$k AS (SELECT list(CAST(ufp AS DOUBLE) / $PcaFp ORDER BY p)
         |    AS u FROM ufp$k),
         |n$k AS (SELECT u, sqrt(${d("u", "u")}) AS nrm FROM u$k),
         |v$k AS (SELECT list_transform(u, x -> x / nrm) AS v, nrm
         |  FROM n$k)""".stripMargin
    }.mkString(",\n")
    val pc2Iters = (1 to PcaIters).map { k =>
      val pw = if (k == 1) "w0" else s"w${k - 1}"
      s"""yw$k AS (SELECT e.emb, (${d("e.emb", s"$pw.v")}) AS y
         |  FROM e, $pw),
         |cw$k AS (SELECT dd.p,
         |    CAST(floor(yw$k.emb[dd.p] * yw$k.y * $PcaFp) AS BIGINT) AS q
         |  FROM yw$k, dd),
         |ufw$k AS (SELECT p, CAST(sum(q) AS BIGINT) AS ufp
         |  FROM cw$k GROUP BY p),
         |uraw$k AS (SELECT list(CAST(ufp AS DOUBLE) / $PcaFp
         |    ORDER BY p) AS u FROM ufw$k),
         |sc$k AS (SELECT uraw$k.u, v$PcaIters.v AS v1,
         |    (${d(s"v$PcaIters.v", s"uraw$k.u")}) AS proj
         |  FROM uraw$k, v$PcaIters),
         |ud$k AS (SELECT dd.p, sc$k.u[dd.p] - sc$k.proj
         |    * sc$k.v1[dd.p] AS ud
         |  FROM dd, sc$k),
         |uw$k AS (SELECT list(ud ORDER BY p) AS u FROM ud$k),
         |nw$k AS (SELECT u, sqrt(${d("u", "u")}) AS nrm FROM uw$k),
         |w$k AS (SELECT list_transform(u, x -> x / nrm) AS v, nrm
         |  FROM nw$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |dd AS (SELECT unnest(range(1, ${n + 1})) AS p),
       |v0 AS (SELECT list_transform(range(1, ${n + 1}),
       |    i -> CAST(0.125 AS DOUBLE)) AS v),
       |w0 AS (SELECT list_transform(range(1, ${n + 1}),
       |    i -> CAST(CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END
       |      AS DOUBLE)) AS v),
       |$pc1Iters,
       |$pc2Iters,
       |fin AS (SELECT
       |    CASE WHEN w$PcaIters.nrm > v$PcaIters.nrm
       |      THEN w$PcaIters.v ELSE v$PcaIters.v END AS v1,
       |    CASE WHEN w$PcaIters.nrm > v$PcaIters.nrm
       |      THEN v$PcaIters.v ELSE w$PcaIters.v END AS v2,
       |    CASE WHEN w$PcaIters.nrm > v$PcaIters.nrm
       |      THEN w$PcaIters.nrm ELSE v$PcaIters.nrm END AS lam1,
       |    CASE WHEN w$PcaIters.nrm > v$PcaIters.nrm
       |      THEN v$PcaIters.nrm ELSE w$PcaIters.nrm END AS lam2,
       |    (${d(s"v$PcaIters.v", s"w$PcaIters.v")}) AS ortho
       |  FROM v$PcaIters, w$PcaIters)
       |SELECT CAST(dd.p AS BIGINT) AS dim,
       |  round(fin.v1[dd.p], 6) AS pc1_loading,
       |  round(fin.v2[dd.p], 6) AS pc2_loading,
       |  round(fin.lam1, 4) AS eigval1,
       |  round(fin.lam2, 4) AS eigval2,
       |  round(abs(fin.ortho), 6) AS orthogonality
       |FROM dd, fin ORDER BY dim""".stripMargin
  }

  // --- q353: random-Fourier-feature kernel approximation audit -------------

  /** RFF feature budgets swept — prefix subsets of one feature table,
    * so one build serves all three (the q327 prefix pattern). */
  val RffDGrid: Seq[Int] = Seq(8, 32, 64)
  val RffMaxD = 64

  /** 2π and √2 (σ for γ = 1: w ~ N(0, 2γI)) as exact double literals
    * shared by both engines. */
  val RffTwoPi = "6.283185307179586"
  val RffSigma = "1.4142135623730951"

  /** q353 — random Fourier features kernel audit (Rahimi & Recht 2007,
    * "Random Features for Large-Scale Kernel Machines"): the RBF
    * kernel k(x,y) = exp(−‖x−y‖²) is approximated by
    * (2/D)·Σᵢ cos(wᵢ·x + bᵢ)·cos(wᵢ·y + bᵢ) with wᵢ ~ N(0, 2I) — the
    * trick that turns kernel methods into LINEAR feature maps, i.e.
    * the difference between O(n²) kernel matrices and one feature
    * pass at corpus scale. Over consecutive embedding pairs the audit
    * prices the estimator at D ∈ {8, 32, 64} features: mean estimate,
    * mean exact kernel, and mean absolute error — the features-vs-
    * fidelity menu that decides D before anyone builds the index.
    *
    * Determinism/parity: the "random" draws are md5-derived uniforms
    * pushed through Box–Muller, and EVERY stage freezes — w and b to
    * ×1e6 BIGINT at generation (so 1-ulp libm differences cannot leak
    * downstream), per-dimension dot terms to integer products, the
    * cos features to ×1e6, and the per-pair products are exact
    * integer sums (D·(1e6)² ≤ 6.4e13 — no overflow). One double
    * division chain per output cell.
    *
    * Scale (100 TB): the w table is D×dims METADATA joined to the
    * exploded vectors (one pass builds all features); everything
    * downstream is feature-keyed aggregation — no pairwise kernel
    * matrix exists anywhere except the |pairs|-sized audit itself. */
  def rffKernelAudit(s: SparkSession, dir: String): DataFrame = {
    val dims = VecSql.Dims
    val wfp = s.range(RffMaxD.toLong).selectExpr("id AS i")
      .crossJoin(s.range(1, dims + 1L).selectExpr("id AS d"))
      .selectExpr("i", "d",
        s"""CAST(floor((sqrt(-2.0 * ln(((${fp60sql("'w:' || CAST(i AS STRING) || ':' || CAST(d AS STRING)", spark = true)}) % 1000000 + 0.5) / 1000000.0))
           | * cos($RffTwoPi * ((${fp60sql("'v:' || CAST(i AS STRING) || ':' || CAST(d AS STRING)", spark = true)}) % 1000000 + 0.5) / 1000000.0))
           | * $RffSigma * 1e6) AS BIGINT) AS w_fp""".stripMargin
          .replaceAll("\n", " "))
    val bfp = s.range(RffMaxD.toLong).selectExpr("id AS i",
      s"CAST(floor((((${fp60sql("'b:' || CAST(id AS STRING)", spark = true)}) % 1000000 + 0.5) / 1000000.0) * $RffTwoPi * 1e6) AS BIGINT) AS b_fp")
    val vx = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .selectExpr("vec_id", "CAST(pos + 1 AS BIGINT) AS d",
        "CAST(col AS DOUBLE) AS xd").persist()
    val feats = vx.join(broadcast(wfp), Seq("d"))
      .selectExpr("vec_id", "i",
        "CAST(floor(CAST(w_fp AS DOUBLE) * xd) AS BIGINT) AS term")
      .groupBy("vec_id", "i").agg(sum(col("term")).as("dot_fp"))
      .join(broadcast(bfp), Seq("i"))
      .selectExpr("vec_id", "i",
        "CAST(floor(cos(CAST(dot_fp + b_fp AS DOUBLE) / 1e6) * 1e6)" +
          " AS BIGINT) AS z_fp")
    val prods = feats.as("fa")
      .join(feats.as("fb"),
        col("fb.vec_id") === col("fa.vec_id") + 1 &&
          col("fa.i") === col("fb.i"))
      .select(col("fa.vec_id").as("vec_id"), col("fa.i").as("i"),
        col("fa.z_fp").as("za"), col("fb.z_fp").as("zb"))
      .groupBy("vec_id").agg(
        sum(when(col("i") < 8, col("za") * col("zb")).otherwise(0L))
          .as("s8"),
        sum(when(col("i") < 32, col("za") * col("zb")).otherwise(0L))
          .as("s32"),
        sum(col("za") * col("zb")).as("s64"))
    val exact = vx.as("va")
      .join(vx.as("vb"),
        col("vb.vec_id") === col("va.vec_id") + 1 &&
          col("va.d") === col("vb.d"))
      .select(col("va.vec_id").as("vec_id"),
        col("va.xd").as("xa"), col("vb.xd").as("xb"))
      .groupBy("vec_id").agg(
        sum(expr("CAST(floor(((xa - xb) * (xa - xb)) * 1e9) AS BIGINT)"))
          .as("d2_fp"))
      .selectExpr("vec_id",
        "CAST(floor(exp(-(CAST(d2_fp AS DOUBLE) / 1e9)) * 1e6)" +
          " AS BIGINT) AS kex6")
    val grid = RffDGrid.map(dd =>
      s"struct(CAST($dd AS BIGINT) AS d_feats, s$dd AS sd)")
    prods.join(exact, Seq("vec_id"))
      .select(col("kex6"),
        explode(expr(s"array(${grid.mkString(", ")})")).as("g"))
      .selectExpr("g.d_feats AS d_feats", "kex6",
        "CAST(floor(((2.0 * g.sd) / (g.d_feats * 1e12)) * 1e6) AS BIGINT)" +
          " AS est6")
      .groupBy("d_feats").agg(count(lit(1)).as("n_pairs"),
        sum(col("est6")).as("se"), sum(col("kex6")).as("sk"),
        sum(abs(col("est6") - col("kex6"))).as("serr"))
      .selectExpr("d_feats", "n_pairs",
        "round((CAST(se AS DOUBLE) / 1e6) / n_pairs, 6) AS mean_est",
        "round((CAST(sk AS DOUBLE) / 1e6) / n_pairs, 6) AS mean_exact",
        "round((CAST(serr AS DOUBLE) / 1e6) / n_pairs, 6)" +
          " AS mean_abs_err")
      .orderBy("d_feats")
  }

  /** md5-fp60 spelled for either engine (the q175 hash convention;
    * the Spark side uses the registered native `md5_fp60`). */
  private def fp60sql(arg: String, spark: Boolean): String =
    if (spark) s"md5_fp60($arg)"
    else s"CAST('0x' || substr(md5($arg), 1, 15) AS BIGINT)"

  def rffKernelAuditOracle: String = {
    def u(pfx: String, i: String, d: String) =
      s"((${fp60sql(s"'$pfx:' || CAST($i AS VARCHAR) || ':' || CAST($d AS VARCHAR)", spark = false)}) % 1000000 + 0.5) / 1000000.0"
    val grid = RffDGrid.map(dd => s"($dd)").mkString(", ")
    val sCase = s"CASE g.df WHEN 8 THEN p.s8 WHEN 32 THEN p.s32" +
      s" ELSE p.s64 END"
    s"""WITH wfp AS (SELECT i.i, d.d,
       |    CAST(floor((sqrt(-2.0 * ln(${u("w", "i.i", "d.d")}))
       |      * cos($RffTwoPi * ${u("v", "i.i", "d.d")}))
       |      * $RffSigma * 1e6) AS BIGINT) AS w_fp
       |  FROM (SELECT unnest(range(0, $RffMaxD)) AS i) i,
       |       (SELECT unnest(range(1, ${VecSql.Dims + 1})) AS d) d),
       |bfp AS (SELECT i,
       |    CAST(floor(((${fp60sql("'b:' || CAST(i AS VARCHAR)", spark = false)}) % 1000000 + 0.5) / 1000000.0
       |      * $RffTwoPi * 1e6) AS BIGINT) AS b_fp
       |  FROM (SELECT unnest(range(0, $RffMaxD)) AS i)),
       |vx AS (SELECT vec_id, d.d,
       |    CAST(embedding[d.d] AS DOUBLE) AS xd
       |  FROM embeddings,
       |       (SELECT unnest(range(1, ${VecSql.Dims + 1})) AS d) d),
       |feats AS (SELECT vec_id, i,
       |    CAST(floor(cos(CAST(dot_fp + b_fp AS DOUBLE) / 1e6) * 1e6)
       |      AS BIGINT) AS z_fp
       |  FROM (SELECT vx.vec_id, wfp.i,
       |      CAST(sum(CAST(floor(CAST(w_fp AS DOUBLE) * xd) AS BIGINT))
       |        AS BIGINT) AS dot_fp
       |    FROM vx JOIN wfp ON vx.d = wfp.d
       |    GROUP BY vx.vec_id, wfp.i) q JOIN bfp USING (i)),
       |prods AS (SELECT a.vec_id,
       |    CAST(sum(CASE WHEN a.i < 8 THEN a.z_fp * b.z_fp ELSE 0 END)
       |      AS BIGINT) AS s8,
       |    CAST(sum(CASE WHEN a.i < 32 THEN a.z_fp * b.z_fp ELSE 0 END)
       |      AS BIGINT) AS s32,
       |    CAST(sum(a.z_fp * b.z_fp) AS BIGINT) AS s64
       |  FROM feats a JOIN feats b
       |    ON b.vec_id = a.vec_id + 1 AND a.i = b.i
       |  GROUP BY a.vec_id),
       |ex AS (SELECT a.vec_id,
       |    CAST(floor(exp(-(CAST(sum(CAST(floor(((a.xd - b.xd)
       |      * (a.xd - b.xd)) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9))
       |      * 1e6) AS BIGINT) AS kex6
       |  FROM vx a JOIN vx b ON b.vec_id = a.vec_id + 1 AND a.d = b.d
       |  GROUP BY a.vec_id),
       |g(df) AS (VALUES $grid),
       |r AS (SELECT CAST(g.df AS BIGINT) AS d_feats, ex.kex6,
       |    CAST(floor(((2.0 * ($sCase)) / (g.df * 1e12)) * 1e6)
       |      AS BIGINT) AS est6
       |  FROM prods p JOIN ex USING (vec_id) CROSS JOIN g)
       |SELECT d_feats, count(*) AS n_pairs,
       |  round((CAST(sum(est6) AS DOUBLE) / 1e6) / count(*), 6)
       |    AS mean_est,
       |  round((CAST(sum(kex6) AS DOUBLE) / 1e6) / count(*), 6)
       |    AS mean_exact,
       |  round((CAST(sum(abs(est6 - kex6)) AS DOUBLE) / 1e6) / count(*),
       |    6) AS mean_abs_err
       |FROM r GROUP BY d_feats ORDER BY d_feats""".stripMargin
  }
}
