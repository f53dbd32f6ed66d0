package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-engineering operators for ML training data: the hashing
  * trick (fixed-width sparse bag-of-words without a vocabulary) and
  * corpus-level boilerplate removal (the cleanup step between raw
  * crawl text and tokenization).
  *
  * Both are single-shuffle shapes over the token/segment key — the
  * vocabulary-free property of feature hashing is precisely what makes
  * it 100 TB-friendly (no global dictionary build, no broadcast of an
  * unbounded vocab; every executor maps tokens to buckets independently
  * and only the (doc, bucket) partials shuffle).
  */
object MlPrepOps {

  import EtlOps.t
  import TextOps.md5Fingerprint60

  // --- q84: feature hashing ---------------------------------------------

  /** Hashed feature width. 64 buckets keeps the verifier output compact;
    * the operator is width-agnostic (the production value would be 2¹⁸+). */
  val HashDim = 64

  /** q84 — hashing-trick featurization: every token maps to bucket
    * h(tok) mod [[HashDim]] with a ±1 sign drawn from the next hash bit
    * (the signed sum cancels collision bias — Weinberger et al. 2009,
    * public "feature hashing" construction). Output is the sparse
    * per-document vector as (doc_id, bucket, cnt, signed_cnt) rows.
    *
    * One explode + one (doc, bucket) aggregate with map-side partials;
    * no vocabulary pass, no dictionary broadcast — the property that
    * lets this run on an unbounded corpus. */
  def featureHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("fp", md5Fingerprint60(col("tok")))
      .withColumn("bucket", col("fp") % HashDim)
      .withColumn("sign", (expr(s"fp div $HashDim") % 2) * 2 - 1)
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("sign")).as("signed_cnt"))
      .orderBy("doc_id", "bucket")

  // --- q85: boilerplate removal -----------------------------------------

  /** Segment width (tokens) and the cross-document frequency at which a
    * segment counts as boilerplate. */
  val BoilerSegTokens = 3
  val BoilerMinDocs = 2

  /** q85 — boilerplate-segment removal: split every document into
    * non-overlapping [[BoilerSegTokens]]-token segments, call a segment
    * boilerplate when its fingerprint appears in ≥ [[BoilerMinDocs]]
    * distinct documents, and rebuild each document from its surviving
    * segments in order. Reports per doc the segment counts and the
    * cleaned text's md5 (NULL when everything was boilerplate — the
    * degenerate doc a real pipeline drops).
    *
    * Distributed shape: segmentation is a narrow map; the boilerplate
    * table is one (fingerprint → distinct-doc count) aggregate; marking
    * is a fingerprint-keyed join (broadcastable — boilerplate by
    * definition concentrates into few distinct fingerprints); the
    * rebuild is one doc-keyed aggregate using collect_list + array_sort,
    * so segment order never depends on shuffle arrival order. */
  def boilerplateRemoval(s: SparkSession, dir: String): DataFrame = {
    val st = BoilerSegTokens
    val segs = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(toks) - 1, $st)")).as("s"),
        col("toks"))
      .select(col("doc_id"), col("s"),
        array_join(expr(s"slice(toks, s + 1, $st)"), " ").as("seg"))
      .withColumn("fp", md5(col("seg")))
    val boiler = segs.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .select(col("fp"), lit(true).as("is_boiler"))
    // the boilerplate fingerprint set is corpus-scaled — unhinted
    segs.join(boiler, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(
          when(col("is_boiler").isNull, struct(col("s"), col("seg")))))
          .as("kept"))
      .select(col("doc_id"), col("n_seg"), col("n_kept"),
        when(col("n_kept") > 0,
          md5(array_join(expr("transform(kept, x -> x.seg)"), " ")))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  // --- q88: inverted index build ----------------------------------------

  /** Posting-list head length: the index row keeps full df/tf stats but
    * only the first [[PostingsCap]] doc entries inline — the impact-
    * ordered-prefix layout search engines ship, and what keeps a row
    * bounded when a stopword's posting list is the whole corpus. */
  val PostingsCap = 20

  /** q88 — inverted index over the corpus: per term, document frequency,
    * total term frequency, and the head of the (doc_id-ordered) posting
    * list rendered as `doc:tf` pairs.
    *
    * Distributed shape: one (term, doc) aggregate — THE canonical
    * map-side-combinable shuffle — then a term-keyed window for the
    * head cut and one term aggregate. Postings assemble via
    * collect_list + array_sort so their order never depends on shuffle
    * arrival. Index build is a pure group-by at any corpus size; the
    * cap bounds per-row memory against stopword skew. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .persist() // feeds both the stats aggregate and the head window
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val heads = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PostingsCap)
      .groupBy("term")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf"))))
        .as("entries"))
      .select(col("term"),
        array_join(expr(
          "transform(entries, e -> concat(CAST(e.doc_id AS STRING), ':', CAST(e.tf AS STRING)))"),
          ",").as("postings_head"))
    stats.join(heads, "term")
      .select(col("term"), col("df"), col("tf_total"), col("postings_head"))
      .orderBy("term")
  }

  // --- q147: BM25 retrieval ---------------------------------------------

  /** Query terms taken from the top of the df ranking (deterministic
    * stand-ins for a user query workload) and results per query. */
  val Bm25Queries = 8
  val Bm25TopK = 5
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** q147 — BM25 ranked retrieval (Robertson–Spärck Jones): top-[[Bm25TopK]]
    * documents per query term under the k1/b length-normalized tf
    * saturation. The idf uses the plain odds ratio (N − df + ½)/(df + ½)
    * rather than its log: the ranking it induces is identical (log is
    * monotone) and the score stays one exact IEEE division — the same
    * libm-independence argument as q69's plain N/df.
    *
    * Scale (100 TB): the classic searcher shape — the corpus collapses
    * once into (doc, term, tf) postings plus a per-doc length table; the
    * query set is tiny and BROADCAST to the postings, so scoring touches
    * only the df-bounded posting lists of the queried terms, and the
    * top-k window partitions by query term (≤ [[Bm25Queries]]
    * partitions of df-bounded size, never a corpus sort). Doc-length
    * normalization rides a broadcast scalar (N, avgdl), not a join. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir)
      .filter(col("rank") <= Bm25TopK)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"),
        col("df"), round(col("score"), 6).as("score"))
      .orderBy("term", "rank")

  /** The shared BM25 ranked run (pre-limit): q147 takes its top
    * [[Bm25TopK]]; q190's metrics audit reads the same run at depth
    * [[IrK]]. One definition — the scoring formula and its plan shape
    * cannot drift between the searcher and its evaluator. */
  private[graft] def bm25Ranked(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist() // feeds the df ranking AND the scoring join
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val queries = dfr.orderBy(col("df").desc, col("term")).limit(Bm25Queries)
    val dl = docs.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
    val scored = tf
      .join(broadcast(queries), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("dl_tot").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("score",
        col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
  }

  /** Shared WITH-body for the BM25 ranked run — the SQL twin of
    * [[bm25Ranked]], consumed by both q147's and q190's oracles. */
  private def bm25RankedCtes: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |  GROUP BY doc_id, term),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |q AS (SELECT term, df FROM dfr ORDER BY df DESC, term
       |  LIMIT $Bm25Queries),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_tot FROM dl),
       |sc AS (SELECT tf.term, tf.doc_id, tf.tf, q.df,
       |    ((st.n_docs - q.df + 0.5) / (q.df + 0.5)) *
       |      (tf.tf * ($Bm25K1 + 1.0)) /
       |      (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl /
       |        (CAST(st.dl_tot AS DOUBLE) / st.n_docs))) AS score
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |r AS (SELECT *, row_number() OVER (PARTITION BY term
       |    ORDER BY score DESC, doc_id) AS rnk FROM sc)""".stripMargin

  def bm25TopKOracle: String =
    s"""WITH $bm25RankedCtes
       |SELECT term, CAST(rnk AS BIGINT) AS "rank", doc_id, tf, df,
       |  round(score, 6) AS score
       |FROM r WHERE rnk <= $Bm25TopK ORDER BY term, rnk""".stripMargin

  // --- q190: retrieval-quality metrics (MRR / nDCG@k / recall@k) ---------

  /** Ranking depth and relevance-prefix width for the metrics audit. */
  val IrK = 10
  val IrPrefix = 20

  /** DCG position discounts, frozen to ×1e9 fixed point at BUILD time
    * (floor(1e9·ln 2 / ln(i+1))): ten integer literals injected into
    * both engines, so nDCG needs no runtime libm call at all. */
  private[graft] val IrDiscFp: Seq[Long] = (1 to IrK).map(i =>
    math.floor(1e9 * math.log(2.0) / math.log(i + 1.0)).toLong)
  private[graft] val IrDiscPrefixFp: Seq[Long] =
    IrDiscFp.scanLeft(0L)(_ + _).tail

  /** q190 — retrieval-quality metrics over the q147 BM25 run at depth
    * [[IrK]]: MRR, nDCG@k and recall@k per query term, against
    * ranker-independent relevance judgments (a document is relevant to
    * a term iff the term occurs in its first [[IrPrefix]] tokens — the
    * "lead/title match" qrel construction, deliberately NOT the BM25
    * whole-document tf-idf signal). The eval harness between an index
    * change and a retrieval-quality dashboard.
    *
    * Parity: hits / first-relevant-rank / DCG are exact integers (the
    * DCG discounts are build-time fixed-point literals, indexed by
    * rank); MRR, nDCG and recall are one double division each.
    *
    * Scale (100 TB): the run is df-bounded (q147's argument); qrels
    * derive from one prefix-slice projection of the corpus semi-joined
    * to the ≤[[Bm25Queries]] query terms (broadcast), so judgments cost
    * one scan and carry only queried-term rows; metrics aggregate
    * |queries|·[[IrK]] rows. */
  def irMetrics(s: SparkSession, dir: String): DataFrame = {
    val run = bm25Ranked(s, dir).filter(col("rank") <= IrK)
      .select(col("term"), col("rank"), col("doc_id")).persist()
    val qterms = run.select("term").distinct()
    val qrels = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(slice(split(col("text"), " "), 1, IrPrefix)).as("term"))
      .join(broadcast(qterms), "term")
      .distinct().persist()
    val nrel = qrels.groupBy("term").agg(count(lit(1)).as("n_rel"))
    val discArr = array(IrDiscFp.map(lit): _*)
    val flags = run.join(qrels.withColumn("rel", lit(1L)),
        Seq("term", "doc_id"), "left")
      .select(col("term"), col("rank"),
        coalesce(col("rel"), lit(0L)).as("rel"))
    val agg = flags.groupBy("term").agg(
      sum(col("rel")).as("hits"),
      coalesce(min(when(col("rel") === 1L, col("rank"))), lit(0L))
        .as("first_rel_rank"),
      sum(when(col("rel") === 1L,
        element_at(discArr, col("rank").cast("int"))).otherwise(0L))
        .as("dcg_fp"))
    val idcgArr = array(IrDiscPrefixFp.map(lit): _*)
    agg.join(nrel, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"), col("first_rel_rank"),
        round(when(col("first_rel_rank") === 0L, 0.0)
          .otherwise(lit(1.0) / col("first_rel_rank")), 6).as("mrr"),
        round(when(coalesce(col("n_rel"), lit(0L)) === 0L, 0.0)
          .otherwise(col("dcg_fp").cast("double") /
            element_at(idcgArr,
              least(col("n_rel"), lit(IrK.toLong)).cast("int"))
              .cast("double")), 6).as("ndcg"),
        round(when(coalesce(col("n_rel"), lit(0L)) === 0L, 0.0)
          .otherwise(col("hits").cast("double") /
            col("n_rel").cast("double")), 6).as("recall_at_k"))
      .orderBy("term")
  }

  def irMetricsOracle: String = {
    val discList = IrDiscFp.mkString("[", ", ", "]")
    val prefList = IrDiscPrefixFp.mkString("[", ", ", "]")
    s"""WITH $bm25RankedCtes,
       |run AS MATERIALIZED (SELECT term, rnk, doc_id FROM r
       |  WHERE rnk <= $IrK),
       |qterms AS (SELECT DISTINCT term FROM run),
       |qrels AS MATERIALIZED (SELECT DISTINCT p.term, p.doc_id FROM
       |    (SELECT doc_id, unnest(list_slice(toks, 1, $IrPrefix)) AS term
       |     FROM d) p
       |  JOIN qterms USING (term)),
       |nrel AS (SELECT term, count(*) AS n_rel FROM qrels GROUP BY term),
       |flags AS (SELECT run.term, run.rnk,
       |    CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM run LEFT JOIN qrels q
       |    ON run.term = q.term AND run.doc_id = q.doc_id),
       |agg AS (SELECT term, CAST(sum(rel) AS BIGINT) AS hits,
       |    CAST(coalesce(min(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT)
       |      AS first_rel_rank,
       |    CAST(sum(CASE WHEN rel = 1 THEN $discList[rnk] ELSE 0 END)
       |      AS BIGINT) AS dcg_fp
       |  FROM flags GROUP BY term)
       |SELECT a.term, CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
       |  a.hits, a.first_rel_rank,
       |  round(CASE WHEN a.first_rel_rank = 0 THEN 0.0
       |    ELSE 1.0 / a.first_rel_rank END, 6) AS mrr,
       |  round(CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0.0
       |    ELSE CAST(a.dcg_fp AS DOUBLE) /
       |      CAST($prefList[least(n.n_rel, $IrK)] AS DOUBLE) END, 6)
       |    AS ndcg,
       |  round(CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0.0
       |    ELSE CAST(a.hits AS DOUBLE) / CAST(n.n_rel AS DOUBLE) END, 6)
       |    AS recall_at_k
       |FROM agg a LEFT JOIN nrel n USING (term)
       |ORDER BY a.term""".stripMargin
  }

  // --- q192: reciprocal-rank-fusion hybrid retrieval ---------------------

  /** RRF constant (Cormack et al. 2009) and fused output depth. */
  val RrfC = 60
  val RrfTopK = 5

  /** RRF contributions ×1e9, frozen at build time: floor(1e9/(C+i)) for
    * ranks 1..[[IrK]] — integer literals in both engines, so the fused
    * score is an exact integer sum. */
  private[graft] val RrfFp: Seq[Long] = (1 to IrK).map(i =>
    math.floor(1e9 / (RrfC + i)).toLong)

  /** q192 — hybrid retrieval by reciprocal-rank fusion: the q147 BM25
    * run fused with a lead-match ranker (tf of the term within the
    * first [[IrPrefix]] tokens — the "title field" of a fielded
    * searcher), RRF(d) = Σ_rankers 1/(C + rank_r(d)) over the two
    * top-[[IrK]] lists. The standard blend of lexical + second-signal
    * rankings in modern search stacks, here in exact ×1e9 fixed point.
    *
    * Parity: all integers (the RRF table is build-time literals; a
    * missing ranker contributes 0); ties break on doc_id.
    *
    * Scale (100 TB): both runs are df-bounded per query term; the
    * fusion is a (term, doc)-keyed full outer join of two
    * |queries|·[[IrK]]-row lists — metadata-sized regardless of corpus
    * size. The lead ranker pays one prefix-slice scan semi-joined to
    * the broadcast query terms (the q190 qrels shape, with counts). */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val runA = bm25Ranked(s, dir).filter(col("rank") <= IrK)
      .select(col("term"), col("rank").as("rank_bm25"), col("doc_id"))
      .persist()
    val qterms = runA.select("term").distinct()
    val leadTf = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(slice(split(col("text"), " "), 1, IrPrefix)).as("term"))
      .join(broadcast(qterms), "term")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf_lead"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("tf_lead").desc, col("doc_id"))
    val runB = leadTf.withColumn("rank_lead",
        row_number().over(wB).cast("bigint"))
      .filter(col("rank_lead") <= IrK)
      .select("term", "rank_lead", "doc_id")
    val rrfArr = array(RrfFp.map(lit): _*)
    def contrib(rank: Column): Column =
      when(rank.isNull, 0L)
        .otherwise(element_at(rrfArr, rank.cast("int")))
    val fused = runA.join(runB, Seq("term", "doc_id"), "full_outer")
      .select(col("term"), col("doc_id"),
        coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
        coalesce(col("rank_lead"), lit(0L)).as("rank_lead"),
        (contrib(col("rank_bm25")) + contrib(col("rank_lead")))
          .as("rrf_fp"))
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("rrf_fp").desc, col("doc_id"))
    fused.withColumn("fused_rank", row_number().over(wF).cast("bigint"))
      .filter(col("fused_rank") <= RrfTopK)
      .select("term", "fused_rank", "doc_id", "rank_bm25", "rank_lead",
        "rrf_fp")
      .orderBy("term", "fused_rank")
  }

  def rrfFusionOracle: String = {
    val rrfList = RrfFp.mkString("[", ", ", "]")
    s"""WITH $bm25RankedCtes,
       |run_a AS MATERIALIZED (SELECT term, rnk AS rank_bm25, doc_id
       |  FROM r WHERE rnk <= $IrK),
       |qterms AS (SELECT DISTINCT term FROM run_a),
       |lead_tf AS (SELECT p.term, p.doc_id, count(*) AS tf_lead FROM
       |    (SELECT doc_id, unnest(list_slice(toks, 1, $IrPrefix)) AS term
       |     FROM d) p
       |  JOIN qterms USING (term)
       |  GROUP BY p.term, p.doc_id),
       |run_b AS MATERIALIZED (SELECT term, rank_lead, doc_id FROM (
       |    SELECT term, doc_id, row_number() OVER (PARTITION BY term
       |      ORDER BY tf_lead DESC, doc_id) AS rank_lead
       |    FROM lead_tf)
       |  WHERE rank_lead <= $IrK),
       |fused AS (SELECT coalesce(a.term, b.term) AS term,
       |    coalesce(a.doc_id, b.doc_id) AS doc_id,
       |    CAST(coalesce(a.rank_bm25, 0) AS BIGINT) AS rank_bm25,
       |    CAST(coalesce(b.rank_lead, 0) AS BIGINT) AS rank_lead,
       |    CAST(CASE WHEN a.rank_bm25 IS NULL THEN 0
       |        ELSE $rrfList[a.rank_bm25] END +
       |      CASE WHEN b.rank_lead IS NULL THEN 0
       |        ELSE $rrfList[b.rank_lead] END AS BIGINT) AS rrf_fp
       |  FROM run_a a FULL OUTER JOIN run_b b
       |    ON a.term = b.term AND a.doc_id = b.doc_id)
       |SELECT term, CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
       |  rank_bm25, rank_lead, rrf_fp
       |FROM (SELECT *, row_number() OVER (PARTITION BY term
       |    ORDER BY rrf_fp DESC, doc_id) AS fused_rank FROM fused)
       |WHERE fused_rank <= $RrfTopK
       |ORDER BY term, fused_rank""".stripMargin
  }

  // --- q172: hard-negative mining for retrieval training ----------------

  /** Every [[HnEvery]]-th document becomes a training query (its first
    * [[HnQueryToks]] tokens — the DPR-style "title/lead as query"
    * construction); [[HnNegK]] negatives are mined per query. Each
    * queried term's posting list is truncated to its top [[HnPostCap]]
    * postings by (tf DESC, doc_id) — impact ordering. */
  val HnEvery = 40
  val HnQueryToks = 6
  val HnNegK = 5
  val HnPostCap = 200

  /** q172 — BM25 hard-negative mining (the Karpukhin et al. 2020 DPR
    * recipe): for each sampled training query, score the corpus by
    * summed per-term BM25 (q147's exact formula), take the top
    * [[HnNegK]] non-gold documents as hard negatives, and report each
    * negative's margin against the gold document. Negative margins are
    * the point — they mark queries whose gold is OUTRANKED by a
    * lexical near-match, exactly the pairs a retrieval trainer needs.
    * The gold document is scored from its EXACT postings; negatives are
    * mined from an impact-ordered truncated index (Anh & Moffat 2006):
    * each queried term keeps only its top-[[HnPostCap]] postings by tf.
    * The cap is ACTIVE on the fixture (df ≈ 400 > 200 at sf0.01), so
    * the oracle exercises the truncation arithmetic, not just the happy
    * path.
    *
    * Parity: each per-term BM25 score is one fixed-order IEEE
    * expression frozen to ppm fixed point (`floor(score·10⁶)` BIGINT)
    * BEFORE the per-document sum, so the multi-term aggregate is an
    * order-free integer sum — bit-identical across engines (the q126
    * fixed-point discipline). Scores and margins stay BIGINT ppm.
    *
    * Scale (100 TB): the uncapped form is QUADRATIC on duplicated data
    * — candidates = queries × Σ df, and both factors grow with the
    * corpus (measured 30×/decade at the synthetic 10×; the q154 lesson
    * again). The posting cap is the load-bearing guard: the candidate
    * stream is ≤ |distinct query terms| × [[HnPostCap]] before query
    * fan-out, so mining stays linear in the query count no matter how
    * duplicated the corpus is. The cap window runs over tf ⋈ queried-
    * terms (one corpus-shaped stream, map-side WindowGroupLimit). The
    * query set is CORPUS-DERIVED (every HnEvery-th doc), so its joins
    * carry NO forced broadcast hint — stats/AQE broadcast it while it
    * fits and use a term-keyed shuffle join past that (the index's
    * natural partitioning); the top-k window partitions by query.
    * The orthogonal production lever — stop-term pruning (drop query
    * terms with df > 0.1·N) — is deliberately NOT applied here: this
    * synthetic vocabulary puts every token at df ≈ 0.8·N, so it would
    * zero the output; a real corpus would layer it on top. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("dl_tot"))
    val qterms = docs.filter(col("doc_id") % HnEvery === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("toks"), 1, HnQueryToks)).as("term"))
      .distinct()
    val qt = dfr.join(qterms, "term")
    val qtermset = qt.select("term", "df").distinct()
    // impact-ordered posting truncation: top postings per queried term
    val wCap = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc_id"))
    val capped = tf.join(qtermset, "term")
      .withColumn("pr", row_number().over(wCap))
      .filter(col("pr") <= HnPostCap).drop("pr")
    def bm25ppm(in: DataFrame): DataFrame = in
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("dl_tot").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("tscore",
        col("idf") * (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .withColumn("tppm", floor(col("tscore") * 1e6).cast("bigint"))
    val negs = bm25ppm(capped)
      .join(qterms, "term")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tppm")).as("score_ppm"))
    val gold = bm25ppm(tf.join(qt, "term")
        .filter(col("doc_id") === col("query_id")))
      .groupBy("query_id").agg(sum(col("tppm")).as("gold_ppm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_ppm").desc, col("doc_id"))
    negs
      .withColumn("neg_rank", row_number().over(w).cast("bigint"))
      .filter(col("neg_rank") <= HnNegK)
      .join(gold, "query_id")
      .select(col("query_id"), col("neg_rank"),
        col("doc_id").as("neg_doc_id"), col("score_ppm"),
        (col("gold_ppm") - col("score_ppm")).as("margin_ppm"))
      .orderBy("query_id", "neg_rank")
  }

  def hardNegativesOracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |  GROUP BY doc_id, term),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |qt0 AS (SELECT DISTINCT doc_id AS query_id, unnest(list_slice(
       |    toks, 1, $HnQueryToks)) AS term
       |  FROM d WHERE doc_id % $HnEvery = 0),
       |qts AS (SELECT DISTINCT term, df FROM qt0 JOIN dfr USING (term)),
       |cap AS (SELECT doc_id, term, tf, df FROM (
       |    SELECT tf.doc_id, tf.term, tf.tf, qts.df,
       |      row_number() OVER (PARTITION BY tf.term
       |        ORDER BY tf.tf DESC, tf.doc_id) AS pr
       |    FROM tf JOIN qts USING (term)) x WHERE pr <= $HnPostCap),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_tot FROM dl),
       |negc AS (SELECT qt0.query_id, cap.doc_id,
       |    CAST(floor((((st.n_docs - cap.df + 0.5) / (cap.df + 0.5)) *
       |      (cap.tf * ($Bm25K1 + 1.0)) /
       |      (cap.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl /
       |        (CAST(st.dl_tot AS DOUBLE) / st.n_docs)))) * 1e6)
       |      AS BIGINT) AS tppm
       |  FROM cap JOIN qt0 USING (term)
       |    JOIN dl ON cap.doc_id = dl.doc_id CROSS JOIN st
       |  WHERE cap.doc_id <> qt0.query_id),
       |negs AS (SELECT query_id, doc_id,
       |    CAST(sum(tppm) AS BIGINT) AS score_ppm
       |  FROM negc GROUP BY query_id, doc_id),
       |goldc AS (SELECT qt0.query_id,
       |    CAST(floor((((st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
       |      (tf.tf * ($Bm25K1 + 1.0)) /
       |      (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl /
       |        (CAST(st.dl_tot AS DOUBLE) / st.n_docs)))) * 1e6)
       |      AS BIGINT) AS tppm
       |  FROM tf JOIN qt0 USING (term) JOIN dfr USING (term)
       |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
       |  WHERE tf.doc_id = qt0.query_id),
       |gold AS (SELECT query_id, CAST(sum(tppm) AS BIGINT) AS gold_ppm
       |  FROM goldc GROUP BY query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_ppm DESC, doc_id) AS rnk
       |  FROM negs)
       |SELECT r.query_id, CAST(r.rnk AS BIGINT) AS neg_rank,
       |  r.doc_id AS neg_doc_id, r.score_ppm,
       |  gold.gold_ppm - r.score_ppm AS margin_ppm
       |FROM r JOIN gold USING (query_id)
       |WHERE r.rnk <= $HnNegK
       |ORDER BY r.query_id, r.rnk""".stripMargin

  // --- q202: retrieval-context dedup --------------------------------------

  /** Context depth audited per query (deeper than q147's display top-k:
    * context assembly works from the full retrieval window). */
  val CtxDepth = 10

  /** q202 — retrieval-context dedup: RAG context assembly wastes its
    * token budget when the retriever returns near-identical passages,
    * so before packing the prompt each query's top-[[CtxDepth]]
    * candidates are pruned by rank dominance — candidate j is dropped
    * iff some HIGHER-ranked candidate i in the same context already
    * covers ≥ half of j's word-trigram shingles (containment, the q146
    * signal, scoped to one retrieval window). Per query: candidates
    * kept and the context tokens saved — the measured case for adding
    * a diversity stage to a RAG stack. Rank dominance (drop against
    * any higher-ranked candidate) is deliberately used instead of
    * greedy MMR (drop against kept-only): it is order-deterministic,
    * set-expressible — hence oracle-checkable — and strictly more
    * aggressive, so its savings LOWER-bound what a greedy pass
    * delivers.
    *
    * Parity: the containment test is an integer cross-multiplication
    * (2·|Si∩Sj| ≥ |Sj|); the one double division is the saved
    * fraction. Shingle-free docs (< 3 tokens) are never dominated —
    * containment against an empty set is undefined, and the inner
    * size-join encodes that identically in both engines.
    *
    * Scale (100 TB): the corpus is touched ONLY through the q147
    * postings run (df-bounded) and one semi-join that pulls the
    * ≤ |queries|·[[CtxDepth]] candidate docs; shingles, sizes and the
    * pair intersections all live on that candidate set, so the pair
    * join is |queries|·depth² metadata, never corpus². */
  /** The per-candidate keep/drop frame behind q202 — factored so
    * q221's budget packer consumes the SAME dominance decisions the
    * dedup audit reports: (term, rank, doc_id, n_toks, kept). */
  private[graft] def contextKept(s: SparkSession, dir: String): DataFrame = {
    val cands = bm25Ranked(s, dir)
      .filter(col("rank") <= CtxDepth)
      .select(col("term"), col("rank"), col("doc_id"))
      .persist() // feeds pairs, the id set, and the final rollup
    val docs = t(s, dir, "documents")
      .join(cands.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .persist() // candidate-set-sized: shingles + token counts
    val sh = DedupOps.shinglesFromToks(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = cands.as("a").join(cands.as("b"),
        col("a.term") === col("b.term") && col("a.rank") < col("b.rank"))
      .select(col("a.term").as("term"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
    val dom = pairs
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh")), "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .filter(coalesce(col("n_inter"), lit(0L)) * 2 >= col("n_sh"))
      .select(col("term"), col("doc_b").as("doc_id"))
      .distinct()
    val tk = docs.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("n_toks"))
    CurationOps.cutLineage(cands
      .join(dom.withColumn("dominated", lit(true)),
        Seq("term", "doc_id"), "left")
      .join(tk, "doc_id")
      .select(col("term"), col("rank"), col("doc_id"), col("n_toks"),
        col("dominated").isNull.as("kept")))
  }

  def contextDedup(s: SparkSession, dir: String): DataFrame =
    contextKept(s, dir)
      .groupBy("term")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("toks_before"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L))
          .as("toks_after"))
      .withColumn("saved_frac", round(
        (col("toks_before") - col("toks_after")).cast("double") /
          col("toks_before").cast("double"), 6))
      .orderBy("term")

  /** SQL twin of [[contextKept]] — the WITH-body shared by q202's and
    * q221's oracles (ends at CTE `k`: term, rnk, doc_id, kept, n_toks). */
  private def contextKeptCtes: String =
    s"""$bm25RankedCtes,
       |cand AS (SELECT term, rnk, doc_id FROM r WHERE rnk <= $CtxDepth),
       |cd AS (SELECT DISTINCT doc_id FROM cand),
       |dtok AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents JOIN cd USING (doc_id)),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    AS shingle
       |  FROM dtok) u),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    count(*) AS n_inter
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle
       |    AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT a.term, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM cand a JOIN cand b ON a.term = b.term AND a.rnk < b.rnk),
       |dom AS (SELECT DISTINCT p.term, p.doc_b AS doc_id
       |  FROM pairs p
       |  JOIN sz ON sz.doc_id = p.doc_b
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  WHERE coalesce(i.n_inter, 0) * 2 >= sz.n_sh),
       |tk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks
       |  FROM dtok),
       |k AS (SELECT c.term, c.rnk, c.doc_id, (d.doc_id IS NULL) AS kept,
       |    tk.n_toks
       |  FROM cand c
       |  LEFT JOIN dom d ON d.term = c.term AND d.doc_id = c.doc_id
       |  JOIN tk ON tk.doc_id = c.doc_id)""".stripMargin

  def contextDedupOracle: String =
    s"""WITH $contextKeptCtes
       |SELECT term, count(*) AS n_candidates,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(n_toks) AS BIGINT) AS toks_before,
       |  CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS toks_after,
       |  round(CAST(sum(n_toks) - sum(CASE WHEN kept THEN n_toks ELSE 0
       |    END) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE), 6) AS saved_frac
       |FROM k GROUP BY term ORDER BY term""".stripMargin

  // --- q221: budgeted context assembly -------------------------------------

  /** Context token budget per query. */
  val CtxTokenBudget = 256L

  /** q221 — budgeted RAG context assembly: the final step of the
    * retrieval chain (q147 rank → q202 dedup → THIS) packs each query's
    * surviving passages, in rank order, into a fixed
    * [[CtxTokenBudget]]-token context window — a candidate enters iff
    * its tokens still fit cumulatively (greedy prefix, the rule every
    * production RAG stack ships). Per query: candidates packed, tokens
    * used, budget utilization, and the first rank that no longer fit —
    * the observability a context-window regression hunt needs ("why did
    * doc X fall out of the prompt?").
    *
    * Consumes the FACTORED q202 keep/drop frame, so the packer prices
    * exactly the dedup decisions the audit reports — the two cannot
    * drift.
    *
    * Parity: the greedy prefix is a running-sum window (cumulative
    * token integers), identical in both engines; ties impossible (rank
    * is unique per query).
    *
    * Scale (100 TB): the packing window partitions by query over
    * ≤ depth kept rows each — metadata on top of q202's
    * candidate-bounded plan. */
  def contextPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    contextKept(s, dir)
      .filter(col("kept"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("selected", col("cum") <= CtxTokenBudget)
      .groupBy("term")
      .agg(count(lit(1)).as("n_kept"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_packed"),
        sum(when(col("selected"), col("n_toks")).otherwise(0L))
          .as("tokens_used"),
        coalesce(min(when(!col("selected"), col("rank"))), lit(-1L))
          .as("first_dropped_rank"))
      .withColumn("budget_frac", round(
        col("tokens_used").cast("double") / CtxTokenBudget, 6))
      .orderBy("term")
  }

  def contextPackOracle: String =
    s"""WITH $contextKeptCtes,
       |kk AS (SELECT term, rnk, n_toks,
       |    sum(n_toks) OVER (PARTITION BY term ORDER BY rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM k WHERE kept),
       |sel AS (SELECT term, rnk, n_toks, cum <= $CtxTokenBudget
       |    AS selected FROM kk)
       |SELECT term, count(*) AS n_kept,
       |  CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_packed,
       |  CAST(sum(CASE WHEN selected THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS tokens_used,
       |  coalesce(min(CASE WHEN NOT selected THEN CAST(rnk AS BIGINT)
       |    END), -1) AS first_dropped_rank,
       |  round(CAST(sum(CASE WHEN selected THEN n_toks ELSE 0 END)
       |    AS DOUBLE) / $CtxTokenBudget, 6) AS budget_frac
       |FROM sel GROUP BY term ORDER BY term""".stripMargin

  // --- q223: incremental postings maintenance ------------------------------

  /** q223 — incremental search-index maintenance: the nightly postings
    * refresh must NOT rebuild the index from the whole corpus — df and
    * tf are additive over disjoint document sets, so yesterday's
    * per-term partials (doc_id ≢ 0 mod 5, the q179 snapshot
    * convention) merge with a DELTA-only scan and the result is
    * byte-identical to a full rebuild. The audit emits the merged
    * per-term statistics next to an independent full recompute with a
    * consistency boolean — q179's snapshot-algebra proof applied to
    * the retrieval index (q88/q147's postings), the piece that makes
    * BM25 over a 100 TB corpus maintainable at delta cost.
    *
    * Parity: pure integer df/tf sums.
    *
    * Scale (100 TB): production persists the per-term partial table
    * and pays O(delta) per night; the full recompute exists here only
    * as the audit. Both paths are map-combinable aggregates on the
    * term key; output is vocabulary-bounded. */
  def incrementalPostings(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 5 === 0).as("is_delta"),
        explode(split(col("text"), " ")).as("term"))
    val perDoc = toks.groupBy("doc_id", "is_delta", "term")
      .agg(count(lit(1)).as("tf"))
      .persist() // feeds the partial table AND the full-rebuild audit
    val partials = perDoc.groupBy("term", "is_delta")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val merged = partials.groupBy("term")
      .agg(sum(col("df")).as("df"), sum(col("tf_total")).as("tf_total"))
    val full = perDoc.groupBy("term")
      .agg(count(lit(1)).as("f_df"), sum(col("tf")).as("f_tf"))
    merged.join(full, "term")
      .select(col("term"), col("df"), col("tf_total"),
        (col("df") === col("f_df") && col("tf_total") === col("f_tf"))
          .as("incremental_consistent"))
      .orderBy("term")
  }

  def incrementalPostingsOracle: String =
    """WITH toks AS (SELECT doc_id, doc_id % 5 = 0 AS is_delta,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |pd AS (SELECT doc_id, is_delta, term, count(*) AS tf
      |  FROM toks GROUP BY doc_id, is_delta, term),
      |p AS (SELECT term, is_delta, count(*) AS df,
      |    CAST(sum(tf) AS BIGINT) AS tf_total
      |  FROM pd GROUP BY term, is_delta),
      |m AS (SELECT term, CAST(sum(df) AS BIGINT) AS df,
      |    CAST(sum(tf_total) AS BIGINT) AS tf_total
      |  FROM p GROUP BY term),
      |f AS (SELECT term, count(*) AS f_df, CAST(sum(tf) AS BIGINT) AS f_tf
      |  FROM pd GROUP BY term)
      |SELECT m.term, m.df, m.tf_total,
      |  (m.df = f.f_df AND m.tf_total = f.f_tf) AS incremental_consistent
      |FROM m JOIN f USING (term) ORDER BY m.term""".stripMargin

  // --- q261: classifier-eval AUC + decile lift ----------------------------

  val AucIdOffset = 8000000L

  /** q261 — ranking-quality evaluation of a filter score: ROC-AUC (via
    * the tie-corrected rank-sum identity AUC = U/(n₁·n₀) — the exact
    * Mann–Whitney machinery of q245 reused as an ML metric) plus the
    * decile lift / cumulative-gains table a curation team actually
    * reads ("the worst decile by score holds X× its share of true
    * junk"). Completes the eval family: q195 calibrates probabilities,
    * q190 scores retrieval, this scores the RANKING of a gate.
    *
    * Fixture: two planted degradation tiers — heavy (text collapsed to
    * one repeated token; trivially separable) and mild (text doubled →
    * distinct-token ratio halved; overlaps the base lower tail) — so
    * the curve is neither perfect nor random by construction.
    *
    * Exactness: AUC from midrank integer sums over (score) cells;
    * deciles by the percent_rank→floor grid (engine-parity-safe);
    * lifts and recalls are single divisions of exact integers.
    *
    * Scale (100 TB): ONE distributed global rank (q114's range
    * partition + offsets) serves both halves — deciles read it
    * directly, and each score cell's strictly-before count (the
    * midrank ingredient) is min(rank)−1, so the AUC needs no
    * cumulative window at all. A continuous score does NOT collapse
    * to few cells (measured: |cells| ≈ |docs| on the fixture — the
    * suite's measured-cardinality invariant is what caught the old
    * unpartitioned cumulative window here), so nothing in the plan
    * may single-partition the cell frame either. */
  def aucDecileLift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    val heavy = d.filter(col("doc_id") % 6 === 0)
      .withColumn("toks", split(col("text"), " "))
      .selectExpr(s"doc_id + $AucIdOffset AS doc_id",
        "array_join(array_repeat(toks[0], size(toks)), ' ') AS text",
        "1 AS label")
    val mild = d.filter(col("doc_id") % 6 === 3)
      .selectExpr(s"doc_id + ${2 * AucIdOffset} AS doc_id",
        "concat(text, ' ', text) AS text", "1 AS label")
    val all = d.selectExpr("doc_id", "text", "0 AS label")
      .unionAll(heavy).unionAll(mild)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("label"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("score"))
      .persist()
    // ONE distributed global rank serves AUC and deciles: ranks are
    // unique and score-contiguous, so a cell's strictly-before count
    // is min(rank) − 1
    val ranked = ScaleOps.withGlobalRank(all, "rn",
        col("score"), col("doc_id"))
      .persist()
    // AUC on the (score) cell grid: positives rank LOW, so
    // AUC = 1 − U₁/(n₁·n₀) with midrank ties
    val cells = ranked.groupBy("score").agg(
        sum(col("label")).cast("long").as("n1c"),
        sum(lit(1) - col("label")).cast("long").as("n0c"),
        (min(col("rn")) - lit(1L)).as("cumb"))
      .withColumn("t", col("n1c") + col("n0c"))
    val auc = cells
      .agg(sum(col("n1c")).as("n1"), sum(col("n0c")).as("n0"),
        sum(col("n1c") * (lit(2L) * col("cumb") + col("t") + lit(1L)))
          .as("r1x2"))
      .selectExpr("n1", "n0",
        "1.0 - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / " +
          "(2.0 * CAST(n1 AS DOUBLE) * n0) AS auc")
    // percent_rank over a unique key ≡ (rank−1)/(n−1)
    val nAll = all.agg(count(lit(1)).as("n_all"))
    val dec = ranked
      .crossJoin(broadcast(nAll))
      .withColumn("pr", (col("rn") - 1).cast("double") /
        (col("n_all") - 1).cast("double"))
      .withColumn("decile",
        least(floor(col("pr") * 10), lit(9)).cast("bigint"))
      .groupBy("decile").agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("pos"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    dec.withColumn("cum_pos", sum(col("pos")).over(wCum))
      .crossJoin(broadcast(auc))
      .selectExpr("decile", "n", "pos",
        "round(CAST(pos AS DOUBLE) / n * (CAST(n1 + n0 AS DOUBLE) / " +
          "n1), 4) AS lift",
        "round(CAST(cum_pos AS DOUBLE) / n1, 4) AS cum_recall",
        "round(auc, 6) AS auc")
      .orderBy("decile")
  }

  def aucDecileLiftOracle: String =
    s"""WITH d AS (SELECT doc_id, text, 0 AS label FROM documents
       |  UNION ALL
       |  SELECT doc_id + $AucIdOffset,
       |    trim(repeat(string_split(text, ' ')[1] || ' ',
       |      len(string_split(text, ' ')))), 1
       |  FROM documents WHERE doc_id % 6 = 0
       |  UNION ALL
       |  SELECT doc_id + ${2 * AucIdOffset}, text || ' ' || text, 1
       |  FROM documents WHERE doc_id % 6 = 3),
       |sc AS (SELECT doc_id, label,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS score
       |  FROM d),
       |cells AS (SELECT score, CAST(sum(label) AS BIGINT) AS n1c,
       |    CAST(sum(1 - label) AS BIGINT) AS n0c,
       |    CAST(count(*) AS BIGINT) AS t
       |  FROM sc GROUP BY score),
       |rk AS (SELECT *, coalesce(sum(t) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS cumb FROM cells),
       |au AS (SELECT CAST(sum(n1c) AS BIGINT) AS n1,
       |    CAST(sum(n0c) AS BIGINT) AS n0,
       |    CAST(sum(n1c * (2 * cumb + t + 1)) AS BIGINT) AS r1x2
       |  FROM rk),
       |a2 AS (SELECT n1, n0, 1.0 - CAST(r1x2 - n1 * (n1 + 1)
       |    AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * n0) AS auc
       |  FROM au),
       |dc AS (SELECT least(CAST(floor(pr * 10) AS BIGINT), 9)
       |      AS decile, label
       |  FROM (SELECT label, percent_rank() OVER (ORDER BY score,
       |    doc_id) AS pr FROM sc)),
       |dg AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(label) AS BIGINT) AS pos
       |  FROM dc GROUP BY decile),
       |cp AS (SELECT *, CAST(sum(pos) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_pos FROM dg)
       |SELECT decile, n, pos,
       |  round(CAST(pos AS DOUBLE) / n * (CAST(n1 + n0 AS DOUBLE)
       |    / n1), 4) AS lift,
       |  round(CAST(cum_pos AS DOUBLE) / n1, 4) AS cum_recall,
       |  round(auc, 6) AS auc
       |FROM cp, a2 ORDER BY decile""".stripMargin

  // --- q288: RAG grounding / faithfulness audit -----------------------------

  /** Answer construction: first [[GroundAnsToks]] context tokens; every
    * [[GroundHallMod]]-th answer is contaminated with
    * [[GroundForeignToks]] tokens lifted from a FAR document (the
    * planted hallucination). Flag threshold on the support share. */
  val GroundAnsToks = 20
  val GroundForeignToks = 10
  val GroundHallMod = 13
  val GroundFlagTau = 0.95

  /** q288 — RAG grounding (faithfulness) audit: for each (context,
    * answer) pair, the share of answer tokens SUPPORTED by the context
    * — the cheap lexical proxy every RAG evaluation stack runs before
    * any model-based judge (RAGAS-style faithfulness, attributable-
    * token precision). The fixture builds answers from their own
    * context's first tokens and plants hallucinations by splicing in
    * tokens from a document 250 ids away. Clean answers ground at
    * EXACTLY 1.0 (every token is lexically present), so flagged pairs
    * are a subset of the planted ones by construction — zero false
    * positives; splices whose foreign tokens all happen to appear in
    * the context vocabulary legitimately evade a lexical audit (the
    * known blind spot of token-support faithfulness metrics, which is
    * why the SCORE, not the flag, is the primary output).
    *
    * Shape: answers explode to (doc, token) rows bounded by the answer
    * length (≤30 per doc, never corpus-sized); support is a LEFT SEMI
    * against the context's distinct-token set on the (doc_id, token)
    * equi key. The far-doc splice is one self-join on a computed id.
    *
    * Exactness: token counts are integers; the share is one division.
    *
    * Scale (100 TB): answer tokens are a bounded multiple of the
    * document count; the support probe shuffles on (doc_id, token) with
    * map-side distinct. */
  def groundingAudit(s: SparkSession, dir: String): DataFrame = {
    val d = EtlOps.t(s, dir, "documents")
    val base = d.selectExpr("doc_id", "split(text, ' ') AS toks")
    val far = base.selectExpr(
      "(doc_id + 250) % 500 + (doc_id div 500) * 500 AS doc_id",
      s"slice(toks, 1, $GroundForeignToks) AS far_toks")
    val answers = base
      .join(far, Seq("doc_id"))
      .selectExpr("doc_id",
        s"CASE WHEN doc_id % $GroundHallMod = 0 THEN " +
          s"concat(slice(toks, 1, $GroundAnsToks), far_toks) " +
          s"ELSE slice(toks, 1, $GroundAnsToks) END AS ans")
    val ansToks = answers.selectExpr("doc_id",
      "explode(ans) AS tok")
    val ctxToks = base.selectExpr("doc_id", "explode(toks) AS tok")
      .distinct()
    val supported = ansToks.join(ctxToks, Seq("doc_id", "tok"),
      "left_semi")
    val nAns = ansToks.groupBy("doc_id")
      .agg(count(lit(1L)).as("n_ans"))
    val nSup = supported.groupBy("doc_id")
      .agg(count(lit(1L)).as("n_sup"))
    nAns.join(nSup, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_ans",
        "coalesce(n_sup, 0) AS n_supported",
        "round(CAST(coalesce(n_sup, 0) AS DOUBLE) / n_ans, 4) " +
          "AS grounding",
        s"CAST(coalesce(n_sup, 0) AS DOUBLE) / n_ans < $GroundFlagTau " +
          "AS flagged")
      .orderBy("doc_id")
  }

  def groundingAuditOracle: String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |far AS (SELECT (doc_id + 250) % 500 + (doc_id // 500) * 500
       |    AS doc_id,
       |    toks[1:$GroundForeignToks] AS far_toks
       |  FROM base),
       |answers AS (SELECT b.doc_id,
       |    CASE WHEN b.doc_id % $GroundHallMod = 0 THEN
       |      list_concat(b.toks[1:$GroundAnsToks], f.far_toks)
       |      ELSE b.toks[1:$GroundAnsToks] END AS ans
       |  FROM base b JOIN far f ON f.doc_id = b.doc_id),
       |ansToks AS (SELECT doc_id, unnest(ans) AS tok FROM answers),
       |ctx AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM base),
       |na AS (SELECT doc_id, count(*) AS n_ans FROM ansToks
       |  GROUP BY doc_id),
       |ns AS (SELECT a.doc_id, count(*) AS n_sup FROM ansToks a
       |  WHERE EXISTS (SELECT 1 FROM ctx c
       |    WHERE c.doc_id = a.doc_id AND c.tok = a.tok)
       |  GROUP BY a.doc_id)
       |SELECT na.doc_id, na.n_ans,
       |  coalesce(ns.n_sup, 0) AS n_supported,
       |  round(CAST(coalesce(ns.n_sup, 0) AS DOUBLE) / na.n_ans, 4)
       |    AS grounding,
       |  CAST(coalesce(ns.n_sup, 0) AS DOUBLE) / na.n_ans
       |    < $GroundFlagTau AS flagged
       |FROM na LEFT JOIN ns ON ns.doc_id = na.doc_id
       |ORDER BY na.doc_id""".stripMargin

  // --- q313: ranker-agreement audit (BM25 vs query-likelihood) -----------

  /** Dirichlet smoothing mass (Zhai & Lafferty 2001's standard µ). */
  val QlMu = 2000.0

  /** Agreement depth. */
  val RankAgreeK = 5

  /** q313 — ranker-agreement audit: the q147 BM25 scorer against a
    * Dirichlet-smoothed query-likelihood scorer over the SAME query
    * workload, compared at depth [[RankAgreeK]] — overlap, Jaccard,
    * Spearman footrule over the common members, and top-1 agreement.
    * The audit a search team reads before swapping rankers: high
    * overlap means the change is safe to interleave-test, top-1
    * disagreement names the queries that will visibly change. Like
    * q147 the QL score drops its log (monotone per query term —
    * ranking-identical) so the score is one libm-free division:
    * (tf + µ·cf/|C|) / (dl + µ). Candidates are each term's posting
    * list (the impact-ordered searcher convention both rankers
    * share; background-only documents cannot enter either top-k here
    * by construction, so the comparison is apples-to-apples).
    *
    * Parity: both scores are fixed-op-order arithmetic on exact
    * integer (tf, df, cf, dl) inputs; ranks come from row_number with
    * the doc_id tiebreak; every agreement metric is integer arithmetic
    * over ranks.
    *
    * Scale (100 TB): the q147 argument verbatim — one corpus collapse
    * to postings + doc lengths, queries broadcast, scoring touches
    * df-bounded posting lists, and BOTH rank windows partition by term
    * over the same exchange (two in-partition sorts, one shuffle). */
  def rankerAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"),
      sum(col("tf")).as("cf"))
    val queries = dfr.orderBy(col("df").desc, col("term"))
      .limit(Bm25Queries)
    val dl = docs.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("dl_tot"))
    val scored = tf
      .join(broadcast(queries), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("dl_tot").cast("double") / col("n_docs"))
      .withColumn("score_bm",
        ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .withColumn("score_ql",
        (col("tf").cast("double") + lit(QlMu) * col("cf").cast("double") /
          col("dl_tot").cast("double")) /
          (col("dl").cast("double") + lit(QlMu)))
    val wBm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("score_bm").desc, col("doc_id"))
    val wQl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("score_ql").desc, col("doc_id"))
    val ranked = scored
      .withColumn("r_bm", row_number().over(wBm).cast("bigint"))
      .withColumn("r_ql", row_number().over(wQl).cast("bigint"))
      .filter(col("r_bm") <= RankAgreeK || col("r_ql") <= RankAgreeK)
    ranked.groupBy("term").agg(
        max(col("df")).as("df"),
        sum(when(col("r_bm") <= RankAgreeK && col("r_ql") <= RankAgreeK,
          1L).otherwise(0L)).as("n_overlap"),
        sum(when(col("r_bm") <= RankAgreeK && col("r_ql") <= RankAgreeK,
          abs(col("r_bm") - col("r_ql"))).otherwise(0L)).as("footrule"),
        max(when(col("r_bm") === 1L && col("r_ql") === 1L, 1L)
          .otherwise(0L)).as("t1"))
      .select(col("term"), col("df"), col("n_overlap"),
        round(col("n_overlap").cast("double") /
          (lit(2L * RankAgreeK) - col("n_overlap")).cast("double"), 6)
          .as("jaccard_at_k"),
        col("footrule"), (col("t1") === 1L).as("top1_agree"))
      .orderBy("term")
  }

  def rankerAgreementOracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(toks) AS term FROM d),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |  GROUP BY doc_id, term),
       |dfr AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT)
       |    AS cf FROM tf GROUP BY term),
       |q AS (SELECT term, df, cf FROM dfr ORDER BY df DESC, term
       |  LIMIT $Bm25Queries),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_tot FROM dl),
       |sc AS (SELECT tf.term, tf.doc_id, q.df,
       |    ((st.n_docs - q.df + 0.5) / (q.df + 0.5)) *
       |      (tf.tf * ($Bm25K1 + 1.0)) /
       |      (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl /
       |        (CAST(st.dl_tot AS DOUBLE) / st.n_docs))) AS score_bm,
       |    (CAST(tf.tf AS DOUBLE) + $QlMu * CAST(q.cf AS DOUBLE) /
       |      CAST(st.dl_tot AS DOUBLE)) /
       |      (CAST(dl.dl AS DOUBLE) + $QlMu) AS score_ql
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
       |  CROSS JOIN st),
       |r AS (SELECT *,
       |    CAST(row_number() OVER (PARTITION BY term
       |      ORDER BY score_bm DESC, doc_id) AS BIGINT) AS r_bm,
       |    CAST(row_number() OVER (PARTITION BY term
       |      ORDER BY score_ql DESC, doc_id) AS BIGINT) AS r_ql
       |  FROM sc),
       |f AS (SELECT * FROM r
       |  WHERE r_bm <= $RankAgreeK OR r_ql <= $RankAgreeK)
       |SELECT term, CAST(max(df) AS BIGINT) AS df,
       |  CAST(sum(CASE WHEN r_bm <= $RankAgreeK AND r_ql <= $RankAgreeK
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |  round(CAST(sum(CASE WHEN r_bm <= $RankAgreeK
       |      AND r_ql <= $RankAgreeK THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(${2 * RankAgreeK} - sum(CASE WHEN r_bm <= $RankAgreeK
       |      AND r_ql <= $RankAgreeK THEN 1 ELSE 0 END) AS DOUBLE), 6)
       |    AS jaccard_at_k,
       |  CAST(sum(CASE WHEN r_bm <= $RankAgreeK AND r_ql <= $RankAgreeK
       |    THEN abs(r_bm - r_ql) ELSE 0 END) AS BIGINT) AS footrule,
       |  max(CASE WHEN r_bm = 1 AND r_ql = 1 THEN 1 ELSE 0 END) = 1
       |    AS top1_agree
       |FROM f GROUP BY term ORDER BY term""".stripMargin

  // --- q351: posting-list delta-gap compression estimate -------------------

  /** q351 — inverted-index size budgeting via delta-gap VByte
    * estimation (Zobel & Moffat 2006 survey; VByte per
    * Thiel/Heaps-era practice): per term, postings are the sorted
    * doc_id list; stored as first-id + gaps, each integer costs
    * ⌈bits/7⌉ VByte bytes. The audit aggregates per document-frequency
    * decile: raw 8-byte cost, delta-gap VByte cost, and the
    * compression ratio — the capacity-planning readout an index build
    * runs BEFORE allocating the posting store (high-df terms compress
    * hardest: dense postings → tiny gaps → 1-byte codes).
    *
    * Parity: gaps via a lag window partitioned by term (doc_id total
    * order); the VByte size of a positive integer g is exact integer
    * CASE arithmetic (g < 2⁷ → 1, < 2¹⁴ → 2, < 2²¹ → 3, else 4);
    * decile = exact integer rank arithmetic over the df ladder.
    *
    * Scale (100 TB): rides the q147/q223 postings build (one
    * (term, doc) collapse); the gap pass is a term-partitioned window
    * (the index's natural partitioning); the report is a 10-group
    * aggregate. */
  def postingsCompression(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"), col("doc_id"))
      .distinct()
    val w = Window.partitionBy("term").orderBy("doc_id")
    val gaps = postings
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(w),
          col("doc_id") + 1L))
      .withColumn("vbytes", expr(
        "CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2" +
          " WHEN gap < 2097152 THEN 3 ELSE 4 END").cast("long"))
    val perTerm = gaps.groupBy("term").agg(
      count(lit(1)).as("df"), sum(col("vbytes")).as("vb"))
    // decile rank over the |vocab|-sized term ladder: vocab GROWS with
    // the corpus (Heaps' law), so the exact global rank goes through
    // ScaleOps.withGlobalRank (range-partition + per-partition offsets)
    // — never a single-task window
    val nTerms = perTerm.agg(count(lit(1)).as("n_terms"))
    ScaleOps.withGlobalRank(perTerm.crossJoin(broadcast(nTerms)),
        "rk", col("df").asc, col("term").asc)
      .withColumn("decile",
        expr("least(((rk - 1) * 10) div n_terms, 9)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).as("n_postings"),
        (sum(col("df")) * 8L).as("raw_bytes"),
        sum(col("vb")).as("vbyte_bytes"))
      .select(col("decile"), col("n_terms"), col("n_postings"),
        col("raw_bytes"), col("vbyte_bytes"),
        round(col("raw_bytes").cast("double") / col("vbyte_bytes"), 6)
          .as("compression"))
      .orderBy("decile")
  }

  def postingsCompressionOracle: String =
    s"""WITH p AS (SELECT DISTINCT term, doc_id FROM (
       |    SELECT unnest(string_split(text, ' ')) AS term, doc_id
       |    FROM documents)),
       |g AS (SELECT term, doc_id,
       |    coalesce(doc_id - lag(doc_id) OVER (PARTITION BY term
       |      ORDER BY doc_id), doc_id + 1) AS gap
       |  FROM p),
       |v AS (SELECT term, CAST(CASE WHEN gap < 128 THEN 1
       |      WHEN gap < 16384 THEN 2 WHEN gap < 2097152 THEN 3
       |      ELSE 4 END AS BIGINT) AS vbytes
       |  FROM g),
       |pt AS (SELECT term, count(*) AS df,
       |    CAST(sum(vbytes) AS BIGINT) AS vb
       |  FROM v GROUP BY term),
       |nt AS (SELECT count(*) AS n_terms FROM pt),
       |rk AS (SELECT pt.*, nt.n_terms,
       |    row_number() OVER (ORDER BY df ASC, term ASC) AS rk
       |  FROM pt, nt),
       |d AS (SELECT least(((rk - 1) * 10) // n_terms, 9)
       |    AS decile, df, vb
       |  FROM rk)
       |SELECT decile, count(*) AS n_terms,
       |  CAST(sum(df) AS BIGINT) AS n_postings,
       |  CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
       |  CAST(sum(vb) AS BIGINT) AS vbyte_bytes,
       |  round(CAST(sum(df) * 8 AS DOUBLE) / sum(vb), 6) AS compression
       |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  // --- q354: successive-halving threshold search ----------------------------

  /** The candidate decision thresholds swept (configs), in NB
    * log-odds NATS — frozen to ×1e9 integers so every decision is an
    * exact integer comparison. The grid spans the corpus's actual
    * score range ([−1.97, 2.34] nats at sf0.01); the q332 logistic z
    * was rejected as the search score because its sigmoid clusters in
    * [0.46, 0.47] and every probability threshold outside that sliver
    * ties. */
  val ShTaus: Seq[Double] =
    Seq(-1.2, -0.8, -0.4, -0.2, 0.0, 0.2, 0.4, 0.8)
  val ShRungs = 3

  /** Full-corpus NB log-odds per document (the q331 model WITHOUT the
    * held-out split — q354 tunes a decision threshold on in-sample
    * scores, documented as such): (doc_id, pos, score_fp ×1e9). */
  private[graft] def nbScoresAll(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("pos"))
    val counts = docs
      .select(col("pos"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("cneg"))
    val totals = counts.agg(sum(col("cpos")).as("npos"),
      sum(col("cneg")).as("nneg"), count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals)).selectExpr("tok",
      "CAST(floor(ln(CAST(cpos + 1 AS DOUBLE) / CAST(npos + v AS DOUBLE))" +
        " * 1e9) AS BIGINT)" +
        " - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE) /" +
        " CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp")
    val prior = docs.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("dpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("dneg"))
      .selectExpr(
        "CAST(floor(ln(CAST(dpos AS DOUBLE)) * 1e9) AS BIGINT)" +
          " - CAST(floor(ln(CAST(dneg AS DOUBLE)) * 1e9) AS BIGINT)" +
          " AS prior_fp")
    val sums = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(llr), Seq("tok"))
      .groupBy("doc_id").agg(sum(col("llr_fp")).as("sfp"))
    docs.join(sums, Seq("doc_id"), "left").crossJoin(broadcast(prior))
      .selectExpr("doc_id", "pos",
        "prior_fp + coalesce(sfp, 0L) AS score_fp")
  }

  /** Shared oracle CTEs producing `nbsc(doc_id, pos, score_fp)`. */
  private def nbScoresAllCtes: String =
    s"""nbd AS (SELECT doc_id, text, lang = 'en' AS pos FROM documents),
       |nbtok AS (SELECT pos, unnest(string_split(text, ' ')) AS tok
       |  FROM nbd),
       |nbcnt AS (SELECT tok,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg
       |  FROM nbtok GROUP BY tok),
       |nbtot AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
       |    CAST(sum(cneg) AS BIGINT) AS nneg,
       |    CAST(count(*) AS BIGINT) AS v FROM nbcnt),
       |nbllr AS (SELECT tok,
       |    CAST(floor(ln(CAST(cpos + 1 AS DOUBLE)
       |        / CAST(npos + v AS DOUBLE)) * 1e9) AS BIGINT)
       |      - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE)
       |        / CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp
       |  FROM nbcnt, nbtot),
       |nbpr AS (SELECT
       |    CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT)
       |    - CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT) AS prior_fp FROM nbd),
       |nbsum AS (SELECT doc_id, CAST(sum(llr_fp) AS BIGINT) AS sfp
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM nbd) st JOIN nbllr USING (tok) GROUP BY doc_id),
       |nbsc AS (SELECT d.doc_id, d.pos,
       |    nbpr.prior_fp + coalesce(nbsum.sfp, 0) AS score_fp
       |  FROM nbd d LEFT JOIN nbsum USING (doc_id), nbpr)""".stripMargin

  /** q354 — successive halving (Jamieson & Talwalkar 2016; Hyperband's
    * inner loop) over the q331 NB gate's decision threshold: 8
    * candidate τ values (nats) are evaluated on a 12.5 % hash slice,
    * the best half advances to 25 %, then 50 % — the compute-efficient
    * tuning loop that spends full budget only on surviving configs.
    * Slices are NESTED (md5(doc_id) mod 8 prefixes), so every rung
    * reuses the previous rung's documents plus new ones, exactly as
    * the algorithm prescribes. Output: one row per (rung, τ)
    * evaluated, with budget, accuracy, and survival.
    *
    * Parity: scores are the frozen ×1e9 NB log-odds
    * ([[nbScoresAll]]); every decision score_fp ≥ τ·1e9 is an exact
    * INTEGER comparison against a build-time literal; accuracies are
    * integer counts; survivor selection is rank arithmetic with τ as
    * tie-break — the whole search is exact end to end.
    *
    * Scale (100 TB): rung r touches (2^(r−1)/8)·N rows ONCE with a
    * broadcast config grid — total work (1/8 + 1/4·½ + 1/2·¼)·8·N
    * score-comparisons versus full-budget-everywhere 8N; the scoring
    * pass itself is the one vocab-aggregate NB shape. Survivor frames
    * are metadata; cutLineage per rung (data-dependent iteration). */
  def successiveHalving(s: SparkSession, dir: String): DataFrame = {
    val scored = nbScoresAll(s, dir)
      .selectExpr("doc_id", "pos", "score_fp",
        "md5_fp60(CAST(doc_id AS STRING)) % 8 AS slice")
      .persist()
    val cfgRows = ShTaus.zipWithIndex.map { case (t, k) =>
      val tfp = math.round(t * 1e9)
      s"struct(CAST($k AS BIGINT) AS k, CAST($t AS DOUBLE) AS tau," +
        s" CAST(${tfp}L AS BIGINT) AS tau_fp)"
    }
    val cfg0 = s.range(1)
      .select(explode(expr(s"array(${cfgRows.mkString(", ")})")).as("c"))
      .selectExpr("c.k AS k", "c.tau AS tau", "c.tau_fp AS tau_fp")
    var alive = cfg0
    val out = scala.collection.mutable.Buffer.empty[DataFrame]
    (1 to ShRungs).foreach { r =>
      val keepN = ShTaus.length / (1 << r) // 4, 2, 1
      val budget = 1L << (r - 1) // slices {0}, {0,1}, {0..3}
      val evald = scored.filter(col("slice") < budget)
        .crossJoin(broadcast(alive))
        .withColumn("correct",
          when((col("score_fp") >= col("tau_fp")) === col("pos"), 1L)
            .otherwise(0L))
        .groupBy("k", "tau", "tau_fp")
        .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_corr"))
      val ranked = CurationOps.cutLineage(evald.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_corr").desc, col("tau").asc))))
      out += ranked.selectExpr(s"CAST($r AS BIGINT) AS rung", "tau",
        "n_docs", "n_corr",
        "round(CAST(n_corr AS DOUBLE) / n_docs, 6) AS accuracy",
        s"rk <= $keepN AS survived")
      alive = ranked.filter(col("rk") <= keepN)
        .select("k", "tau", "tau_fp")
    }
    out.reduce(_.union(_)).orderBy("rung", "tau")
  }

  def successiveHalvingOracle: String = {
    val cfgVals = ShTaus.zipWithIndex.map { case (t, k) =>
      s"($k, CAST($t AS DOUBLE), CAST(${math.round(t * 1e9)} AS BIGINT))"
    }.mkString(", ")
    val rungs = (1 to ShRungs).map { r =>
      val keepN = ShTaus.length / (1 << r)
      val budget = 1L << (r - 1)
      val prevAlive = if (r == 1) "cfg" else s"a${r - 1}"
      s"""e$r AS (SELECT c.k, c.tau, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN (sc.score_fp >= c.tau_fp) = sc.pos
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_corr
         |  FROM sc CROSS JOIN $prevAlive c WHERE sc.slice < $budget
         |  GROUP BY c.k, c.tau),
         |k$r AS (SELECT *, row_number() OVER (ORDER BY n_corr DESC,
         |    tau ASC) AS rk FROM e$r),
         |a$r AS (SELECT cfg.k, cfg.tau, cfg.tau_fp FROM k$r
         |  JOIN cfg ON k$r.k = cfg.k WHERE k$r.rk <= $keepN),
         |s$r AS (SELECT CAST($r AS BIGINT) AS rung, tau, n_docs,
         |    n_corr, round(CAST(n_corr AS DOUBLE) / n_docs, 6)
         |      AS accuracy, rk <= $keepN AS survived
         |  FROM k$r)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to ShRungs).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH $nbScoresAllCtes,
       |sc AS (SELECT doc_id, pos, score_fp,
       |    ${OracleGen.fp60("CAST(doc_id AS VARCHAR)")} % 8 AS slice
       |  FROM nbsc),
       |cfg(k, tau, tau_fp) AS (VALUES $cfgVals),
       |$rungs
       |SELECT * FROM ($sel) ORDER BY rung, tau""".stripMargin
  }

  // --- q340: pseudo-relevance-feedback query expansion ---------------------

  /** Expansion terms emitted per query. */
  val PrfExpansions = 5

  /** q340 — pseudo-relevance feedback (Rocchio 1971; the classic PRF
    * loop every retrieval stack ships): take each BM25 query's
    * top-[[Bm25TopK]] documents as assumed-relevant feedback, score
    * every term they contain by Σ tf·idf over the feedback set
    * (excluding the query term itself), and emit the top
    * [[PrfExpansions]] expansion terms per query — the second-pass
    * query an engine actually reruns. Rides the exact q147 ranked run
    * (one scoring definition, spec-shared), so the feedback sets here
    * are the production ones.
    *
    * Parity: idf is the same ln-free Robertson ratio q147 uses; each
    * (doc, term) contribution tf·idf is frozen to floor(·1e6) BIGINT
    * before the per-(query, term) sum (order-free), and the top-E cut
    * is rank arithmetic with term as the total-order tie-break.
    *
    * Scale (100 TB): the feedback set is |queries|·k doc ids — the
    * expansion join is (tiny fb) ⋈ (doc-keyed postings) on doc_id,
    * then a |queries × feedback vocab| aggregate; nothing corpus-sized
    * moves except the one postings build already paid by q147. */
  def prfExpansion(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = docs.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val ndocs = docs.agg(count(lit(1)).as("n_docs"))
    val fb = bm25Ranked(s, dir).filter(col("rank") <= Bm25TopK)
      .select(col("term").as("qterm"), col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qterm"))
      .orderBy(col("w_fp").desc, col("term"))
    fb.join(tf, Seq("doc_id"))
      .filter(col("term") =!= col("qterm"))
      .join(dfr, Seq("term"))
      .crossJoin(broadcast(ndocs))
      // the 0.5 terms must be forced into DOUBLE territory explicitly:
      // DuckDB types the bare literal as DECIMAL and would evaluate the
      // ratio in decimal arithmetic, off by an ulp from Spark's double
      // (q147 hides this under round(,6); the fixed-point freeze here
      // would expose it)
      .withColumn("contrib_fp", expr(
        "CAST(floor((tf * ((CAST(n_docs - df AS DOUBLE) + 0.5)" +
          " / (CAST(df AS DOUBLE) + 0.5))) * 1e6) AS BIGINT)"))
      .groupBy("qterm", "term")
      .agg(sum(col("contrib_fp")).as("w_fp"),
        count(lit(1)).as("n_fb_docs"))
      .withColumn("exp_rank", row_number().over(w).cast("bigint"))
      .filter(col("exp_rank") <= PrfExpansions)
      .select(col("qterm").as("query_term"), col("exp_rank"),
        col("term").as("exp_term"), col("n_fb_docs"),
        round(col("w_fp").cast("double") / 1e6, 6).as("weight"))
      .orderBy("query_term", "exp_rank")
  }

  def prfExpansionOracle: String =
    s"""WITH $bm25RankedCtes,
       |fb AS (SELECT term AS qterm, doc_id FROM r WHERE rnk <= $Bm25TopK),
       |cand AS (SELECT fb.qterm, tf.term AS exp_term,
       |    CAST(sum(CAST(floor((tf.tf *
       |      ((CAST(st.n_docs - dfr.df AS DOUBLE) + 0.5)
       |      / (CAST(dfr.df AS DOUBLE) + 0.5))) * 1e6) AS BIGINT))
       |      AS BIGINT) AS w_fp,
       |    count(*) AS n_fb_docs
       |  FROM fb JOIN tf USING (doc_id)
       |  JOIN dfr ON tf.term = dfr.term CROSS JOIN st
       |  WHERE tf.term <> fb.qterm
       |  GROUP BY fb.qterm, tf.term),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY qterm
       |    ORDER BY w_fp DESC, exp_term) AS exp_rank FROM cand)
       |SELECT qterm AS query_term, CAST(exp_rank AS BIGINT) AS exp_rank,
       |  exp_term, n_fb_docs,
       |  round(CAST(w_fp AS DOUBLE) / 1e6, 6) AS weight
       |FROM rk WHERE exp_rank <= $PrfExpansions
       |ORDER BY query_term, exp_rank""".stripMargin

  // --- q345: dataset cartography over the GD checkpoints -------------------

  /** Region bounds are DATASET-RELATIVE (the paper's construction is
    * dataset-relative thirds): hard-to-learn = confidence below the
    * corpus mean; ambiguous = variability above the corpus mean (among
    * the rest). Both comparisons are exact integer cross-products
    * (n·spᵢ vs Σsp; n·varᵢ vs Σvar) — no percentile machinery, no
    * per-corpus magic constants, and all three regions populate
    * whenever the two statistics are non-constant. Integer bound:
    * n·var_num ≤ n·k²·(1e6)² keeps inside 2⁶³ through ~50M docs. */

  /** Cartography checkpoint count — deeper than q332's 3 training
    * iterations: across only the first 3 near-zero checkpoints every
    * p sits at ~0.52 and the map degenerates to two label-split cells;
    * 8 checkpoints give the weights room to move so all three regions
    * populate. Probabilities freeze at ×1e6 (not 1e9): the variance
    * numerator k·Σp² − (Σp)² must stay inside BIGINT, and at k = 8 a
    * 1e9 freeze would overflow ((8e9)² > 2⁶³). */
  val CartoIters = 8

  /** q345 — dataset cartography (Swayamdipta et al. 2020, "Dataset
    * Cartography: Mapping and Diagnosing Datasets with Training
    * Dynamics" — public construction): for every training document,
    * the MEAN true-class probability (confidence) and its STANDARD
    * DEVIATION (variability) across the q332 GD checkpoints w1..w3,
    * binned into the easy / hard-to-learn / ambiguous map regions.
    * Hard-to-learn mass is the mislabel-audit queue; ambiguous mass is
    * the curriculum frontier. Shares [[logregFeatures]]/[[logregStep]]
    * with q332 — the checkpoints ARE the training run's.
    *
    * Parity: per (doc, checkpoint) the true-class probability is one
    * frozen floor(·1e9) BIGINT; mean and variance over the fixed 3
    * checkpoints are exact integer algebra (3·Σp² − (Σp)² over 3²),
    * and the region test compares integers against frozen literal
    * bounds — no per-row doubles reach the output. Output is the
    * |region × label| summary (counts + mean confidence), not per-doc
    * rows.
    *
    * Scale (100 TB): three broadcast-weight scoring passes over the
    * feature frame and ONE 6-group aggregate — training dynamics at
    * corpus scale without storing per-example traces anywhere but in
    * the aggregate. */
  def datasetCartography(s: SparkSession, dir: String): DataFrame = {
    val k = CartoIters
    val feat = logregFeatures(s, dir).persist()
    // a lineage cut per checkpoint w1..wk: each step references its
    // predecessor twice (gradient crossJoin + update crossJoin), so the
    // uncut 8-deep weight chain doubles per iteration (measured 24 s at
    // sf0.1, planning-dominated; 2.4 s cut)
    val (ws, _) = CurationOps.iterateCut(logregStep(feat, logregW0(s)),
      k - 1)((w, _) => logregStep(feat, w))
    val pcols = ws.zipWithIndex.map { case (w, i) =>
      feat.crossJoin(broadcast(w))
        .selectExpr("doc_id", "y",
          s"CAST(floor((CASE WHEN y = 1.0 THEN 1.0 / (1.0 + exp(-($LogRegZ)))" +
            s" ELSE 1.0 - (1.0 / (1.0 + exp(-($LogRegZ)))) END) * 1e6)" +
            s" AS BIGINT) AS p${i + 1}")
    }
    val joined = pcols.reduce((a, b) => a.join(b.drop("y"), Seq("doc_id")))
    val spE = (1 to k).map(i => s"p$i").mkString("(", " + ", ")")
    val sppE = (1 to k).map(i => s"(p$i * p$i)").mkString("(", " + ", ")")
    val withSums = joined
      .withColumn("sp", expr(spE))
      .withColumn("spp", expr(sppE))
      .withColumn("varn", expr(s"$k * spp - sp * sp"))
      .persist()
    val tot = withSums.agg(count(lit(1)).as("nd"),
      sum(col("sp")).as("tsp"), sum(col("varn")).as("tvar"))
    withSums.crossJoin(broadcast(tot))
      // mean_fp in 1e6 units; var numerator in 1e12 units:
      // k·Σp² − (Σp)² over k²; bounds are corpus means via exact
      // integer cross-products
      .withColumn("region", expr(
        "CASE WHEN nd * sp < tsp THEN 'hard_to_learn'" +
          " WHEN nd * varn > tvar THEN 'ambiguous'" +
          " ELSE 'easy' END"))
      .groupBy("region", "y")
      .agg(count(lit(1)).as("n_docs"), sum(col("sp")).as("ssp"))
      .select(col("region"), col("y").cast("bigint").as("label"),
        col("n_docs"),
        round(col("ssp").cast("double") / 1e6 / lit(k) / col("n_docs"), 6)
          .as("mean_confidence"))
      .orderBy("region", "label")
  }

  def datasetCartographyOracle: String = {
    val k = CartoIters
    val ps = (1 to k).map { i =>
      s"""p$i AS (SELECT doc_id, y,
         |    CAST(floor((CASE WHEN y = 1.0
         |      THEN 1.0 / (1.0 + exp(-($LogRegZ)))
         |      ELSE 1.0 - (1.0 / (1.0 + exp(-($LogRegZ)))) END) * 1e6)
         |      AS BIGINT) AS p$i
         |  FROM feat, w$i)""".stripMargin
    }.mkString(",\n")
    val joinChain = (2 to k).map(i => s"JOIN p$i USING (doc_id)")
      .mkString(" ")
    val pCols = (1 to k).map(i => s"p$i.p$i").mkString(", ")
    val spE = (1 to k).map(i => s"p$i").mkString("(", " + ", ")")
    val sppE = (1 to k).map(i => s"(p$i * p$i)").mkString("(", " + ", ")")
    s"""WITH $logregFeatCte,
       |${logregWCtes(k)},
       |$ps,
       |j AS (SELECT p1.doc_id, p1.y, $pCols
       |  FROM p1 $joinChain),
       |m AS (SELECT doc_id, y,
       |    $spE AS sp,
       |    $sppE AS spp,
       |    $k * $sppE - $spE * $spE AS varn
       |  FROM j),
       |tot AS (SELECT count(*) AS nd, CAST(sum(sp) AS BIGINT) AS tsp,
       |    CAST(sum(varn) AS BIGINT) AS tvar FROM m),
       |r AS (SELECT y,
       |    CASE WHEN nd * sp < tsp THEN 'hard_to_learn'
       |    WHEN nd * varn > tvar THEN 'ambiguous'
       |    ELSE 'easy' END AS region, sp
       |  FROM m, tot)
       |SELECT region, CAST(y AS BIGINT) AS label, count(*) AS n_docs,
       |  round(CAST(sum(sp) AS DOUBLE) / 1e6 / $k / count(*), 6)
       |    AS mean_confidence
       |FROM r GROUP BY region, y ORDER BY region, label""".stripMargin
  }

  // --- q331: Naive-Bayes quality-classifier training ----------------------

  /** q331 — train a multinomial Naive-Bayes text classifier IN the
    * engine and evaluate it on a held-out split: the fastText/CCNet
    * quality-classifier step of an LLM data pipeline, done as pure
    * distributed aggregation (McCallum & Nigam 1998, the public
    * multinomial-NB construction). Task: predict lang='en' from the
    * token bag; split is doc_id % 5 (80 % train / 20 % test); Laplace
    * +1 smoothing; test tokens outside the training vocabulary are
    * dropped (the standard multinomial convention — both engines use
    * the same inner join). Output: the 2×2 confusion matrix with
    * per-cell mean log-odds score.
    *
    * Parity: every count is an exact integer; each token's class
    * log-likelihood ln((c+1)/(N+V)) is frozen to floor(·1e9) BIGINT
    * (q70 discipline — one exact double division feeds one libm ln;
    * only |vocab| distinct arguments exist), so per-document scores
    * are order-free integer sums; prediction is an integer sign test;
    * ONE double division + round per confusion cell at the end.
    *
    * Scale (100 TB): the model IS a vocab-sized aggregate (map-side
    * combinable, two exchanges: token→class counts, then per-doc
    * score sums) broadcast back to the test token stream — no
    * all-pairs, no iteration, no driver math. This is why NB remains
    * the production quality-gate trainer at corpus scale. */
  def nbClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("pos"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    val trainToks = train
      .select(col("pos"), explode(split(col("text"), " ")).as("tok"))
    val counts = trainToks.groupBy("tok").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("cneg"))
    val totals = counts.agg(
      sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals)).selectExpr("tok",
      "CAST(floor(ln(CAST(cpos + 1 AS DOUBLE) / CAST(npos + v AS DOUBLE))" +
        " * 1e9) AS BIGINT)" +
        " - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE) /" +
        " CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp")
    val prior = train.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("dpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("dneg"))
      .selectExpr(
        "CAST(floor(ln(CAST(dpos AS DOUBLE)) * 1e9) AS BIGINT)" +
          " - CAST(floor(ln(CAST(dneg AS DOUBLE)) * 1e9) AS BIGINT)" +
          " AS prior_fp")
    val scores = test
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(llr, Seq("tok")) // vocab-sized model: unhinted
      .groupBy("doc_id").agg(sum(col("llr_fp")).as("sfp"))
    test.join(scores, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("pos").as("actual_en"),
        (col("prior_fp") + coalesce(col("sfp"), lit(0L))).as("score_fp"))
      .withColumn("pred_en", col("score_fp") >= 0L)
      .groupBy("actual_en", "pred_en")
      .agg(count(lit(1)).as("n_docs"), sum(col("score_fp")).as("ssum"))
      .select(col("actual_en"), col("pred_en"), col("n_docs"),
        round(col("ssum").cast("double") / 1e9 / col("n_docs"), 6)
          .as("mean_score"))
      .orderBy("actual_en", "pred_en")
  }

  def nbClassifierOracle: String =
    s"""WITH docs AS (SELECT doc_id, text, lang = 'en' AS pos
       |  FROM documents),
       |train AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
       |test AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
       |ttok AS (SELECT pos, unnest(string_split(text, ' ')) AS tok
       |  FROM train),
       |counts AS (SELECT tok,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg
       |  FROM ttok GROUP BY tok),
       |totals AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
       |    CAST(sum(cneg) AS BIGINT) AS nneg,
       |    CAST(count(*) AS BIGINT) AS v FROM counts),
       |llr AS (SELECT tok,
       |    CAST(floor(ln(CAST(cpos + 1 AS DOUBLE)
       |        / CAST(npos + v AS DOUBLE)) * 1e9) AS BIGINT)
       |      - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE)
       |        / CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp
       |  FROM counts, totals),
       |prior AS (SELECT
       |    CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT)
       |    - CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT) AS prior_fp FROM train),
       |stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM test),
       |sc AS (SELECT doc_id, CAST(sum(llr_fp) AS BIGINT) AS sfp
       |  FROM stok JOIN llr USING (tok) GROUP BY doc_id),
       |pred AS (SELECT t.pos AS actual_en,
       |    prior_fp + coalesce(sc.sfp, 0) AS score_fp
       |  FROM test t LEFT JOIN sc USING (doc_id), prior)
       |SELECT actual_en, score_fp >= 0 AS pred_en,
       |  count(*) AS n_docs,
       |  round(CAST(sum(score_fp) AS DOUBLE) / 1e9 / count(*), 6)
       |    AS mean_score
       |FROM pred GROUP BY actual_en, score_fp >= 0
       |ORDER BY actual_en, pred_en""".stripMargin

  // --- q366: selective-prediction risk–coverage curve ----------------------

  /** Coverage targets for the abstention sweep. */
  val RiskCoverages: Seq[Double] = Seq(1.0, 0.9, 0.75, 0.5, 0.25)

  /** q366 — the risk–coverage curve of the q331 NB gate (selective
    * prediction / abstention: Geifman & El-Yaniv, NeurIPS 2017): rank
    * the held-out docs by confidence |log-odds|, and for each coverage
    * target keep only the most-confident fraction — the selective risk
    * at each point is what an abstaining gate would actually ship.
    * q331 reports ONE confusion matrix; THIS prices the
    * accuracy-vs-throughput dial an operator of the gate turns, and the
    * `accept_threshold` column is the |log-odds| knob value that
    * realizes each coverage. Measured finding on this corpus: the curve
    * is NOT monotone — risk at 25% coverage (0.36 at sf0.01) exceeds
    * risk at 50% (0.28), i.e. the gate's most-confident tail is
    * overconfident (long docs accumulate large |log-odds| regardless of
    * correctness). A monotone curve is the thing this audit is checking
    * FOR; finding the violation is it working.
    *
    * Parity: scores are q331's exact frozen ×10⁹ BIGINT log-odds, so
    * confidence ranking, cut points (ceil of coverage·n as integer
    * arithmetic), error counts, and thresholds are all exact integers;
    * the two output divisions are pinned.
    *
    * Scale (100 TB): the q331 training aggregate + one
    * range-partitioned global rank over the held-out split
    * ([[ScaleOps.withGlobalRank]]); the sweep is conditional
    * aggregation over ONE ranked frame — all five coverage points cost
    * one pass. */
  def riskCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("pos"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    val counts = train
      .select(col("pos"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("cneg"))
    val totals = counts.agg(sum(col("cpos")).as("npos"),
      sum(col("cneg")).as("nneg"), count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals)).selectExpr("tok",
      "CAST(floor(ln(CAST(cpos + 1 AS DOUBLE) / CAST(npos + v AS DOUBLE))" +
        " * 1e9) AS BIGINT)" +
        " - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE) /" +
        " CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp")
    val prior = train.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("dpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("dneg"))
      .selectExpr(
        "CAST(floor(ln(CAST(dpos AS DOUBLE)) * 1e9) AS BIGINT)" +
          " - CAST(floor(ln(CAST(dneg AS DOUBLE)) * 1e9) AS BIGINT)" +
          " AS prior_fp")
    val sums = test
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(llr), Seq("tok"))
      .groupBy("doc_id").agg(sum(col("llr_fp")).as("sfp"))
    val scored = test.join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(prior))
      .selectExpr("doc_id", "pos",
        "prior_fp + coalesce(sfp, 0L) AS score_fp")
      .selectExpr("doc_id", "pos", "score_fp",
        "abs(score_fp) AS conf", "(score_fp >= 0) = pos AS correct")
    val ranked = ScaleOps.withGlobalRank(scored, "rnk",
      col("conf").desc, col("doc_id")).persist()
    val n = broadcast(ranked.agg(count(lit(1)).as("n")))
    val grid = broadcast(s.createDataFrame(
      RiskCoverages.map(Tuple1(_))).toDF("coverage_target"))
    ranked.crossJoin(n).crossJoin(grid)
      .withColumn("k",
        expr("CAST(ceil(coverage_target * CAST(n AS DOUBLE)) AS BIGINT)"))
      .filter(col("rnk") <= col("k"))
      .groupBy("coverage_target")
      .agg(count(lit(1)).as("n_covered"), max("n").as("n_test"),
        sum(when(!col("correct"), 1L).otherwise(0L)).as("n_err"),
        min("conf").as("cut_conf"))
      .selectExpr("coverage_target", "n_covered",
        "round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 4)" +
          " AS coverage",
        "round(CAST(n_err AS DOUBLE) / CAST(n_covered AS DOUBLE), 6)" +
          " AS selective_risk",
        "round(CAST(cut_conf AS DOUBLE) / 1e9, 6) AS accept_threshold")
      .orderBy(col("coverage_target").desc)
  }

  def riskCoverageOracle: String = {
    val grid = RiskCoverages.map(c => s"(${c}::DOUBLE)").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, text, lang = 'en' AS pos
       |  FROM documents),
       |train AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
       |test AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
       |ttok AS (SELECT pos, unnest(string_split(text, ' ')) AS tok
       |  FROM train),
       |counts AS (SELECT tok,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg
       |  FROM ttok GROUP BY tok),
       |totals AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
       |    CAST(sum(cneg) AS BIGINT) AS nneg,
       |    CAST(count(*) AS BIGINT) AS v FROM counts),
       |llr AS (SELECT tok,
       |    CAST(floor(ln(CAST(cpos + 1 AS DOUBLE)
       |        / CAST(npos + v AS DOUBLE)) * 1e9) AS BIGINT)
       |      - CAST(floor(ln(CAST(cneg + 1 AS DOUBLE)
       |        / CAST(nneg + v AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp
       |  FROM counts, totals),
       |prior AS (SELECT
       |    CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT)
       |    - CAST(floor(ln(CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END)
       |      AS DOUBLE)) * 1e9) AS BIGINT) AS prior_fp FROM train),
       |stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM test),
       |sc AS (SELECT doc_id, CAST(sum(llr_fp) AS BIGINT) AS sfp
       |  FROM stok JOIN llr USING (tok) GROUP BY doc_id),
       |scored AS (SELECT t.doc_id, t.pos,
       |    prior_fp + coalesce(sc.sfp, 0) AS score_fp
       |  FROM test t LEFT JOIN sc USING (doc_id), prior),
       |ranked AS (SELECT doc_id, pos, score_fp, abs(score_fp) AS conf,
       |    (score_fp >= 0) = pos AS correct,
       |    row_number() OVER (ORDER BY abs(score_fp) DESC, doc_id)
       |      AS rnk
       |  FROM scored),
       |nn AS (SELECT count(*) AS n FROM ranked)
       |SELECT g.coverage_target, count(*) AS n_covered,
       |  round(CAST(count(*) AS DOUBLE) / CAST(max(nn.n) AS DOUBLE), 4)
       |    AS coverage,
       |  round(CAST(sum(CASE WHEN correct THEN 0 ELSE 1 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS selective_risk,
       |  round(CAST(min(conf) AS DOUBLE) / 1e9, 6) AS accept_threshold
       |FROM (SELECT unnest(ARRAY[$grid]) AS coverage_target) g, ranked r,
       |  nn
       |WHERE r.rnk <= CAST(ceil(g.coverage_target
       |  * CAST(nn.n AS DOUBLE)) AS BIGINT)
       |GROUP BY g.coverage_target
       |ORDER BY g.coverage_target DESC""".stripMargin
  }

  // --- q346: leave-one-source-out NB evaluation (algebraic LOO) ------------

  /** q346 — leave-one-source-out domain evaluation of the q331
    * Naive-Bayes gate, with all 20 LOO models derived ALGEBRAICALLY
    * from one aggregate: NB sufficient statistics are counts, so
    * "train without source s" is global counts MINUS s's counts — one
    * (token, source) aggregate and a re-aggregation replace 20
    * retraining passes (the Spark-native trick that makes LOO free at
    * corpus scale). Each source's documents are scored under the model
    * that never saw that source — the domain-shift readout ("which
    * sources does the classifier only get right by memorizing
    * themselves").
    *
    * Conventions: classes en/not-en as q331; Laplace +1 over the LOO
    * vocabulary (tokens with nonzero LOO count); test tokens outside
    * the LOO vocabulary are dropped (q331's inner-join convention,
    * here a filter on the adjusted count).
    *
    * Parity: every count is exact (global = Σ per-source, so the
    * subtraction is exact integer algebra); per-token log-likelihoods
    * freeze to floor(·1e9) BIGINT per (token, source-out) pair; the
    * decision is an integer sign test; accuracies are ONE division +
    * round per source.
    *
    * Scale (100 TB): ONE (token, source) aggregate (map-combinable) +
    * a vocab-sized re-aggregation to global counts, broadcast back to
    * the token stream; per-source totals/vocab-exclusives are
    * |sources|- and vocab-sized frames. No per-model pass exists
    * anywhere. */
  def looSourceEval(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), (col("lang") === "en").as("pos"),
        explode(split(col("text"), " ")).as("tok"))
    val perSrc = toks.groupBy("tok", "source").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("spos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("sneg")).persist()
    val global = perSrc.groupBy("tok").agg(
      sum(col("spos")).as("gpos"), sum(col("sneg")).as("gneg")).persist()
    // per-source class token totals and exclusive-vocab counts
    val srcTotals = perSrc.groupBy("source").agg(
      sum(col("spos")).as("nspos"), sum(col("sneg")).as("nsneg"))
    val gTotals = global.agg(sum(col("gpos")).as("ngpos"),
      sum(col("gneg")).as("ngneg"), count(lit(1)).as("v"))
    val excl = perSrc.join(global, Seq("tok"))
      .filter(col("spos") + col("sneg") === col("gpos") + col("gneg"))
      .groupBy("source").agg(count(lit(1)).as("v_excl"))
    val docPrior = t(s, dir, "documents")
      .select(col("source"), (col("lang") === "en").as("pos"))
    val srcPrior = docPrior.groupBy("source").agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("dspos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("dsneg"))
    val gPrior = docPrior.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("dgpos"),
      sum(when(!col("pos"), 1L).otherwise(0L)).as("dgneg"))
    // score every doc's tokens under ITS source's LOO model
    val scored = toks
      .join(global, Seq("tok"))      // vocab-scaled model tables:
      .join(perSrc, Seq("tok", "source"), "left") // unhinted (q324)
      .join(broadcast(srcTotals), Seq("source"))
      .join(broadcast(excl), Seq("source"), "left")
      .crossJoin(broadcast(gTotals))
      .selectExpr("doc_id", "source", "pos",
        "gpos - coalesce(spos, 0L) AS lpos",
        "gneg - coalesce(sneg, 0L) AS lneg",
        "ngpos - nspos AS npos", "ngneg - nsneg AS nneg",
        "v - coalesce(v_excl, 0L) AS vloo")
      .filter(col("lpos") + col("lneg") > 0L)
      .selectExpr("doc_id", "source", "pos",
        "CAST(floor(ln(CAST(lpos + 1 AS DOUBLE)" +
          " / CAST(npos + vloo AS DOUBLE)) * 1e9) AS BIGINT)" +
          " - CAST(floor(ln(CAST(lneg + 1 AS DOUBLE)" +
          " / CAST(nneg + vloo AS DOUBLE)) * 1e9) AS BIGINT) AS llr_fp")
      .groupBy("doc_id", "source", "pos")
      .agg(sum(col("llr_fp")).as("sfp"))
    val priors = srcPrior.crossJoin(broadcast(gPrior)).selectExpr("source",
      "CAST(floor(ln(CAST(dgpos - dspos AS DOUBLE)) * 1e9) AS BIGINT)" +
        " - CAST(floor(ln(CAST(dgneg - dsneg AS DOUBLE)) * 1e9)" +
        " AS BIGINT) AS prior_fp")
    // docs whose every token fell outside the LOO vocab score prior-only
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), (col("lang") === "en").as("pos"))
    docs.join(scored.drop("source", "pos"), Seq("doc_id"), "left")
      .join(broadcast(priors), Seq("source"))
      .selectExpr("source", "pos",
        "prior_fp + coalesce(sfp, 0L) AS score_fp")
      .withColumn("correct",
        when((col("score_fp") >= 0L) === col("pos"), 1L).otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_correct"),
        sum(col("score_fp")).as("ssum"))
      .select(col("source"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6)
          .as("accuracy"),
        round(col("ssum").cast("double") / 1e9 / col("n_docs"), 6)
          .as("mean_score"))
      .orderBy("source")
  }

  def looSourceEvalOracle: String =
    s"""WITH tk AS (SELECT doc_id, source, lang = 'en' AS pos,
       |    unnest(string_split(text, ' ')) AS tok FROM documents),
       |per_src AS (SELECT tok, source,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS spos,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS sneg
       |  FROM tk GROUP BY tok, source),
       |g AS (SELECT tok, CAST(sum(spos) AS BIGINT) AS gpos,
       |    CAST(sum(sneg) AS BIGINT) AS gneg FROM per_src GROUP BY tok),
       |src_tot AS (SELECT source, CAST(sum(spos) AS BIGINT) AS nspos,
       |    CAST(sum(sneg) AS BIGINT) AS nsneg
       |  FROM per_src GROUP BY source),
       |g_tot AS (SELECT CAST(sum(gpos) AS BIGINT) AS ngpos,
       |    CAST(sum(gneg) AS BIGINT) AS ngneg,
       |    CAST(count(*) AS BIGINT) AS v FROM g),
       |excl AS (SELECT source, CAST(count(*) AS BIGINT) AS v_excl
       |  FROM per_src JOIN g USING (tok)
       |  WHERE spos + sneg = gpos + gneg GROUP BY source),
       |src_prior AS (SELECT source,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dspos,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
       |      AS dsneg
       |  FROM documents GROUP BY source),
       |g_prior AS (SELECT
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS dgpos,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
       |      AS dgneg
       |  FROM documents),
       |sc AS (SELECT tk.doc_id, tk.source, tk.pos,
       |    CAST(floor(ln(CAST((g.gpos - coalesce(ps.spos, 0)) + 1
       |        AS DOUBLE) / CAST((g_tot.ngpos - st.nspos)
       |        + (g_tot.v - coalesce(excl.v_excl, 0)) AS DOUBLE)) * 1e9)
       |      AS BIGINT)
       |    - CAST(floor(ln(CAST((g.gneg - coalesce(ps.sneg, 0)) + 1
       |        AS DOUBLE) / CAST((g_tot.ngneg - st.nsneg)
       |        + (g_tot.v - coalesce(excl.v_excl, 0)) AS DOUBLE)) * 1e9)
       |      AS BIGINT) AS llr_fp
       |  FROM tk JOIN g USING (tok)
       |  LEFT JOIN per_src ps ON tk.tok = ps.tok
       |    AND tk.source = ps.source
       |  JOIN src_tot st ON tk.source = st.source
       |  LEFT JOIN excl ON tk.source = excl.source
       |  CROSS JOIN g_tot
       |  WHERE (g.gpos - coalesce(ps.spos, 0))
       |    + (g.gneg - coalesce(ps.sneg, 0)) > 0),
       |doc_sc AS (SELECT doc_id, source, pos,
       |    CAST(sum(llr_fp) AS BIGINT) AS sfp
       |  FROM sc GROUP BY doc_id, source, pos),
       |pr AS (SELECT sp.source,
       |    CAST(floor(ln(CAST(gp.dgpos - sp.dspos AS DOUBLE)) * 1e9)
       |      AS BIGINT)
       |    - CAST(floor(ln(CAST(gp.dgneg - sp.dsneg AS DOUBLE)) * 1e9)
       |      AS BIGINT) AS prior_fp
       |  FROM src_prior sp CROSS JOIN g_prior gp),
       |d AS (SELECT doc.source, doc.lang = 'en' AS pos,
       |    pr.prior_fp + coalesce(ds.sfp, 0) AS score_fp
       |  FROM documents doc
       |  LEFT JOIN doc_sc ds ON doc.doc_id = ds.doc_id
       |  JOIN pr ON doc.source = pr.source)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN (score_fp >= 0) = pos THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  round(CAST(sum(CASE WHEN (score_fp >= 0) = pos THEN 1 ELSE 0
       |    END) AS DOUBLE) / count(*), 6) AS accuracy,
       |  round(CAST(sum(score_fp) AS DOUBLE) / 1e9 / count(*), 6)
       |    AS mean_score
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // --- q332: logistic-regression gate trained by distributed GD -----------

  /** Fixed GD iteration count and learning rate (deterministic — the
    * operator is the distributed-training SHAPE, convergence tuning is
    * a knob). */
  val LogRegIters = 3
  val LogRegLr = "0.5"

  /** q332 — train a logistic-regression quality gate by full-batch
    * gradient descent, entirely as Spark aggregates: each of the
    * [[LogRegIters]] iterations is ONE pass computing the exact batch
    * gradient Σ(y−σ(w·x))·x, and the updated weight vector is a
    * 1-row broadcast — the classic "ML on a relational engine" shape
    * (iterate-by-aggregate), and the upgrade path from the q331 NB
    * gate to a calibrated linear probe. Features: token count /100,
    * type-token ratio, bias; label lang='en'. Output: per-iteration
    * weights, frozen train log-loss, and 0.5-threshold accuracy.
    *
    * Parity: features are exact-integer-derived doubles; z and the
    * weight update are parenthesis-pinned exactly-rounded double
    * chains, identical on both engines; every transcendental
    * (σ's exp, the log-loss ln) is frozen to floor(·1e9) BIGINT before
    * summation (q70 discipline), so gradients and losses are
    * order-free integer sums and each iteration's weights are exact
    * functions of integers. The oracle unrolls the three iterations as
    * CTEs (the q308 PCA pattern).
    *
    * Scale (100 TB): per iteration ONE map-side-combinable aggregate
    * over the (persisted) feature frame + a 1-row broadcast back —
    * no driver-side math, no shuffle of the data itself, iteration
    * count fixed. The feature pass is scan-bound; this is exactly how
    * MLlib's LBFGS/GD treeAggregate works, expressed relationally. */
  /** The shared (doc_id, y, x1, x2) feature frame — q332 trains on it,
    * q344 attributes against it; one definition so model and
    * attribution cannot drift. */
  private[graft] def logregFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").selectExpr("doc_id",
      "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y",
      "CAST(size(split(text, ' ')) AS DOUBLE) / 100 AS x1",
      "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
        " / CAST(size(split(text, ' ')) AS DOUBLE) AS x2")

  private[graft] val LogRegZ = "(wb + (wl * x1)) + (wt * x2)"

  private[graft] def logregW0(s: SparkSession): DataFrame =
    s.range(1).selectExpr(
      "CAST(0 AS DOUBLE) AS wb", "CAST(0 AS DOUBLE) AS wl",
      "CAST(0 AS DOUBLE) AS wt")

  /** One full-batch GD step (frozen-gradient; see [[logregGd]]). */
  private[graft] def logregStep(feat: DataFrame, w: DataFrame): DataFrame =
    feat.crossJoin(broadcast(w))
      .selectExpr("y", "x1", "x2",
        s"1.0 / (1.0 + exp(-($LogRegZ))) AS p")
      .agg(
        sum(expr("CAST(floor((y - p) * 1e9) AS BIGINT)")).as("gb"),
        sum(expr("CAST(floor(((y - p) * x1) * 1e9) AS BIGINT)"))
          .as("gl"),
        sum(expr("CAST(floor(((y - p) * x2) * 1e9) AS BIGINT)"))
          .as("gt"),
        count(lit(1)).as("n"))
      .crossJoin(broadcast(w))
      .selectExpr(
        s"wb + ($LogRegLr * ((CAST(gb AS DOUBLE) / 1e9) / n)) AS wb",
        s"wl + ($LogRegLr * ((CAST(gl AS DOUBLE) / 1e9) / n)) AS wl",
        s"wt + ($LogRegLr * ((CAST(gt AS DOUBLE) / 1e9) / n)) AS wt")

  def logregGd(s: SparkSession, dir: String): DataFrame = {
    val feat = logregFeatures(s, dir).persist()
    val w0 = logregW0(s)
    val zExpr = LogRegZ
    def step(w: DataFrame): DataFrame = logregStep(feat, w)
    def stats(w: DataFrame, k: Int): DataFrame =
      feat.crossJoin(broadcast(w))
        .selectExpr("y", s"$zExpr AS z")
        .agg(
          sum(expr("CAST(floor(ln(1.0 + exp(CASE WHEN y = 1.0 THEN -z" +
            " ELSE z END)) * 1e9) AS BIGINT)")).as("lfp"),
          sum(expr("CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END")
            .cast("long")).as("ncorr"),
          count(lit(1)).as("n"))
        .crossJoin(broadcast(w))
        .selectExpr(s"CAST($k AS BIGINT) AS iter",
          "round(wb, 6) AS w_bias", "round(wl, 6) AS w_len",
          "round(wt, 6) AS w_ttr",
          "round((CAST(lfp AS DOUBLE) / 1e9) / n, 6) AS loss",
          "round(CAST(ncorr AS DOUBLE) / n, 6) AS accuracy")
    val (rows, _) = (1 to LogRegIters).foldLeft(
        (Seq.empty[DataFrame], w0)) { case ((acc, w), k) =>
      val w1 = step(w)
      (acc :+ stats(w1, k), w1)
    }
    rows.reduce(_.union(_)).orderBy("iter")
  }

  /** Shared oracle CTE fragments: the feature frame and the unrolled
    * weight recurrence w1..wN — q332's oracle adds per-iteration stats,
    * q344's oracle reads w[[LogRegIters]] for attribution. */
  private def logregFeatCte: String =
    s"""feat AS (SELECT doc_id,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) / 100 AS x1,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2
       |  FROM documents),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS wb, CAST(0 AS DOUBLE) AS wl,
       |  CAST(0 AS DOUBLE) AS wt)""".stripMargin

  /** The unrolled weight-recurrence CTEs z1/g1/w1 … w`iters`. */
  private def logregWCtes(iters: Int = LogRegIters): String =
    (1 to iters).map { k =>
      val pw = s"w${k - 1}"
      s"""z$k AS (SELECT y, x1, x2,
         |    1.0 / (1.0 + exp(-($LogRegZ))) AS p
         |  FROM feat, $pw),
         |g$k AS (SELECT
         |    CAST(sum(CAST(floor((y - p) * 1e9) AS BIGINT)) AS BIGINT)
         |      AS gb,
         |    CAST(sum(CAST(floor(((y - p) * x1) * 1e9) AS BIGINT))
         |      AS BIGINT) AS gl,
         |    CAST(sum(CAST(floor(((y - p) * x2) * 1e9) AS BIGINT))
         |      AS BIGINT) AS gt,
         |    count(*) AS n FROM z$k),
         |w$k AS (SELECT
         |    wb + ($LogRegLr * ((CAST(gb AS DOUBLE) / 1e9) / n)) AS wb,
         |    wl + ($LogRegLr * ((CAST(gl AS DOUBLE) / 1e9) / n)) AS wl,
         |    wt + ($LogRegLr * ((CAST(gt AS DOUBLE) / 1e9) / n)) AS wt
         |  FROM g$k, $pw)""".stripMargin
    }.mkString(",\n")

  def logregGdOracle: String = {
    val z = LogRegZ
    val stats = (1 to LogRegIters).map { k =>
      s"""e$k AS (SELECT y, $z AS z FROM feat, w$k),
         |s$k AS (SELECT CAST($k AS BIGINT) AS iter,
         |    round((SELECT wb FROM w$k), 6) AS w_bias,
         |    round((SELECT wl FROM w$k), 6) AS w_len,
         |    round((SELECT wt FROM w$k), 6) AS w_ttr,
         |    round((CAST(sum(CAST(floor(ln(1.0 + exp(CASE WHEN y = 1.0
         |        THEN -z ELSE z END)) * 1e9) AS BIGINT)) AS DOUBLE)
         |      / 1e9) / count(*), 6) AS loss,
         |    round(CAST(sum(CASE WHEN (z >= 0) = (y = 1.0) THEN 1
         |      ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
         |  FROM e$k)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to LogRegIters).map(k => s"SELECT * FROM s$k")
      .mkString(" UNION ALL ")
    s"""WITH $logregFeatCte,
       |${logregWCtes()},
       |$stats
       |SELECT * FROM ($sel) ORDER BY iter""".stripMargin
  }

  // --- q344: gradient-similarity data attribution (TracIn-style) -----------

  /** Docs reported per direction (helpful / harmful). */
  val TracInK = 10

  /** q344 — training-data attribution by gradient similarity (the
    * single-checkpoint special case of TracIn, Pruthi et al. 2020; the
    * public "influence ≈ ∇ℓ_train · ∇ℓ_val" construction): using the
    * exact q332 model (shared [[logregFeatures]]/[[logregStep]] —
    * one training definition), compute the mean validation gradient on
    * the held-out doc_id%5=0 slice, score every training document by
    * the dot product of its own gradient with it, and report the
    * [[TracInK]] most helpful and most harmful documents — the
    * data-pruning / mislabel-hunting readout ("which documents push
    * the model toward/away from the validation set").
    *
    * Parity: the weight recurrence is q332's (frozen gradients); the
    * validation mean gradient is three frozen integer sums turned into
    * pinned doubles; each document's influence is ONE frozen
    * floor(·1e9) scalar, so the top-k cut is integer rank arithmetic
    * with doc_id tie-break. For a logistic model ∇ℓ_i = (y_i−p_i)·x_i,
    * so the dot product collapses to (y−p)·(g·x) — one expression.
    *
    * Scale (100 TB): three feature-frame passes (train, val-grad,
    * score) + two global top-k sorts (TakeOrdered, no full sort);
    * the model and val-gradient are 1-row broadcasts. Attribution at
    * corpus scale is exactly this shape — per-doc work linear, all
    * cross-doc state O(dims). */
  def tracinAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feat = logregFeatures(s, dir).persist()
    val w3 = (1 to LogRegIters)
      .foldLeft(logregW0(s))((w, _) => logregStep(feat, w))
    val gv = feat.filter(col("doc_id") % 5 === 0)
      .crossJoin(broadcast(w3))
      .selectExpr("y", "x1", "x2",
        s"1.0 / (1.0 + exp(-($LogRegZ))) AS p")
      .agg(
        sum(expr("CAST(floor((y - p) * 1e9) AS BIGINT)")).as("gb"),
        sum(expr("CAST(floor(((y - p) * x1) * 1e9) AS BIGINT)")).as("gl"),
        sum(expr("CAST(floor(((y - p) * x2) * 1e9) AS BIGINT)")).as("gt"),
        count(lit(1)).as("n"))
      .selectExpr("(CAST(gb AS DOUBLE) / 1e9) / n AS gvb",
        "(CAST(gl AS DOUBLE) / 1e9) / n AS gvl",
        "(CAST(gt AS DOUBLE) / 1e9) / n AS gvt")
    val scored = feat.filter(col("doc_id") % 5 =!= 0)
      .crossJoin(broadcast(w3)).crossJoin(broadcast(gv))
      .selectExpr("doc_id", "CAST(y AS BIGINT) AS label",
        s"CAST(floor(((y - (1.0 / (1.0 + exp(-($LogRegZ)))))" +
          " * ((gvb + (gvl * x1)) + (gvt * x2))) * 1e9) AS BIGINT)" +
          " AS score_fp")
    def cut(top: Boolean) = {
      val lim = scored
        .orderBy(if (top) col("score_fp").desc else col("score_fp").asc,
          col("doc_id").asc)
        .limit(TracInK)
      // rank window sits above a Limit — row-bounded by construction
      val w = Window.orderBy(
        if (top) col("score_fp").desc else col("score_fp").asc,
        col("doc_id").asc)
      lim.withColumn("rank", row_number().over(w).cast("bigint"))
        .withColumn("helpful", lit(top))
    }
    cut(top = true).union(cut(top = false))
      .select(col("helpful"), col("rank"), col("doc_id"), col("label"),
        round(col("score_fp").cast("double") / 1e9, 6).as("influence"))
      .orderBy(col("helpful").desc, col("rank"))
  }

  def tracinAttributionOracle: String = {
    val z = LogRegZ
    val wN = s"w$LogRegIters"
    s"""WITH $logregFeatCte,
       |${logregWCtes()},
       |gv AS (SELECT
       |    (CAST(sum(CAST(floor((y - p) * 1e9) AS BIGINT)) AS DOUBLE)
       |      / 1e9) / count(*) AS gvb,
       |    (CAST(sum(CAST(floor(((y - p) * x1) * 1e9) AS BIGINT))
       |      AS DOUBLE) / 1e9) / count(*) AS gvl,
       |    (CAST(sum(CAST(floor(((y - p) * x2) * 1e9) AS BIGINT))
       |      AS DOUBLE) / 1e9) / count(*) AS gvt
       |  FROM (SELECT y, x1, x2, 1.0 / (1.0 + exp(-($z))) AS p
       |    FROM feat, $wN WHERE doc_id % 5 = 0)),
       |sc AS (SELECT doc_id, CAST(y AS BIGINT) AS label,
       |    CAST(floor(((y - (1.0 / (1.0 + exp(-($z)))))
       |      * ((gvb + (gvl * x1)) + (gvt * x2))) * 1e9) AS BIGINT)
       |      AS score_fp
       |  FROM feat, $wN, gv WHERE doc_id % 5 <> 0)
       |SELECT * FROM (
       |  SELECT TRUE AS helpful,
       |    row_number() OVER (ORDER BY score_fp DESC, doc_id) AS "rank",
       |    doc_id, label, round(CAST(score_fp AS DOUBLE) / 1e9, 6)
       |      AS influence
       |  FROM sc ORDER BY score_fp DESC, doc_id LIMIT $TracInK)
       |UNION ALL
       |SELECT * FROM (
       |  SELECT FALSE AS helpful,
       |    row_number() OVER (ORDER BY score_fp ASC, doc_id) AS "rank",
       |    doc_id, label, round(CAST(score_fp AS DOUBLE) / 1e9, 6)
       |      AS influence
       |  FROM sc ORDER BY score_fp ASC, doc_id LIMIT $TracInK)
       |ORDER BY helpful DESC, "rank"""".stripMargin
  }

  // --- q362: ridge regularization path -------------------------------------

  /** Ridge grid as ratios of the mean centered feature second moment —
    * data-relative (the q345 lesson: fixed absolute knobs degenerate
    * across scale factors). */
  val RidgeRatios: Seq[Double] = Seq(0.0, 0.01, 0.1, 1.0)

  /** q362 — the ridge regularization path (Hoerl & Kennard 1970) for
    * y = n_chars on (token count, distinct-token count), every λ on
    * the grid solved from ONE corpus pass: the five centered second
    * moments are exact-integer sufficient statistics, and each grid
    * point is a 2×2 Cramer solve on top of them — the "train k models
    * for the price of one scan" shape (q346's count-subtraction LOO,
    * one knob over). Reports β, the unpenalized intercept, ‖β‖₂, and
    * the effective degrees of freedom df(λ) = Σ dᵢ/(dᵢ+λ) from the
    * closed-form 2×2 eigenvalues — the standard shrinkage readout.
    *
    * Parity: raw sums are exact BIGINTs; the centered moments
    * T = n·Σxᵢxⱼ − ΣxᵢΣxⱼ are computed in DECIMAL(38,0) on both
    * engines (n·s11 passes int64 at large SF — Spark would wrap
    * silently where DuckDB's hugeint keeps the true value; the ~1e36
    * worst case fits 38 digits exactly); each λ's solve is one pinned double
    * chain (products, one division per coefficient, one sqrt for the
    * eigen-gap); the grid's Λ values floor to integers in-plan so both
    * engines add EXACTLY the same ridge.
    *
    * Scale (100 TB): ONE map-combinable aggregate of 9 integer sums;
    * the path itself is metadata-sized arithmetic. Adding grid points
    * costs zero additional scans. */
  def ridgePath(s: SparkSession, dir: String): DataFrame = {
    val sums = EtlOps.t(s, dir, "documents")
      .selectExpr("CAST(n_chars AS BIGINT) AS y",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x1",
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS x2")
      .agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(expr("x1 * x1")).as("s11"), sum(expr("x1 * x2")).as("s12"),
        sum(expr("x2 * x2")).as("s22"), sum(expr("x1 * y")).as("s1y"),
        sum(expr("x2 * y")).as("s2y"))
      .selectExpr("n", "s1", "s2", "sy",
        // centered moments in DECIMAL(38,0): n·s11 can pass int64 at
        // large SF (n~1e13, s11~1e23) where Spark (non-ANSI) would wrap
        // silently while DuckDB's hugeint path keeps the true value —
        // DECIMAL(38,0) holds the ~1e36 worst case exactly on BOTH
        "CAST(n AS DECIMAL(38,0)) * s11"
          + " - CAST(s1 AS DECIMAL(38,0)) * s1 AS t11",
        "CAST(n AS DECIMAL(38,0)) * s12"
          + " - CAST(s1 AS DECIMAL(38,0)) * s2 AS t12",
        "CAST(n AS DECIMAL(38,0)) * s22"
          + " - CAST(s2 AS DECIMAL(38,0)) * s2 AS t22",
        "CAST(n AS DECIMAL(38,0)) * s1y"
          + " - CAST(s1 AS DECIMAL(38,0)) * sy AS t1y",
        "CAST(n AS DECIMAL(38,0)) * s2y"
          + " - CAST(s2 AS DECIMAL(38,0)) * sy AS t2y")
    val grid = s.createDataFrame(RidgeRatios.map(Tuple1(_)))
      .toDF("ratio")
    sums.crossJoin(broadcast(grid))
      .selectExpr("ratio", "n", "s1", "s2", "sy",
        "t11", "t12", "t22", "t1y", "t2y",
        "CAST(floor(ratio * ((CAST(t11 AS DOUBLE)" +
          " + CAST(t22 AS DOUBLE)) / 2.0)) AS BIGINT) AS lam")
      .selectExpr("ratio", "n", "s1", "s2", "sy", "t12", "t1y", "t2y",
        "lam",
        "CAST(t11 + lam AS DOUBLE) AS a11",
        "CAST(t22 + lam AS DOUBLE) AS a22",
        "CAST(t11 AS DOUBLE) AS d11", "CAST(t22 AS DOUBLE) AS d22",
        "CAST(t12 AS DOUBLE) AS d12")
      .selectExpr("ratio", "n", "s1", "s2", "sy", "lam",
        "(a11 * a22 - d12 * d12) AS det",
        "(CAST(t1y AS DOUBLE) * a22 - CAST(t2y AS DOUBLE) * d12)" +
          " AS num1",
        "(CAST(t2y AS DOUBLE) * a11 - CAST(t1y AS DOUBLE) * d12)" +
          " AS num2",
        "((d11 + d22) / 2.0) AS tr2",
        "sqrt((d11 - d22) * (d11 - d22) / 4.0 + d12 * d12) AS gap")
      .selectExpr("ratio", "n", "s1", "s2", "sy", "lam",
        "num1 / det AS b1", "num2 / det AS b2",
        "(tr2 + gap) AS e1", "(tr2 - gap) AS e2")
      .selectExpr("ratio", "lam",
        "round(b1, 6) AS beta1", "round(b2, 6) AS beta2",
        "round((CAST(sy AS DOUBLE) - (b1 * s1 + b2 * s2))" +
          " / CAST(n AS DOUBLE), 6) AS intercept",
        "round(sqrt(b1 * b1 + b2 * b2), 6) AS l2_norm",
        "round(e1 / (e1 + CAST(lam AS DOUBLE))" +
          " + e2 / (e2 + CAST(lam AS DOUBLE)), 4) AS df_eff")
      .orderBy("ratio")
  }

  def ridgePathOracle: String = {
    val grid = RidgeRatios.map(r => s"(${r}::DOUBLE)").mkString(", ")
    s"""WITH rows_ AS (SELECT CAST(n_chars AS BIGINT) AS y,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS x2
       |  FROM documents),
       |sums AS (SELECT count(*) AS n,
       |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
       |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
       |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
       |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
       |    CAST(sum(x2 * y) AS BIGINT) AS s2y
       |  FROM rows_),
       |t AS (SELECT n, s1, s2, sy,
       |    CAST(n AS DECIMAL(38,0)) * s11
       |      - CAST(s1 AS DECIMAL(38,0)) * s1 AS t11,
       |    CAST(n AS DECIMAL(38,0)) * s12
       |      - CAST(s1 AS DECIMAL(38,0)) * s2 AS t12,
       |    CAST(n AS DECIMAL(38,0)) * s22
       |      - CAST(s2 AS DECIMAL(38,0)) * s2 AS t22,
       |    CAST(n AS DECIMAL(38,0)) * s1y
       |      - CAST(s1 AS DECIMAL(38,0)) * sy AS t1y,
       |    CAST(n AS DECIMAL(38,0)) * s2y
       |      - CAST(s2 AS DECIMAL(38,0)) * sy AS t2y
       |  FROM sums),
       |g AS (SELECT * FROM t, (SELECT unnest(ARRAY[$grid]) AS ratio)),
       |l AS (SELECT *, CAST(floor(ratio * ((CAST(t11 AS DOUBLE)
       |    + CAST(t22 AS DOUBLE)) / 2.0)) AS BIGINT) AS lam FROM g),
       |a AS (SELECT ratio, n, s1, s2, sy, t12, t1y, t2y, lam,
       |    CAST(t11 + lam AS DOUBLE) AS a11,
       |    CAST(t22 + lam AS DOUBLE) AS a22,
       |    CAST(t11 AS DOUBLE) AS d11, CAST(t22 AS DOUBLE) AS d22,
       |    CAST(t12 AS DOUBLE) AS d12
       |  FROM l),
       |c AS (SELECT ratio, n, s1, s2, sy, lam,
       |    (a11 * a22 - d12 * d12) AS det,
       |    (CAST(t1y AS DOUBLE) * a22 - CAST(t2y AS DOUBLE) * d12)
       |      AS num1,
       |    (CAST(t2y AS DOUBLE) * a11 - CAST(t1y AS DOUBLE) * d12)
       |      AS num2,
       |    ((d11 + d22) / 2.0) AS tr2,
       |    sqrt((d11 - d22) * (d11 - d22) / 4.0 + d12 * d12) AS gap
       |  FROM a),
       |bb AS (SELECT ratio, n, s1, s2, sy, lam,
       |    num1 / det AS b1, num2 / det AS b2,
       |    (tr2 + gap) AS e1, (tr2 - gap) AS e2
       |  FROM c)
       |SELECT ratio, lam,
       |  round(b1, 6) AS beta1, round(b2, 6) AS beta2,
       |  round((CAST(sy AS DOUBLE) - (b1 * s1 + b2 * s2))
       |    / CAST(n AS DOUBLE), 6) AS intercept,
       |  round(sqrt(b1 * b1 + b2 * b2), 6) AS l2_norm,
       |  round(e1 / (e1 + CAST(lam AS DOUBLE))
       |    + e2 / (e2 + CAST(lam AS DOUBLE)), 4) AS df_eff
       |FROM bb ORDER BY ratio""".stripMargin
  }

  // --- q363: class-balanced effective-number weights -----------------------

  /** β sweep — the paper's standard grid; β→1 approaches plain inverse
    * frequency, small β approaches uniform. */
  val EffNumBetas: Seq[Double] = Seq(0.9, 0.99, 0.999)

  /** q363 — class-balanced loss weights via the effective number of
    * samples (Cui et al., CVPR 2019): E_n = (1−βⁿ)/(1−β) counts how
    * many EFFECTIVELY independent samples a class of size n
    * contributes (duplication saturates information), and the training
    * weight is ∝ 1/E_n, normalized so weights sum to the class count.
    * Swept across [[EffNumBetas]] per language class, with the plain
    * inverse-frequency weight alongside — the table shows the
    * interpolation the paper proves: β→1 converges to inverse
    * frequency, small β flattens toward uniform.
    *
    * Parity: n is an exact count; βⁿ is ONE `power` call on the pinned
    * (β, n) pair (same libm discipline as the suite's in-engine ln);
    * the two cross-class normalizer sums freeze ×10¹² to BIGINT first
    * — order-independent.
    *
    * Scale (100 TB): one map-combinable class count; everything after
    * is |classes|-sized arithmetic. */
  def effNumWeights(s: SparkSession, dir: String): DataFrame = {
    val betaDf = broadcast(s.createDataFrame(
      EffNumBetas.map(Tuple1(_))).toDF("beta"))
    val cls = EtlOps.t(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .crossJoin(betaDf)
      .selectExpr("beta", "lang", "n",
        "(1.0 - power(beta, CAST(n AS DOUBLE))) / (1.0 - beta) AS eff",
        "1.0 / CAST(n AS DOUBLE) AS invf")
      .selectExpr("beta", "lang", "n", "eff", "invf",
        "CAST(floor(1.0 / eff * 1e12) AS BIGINT) AS w_fp",
        "CAST(floor(invf * 1e12) AS BIGINT) AS if_fp")
      .persist()
    val tots = cls.groupBy("beta")
      .agg(sum("w_fp").as("sw"), sum("if_fp").as("sif"),
        count(lit(1)).as("nc"))
    cls.join(broadcast(tots), Seq("beta"))
      .selectExpr("beta", "lang", "n", "round(eff, 4) AS eff_n",
        "round(CAST(w_fp AS DOUBLE) * CAST(nc AS DOUBLE)" +
          " / CAST(sw AS DOUBLE), 6) AS weight_effnum",
        "round(CAST(if_fp AS DOUBLE) * CAST(nc AS DOUBLE)" +
          " / CAST(sif AS DOUBLE), 6) AS weight_invfreq")
      .orderBy("beta", "lang")
  }

  def effNumWeightsOracle: String = {
    val grid = EffNumBetas.map(b => s"(${b}::DOUBLE)").mkString(", ")
    s"""WITH cls0 AS (SELECT lang, count(*) AS n FROM documents
       |  GROUP BY lang),
       |cls AS (SELECT b.beta, c.lang, c.n,
       |    (1.0 - power(b.beta, CAST(c.n AS DOUBLE))) / (1.0 - b.beta)
       |      AS eff,
       |    1.0 / CAST(c.n AS DOUBLE) AS invf
       |  FROM cls0 c, (SELECT unnest(ARRAY[$grid]) AS beta) b),
       |fp AS (SELECT beta, lang, n, eff, invf,
       |    CAST(floor(1.0 / eff * 1e12) AS BIGINT) AS w_fp,
       |    CAST(floor(invf * 1e12) AS BIGINT) AS if_fp
       |  FROM cls),
       |tots AS (SELECT beta, CAST(sum(w_fp) AS BIGINT) AS sw,
       |    CAST(sum(if_fp) AS BIGINT) AS sif, count(*) AS nc
       |  FROM fp GROUP BY beta)
       |SELECT f.beta, f.lang, f.n, round(f.eff, 4) AS eff_n,
       |  round(CAST(f.w_fp AS DOUBLE) * CAST(t.nc AS DOUBLE)
       |    / CAST(t.sw AS DOUBLE), 6) AS weight_effnum,
       |  round(CAST(f.if_fp AS DOUBLE) * CAST(t.nc AS DOUBLE)
       |    / CAST(t.sif AS DOUBLE), 6) AS weight_invfreq
       |FROM fp f JOIN tots t ON f.beta = t.beta
       |ORDER BY f.beta, f.lang""".stripMargin
  }

  // --- q364: training-batch composition audit -------------------------------

  /** Training batch size for the composition audit. */
  val BatchSize = 32

  /** q364 — batch-composition audit: the same corpus cut into
    * [[BatchSize]]-document training batches under two schedules —
    * `ingest` (source-contiguous, the order a naive loader yields) and
    * `hashed` (the suite's content-stable md5 shuffle, q61's
    * discipline) — and, per scheme, the distributional quality of the
    * batches: mean/min distinct sources per batch, the fraction of
    * single-source batches, and mean source entropy. Correlated
    * batches are the silent failure mode of epoch pipelines (gradient
    * noise is no longer i.i.d.; BN/curriculum statistics skew), and
    * this is the audit that catches it BEFORE a training run does.
    * q132 measures ADJACENT-pair same-source autocorrelation within
    * hash shards; THIS measures batch-level composition (distinct
    * sources, entropy, single-source batches) and A/Bs the shuffled
    * schedule against the ingest-order worst case q132 never sees.
    *
    * Parity: batch ids come from the (order key, doc_id) total order;
    * entropy terms freeze to floor(p·(−ln p)·10⁹) BIGINT per
    * (batch, source) cell before summing.
    *
    * Scale (100 TB): two range-partitioned global ranks
    * ([[ScaleOps.withGlobalRank]] — no single-partition window), one
    * (batch, source) aggregate each, then batch- and scheme-level
    * collapses. Everything is map-combinable after the rank. */
  def batchComposition(s: SparkSession, dir: String): DataFrame = {
    val d = EtlOps.t(s, dir, "documents").select("doc_id", "source")
    def scheme(name: String, ordered: DataFrame): DataFrame = {
      val b = ordered
        .withColumn("batch", expr(s"(rnk - 1) div $BatchSize"))
      val cells = b.groupBy("batch", "source")
        .agg(count(lit(1)).as("cnt"))
      val bt = cells.groupBy("batch").agg(
        sum("cnt").as("bn"), count(lit(1)).as("n_src"))
      val ent = cells.join(bt, Seq("batch"))
        .selectExpr("batch",
          "CAST(floor((CAST(cnt AS DOUBLE) / CAST(bn AS DOUBLE))" +
            " * (-ln(CAST(cnt AS DOUBLE) / CAST(bn AS DOUBLE)))" +
            " * 1e9) AS BIGINT) AS e_fp")
        .groupBy("batch").agg(sum("e_fp").as("ent_fp"))
      bt.join(ent, Seq("batch"))
        .agg(count(lit(1)).as("n_batches"),
          sum("n_src").as("sds"), min("n_src").as("min_ds"),
          sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_single"),
          sum("ent_fp").as("sent"))
        .selectExpr(s"'$name' AS scheme", "n_batches",
          "round(CAST(sds AS DOUBLE) / CAST(n_batches AS DOUBLE), 4)" +
            " AS mean_distinct_sources",
          "min_ds AS min_distinct_sources",
          "round(CAST(n_single AS DOUBLE) / CAST(n_batches AS DOUBLE)," +
            " 4) AS frac_single_source",
          "round(CAST(sent AS DOUBLE) / 1e9" +
            " / CAST(n_batches AS DOUBLE), 6) AS mean_entropy")
    }
    val ingest = ScaleOps.withGlobalRank(d, "rnk",
      col("source"), col("doc_id"))
    val hashed = ScaleOps.withGlobalRank(
      d.withColumn("h", md5(col("doc_id").cast("string"))), "rnk",
      col("h"), col("doc_id"))
    scheme("hashed", hashed).unionAll(scheme("ingest", ingest))
      .orderBy("scheme")
  }

  def batchCompositionOracle: String = {
    def schemeSql(name: String, order: String): String =
      s"""sel_$name AS (SELECT '$name' AS scheme, count(*) AS n_batches,
         |    round(CAST(sum(n_src) AS DOUBLE) / count(*), 4)
         |      AS mean_distinct_sources,
         |    min(n_src) AS min_distinct_sources,
         |    round(CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 4) AS frac_single_source,
         |    round(CAST(CAST(sum(ent_fp) AS BIGINT) AS DOUBLE) / 1e9
         |      / count(*), 6) AS mean_entropy
         |  FROM (
         |    SELECT batch, count(*) AS n_src,
         |      CAST(sum(e_fp) AS BIGINT) AS ent_fp,
         |      CAST(sum(cnt) AS BIGINT) AS bn0
         |    FROM (
         |      SELECT batch, source, cnt,
         |        CAST(floor((CAST(cnt AS DOUBLE)
         |          / CAST(sum(cnt) OVER (PARTITION BY batch)
         |            AS DOUBLE))
         |          * (-ln(CAST(cnt AS DOUBLE)
         |          / CAST(sum(cnt) OVER (PARTITION BY batch)
         |            AS DOUBLE))) * 1e9) AS BIGINT) AS e_fp
         |      FROM (
         |        SELECT batch, source, count(*) AS cnt FROM (
         |          SELECT source,
         |            CAST((row_number() OVER (ORDER BY $order) - 1)
         |              // $BatchSize AS BIGINT) AS batch
         |          FROM d)
         |        GROUP BY batch, source))
         |    GROUP BY batch))""".stripMargin
    s"""WITH d AS (SELECT doc_id, source,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM documents),
       |${schemeSql("hashed", "h, doc_id")},
       |${schemeSql("ingest", "source, doc_id")}
       |SELECT * FROM (SELECT * FROM sel_hashed
       |  UNION ALL SELECT * FROM sel_ingest)
       |ORDER BY scheme""".stripMargin
  }

  // --- q361: DSIR importance-weighted data selection -----------------------

  /** Hashed-bigram feature buckets (DSIR's hashed n-gram space). */
  val DsirBuckets = 64

  /** The planted domain phrase — appended to the target corpus AND to
    * the hidden in-domain quarter of the pool, so selection has a
    * falsifiable right answer (the fixture's natural token mix carries
    * no domain signal — measured: per-lang/per-source unigram shares
    * are sampling noise). */
  val DsirMarker = "tensor gradient tensor gradient tensor gradient"

  /** q361 — DSIR data selection with importance resampling weights
    * (Xie et al., NeurIPS 2023): score every pool document by
    * Σ_features n·ln(p_target/p_raw) over hashed word-bigram buckets
    * (two smoothed bucket LMs), select the top-K by score, and report
    * the recovered composition. Target = a small disjoint planted
    * in-domain sample; the pool hides an in-domain quarter (doc_id
    * parity classes — disjoint by construction); K = the planted
    * quarter's size, so the planted/unplanted selection rates ARE the
    * method's precision/recall readout. q334 selects by perplexity
    * against ONE lm; DSIR selects by the RATIO of two — the difference
    * is what makes it a domain-targeting, not a fluency, filter.
    * q131 computes per-SOURCE kept-fractions from unigram-bucket
    * weights against a source-as-target; THIS is the doc-level
    * SELECTION with a top-K budget, bigram features, a planted target
    * with a falsifiable right answer, and the precision/recall readout.
    *
    * Parity: bucket counts are exact integers; each λ_b freezes to
    * floor(ln(ratio)·10⁹) BIGINT once per bucket (64 of them — the
    * q324 ln discipline), so every doc score is an exact BIGINT sum;
    * selection is the (score DESC, doc_id) total order through
    * [[ScaleOps.withGlobalRank]] — no corpus-sized single-partition
    * window.
    *
    * Scale (100 TB): two corpus scans (target is sample-sized), a
    * 64-row broadcast λ table, one map-side-combinable per-doc sum,
    * and the range-partitioned global rank. Nothing quadratic,
    * nothing driver-sized but the 64 λ rows and partition offsets. */
  def dsirSelection(s: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    val d = EtlOps.t(s, dir, "documents").select("doc_id", "text")
    val pool = d.selectExpr("doc_id", "doc_id % 4 = 0 AS planted",
      s"CASE WHEN doc_id % 4 = 0 THEN concat(text, ' $DsirMarker')" +
        " ELSE text END AS text")
    val tgt = d.filter(col("doc_id") % 4 === 1)
      .selectExpr("doc_id", s"concat(text, ' $DsirMarker') AS text")
    def feats(df: DataFrame): DataFrame = df
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(DedupOps.wordGramArrayExpr(2))).as("bg"))
      .withColumn("bkt", call_function("md5_fp60", col("bg")) % b)
    val pf = feats(pool).persist()
    val tc = feats(tgt).groupBy("bkt").agg(count(lit(1)).as("ct"))
    val pc = pf.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val grid = s.range(b.toLong).select(col("id").as("bkt"))
    val tots = tc.agg(sum("ct").as("nt"))
      .crossJoin(pc.agg(sum("cr").as("nr")))
    val lam = grid.join(tc, Seq("bkt"), "left")
      .join(pc, Seq("bkt"), "left").crossJoin(broadcast(tots))
      .selectExpr("bkt",
        ("CAST(floor(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE)" +
          s" / CAST(nt + $b AS DOUBLE))" +
          " / (CAST(coalesce(cr, 0) + 1 AS DOUBLE)" +
          s" / CAST(nr + $b AS DOUBLE))) * 1e9) AS BIGINT) AS lam_fp"))
    val scores = pf.join(broadcast(lam), Seq("bkt"))
      .groupBy("doc_id").agg(sum("lam_fp").as("score_fp"))
    val scored = pool.select("doc_id", "planted")
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("planted"),
        coalesce(col("score_fp"), lit(0L)).as("score_fp"))
    val k = broadcast(pool.agg(
      sum(when(col("planted"), 1L).otherwise(0L)).as("k")))
    val ranked = ScaleOps.withGlobalRank(scored, "rnk",
      col("score_fp").desc, col("doc_id"))
    ranked.crossJoin(k)
      .withColumn("selected", col("rnk") <= col("k"))
      .groupBy("planted")
      .agg(count(lit(1)).as("n_pool"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum("score_fp").as("ssum"))
      .selectExpr("planted", "n_pool", "n_selected",
        "round(CAST(n_selected AS DOUBLE) / CAST(n_pool AS DOUBLE), 4)" +
          " AS sel_rate",
        "round(CAST(ssum AS DOUBLE) / 1e9 / CAST(n_pool AS DOUBLE), 6)" +
          " AS mean_score")
      .orderBy("planted")
  }

  def dsirSelectionOracle: String = {
    val b = DsirBuckets
    val h = "CAST('0x' || substr(md5(bg), 1, 15) AS BIGINT)"
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |pool AS (SELECT doc_id, doc_id % 4 = 0 AS planted,
       |    CASE WHEN doc_id % 4 = 0 THEN text || ' $DsirMarker'
       |      ELSE text END AS text FROM d),
       |tgt AS (SELECT doc_id, text || ' $DsirMarker' AS text
       |  FROM d WHERE doc_id % 4 = 1),
       |pfx AS MATERIALIZED (SELECT doc_id, $h % $b AS bkt FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM pool))),
       |tfx AS (SELECT doc_id, $h % $b AS bkt FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM tgt))),
       |tc AS (SELECT bkt, count(*) AS ct FROM tfx GROUP BY bkt),
       |pc AS (SELECT bkt, count(*) AS cr FROM pfx GROUP BY bkt),
       |tots AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tc) AS nt,
       |  (SELECT CAST(sum(cr) AS BIGINT) FROM pc) AS nr),
       |lam AS MATERIALIZED (SELECT g.bkt,
       |    CAST(floor(ln((CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE)
       |      / CAST(tots.nt + $b AS DOUBLE))
       |      / (CAST(coalesce(pc.cr, 0) + 1 AS DOUBLE)
       |      / CAST(tots.nr + $b AS DOUBLE))) * 1e9) AS BIGINT)
       |      AS lam_fp
       |  FROM (SELECT unnest(range(0, $b)) AS bkt) g
       |  LEFT JOIN tc ON g.bkt = tc.bkt
       |  LEFT JOIN pc ON g.bkt = pc.bkt, tots),
       |sc AS (SELECT pfx.doc_id,
       |    CAST(sum(lam.lam_fp) AS BIGINT) AS score_fp
       |  FROM pfx JOIN lam ON pfx.bkt = lam.bkt GROUP BY pfx.doc_id),
       |scored AS (SELECT p.doc_id, p.planted,
       |    coalesce(sc.score_fp, 0) AS score_fp
       |  FROM pool p LEFT JOIN sc ON p.doc_id = sc.doc_id),
       |kk AS (SELECT CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END)
       |    AS BIGINT) AS k FROM pool),
       |ranked AS (SELECT *, row_number() OVER
       |    (ORDER BY score_fp DESC, doc_id) AS rnk FROM scored)
       |SELECT planted, count(*) AS n_pool,
       |  CAST(sum(CASE WHEN rnk <= kk.k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_selected,
       |  round(CAST(sum(CASE WHEN rnk <= kk.k THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS sel_rate,
       |  round(CAST(CAST(sum(score_fp) AS BIGINT) AS DOUBLE) / 1e9
       |    / CAST(count(*) AS DOUBLE), 6) AS mean_score
       |FROM ranked, kk GROUP BY planted, kk.k ORDER BY planted"""
      .stripMargin
  }
}
