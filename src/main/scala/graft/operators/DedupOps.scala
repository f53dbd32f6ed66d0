package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data-pipeline extension:
  * exact (hash-group), word-shingle Jaccard, MinHash+LSH banding, SimHash.
  *
  * The driver corpus has no natural duplicates, so each query builds a
  * deterministic corpus = documents ∪ perturbed-copy (ids offset by
  * [[CopyOffset]]) and must re-discover the planted near-dup pairs. The
  * oracle replays the identical construction in DuckDB.
  *
  * Scale notes (100 TB): exact dedup is one hash-aggregate (map-side
  * partial on md5 → tiny shuffle). Shingle-join Jaccard is quadratic in
  * colliding shingle groups — it is the *verifier*; MinHash banding is the
  * scale path: signatures are one narrow pass, band buckets shard the
  * candidate join, and only candidates pay the exact-Jaccard cost. SimHash
  * reduces each doc to one 60-bit key; banding or bit-rotation sharding
  * replaces the all-pairs compare at scale.
  */
object DedupOps {

  import EtlOps.t
  import TextOps.md5Fingerprint60

  val CopyOffset = 1000000L

  /** documents ∪ exact copies (ids offset). */
  def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.select((col("doc_id") + CopyOffset).as("doc_id"),
      col("text")))
  }

  /** documents ∪ near-copies (first word dropped; ids offset). */
  def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.select(
      (col("doc_id") + CopyOffset).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  /** documents ∪ graded-similarity variants — the q154 calibration
    * corpus. Variant k ∈ 1..4 drops the first ⌊n·k/5⌋ words (ids offset
    * k·[[CopyOffset]]) and variant 5 is corpusNear's drop-first-word
    * copy (offset 5·CopyOffset), so verified candidate pairs span the
    * exact-Jaccard range ~0.2–0.95 and the decile report is exercised
    * at sf0.01 where CORRECTNESS runs (q149's in-query-fixture
    * pattern) — a single-perturbation corpus populates only the top
    * deciles. */
  def corpusSpread(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val graded = d.select(col("doc_id"), col("text"),
        explode(expr("sequence(1, 4)")).as("k"))
      .select((col("doc_id") + col("k") * CopyOffset).as("doc_id"),
        expr("array_join(slice(split(text, ' '), " +
          "size(split(text, ' ')) * k div 5 + 1, " +
          "size(split(text, ' '))), ' ')").as("text"))
    val near = d.select((col("doc_id") + 5 * CopyOffset).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    d.unionAll(graded).unionAll(near)
  }

  /** Persist a multiply-referenced intermediate for the duration of one
    * query. Self-joins and per-doc size aggregates would otherwise
    * recompute the whole subtree once per reference (ReusedExchange only
    * fires on identical exchange subtrees, and the a/b join sides hash
    * on different keys). The harness mains (Bench/Verify) clear the
    * session cache after each query, so persists never accumulate. */
  private def shared(df: DataFrame): DataFrame = df.persist()

  /** Word n-gram ARRAY expression over a `toks` column — the ONE n-gram
    * generator (shingles here, bigrams/5-grams in
    * [[CurationOps.wordGrams]] build on it). Docs with fewer than n
    * tokens yield an empty array — the guard matters because Spark's
    * sequence(1, 0) counts DOWN ([1, 0]) and would then index
    * element_at(toks, 0), a runtime error (DuckDB's range(1, n-1) is
    * already empty there). */
  def wordGramArrayExpr(n: Int): String = {
    val catParts = (0 until n).map { k =>
      if (k == 0) s"element_at(toks, i + $k)"
      else s"' ', element_at(toks, i + $k)"
    }.mkString(", ")
    s"""CASE WHEN size(toks) >= $n THEN
       |  transform(sequence(1, size(toks) - ${n - 1}),
       |    i -> concat($catParts))
       |ELSE array() END""".stripMargin
  }

  /** Distinct word-trigram shingles per doc: (doc_id, shingle). */
  def shingles(corpus: DataFrame): DataFrame =
    shinglesFromToks(corpus.withColumn("toks", split(col("text"), " ")))

  /** Shingles from an already-tokenized (doc_id, toks) frame — lets a
    * multi-detector query (q156) tokenize the corpus ONCE and feed both
    * the shingle stream and the simhash token stream from it. */
  private[graft] def shinglesFromToks(tokd: DataFrame): DataFrame =
    tokd.select(col("doc_id"),
      explode(array_distinct(expr(wordGramArrayExpr(3)))).as("shingle"))

  /** Drop signature-band buckets holding more than `cap` members — THE
    * hot-bucket guard of the whole banding family, in ONE definition.
    * Identical documents share every band value, so uncapped buckets
    * grow linearly with corpus duplication and candidate PAIRS
    * quadratically (measured: the uncapped forms went from seconds to
    * never-finishing at the synthetic 100×); an over-full bucket is
    * exact-dup/boilerplate mass that q29 owns, not a near-dup signal.
    * Used by q118/q154/q156 (minhash bands), q156's simhash stream, and
    * q159's perceptual-hash bands; `cap = None` is the lossless q31/q32
    * form. */
  private[graft] def capBuckets(bands: DataFrame, keys: Seq[String],
      cap: Option[Int]): DataFrame = cap match {
    case Some(c) =>
      val w = Window.partitionBy(keys.map(col): _*)
      bands.withColumn("bsz", count(lit(1)).over(w))
        .filter(col("bsz") <= c).drop("bsz")
    case None => bands
  }

  /** Banded keys → distinct candidate pairs (doc_a < doc_b), with the
    * hot-bucket cap applied first: shared by q31 (cap = None), q118,
    * q154, and q156's minhash stream. Input must carry (doc_id, keys…)
    * with doc_id unique per bucket (every band stream emits one row per
    * doc per band); output is (doc_a, doc_b).
    *
    * Group-then-expand (the co-activity cell pattern): ONE aggregate
    * collapses each bucket to its sorted member set — the cap becomes a
    * size() filter on the set, identical to [[capBuckets]]' count
    * window because members are unique per bucket — and pairs are
    * emitted in-row from the ≤cap-wide array. The former plan paid the
    * cap's window exchange plus a bucket-key self-join before the
    * distinct; this pays the bucket aggregate and the distinct only. */
  private[graft] def cappedCandidates(bands: DataFrame, cap: Option[Int],
      keys: Seq[String] = Seq("band_idx", "band_hash")): DataFrame = {
    val grouped = bands.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
    val kept = cap match {
      case Some(c) => grouped.filter(size(col("ds")) <= c)
      case None    => grouped
    }
    kept.select(posexplode(col("ds")).as(Seq("i", "doc_a")), col("ds"))
      .select(col("doc_a"),
        explode(expr("slice(ds, i + 2, size(ds))")).as("doc_b"))
      .distinct()
  }

  /** q138 — cross-source duplication matrix: for every source pair
    * (a < b), how many distinct contents appear in BOTH — the
    * provenance audit that tells a mixture designer which
    * "independent" sources are actually mirrors (their weights would
    * otherwise double-count the same text). Within-source duplication
    * is q29's report; this is strictly the cross-source triangle.
    *
    * Shape (q30's group-then-combine, one level up): contents collapse
    * to (hash → sorted distinct source list) — ONE aggregate whose key
    * count is |distinct contents|, pre-filtered to multi-source hashes
    * — then each list emits its ≤ |sources|²/2 in-task pairs and a
    * count-per-pair aggregate over at most |sources|²/2 groups. No
    * self-join of the corpus, ever; at 100 TB the only corpus-sized
    * exchange is the md5 groupBy, which ships 16-byte keys, not
    * documents. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // fixture: the raw corpus has no cross-source exact dups, so plant
    // a mirror site — every 5th document republished under a mir_
    // source (same construction in the oracle; the q29/q31 corpora
    // plant copies the same way)
    val d = t(s, dir, "documents").select(col("text"), col("source"))
    val corpus = d.unionAll(
      d.filter(TextOps.md5Fingerprint60(col("text")) % 5 === 0)
        .select(col("text"), concat(lit("mir_"), col("source")).as("source")))
    val lists = corpus
      .select(md5(col("text")).as("h"), col("source"))
      .distinct()
      .groupBy("h")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
    // Spark lambda indexes are 0-BASED (DuckDB's are 1-based): element
    // i pairs with 1-based positions i+2.. — strictly after itself
    lists
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1), b ->
          |    struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .groupBy("p.src_a", "p.src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  def sourceOverlapOracle: String =
    """WITH corpus AS (SELECT text, source FROM documents
      |  UNION ALL SELECT text, 'mir_' || source FROM documents
      |    WHERE CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 5 = 0),
      |bs AS (SELECT DISTINCT md5(text) AS h, source FROM corpus),
      |ls AS (SELECT h, list_sort(list(source)) AS srcs
      |  FROM bs GROUP BY h HAVING len(list(source)) > 1),
      |pr AS (SELECT unnest(flatten(list_transform(srcs, (a, i) ->
      |      list_transform(srcs[i + 1:], b -> {'src_a': a, 'src_b': b}))))
      |      AS p
      |  FROM ls)
      |SELECT p.src_a AS src_a, p.src_b AS src_b, count(*) AS n_shared
      |FROM pr GROUP BY p.src_a, p.src_b
      |ORDER BY src_a, src_b""".stripMargin

  /** q164 — SOURCE-level overlap from mergeable MinHash union sketches,
    * audited against q138's exact triangle: each source collapses to
    * one [[NumPerms]]-slot signature (per perm, the min over its
    * distinct contents' permuted fingerprints — the union sketch), and
    * every source pair gets its sketch-estimated content Jaccard
    * (agreeing slots / perms) next to the exact one (shared contents /
    * union, from the q138 machinery). The production story is the
    * sketch: 16 longs per source, mergeable across days/shards (min is
    * associative), so the cross-source overlap monitor runs WITHOUT
    * the corpus-sized distinct aggregate the exact triangle needs —
    * this report is the calibration evidence for trusting it.
    *
    * Scale (100 TB): the sketch side is one map-combinable min
    * aggregate over (source, content-fp) — at |sources| × 16 longs of
    * state; the exact side (q138's hash-keyed triangle) is recomputed
    * here only as the audit's ground truth. Pairs are |sources|²/2 —
    * driver-scale. Mirror-source fixture planted as in q138. */
  def sourceOverlapSketch(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("text"), col("source"))
    val corpus = shared(d.unionAll(
      d.filter(TextOps.md5Fingerprint60(col("text")) % 5 === 0)
        .select(col("text"), concat(lit("mir_"), col("source")).as("source"))))
    // distinct (source, content) first: a source's sketch is over its
    // content SET, not its row multiset
    val withX = corpus
      .select(col("source"), col("text")).distinct()
      .select(col("source"),
        (TextOps.md5Fingerprint60(col("text")) % MinhashPrime).as("mh_x"))
    val aggs = (0 until NumPerms).map { i =>
      min((col("mh_x") * permA(i) + permB(i)) % MinhashPrime).as(s"h$i")
    } :+ count(lit(1)).as("n_docs")
    val sigs = shared(withX.groupBy("source").agg(aggs.head, aggs.tail: _*))
    def side(p: String) = sigs.select(
      (col("source").as(s"src_$p") +: (col("n_docs").as(s"n_$p") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"${p}_h$i")))): _*)
    val agree = (0 until NumPerms).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L)).reduce(_ + _)
    val pairs = side("a").join(side("b"), col("src_a") < col("src_b"))
      .withColumn("n_agree", agree)
    // exact shared-content counts — q138's group-then-combine triangle
    val shared2 = corpus
      .select(md5(col("text")).as("h"), col("source")).distinct()
      .groupBy("h").agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1), b ->
          |    struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .groupBy("p.src_a", "p.src_b")
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(shared2, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"), col("n_agree"))
      .withColumn("exact_j", round(
        col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 6))
      .withColumn("est_j",
        round(col("n_agree") / lit(NumPerms.toDouble), 6))
      .select("src_a", "src_b", "n_a", "n_b", "n_shared", "exact_j",
        "est_j")
      .orderBy("src_a", "src_b")
  }

  def sourceOverlapSketchOracle: String = {
    val p = MinhashPrime
    val x = s"${OracleGen.fp60("text")} % $p"
    val mins = (0 until NumPerms).map { i =>
      s"min((($x) * ${permA(i)} + ${permB(i)}) % $p) AS h$i"
    }.mkString(",\n    ")
    val agree = (0 until NumPerms)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH corpus AS (SELECT text, source FROM documents
       |  UNION ALL SELECT text, 'mir_' || source FROM documents
       |    WHERE ${OracleGen.fp60("text")} % 5 = 0),
       |dx AS (SELECT DISTINCT source, text FROM corpus),
       |sigs AS (SELECT source,
       |    $mins,
       |    count(*) AS n_docs
       |  FROM dx GROUP BY source),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b,
       |    a.n_docs AS n_a, b.n_docs AS n_b,
       |    CAST($agree AS BIGINT) AS n_agree
       |  FROM sigs a JOIN sigs b ON a.source < b.source),
       |bs AS (SELECT DISTINCT md5(text) AS h, source FROM corpus),
       |ls AS (SELECT h, list_sort(list(source)) AS srcs
       |  FROM bs GROUP BY h HAVING len(list(source)) > 1),
       |sh2 AS (SELECT p.src_a AS src_a, p.src_b AS src_b,
       |    count(*) AS n_shared
       |  FROM (SELECT unnest(flatten(list_transform(srcs, (a, i) ->
       |      list_transform(srcs[i + 1:], b -> {'src_a': a, 'src_b': b}))))
       |      AS p FROM ls) u
       |  GROUP BY 1, 2)
       |SELECT pr.src_a, pr.src_b, pr.n_a, pr.n_b,
       |  COALESCE(sh2.n_shared, 0) AS n_shared,
       |  round(COALESCE(sh2.n_shared, 0)
       |    / (pr.n_a + pr.n_b - COALESCE(sh2.n_shared, 0)), 6) AS exact_j,
       |  round(pr.n_agree / ${NumPerms.toDouble}, 6) AS est_j
       |FROM pr LEFT JOIN sh2 ON sh2.src_a = pr.src_a
       |  AND sh2.src_b = pr.src_b
       |ORDER BY pr.src_a, pr.src_b""".stripMargin
  }

  /** Containment flag threshold and the blocking df cap for q146. */
  val ContainmentTheta = "0.9"
  val RareShingleDf = 8

  /** q146 — containment near-dup detection: pairs where the SMALLER
    * document's shingles are ≥ [[ContainmentTheta]] contained in the
    * larger's — the asymmetric overlap measure that catches an excerpt
    * swallowed by its source document, which symmetric Jaccard (q30/q31)
    * structurally misses (a 25% excerpt has Jaccard ≈ 0.25 but
    * containment 1.0). Fixture: every 7th document contributes a
    * quarter-length prefix excerpt under an offset id, so the audit
    * provably finds them. Both containment AND Jaccard are reported so
    * the reader sees exactly which pairs the symmetric gate loses.
    *
    * Candidates come from RARE-shingle blocking (document-frequency ≤
    * [[RareShingleDf]]), not MinHash banding: LSH banding's collision
    * probability is a function of JACCARD, so it misses low-Jaccard
    * containment pairs by construction, while any true containment pair
    * shares every one of the contained doc's shingles — including its
    * rare ones. Blocking on rare shingles bounds pair generation at
    * df² per shingle (the q118 hot-bucket logic: frequent shingles are
    * boilerplate, not identity), and verification reuses the in-row
    * array-intersect form.
    *
    * PREFIX filter on top of the blocking (PPJoin / set-similarity-join
    * prefix principle, Xiao et al. 2008): order each document's rare
    * shingles by global (df, shingle) and flag its first
    * n_sh div 10 + 1 as the prefix (= n − ⌈θ·n⌉ + 1 for θ = 0.9,
    * integer-exact). A pair at containment ≥ θ with a the smaller side
    * has |A\B| ≤ ⌊(1−θ)·n_a⌋ < |prefix(a)|, so at least one prefix
    * shingle of a lands in B — generating pairs only where ≥ one side
    * holds the shingle in its prefix keeps every true pair (and every
    * pair the blocking-defined oracle emits) while skipping the
    * verification volume on pairs that only share deep non-prefix
    * shingles. On the planted sf0.1 corpus this cuts candidate pairs
    * ~3×; output is provably identical. */
  def containmentDups(s: SparkSession, dir: String): DataFrame = {
    val sh = containmentCorpusShingles(s, dir)
    containmentVerifiedOf(sh, prefixFilter = true)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        round(expr(
          "CAST(n_inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE)"), 6)
          .as("containment"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6)
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Blocking + verification over an arbitrary (doc_id, shingle) frame:
    * the θ-filtered containment pairs with their raw intersection
    * counts. q146 rounds and orders this; q156 runs it over q31's
    * corpus for the method-agreement audit. */
  private[graft] def containmentVerifiedOf(sh: DataFrame,
      prefixFilter: Boolean): DataFrame = {
    val cands = containmentCandidatesOf(sh, prefixFilter)
    val docSh = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("shs"))
    cands
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_inter_count", col("sh_a"), col("sh_b"))
          .as("n_inter"),
        size(col("sh_a")).cast("bigint").as("n_a"),
        size(col("sh_b")).cast("bigint").as("n_b"))
      .filter(expr("CAST(n_inter AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE)" +
        s" >= $ContainmentTheta"))
  }

  /** q146's corpus (documents + planted quarter-prefix excerpts) as a
    * persisted (doc_id, shingle) frame — shared by candidate generation
    * and verification. */
  private[graft] def containmentCorpusShingles(
      s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val excerpts = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + CopyOffset).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, " +
          "greatest(size(split(text, ' ')) div 4, 4)), ' ')").as("text"))
    shared(shingles(d.unionAll(excerpts)))
  }

  /** q146 candidate pairs from df-capped rare-shingle blocking; with
    * `prefixFilter` the PPJoin prefix condition prunes pairs that only
    * share deep non-prefix shingles (provably lossless — see
    * [[containmentDups]] doc; the spec pins subset + output equality,
    * the non-filtered form exists as the spec's verifier). */
  private[graft] def containmentCandidatesOf(
      sh: DataFrame, prefixFilter: Boolean): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, RareShingleDf))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // prefix length n_sh div 10 + 1 is exact integer arithmetic for
    // θ = 0.9: n − ⌈9n/10⌉ = ⌊n/10⌋ (float ⌈0.9·n⌉ rounds wrong at
    // e.g. n = 20 and would silently shorten the prefix)
    val ranked = sh.join(dfreq, "shingle").join(sizes, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .withColumn("pfx",
        if (prefixFilter) col("rk") <= expr("n_sh div 10 + 1") else lit(true))
    ranked.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pfx"))))
        .as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1), b ->
          |    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |           a.pfx OR b.pfx AS anypfx))))""".stripMargin)).as("p"))
      .filter(col("p.anypfx"))
      .select("p.doc_a", "p.doc_b").distinct()
  }

  def containmentDupsOracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $CopyOffset AS doc_id,
       |    array_to_string(string_split(text, ' ')[1:greatest(
       |      len(string_split(text, ' ')) // 4, 4)], ' ') AS text
       |  FROM documents WHERE doc_id % 7 = 0),
       |${OracleGen.ShingleCtes},
       |blk AS (SELECT shingle, list_sort(list(doc_id)) AS ds FROM sh
       |  GROUP BY shingle HAVING count(*) BETWEEN 2 AND $RareShingleDf),
       |cand AS (SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
       |  SELECT unnest(flatten(list_transform(ds, (a, i) ->
       |    list_transform(ds[i + 1:], b -> {'doc_a': a, 'doc_b': b}))))
       |    AS p FROM blk)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
       |  round(CAST(n_inter AS DOUBLE)
       |    / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS containment,
       |  round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE)
       |  / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= $ContainmentTheta
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q29 — exact dedup: hash-group on content, survivor = min doc_id.
    * One aggregate; at scale this is the cheapest dedup (md5 map-side,
    * 16-byte keys shuffled, not documents). */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    corpusExact(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_copies"))
      .select("survivor_id", "n_copies")
      .orderBy("survivor_id")

  /** Exact pairwise Jaccard over shingle sets for pairs sharing ≥1
    * shingle; returns (doc_a, doc_b, jaccard).
    *
    * Pair generation is group-then-combine, not a self-join: group by
    * shingle into a sorted doc list, then emit every i<j pair in-task.
    * Same 5M-ish pair rows as the join form but with no sort-merge of
    * two 500k-row string-keyed sides, no a<b half-discard, and the
    * multiply-consumed intermediate is the 30k-group list frame (one
    * row per distinct shingle), far smaller than the exploded shingle
    * frame. Sizes fall out of the same grouped frame. */
  def jaccardPairs(sh: DataFrame): DataFrame = {
    val grouped = sh.groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds")).persist()
    val sizes = grouped.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = grouped
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |    y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** SPEC-ONLY exact all-pairs verifier for [[ngramJaccard]] — the same
    * demotion applied to [[simhashDedupAllPairs]] and
    * `GraphOps.knnEdgesBrute`: every pair sharing ≥1 shingle pays an
    * exact Jaccard (group-then-combine, still O(collisions²) pair rows),
    * which is ground truth at fixture scale and a scale-killer at any
    * real corpus size. It therefore lives ONLY behind the
    * PipelineOpsSpec equivalence/recall gates for q30/q31 and never on
    * the query or bench surface. (A prefix-filter variant was measured
    * 3-10x SLOWER here: the corpus vocabulary is tiny, so even
    * globally-rare shingles are hot and the extra freq/rank/join passes
    * dominate — prefix filtering pays off on heavy-tailed vocabularies.)
    */
  def ngramJaccardAllPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingles(corpusNear(s, dir)))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** q30 — n-gram Jaccard near-dup pairs at threshold 0.6, generated
    * the only way that survives 100 TB: the production capped-LSH
    * candidate stream ([[minhashVerified]] with [[LshBucketCap]] — the
    * exact q118 generation) verified by exact shingle Jaccard, then
    * thresholded at 0.6. Same verified-Jaccard semantics as the retired
    * all-pairs form ([[ngramJaccardAllPairs]], now spec-only): any pair
    * this emits IS an exact-Jaccard-0.6 pair (the verify step is exact,
    * so banding can only MISS pairs, never invent them — soundness and
    * measured recall are pinned by the PipelineOpsSpec equivalence
    * gates).
    *
    * Parity: the oracle replays shingling, the 16-perm MinHash, band
    * hashing, the hot-bucket cap, and the final single-division Jaccard
    * — candidate-set and value parity, not just value parity.
    *
    * Scale (100 TB): candidate-proportional — band buckets are capped,
    * so candidate volume is ≤ cap²/2 per bucket (linear in corpus size);
    * the all-pairs shingle self-join never runs. This retired the one
    * quadratic plan that forced q30 out of 10×+ suite runs. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    nearVerified(s, dir, Some(LshBucketCap))
      .filter(col("jaccard") >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  // --- MinHash ---------------------------------------------------------

  // permutation family lives in ONE place ([[graft.functions.MinHashPerms]])
  // — the expression form, the native aggregate, and the generated DuckDB
  // oracle all read these forwarders, so they cannot drift
  val MinhashPrime: Long = graft.functions.MinHashPerms.Prime
  val NumPerms = 16
  val BandSize = 4
  def permA(i: Int): Long = graft.functions.MinHashPerms.permA(i)
  def permB(i: Int): Long = graft.functions.MinHashPerms.permB(i)

  /** MinHash signature per doc: NumPerms columns h0..h{n-1}, where
    * h_i = min over shingles of (a_i * x + b_i) mod p with x the 60-bit
    * md5 shingle fingerprint reduced mod p. a_i ≤ 35 keeps a_i * x well
    * under 2^63 (ANSI-safe, no overflow on either engine). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    // materialize the base hash once per shingle — 16 aggregate
    // expressions each holding their own md5 subtree would hash every
    // shingle 16 times
    val withX = sh.withColumn("mh_x",
      md5Fingerprint60(col("shingle")) % MinhashPrime)
    val aggs = (0 until NumPerms).map { i =>
      min((col("mh_x") * permA(i) + permB(i)) % MinhashPrime).as(s"h$i")
    } :+ count(lit(1)).as("n_sh") // shingle count rides the same pass
    withX.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] via the native buffer aggregate
    * [[graft.functions.MinHashAgg]]: ONE array<long> state updated with
    * a primitive loop instead of 16 separate min(...) aggregate
    * expressions (16 buffer slots, 16 expression dispatches per row).
    * Output schema and VALUES are bit-identical (spec-asserted); this is
    * the TypedImperativeAggregate tier of the custom-operator ladder,
    * the shape to prefer when signatures grow to 128+ permutations. */
  def minhashSignaturesNative(sh: DataFrame): DataFrame = {
    val withX = sh.withColumn("mh_x",
      md5Fingerprint60(col("shingle")) % MinhashPrime)
    val agged = withX.groupBy("doc_id")
      .agg(expr(s"minhash_agg(mh_x, $NumPerms, $MinhashPrime)").as("sig"),
        count(lit(1)).as("n_sh"))
    val cols = col("doc_id") +:
      (0 until NumPerms).map(i => element_at(col("sig"), i + 1).as(s"h$i")) :+
      col("n_sh")
    agged.select(cols: _*)
  }

  /** Fused per-doc aggregate behind the LSH chains: ONE shuffle of the
    * shingle stream produces the minhash signature (native array-state
    * aggregate — [[minhashSignaturesNative]]'s shape), the shingle
    * count, AND the sorted shingle array. The signature table and the
    * per-doc shingle-array table previously each re-shuffled the full
    * shingle stream on the same doc_id key; values are bit-identical
    * to [[minhashSignatures]] + the separate collect_list
    * (spec-asserted for the signature half). Returns the combined
    * (doc_id, sig, n_sh, shs) frame; project with [[sigCols]] /
    * (doc_id, shs) for the classic shapes. */
  private[graft] def sigsWithDocSh(sh: DataFrame): DataFrame = {
    sh.withColumn("mh_x", md5Fingerprint60(col("shingle")) % MinhashPrime)
      .groupBy("doc_id")
      .agg(expr(s"minhash_agg(mh_x, $NumPerms, $MinhashPrime)").as("sig"),
        count(lit(1)).as("n_sh"),
        sort_array(collect_list(col("shingle"))).as("shs"))
  }

  /** h0..h{n-1} + n_sh projection of [[sigsWithDocSh]]'s sig array —
    * the [[minhashSignatures]] output schema. */
  private[graft] def sigCols: Seq[Column] =
    col("doc_id") +:
      (0 until NumPerms).map(i =>
        element_at(col("sig"), i + 1).as(s"h$i")) :+
      col("n_sh")

  /** LSH band keys: (doc_id, band_idx, band_hash) — md5 of the band's
    * signature slice. Candidates = pairs sharing any (band_idx, hash). */
  def lshBands(sigs: DataFrame): DataFrame = {
    val bands = (0 until NumPerms / BandSize).map { bIdx =>
      val slice = (0 until BandSize)
        .map(r => col(s"h${bIdx * BandSize + r}").cast("string"))
      struct(lit(bIdx).as("band_idx"),
        md5(concat_ws(",", slice: _*)).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
  }

  /** The LSH pipeline over [[corpusNear]]: shingles → signatures →
    * band keys → capped verified candidates, the chain q30, q31, q118,
    * q156, q161, q196 and the q59-family labels start from. Tuple =
    * (sh, sigs, bands, docSh, verifiedCapped); each element is a
    * lineage cut. */
  private[graft] def nearLshArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ONE cut on the fused (sig, n_sh, shs) aggregate replaces the
    // separate sh/sigs/docSh cuts: signatures and shingle arrays
    // previously each re-shuffled the full shingle stream on doc_id,
    // and the raw stream itself was checkpointed a third time only to
    // feed them. sigs/docSh are now in-row projections of the one
    // artifact, and the (doc_id, shingle) stream consumers re-derive
    // by exploding the checkpointed arrays (same rows — shingles are
    // distinct per doc and order-free).
    val combined = CurationOps.cutLineage(
      sigsWithDocSh(shingles(corpusNear(s, dir))))
    val sigs = combined.select(sigCols: _*)
    val docSh = combined.select(col("doc_id"), col("shs"))
    val sh = docSh.select(col("doc_id"), explode(col("shs")).as("shingle"))
    val bands = CurationOps.cutLineage(lshBands(sigs))
    val verified = CurationOps.cutLineage(
      verifyPairs(cappedCandidates(bands, Some(LshBucketCap)), docSh))
    (sh, sigs, bands, docSh, verified)
  }

  /** The verified candidate stream over [[corpusNear]] at an arbitrary
    * cap, built on [[nearLshArtifacts]]: the production cap returns
    * the pre-verified artifact directly; other caps re-derive
    * candidates from the checkpointed band keys. */
  private[graft] def nearVerified(s: SparkSession, dir: String,
      bucketCap: Option[Int]): DataFrame = {
    val (_, _, bands, docSh, verifiedCapped) = nearLshArtifacts(s, dir)
    bucketCap match {
      case Some(LshBucketCap) => verifiedCapped
      case c => verifyPairs(cappedCandidates(bands, c), docSh)
    }
  }

  /** q31 — MinHash+LSH near-dup detection: signatures → band buckets →
    * candidate pairs → exact Jaccard computed for the CANDIDATES ONLY
    * (threshold 0.5). This is the LSH scale contract: the all-pairs
    * shingle join (q30's verifier shape) never runs — only candidate
    * pairs explode back to their shingles for the intersection count, so
    * cost is O(candidates × shingles/doc), not O(collisions²). */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    nearVerified(s, dir, bucketCap = None)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Hot-bucket cap for [[minhashLshCapped]]: band buckets holding more
    * than this many docs are dropped from candidate generation. The 10×
    * self-union scaling run (BENCH_NOTES round 6) showed WHY: band
    * buckets grow linearly with corpus duplication and candidate pairs
    * quadratically — an over-full bucket is boilerplate/exact-dup mass
    * that exact dedup (q29) owns, not a near-dup signal. With the cap,
    * candidate volume is ≤ cap²/2 per bucket — linear in corpus size at
    * fixed cap. Pairs whose every shared band is hot are lost; the spec
    * measures that loss on a duplicated corpus instead of assuming it. */
  val LshBucketCap = 16

  /** q118 — production-guarded q31: identical MinHash banding, but
    * candidate generation skips band buckets larger than
    * [[LshBucketCap]]. The oracle replays the cap, so the gate checks
    * the exact semantics, not a sample. */
  def minhashLshCapped(s: SparkSession, dir: String): DataFrame =
    nearVerified(s, dir, bucketCap = Some(LshBucketCap))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  // --- q154: LSH estimator calibration ----------------------------------

  /** q154 — MinHash estimator calibration audit: for every LSH candidate
    * pair, compare the SKETCH similarity estimate (fraction of agreeing
    * signature components, n_agree/[[NumPerms]]) against the EXACT
    * shingle Jaccard, bucketed by exact similarity decile. The report —
    * per-bucket pair count, mean exact Jaccard, mean estimate, mean
    * absolute error — is the evidence for choosing [[NumPerms]]: E[est]
    * = J per pair (Broder), so a per-bucket gap between avg_est and
    * avg_jaccard exposes CANDIDATE-CONDITIONING bias (pairs enter only
    * by sharing a band, which selects for upward-fluctuating sketches
    * at low similarity — visible here, invisible to q31's output), and
    * avg_abs_err tracks the √(J(1−J)/k) sketch noise. The corpus is
    * [[corpusSpread]] — graded-perturbation variants spanning J ≈
    * 0.2–0.95 — so the decile report is substantive at sf0.01 (≥ 6
    * populated buckets), not 3 buckets of near-identical pairs.
    *
    * Float determinism: per-pair jaccard and est are single divisions;
    * bucket means sum exact DECIMAL(18,12) images of the per-pair
    * doubles (order-free), then ONE double division each.
    *
    * Scale (100 TB): candidate-proportional over the PRODUCTION
    * candidate set — q118's hot-bucket-capped generation, not q31's
    * uncapped one. The cap is load-bearing here, not cosmetic: on a
    * duplicated corpus identical texts share identical signatures, so
    * uncapped band buckets grow linearly with duplication and candidate
    * PAIRS quadratically (measured: the uncapped form ran minutes at
    * the synthetic 100× while every capped query stayed seconds).
    * Auditing the capped set is also what production wants — the
    * estimator is only ever acted on through capped candidates.
    * Signatures and shingle arrays join per candidate, never all-pairs;
    * the per-bucket aggregate is 10 rows. Zero-overlap candidates
    * (possible only via genuine minhash collisions) are excluded on
    * both sides. */
  def lshCalibration(s: SparkSession, dir: String): DataFrame = {
    val (sigs, cands, docSh, _) = spreadLshArtifacts(s, dir)
    def sigSide(side: String) = sigs.select(
      (col("doc_id").as(s"doc_$side") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"${side}_h$i"))): _*)
    val agreeExpr = (0 until NumPerms).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val pairs = cands
      .join(sigSide("a"), Seq("doc_a"))
      .join(sigSide("b"), Seq("doc_b"))
      .withColumn("n_agree", agreeExpr)
      .select(col("doc_a"), col("doc_b"), col("n_agree"))
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        call_function("sorted_inter_count", col("sh_a"), col("sh_b"))
          .as("n_inter"),
        size(col("sh_a")).cast("bigint").as("n_a"),
        size(col("sh_b")).cast("bigint").as("n_b"))
      .filter(col("n_inter") > 0)
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
    pairs
      .withColumn("sim_bucket",
        least(floor(col("jaccard") * 10).cast("bigint"), lit(9L)))
      .withColumn("abs_err",
        abs(col("n_agree") / lit(NumPerms.toDouble) - col("jaccard")))
      .groupBy("sim_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(18,12)")).as("sj"),
        sum(col("n_agree")).as("sa"),
        sum(col("abs_err").cast("decimal(18,12)")).as("se"))
      .select(col("sim_bucket"), col("n_pairs"),
        round(col("sj").cast("double") / col("n_pairs"), 6)
          .as("avg_jaccard"),
        round(col("sa").cast("double") /
          (lit(NumPerms.toDouble) * col("n_pairs")), 6).as("avg_est"),
        round(col("se").cast("double") / col("n_pairs"), 6)
          .as("avg_abs_err"))
      .orderBy("sim_bucket")
  }

  // --- q327: MinHash permutation-count sensitivity curve -----------------

  /** Signature-prefix sizes swept by the k-curve (production uses
    * [[NumPerms]] = 16; prefixes of the SAME signature are themselves
    * valid k-perm MinHash sketches, so no re-hashing is needed). */
  val PermCounts = Seq(4, 8, 16)

  /** q327 — MinHash permutation-count sensitivity: the LAST un-audited
    * dedup knob. q196 sweeps the threshold τ, q320 the shingle width w,
    * q233 the banding geometry, q317 the hot-bucket cap — this sweeps
    * k, the signature size, by scoring every production candidate pair
    * (q118's capped stream over the graded [[corpusSpread]]) with the
    * first-k-component estimate for k ∈ [[PermCounts]] against the
    * exact shingle Jaccard: per k, mean |error| (the √(J(1−J)/k)
    * sketch noise) and mean signed error (the candidate-conditioning
    * bias q154 exposes at k=16 — smaller k inflates it, which is the
    * argument for NOT shrinking signatures even where banding still
    * works). Storage per doc scales linearly with k, so this table is
    * the cost/accuracy evidence for the 100 TB index-sizing decision.
    *
    * Parity: prefix agreements are exact integer comparisons on the
    * shared signature CTE; est = agree/k and err = est − jaccard are
    * single IEEE ops; means freeze through DECIMAL(18,12) (q154
    * discipline); mean_bias adds +0.0 on both engines so a vanishing
    * negative mean cannot round to DuckDB's −0.0 (the q318 trap).
    *
    * Scale (100 TB): candidate-proportional over the capped stream —
    * the k-sweep rides ONE pair frame (the 16 components are already
    * there; prefixes are free), exploding |pairs|×3 slim rows into a
    * 3-group aggregate. */
  def permCountCurve(s: SparkSession, dir: String): DataFrame = {
    val (cutSigs, cands, cutDocSh, _) = spreadLshArtifacts(s, dir)
    // each pair side reads both frames: persisted once for the query
    val sigs = shared(cutSigs)
    val docSh = shared(cutDocSh)
    def sigSide(side: String) = sigs.select(
      (col("doc_id").as(s"doc_$side") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"${side}_h$i"))): _*)
    def agreeK(k: Int) = (0 until k).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val pairs = cands
      .join(sigSide("a"), Seq("doc_a"))
      .join(sigSide("b"), Seq("doc_b"))
      .select((col("doc_a") +: col("doc_b") +:
        PermCounts.map(k => agreeK(k).as(s"agree_$k"))): _*)
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        Seq("doc_b"))
      .withColumn("n_inter",
        call_function("sorted_inter_count", col("sh_a"), col("sh_b")))
      .filter(col("n_inter") > 0)
      .withColumn("jaccard", col("n_inter") /
        (size(col("sh_a")).cast("bigint") + size(col("sh_b")).cast("bigint")
          - col("n_inter")))
    val kStructs = PermCounts.map(k => struct(lit(k.toLong).as("k"),
      (col(s"agree_$k").cast("double") / k).as("est")))
    pairs
      .select(col("jaccard"), explode(array(kStructs: _*)).as("ke"))
      .select(col("ke.k").as("n_perms"),
        (col("ke.est") - col("jaccard")).as("err"))
      .groupBy("n_perms")
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("err")).cast("decimal(18,12)")).as("sae"),
        sum(col("err").cast("decimal(18,12)")).as("sse"))
      .select(col("n_perms"), col("n_pairs"),
        round(col("sae").cast("double") / col("n_pairs"), 6)
          .as("mean_abs_err"),
        (round(col("sse").cast("double") / col("n_pairs"), 6) + lit(0.0))
          .as("mean_bias"))
      .orderBy("n_perms")
  }

  def permCountCurveOracle: String = {
    def agreeK(k: Int) = (0 until k)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val agreeCols = PermCounts
      .map(k => s"(${agreeK(k)}) AS agree_$k").mkString(",\n    ")
    val keRows = PermCounts.map(k =>
      s"""SELECT CAST($k AS BIGINT) AS n_perms,
         |    agree_$k / $k.0 - jaccard AS err FROM pairs""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH ${OracleGen.lshCandSpreadCtes},
       |ag AS (SELECT c.doc_a, c.doc_b,
       |    $agreeCols
       |  FROM cand c JOIN sigs a ON a.doc_id = c.doc_a
       |  JOIN sigs b ON b.doc_id = c.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT ag.doc_a, ag.doc_b,
       |    ${PermCounts.map(k => s"ag.agree_$k").mkString(", ")},
       |    inter.n_inter / (sa.n_sh + sb.n_sh - inter.n_inter) AS jaccard
       |  FROM ag JOIN inter USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = ag.doc_a
       |  JOIN sizes sb ON sb.doc_id = ag.doc_b),
       |ke AS (
       |  $keRows)
       |SELECT n_perms, count(*) AS n_pairs,
       |  round(CAST(sum(CAST(abs(err) AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) AS mean_abs_err,
       |  round(CAST(sum(CAST(err AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) + 0.0 AS mean_bias
       |FROM ke GROUP BY n_perms ORDER BY n_perms""".stripMargin
  }

  /** The shared LSH near-dup pipeline over an arbitrary (doc_id, text)
    * corpus — q31 with `bucketCap = None`, q118 with the cap; the spec
    * also drives it with synthetically duplicated corpora. */
  private[graft] def minhashLshOf(corpus: DataFrame,
      bucketCap: Option[Int], shOpt: Option[DataFrame] = None): DataFrame =
    minhashLshPairs(corpus, bucketCap, shOpt)
      .orderBy("doc_a", "doc_b")

  /** [[minhashLshOf]] WITHOUT the output ordering — for internal
    * consumers (label propagation, pair-set unions/aggregates) where
    * q31's global sort is dead weight: Catalyst does not reliably
    * eliminate an orderBy below a later join/aggregate, and the sort's
    * range exchange was being MATERIALIZED by the consumers'
    * lineage cuts (guide §2.4: remove shuffles outright). Result SET is
    * identical; only the row order differs, and every consumer is
    * order-free. */
  private[graft] def minhashLshPairs(corpus: DataFrame,
      bucketCap: Option[Int], shOpt: Option[DataFrame] = None): DataFrame =
    minhashVerified(corpus, bucketCap, shOpt)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")

  private[graft] def minhashVerified(corpus: DataFrame,
      bucketCap: Option[Int], shOpt: Option[DataFrame] = None): DataFrame = {
    // fused (sig, shs) aggregate — one doc_id shuffle of the shingle
    // stream feeds both the band keys and the verification arrays
    // (persisted: the candidate join and both verify sides reference it)
    val combined = shared(
      sigsWithDocSh(shOpt.getOrElse(shingles(corpus))))
    val cands = cappedCandidates(
      lshBands(combined.select(sigCols: _*)), bucketCap)
    verifyPairs(cands, combined.select(col("doc_id"), col("shs")))
  }

  /** The candidate-verification block: exact shingle Jaccard for each
    * (doc_a, doc_b) candidate, given the per-doc shingle-array table.
    * Joins each side's shingle SET as one array row and intersects
    * in-row — the explode-to-shingles form shipped ~|shingles/doc| rows
    * per candidate side through the join and paid a per-pair
    * re-aggregate; this ships ONE slim array row per side and no
    * aggregate. Same O(candidates × shingles/doc) compare work, but
    * inside the row, intersected via hash set. (If documents grew to
    * ~10⁵ shingles the array row stops being slim and the exploded join
    * wins again — shingle docs here are ~10².) */
  private[graft] def verifyPairs(cands: DataFrame, docSh: DataFrame)
      : DataFrame =
    cands
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_inter_count", col("sh_a"), col("sh_b"))
          .as("n_inter"),
        size(col("sh_a")).cast("bigint").as("n_a"),
        size(col("sh_b")).cast("bigint").as("n_b"))
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))

  /** The production candidate stream over the graded [[corpusSpread]]
    * corpus: the q118-capped generation the q154, q218, q315 and q327
    * audits score. Tuple = (sigs, cands, docSh, verified); every
    * element is a lineage cut. */
  private[graft] def spreadLshArtifacts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ONE cut on the fused (sig, n_sh, shs) aggregate — signatures
    // and shingle arrays previously each re-shuffled the full spread
    // shingle stream on doc_id (see nearLshArtifacts)
    val combined = CurationOps.cutLineage(
      sigsWithDocSh(shingles(corpusSpread(s, dir))))
    val sigs = combined.select(sigCols: _*)
    val docSh = combined.select(col("doc_id"), col("shs"))
    val cands = CurationOps.cutLineage(
      cappedCandidates(lshBands(sigs), Some(LshBucketCap)))
    val verified = CurationOps.cutLineage(verifyPairs(cands, docSh))
    (sigs, cands, docSh, verified)
  }


  // --- q196: dedup threshold sensitivity curve ---------------------------

  /** Thresholds swept by the sensitivity curve. */
  val DedupThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** q196 — dedup threshold sensitivity: the q118 production candidate
    * stream (capped LSH, exact Jaccard verified, UNthresholded via
    * [[minhashVerified]]) swept across [[DedupThresholds]], reporting
    * per threshold the surviving pair count, the documents a greedy
    * keep-smallest-id pass would drop (distinct doc_b — the pairwise
    * upper bound; transitive closure is q59's job) and the corpus drop
    * fraction. THE evidence for choosing the dedup threshold: one run
    * prices every candidate τ instead of re-running dedup per setting.
    *
    * Parity: pair/doc counts are integers; jaccard and the τ literals
    * are identical doubles in both engines, so the ≥ comparisons agree
    * bit-for-bit; drop_frac is one division.
    *
    * Scale (100 TB): the expensive part (candidates + verification) is
    * paid ONCE — exactly q118's cost; the sweep multiplies only the
    * verified pair stream (candidate-bounded) by |thresholds|. */
  def thresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusNear(s, dir)
    val pairs = nearVerified(s, dir, Some(LshBucketCap))
      .select("doc_a", "doc_b", "jaccard")
    val nC = corpus.agg(count(lit(1)).as("n_corpus"))
    val thr = s.createDataFrame(DedupThresholds.map(Tuple1(_)))
      .toDF("threshold")
    val agg = pairs.crossJoin(broadcast(thr))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
    broadcast(thr).join(agg, Seq("threshold"), "left")
      .crossJoin(broadcast(nC))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
        col("n_corpus"),
        round(coalesce(col("n_docs_dropped"), lit(0L)).cast("double") /
          col("n_corpus").cast("double"), 6).as("drop_frac"))
      .orderBy("threshold")
  }

  // --- q161: incremental near-dup vs a standing LSH index ----------------

  /** q161 — the INCREMENTAL form of q118, the maintenance operation a
    * dedup service actually runs at 100 TB: a standing signature/band
    * index over the accepted corpus (here the original documents) and
    * an arriving batch (the near-copies, ids ≥ [[CopyOffset]]) checked
    * against it. Candidates are batch-bands ⋈ index-bands only — never
    * batch×batch (intra-batch dups are the NEXT run's index problem)
    * and never the index against itself (already clean) — under the
    * same [[capBuckets]] guard over combined bucket sizes that q118
    * applies, so incremental and full-rebuild agree exactly: the spec
    * pins q161 ≡ q118's output restricted to cross pairs. Verification
    * is the per-candidate exact Jaccard ≥ 0.5.
    *
    * Scale (100 TB): the band index is the persisted artifact —
    * bucketed/partitioned by (band_idx, band_hash) — so an arriving
    * batch shuffles only ITSELF to the index's layout; per-bucket
    * counts are index metadata updated additively. Cost is
    * O(batch × bands) + candidates, independent of corpus size, which
    * is the whole point of maintaining the index. */
  def incrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val (_, _, bands, docSh, _) = nearLshArtifacts(s, dir)
    val kept = shared(capBuckets(bands,
      Seq("band_idx", "band_hash"), Some(LshBucketCap)))
    val cands = kept.filter(col("doc_id") >= CopyOffset)
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      .join(kept.filter(col("doc_id") < CopyOffset)
        .select(col("doc_id").as("doc_b"), col("band_idx"),
          col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct()
    cands
      .join(docSh.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")),
        Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_inter_count", col("sh_a"), col("sh_b"))
          .as("n_inter"),
        size(col("sh_a")).cast("bigint").as("n_a"),
        size(col("sh_b")).cast("bigint").as("n_b"))
      .withColumn("jaccard",
        col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("new_doc"), col("doc_b").as("matched_doc"),
        col("jaccard"))
      .orderBy("new_doc", "matched_doc")
  }

  // --- q156: dedup-method agreement Venn ---------------------------------

  /** q156 — near-dup METHOD agreement audit: every pair flagged by any
    * of the three structurally different detectors over the SAME
    * corpus — MinHash-LSH verified Jaccard ≥ 0.5 (q118's capped
    * candidate stream), SimHash banded Hamming ≤ 4 (band buckets
    * capped the same way), rare-shingle-blocked containment ≥ 0.9
    * (q146's df-capped rule) — collapsed to the membership Venn: one
    * row per (in_minhash, in_simhash, in_containment) cell with its
    * pair count. This is the method-selection evidence a pipeline
    * owner wants before standardizing on one detector: cells like
    * (false,false,true) are exactly the excerpt-shaped pairs only the
    * asymmetric measure sees, and (true,false,·) measures what the
    * bit-sketch loses against the set-sketch at these thresholds.
    *
    * Scale (100 TB): ALL THREE streams run production-guarded —
    * capped LSH buckets, capped simhash band buckets, df-capped
    * containment blocking. The guards are load-bearing, not optional:
    * composed from the uncapped q31/q32 forms this query measured 18×
    * growth on 10× duplicated data (identical texts share every
    * band, buckets grow with duplication, pairs quadratically); capped
    * it is linear like its inputs. The Venn adds one pair-keyed
    * aggregate over their UNION (≤ 3× the largest stream) and a
    * ≤8-row final rollup. */
  def dedupMethodVenn(s: SparkSession, dir: String): DataFrame = {
    // ONE tokenized pass of the corpus feeds ALL THREE detectors: the
    // shingle frame (minhash + containment) and the simhash token
    // stream both derive from the persisted (doc_id, toks) frame, so
    // the corpus is read and split exactly once instead of the simhash
    // stream re-tokenizing it from scratch (round-9 scan cut).
    // the minhash and containment streams ride the shared
    // [[nearLshArtifacts]] shingle/candidate chain; only the simhash
    // stream still tokenizes (its token stream, not shingles)
    val (sh, _, _, _, verified) = nearLshArtifacts(s, dir)
    val tokd = corpusNear(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val mh = verified.filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit("m").as("src"))
    val sim = simhashPairsOfSigs(
        shared(simhashSignaturesFromToks(
          tokd.select(col("doc_id"), explode(col("toks")).as("tok")))),
        bucketCap = Some(LshBucketCap))
      .select(col("doc_a"), col("doc_b"), lit("s").as("src"))
    val cont = containmentVerifiedOf(sh, prefixFilter = true)
      .select(col("doc_a"), col("doc_b"), lit("c").as("src"))
    mh.unionAll(sim).unionAll(cont)
      .groupBy("doc_a", "doc_b")
      .agg(max(when(col("src") === "m", 1).otherwise(0)).as("m"),
        max(when(col("src") === "s", 1).otherwise(0)).as("si"),
        max(when(col("src") === "c", 1).otherwise(0)).as("c"))
      .groupBy((col("m") === 1).as("in_minhash"),
        (col("si") === 1).as("in_simhash"),
        (col("c") === 1).as("in_containment"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_minhash", "in_simhash", "in_containment")
  }

  // --- q119: eval-set contamination audit --------------------------------

  /** n-gram width for the contamination audit. GPT-3/Llama-style
    * decontamination scans for 13-gram train/eval overlap; 8 fits this
    * corpus's ~100-word documents while keeping the same math. */
  val ContamGramN = 8

  /** Contamination flag threshold: a val doc whose 8-grams are ≥ half
    * covered by the train set is contaminated. */
  val ContamThreshold = 0.5

  /** q119 — eval-set contamination audit (the standard decontamination
    * report a training pipeline ships next to its split): deterministic
    * train/val split, then for each val document the fraction of its
    * distinct word-[[ContamGramN]]-grams that appear ANYWHERE in the
    * train set. The fixture makes both outcomes real: val docs are
    * originals with doc_id % 10 == 0, and the train side includes the
    * near-copies of only HALF of them (doc_id % 20 == 0), so those
    * audit as contaminated and the rest as clean.
    *
    * Distributed shape: one distinct-gram aggregate per side, one
    * shuffle join on the gram key, one count-per-doc — all
    * map-combinable; at 100 TB the train-gram set is the big side and
    * the join is the standard pre-partitionable key join (with a bloom
    * filter on train grams as the q66-style pre-prune when the val side
    * is small). No similarity machinery involved: contamination is
    * exact containment, not near-dup.
    *
    * Parity: grams are plain string concatenation (the q30 shingle
    * machinery at n=8), counts are BIGINT, the ratio is one
    * BIGINT/BIGINT double division, and the flag one comparison — all
    * bit-stable on both engines. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val all = corpusNear(s, dir)
    val valDocs = all.filter(col("doc_id") < CopyOffset &&
      col("doc_id") % 10 === 0)
    val train = all.filter(
      (col("doc_id") < CopyOffset && col("doc_id") % 10 =!= 0) ||
        (col("doc_id") >= CopyOffset &&
          (col("doc_id") - CopyOffset) % 20 === 0))
    def grams(df: DataFrame): DataFrame = df
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(array_distinct(expr(wordGramArrayExpr(ContamGramN))))
          .as("gram"))
    val trainGrams = grams(train).select("gram").distinct()
    val valGrams = shared(grams(valDocs))
    val totals = valGrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val hits = valGrams.join(trainGrams, Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contaminated",
        col("n_hit") / col("n_grams") >= ContamThreshold)
      .orderBy("doc_id")
  }

  /** q166 — contamination PROVENANCE: q119 flags which val documents
    * are covered by train-set n-grams; this attributes the leak — for
    * every val document with any overlap, which train SOURCE holds the
    * most of its distinct [[ContamGramN]]-grams, with the hit count
    * and fraction. The actionable output of a decontamination
    * incident: q119 says "the benchmark leaked", q166 says "it leaked
    * through source X", which is what gets a source quarantined or a
    * scraper fixed. Fixture: the q119 corpus with sources carried
    * through — planted near-copies inherit their base document's
    * source, so each contaminated val doc's top source is provably its
    * own.
    *
    * Shape: distinct (gram, source) on the train side — the gram
    * stream collapses BEFORE the join, so the join ships each gram
    * once per holding source, not once per occurrence — then one
    * (val_doc, source) count and a row_number top-1 per val doc.
    * At 100 TB: gram keys become 16-byte fingerprints, the (gram,
    * source) distinct is the only corpus-sized aggregate, and the
    * final window partitions by val doc. */
  def contaminationProvenance(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val all = d.unionAll(d.select(
      (col("doc_id") + CopyOffset).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"),
      col("source")))
    val valDocs = all.filter(col("doc_id") < CopyOffset &&
      col("doc_id") % 10 === 0)
    val train = all.filter(
      (col("doc_id") < CopyOffset && col("doc_id") % 10 =!= 0) ||
        (col("doc_id") >= CopyOffset &&
          (col("doc_id") - CopyOffset) % 20 === 0))
    def grams(df: DataFrame, keep: Column*): DataFrame = df
      .withColumn("toks", split(col("text"), " "))
      .select(keep :+
        explode(array_distinct(expr(wordGramArrayExpr(ContamGramN))))
          .as("gram"): _*)
    val trainGrams = grams(train, col("source")).distinct()
    val valGrams = shared(grams(valDocs, col("doc_id")))
    val totals = valGrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("n_hit").desc, col("source"))
    valGrams.join(trainGrams, Seq("gram"))
      .groupBy("doc_id", "source").agg(count(lit(1)).as("n_hit"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .join(totals, Seq("doc_id"))
      .select(col("doc_id").as("val_doc"), col("source").as("top_source"),
        col("n_grams"), col("n_hit"),
        round(col("n_hit") / col("n_grams"), 6).as("hit_frac"))
      .orderBy("val_doc")
  }

  def contaminationProvenanceOracle: String = {
    val n = ContamGramN
    val off = CopyOffset
    val cat = (0 until n)
      .map(k => if (k == 0) "toks[i]" else s"toks[i+$k]")
      .mkString(" || ' ' || ")
    def gramsOf(src: String, cols: String): String =
      s"""SELECT DISTINCT $cols gram FROM (
         |  SELECT doc_id, source, unnest(list_transform(
         |    range(1, len(toks) - ${n - 2}), i -> $cat)) AS gram
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
         |    FROM $src) t) u""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text, source FROM documents
       |  UNION ALL SELECT doc_id + $off,
       |    substring(text, instr(text, ' ') + 1), source FROM documents),
       |vd AS (SELECT doc_id, text, source FROM corpus
       |  WHERE doc_id < $off AND doc_id % 10 = 0),
       |tr AS (SELECT doc_id, text, source FROM corpus
       |  WHERE (doc_id < $off AND doc_id % 10 <> 0)
       |     OR (doc_id >= $off AND (doc_id - $off) % 20 = 0)),
       |tg AS (${gramsOf("tr", "source,")}),
       |vg AS (${gramsOf("vd", "doc_id,")}),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM vg GROUP BY doc_id),
       |hit AS (SELECT vg.doc_id, tg.source, count(*) AS n_hit
       |  FROM vg JOIN tg USING (gram) GROUP BY 1, 2),
       |rk AS (SELECT doc_id, source, n_hit, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY n_hit DESC, source) AS rk
       |  FROM hit)
       |SELECT rk.doc_id AS val_doc, rk.source AS top_source,
       |  tot.n_grams, rk.n_hit,
       |  round(rk.n_hit / tot.n_grams, 6) AS hit_frac
       |FROM rk JOIN tot ON tot.doc_id = rk.doc_id
       |WHERE rk.rk = 1 ORDER BY val_doc""".stripMargin
  }

  /** Streaming exact dedup: state-backed key dedup bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    * twin of q29's batch content dedup. Duplicates arriving in ANY
    * micro-batch within the watermark are dropped; state is evicted once
    * the watermark passes, so memory is bounded at 100 TB/day rates.
    * Caller supplies a watermarked streaming frame. */
  def streamingDedup(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicatesWithinWatermark(keys)

  // --- SimHash ---------------------------------------------------------

  /** 60-bit SimHash per doc: per-bit majority vote over token hashes
    * (all occurrences, not distinct — standard SimHash weighting). 60 bits
    * (the md5 fingerprint width) gives usable discrimination over a
    * shared-vocabulary corpus where 32 bits collapses. */
  val SimhashBits = 60
  val SimhashMaxHamming = 4

  def simhashSignatures(corpus: DataFrame): DataFrame =
    simhashSignaturesFromToks(corpus.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok")))

  /** Signatures from an already-exploded (doc_id, tok) stream — q156
    * feeds this from its one shared tokenized frame instead of
    * re-reading and re-splitting the corpus. */
  private[graft] def simhashSignaturesFromToks(
      tokStream: DataFrame): DataFrame = {
    val toks = tokStream.withColumn("th", md5Fingerprint60(col("tok")))
    val votes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$b")
    }
    val sig = (0 until SimhashBits).map { b =>
      when(col(s"v$b") > 0, 1L << b).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Number of disjoint signature bands for the pigeonhole candidate
    * filter: with hamming ≤ [[SimhashMaxHamming]] = 4 differing bits and
    * 5 bands, at least one band is untouched, so every qualifying pair
    * shares at least one exact (band_idx, band_value) bucket. */
  val SimhashBands: Int = SimhashMaxHamming + 1 // 5 bands × 12 bits

  /** q32 — SimHash near-dup pairs: hamming(sig_a, sig_b) ≤ 4, found via
    * pigeonhole banding instead of an all-pairs cross join. Candidates =
    * pairs sharing any 12-bit band bucket; exact hamming is verified per
    * candidate and duplicates (pairs colliding in several bands) collapse
    * in one distinct. The result set is IDENTICAL to the all-pairs form
    * (the band bound is lossless — see [[simhashDedupAllPairs]] and the
    * equivalence spec); cost is O(Σ bucket²) instead of O(N²), which is
    * the shape that survives a 100× scale-up. */
  def simhashDedup(s: SparkSession, dir: String): DataFrame =
    simhashPairsOf(s, dir, bucketCap = None)
      .orderBy("doc_a", "doc_b")

  /** The banded SimHash pair pipeline, with q118's optional hot-bucket
    * cap on the band buckets — the same duplication guard: identical
    * documents share every band value, so uncapped bucket sizes grow
    * with corpus duplication and pairs quadratically. q32 keeps the
    * uncapped (lossless) form; q156 composes the capped one. */
  private[graft] def simhashPairsOf(s: SparkSession, dir: String,
      bucketCap: Option[Int]): DataFrame =
    // shared: the a/b band sides would each recompute the 60-vote agg
    simhashPairsOfSigs(shared(simhashSignatures(corpusNear(s, dir))),
      bucketCap)

  /** The banded Hamming pair pipeline over precomputed (doc_id, sig)
    * signatures — [[capBuckets]] is the shared duplication guard; q159's
    * perceptual-hash near-dup reuses this whole stage unchanged. */
  private[graft] def simhashPairsOfSigs(sigs: DataFrame,
      bucketCap: Option[Int], sigCol: String = "simhash",
      bits: Int = SimhashBits, nBands: Int = SimhashBands,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val bandW = bits / nBands
    val bandStructs = (0 until nBands).map { i =>
      struct(lit(i).as("band_idx"),
        shiftright(col(sigCol), i * bandW)
          .bitwiseAND((1L << bandW) - 1).as("band_val"))
    }
    val bands0 = sigs
      .select(col("doc_id"), col(sigCol).as("sig"),
        explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"))
    val bands = capBuckets(bands0, Seq("band_idx", "band_val"), bucketCap)
    val a = bands.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a"), col("band_idx"), col("band_val"))
    val b = bands.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b"), col("band_idx"), col("band_val"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
  }

  /** The naive all-pairs form of q32 — kept as the equivalence oracle for
    * the banding rewrite (spec-only; never on the bench path). */
  def simhashDedupAllPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSignatures(corpusNear(s, dir))
    val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // --- q93: blocked fuzzy matching (record linkage) ---------------------

  /** Maximum edit distance for a fuzzy name match. */
  val MaxEdit = 2

  /** q93 — record linkage by blocked edit distance: distinct part names
    * pair up within a blocking key (their head noun — the last token),
    * and pairs within levenshtein ≤ [[MaxEdit]] surface as match
    * candidates. Blocking is THE scale move of entity resolution: the
    * quadratic comparison runs per block, so cost is Σ|block|², not
    * |names|² — at 100 TB the blocks shuffle-partition independently
    * and a skewed block (too-generic key) is visible in the block
    * column for salting. Levenshtein is an integer metric with one
    * classic definition — both engines agree exactly. */
  def fuzzyNameMatch(s: SparkSession, dir: String): DataFrame = {
    val names = EtlOps.t(s, dir, "part")
      .select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("blk"), col("p_name").as("name_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"))
    a.join(b, "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b")).cast("bigint"))
      .filter(col("edit_dist") <= MaxEdit)
      .select(col("blk"), col("name_a"), col("name_b"), col("edit_dist"))
      .orderBy("name_a", "name_b")
  }

  // --- q99: entity consolidation (golden record) ------------------------

  /** Label-propagation rounds for the name clusters. Blocks hold ≤ 8
    * names, so component diameter stays well under this; the spec
    * asserts the fixpoint was actually reached. Fixed (not
    * while-changed) so the oracle can state the identical unrolled
    * computation. */
  val ConsolidateRounds = 3

  /** q99 — the survivorship step after q93's linkage: names connected by
    * fuzzy matches collapse into one entity via [[ConsolidateRounds]]
    * min-label propagation rounds, then the part table consolidates per
    * entity — canonical (min) name, distinct variant count, part count,
    * mean price. The "golden record" close of an entity-resolution
    * pipeline: dedup is only done when downstream aggregates run over
    * the RESOLVED key, not the raw string.
    *
    * Scale: propagation joins key on the name (edges are the tiny match
    * table; the label table is one row per distinct name); the final
    * consolidation is the fact-table aggregate re-keyed by resolved
    * entity — one extra stats-driven join over the naive group-by. */
  def entityConsolidate(s: SparkSession, dir: String): DataFrame = {
    // cutLineage on edges AND per propagation round — the same
    // discipline as q59's dupLabels (CurationOps.scala): each round
    // references `lbl` twice (join + union), so without truncating the
    // LOGICAL lineage the plan doubles every round and Catalyst
    // re-analysis grows with it even at a fixed small round count.
    val pairs = CurationOps.cutLineage(
      fuzzyNameMatch(s, dir).select(col("name_a"), col("name_b")))
    val edges = pairs.unionAll(
      pairs.select(col("name_b").as("name_a"), col("name_a").as("name_b")))
    val names = EtlOps.t(s, dir, "part").select(col("p_name")).distinct()
    val lbl = CurationOps.iterateCut(
      names.select(col("p_name"), col("p_name").as("lbl")),
      ConsolidateRounds)((g, _) =>
      edges.join(g, edges("name_a") === g("p_name"))
        .select(col("name_b").as("p_name"), col("lbl"))
        .unionAll(g)
        .groupBy("p_name").agg(min(col("lbl")).as("lbl")))._1.last
    EtlOps.t(s, dir, "part")
      // the label table is one row per DISTINCT NAME (entity-scaled) —
      // unhinted: broadcast while small, shuffle on p_name past that
      .join(lbl, "p_name")
      .groupBy(col("lbl").as("canonical_name"))
      .agg(countDistinct(col("p_name")).as("n_names"),
        count(lit(1)).as("n_parts"),
        (sum(col("p_retailprice").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("mean_price"))
      .orderBy("canonical_name")
  }

  /** q99 oracle — the identical unrolled label propagation, generated
    * from the same round count so the two sides cannot drift. */
  def entityConsolidateOracle: String = {
    val rounds = (1 to ConsolidateRounds).map { i =>
      s"""l$i AS (SELECT p_name, min(lbl) AS lbl FROM (
         |  SELECT ed.nb AS p_name, l${i - 1}.lbl FROM ed
         |    JOIN l${i - 1} ON ed.na = l${i - 1}.p_name
         |  UNION ALL SELECT p_name, lbl FROM l${i - 1}) u
         |  GROUP BY p_name)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT DISTINCT p_name FROM part),
       |bn AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM n),
       |pr AS (SELECT a.p_name AS na, b.p_name AS nb FROM bn a
       |  JOIN bn b ON a.blk = b.blk AND a.p_name < b.p_name
       |  WHERE levenshtein(a.p_name, b.p_name) <= $MaxEdit),
       |ed AS (SELECT na, nb FROM pr UNION ALL SELECT nb AS na, na AS nb FROM pr),
       |l0 AS (SELECT p_name, p_name AS lbl FROM n),
       |$rounds
       |SELECT l.lbl AS canonical_name,
       |  count(DISTINCT p.p_name) AS n_names, count(*) AS n_parts,
       |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
       |    / count(*) AS mean_price
       |FROM part p JOIN l$ConsolidateRounds l ON p.p_name = l.p_name
       |GROUP BY l.lbl ORDER BY canonical_name""".stripMargin
  }

  // --- q120: paragraph-level exact dedup (CCNet-style) ------------------

  val ParaTokens = 8
  /** Occurrence-order key: doc_id · 2²⁰ + segment index. The index bound
    * (1M segments/doc = 8M tokens/doc) holds by orders of magnitude for
    * any real document. */
  private val ParaIdxSpan = 1048576L

  /** q120 — paragraph-level exact dedup: segment each document of the
    * planted-duplicate corpus into non-overlapping [[ParaTokens]]-token
    * windows (this corpus has no newline structure, so the segmenter is
    * positional; on a real corpus it is the `\n` split CCNet uses), keep
    * only the corpus-wide FIRST occurrence of each distinct segment
    * (ordered by (doc_id, idx)), and report each document's surviving
    * shape: segment counts and the md5 of the reassembled kept text.
    *
    * This is the sub-document granularity q29 (whole-doc exact dedup)
    * cannot reach: boilerplate shared across otherwise-distinct pages is
    * removed while the unique remainder survives.
    *
    * Scale (100 TB): one explode, then ONE shuffle keyed on segment
    * text — first-occurrence is a `min` window over the segment
    * partition, not an aggregate-plus-join-back (which would scan and
    * explode the corpus twice and pay a second exchange) — then a
    * per-doc re-aggregate. No all-pairs stage; the working set shards
    * by segment hash. */
  def paragraphDedup(s: SparkSession, dir: String): DataFrame = {
    val P = ParaTokens
    val segs = corpusExact(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(toks) - 1, $P)")).as("st"),
        col("toks"))
      .select(col("doc_id"),
        expr(s"CAST(st div $P AS BIGINT)").as("idx"),
        expr(s"array_join(slice(toks, st + 1, $P), ' ')").as("seg"))
    def occKey = col("doc_id") * lit(ParaIdxSpan) + col("idx")
    val wSeg = org.apache.spark.sql.expressions.Window.partitionBy("seg")
    segs
      .withColumn("kept", occKey === min(occKey).over(wSeg))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN kept THEN struct(idx, seg) END)), x -> x.seg)")))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  // --- q125: content-defined fingerprint dedup (0-mod-p sampling) -------

  val CdcWindow = 40
  /** Anchor digram: a position is selected iff the text AT the position
    * equals this — content-defined, so selection is shift-invariant,
    * and CHEAP (a 2-char compare), so the expensive fingerprint runs
    * only on the ~3% of positions that anchor. This is the gear/Rabin
    * low-bits trick of production CDC pickers: anchoring on md5 % p
    * instead costs a full hash at EVERY position and measured 10.7 s
    * calibrated at sf0.1 — the anchor form is ~6× cheaper with the
    * same invariance. */
  val CdcAnchor = "e "

  /** q125 — shift-invariant duplicate-span detection: fingerprint the
    * [[CdcWindow]]-char window at every position matching the
    * [[CdcAnchor]] digram (content-defined sampling — the selection
    * depends only on the bytes, so a copy shifted by any offset still
    * selects the same spans, which q120's aligned windows cannot do),
    * and report per document how many selected spans are shared with
    * another document. Runs on the NEAR-copy corpus (first word
    * dropped) precisely because alignment is broken there — this is
    * the winnowing/CDC primitive behind partial-overlap dedup at
    * corpus scale.
    *
    * Scale (100 TB): the explode emits one row per char position but
    * the anchor compare prunes to ~3% of them BEFORE any hash is
    * computed (both fused into the generate under codegen); everything
    * after moves only selected fingerprints — one distinct + count
    * keyed on the hash, one join back, one per-doc aggregate. The
    * anchor rate is the knob trading recall floor (min detectable span
    * ≈ anchor period + window) against volume. */
  def cdcFingerprintDups(s: SparkSession, dir: String): DataFrame = {
    val L = CdcWindow
    // anchor positions computed by prefix-summing the split parts — the
    // generate emits one row per ANCHOR (~3% of positions), never one
    // per char position; the oracle derives the same position set from
    // the explode-all-positions definition, so the compare gate proves
    // the equivalence
    val a = CdcAnchor
    val fp = corpusNear(s, dir)
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"), expr(
        s"""CASE WHEN size(split(text, '$a', -1)) < 2 THEN
           |  CAST(array() AS ARRAY<BIGINT>)
           |ELSE aggregate(
           |  slice(split(text, '$a', -1), 2, size(split(text, '$a', -1)) - 2),
           |  array(CAST(length(element_at(split(text, '$a', -1), 1)) + 1 AS BIGINT)),
           |  (acc, x) -> concat(acc,
           |    array(element_at(acc, -1) + length(x) + ${a.length})))
           |END""".stripMargin).as("pos"))
      .select(col("doc_id"), explode(col("pos")).as("i"), col("text"))
      .filter(col("i") <= length(col("text")) - L + 1)
      .select(col("doc_id"),
        TextOps.md5Fingerprint60(expr(s"substring(text, i, $L)")).as("h"))
    val hashDocs = fp.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
    fp.join(hashDocs, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_fp").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** q125 oracle — same sampling rule via the portable md5→BIGINT. */
  def cdcFingerprintDupsOracle: String = {
    val L = CdcWindow
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $CopyOffset,
       |    substr(text, instr(text, ' ') + 1) FROM documents),
       |p AS (SELECT doc_id,
       |    unnest(range(1, length(text) - $L + 2)) AS i, text FROM c
       |  WHERE length(text) >= $L),
       |s AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), $L)), 1, 15)
       |      AS BIGINT) AS h
       |  FROM p
       |  WHERE substr(text, CAST(i AS INT), ${CdcAnchor.length}) = '$CdcAnchor'),
       |hd AS (SELECT h, count(*) AS nd FROM
       |  (SELECT DISTINCT doc_id, h FROM s) GROUP BY h)
       |SELECT s.doc_id, count(*) AS n_fp,
       |  CAST(sum(CASE WHEN hd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_shared,
       |  round(CAST(CAST(sum(CASE WHEN hd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS shared_ratio
       |FROM s JOIN hd USING (h) GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q120 oracle — identical construction from the same constants. */
  def paragraphDedupOracle: String = {
    val P = ParaTokens
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $CopyOffset, text FROM documents),
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM c),
       |e AS (SELECT doc_id, toks, unnest(range(0, len(toks), $P)) AS st FROM t),
       |g AS (SELECT doc_id, CAST(st // $P AS BIGINT) AS idx,
       |    array_to_string(toks[st + 1:st + $P], ' ') AS seg FROM e),
       |f AS (SELECT seg, min(doc_id * $ParaIdxSpan + idx) AS first_key
       |  FROM g GROUP BY seg),
       |j AS (SELECT g.doc_id, g.idx, g.seg,
       |    (g.doc_id * $ParaIdxSpan + g.idx = f.first_key) AS kept
       |  FROM g JOIN f USING (seg))
       |SELECT doc_id, count(*) AS n_segs,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  md5(coalesce(string_agg(seg, ' ' ORDER BY idx)
       |    FILTER (WHERE kept), '')) AS kept_md5
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- q181: bloom-gated incremental ingest dedup ------------------------

  val BloomDedupFpp = 0.01

  /** q181 — two-tier incremental ingest dedup: the arriving batch
    * (doc_id ≡ 0 mod 5 over the planted-copy corpus) probes a BLOOM
    * filter of the historical fingerprint set first; only candidates
    * pay the exact confirm join. This is q103's exact anti-join wearing
    * its 100 TB armor: at scale the historical fingerprint set is
    * far too large to join every batch row against, and the bloom
    * probe — O(1) per row against a broadcast bitset — prunes the
    * confirm join to candidates only (the q66 runtime-filter contract
    * applied to ingest dedup).
    *
    * Output counts (n_batch / n_dups / n_new) are EXACT and
    * oracle-mirrored; the bloom's behavior is pinned by two contract
    * booleans the oracle expects literally TRUE (the q42/q117 sketch
    * convention, since DuckDB cannot rebuild Spark's bitset): NO false
    * negatives (a bloom guarantee — every exact dup must be a
    * candidate; ground truth comes from an exact join of the FULL
    * batch, NOT gated on the bloom verdict, so the check can fail),
    * and observed false-positive rate within 3× the
    * configured [[BloomDedupFpp]] (bloom inserts are bitwise-OR,
    * order-independent, so the bit pattern is deterministic for a
    * given corpus regardless of partitioning). */
  def bloomIngestDedup(s: SparkSession, dir: String): DataFrame = {
    // copies of EVEN documents only, split on mod 7: the batch then
    // mixes true dups (docs whose twin landed in history) with
    // genuinely new docs (odd originals) — mod 5 would put every
    // doc's copy in its own split (CopyOffset ≡ 0 mod 5) and plant
    // zero dups
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val c = d.unionAll(d.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + CopyOffset).as("doc_id"), col("text")))
      .withColumn("fp", call_function("md5_fp60", col("text")))
      .withColumn("orig_id", col("doc_id") % CopyOffset)
    val src = t(s, dir, "documents")
      .select(col("doc_id").as("orig_id"), col("source"))
    val hist = c.filter(col("doc_id") % 7 =!= 0).persist()
    val batch = c.filter(col("doc_id") % 7 === 0)
    val nKeys = math.max(hist.select("fp").distinct().count(), 1L)
    val bloom = hist.stat.bloomFilter("fp", nKeys, BloomDedupFpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val histFps = hist.select("fp").distinct()
    val probed = batch
      .withColumn("cand", call_function("bloom_might_contain",
        lit(bos.toByteArray), col("fp")))
    // PRODUCTION path: only bloom candidates pay the confirm join —
    // n_dups/n_new in the output come from here
    val confirmed = probed.filter(col("cand"))
      .join(histFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(true).as("is_dup"))
    // AUDIT path: ground truth from the FULL batch, independent of the
    // bloom gate. Deriving is_dup from the gated confirm join made the
    // no-false-negatives check tautological (is_dup implied cand, so
    // is_dup && !cand was unsatisfiable and fn was 0 by construction);
    // an exact join not conditioned on `cand` is what lets a bloom
    // false negative actually flip the flag. Audit-only cost — a real
    // pipeline ships just the production path above.
    val exact = batch.join(histFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(true).as("is_dup_x"))
    val marked = probed
      .join(confirmed.select("doc_id", "is_dup"), Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .persist()
    // the fpp contract is CORPUS-level: per-source batches are small
    // enough that a 3× bound on a Poisson(0.5) count flakes
    val contract = marked.agg(
      max(when(col("is_dup_x") && !col("cand"), 1L).otherwise(0L)).as("fn"),
      sum(when(col("cand") && col("is_dup_x").isNull, 1L).otherwise(0L))
        .as("fp_cnt"),
      sum(when(col("is_dup_x").isNull, 1L).otherwise(0L)).as("clean_cnt"))
    marked.join(src, "orig_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .crossJoin(broadcast(contract))
      .select(col("source"), col("n_batch"), col("n_dups"),
        (col("n_batch") - col("n_dups")).as("n_new"),
        (col("fn") === 0L).as("bloom_no_false_negatives"),
        // fpp contract in exact integers for fpp = 1/100: observed
        // false positives ≤ 3·fpp·clean-batch-size
        (col("fp_cnt") * 100 <= col("clean_cnt") * 3)
          .as("bloom_fp_within_3x"))
      .orderBy("source")
  }

  /** q181 oracle: exact counts from the same planted corpus; the bloom
    * contract booleans are stated literally TRUE (q42/q117 style). */
  def bloomIngestDedupOracle: String =
    s"""WITH c AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $CopyOffset, text FROM documents
       |    WHERE doc_id % 2 = 0),
       |f AS (SELECT doc_id, doc_id % $CopyOffset AS orig_id, md5(text)
       |    AS fp FROM c),
       |hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 7 <> 0),
       |batch AS (SELECT doc_id, orig_id, fp FROM f WHERE doc_id % 7 = 0),
       |j AS (SELECT b.doc_id, b.orig_id,
       |    (hist.fp IS NOT NULL) AS is_dup
       |  FROM batch b LEFT JOIN hist ON b.fp = hist.fp)
       |SELECT d.source, count(*) AS n_batch,
       |  CAST(sum(CASE WHEN j.is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dups,
       |  CAST(count(*) - sum(CASE WHEN j.is_dup THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_new,
       |  TRUE AS bloom_no_false_negatives,
       |  TRUE AS bloom_fp_within_3x
       |FROM j JOIN documents d ON d.doc_id = j.orig_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --- q218: dedup chain-transitivity audit -------------------------------

  /** Rep–member similarity below this marks a CHAINED member. */
  val ChainTau = 0.5

  /** q218 — chain-transitivity audit of near-dup clustering: pairwise
    * similarity is thresholded at τ but the transitive closure is not,
    * so clusters CHAIN — A~B~C pulls in C even when sim(A,C) ≪ τ — and
    * a survivor-policy pass (q205/q110) then silently deletes documents
    * that are NOT near-dups of the kept representative. This audit
    * prices that: over the graded-variant corpus (whose k=1..4 variants
    * have rep-similarity ~0.8 down to ~0.2 — chaining bait by
    * construction), it clusters with the production capped-LSH pairs
    * (τ = 0.5), then computes each member's EXACT Jaccard to its
    * cluster representative and reports, per cluster-size band, how
    * many members sit below [[ChainTau]] — the collateral-deletion
    * count a chain-agnostic dedup ships.
    *
    * Parity: the rep is the min label (propagateLabels' fixpoint is
    * min-label, so rep ≡ cluster_id); rep–member Jaccard is the exact
    * integer-set ratio with one double division; the mean goes through
    * DECIMAL(18,12) (the q154 discipline).
    *
    * Scale (100 TB): rep–member pairs are |members|-bounded (linear,
    * unlike all-pairs-within-cluster); shingle sets join per pair as
    * slim array rows (the q31 verification shape). The clustering is
    * the production q118 stream — the audit adds one linear join pass. */
  def chainAudit(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusSpread(s, dir)
    val (_, _, docSh, verified) = spreadLshArtifacts(s, dir)
    val pairs = verified.filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val lab = CurationOps.propagateLabels(pairs, corpus.select("doc_id"))
      .persist()
    val csize = lab.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val memJac = lab.filter(col("doc_id") =!= col("lbl"))
      .join(docSh.select(col("doc_id").as("lbl"), col("shs").as("sh_r")),
        Seq("lbl"))
      .join(docSh.select(col("doc_id"), col("shs").as("sh_m")), Seq("doc_id"))
      .withColumn("ni",
        call_function("sorted_inter_count", col("sh_r"), col("sh_m")))
      .withColumn("jac", col("ni").cast("double") /
        (size(col("sh_r")) + size(col("sh_m")) - col("ni")).cast("double"))
    memJac.join(csize, "lbl")
      .withColumn("size_band", least(col("n_members"), lit(6L)))
      .groupBy("size_band")
      .agg(countDistinct(col("lbl")).as("n_clusters"),
        count(lit(1)).as("n_pairs"),
        sum(when(col("jac") < ChainTau, 1L).otherwise(0L)).as("n_chained"),
        round(sum(col("jac").cast("decimal(18,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_rep_jaccard"),
        round(min(col("jac")), 6).as("min_rep_jaccard"))
      .withColumn("chained_frac", round(
        col("n_chained").cast("double") / col("n_pairs").cast("double"), 6))
      .orderBy("size_band")
  }

  def chainAuditOracle: String =
    s"""WITH RECURSIVE ${OracleGen.lshCandSpreadCtes},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |vp AS (SELECT c.doc_a, c.doc_b
       |  FROM cand c JOIN inter USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM vp
       |      UNION ALL SELECT doc_b, doc_a FROM vp),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM corpus
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS lbl FROM r GROUP BY node),
       |cs AS (SELECT lbl, count(*) AS n_members FROM lab GROUP BY lbl),
       |mj AS (SELECT l.lbl, l.node,
       |    coalesce(i.n_inter, 0) /
       |      (sr.n_sh + sm.n_sh - coalesce(i.n_inter, 0)) AS jac
       |  FROM lab l
       |  JOIN sizes sr ON sr.doc_id = l.lbl
       |  JOIN sizes sm ON sm.doc_id = l.node
       |  LEFT JOIN inter i ON i.doc_a = least(l.lbl, l.node)
       |    AND i.doc_b = greatest(l.lbl, l.node)
       |  WHERE l.node <> l.lbl),
       |b AS (SELECT least(cs.n_members, 6) AS size_band, mj.lbl, mj.jac
       |  FROM mj JOIN cs USING (lbl))
       |SELECT size_band, CAST(count(DISTINCT lbl) AS BIGINT) AS n_clusters,
       |  count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN jac < $ChainTau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_chained,
       |  round(CAST(sum(CAST(jac AS DECIMAL(18,12))) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS mean_rep_jaccard,
       |  round(min(jac), 6) AS min_rep_jaccard,
       |  round(CAST(sum(CASE WHEN jac < $ChainTau THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS chained_frac
       |FROM b GROUP BY size_band ORDER BY size_band""".stripMargin

  // --- q228: content-defined chunking dedup audit -------------------------

  /** CDC geometry: window 8, multiplier 33, boundary divisor 32 →
    * expected ~32-char chunks; fixed-size strawman uses the same target
    * length so the two methods are budget-matched. */
  val CdcW = 8
  val CdcA = 33L
  val CdcD = 32L
  val CdcFixedLen = 32

  /** The window hash Σ_k a^k·c(i−k) as DuckDB SQL at comprehension
    * variable `i` — the literal power table is the SAME one the native
    * [[graft.functions.CdcBounds]] loop maintains incrementally. */
  private def cdcHSql(iVar: String): String =
    graft.functions.CdcBounds.powers(CdcA, CdcW).zipWithIndex.map {
      case (p, k) =>
        s"CAST($p AS BIGINT) * " +
          s"unicode(substr(text, CAST(($iVar - $k) AS INT), 1))"
    }.mkString(" + ")

  /** q228 — content-defined chunking (CDC) dedup audit: the storage-
    * layer dedup scheme (Manber fingerprints / LBFS): chunk boundaries
    * are set where a sliding window hash ≡ 0 (mod [[CdcD]]), so they
    * follow CONTENT, not offsets — after the planted copies' first-word
    * deletion shifts every character left, CDC chunks re-align at the
    * first content boundary while same-budget fixed-size chunks all
    * change. Per (method, source): chunk counts, distinct-chunk bytes,
    * the dedup ratio a chunk store would achieve, and `copy_share` —
    * the fraction of copy-document chunk instances already present in
    * the original corpus, THE shift-resistance number (CDC ≫ fixed).
    * This is how a multimodal lake prices blob/text storage dedup, and
    * the method-choice evidence.
    *
    * Parity: boundaries are exact integer window hashes (native
    * incremental loop in Spark ≡ per-position literal power sum in
    * DuckDB — no modulus, sums ≪ 2^63); chunks are substrings between
    * boundaries hashed with md5; every metric is integer until the two
    * final round-6 ratios.
    *
    * Scale (100 TB): boundary detection is one native per-char pass;
    * chunk emission is ~n/32 rows per doc collapsing map-side to
    * (method, source, chunk-hash) cells; nothing downstream sees rows
    * proportional to corpus size — the chunk-hash aggregate IS the
    * chunk-store index build. */
  def cdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = d.unionAll(d.select(
      (col("doc_id") + CopyOffset).as("doc_id"), col("source"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val chunks = corpus
      .withColumn("n", length(col("text")))
      .withColumn("b", expr(s"cdc_bounds(text, $CdcW, $CdcA, $CdcD)"))
      .withColumn("ends_cdc", expr(
        "CASE WHEN size(b) > 0 AND element_at(b, -1) = n THEN b " +
          "ELSE concat(b, array(CAST(n AS INT))) END"))
      .withColumn("ends_fix", expr(
        s"transform(sequence(1, (n + ${CdcFixedLen - 1}) DIV " +
          s"$CdcFixedLen), i -> CAST(least(i * $CdcFixedLen, n) " +
          "AS INT))"))
      // explode(map(...)) instead of stack(): map() unifies the two
      // array types' nullability itself, where stack demands identical
      // types and a pacifying CAST gets stripped by SimplifyCasts
      .selectExpr("doc_id", "source", "text",
        "explode(map('cdc', ends_cdc, 'fixed', ends_fix)) " +
          "AS (method, ends)")
      .selectExpr("doc_id", "source", "text", "method", "ends",
        "posexplode(ends) AS (j, en)")
      .selectExpr("doc_id", "source", "method", "text",
        "CASE WHEN j = 0 THEN 1 ELSE element_at(ends, j) + 1 END AS st",
        "en")
      .selectExpr("doc_id", "source", "method",
        "en - st + 1 AS ln", "md5(substr(text, st, en - st + 1)) AS h")
    val cells = chunks.groupBy("method", "source", "h")
      .agg(min(col("ln")).cast("bigint").as("clen"),
        sum(when(col("doc_id") < CopyOffset, 1L).otherwise(0L))
          .as("cnt_orig"),
        sum(when(col("doc_id") >= CopyOffset, 1L).otherwise(0L))
          .as("cnt_copy"))
    cells.groupBy("method", "source")
      .agg(sum(col("cnt_orig") + col("cnt_copy")).as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(col("clen")).as("unique_chars"),
        sum((col("cnt_orig") + col("cnt_copy")) * col("clen"))
          .as("total_chars"),
        sum(when(col("cnt_orig") > 0, col("cnt_copy")).otherwise(0L))
          .as("copy_hits"),
        sum(col("cnt_copy")).as("copy_chunks"))
      .select(col("method"), col("source"), col("n_chunks"),
        col("n_unique"), col("unique_chars"), col("total_chars"),
        round(col("unique_chars").cast("double") /
          col("total_chars").cast("double"), 6).as("dedup_ratio"),
        round(col("copy_hits").cast("double") /
          col("copy_chunks").cast("double"), 6).as("copy_share"))
      .orderBy("method", "source")
  }

  def cdcChunkDedupOracle: String =
    s"""WITH d AS (SELECT doc_id, source, text FROM documents
       |  UNION ALL SELECT doc_id + $CopyOffset, source,
       |    substr(text, instr(text, ' ') + 1) FROM documents),
       |e AS (SELECT doc_id, source, text, length(text) AS n,
       |    [CAST(i AS INT) for i in range($CdcW, length(text) + 1)
       |      if (${cdcHSql("i")}) % $CdcD = 0] AS b
       |  FROM d),
       |e2 AS (SELECT doc_id, source, text, n,
       |    CASE WHEN len(b) > 0 AND b[-1] = n THEN b
       |      ELSE list_append(b, CAST(n AS INT)) END AS ends_cdc,
       |    [CAST(least(i * $CdcFixedLen, n) AS INT)
       |      for i in range(1, (n + ${CdcFixedLen - 1})
       |        // $CdcFixedLen + 1)] AS ends_fix
       |  FROM e),
       |m AS (SELECT doc_id, source, text, 'cdc' AS method,
       |    ends_cdc AS ends FROM e2
       |  UNION ALL SELECT doc_id, source, text, 'fixed', ends_fix
       |  FROM e2),
       |cj AS (SELECT doc_id, source, text, method, ends,
       |    unnest(range(1, len(ends) + 1)) AS j FROM m),
       |ch AS (SELECT doc_id, source, method,
       |    ends[CAST(j AS INT)] - (CASE WHEN j = 1 THEN 1
       |      ELSE ends[CAST(j - 1 AS INT)] + 1 END) + 1 AS ln,
       |    md5(substr(text, CAST(CASE WHEN j = 1 THEN 1
       |        ELSE ends[CAST(j - 1 AS INT)] + 1 END AS INT),
       |      CAST(ends[CAST(j AS INT)] - (CASE WHEN j = 1 THEN 1
       |        ELSE ends[CAST(j - 1 AS INT)] + 1 END) + 1 AS INT)))
       |      AS h
       |  FROM cj),
       |cells AS (SELECT method, source, h,
       |    CAST(min(ln) AS BIGINT) AS clen,
       |    CAST(sum(CASE WHEN doc_id < $CopyOffset THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cnt_orig,
       |    CAST(sum(CASE WHEN doc_id >= $CopyOffset THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cnt_copy
       |  FROM ch GROUP BY method, source, h)
       |SELECT method, source,
       |  CAST(sum(cnt_orig + cnt_copy) AS BIGINT) AS n_chunks,
       |  count(*) AS n_unique,
       |  CAST(sum(clen) AS BIGINT) AS unique_chars,
       |  CAST(sum((cnt_orig + cnt_copy) * clen) AS BIGINT)
       |    AS total_chars,
       |  round(CAST(CAST(sum(clen) AS BIGINT) AS DOUBLE) /
       |    CAST(CAST(sum((cnt_orig + cnt_copy) * clen) AS BIGINT)
       |      AS DOUBLE), 6) AS dedup_ratio,
       |  round(CAST(CAST(sum(CASE WHEN cnt_orig > 0 THEN cnt_copy
       |      ELSE 0 END) AS BIGINT) AS DOUBLE) /
       |    CAST(CAST(sum(cnt_copy) AS BIGINT) AS DOUBLE), 6)
       |    AS copy_share
       |FROM cells GROUP BY method, source
       |ORDER BY method, source""".stripMargin

  // --- q240: blocking-key quality audit (entity resolution) ---------------

  /** q240 — blocking-key quality audit: before any pairwise matcher
    * runs, entity resolution picks a BLOCKING key, and the two numbers
    * that decide it are pairs completeness PC (fraction of true
    * matches whose members share a block) and reduction ratio RR
    * (fraction of the N²/2 comparisons avoided). Four schemes over the
    * planted-copy corpus: `prefix4` (first 4 chars — WORTHLESS here
    * because the copies drop the first word, the classic bad-key
    * lesson), `suffix4` (endings survive the edit → high PC, but the
    * closed vocabulary makes blocks huge → poor RR), `length_band`
    * (cheap, mediocre both ways), and `minhash_band` (multi-block LSH
    * — high PC at high RR, the production answer). The F-measure of
    * (PC, RR) ranks them.
    *
    * Both metrics are computed WITHOUT materializing candidates:
    * comparisons = Σ_blocks n·(n−1)/2 (for multi-block LSH that is
    * per-bucket comparison SLOTS — exactly what the matcher would
    * execute); completeness checks each truth pair directly (equal
    * key, or ≥1 equal signature band — the q233 trick), one linear
    * join.
    *
    * Parity: counts are integers; PC/RR/F divide once each.
    *
    * Scale (100 TB): per scheme one map-combined key collapse + one
    * linear truth-pair join; no candidate blowup anywhere — this audit
    * is how you pick the key BEFORE paying the candidate join. */
  def blockingAudit(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusNear(s, dir).persist()
    val n = corpus.count()
    val totalPairs = n * (n - 1) / 2
    val sigs = minhashSignaturesNative(shingles(corpus)).persist()
    val singleKeys: Seq[(String, String)] = Seq(
      ("length_band", "CAST(length(text) DIV 20 AS STRING)"),
      ("prefix4", "substr(text, 1, 4)"),
      ("suffix4", "substr(text, greatest(length(text) - 3, 1), 4)"))
    val keyFrames = singleKeys.map { case (scheme, keySql) =>
      corpus.selectExpr(s"'$scheme' AS scheme", "doc_id",
        s"$keySql AS k")
    } :+ lshBands(sigs).selectExpr("'minhash_band' AS scheme",
      "doc_id",
      "concat(CAST(band_idx AS STRING), '|', band_hash) AS k")
    val blocks = keyFrames.reduce(_ unionAll _)
      .groupBy("scheme", "k").agg(count(lit(1)).as("nb"))
    val stats = blocks.groupBy("scheme").agg(
      count(lit(1)).as("n_blocks"), max(col("nb")).as("max_block"),
      sum(col("nb") * (col("nb") - 1) / 2).cast("bigint")
        .as("cand_pairs"))
    // completeness: each planted pair checked directly
    val truthSingle = singleKeys.map { case (scheme, keySql) =>
      val keyed = corpus.selectExpr("doc_id", s"$keySql AS k")
      keyed.filter(col("doc_id") < CopyOffset)
        .join(keyed.filter(col("doc_id") >= CopyOffset)
          .select((col("doc_id") - CopyOffset).as("doc_id"),
            col("k").as("k2")), "doc_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("k") === col("k2"), 1L).otherwise(0L))
            .as("n_found"))
        .withColumn("scheme", lit(scheme))
    }
    val aCols = (0 until NumPerms).map(i => col(s"h$i").as(s"a_h$i"))
    val bCols = (0 until NumPerms).map(i => col(s"h$i").as(s"b_h$i"))
    val truthMinhash = sigs.filter(col("doc_id") < CopyOffset)
      .select(col("doc_id") +: aCols: _*)
      .join(sigs.filter(col("doc_id") >= CopyOffset)
        .select((col("doc_id") - CopyOffset).as("doc_id") +: bCols: _*),
        "doc_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(expr(s"CASE WHEN ${sCurveCapSql(BandSize)} THEN 1 " +
          "ELSE 0 END")).as("n_found"))
      .withColumn("scheme", lit("minhash_band"))
    val truth = (truthSingle :+ truthMinhash).reduce(_ unionAll _)
    stats.join(truth, "scheme")
      .selectExpr("scheme", "n_blocks", "max_block", "cand_pairs",
        "n_truth", "n_found",
        "round(CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)" +
          " AS pc",
        s"round(1.0 - CAST(cand_pairs AS DOUBLE) / $totalPairs.0, 6)" +
          " AS rr",
        "round(2.0 * (CAST(n_found AS DOUBLE) / " +
          "CAST(n_truth AS DOUBLE)) * (1.0 - CAST(cand_pairs AS " +
          s"DOUBLE) / $totalPairs.0) / ((CAST(n_found AS DOUBLE) / " +
          "CAST(n_truth AS DOUBLE)) + (1.0 - CAST(cand_pairs AS " +
          s"DOUBLE) / $totalPairs.0)), 6) AS f_measure")
      .orderBy("scheme")
  }

  def blockingAuditOracle: String = {
    val p = MinhashPrime
    val x = s"(CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)) % $p"
    val mins = (0 until NumPerms).map(i =>
      s"min((($x) * ${permA(i)} + ${permB(i)}) % $p) AS h$i")
      .mkString(",\n    ")
    val bandSelects = (0 until NumPerms / BandSize).map { b =>
      val cols = (0 until BandSize)
        .map(r => s"CAST(h${b * BandSize + r} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, CAST($b AS VARCHAR) || '|' || " +
        s"md5(concat_ws(',', $cols)) AS k FROM sigs"
    }.mkString("\n  UNION ALL ")
    val aCols = (0 until NumPerms).map(i => s"sa.h$i AS a_h$i")
      .mkString(", ")
    val bCols = (0 until NumPerms).map(i => s"sb.h$i AS b_h$i")
      .mkString(", ")
    val singleKeys = Seq(
      ("length_band", "CAST(length(text) // 20 AS VARCHAR)"),
      ("prefix4", "substr(text, 1, 4)"),
      ("suffix4", "substr(text, greatest(length(text) - 3, 1), 4)"))
    val keySelects = (singleKeys.map { case (scheme, k) =>
      s"SELECT '$scheme' AS scheme, doc_id, $k AS k FROM corpus"
    } :+ "SELECT 'minhash_band', doc_id, k FROM bands")
      .mkString("\n  UNION ALL ")
    val truthSelects = (singleKeys.map { case (scheme, k) =>
      s"""SELECT '$scheme' AS scheme, count(*) AS n_truth,
         |  CAST(sum(CASE WHEN a.k = b.k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found
         |  FROM (SELECT doc_id, $k AS k FROM corpus
         |    WHERE doc_id < $CopyOffset) a
         |  JOIN (SELECT doc_id - $CopyOffset AS doc_id, $k AS k
         |    FROM corpus WHERE doc_id >= $CopyOffset) b
         |  USING (doc_id)""".stripMargin
    } :+
      s"""SELECT 'minhash_band', count(*) AS n_truth,
         |  CAST(sum(CASE WHEN ${sCurveCapSql(BandSize)} THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_found
         |  FROM (SELECT sa.doc_id, $aCols FROM sigs sa
         |    WHERE sa.doc_id < $CopyOffset) ta
         |  JOIN (SELECT sb.doc_id - $CopyOffset AS doc_id, $bCols
         |    FROM sigs sb WHERE sb.doc_id >= $CopyOffset) tb
         |  USING (doc_id)""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH ${OracleGen.CorpusNear},
       |${OracleGen.ShingleCtes},
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus),
       |tp AS (SELECT n * (n - 1) / 2 AS total_pairs FROM nn),
       |keys AS (
       |  $keySelects),
       |blocks AS (SELECT scheme, k, CAST(count(*) AS BIGINT) AS nb
       |  FROM keys GROUP BY scheme, k),
       |stats AS (SELECT scheme, count(*) AS n_blocks,
       |    max(nb) AS max_block,
       |    CAST(sum(nb * (nb - 1) / 2) AS BIGINT) AS cand_pairs
       |  FROM blocks GROUP BY scheme),
       |truth AS ($truthSelects)
       |SELECT st.scheme, st.n_blocks, st.max_block, st.cand_pairs,
       |  t.n_truth, t.n_found,
       |  round(CAST(t.n_found AS DOUBLE) / CAST(t.n_truth AS DOUBLE),
       |    6) AS pc,
       |  round(1.0 - CAST(st.cand_pairs AS DOUBLE) /
       |    CAST(tp.total_pairs AS DOUBLE), 6) AS rr,
       |  round(2.0 * (CAST(t.n_found AS DOUBLE) /
       |    CAST(t.n_truth AS DOUBLE)) * (1.0 -
       |    CAST(st.cand_pairs AS DOUBLE) /
       |    CAST(tp.total_pairs AS DOUBLE)) /
       |    ((CAST(t.n_found AS DOUBLE) / CAST(t.n_truth AS DOUBLE)) +
       |    (1.0 - CAST(st.cand_pairs AS DOUBLE) /
       |    CAST(tp.total_pairs AS DOUBLE))), 6) AS f_measure
       |FROM stats st JOIN truth t ON t.scheme = st.scheme
       |CROSS JOIN tp ORDER BY st.scheme""".stripMargin
  }

  // --- q233: LSH S-curve parameter planner --------------------------------

  /** Rows-per-band grid sliced from the ONE 16-perm signature family
    * (b = NumPerms / r): r=1 is the permissive recall-everything end,
    * r=8 the strict precision end. */
  val SCurveRows: Seq[Int] = Seq(1, 2, 4, 8)

  /** Integer power by textual squaring — the analytic S-curve stays
    * libm-free and the SAME expression string evaluates on both
    * engines (exact IEEE multiply chains). k must be a power of 2
    * times at most one odd step. */
  private def powSql(e: String, k: Int): String = k match {
    case 1 => e
    case n if n % 2 == 0 =>
      val h = powSql(e, n / 2); s"($h * $h)"
    case n => s"(${powSql(e, n - 1)} * $e)"
  }

  private val SCurveJd = "(CAST(n_int AS DOUBLE) / CAST(n_un AS DOUBLE))"

  /** Analytic capture probability 1 − (1 − s^r)^b at the pair's exact
    * Jaccard. */
  private def sCurveAnaSql(r: Int): String =
    s"(1.0 - ${powSql(s"(1.0 - ${powSql(SCurveJd, r)})", NumPerms / r)})"

  /** Empirical capture: the two signatures share at least one full
    * band — plain slot equality over the aliased h-columns. */
  private def sCurveCapSql(r: Int): String =
    (0 until NumPerms / r).map { b =>
      (0 until r).map(j => s"a_h${b * r + j} = b_h${b * r + j}")
        .mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")

  /** The threshold similarity τ* where the analytic curve crosses ½ —
    * the number a planner actually reads off; computed at BUILD time
    * and embedded as the same literal in both engines. */
  private def sCurveTau(r: Int): Double =
    math.pow(1.0 - math.pow(0.5, r.toDouble / NumPerms), 1.0 / r)

  /** q233 — LSH S-curve parameter planner: choosing (bands b, rows r)
    * is THE MinHash design decision, normally made from the analytic
    * capture curve P(s) = 1 − (1 − s^r)^b — and this operator checks
    * that formula against reality on the graded-variant corpus
    * ([[corpusSpread]]: every planted pair has an EXACT Jaccard known
    * from shingle algebra, spanning ~0.2–0.95). Per (r, similarity
    * decile): the mean analytic capture vs the fraction of pairs whose
    * 16-slot signatures actually share a full band under that slicing
    * — all four geometries sliced from ONE signature pass. τ* (the
    * curve's ½-crossing) is emitted per config so the planner's
    * lookup table is the output itself.
    *
    * Parity: exact Jaccards are integer shingle counts; the analytic
    * curve is a shared power-by-squaring double chain frozen to ×1e9
    * per pair before the order-free integer mean; the empirical side
    * is pure integer equality counting; τ* is a build-time literal.
    *
    * Scale (100 TB): planted-pair evaluation is LINEAR — signatures
    * join pairwise on the base doc key (no banding join, no candidate
    * blowup), so the planner costs one signature pass + one equi-join
    * regardless of corpus duplication structure. The production
    * banding run this plans for is priced separately (q31/q118). */
  def lshSCurve(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusSpread(s, dir)
    val sh = shingles(corpus).persist()
    val shk = sh.withColumn("base", col("doc_id") % CopyOffset)
      .withColumn("k", (col("doc_id") / CopyOffset).cast("long"))
    val szO = shk.filter(col("k") === 0)
      .groupBy("base").agg(count(lit(1)).as("n_a"))
    val szV = shk.filter(col("k") > 0)
      .groupBy("base", "k").agg(count(lit(1)).as("n_b"))
    val intr = shk.filter(col("k") > 0).select("base", "k", "shingle")
      .join(shk.filter(col("k") === 0).select("base", "shingle"),
        Seq("base", "shingle"))
      .groupBy("base", "k").agg(count(lit(1)).as("n_int0"))
    val sigs = minhashSignaturesNative(sh).persist()
    val sigA = sigs.select(col("doc_id").as("base") +:
      (0 until NumPerms).map(i => col(s"h$i").as(s"a_h$i")): _*)
    val sigB = sigs.select(
      (col("doc_id") % CopyOffset).as("base") +:
        (col("doc_id") / CopyOffset).cast("long").as("k") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"b_h$i")): _*)
      .filter(col("k") > 0)
    val pairs = szV.join(szO, "base")
      .join(intr, Seq("base", "k"), "left")
      .withColumn("n_int", coalesce(col("n_int0"), lit(0L)))
      .withColumn("n_un", col("n_a") + col("n_b") - col("n_int"))
      .join(sigA, "base").join(sigB, Seq("base", "k"))
      .persist()
    val perConfig = SCurveRows.map { r =>
      pairs.selectExpr(
        s"$r AS r", s"${NumPerms / r} AS b",
        s"CAST(${sCurveTau(r)} AS DOUBLE) AS tau_star",
        s"least(CAST(floor($SCurveJd * 10) AS BIGINT), 9) AS decile",
        s"CASE WHEN ${sCurveCapSql(r)} THEN 1 ELSE 0 END AS cap",
        s"CAST(floor(${sCurveAnaSql(r)} * 1e9) AS BIGINT) AS ana_fp")
    }.reduce(_ unionAll _)
    perConfig.groupBy("r", "b", "tau_star", "decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cap")).as("n_captured"),
        sum(col("ana_fp")).as("ana_sum"))
      .select(col("r").cast("bigint").as("r"),
        col("b").cast("bigint").as("b"), col("tau_star"), col("decile"),
        col("n_pairs"), col("n_captured"),
        round(col("n_captured").cast("double") /
          col("n_pairs").cast("double"), 6).as("empirical"),
        round(col("ana_sum").cast("double") /
          (col("n_pairs").cast("double") * 1e9), 6).as("analytic"))
      .orderBy("r", "decile")
  }

  def lshSCurveOracle: String = {
    val p = MinhashPrime
    val x = s"(CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)) % $p"
    val mins = (0 until NumPerms).map(i =>
      s"min((($x) * ${permA(i)} + ${permB(i)}) % $p) AS h$i")
      .mkString(",\n    ")
    val aCols = (0 until NumPerms).map(i => s"sa.h$i AS a_h$i")
      .mkString(", ")
    val bCols = (0 until NumPerms).map(i => s"sb.h$i AS b_h$i")
      .mkString(", ")
    val cfgSelects = SCurveRows.map { r =>
      s"""SELECT $r AS r, ${NumPerms / r} AS b,
         |    CAST(${sCurveTau(r)} AS DOUBLE) AS tau_star,
         |    least(CAST(floor($SCurveJd * 10) AS BIGINT), 9) AS decile,
         |    CASE WHEN ${sCurveCapSql(r)} THEN 1 ELSE 0 END AS cap,
         |    CAST(floor(${sCurveAnaSql(r)} * 1e9) AS BIGINT) AS ana_fp
         |  FROM sp""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${OracleGen.CorpusSpread},
       |${OracleGen.ShingleCtes},
       |shk AS (SELECT doc_id % $CopyOffset AS base,
       |    doc_id // $CopyOffset AS k, shingle FROM sh),
       |szo AS (SELECT base, CAST(count(*) AS BIGINT) AS n_a FROM shk
       |  WHERE k = 0 GROUP BY base),
       |szv AS (SELECT base, k, CAST(count(*) AS BIGINT) AS n_b FROM shk
       |  WHERE k > 0 GROUP BY base, k),
       |intr AS (SELECT v.base, v.k, CAST(count(*) AS BIGINT) AS n_int0
       |  FROM shk v JOIN shk o ON o.base = v.base
       |    AND o.shingle = v.shingle AND o.k = 0
       |  WHERE v.k > 0 GROUP BY v.base, v.k),
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id),
       |pr AS (SELECT szv.base, szv.k, n_a, n_b,
       |    coalesce(n_int0, 0) AS n_int,
       |    n_a + n_b - coalesce(n_int0, 0) AS n_un
       |  FROM szv JOIN szo USING (base)
       |  LEFT JOIN intr ON intr.base = szv.base AND intr.k = szv.k),
       |sp AS (SELECT pr.*, $aCols, $bCols
       |  FROM pr JOIN sigs sa ON sa.doc_id = pr.base
       |  JOIN sigs sb ON sb.doc_id = pr.base + $CopyOffset * pr.k),
       |cfg AS ($cfgSelects)
       |SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b, tau_star,
       |  decile, count(*) AS n_pairs,
       |  CAST(sum(cap) AS BIGINT) AS n_captured,
       |  round(CAST(sum(cap) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS empirical,
       |  round(CAST(CAST(sum(ana_fp) AS BIGINT) AS DOUBLE) /
       |    (CAST(count(*) AS DOUBLE) * 1e9), 6) AS analytic
       |FROM cfg GROUP BY r, b, tau_star, decile
       |ORDER BY r, decile""".stripMargin
  }

  // --- q243: sorted-neighborhood (SNM) dedup ----------------------------

  val SnmIdOffset = 2000000L
  /** Window width w: each doc is compared with the next w-1 in sort order. */
  val SnmWindow = 3
  /** Verify threshold τ = SnmTauNum / SnmTauDen (exact integer compare). */
  val SnmTauNum = 7
  val SnmTauDen = 10

  /** q243 — sorted-neighborhood near-dup (Hernández–Stolfo SNM): the
    * sort-based alternative to hash blocking (q240) and LSH banding
    * (q31): sort the corpus by a prefix key, slide a width-[[SnmWindow]]
    * window, and exact-verify only window-adjacent pairs. Near-dups that
    * share a prefix land adjacent after the sort, so candidate count is
    * O(n·w) — no band self-join at all.
    *
    * Blocked variant (the production shape): the first token is the
    * block key and the sort + window run PER BLOCK, so the global sort
    * becomes |blocks| independent partition-local sorts. At 100 TB the
    * block key must lengthen with the corpus (more prefix tokens) to
    * keep per-block runs bounded — same knob as LSH's hot-bucket cap.
    * The sort key is the 5-token prefix: on this closed ~31-word vocab
    * a 3-token key already collides across unrelated docs, pushing a
    * true dup out of the window — the classic SNM completeness failure
    * that production cures with longer keys or a second pass on an
    * independent key.
    *
    * Fixture: the corpus has no shared-prefix near-dups, so one
    * suffix-perturbed variant (appended OOV token) is planted per
    * (doc_id % 40 == 0) base; the oracle plants identically.
    * Verification is exact Jaccard over 3-gram SHINGLE sets in integer
    * cross-multiplication — unigram sets saturate on the corpus's
    * closed ~31-word vocabulary (two long unrelated docs share most of
    * the pool), while the 31³ shingle space stays discriminative.
    *
    * Scale (100 TB): one projection pass, one shuffle on the block key,
    * per-block window (parallel across blocks), and the exact verify
    * touches only the w-1 window neighbors per doc — candidates are
    * linear in the corpus by construction, vs the collision-distribution
    * dependence of hash blocking. */
  def sortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") % 40 === 0).select(
      (col("doc_id") + SnmIdOffset).as("doc_id"),
      concat(col("text"), lit(" zq17")).as("text"))
    val keyed = d.unionAll(planted)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks").getItem(0).as("blk"),
        array_join(slice(col("toks"), 1, 5), " ").as("skey"),
        array_distinct(expr("transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"))
          .as("tset"))
    val w = Window.partitionBy("blk").orderBy(col("skey"), col("doc_id"))
    val neighborCols = (1 until SnmWindow).map(k =>
      lead(struct(col("doc_id"), col("tset")), k).over(w).as(s"n$k"))
    val withLeads = keyed.select(
      Seq(col("doc_id").as("a_id"), col("tset").as("ta")) ++
        neighborCols: _*)
    withLeads
      .withColumn("nb", explode(array(
        (1 until SnmWindow).map(k => col(s"n$k")): _*)))
      .filter(col("nb").isNotNull)
      .select(col("a_id"), col("ta"), col("nb.doc_id").as("b_id"),
        col("nb.tset").as("tb"))
      .withColumn("inter_sz",
        size(array_intersect(col("ta"), col("tb"))).cast("bigint"))
      .withColumn("union_sz",
        (size(col("ta")) + size(col("tb"))).cast("bigint")
          - col("inter_sz"))
      .filter(col("inter_sz") * SnmTauDen >= col("union_sz") * SnmTauNum)
      .selectExpr("a_id", "b_id", "inter_sz", "union_sz",
        "round(CAST(inter_sz AS DOUBLE) / union_sz, 4) AS jacc")
      .orderBy("a_id", "b_id")
  }

  def sortedNeighborhoodOracle: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |c AS (SELECT doc_id, text FROM d
       |  UNION ALL
       |  SELECT doc_id + $SnmIdOffset, text || ' zq17' FROM d
       |  WHERE doc_id % 40 = 0),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM c),
       |k AS (SELECT doc_id, toks[1] AS blk,
       |    array_to_string(list_slice(toks, 1, 5), ' ') AS skey,
       |    list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
       |      AS tset FROM tk),
       |n AS (SELECT doc_id AS a_id, tset AS ta,
       |    lead(doc_id, 1) OVER w AS b1, lead(tset, 1) OVER w AS t1,
       |    lead(doc_id, 2) OVER w AS b2, lead(tset, 2) OVER w AS t2
       |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)),
       |p AS (SELECT a_id, ta, b1 AS b_id, t1 AS tb FROM n
       |    WHERE b1 IS NOT NULL
       |  UNION ALL
       |  SELECT a_id, ta, b2, t2 FROM n WHERE b2 IS NOT NULL),
       |j AS (SELECT a_id, b_id,
       |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter_sz,
       |    CAST(len(ta) + len(tb) AS BIGINT)
       |      - CAST(len(list_intersect(ta, tb)) AS BIGINT) AS union_sz
       |  FROM p)
       |SELECT a_id, b_id, inter_sz, union_sz,
       |  round(CAST(inter_sz AS DOUBLE) / union_sz, 4) AS jacc
       |FROM j WHERE inter_sz * $SnmTauDen >= union_sz * $SnmTauNum
       |ORDER BY a_id, b_id""".stripMargin

  // --- q248: Fellegi–Sunter probabilistic record linkage ----------------

  val FsIdOffset = 5000000L
  /** Name-agreement edit-distance gate for the γ_name comparator. */
  val FsNameMaxEdit = 2

  /** q248 — Fellegi–Sunter probabilistic linkage over the customer
    * table: where q93 links by a hard edit-distance cut, FS scores each
    * blocked candidate pair by the LIKELIHOOD RATIO of its agreement
    * pattern γ = (name≈, segment=, balance≈): weight = Π P(γᵢ|match) /
    * P(γᵢ|non-match). m/u probabilities are estimated from the planted
    * truth (one perturbed copy per c_custkey % 20 == 0 customer: last
    * name char rewritten; balance nudged +0.5 but pushed OUT of the
    * γ_bal gate for every third dup; segment rewritten for every fifth
    * — so the match class genuinely spreads over patterns and the m
    * probabilities are non-degenerate, as an EM fit would find them.
    * Production estimates the same table from labeled pairs or EM).
    *
    * Exactness: m/u are integer counts with add-one (Laplace)
    * smoothing — mandatory, not cosmetic: a comparator no non-match
    * pair agrees on has u=0 and an unsmoothed odds division by zero;
    * the pattern weight multiplies THREE fixed-order double ratios
    * (bit-identical both engines) and every other column is an exact
    * count. No logs anywhere — ranking by the odds PRODUCT is ranking
    * by sum of log-weights, so the log-free form is order-equivalent
    * and stays libm-free.
    *
    * Scale (100 TB): candidates come from HIERARCHICAL blocking —
    * (nation, 2-digit name bucket), the q240 family with a second key,
    * because nation alone has 25 blocks and the pair stage is
    * quadratic per block (measured 12.8 s at sf0.1 before the second
    * key); the name comparator uses the THRESHOLDED levenshtein
    * (banded DP, early exit) since only the ≤[[FsNameMaxEdit]]
    * question is asked. m/u estimation and the 2³-row pattern table
    * are metadata-sized. */
  /** Shared q248/q272 stage: blocked candidate pairs collapsed to the
    * 2³ agreement-pattern table with (supervised) match labels. */
  private[operators] def fsPatternCounts(s: SparkSession,
      dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey").as("k"),
      col("c_name").as("nm"), col("c_nationkey").as("nat"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
    val plant = c.filter(col("k") % 20 === 0).select(
      (col("k") + FsIdOffset).as("k"),
      concat(expr("substr(nm, 1, length(nm) - 1)"), lit("x")).as("nm"),
      col("nat"),
      (col("bal") + expr("CASE WHEN k % 60 = 0 THEN 5.0 ELSE 0.5 END"))
        .as("bal"),
      expr("CASE WHEN k % 100 = 0 THEN 'SHIFTED' ELSE seg END")
        .as("seg"))
    // second block key: two name digits just BEFORE the perturbed
    // last character — true matches always share it, and it cuts the
    // per-block pair count ~100×
    val full = c.unionAll(plant)
      .withColumn("blk2", expr("substr(nm, length(nm) - 3, 2)"))
    val a = full.select(col("nat"), col("blk2"), col("k").as("ak"),
      col("nm").as("anm"), col("bal").as("abal"), col("seg").as("aseg"))
    val b = full.select(col("nat"), col("blk2"), col("k").as("bk"),
      col("nm").as("bnm"), col("bal").as("bbal"), col("seg").as("bseg"))
    val pairs = a.join(b, Seq("nat", "blk2"))
      .filter(col("ak") < col("bk"))
      .select(
        (expr(s"levenshtein(anm, bnm, $FsNameMaxEdit)") =!= -1)
          .cast("int").as("g_name"),
        (col("aseg") === col("bseg")).cast("int").as("g_seg"),
        (abs(col("abal") - col("bbal")) <= 1.0).cast("int").as("g_bal"),
        (col("bk") - col("ak") === FsIdOffset).cast("int").as("is_match"))
    pairs.groupBy("g_name", "g_seg", "g_bal").agg(
      sum(col("is_match")).as("n_match"),
      sum(lit(1L) - col("is_match")).as("n_unmatch")).persist()
  }

  def fsLinkage(s: SparkSession, dir: String): DataFrame = {
    val counts = fsPatternCounts(s, dir)
    val mu = counts.agg(
      sum(col("g_name") * col("n_match")).as("m1"),
      sum(col("g_seg") * col("n_match")).as("m2"),
      sum(col("g_bal") * col("n_match")).as("m3"),
      sum(col("g_name") * col("n_unmatch")).as("u1"),
      sum(col("g_seg") * col("n_unmatch")).as("u2"),
      sum(col("g_bal") * col("n_unmatch")).as("u3"),
      sum(col("n_match")).as("mm"), sum(col("n_unmatch")).as("uu"))
    counts.crossJoin(broadcast(mu))
      .selectExpr("g_name", "g_seg", "g_bal", "n_match", "n_unmatch",
        s"round($fsOddsExpr, 6) AS odds",
        s"$fsOddsExpr > 1.0 AS match_zone")
      .orderBy("g_name", "g_seg", "g_bal")
  }

  /** Laplace-smoothed FS odds over the m/u scalars — ONE expression
    * string, stated identically in Spark SQL and the DuckDB oracle. */
  private[operators] val fsOddsExpr: String =
    Seq(("g_name", "m1", "u1"), ("g_seg", "m2", "u2"),
      ("g_bal", "m3", "u3")).map { case (g, m, u) =>
      s"(CASE WHEN $g = 1 THEN CAST($m + 1 AS DOUBLE) / (mm + 2) " +
        s"ELSE CAST(mm - $m + 1 AS DOUBLE) / (mm + 2) END / " +
        s"(CASE WHEN $g = 1 THEN CAST($u + 1 AS DOUBLE) / (uu + 2) " +
        s"ELSE CAST(uu - $u + 1 AS DOUBLE) / (uu + 2) END))"
    }.mkString(" * ")

  /** Shared oracle CTE prefix (through the labeled pattern table
    * `cnt`) for q248/q272. */
  private[operators] val FsOracleCtePrefix: String =
    s"""c AS (SELECT c_custkey AS k, c_name AS nm,
       |    c_nationkey AS nat, c_acctbal AS bal, c_mktsegment AS seg
       |  FROM customer),
       |pl AS (SELECT k + $FsIdOffset AS k,
       |    substr(nm, 1, length(nm) - 1) || 'x' AS nm, nat,
       |    bal + CASE WHEN k % 60 = 0 THEN 5.0 ELSE 0.5 END AS bal,
       |    CASE WHEN k % 100 = 0 THEN 'SHIFTED' ELSE seg END AS seg
       |  FROM c WHERE k % 20 = 0),
       |f AS (SELECT *, substr(nm, length(nm) - 3, 2) AS blk2
       |  FROM (SELECT * FROM c UNION ALL SELECT * FROM pl)),
       |p AS (SELECT
       |    CASE WHEN levenshtein(a.nm, b.nm) <= $FsNameMaxEdit THEN 1
       |      ELSE 0 END AS g_name,
       |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg,
       |    CASE WHEN abs(a.bal - b.bal) <= 1.0 THEN 1 ELSE 0 END
       |      AS g_bal,
       |    CASE WHEN b.k - a.k = $FsIdOffset THEN 1 ELSE 0 END
       |      AS is_match
       |  FROM f a JOIN f b ON a.nat = b.nat AND a.blk2 = b.blk2
       |    AND a.k < b.k),
       |cnt AS (SELECT g_name, g_seg, g_bal,
       |    CAST(sum(is_match) AS BIGINT) AS n_match,
       |    CAST(sum(1 - is_match) AS BIGINT) AS n_unmatch
       |  FROM p GROUP BY 1, 2, 3)""".stripMargin

  def fsLinkageOracle: String = {
    val ratio = fsOddsExpr
    s"""WITH $FsOracleCtePrefix,
       |mu AS (SELECT CAST(sum(g_name * n_match) AS BIGINT) AS m1,
       |    CAST(sum(g_seg * n_match) AS BIGINT) AS m2,
       |    CAST(sum(g_bal * n_match) AS BIGINT) AS m3,
       |    CAST(sum(g_name * n_unmatch) AS BIGINT) AS u1,
       |    CAST(sum(g_seg * n_unmatch) AS BIGINT) AS u2,
       |    CAST(sum(g_bal * n_unmatch) AS BIGINT) AS u3,
       |    CAST(sum(n_match) AS BIGINT) AS mm,
       |    CAST(sum(n_unmatch) AS BIGINT) AS uu FROM cnt)
       |SELECT g_name, g_seg, g_bal, n_match, n_unmatch,
       |  round($ratio, 6) AS odds, $ratio > 1.0 AS match_zone
       |FROM cnt, mu ORDER BY g_name, g_seg, g_bal""".stripMargin
  }

  // --- q272: unsupervised m/u estimation by EM ---------------------------

  /** EM iterations (fixed so the oracle states the identical unrolled
    * computation). */
  val FsEmIters = 10

  /** q272 — the unsupervised half of Fellegi–Sunter: q248 estimates
    * the m/u model from PLANTED truth, but production rarely has
    * labels — the classical answer (Winkler) is EM over the agreement-
    * pattern table, treating match/non-match as a latent 2-class
    * mixture. [[FsEmIters]] iterations run on the 2³-row pattern
    * frame; the audit then puts the EM estimates NEXT to the
    * label-derived truth — the judge of whether unsupervised linkage
    * can be trusted on this data.
    *
    * Exactness: the EM state (prevalence + 6 probabilities) is frozen
    * to ×1e12 integers BETWEEN iterations, and every within-iteration
    * sum is an integer (responsibilities freeze to ×1e6 per pattern
    * before summing), so the 10-iteration chain is bit-reproducible on
    * both engines — the oracle unrolls the identical computation as 10
    * MATERIALIZED CTE pairs. The pattern frame is metadata-sized, so
    * the Spark side iterates DRIVER-side on the collected 8 rows (the
    * q79/q188 boundary: corpus-sized work stays distributed, the
    * |patterns|-sized fit does not).
    *
    * Scale (100 TB): all corpus cost is q248's blocked pair collapse
    * (shared `fsPatternCounts`); EM itself is O(iters · 2³). */
  def fsEm(s: SparkSession, dir: String): DataFrame = {
    val pats = fsPatternCounts(s, dir).collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3) + r.getLong(4), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2, p._3))
    var pFp = 10000000000L // 0.01
    val mFp = Array(900000000000L, 900000000000L, 900000000000L)
    val uFp = Array(100000000000L, 100000000000L, 100000000000L)
    for (_ <- 1 to FsEmIters) {
      val p = pFp.toDouble / 1e12
      val m = mFp.map(_.toDouble / 1e12)
      val u = uFp.map(_.toDouble / 1e12)
      val rfp = pats.map { case (g1, g2, g3, n, _, _) =>
        val gs = Array(g1, g2, g3)
        val lm = (0 to 2).map(i =>
          if (gs(i) == 1) m(i) else 1.0 - m(i)).product
        val lu = (0 to 2).map(i =>
          if (gs(i) == 1) u(i) else 1.0 - u(i)).product
        val plm = p * lm
        val plu = (1.0 - p) * lu
        math.floor(plm / (plm + plu) * n * 1e6).toLong
      }
      val sr = rfp.sum
      val n6 = pats.map(_._4 * 1000000L).sum
      val su = n6 - sr
      val srg = (0 to 2).map(i => pats.zip(rfp).map { case (pt, r) =>
        r * (if (i == 0) pt._1 else if (i == 1) pt._2 else pt._3) }
        .sum)
      val sug = (0 to 2).map(i => pats.zip(rfp).map { case (pt, r) =>
        (pt._4 * 1000000L - r) *
          (if (i == 0) pt._1 else if (i == 1) pt._2 else pt._3) }.sum)
      pFp = math.floor(sr.toDouble / n6.toDouble * 1e12).toLong
      (0 to 2).foreach { i =>
        mFp(i) = math.floor(srg(i).toDouble / sr.toDouble * 1e12)
          .toLong
        uFp(i) = math.floor(sug(i).toDouble / su.toDouble * 1e12)
          .toLong
      }
    }
    val mm = pats.map(_._5).sum
    val uu = pats.map(_._6).sum
    val mx = (0 to 2).map(i => pats.map(pt => pt._5 *
      (if (i == 0) pt._1 else if (i == 1) pt._2 else pt._3)).sum)
    val ux = (0 to 2).map(i => pats.map(pt => pt._6 *
      (if (i == 0) pt._1 else if (i == 1) pt._2 else pt._3)).sum)
    val names = Seq("name", "segment", "balance")
    val rows = (0 to 2).map { i =>
      val mEm = mFp(i).toDouble / 1e12
      val uEm = uFp(i).toDouble / 1e12
      val mSup = mx(i).toDouble / mm.toDouble
      val uSup = ux(i).toDouble / uu.toDouble
      (names(i), mEm, mSup, math.abs(mEm - mSup),
        uEm, uSup, math.abs(uEm - uSup))
    }
    // rounding goes through Spark's round so it matches the oracle's
    // round semantics exactly (not scala.BigDecimal's)
    s.createDataFrame(rows).toDF("comparator", "m_em", "m_sup",
        "m_abs_err", "u_em", "u_sup", "u_abs_err")
      .selectExpr("comparator", "round(m_em, 6) AS m_em",
        "round(m_sup, 6) AS m_sup", "round(m_abs_err, 6) AS m_abs_err",
        "round(u_em, 6) AS u_em", "round(u_sup, 6) AS u_sup",
        "round(u_abs_err, 6) AS u_abs_err")
      .orderBy("comparator")
  }

  def fsEmOracle: String = {
    val pDbl = "CAST(p_fp AS DOUBLE) / 1e12"
    def prob(fp: String) = s"CAST($fp AS DOUBLE) / 1e12"
    def lExpr(pfx: String) = Seq(("g_name", s"${pfx}1_fp"),
      ("g_seg", s"${pfx}2_fp"), ("g_bal", s"${pfx}3_fp"))
      .map { case (g, f) =>
        s"(CASE WHEN $g = 1 THEN ${prob(f)} ELSE 1.0 - ${prob(f)} END)"
      }.mkString(" * ")
    val iters = (1 to FsEmIters).map { k =>
      val prev = s"s${k - 1}"
      s"""r$k AS MATERIALIZED (SELECT g_name, g_seg, g_bal, n_pat,
         |  CAST(floor((($pDbl) * ${lExpr("m")}) /
         |    ((($pDbl) * ${lExpr("m")}) +
         |     ((1.0 - $pDbl) * ${lExpr("u")}))
         |    * n_pat * 1e6) AS BIGINT) AS rfp
         |  FROM pat, $prev),
         |s$k AS MATERIALIZED (SELECT
         |    CAST(floor(CAST(sr AS DOUBLE) / CAST(n6 AS DOUBLE)
         |      * 1e12) AS BIGINT) AS p_fp,
         |    CAST(floor(CAST(srg1 AS DOUBLE) / CAST(sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS m1_fp,
         |    CAST(floor(CAST(srg2 AS DOUBLE) / CAST(sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS m2_fp,
         |    CAST(floor(CAST(srg3 AS DOUBLE) / CAST(sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS m3_fp,
         |    CAST(floor(CAST(sug1 AS DOUBLE) / CAST(n6 - sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS u1_fp,
         |    CAST(floor(CAST(sug2 AS DOUBLE) / CAST(n6 - sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS u2_fp,
         |    CAST(floor(CAST(sug3 AS DOUBLE) / CAST(n6 - sr AS DOUBLE)
         |      * 1e12) AS BIGINT) AS u3_fp
         |  FROM (SELECT CAST(sum(rfp) AS BIGINT) AS sr,
         |      CAST(sum(rfp * g_name) AS BIGINT) AS srg1,
         |      CAST(sum(rfp * g_seg) AS BIGINT) AS srg2,
         |      CAST(sum(rfp * g_bal) AS BIGINT) AS srg3,
         |      CAST(sum(n_pat * 1000000) AS BIGINT) AS n6,
         |      CAST(sum((n_pat * 1000000 - rfp) * g_name) AS BIGINT)
         |        AS sug1,
         |      CAST(sum((n_pat * 1000000 - rfp) * g_seg) AS BIGINT)
         |        AS sug2,
         |      CAST(sum((n_pat * 1000000 - rfp) * g_bal) AS BIGINT)
         |        AS sug3
         |    FROM r$k))""".stripMargin
    }.mkString(",\n")
    val fin = s"s$FsEmIters"
    s"""WITH $FsOracleCtePrefix,
       |pat AS (SELECT g_name, g_seg, g_bal,
       |    n_match + n_unmatch AS n_pat FROM cnt),
       |sup AS (SELECT CAST(sum(g_name * n_match) AS BIGINT) AS mx1,
       |    CAST(sum(g_seg * n_match) AS BIGINT) AS mx2,
       |    CAST(sum(g_bal * n_match) AS BIGINT) AS mx3,
       |    CAST(sum(g_name * n_unmatch) AS BIGINT) AS ux1,
       |    CAST(sum(g_seg * n_unmatch) AS BIGINT) AS ux2,
       |    CAST(sum(g_bal * n_unmatch) AS BIGINT) AS ux3,
       |    CAST(sum(n_match) AS BIGINT) AS mm,
       |    CAST(sum(n_unmatch) AS BIGINT) AS uu FROM cnt),
       |s0 AS (SELECT CAST(10000000000 AS BIGINT) AS p_fp,
       |    CAST(900000000000 AS BIGINT) AS m1_fp,
       |    CAST(900000000000 AS BIGINT) AS m2_fp,
       |    CAST(900000000000 AS BIGINT) AS m3_fp,
       |    CAST(100000000000 AS BIGINT) AS u1_fp,
       |    CAST(100000000000 AS BIGINT) AS u2_fp,
       |    CAST(100000000000 AS BIGINT) AS u3_fp),
       |$iters
       |SELECT * FROM (
       |  SELECT 'name' AS comparator,
       |    round(CAST(m1_fp AS DOUBLE) / 1e12, 6) AS m_em,
       |    round(CAST(mx1 AS DOUBLE) / mm, 6) AS m_sup,
       |    round(abs(CAST(m1_fp AS DOUBLE) / 1e12 -
       |      CAST(mx1 AS DOUBLE) / mm), 6) AS m_abs_err,
       |    round(CAST(u1_fp AS DOUBLE) / 1e12, 6) AS u_em,
       |    round(CAST(ux1 AS DOUBLE) / uu, 6) AS u_sup,
       |    round(abs(CAST(u1_fp AS DOUBLE) / 1e12 -
       |      CAST(ux1 AS DOUBLE) / uu), 6) AS u_abs_err
       |  FROM $fin, sup
       |  UNION ALL
       |  SELECT 'segment',
       |    round(CAST(m2_fp AS DOUBLE) / 1e12, 6),
       |    round(CAST(mx2 AS DOUBLE) / mm, 6),
       |    round(abs(CAST(m2_fp AS DOUBLE) / 1e12 -
       |      CAST(mx2 AS DOUBLE) / mm), 6),
       |    round(CAST(u2_fp AS DOUBLE) / 1e12, 6),
       |    round(CAST(ux2 AS DOUBLE) / uu, 6),
       |    round(abs(CAST(u2_fp AS DOUBLE) / 1e12 -
       |      CAST(ux2 AS DOUBLE) / uu), 6)
       |  FROM $fin, sup
       |  UNION ALL
       |  SELECT 'balance',
       |    round(CAST(m3_fp AS DOUBLE) / 1e12, 6),
       |    round(CAST(mx3 AS DOUBLE) / mm, 6),
       |    round(abs(CAST(m3_fp AS DOUBLE) / 1e12 -
       |      CAST(mx3 AS DOUBLE) / mm), 6),
       |    round(CAST(u3_fp AS DOUBLE) / 1e12, 6),
       |    round(CAST(ux3 AS DOUBLE) / uu, 6),
       |    round(abs(CAST(u3_fp AS DOUBLE) / 1e12 -
       |      CAST(ux3 AS DOUBLE) / uu), 6)
       |  FROM $fin, sup)
       |ORDER BY comparator""".stripMargin
  }

  // --- q293: contamination normalization ladder -----------------------------

  /** Plant cadence: of val docs (doc_id % 10 = 0), those ≡ 0 (mod 30)
    * leak into train verbatim, ≡ 10 case-perturbed (upper-cased),
    * ≡ 20 punctuation-perturbed (commas injected at spaces). */
  val LadderPlantOffset = 2000000L

  /** q293 — contamination normalization ladder: q119 asks IF the eval
    * set leaked; this asks how deep the decontamination firewall must
    * normalize to SEE it. Evasive leaks (re-cased, re-punctuated
    * copies — exactly what crawl pipelines produce) are invisible to
    * exact matching, so production firewalls stack normalization
    * layers (Brown et al.'s GPT-3 dedup, the Dolma/RedPajama
    * decontamination recipes). Each layer L ∈ {exact, casefold,
    * punct-strip} matches full-document fingerprints of the
    * L-normalized text; the output is the ladder — how many val docs
    * each layer catches and how many it catches FIRST. The planted
    * verbatim/case/punct copies must first appear at layers 0/1/2
    * respectively (spec-pinned cell-exact).
    *
    * Exactness: every layer's key is the shared 60-bit md5 of a
    * deterministic normalization chain; counts are integers.
    *
    * Scale (100 TB): the corpus streams once into a 3×-stacked
    * fingerprint frame (a constant-factor explode, not a gram
    * explosion — full-doc equality is the primitive, q119 owns partial
    * n-gram coverage); the probe is a (layer, fp) equi semi-join. */
  def contamLadder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val valD = d.filter(col("doc_id") % 10 === 0)
    val plants = valD.filter(col("doc_id") % 30 === 0)
      .selectExpr(s"doc_id + $LadderPlantOffset AS doc_id", "text")
      .unionAll(valD.filter(col("doc_id") % 30 === 10)
        .selectExpr(s"doc_id + $LadderPlantOffset AS doc_id",
          "upper(text) AS text"))
      .unionAll(valD.filter(col("doc_id") % 30 === 20)
        .selectExpr(s"doc_id + $LadderPlantOffset AS doc_id",
          "regexp_replace(text, ' ', ' , ') AS text"))
    val train = d.filter(col("doc_id") % 10 =!= 0).unionAll(plants)
    val norms = Seq(
      "text",
      "lower(text)",
      "regexp_replace(regexp_replace(lower(text), '[.,!?;]', '')," +
        " ' +', ' ')")
    val stackExpr = "stack(3, " + norms.zipWithIndex.map {
      case (n, i) => s"$i, md5_fp60($n)" }.mkString(", ") +
      ") AS (layer, fp)"
    val trainFps = train.selectExpr(stackExpr)
      .select("layer", "fp").distinct()
    val valFps = valD.selectExpr("doc_id", stackExpr)
    val caught = valFps.join(trainFps, Seq("layer", "fp"), "left_semi")
    val firstL = caught.groupBy("doc_id")
      .agg(min(col("layer")).as("first_layer"))
    val perLayer = caught.groupBy("layer")
      .agg(count(lit(1L)).as("n_caught"))
    val firstCnt = firstL.groupBy(col("first_layer").as("layer"))
      .agg(count(lit(1L)).as("n_first"))
    val nv = valD.count()
    perLayer.join(firstCnt, Seq("layer"), "left")
      .withColumn("n_first", coalesce(col("n_first"), lit(0L)))
      .withColumn("cum_first", sum(col("n_first")).over(
        Window.orderBy("layer")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .selectExpr("layer",
        "CASE layer WHEN 0 THEN 'exact' WHEN 1 THEN 'casefold' " +
          "ELSE 'punct_strip' END AS layer_name",
        s"CAST($nv AS BIGINT) AS n_val", "n_caught", "n_first",
        "cum_first",
        s"round(CAST(cum_first AS DOUBLE) / $nv, 4) AS cum_share")
      .orderBy("layer")
  }

  def contamLadderOracle: String = {
    def fp(x: String) =
      s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
    val norms = Seq(
      "text",
      "lower(text)",
      "regexp_replace(regexp_replace(lower(text), '[.,!?;]', ''," +
        " 'g'), ' +', ' ', 'g')")
    def stacked(src: String, cols: String) = norms.zipWithIndex.map {
      case (n, i) =>
        s"SELECT $cols $i AS layer, ${fp(n)} AS fp FROM $src"
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |vd AS (SELECT doc_id, text FROM d WHERE doc_id % 10 = 0),
       |plants AS (
       |  SELECT doc_id + $LadderPlantOffset AS doc_id, text FROM vd
       |  WHERE doc_id % 30 = 0
       |  UNION ALL
       |  SELECT doc_id + $LadderPlantOffset, upper(text) FROM vd
       |  WHERE doc_id % 30 = 10
       |  UNION ALL
       |  SELECT doc_id + $LadderPlantOffset,
       |    regexp_replace(text, ' ', ' , ', 'g')
       |  FROM vd WHERE doc_id % 30 = 20),
       |train AS (SELECT doc_id, text FROM d WHERE doc_id % 10 <> 0
       |  UNION ALL SELECT * FROM plants),
       |tf AS (SELECT DISTINCT layer, fp FROM (
       |  ${stacked("train", "")})),
       |vf AS (${stacked("vd", "doc_id,")}),
       |caught AS (SELECT vf.doc_id, vf.layer FROM vf
       |  WHERE EXISTS (SELECT 1 FROM tf
       |    WHERE tf.layer = vf.layer AND tf.fp = vf.fp)),
       |fl AS (SELECT doc_id, min(layer) AS first_layer FROM caught
       |  GROUP BY doc_id),
       |pl AS (SELECT layer, count(*) AS n_caught FROM caught
       |  GROUP BY layer),
       |fc AS (SELECT first_layer AS layer, count(*) AS n_first
       |  FROM fl GROUP BY first_layer),
       |nv AS (SELECT count(*) AS n FROM vd)
       |SELECT pl.layer,
       |  CASE pl.layer WHEN 0 THEN 'exact' WHEN 1 THEN 'casefold'
       |    ELSE 'punct_strip' END AS layer_name,
       |  CAST(nv.n AS BIGINT) AS n_val, pl.n_caught,
       |  CAST(coalesce(fc.n_first, 0) AS BIGINT) AS n_first,
       |  CAST(sum(coalesce(fc.n_first, 0)) OVER (ORDER BY pl.layer
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_first,
       |  round(CAST(sum(coalesce(fc.n_first, 0)) OVER (
       |    ORDER BY pl.layer ROWS BETWEEN UNBOUNDED PRECEDING AND
       |    CURRENT ROW) AS DOUBLE) / nv.n, 4) AS cum_share
       |FROM pl LEFT JOIN fc ON fc.layer = pl.layer, nv
       |ORDER BY pl.layer""".stripMargin
  }

  // --- q315: edit-distance verification of the LSH candidate stream ------

  /** Per-side character budget for the Levenshtein verify — vacuous on
    * the fixture's short documents, the O(len²) guard at any scale. */
  val EditPrefixCap = 1000

  /** Character-level duplicate threshold (normalized edit similarity). */
  val EditSimTau = 0.7

  /** Deterministic sampled-pair BUDGET for the edit audit: the
    * Levenshtein DP is the only O(len²)-per-pair work in the suite, so
    * the AUDIT samples the candidate stream (hash of the pair id — no
    * RNG, replayed exactly by the oracle). Means stay unbiased; the
    * verdict identities hold per sampled pair. Round 11: the knob is a
    * BUDGET, not a rate — the sample modulus is derived IN-PLAN as
    * ceil(n_candidates / budget) (one count over the already-persisted
    * candidate frame, broadcast back), so the audit's absolute cost
    * stays ~flat as the candidate stream grows instead of riding it at
    * a fixed fraction (the earlier 1-in-8 rate made the 10× ratio
    * candidate-proportional, 4.5×). The oracle replays the same count
    * and modulus, so the gate checks the derived sample exactly. */
  val EditSampleBudget: Long = 4096L

  /** q315 — second-opinion verification: every pair in the PRODUCTION
    * capped-LSH candidate stream (q118's generation over the graded
    * [[corpusSpread]] corpus) is scored by BOTH the token verifier
    * (exact shingle Jaccard — what q31/q118 act on) and a
    * character-level verifier (normalized Levenshtein similarity
    * 1 − lev/max_len over [[EditPrefixCap]]-char prefixes), reported
    * per exact-Jaccard decile with per-verifier duplicate verdicts and
    * their agreement. Token shingles are blind to within-word edits
    * and character noise (OCR, mojibake); edit distance is blind to
    * reordering — the decile table shows WHERE the two disagree, the
    * evidence for choosing the verifier (or requiring both) at a given
    * similarity band.
    *
    * Parity: lev and lengths are exact integers on both engines
    * (identical unit-cost Levenshtein); per-pair similarities are
    * single divisions; decile means freeze through DECIMAL(18,12)
    * (the q154 discipline).
    *
    * Scale (100 TB): the candidate/verify stages are
    * candidate-proportional over the capped stream (the q154 argument);
    * the Levenshtein stage is BUDGET-bounded — [[EditSampleBudget]]
    * pairs × [[EditPrefixCap]]² DP work regardless of stream size, the
    * modulus derived in-plan from the stream's own count — so the
    * audit's absolute edit-distance cost stays flat at any corpus
    * size. No extra exchanges beyond the two slim text joins and the
    * 1-row count broadcast. */
  def editVerify(s: SparkSession, dir: String): DataFrame = {
    val ver0 = shared(spreadLshArtifacts(s, dir)._4
      .filter(col("n_inter") > 0)
      .withColumn("pair_fp", expr("md5_fp60(concat(CAST(doc_a AS STRING), " +
        "':', CAST(doc_b AS STRING)))")))
    // budget → modulus: ONE count over the persisted candidate frame,
    // broadcast back as a 1-row side — no driver action, oracle replays
    val nc = ver0.agg(count(lit(1)).as("n_cand"))
    val ver = ver0.crossJoin(broadcast(nc))
      .filter(col("pair_fp") % greatest(lit(1L),
        expr(s"(n_cand + ${EditSampleBudget - 1}) div $EditSampleBudget"))
        === 0)
    val tx = corpusSpread(s, dir).select(col("doc_id"),
      expr(s"substring(text, 1, $EditPrefixCap)").as("t"))
    val pairs = ver
      .join(tx.select(col("doc_id").as("doc_a"), col("t").as("ta")),
        Seq("doc_a"))
      .join(tx.select(col("doc_id").as("doc_b"), col("t").as("tb")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("bigint"))
      .withColumn("mx",
        greatest(length(col("ta")), length(col("tb"))).cast("bigint"))
      .withColumn("edit_sim",
        lit(1.0) - col("lev").cast("double") / col("mx").cast("double"))
      .withColumn("decile",
        least(floor(col("jaccard") * 10).cast("long"), lit(9L)))
    pairs.groupBy("decile").agg(
        count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(18,12)")).as("sj"),
        sum(col("edit_sim").cast("decimal(18,12)")).as("se"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_dup_jac"),
        sum(when(col("edit_sim") >= EditSimTau, 1L).otherwise(0L))
          .as("n_dup_edit"),
        sum(when((col("jaccard") >= 0.5) ===
          (col("edit_sim") >= EditSimTau), 1L).otherwise(0L)).as("n_agree"))
      .select(col("decile"), col("n_pairs"),
        round(col("sj").cast("double") / col("n_pairs"), 6)
          .as("avg_jaccard"),
        round(col("se").cast("double") / col("n_pairs"), 6)
          .as("avg_edit_sim"),
        col("n_dup_jac"), col("n_dup_edit"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_pairs"), 6)
          .as("agree_rate"))
      .orderBy("decile")
  }

  def editVerifyOracle: String =
    s"""WITH ${OracleGen.lshCandSpreadCtes},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |vp0 AS (SELECT c.doc_a, c.doc_b,
       |    n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard,
       |    ${OracleGen.fp60(
             "CAST(c.doc_a AS VARCHAR) || ':' || CAST(c.doc_b AS VARCHAR)")}
       |      AS pair_fp
       |  FROM cand c JOIN inter USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b),
       |nc AS (SELECT count(*) AS n_cand FROM vp0),
       |vp AS (SELECT doc_a, doc_b, jaccard FROM vp0, nc
       |  WHERE pair_fp % greatest(1,
       |    (n_cand + ${EditSampleBudget - 1}) // $EditSampleBudget) = 0),
       |tx AS (SELECT doc_id, substring(text, 1, $EditPrefixCap) AS t
       |  FROM corpus),
       |pe AS (SELECT vp.jaccard,
       |    CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
       |    CAST(greatest(length(a.t), length(b.t)) AS BIGINT) AS mx
       |  FROM vp JOIN tx a ON a.doc_id = vp.doc_a
       |  JOIN tx b ON b.doc_id = vp.doc_b),
       |pd AS (SELECT jaccard,
       |    1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE) AS edit_sim,
       |    least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS decile
       |  FROM pe)
       |SELECT decile, count(*) AS n_pairs,
       |  round(CAST(sum(CAST(jaccard AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) AS avg_jaccard,
       |  round(CAST(sum(CAST(edit_sim AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) AS avg_edit_sim,
       |  CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_jac,
       |  CAST(sum(CASE WHEN edit_sim >= $EditSimTau THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_edit,
       |  CAST(sum(CASE WHEN (jaccard >= 0.5) = (edit_sim >= $EditSimTau)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  round(CAST(sum(CASE WHEN (jaccard >= 0.5) =
       |      (edit_sim >= $EditSimTau) THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS agree_rate
       |FROM pd GROUP BY decile ORDER BY decile""".stripMargin

  // --- q320: shingle-width sensitivity curve -------------------------------

  /** Widths swept by the sensitivity curve (production uses 3). */
  val ShingleWidths = Seq(2, 3, 4)

  /** q320 — shingle-width sensitivity: the w in w-gram shingling is
    * the OTHER dedup knob (q196 sweeps τ, q233 sweeps the banding
    * geometry — all three assume w = 3), and it couples to τ directly:
    * a k-word edit breaks ~k·w shingles, so wider shingles depress the
    * measured Jaccard of the SAME pair and a τ tuned at w = 3 silently
    * tightens at w = 4. Over the graded same-origin truth pairs, per
    * (width, variant grade): pair count, mean exact Jaccard, and the
    * τ = 0.5 duplicate verdict rate — the table that says what
    * changing w would do to recall BEFORE anyone changes it; the
    * per-width mean shingle count per doc prices the index.
    *
    * Parity: per-width shingle sets are integer algebra; means freeze
    * through DECIMAL(18,12); dup verdicts are exact comparisons.
    *
    * Scale (100 TB): the corpus tokenizes ONCE (persisted frame feeds
    * all widths); each width's truth evaluation is the q233 linear
    * same-origin join — no banding, no candidate blowup; output is
    * |widths|·|grades| rows. */
  def shingleWidthCurve(s: SparkSession, dir: String): DataFrame = {
    val tokd = corpusSpread(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select("doc_id", "toks").persist()
    val perWidth = ShingleWidths.map { w =>
      val sh = tokd.select(col("doc_id"),
        explode(array_distinct(expr(wordGramArrayExpr(w)))).as("shingle"))
        .withColumn("base", col("doc_id") % CopyOffset)
        .withColumn("k", (col("doc_id") / CopyOffset).cast("long"))
      val szO = sh.filter(col("k") === 0)
        .groupBy("base").agg(count(lit(1)).as("n_a"))
      val szV = sh.filter(col("k").between(1, 5))
        .groupBy("base", "k").agg(count(lit(1)).as("n_b"))
      val intr = sh.filter(col("k").between(1, 5))
        .select("base", "k", "shingle")
        .join(sh.filter(col("k") === 0).select("base", "shingle"),
          Seq("base", "shingle"))
        .groupBy("base", "k").agg(count(lit(1)).as("n_int0"))
      szV.join(szO, "base")
        .join(intr, Seq("base", "k"), "left")
        .withColumn("n_int", coalesce(col("n_int0"), lit(0L)))
        .withColumn("jac", col("n_int").cast("double") /
          (col("n_a") + col("n_b") - col("n_int")).cast("double"))
        .groupBy("k").agg(
          count(lit(1)).as("n_pairs"),
          sum(col("jac").cast("decimal(18,12)")).as("sj"),
          sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_dup"),
          sum(col("n_a")).as("sa"))
        .selectExpr(s"CAST($w AS BIGINT) AS width", "k AS grade",
          "n_pairs",
          "round(CAST(sj AS DOUBLE) / n_pairs, 6) AS avg_jaccard",
          "n_dup",
          "round(CAST(n_dup AS DOUBLE) / n_pairs, 6) AS dup_rate",
          "round(CAST(sa AS DOUBLE) / n_pairs, 2) AS avg_doc_shingles")
    }
    perWidth.reduce(_ unionAll _).orderBy("width", "grade")
  }

  def shingleWidthCurveOracle: String = {
    def gramSql(w: Int): String = {
      val cat = (0 until w).map(j =>
        if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")
      s"list_transform(range(1, len(toks) - ${w - 2}), i -> $cat)"
    }
    val widths = ShingleWidths.map { w =>
      s"""SELECT $w AS width, k AS grade, count(*) AS n_pairs,
         |  round(CAST(sum(CAST(jac AS DECIMAL(18,12))) AS DOUBLE)
         |    / count(*), 6) AS avg_jaccard,
         |  CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  round(CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS dup_rate,
         |  round(CAST(sum(n_a) AS DOUBLE) / count(*), 2)
         |    AS avg_doc_shingles
         |FROM (
         |  SELECT szv.base, szv.k, szo.n_a, szv.n_b,
         |    coalesce(intr.n_int0, 0) /
         |      (szo.n_a + szv.n_b - coalesce(intr.n_int0, 0)) AS jac
         |  FROM (SELECT base, k, count(*) AS n_b FROM sh$w
         |        WHERE k BETWEEN 1 AND 5 GROUP BY base, k) szv
         |  JOIN (SELECT base, count(*) AS n_a FROM sh$w
         |        WHERE k = 0 GROUP BY base) szo USING (base)
         |  LEFT JOIN (SELECT v.base, v.k, count(*) AS n_int0
         |    FROM sh$w v JOIN sh$w o ON o.base = v.base
         |      AND o.shingle = v.shingle AND o.k = 0
         |    WHERE v.k BETWEEN 1 AND 5 GROUP BY v.base, v.k) intr
         |    USING (base, k))
         |GROUP BY k""".stripMargin
    }.mkString("\nUNION ALL ")
    val shCtes = ShingleWidths.map { w =>
      s"""sh$w AS (SELECT DISTINCT doc_id % $CopyOffset AS base,
         |    doc_id // $CopyOffset AS k, shingle FROM (
         |  SELECT doc_id, unnest(${gramSql(w)}) AS shingle FROM tok) u)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${OracleGen.CorpusSpread},
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM corpus),
       |$shCtes
       |SELECT * FROM ($widths)
       |ORDER BY width, grade""".stripMargin
  }

  // --- q317: hot-bucket cap recall audit ----------------------------------

  /** q317 — what does the [[LshBucketCap]] hot-bucket cap COST in
    * recall? The cap is the load-bearing guard of the whole banding
    * family (uncapped candidate pairs grow quadratically on duplicated
    * corpora — measured repeatedly), and its price has to be a number,
    * not an assumption. Over the graded corpus's same-origin truth
    * pairs (exact Jaccard ≥ 0.5 — every one a real near-dup the
    * pipeline SHOULD find), per similarity decile: how many the
    * banding geometry captures at all (signature band equality — the
    * ceiling q233 models analytically), how many survive the capped
    * production candidate generation, and the gap — pairs the
    * geometry caught but the cap dropped. recall_production is THE
    * dedup pipeline's measured recall; n_cap_lost is the knob's bill.
    *
    * Parity: truth pairs, Jaccards, capture flags and candidate
    * membership are all integer shingle/signature algebra replayed
    * identically by the oracle (the q233 + q118 machinery joined).
    *
    * Scale (100 TB): the truth side is LINEAR (same-origin pairs join
    * on the base key — no banding blowup, the q233 argument); the
    * production side is the capped stream (the q118 argument); their
    * join is |truth|-sized. */
  /** Hot-bucket plant for q317: the first [[PlantHotBases]] base docs
    * get [[PlantHotCopies]] exact replicas (id offsets ≥ 11·CopyOffset,
    * EXCLUDED from the truth pairs) — their identical signatures blow
    * those docs' band buckets past [[LshBucketCap]], so the cap's
    * recall bill is nonzero and attributable at the sf where
    * CORRECTNESS runs (without the plant the sf0.01 buckets never
    * heat and n_cap_lost is identically 0 — a vacuous headline). */
  val PlantHotBases = 10
  val PlantHotCopies = 20

  def capRecall(s: SparkSession, dir: String): DataFrame = {
    val base0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val replicas = base0.filter(col("doc_id") < PlantHotBases)
      .crossJoin(broadcast(
        base0.sparkSession.range(1, PlantHotCopies + 1).select(
          col("id").as("j"))))
      .select((col("doc_id") + (col("j") + 10L) * CopyOffset)
        .as("doc_id"), col("text"))
    val corpus = corpusSpread(s, dir).unionAll(replicas)
    val sh = shared(shingles(corpus))
    val sigs = shared(minhashSignatures(sh))
    val cands = cappedCandidates(lshBands(sigs), Some(LshBucketCap))
    val shk = sh.withColumn("base", col("doc_id") % CopyOffset)
      .withColumn("k", (col("doc_id") / CopyOffset).cast("long"))
    val szO = shk.filter(col("k") === 0)
      .groupBy("base").agg(count(lit(1)).as("n_a"))
    val szV = shk.filter(col("k").between(1, 5))
      .groupBy("base", "k").agg(count(lit(1)).as("n_b"))
    val intr = shk.filter(col("k").between(1, 5))
      .select("base", "k", "shingle")
      .join(shk.filter(col("k") === 0).select("base", "shingle"),
        Seq("base", "shingle"))
      .groupBy("base", "k").agg(count(lit(1)).as("n_int0"))
    val sigA = sigs.select(col("doc_id").as("base") +:
      (0 until NumPerms).map(i => col(s"h$i").as(s"a_h$i")): _*)
    val sigB = sigs.select(
      (col("doc_id") % CopyOffset).as("base") +:
        (col("doc_id") / CopyOffset).cast("long").as("k") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"b_h$i")): _*)
      .filter(col("k").between(1, 5))
    val truth = szV.join(szO, "base")
      .join(intr, Seq("base", "k"), "left")
      .withColumn("n_int", coalesce(col("n_int0"), lit(0L)))
      .withColumn("n_un", col("n_a") + col("n_b") - col("n_int"))
      .filter(expr(s"$SCurveJd >= 0.5"))
      .join(sigA, "base").join(sigB, Seq("base", "k"))
      .selectExpr("base", "k",
        s"least(CAST(floor($SCurveJd * 10) AS BIGINT), 9) AS decile",
        s"CASE WHEN ${sCurveCapSql(BandSize)} THEN 1 ELSE 0 END" +
          " AS captured")
    truth.join(
        cands.select(col("doc_a"), col("doc_b"), lit(1L).as("found")),
        truth("base") === col("doc_a") &&
          (truth("base") + truth("k") * CopyOffset) === col("doc_b"),
        "left")
      .groupBy("decile").agg(
        count(lit(1)).as("n_true"),
        sum(col("captured")).as("n_captured"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select(col("decile"), col("n_true"), col("n_captured"),
        col("n_found"),
        round(col("n_captured").cast("double") /
          col("n_true").cast("double"), 6).as("recall_signature"),
        round(col("n_found").cast("double") /
          col("n_true").cast("double"), 6).as("recall_production"),
        (col("n_captured") - col("n_found")).as("n_cap_lost"))
      .orderBy("decile")
  }

  def capRecallOracle: String = {
    val aCols = (0 until NumPerms).map(i => s"sa.h$i AS a_h$i")
      .mkString(", ")
    val bCols = (0 until NumPerms).map(i => s"sb.h$i AS b_h$i")
      .mkString(", ")
    val corpusCte = OracleGen.CorpusSpread.stripSuffix(")") +
      s"""
         |  UNION ALL SELECT doc_id + (j + 10) * $CopyOffset AS doc_id,
         |    text
         |  FROM documents, (SELECT unnest(range(1,
         |    ${PlantHotCopies + 1})) AS j)
         |  WHERE doc_id < $PlantHotBases)""".stripMargin
    s"""WITH ${OracleGen.lshCandCtesOver(corpusCte)},
       |shk AS (SELECT doc_id % $CopyOffset AS base,
       |    doc_id // $CopyOffset AS k, shingle FROM sh),
       |szo AS (SELECT base, CAST(count(*) AS BIGINT) AS n_a FROM shk
       |  WHERE k = 0 GROUP BY base),
       |szv AS (SELECT base, k, CAST(count(*) AS BIGINT) AS n_b FROM shk
       |  WHERE k BETWEEN 1 AND 5 GROUP BY base, k),
       |intr AS (SELECT v.base, v.k, CAST(count(*) AS BIGINT) AS n_int0
       |  FROM shk v JOIN shk o ON o.base = v.base
       |    AND o.shingle = v.shingle AND o.k = 0
       |  WHERE v.k BETWEEN 1 AND 5 GROUP BY v.base, v.k),
       |pr AS (SELECT szv.base, szv.k, n_a, n_b,
       |    coalesce(n_int0, 0) AS n_int,
       |    n_a + n_b - coalesce(n_int0, 0) AS n_un
       |  FROM szv JOIN szo USING (base)
       |  LEFT JOIN intr ON intr.base = szv.base AND intr.k = szv.k),
       |sp AS (SELECT pr.*, $aCols, $bCols
       |  FROM pr JOIN sigs sa ON sa.doc_id = pr.base
       |  JOIN sigs sb ON sb.doc_id = pr.base + $CopyOffset * pr.k
       |  WHERE $SCurveJd >= 0.5),
       |tr AS (SELECT sp.base, sp.k,
       |    least(CAST(floor($SCurveJd * 10) AS BIGINT), 9) AS decile,
       |    CASE WHEN ${sCurveCapSql(BandSize)} THEN 1 ELSE 0 END
       |      AS captured,
       |    CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
       |  FROM sp LEFT JOIN cand c ON c.doc_a = sp.base
       |    AND c.doc_b = sp.base + $CopyOffset * sp.k)
       |SELECT decile, count(*) AS n_true,
       |  CAST(sum(captured) AS BIGINT) AS n_captured,
       |  CAST(sum(found) AS BIGINT) AS n_found,
       |  round(CAST(sum(captured) AS DOUBLE) / CAST(count(*) AS DOUBLE),
       |    6) AS recall_signature,
       |  round(CAST(sum(found) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS recall_production,
       |  CAST(sum(captured) - sum(found) AS BIGINT) AS n_cap_lost
       |FROM tr GROUP BY decile ORDER BY decile""".stripMargin
  }

  // --- q337: b-bit minhash storage/accuracy tradeoff -----------------------

  /** The b values swept, with their precomputed moduli 2^b. */
  val BbitGrid: Seq[(Int, Long)] = Seq(1, 2, 4, 8).map(b => (b, 1L << b))

  /** q337 — b-bit minhash tradeoff curve (Li & König 2010, "b-Bit
    * Minwise Hashing" — public construction): keeping only the low b
    * bits of each of the [[NumPerms]] minhash slots shrinks the
    * signature store 64/b-fold (the difference between an index that
    * fits in executor memory at 100 TB and one that doesn't), at the
    * cost of accidental collisions — correctable in expectation via
    * Ĵ = (coll·2ᵇ − k)/(k·(2ᵇ − 1)). Over the planted near-dup pairs,
    * for b ∈ {1,2,4,8}: signature bits, the full-width agreement
    * estimate, the corrected b-bit estimate, and its mean absolute
    * error vs full width — the storage/accuracy menu an index planner
    * reads before choosing b.
    *
    * Parity: ZERO transcendentals — per-pair agreement and collision
    * counts are integer, the corrected estimator and its error are
    * exact integer rationals summed as integers, ONE double division +
    * round per output cell (the numerators: est = coll·m − k over
    * k·(m−1); err = |(coll·m − k) − matches·(m−1)| over the same
    * denominator).
    *
    * Scale (100 TB): signatures are the one corpus-sized aggregate
    * (map-combinable, same pass as q31); the pair frame here is the
    * planted-pair audit (|docs| rows, an equijoin on doc_id+offset);
    * in production the b-bit table replaces the full table in the
    * same banded LSH flow. */
  def bbitTradeoff(s: SparkSession, dir: String): DataFrame = {
    val sigs = shared(minhashSignatures(shared(shingles(
      corpusNear(s, dir)))))
    def side(p: String) = sigs.select(
      (col("doc_id").as(s"doc_$p") +:
        (0 until NumPerms).map(i => col(s"h$i").as(s"${p}_h$i"))): _*)
    val matches = (0 until NumPerms).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    // coll is evaluated per (pair, b) row — it references g.m, so the
    // h columns must survive the grid explode and drop only afterwards
    val coll = (0 until NumPerms).map(i =>
      when(col(s"a_h$i") % col("g.m") === col(s"b_h$i") % col("g.m"), 1L)
        .otherwise(0L)).reduce(_ + _)
    val grid = BbitGrid.map { case (b, m) =>
      struct(lit(b.toLong).as("b"), lit(m).as("m"))
    }
    side("a")
      .join(side("b"), col("doc_b") === col("doc_a") + CopyOffset)
      .withColumn("matches", matches)
      .withColumn("g", explode(array(grid: _*)))
      .select(col("g.b").as("b"), col("g.m").as("m"), col("matches"),
        coll.as("coll"))
      .withColumn("est_num", col("coll") * col("m") - lit(NumPerms.toLong))
      .withColumn("err_num", abs(col("est_num")
        - col("matches") * (col("m") - 1L)))
      .groupBy("b", "m")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("matches")).as("s_match"),
        sum(col("est_num")).as("s_est"),
        sum(col("err_num")).as("s_err"))
      .selectExpr("b", s"b * ${NumPerms}L AS bits_per_sig", "n_pairs",
        s"round(CAST(s_match AS DOUBLE) / (n_pairs * ${NumPerms}L), 6)" +
          " AS mean_jfull",
        s"round(CAST(s_est AS DOUBLE) / (n_pairs * ${NumPerms}L * (m - 1)), 6)" +
          " AS mean_est",
        s"round(CAST(s_err AS DOUBLE) / (n_pairs * ${NumPerms}L * (m - 1)), 6)" +
          " AS mean_abs_err")
      .orderBy("b")
  }

  def bbitTradeoffOracle: String = {
    val p = MinhashPrime
    val x = s"${OracleGen.fp60("shingle")} % $p"
    val mins = (0 until NumPerms).map { i =>
      s"min((($x) * ${permA(i)} + ${permB(i)}) % $p) AS h$i"
    }.mkString(",\n    ")
    val matches = (0 until NumPerms)
      .map(i => s"CASE WHEN a.h$i = sb.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val coll = (0 until NumPerms)
      .map(i => s"CASE WHEN a.h$i % g.m = sb.h$i % g.m THEN 1 ELSE 0 END")
      .mkString(" + ")
    val gridVals = BbitGrid.map { case (b, m) => s"($b, $m)" }
      .mkString(", ")
    s"""WITH ${OracleGen.CorpusNear},
       |${OracleGen.ShingleCtes},
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id),
       |g(b, m) AS (VALUES $gridVals),
       |pr AS (SELECT CAST(g.b AS BIGINT) AS b, CAST(g.m AS BIGINT) AS m,
       |    CAST($matches AS BIGINT) AS matches,
       |    CAST($coll AS BIGINT) AS coll
       |  FROM sigs a JOIN sigs sb ON sb.doc_id = a.doc_id + $CopyOffset
       |  CROSS JOIN g),
       |ag AS (SELECT b, m, count(*) AS n_pairs,
       |    CAST(sum(matches) AS BIGINT) AS s_match,
       |    CAST(sum(coll * m - $NumPerms) AS BIGINT) AS s_est,
       |    CAST(sum(abs((coll * m - $NumPerms)
       |      - matches * (m - 1))) AS BIGINT) AS s_err
       |  FROM pr GROUP BY b, m)
       |SELECT b, b * $NumPerms AS bits_per_sig, n_pairs,
       |  round(CAST(s_match AS DOUBLE) / (n_pairs * $NumPerms), 6)
       |    AS mean_jfull,
       |  round(CAST(s_est AS DOUBLE) / (n_pairs * $NumPerms * (m - 1)),
       |    6) AS mean_est,
       |  round(CAST(s_err AS DOUBLE) / (n_pairs * $NumPerms * (m - 1)),
       |    6) AS mean_abs_err
       |FROM ag ORDER BY b""".stripMargin
  }
  // --- q379: exact substring dedup at suffix granularity --------------------

  /** Exact-match window width (tokens) — the suffix-prefix the sort
    * groups on; a shared substring must span at least this many tokens
    * to be seen at all (the "50-token" knob of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * scaled to the fixture's ~200-token documents). */
  val SubstrW = 8

  /** Hot-window occurrence cap: per fingerprint only the FIRST this
    * many (doc_id, pos) occurrences survive into pairing — the same
    * load-bearing truncation as [[LshBucketCap]] (truncate, don't drop:
    * a corpus of verbatim replicas still reports its duplication
    * instead of silently emptying); without it one ubiquitous window
    * makes the pair stream quadratic. */
  val SubstrOccCap = 8

  /** Minimum duplicated-token mass for a pair to be reported. */
  val SubstrMinMass: Long = SubstrW.toLong

  /** q379 — exact SUBSTRING duplicate mass per doc pair, the suffix
    * granularity missing between q120 (fixed paragraph segments), q125
    * (content-defined chunks) and q146 (bag-of-shingles containment):
    * a verbatim span copied between two documents at DIFFERENT offsets
    * and not aligned to any segmentation is found here exactly. Every
    * [[SubstrW]]-token window (= the W-token prefix of every token
    * suffix, fingerprinted) is grouped across the corpus — two docs
    * sharing a window share an exact W-token substring; per pair the
    * matched windows are merged into (a) duplicated token mass in
    * doc_a (interval union of the matched [pos, pos+W) windows — equal
    * widths, so union = Σ min(W, nextPos − pos)) and (b) the longest
    * shared substring (longest consecutive run on a pa−pb diagonal,
    * + W − 1). Reported per pair with the mass fraction of doc_a.
    *
    * Parity: fingerprints, positions, runs and masses are exact
    * integers; the one division (mass fraction) is pinned.
    *
    * Scale (100 TB): windows shard by fingerprint (the sorted-suffix
    * prefix-group in bucket form — never all-pairs), the occurrence
    * cap bounds every group, per-pair merge windows partition by
    * (doc_a, doc_b) [and diagonal], and the pair stream is
    * candidate-proportional: ≤ occCap² per surviving fingerprint. */
  private[graft] def substringDupMassOf(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SubstrW
    // the SAME capped pair stream q381's cut plan consumes — the "cuts
    // EXACTLY what the audit reported" guarantee is structural, not a
    // maintained-by-hand duplicate
    val pairs = substringPairs(corpus)
      .persist() // (pa, pb) unique per pair: one fp per (doc, pos)
    val wP = Window.partitionBy("da", "db").orderBy("pa")
    val mass = pairs.select("da", "db", "pa").distinct()
      .withColumn("nx", lead(col("pa"), 1).over(wP))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("nx").isNull || col("nx") - col("pa") >= W,
            lit(W.toLong))
          .otherwise(col("nx") - col("pa"))).as("dup_tokens_a"))
    val wD = Window.partitionBy("da", "db", "diag").orderBy("pa")
    val runs = pairs
      .select(col("da"), col("db"), (col("pa") - col("pb")).as("diag"),
        col("pa"))
      .withColumn("grp", col("pa") - row_number().over(wD))
      .groupBy("da", "db", "diag", "grp").agg(count(lit(1)).as("cnt"))
      .groupBy("da", "db").agg(max(col("cnt")).as("maxrun"))
    val dl = corpus.select(col("doc_id").as("da"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks_a"))
    mass.join(runs, Seq("da", "db"))
      .join(dl, "da")
      .filter(col("dup_tokens_a") >= SubstrMinMass)
      .selectExpr("da AS doc_a", "db AS doc_b", "n_windows",
        "dup_tokens_a",
        "round(CAST(dup_tokens_a AS DOUBLE) / n_toks_a, 6) AS dup_frac_a",
        s"CAST(maxrun + ${W - 1} AS BIGINT) AS longest_match_toks")
      .orderBy("doc_a", "doc_b")
  }

  def substringDup(s: SparkSession, dir: String): DataFrame =
    substringDupMassOf(corpusNear(s, dir))

  def substringDupOracle: String = {
    val W = SubstrW
    s"""WITH ${OracleGen.CorpusNear},
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM corpus),
       |win AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST('0x' || substr(md5(
       |      array_to_string(toks[i:i + ${W - 1}], ' ')), 1, 15)
       |      AS BIGINT) AS fp
       |  FROM tk, unnest(range(1, len(toks) - $W + 2)) AS t(i)),
       |w2 AS (SELECT doc_id, pos, fp FROM (
       |  SELECT doc_id, pos, fp, row_number() OVER (
       |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM win)
       |  WHERE rn <= $SubstrOccCap),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |    a.pos AS pa, b.pos AS pb
       |  FROM w2 a JOIN w2 b USING (fp)
       |  WHERE a.doc_id < b.doc_id),
       |pm AS (SELECT DISTINCT da, db, pa FROM pairs),
       |gaps AS (SELECT da, db, pa,
       |    lead(pa) OVER (PARTITION BY da, db ORDER BY pa) AS nx
       |  FROM pm),
       |mass AS (SELECT da, db,
       |    CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(sum(CASE WHEN nx IS NULL OR nx - pa >= $W
       |      THEN $W ELSE nx - pa END) AS BIGINT) AS dup_tokens_a
       |  FROM gaps GROUP BY da, db),
       |isl AS (SELECT da, db, pa - pb AS diag, pa,
       |    pa - row_number() OVER (
       |      PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
       |  FROM pairs),
       |runs AS (SELECT da, db, CAST(max(cnt) AS BIGINT) AS maxrun
       |  FROM (SELECT da, db, diag, grp, count(*) AS cnt
       |    FROM isl GROUP BY da, db, diag, grp) GROUP BY da, db),
       |dl AS (SELECT doc_id AS da,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks_a
       |  FROM corpus)
       |SELECT m.da AS doc_a, m.db AS doc_b, m.n_windows,
       |  m.dup_tokens_a,
       |  round(CAST(m.dup_tokens_a AS DOUBLE) / dl.n_toks_a, 6)
       |    AS dup_frac_a,
       |  CAST(r.maxrun + ${W - 1} AS BIGINT) AS longest_match_toks
       |FROM mass m JOIN runs r ON r.da = m.da AND r.db = m.db
       |JOIN dl ON dl.da = m.da
       |WHERE m.dup_tokens_a >= $SubstrMinMass
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q381: keep-first substring CUT plan -----------------------------------

  /** q381 — the TRANSFORM q379 licenses: materialize the keep-first cut
    * at token granularity. For every matched window pair the LARGER
    * doc_id loses its copy, so per document the cut set is the union of
    * its matched window positions against any smaller-id partner;
    * report per document the cut mass, merged span count, kept
    * fraction, and the md5 of the kept text — the row a 100 TB
    * curation run writes back. q120 materializes keeps at PARAGRAPH
    * granularity and q379 only audits pair mass; THIS applies the
    * offset-free substring policy (the Lee et al. 2022 "remove the
    * repeated span, keep one copy" step).
    *
    * Parity: cut positions are exact integers built by an equi-join
    * (window starts exploded to their W covered positions — never a
    * range join); the kept-text hash orders by position on both
    * engines; the one division is pinned.
    *
    * Scale (100 TB): rides q379's fingerprint-bucketed pair stream
    * (occurrence-capped, never all-pairs); cut positions are ≤ corpus
    * token mass and join back to the exploded token stream on
    * (doc_id, pos) — the token stream's natural key; the rebuild is
    * one per-doc aggregate. */
  def substringCut(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SubstrW
    val corpus = corpusNear(s, dir)
    val pairs = substringPairs(corpus)
    // positions covered in the LOSING (larger-id) doc, exploded to an
    // equi-joinable (doc_id, pos) set
    val cut = pairs.select(col("db").as("doc_id"), col("pb"))
      .distinct()
      .select(col("doc_id"),
        explode(expr(s"sequence(pb, pb + ${W - 1})")).as("pos"))
      .distinct()
    val toks = corpus
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("pos", "pos0")
      .select(col("doc_id"), col("pos0").cast("bigint").as("pos"),
        col("col").as("tok"))
    val marked = toks.join(cut.withColumn("is_cut", lit(1L)),
        Seq("doc_id", "pos"), "left")
    // merged span count: cut positions per doc, islands of consecutive
    // pos (pos − row_number constant)
    val spans = cut
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id").agg(countDistinct("grp").as("n_spans"))
    marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(coalesce(col("is_cut"), lit(0L))).as("cut_tokens"),
        md5(concat_ws(" ", expr("transform(array_sort(collect_list(" +
          "CASE WHEN is_cut IS NULL THEN struct(pos, tok) END)), " +
          "x -> x.tok)"))).as("kept_md5"))
      .join(spans, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_toks", "cut_tokens",
        "coalesce(n_spans, 0L) AS n_spans",
        "round(CAST(n_toks - cut_tokens AS DOUBLE) / n_toks, 6)" +
          " AS kept_frac",
        "kept_md5")
      .orderBy("doc_id")
  }

  /** q379's capped fingerprint pair stream (da < db with positions) —
    * shared by the audit and the cut plan so the transform cuts
    * EXACTLY what the audit reported. */
  private def substringPairs(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SubstrW
    val win = corpus
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(toks) - $W)")).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
        TextOps.md5Fingerprint60(
          expr(s"array_join(slice(toks, pos + 1, $W), ' ')")).as("fp"))
    val wCap = Window.partitionBy("fp").orderBy("doc_id", "pos")
    val w2 = win.withColumn("rn", row_number().over(wCap))
      .filter(col("rn") <= SubstrOccCap).drop("rn")
    w2.select(col("fp"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(w2.select(col("fp"), col("doc_id").as("db"),
        col("pos").as("pb")), "fp")
      .filter(col("da") < col("db"))
      .select("da", "db", "pa", "pb")
  }

  def substringCutOracle: String = {
    val W = SubstrW
    s"""WITH ${OracleGen.CorpusNear},
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM corpus),
       |win AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST('0x' || substr(md5(
       |      array_to_string(toks[i:i + ${W - 1}], ' ')), 1, 15)
       |      AS BIGINT) AS fp
       |  FROM tk, unnest(range(1, len(toks) - $W + 2)) AS t(i)),
       |w2 AS (SELECT doc_id, pos, fp FROM (
       |  SELECT doc_id, pos, fp, row_number() OVER (
       |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM win)
       |  WHERE rn <= $SubstrOccCap),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |    a.pos AS pa, b.pos AS pb
       |  FROM w2 a JOIN w2 b USING (fp)
       |  WHERE a.doc_id < b.doc_id),
       |cut AS (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT db AS doc_id, pb + k.x AS pos
       |  FROM (SELECT DISTINCT db, pb FROM pairs) d,
       |    (SELECT unnest(range(0, $W)) AS x) k)),
       |toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    toks[i] AS tok
       |  FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)),
       |marked AS (SELECT t.doc_id, t.pos, t.tok,
       |    CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END AS is_cut
       |  FROM toks t LEFT JOIN cut c
       |    ON c.doc_id = t.doc_id AND c.pos = t.pos),
       |spans AS (SELECT doc_id,
       |    CAST(count(DISTINCT grp) AS BIGINT) AS n_spans
       |  FROM (SELECT doc_id, pos - row_number() OVER (
       |      PARTITION BY doc_id ORDER BY pos) AS grp FROM cut)
       |  GROUP BY doc_id),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(is_cut) AS BIGINT) AS cut_tokens,
       |    md5(coalesce(string_agg(CASE WHEN is_cut = 0 THEN tok END, ' '
       |      ORDER BY pos), '')) AS kept_md5
       |  FROM marked GROUP BY doc_id)
       |SELECT a.doc_id, a.n_toks, a.cut_tokens,
       |  coalesce(s.n_spans, 0) AS n_spans,
       |  round(CAST(a.n_toks - a.cut_tokens AS DOUBLE) / a.n_toks, 6)
       |    AS kept_frac,
       |  a.kept_md5
       |FROM agg a LEFT JOIN spans s ON s.doc_id = a.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }
}
