package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data-pipeline extension
  * (BASELINE.json north_star): token counting, language ID, quality
  * scoring, document fingerprinting. All are narrow per-row expressions —
  * they scale linearly with partition count, no shuffle.
  */
object TextOps {

  import EtlOps.t

  /** Whitespace token count (bigint for oracle parity). */
  def wsTokenCount(c: Column): Column =
    size(split(trim(c), "\\s+")).cast("bigint")

  /** BPE-ish token count: alpha runs, single digits, single punctuation —
    * the classic pre-tokenizer upper bound on BPE token count. */
  val BpeTokenRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit(BpeTokenRe)).cast("bigint")

  /** Stopword sets per language for the n-gram/stopword language-ID
    * heuristic. Kept tiny and deterministic; scores are whole-token hit
    * counts. */
  val LangStopwords: Seq[(String, String)] = Seq(
    "en" -> "the|and|of|to|in|is|you|that",
    "de" -> "der|die|und|das|ist|nicht|ein",
    "es" -> "el|la|los|que|de|no|un",
    "fr" -> "le|les|des|et|un|est|pas")

  def stopwordHits(c: Column, words: String): Column =
    regexp_count(c, lit("\\b(" + words + ")\\b")).cast("bigint")

  /** q25 — token/char statistics per document. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      wsTokenCount(col("text")).as("ws_tokens"),
      bpeTokenCount(col("text")).as("bpe_tokens"),
      length(col("text")).cast("bigint").as("n_chars"))
      .orderBy("doc_id")

  /** q26 — language ID by stopword-hit argmax (tie → earlier language in
    * [[LangStopwords]]; all-zero → "und"). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(
      (col("doc_id") +: LangStopwords.map { case (lang, words) =>
        stopwordHits(col("text"), words).as(s"score_$lang")
      }).toIndexedSeq: _*)
    val best = LangStopwords.map(l => col(s"score_${l._1}"))
      .reduce((a, b) => greatest(a, b))
    val guess = LangStopwords.foldRight(lit("und")) {
      case ((lang, _), elseExpr) =>
        when(col(s"score_$lang") === best && best > 0, lit(lang))
          .otherwise(elseExpr)
    }
    // foldRight builds en-first priority: en wins ties, then de, es, fr.
    scored.withColumn("lang_guess", guess)
      .orderBy("doc_id")
  }

  /** The q27 blended quality score as a reusable per-row expression —
    * one definition for the scorer and every consumer that gates on it
    * (q194's agreement audit). */
  private[graft] def qualityOf(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    val toks = wsTokenCount(text).cast("double")
    val stops = stopwordHits(text, LangStopwords.head._2).cast("double")
    (alpha / len) * 0.5 + (stops / toks) * 0.3 +
      when(len >= 100 && len <= 500, 0.2).otherwise(0.0)
  }

  /** q27 — quality score: alpha ratio, stopword ratio, length band.
    * Pure per-row double arithmetic (identical op order in the oracle →
    * bit-reproducible). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double")
    val toks = wsTokenCount(col("text")).cast("double")
    val stops = stopwordHits(col("text"), LangStopwords.head._2)
      .cast("double")
    t(s, dir, "documents").select(
      col("doc_id"),
      (alpha / len).as("alpha_ratio"),
      (stops / toks).as("stop_ratio"),
      (len / toks).as("avg_token_span"),
      qualityOf(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** 60-bit fingerprint from the md5 of a string: first 15 hex chars
    * parsed as a bigint. Same construction is expressible in DuckDB as
    * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`. */
  def md5Fingerprint60(c: Column): Column =
    call_function("md5_fp60", c) // native Md5Fp60 — bit-identical to the
    // composed conv(substring(md5(c), 1, 15), 16, 10) chain, minus the
    // per-row hex round-trip

  /** q28 — document fingerprint over whitespace-normalized lowercase text. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    t(s, dir, "documents").select(
      col("doc_id"),
      md5Fingerprint60(norm).as("fingerprint"))
      .orderBy("doc_id")
  }

  val ChunkTokens = 64
  val ChunkStride = 48 // 16-token overlap between consecutive chunks

  /** q55 — overlapping token-window chunking: each document expands into
    * [[ChunkTokens]]-token chunks every [[ChunkStride]] tokens (the
    * context-window preparation step of an embedding/training pipeline).
    * One generate (explode) per document, partition-parallel, no shuffle
    * — the same one-to-many shape as q44's frame sampling but on the
    * token axis, fully SQL-expressible so the oracle checks it. */
  def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, n - 1, $ChunkStride)")).as("s"))
      .selectExpr(
        "doc_id",
        s"CAST(s div $ChunkStride AS BIGINT) AS chunk_idx",
        "CAST(s AS BIGINT) AS start_tok",
        s"CAST(size(slice(toks, s + 1, $ChunkTokens)) AS BIGINT) AS n_tokens",
        s"md5(array_join(slice(toks, s + 1, $ChunkTokens), ' ')) AS chunk_fp")
      .orderBy("doc_id", "chunk_idx")

  val VocabTopK = 20

  /** q65 — vocabulary building: top-K tokens by corpus frequency with
    * deterministic rank (count desc, then token). The tokenizer-training
    * prep step. Scale shape: the full count aggregate is distributed;
    * only the POST-aggregate top-K passes through the single-partition
    * ranking window (orderBy + limit prunes to K rows first, so the
    * unpartitioned window touches K rows, not the vocabulary). */
  def vocabulary(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(VocabTopK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    top.withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("rank"), col("token"), col("n"))
      .orderBy("rank")
  }

  val CollocMinCount = 5
  val CollocTopK = 20

  /** q77 — collocation mining by lift: bigrams whose observed frequency
    * beats the independence expectation, scored
    * (c₁₂/B) / ((c₁/T)·(c₂/T)) — PMI's ratio without the log, so both
    * engines produce bit-identical doubles (log would hinge on libm
    * parity; the RANKING is identical either way since log is
    * monotonic). The phrase-mining step of tokenizer/LM data prep.
    *
    * Scan discipline: the tokenized corpus persists once and feeds both
    * the unigram and bigram aggregates; the scalar totals T and B are
    * DERIVED from those aggregates (Σcu, Σc₁₂) instead of re-scanning,
    * and the unfiltered bigram counts persist so the support filter and
    * the B total share one aggregation. Net: one corpus scan, two
    * shuffles (gram key, token key), two tiny derived scalars. */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("toks")).persist()
    val toks = base.select(explode(col("toks")).as("tok"))
    val c12all = base
      .select(explode(expr(DedupOps.wordGramArrayExpr(2))).as("bigram"))
      .select(col("bigram"),
        split(col("bigram"), " ")(0).as("w1"),
        split(col("bigram"), " ")(1).as("w2"))
      .groupBy("bigram", "w1", "w2")
      .agg(count(lit(1)).as("c12")).persist()
    val c12 = c12all.filter(col("c12") >= CollocMinCount)
    val uniCounts = toks.groupBy("tok").agg(count(lit(1)).as("cu")).persist()
    val totals = uniCounts.agg(sum(col("cu")).as("t_toks"))
      .crossJoin(c12all.agg(sum(col("c12")).as("b_grams")))
    c12
      .join(uniCounts.select(col("tok").as("w1"), col("cu").as("c1")), "w1")
      .join(uniCounts.select(col("tok").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c12"), col("c1"), col("c2"),
        ((col("c12") / col("b_grams")) /
          ((col("c1") / col("t_toks")) * (col("c2") / col("t_toks"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(CollocTopK)
  }

  /** q45 — polynomial ROLLING-hash fingerprint (native
    * [[graft.functions.RollingHash]] expression): the primitive behind
    * content-defined chunking; one narrow pass, no shuffle. */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .selectExpr("doc_id",
        "rolling_hash(text) AS fp",
        "rolling_hash(lower(text)) AS fp_lower")
      .orderBy("doc_id")
  }

  /** 24 of the synthetic corpus's 31 token types — deep enough to be a
    * real vocabulary, shallow enough that the OOV path is exercised
    * (7 types fall outside it at every sf). */
  val OovVocabK = 24

  /** q123 — out-of-vocabulary audit: build the top-[[OovVocabK]] corpus
    * vocabulary (count desc, then token — q65's deterministic rank at a
    * deeper K) and report, per source, the token volume, OOV count and
    * OOV rate. The tokenizer-coverage check run before committing a
    * vocabulary to a training mixture: a source whose OOV rate is an
    * outlier either needs vocab expansion or is noise.
    *
    * Scale (100 TB): the vocabulary is a distributed token count pruned
    * to K rows BEFORE the single-partition rank (q65's shape); the audit
    * pass probes that K-row table by broadcast, so the token stream is
    * never shuffled — explode, probe, and per-source partial aggregate
    * all fuse into the scan pipeline, and the final exchange moves one
    * row per (source, partition). */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(OovVocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy("source")
  }

  val BpeTopMerges = 20

  /** q124 — one BPE merge step, corpus-scale: count adjacent
    * character-pair frequencies across all word occurrences (pair
    * frequency = Σ word-frequency over words containing the pair at
    * each position) and rank the top-[[BpeTopMerges]] merge candidates.
    * This is the inner loop of BPE tokenizer training (Sennrich 2016);
    * training a full vocab repeats it K times with the chosen merge
    * applied — each iteration stays this same distributed shape.
    *
    * Scale (100 TB): the word-frequency aggregate collapses the corpus
    * to its vocabulary FIRST (map-side partial count), so the pair
    * explode runs over distinct words × their lengths, not over corpus
    * tokens; the pair aggregate is map-combinable; and only the
    * already-pruned top-K rows cross the single-partition ranking
    * window (q65's discipline). */
  def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
    val pairs = words
      .select(col("n"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"), col("word"))
      .select(expr("substring(word, i, 2)").as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("freq"))
    val top = pairs.orderBy(col("freq").desc, col("pair")).limit(BpeTopMerges)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("pair"))
    top.withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("rank"), col("pair"), col("freq"))
      .orderBy("rank")
  }

  /** q124 oracle — same pair slicing (w[i:i+1] ≡ substring(w, i, 2)),
    * same deterministic rank. */
  def bpeMergeStepOracle: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |w AS (SELECT word, count(*) AS n FROM tok GROUP BY word
       |  HAVING length(word) >= 2),
       |p AS (SELECT unnest(list_transform(range(1, length(word)),
       |    i -> word[i:i+1])) AS pair, n FROM w),
       |f AS (SELECT pair, CAST(sum(n) AS BIGINT) AS freq FROM p
       |  GROUP BY pair ORDER BY freq DESC, pair LIMIT $BpeTopMerges)
       |SELECT CAST(row_number() OVER (ORDER BY freq DESC, pair) AS BIGINT)
       |    AS "rank", pair, freq
       |FROM f ORDER BY "rank"""".stripMargin

  val BpeTrainSteps = 3

  /** q127 — BPE tokenizer TRAINING, [[BpeTrainSteps]] full iterations:
    * pick the most frequent adjacent symbol pair, merge it greedily
    * left-to-right in every word (exact Sennrich 2016 apply semantics —
    * a freshly merged symbol never re-merges as the left element within
    * the same pass), recount, repeat. Extends q124 (one counting step)
    * with the apply step, so the merges interact: step 2 can pick a
    * pair containing step 1's new symbol.
    *
    * The greedy apply is a per-word FOLD over the symbol list — Spark's
    * codegen'd `aggregate` higher-order function with a string
    * accumulator (the oracle replays it with DuckDB's `list_reduce`,
    * same init-is-first-element semantics).
    *
    * Scale (100 TB): the corpus collapses ONCE to its weighted
    * vocabulary; every iteration after that is a vocabulary-sized pair
    * aggregate + a broadcast of the single chosen pair + a narrow fold
    * pass over distinct words — the corpus token stream is never
    * rescanned. The driver-side K-step loop is inherent to BPE (step
    * k+1's counts depend on step k's merge), exactly like PageRank's
    * iterate-by-join discipline. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainedVocab(s, dir)._1

  /** The [[BpeTrainSteps]]-iteration training loop, returning BOTH the
    * per-step merge picks (q127's output) and the final vocabulary with
    * each distinct word's merged symbol sequence (q134's input). */
  private def bpeTrainedVocab(
      s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bpeTrainedVocabOn(t(s, dir, "documents"))

  /** Training against an arbitrary (text) corpus frame — q207 trains
    * the outgoing and incoming tokenizers on different snapshots. */
  private def bpeTrainedVocabOn(docs: DataFrame): (DataFrame, DataFrame) = {
    // lineage cut after the corpus→vocabulary collapse: every step's
    // pair-count top re-executes its input lineage (no CTE sharing), so
    // without the cut each of the K steps re-scans the CORPUS to
    // rebuild the vocabulary; with it they re-derive at most the
    // vocabulary-sized fold chain
    var words = CurationOps.cutLineage(
      docs
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .select(col("w"),
          expr("trim(regexp_replace(w, '(.)', '$1 '))").as("sym"),
          col("n")))
    val picks = scala.collection.mutable.Buffer[DataFrame]()
    for (step <- 1 to BpeTrainSteps) {
      val top = words
        .select(col("n"), split(col("sym"), " ").as("sy"))
        // single-symbol words carry no pairs (and Spark's sequence
        // DESCENDS for size-1 arrays — the guard is load-bearing)
        .filter(size(col("sy")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("freq"))
        .orderBy(col("freq").desc, col("pair")).limit(1)
      picks += top.select(lit(step.toLong).as("step"), col("pair"),
        expr("replace(pair, ' ', '')").as("merged"), col("freq"))
      // greedy left-to-right merge: fold the symbol list into a
      // ','-joined string, merging when (last symbol, next) == the pair
      words = words
        .crossJoin(broadcast(top.select(
          expr("element_at(split(pair, ' '), 1)").as("p1"),
          expr("element_at(split(pair, ' '), 2)").as("p2"),
          expr("replace(pair, ' ', '')").as("pm"))))
        .withColumn("sy", split(col("sym"), " "))
        .select(expr(
          """replace(aggregate(slice(sy, 2, size(sy) - 1),
            |  element_at(sy, 1),
            |  (acc, x) -> CASE
            |    WHEN element_at(split(acc, ','), -1) = p1 AND x = p2
            |    THEN concat(substr(acc, 1,
            |      length(acc) - length(element_at(split(acc, ','), -1))), pm)
            |    ELSE concat(acc, ',', x) END), ',', ' ')""".stripMargin)
          .as("sym"), col("n"), col("w"))
    }
    (picks.reduce(_ unionAll _).orderBy("step"), words)
  }

  /** q134 — tokenizer fertility audit: encode the whole corpus with the
    * tokenizer q127 just trained and report, per source, words, BPE
    * tokens, characters, tokens-per-word (fertility) and
    * chars-per-token (compression) — the numbers that decide whether a
    * tokenizer fits a corpus (a source with high fertility is expensive
    * to train on; OOV-heavy scripts show up immediately). Closes the
    * tokenizer loop: q124 one merge step → q127 training → q123 OOV →
    * q134 corpus-wide apply.
    *
    * Scale (100 TB): the apply NEVER touches the corpus token stream —
    * encoding happens on the distinct-word vocabulary (the training
    * loop's final fold output), and the corpus pass is an explode +
    * broadcast join on word + per-source aggregate, all
    * map-combinable. Token counts per word ride the broadcast, so the
    * fertility of a trillion-token corpus costs one corpus scan plus
    * vocabulary-sized work. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val vocab = bpeTrainedVocab(s, dir)._2
      .select(col("w"),
        size(split(col("sym"), " ")).cast("bigint").as("n_tok"),
        length(col("w")).cast("bigint").as("n_chr"))
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      // the trained word->sym table is Heaps-scaled (one row per
      // distinct corpus word) — no forced hint: stats/AQE broadcast it
      // while small, shuffle on the word key past that
      .join(vocab, "w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chr")).as("n_chars"))
      .withColumn("fertility",
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"),
          6))
      .orderBy("source")
  }

  /** The word-carrying BPE training chain as WITH-body CTEs, names
    * prefixed so two independently-trained tokenizers can coexist in
    * one oracle (q134 uses the bare chain; q207 instantiates an "a"
    * and a "b" chain over different snapshots). The caller defines
    * `${pfx}w0` (word, sym, n). */
  private def bpeChainCtes(pfx: String): String =
    (1 to BpeTrainSteps).map { i =>
      s"""${pfx}p$i AS (SELECT unnest(list_transform(range(1, len(sy)),
         |      j -> sy[j] || ' ' || sy[j + 1])) AS pair, n FROM (
         |    SELECT string_split(sym, ' ') AS sy, n FROM ${pfx}w${i - 1})),
         |${pfx}t$i AS (SELECT pair, replace(pair, ' ', '') AS merged
         |  FROM ${pfx}p$i GROUP BY pair
         |  ORDER BY CAST(sum(n) AS BIGINT) DESC, pair LIMIT 1),
         |${pfx}w$i AS (SELECT w, replace(list_reduce(string_split(sym, ' '),
         |    (acc, x) -> CASE
         |      WHEN string_split(acc, ',')[-1] =
         |          string_split(${pfx}t$i.pair, ' ')[1]
         |        AND x = string_split(${pfx}t$i.pair, ' ')[2]
         |      THEN concat(substr(acc, 1,
         |          length(acc) - length(string_split(acc, ',')[-1])),
         |        ${pfx}t$i.merged)
         |      ELSE acc || ',' || x END), ',', ' ') AS sym, n
         |  FROM ${pfx}w${i - 1}, ${pfx}t$i)""".stripMargin
    }.mkString(",\n")

  /** q134 oracle — q127's training CTEs with the word carried through,
    * then the corpus joined against the trained vocabulary. */
  def bpeFertilityOracle: String = {
    val steps = bpeChainCtes("")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |w0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
       |    count(*) AS n FROM tok GROUP BY w),
       |$steps,
       |v AS (SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_tok,
       |    CAST(length(w) AS BIGINT) AS n_chr FROM w$BpeTrainSteps),
       |ct AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chr) AS BIGINT) AS n_chars,
       |  round(CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS fertility,
       |  round(CAST(CAST(sum(n_chr) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM ct JOIN v USING (w) GROUP BY source ORDER BY source""".stripMargin
  }

  /** q127 oracle — the identical unrolled loop; `list_reduce` inits
    * with the first element, matching the Spark slice+aggregate. The
    * 'p1 p2' pair STRING sorts identically to the (p1, p2) tuple
    * because ' ' precedes every symbol character. */
  def bpeTrainOracle: String = {
    val steps = (1 to BpeTrainSteps).map { i =>
      s"""p$i AS (SELECT unnest(list_transform(range(1, len(sy)),
         |      j -> sy[j] || ' ' || sy[j + 1])) AS pair, n FROM (
         |    SELECT string_split(sym, ' ') AS sy, n FROM w${i - 1})),
         |t$i AS (SELECT pair, replace(pair, ' ', '') AS merged,
         |    CAST(sum(n) AS BIGINT) AS freq FROM p$i GROUP BY pair
         |  ORDER BY freq DESC, pair LIMIT 1),
         |w$i AS (SELECT replace(list_reduce(string_split(sym, ' '),
         |    (acc, x) -> CASE
         |      WHEN string_split(acc, ',')[-1] = string_split(t$i.pair, ' ')[1]
         |        AND x = string_split(t$i.pair, ' ')[2]
         |      THEN concat(substr(acc, 1,
         |          length(acc) - length(string_split(acc, ',')[-1])),
         |        t$i.merged)
         |      ELSE acc || ',' || x END), ',', ' ') AS sym, n
         |  FROM w${i - 1}, t$i)""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeTrainSteps).map { i =>
      s"SELECT CAST($i AS BIGINT) AS step, pair, merged, freq FROM t$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |w0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
       |    count(*) AS n FROM tok GROUP BY w),
       |$steps
       |SELECT * FROM (
       |  $out) ORDER BY step""".stripMargin
  }

  // --- q149: instruction-template skeleton dedup -------------------------

  /** Variants planted per selected base doc (fixture; oracle mirrors). */
  val TemplateVariants = 3
  val TemplateIdOffset = 1000000L

  /** q149 — template-skeleton near-dup: instruction-tuning corpora are
    * dominated by documents stamped out of one prompt template with only
    * the slot values changed ("task 4217: ..."); value-level dedup (q29)
    * misses them because every stamped copy differs in the digits. The
    * skeleton maps each document to its template-invariance class —
    * lowercase, digit runs masked to '#' — and groups on the class
    * fingerprint, so all stampings of one template collapse to one
    * cluster regardless of slot values.
    *
    * Fixture: the synthetic corpus has no digits, so [[TemplateVariants]]
    * stamped variants are planted per (doc_id % 3 == 0) base doc, each
    * with a distinct numeric slot; the oracle plants identically.
    *
    * Scale (100 TB): identical shape to q29 exact dedup — one projection
    * (the masking regex is per-row, codegen'd) and ONE hash groupBy on a
    * 16-byte fingerprint; no joins, no windows. The skeleton alphabet
    * only shrinks the key space, so it shuffles strictly less than
    * exact dedup on the same corpus. */
  def templateSkeleton(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("source"))
    val variants = (1 to TemplateVariants).map { k =>
      d.filter(col("doc_id") % 3 === 0).select(
        (col("doc_id") * 10 + k + TemplateIdOffset).as("doc_id"),
        concat(lit("task "), (col("doc_id") * 100 + k).cast("string"),
          lit(": "), col("text")).as("text"),
        col("source"))
    }
    val corpus = variants.foldLeft(d)(_ unionAll _)
    corpus
      .select(col("doc_id"), col("source"),
        md5(regexp_replace(lower(col("text")), "[0-9]+", "#"))
          .as("template_fp"))
      .groupBy("template_fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") > 1)
      .orderBy("rep_doc")
  }

  def templateSkeletonOracle: String =
    s"""WITH d AS (SELECT doc_id, text, source FROM documents),
       |v AS (SELECT doc_id * 10 + k + $TemplateIdOffset AS doc_id,
       |    'task ' || CAST(doc_id * 100 + k AS VARCHAR) || ': ' || text
       |      AS text, source
       |  FROM d, (SELECT unnest([${(1 to TemplateVariants).mkString(", ")}])
       |    AS k)
       |  WHERE doc_id % 3 = 0),
       |c AS (SELECT * FROM d UNION ALL SELECT * FROM v),
       |sk AS (SELECT doc_id, source,
       |    md5(regexp_replace(lower(text), '[0-9]+', '#', 'g'))
       |      AS template_fp
       |  FROM c)
       |SELECT template_fp, count(*) AS n_docs, min(doc_id) AS rep_doc,
       |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |FROM sk GROUP BY template_fp HAVING count(*) > 1
       |ORDER BY rep_doc""".stripMargin

  // --- q151: language-ID confusion audit ---------------------------------

  /** q151 — confusion matrix of the q26 language-ID heuristic against the
    * corpus gold labels, with per-gold-language fractions: the quality
    * audit run before trusting a classifier gate to route documents (the
    * langid analogue of q107's centroid-label confusion). Reuses q26's
    * EXACT scoring expressions so the matrix reconciles against the
    * standalone query by construction.
    *
    * Scale (100 TB): scoring is per-row codegen'd regex work; the matrix
    * aggregate has ≤ |langs|² groups and the fraction window runs over
    * that tiny frame, not the corpus. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gold = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val m = langId(s, dir).select(col("doc_id"), col("lang_guess"))
      .join(gold, "doc_id")
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
    m.withColumn("frac",
        round(col("n").cast("double") / sum(col("n")).over(w), 6))
      .select("lang", "lang_guess", "n", "frac")
      .orderBy("lang", "lang_guess")
  }

  def langIdConfusionOracle(q26Sql: String): String =
    s"""WITH guess AS ($q26Sql),
       |m AS (SELECT d.lang, g.lang_guess, count(*) AS n
       |  FROM guess g JOIN documents d USING (doc_id)
       |  GROUP BY d.lang, g.lang_guess)
       |SELECT lang, lang_guess, n,
       |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6)
       |    AS frac
       |FROM m ORDER BY lang, lang_guess""".stripMargin

  /** q123 oracle — same vocabulary rank, same rate arithmetic. */
  def oovRateOracle: String =
    s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |v AS (SELECT token FROM (
       |  SELECT token, count(*) AS n FROM tok GROUP BY token
       |  ORDER BY n DESC, token LIMIT $OovVocabK)),
       |j AS (SELECT tok.source, v.token AS vt
       |  FROM tok LEFT JOIN v ON tok.token = v.token)
       |SELECT source, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(CAST(CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // --- q162: cross-doc repeated-span coverage ----------------------------

  /** Span width (tokens) and flag threshold for the coverage audit. */
  val SpanGramN = 8
  val SpanFlagThreshold = "0.1"

  /** Planted boilerplate: a fixed 12-token footer appended to every 3rd
    * document, the canonical shape of cross-document span duplication
    * (nav bars, license banners, newsletter footers). */
  val SpanBoiler: String = "please subscribe to our newsletter for " +
    "weekly updates and exclusive member content"

  /** q162 — cross-doc repeated-SPAN coverage (the Lee et al. 2022
    * "Deduplicating Training Data" audit, at span rather than document
    * granularity): for each document, the fraction of its tokens
    * covered by at least one [[SpanGramN]]-gram that also occurs in
    * ANOTHER document. Document-level detectors (q29/q31/q120) miss
    * this entirely — a corpus can be 0% duplicate documents and still
    * 30% duplicated spans (boilerplate, quotes, templates), which is
    * what LMs memorize. Complements q57 (intra-doc repetition) and
    * q119 (containment against a specific eval set).
    *
    * Shape: positional grams → distinct-doc frequency per gram (df ≥ 2
    * = shared) → each doc's shared gram START positions → covered
    * token count as an interval merge done with one window lead (the
    * q98 coalesce idea): Σ min(N, next_start − start) + N for the
    * last. All integer arithmetic; the only doubles are the final
    * coverage division (identical op in both engines).
    *
    * Scale (100 TB): gram df is one map-combinable aggregate keyed by
    * gram (16-byte fingerprints at scale); the join back ships only
    * df ≥ 2 grams (a broadcast-able minority in a healthy corpus);
    * the interval merge is a per-doc window over shared starts, never
    * the token stream. */
  def spanCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" " + SpanBoiler)))
        .otherwise(col("text")).as("text"))
    val toks = d.withColumn("toks", split(col("text"), " "))
    val sizes = toks.select(col("doc_id"),
      size(col("toks")).cast("bigint").as("n_toks"))
    val pg = toks.select(col("doc_id"),
        posexplode(expr(DedupOps.wordGramArrayExpr(SpanGramN))))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("p"),
        col("col").as("gram"))
    val sharedGrams = pg.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("gram")
    val starts = pg.join(sharedGrams, Seq("gram"))
      .select("doc_id", "p").distinct()
    val w = Window.partitionBy("doc_id").orderBy("p")
    val covered = starts
      .withColumn("nxt", lead(col("p"), 1).over(w))
      .withColumn("contrib", when(col("nxt").isNull, lit(SpanGramN.toLong))
        .otherwise(least(lit(SpanGramN.toLong), col("nxt") - col("p"))))
      .groupBy("doc_id").agg(sum(col("contrib")).as("n_covered"))
    sizes.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage", round(col("n_covered") / col("n_toks"), 6))
      .withColumn("flagged",
        col("n_covered") / col("n_toks") >= SpanFlagThreshold)
      .orderBy("doc_id")
  }

  def spanCoverageOracle: String = {
    val n = SpanGramN
    val cat = (0 until n)
      .map(k => if (k == 0) "toks[i]" else s"toks[i+$k]")
      .mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || ' $SpanBoiler'
       |      ELSE text END AS text
       |  FROM documents),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
       |sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks
       |  FROM tok),
       |pg AS (SELECT doc_id, CAST(u.s['p'] AS BIGINT) AS p,
       |    u.s['g'] AS gram
       |  FROM (SELECT doc_id, unnest(list_transform(
       |    range(1, len(toks) - ${n - 2}),
       |    i -> {'p': i, 'g': $cat})) AS s FROM tok) u),
       |sg AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM pg) x
       |  GROUP BY gram HAVING count(*) >= 2),
       |ss AS (SELECT DISTINCT doc_id, p FROM pg JOIN sg USING (gram)),
       |c AS (SELECT doc_id, p,
       |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt FROM ss),
       |cv AS (SELECT doc_id, CAST(sum(CASE WHEN nxt IS NULL THEN $n
       |    ELSE least($n, nxt - p) END) AS BIGINT) AS n_covered
       |  FROM c GROUP BY doc_id)
       |SELECT s.doc_id, s.n_toks,
       |  COALESCE(cv.n_covered, 0) AS n_covered,
       |  round(COALESCE(cv.n_covered, 0) / s.n_toks, 6) AS coverage,
       |  COALESCE(cv.n_covered, 0) / s.n_toks >= $SpanFlagThreshold
       |    AS flagged
       |FROM sizes s LEFT JOIN cv USING (doc_id) ORDER BY s.doc_id""".stripMargin
  }

  // --- q180: text normalization audit ------------------------------------

  /** Offset for the planted dirty copies (distinct from DedupOps'
    * [[DedupOps.CopyOffset]] so the fixtures never collide). */
  val NormCopyOffset = 2000000L

  /** q180 — canonical text normalization (trim, collapse whitespace
    * runs, casefold) with the two audits every pipeline wants before
    * putting normalization ahead of dedup: (1) IDEMPOTENCE —
    * norm(norm(x)) = norm(x) for every document, the property that
    * makes re-runs safe; (2) COLLAPSE GAIN — how many raw-distinct
    * fingerprints merge once normalized. The fixture plants a dirty
    * copy of every even document (padded, uppercased, double-spaced);
    * normalization must fold each one back onto its original, which is
    * exactly why dedup pipelines normalize first (CCNet/RefinedWeb
    * preprocessing order).
    *
    * Parity: pure string ops; the whitespace collapse is written with
    * each engine's own regexp_replace (Spark replaces all matches by
    * default, DuckDB needs the 'g' flag — same function, same result).
    *
    * Scale (100 TB): normalization is a codegen'd projection; both
    * audits are fingerprint-keyed distinct aggregates (16-byte keys at
    * scale), the same cost class as exact dedup. */
  def normAudit(s: SparkSession, dir: String): DataFrame = {
    def norm(c: org.apache.spark.sql.Column) =
      lower(trim(regexp_replace(c, " +", " ")))
    val base = t(s, dir, "documents").select(
      col("doc_id"), col("source"), col("text"))
    val dirty = base.filter(col("doc_id") % 2 === 0).select(
      (col("doc_id") + NormCopyOffset).as("doc_id"), col("source"),
      concat(lit("  "), upper(regexp_replace(col("text"), " ", "  ")),
        lit("  ")).as("text"))
    base.unionByName(dirty)
      .withColumn("norm", norm(col("text")))
      .withColumn("norm2", norm(col("norm")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("text"), 1L).otherwise(0L))
          .as("n_changed"),
        max(when(col("norm2") =!= col("norm"), 1L).otherwise(0L))
          .as("viol"),
        countDistinct(md5(col("text"))).as("distinct_raw_fp"),
        countDistinct(md5(col("norm"))).as("distinct_norm_fp"))
      .select(col("source"), col("n_docs"), col("n_changed"),
        (col("viol") === 0L).as("idempotent"),
        col("distinct_raw_fp"), col("distinct_norm_fp"),
        (col("distinct_raw_fp") - col("distinct_norm_fp"))
          .as("collapse_gain"))
      .orderBy("source")
  }

  def normAuditOracle: String =
    s"""WITH base AS (SELECT doc_id, source, text FROM documents),
       |dirty AS (SELECT doc_id + $NormCopyOffset AS doc_id, source,
       |    '  ' || upper(replace(text, ' ', '  ')) || '  ' AS text
       |  FROM base WHERE doc_id % 2 = 0),
       |c AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
       |n AS (SELECT source, text,
       |    lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS norm
       |  FROM c),
       |n2 AS (SELECT *,
       |    lower(trim(regexp_replace(norm, ' +', ' ', 'g'))) AS normn
       |  FROM n)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed,
       |  max(CASE WHEN normn <> norm THEN 1 ELSE 0 END) = 0 AS idempotent,
       |  count(DISTINCT md5(text)) AS distinct_raw_fp,
       |  count(DISTINCT md5(norm)) AS distinct_norm_fp,
       |  count(DISTINCT md5(text)) - count(DISTINCT md5(norm))
       |    AS collapse_gain
       |FROM n2 GROUP BY source ORDER BY source""".stripMargin

  // --- q207: tokenizer migration cost audit -------------------------------

  /** q207 — tokenizer migration cost audit: the outgoing tokenizer was
    * trained on YESTERDAY's snapshot (doc_id ≡ 0 mod 2 — the q179
    * snapshot-split convention), the incoming one on the full corpus;
    * both re-encode the whole corpus and the audit prices the swap per
    * source — token totals, fertility under each vocab, the token-count
    * delta (the training-budget impact of shipping the new tokenizer)
    * and the old tokenizer's out-of-vocabulary word mass (words the old
    * merge table has never seen fall back to character-level, the
    * standard BPE byte/char fallback — that fallback cost is exactly
    * what corpus drift does to a stale tokenizer in production).
    *
    * Drift is PLANTED (the q149 in-query-fixture pattern): every odd
    * document gains one `driftNN` suffix token unseen anywhere in the
    * even half, because the synthetic corpus draws from a closed word
    * pool and the even half otherwise covers the full vocabulary —
    * without the plant, oov_words_old is identically 0 and the
    * fallback branch is dead code to the oracle.
    *
    * Parity: token counts are integers (the char fallback is
    * `length(w)`); fertilities and the delta fraction are one double
    * division each.
    *
    * Scale (100 TB): both trainings run on the distinct-word
    * VOCABULARY (q127's corpus-collapses-once argument); the corpus
    * re-encode is one explode + two broadcast vocabulary joins + a
    * per-source aggregate — the corpus token stream is scanned once,
    * exactly like q134, regardless of how many tokenizer candidates
    * are being priced. */
  def vocabMigration(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 2 === 1,
        concat(col("text"), lit(" drift"), (col("doc_id") % 50).cast("string")))
        .otherwise(col("text")).as("text"))
    val vocabOld = bpeTrainedVocabOn(all.filter(col("doc_id") % 2 === 0))._2
      .select(col("w"),
        size(split(col("sym"), " ")).cast("bigint").as("tok_old"))
    val vocabNew = bpeTrainedVocabOn(all)._2
      .select(col("w"),
        size(split(col("sym"), " ")).cast("bigint").as("tok_new"))
    all.select(col("source"), explode(split(col("text"), " ")).as("w"))
      // both trained vocab tables are Heaps-scaled — unhinted (see q134)
      .join(vocabOld, Seq("w"), "left")
      .join(vocabNew, Seq("w"), "left")
      .select(col("source"),
        col("tok_old").isNull.as("fb"),
        coalesce(col("tok_old"), length(col("w")).cast("bigint")).as("ta"),
        coalesce(col("tok_new"), length(col("w")).cast("bigint")).as("tb"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("ta")).as("tokens_old"),
        sum(col("tb")).as("tokens_new"),
        sum(when(col("fb"), 1L).otherwise(0L)).as("oov_words_old"))
      .select(col("source"), col("n_words"), col("tokens_old"),
        col("tokens_new"), col("oov_words_old"),
        round(col("tokens_old").cast("double") /
          col("n_words").cast("double"), 6).as("fertility_old"),
        round(col("tokens_new").cast("double") /
          col("n_words").cast("double"), 6).as("fertility_new"),
        round((col("tokens_new") - col("tokens_old")).cast("double") /
          col("tokens_old").cast("double"), 6).as("token_delta_frac"))
      .orderBy("source")
  }

  def vocabMigrationOracle: String =
    s"""WITH dd AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 2 = 1
       |      THEN text || ' drift' || CAST(doc_id % 50 AS VARCHAR)
       |      ELSE text END AS text
       |  FROM documents),
       |atok AS (SELECT unnest(string_split(text, ' ')) AS w
       |  FROM dd WHERE doc_id % 2 = 0),
       |aw0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
       |    count(*) AS n FROM atok GROUP BY w),
       |${bpeChainCtes("a")},
       |btok AS (SELECT unnest(string_split(text, ' ')) AS w
       |  FROM dd),
       |bw0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
       |    count(*) AS n FROM btok GROUP BY w),
       |${bpeChainCtes("b")},
       |va AS (SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT)
       |    AS tok_old FROM aw$BpeTrainSteps),
       |vb AS (SELECT w, CAST(len(string_split(sym, ' ')) AS BIGINT)
       |    AS tok_new FROM bw$BpeTrainSteps),
       |ct AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM dd),
       |j AS (SELECT source, va.tok_old IS NULL AS fb,
       |    coalesce(va.tok_old, CAST(length(ct.w) AS BIGINT)) AS ta,
       |    coalesce(vb.tok_new, CAST(length(ct.w) AS BIGINT)) AS tb
       |  FROM ct LEFT JOIN va ON ct.w = va.w LEFT JOIN vb ON ct.w = vb.w)
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(ta) AS BIGINT) AS tokens_old,
       |  CAST(sum(tb) AS BIGINT) AS tokens_new,
       |  CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS oov_words_old,
       |  round(CAST(CAST(sum(ta) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS fertility_old,
       |  round(CAST(CAST(sum(tb) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS fertility_new,
       |  round(CAST(CAST(sum(tb) AS BIGINT) - CAST(sum(ta) AS BIGINT)
       |    AS DOUBLE) / CAST(CAST(sum(ta) AS BIGINT) AS DOUBLE), 6)
       |    AS token_delta_frac
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // --- q209: per-language quality-score quantile normalization ------------

  /** q209 — per-language quantile normalization of the q27 quality
    * score: a single global threshold over a blended lexical score is
    * silently language-biased (stopword lists, alpha ratios and length
    * bands hit languages differently), so production curation
    * normalizes the score WITHIN language by rank — each document's
    * normalized score is its percent_rank inside its language — and
    * gates on that. The audit reports the per-(language, decile) cell:
    * document count (uniform by construction — the property that makes
    * the normalized gate fair across languages) and the RAW score range
    * mapped into the cell, which shows directly how different a raw
    * cutoff each language would have needed.
    *
    * Parity: percent_rank is (rank−1)/(n−1) in both engines and the
    * underlying score is the bit-reproducible q27 expression; deciles
    * floor the product once.
    *
    * Scale (100 TB): one hash exchange on lang + a per-language sort —
    * the canonical partition-parallel window (languages are the
    * coarsest natural key, so AQE skew handling or a (lang, salt)
    * pre-rank is the production guard for the english-heavy case;
    * documented, not needed at test sf). */
  def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        qualityOf(col("text")).as("q"))
    docs
      .withColumn("pr", percent_rank().over(
        Window.partitionBy("lang").orderBy("q")))
      .withColumn("decile",
        least(floor(col("pr") * 10), lit(9L)).cast("bigint"))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("q")), 6).as("q_min"),
        round(max(col("q")), 6).as("q_max"))
      .orderBy("lang", "decile")
  }

  def quantileNormOracle: String = {
    val quality = CurationOps.QualitySql // q27's SQL twin, one definition
    s"""WITH d AS (SELECT doc_id, lang, ($quality) AS q FROM documents),
       |r AS (SELECT lang, q, percent_rank() OVER (PARTITION BY lang
       |    ORDER BY q) AS pr FROM d)
       |SELECT lang,
       |  least(CAST(floor(pr * 10) AS BIGINT), 9) AS decile,
       |  count(*) AS n_docs,
       |  round(min(q), 6) AS q_min,
       |  round(max(q), 6) AS q_max
       |FROM r GROUP BY lang, least(CAST(floor(pr * 10) AS BIGINT), 9)
       |ORDER BY lang, decile""".stripMargin
  }

  // --- q211: distinctive terms (smoothed odds ratio per source) -----------

  /** Top distinctive terms kept per source, and the minimum in-source
    * frequency for a term to be considered (hapax suppression). */
  val DistinctiveTopK = 5
  val DistinctiveMinCount = 3L

  /** q211 — distinctive-term analysis: for each source, the
    * [[DistinctiveTopK]] terms with the highest add-one-smoothed odds
    * ratio against the REST of the corpus (the Monroe et al.
    * "Fightin' Words" log-odds signal, kept in odds space — log is
    * monotone, so the ranking is identical and no libm enters). The
    * standard first look at "what makes this source different":
    * template markers, boilerplate tokens and domain vocabulary
    * surface immediately, and a source whose top terms are navigation
    * chrome is a curation bug found.
    *
    * Parity: both cross products (c_s+1)·(T_r−c_r+1) and
    * (T_s−c_s+1)·(c_r+1) are exact integers well inside the 2^53
    * double envelope at test scale (documented: a 100 TB run freezes
    * at ppm precision after a decimal widen); the odds ratio is their
    * ONE double division, frozen to ×1e6 fixed point for output and
    * ranked as that integer with term tiebreak.
    *
    * Scale (100 TB): term frequencies collapse the corpus once
    * ((source, term) grouped counts); totals per term and per source
    * are vocabulary- and |sources|-sized rollups of that frame; the
    * top-k window partitions by source over the vocabulary — never a
    * corpus sort. */
  def distinctiveTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
      .persist() // feeds term totals, source totals AND the ranked frame
    val termTot = tf.groupBy("term").agg(sum(col("c")).as("ct"))
    val srcTot = tf.groupBy("source").agg(sum(col("c")).as("ts"))
    val allTot = srcTot.agg(sum(col("ts")).as("tt"))
    val scored = tf
      .join(termTot, "term")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(allTot))
      .filter(col("c") >= DistinctiveMinCount)
      .withColumn("c_rest", col("ct") - col("c"))
      .withColumn("t_rest", col("tt") - col("ts"))
      .withColumn("odds_ppm", floor(
        ((col("c") + 1) * (col("t_rest") - col("c_rest") + 1)).cast("double") /
          ((col("ts") - col("c") + 1) * (col("c_rest") + 1)).cast("double") *
          1e6).cast("bigint"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("source")
        .orderBy(col("odds_ppm").desc, col("term"))).cast("bigint"))
      .filter(col("rank") <= DistinctiveTopK)
      .select(col("source"), col("rank"), col("term"), col("c"),
        col("c_rest"), col("odds_ppm"))
      .orderBy("source", "rank")
  }

  def distinctiveTermsOracle: String =
    s"""WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |c AS (SELECT source, term, count(*) AS c FROM tf
       |  GROUP BY source, term),
       |ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM c
       |  GROUP BY term),
       |ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM c
       |  GROUP BY source),
       |tt AS (SELECT CAST(sum(ts) AS BIGINT) AS tt FROM ts),
       |sc AS (SELECT c.source, c.term, c.c, ct.ct - c.c AS c_rest,
       |    CAST(floor(
       |      CAST((c.c + 1) * (tt.tt - ts.ts - (ct.ct - c.c) + 1)
       |        AS DOUBLE) /
       |      CAST((ts.ts - c.c + 1) * (ct.ct - c.c + 1) AS DOUBLE)
       |      * 1e6) AS BIGINT) AS odds_ppm
       |  FROM c JOIN ct USING (term) JOIN ts USING (source) CROSS JOIN tt
       |  WHERE c.c >= $DistinctiveMinCount),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY odds_ppm DESC, term) AS rnk FROM sc)
       |SELECT source, CAST(rnk AS BIGINT) AS "rank", term, c, c_rest,
       |  odds_ppm
       |FROM r WHERE rnk <= $DistinctiveTopK
       |ORDER BY source, rnk""".stripMargin

  // --- q328: character-level gibberish gate -------------------------------

  /** doc_id offset of the planted single-character gibberish docs. */
  val GibberishOffset = 5000000L

  /** Simpson-diversity flag floor (ppm) and identical-char run ceiling.
    * Natural word-soup docs measure ≥ ~0.85 diversity and runs ≤ ~4;
    * the planted single-char docs sit at 0 diversity with doc-length
    * runs — both thresholds separate with wide margin. */
  val GibDivFloorPpm = 500000L
  val GibMaxRun = 20L

  /** q328 corpus: documents ∪ planted gibberish (every 17th doc's text
    * replaced by a same-length single-character run — the degenerate
    * generation / stuck-key / binary-spill shape a byte-level gate must
    * catch), planted in-query so the flag column is substantive at
    * every sf. */
  def gibberishCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    base.unionAll(base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + GibberishOffset).as("doc_id"),
        expr("repeat('z', length(text))").as("text")))
  }

  /** q328 — character-level gibberish gate: per document, byte count,
    * distinct-byte class count, Simpson character diversity (1 − Σp²,
    * in exact ppm integer arithmetic — chosen over Shannon entropy
    * precisely because it needs NO logarithm, so parity is exact with
    * zero libm exposure) and the longest identical-character run; a
    * document is flagged when diversity collapses below
    * [[GibDivFloorPpm]] or a run reaches [[GibMaxRun]]. Catches what
    * the token-level gates (q27 quality, q323 repetition) are blind
    * to: byte-level degeneracy inside "tokens" — stuck generation,
    * base64/binary spills, mojibake floods.
    *
    * Parity: all four statistics are exact integers from the native
    * [[graft.functions.CharRunStats]] byte loop (ASCII corpus: byte ≡
    * character ≡ the oracle's string_split element — spec-pinned
    * against an exploded Spark replay); div_ppm is integer division of
    * exact longs on both engines.
    *
    * Scale (100 TB): ONE in-row byte loop per document (native
    * expression, no explode, no shuffle, no UDF) — the gate runs at
    * parquet-scan speed; the exploded (doc, char) exchange form it
    * replaces is the spec-side equivalence reference. */
  def gibberishGate(s: SparkSession, dir: String): DataFrame = {
    gibberishCorpus(s, dir)
      .withColumn("cs", expr("char_run_stats(text)"))
      .selectExpr("doc_id",
        "cs.n_chars AS n_chars",
        "cs.n_classes AS n_classes",
        "((cs.n_chars * cs.n_chars - cs.sumsq) * 1000000)" +
          " div (cs.n_chars * cs.n_chars) AS div_ppm",
        "cs.max_run AS max_run")
      .withColumn("flagged",
        col("div_ppm") < GibDivFloorPpm || col("max_run") >= GibMaxRun)
      .orderBy("doc_id")
  }

  def gibberishGateOracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $GibberishOffset AS doc_id,
       |    repeat('z', length(text)) AS text
       |  FROM documents WHERE doc_id % 17 = 0),
       |pos AS (SELECT doc_id, text,
       |    unnest(range(1, length(text) + 1)) AS i FROM corpus),
       |ch AS (SELECT doc_id, i, substring(text, i, 1) AS c FROM pos),
       |cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
       |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
       |    CAST(count(*) AS BIGINT) AS n_classes,
       |    CAST(sum(cnt * cnt) AS BIGINT) AS sumsq
       |  FROM cc GROUP BY doc_id),
       |runs AS (SELECT doc_id, c,
       |    i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
       |  FROM ch),
       |rl AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS max_run FROM (
       |    SELECT doc_id, c, grp, count(*) AS n FROM runs
       |    GROUP BY doc_id, c, grp)
       |  GROUP BY doc_id),
       |o AS (SELECT st.doc_id, n_chars, n_classes,
       |    ((n_chars * n_chars - sumsq) * 1000000)
       |      // (n_chars * n_chars) AS div_ppm,
       |    max_run
       |  FROM st JOIN rl ON rl.doc_id = st.doc_id)
       |SELECT doc_id, n_chars, n_classes, div_ppm, max_run,
       |  (div_ppm < $GibDivFloorPpm OR max_run >= $GibMaxRun) AS flagged
       |FROM o ORDER BY doc_id""".stripMargin

  // --- q323: intra-document repetition audit ------------------------------

  /** Duplicate-2-gram flag threshold: the natural corpus sits below
    * ~0.14 (measured at sf0.01: median 0.028, max 0.133), the planted
    * loops at ≥ 0.8 — 0.2 separates them with margin on both sides. */
  val RepFlagTau = 0.2

  /** doc_id offset of the planted repetition loops. */
  val RepLoopOffset = 3000000L

  /** q323 corpus: documents ∪ planted "loop" docs (every 9th doc's
    * first five words repeated 10×) — degenerate-decoding/boilerplate
    * repetition planted in-query so the flag column is substantive at
    * every sf (the q149/q262 fixture discipline). */
  def repetitionCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val loops = base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + RepLoopOffset).as("doc_id"),
        trim(repeat(concat(concat_ws(" ",
          slice(split(col("text"), " "), 1, 5)), lit(" ")), 10)).as("text"))
    base.unionAll(loops)
  }

  /** q323 — intra-document repetition audit (the Gopher repetition
    * filter family, Rae et al. 2021, Appendix A1.1): per document, the
    * fraction of duplicated word 2-grams and 3-grams (1 −
    * distinct/total — a doc that keeps repeating the same phrase has
    * few distinct grams), plus the [[RepFlagTau]] duplicate verdict.
    * This is the one dedup axis the cross-document family (q29–q31)
    * cannot see: a document that is 90% one looped sentence is unique
    * corpus-wide but worthless as training data.
    *
    * Parity: gram arrays are the shared [[DedupOps.wordGramArrayExpr]]
    * construction (mirrored token-for-token by the oracle's range()
    * CTEs); counts are exact integers; each rep fraction is one
    * division rounded once.
    *
    * Scale (100 TB): entirely IN-ROW — tokenize, build the gram array,
    * count distincts with a per-row hash set; no explode, no shuffle,
    * no aggregate. Runs at parquet-scan speed and the flag prunes
    * before any downstream shuffle. */
  def repetitionAudit(s: SparkSession, dir: String): DataFrame =
    repetitionCorpus(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("g2", expr(DedupOps.wordGramArrayExpr(2)))
      .withColumn("g3", expr(DedupOps.wordGramArrayExpr(3)))
      .select(col("doc_id"),
        size(col("g2")).cast("bigint").as("n_g2"),
        size(array_distinct(col("g2"))).cast("bigint").as("d_g2"),
        size(col("g3")).cast("bigint").as("n_g3"),
        size(array_distinct(col("g3"))).cast("bigint").as("d_g3"))
      .select(col("doc_id"), col("n_g2"), col("d_g2"),
        round(lit(1.0) - col("d_g2").cast("double") / col("n_g2"), 6)
          .as("rep2"),
        col("n_g3"), col("d_g3"),
        round(lit(1.0) - col("d_g3").cast("double") / col("n_g3"), 6)
          .as("rep3"),
        (lit(1.0) - col("d_g2").cast("double") / col("n_g2") >= RepFlagTau)
          .as("flagged"))
      .orderBy("doc_id")

  /** q323 oracle — same corpus plant, range()-built gram lists. */
  def repetitionAuditOracle: String = {
    def gramList(n: Int): String = {
      val cat = (0 until n).map(k => s"toks[i + $k]").mkString(" || ' ' || ")
      s"list_transform(range(1, len(toks) - ${n - 2}), i -> $cat)"
    }
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $RepLoopOffset AS doc_id,
       |    trim(repeat(array_to_string(string_split(text, ' ')[1:5], ' ')
       |      || ' ', 10)) AS text
       |  FROM documents WHERE doc_id % 9 = 0),
       |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |g AS (SELECT doc_id, ${gramList(2)} AS g2, ${gramList(3)} AS g3
       |  FROM tok),
       |c AS (SELECT doc_id,
       |    CAST(len(g2) AS BIGINT) AS n_g2,
       |    CAST(len(list_distinct(g2)) AS BIGINT) AS d_g2,
       |    CAST(len(g3) AS BIGINT) AS n_g3,
       |    CAST(len(list_distinct(g3)) AS BIGINT) AS d_g3
       |  FROM g)
       |SELECT doc_id, n_g2, d_g2,
       |  round(1.0 - CAST(d_g2 AS DOUBLE) / n_g2, 6) AS rep2,
       |  n_g3, d_g3,
       |  round(1.0 - CAST(d_g3 AS DOUBLE) / n_g3, 6) AS rep3,
       |  (1.0 - CAST(d_g2 AS DOUBLE) / n_g2 >= $RepFlagTau) AS flagged
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // --- q324: unigram-LM surprisal -----------------------------------------

  /** q324 — unigram language-model surprisal per document: train the
    * simplest possible LM on the corpus itself (global token
    * frequencies) and score every document by its mean token surprisal
    * −Σ ln p(tok) / n — the cheap tier of the perplexity-filter ladder
    * (CCNet / KenLM-style quality gates): documents full of corpus-rare
    * tokens score high (outliers/noise), documents of pure boilerplate
    * tokens score low. Output: doc_id, token count, mean surprisal in
    * nats.
    *
    * Parity: p = cnt/total is one exact division; each token's
    * surprisal is frozen to floor(−ln(p)·10⁹) BIGINT (the q70
    * discipline — ln is libm, 1-ulp safe under the freeze, and only
    * |distinct counts| ≈ vocab-size distinct ln arguments exist), so
    * the per-doc sum is order-free exact integer algebra; ONE double
    * division + round at the end.
    *
    * Scale (100 TB): token frequencies are a vocab-sized aggregate
    * (map-side combinable) broadcast back to the token stream; per-doc
    * aggregation shuffles (doc_id, surp_fp) longs only. Two exchanges
    * total, both partial-aggregated. */
  def unigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_total"))
    // vocab is Heaps-scaled — no forced hint: stats/AQE broadcast it
    // while small, shuffle on the token key past that
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(tot))
      .withColumn("surp_fp", expr(
        "CAST(floor((-ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)))" +
          " * 1e9) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("surp_fp")).as("ssum"))
      .select(col("doc_id"), col("n_toks"),
        round(col("ssum").cast("double") / 1e9 / col("n_toks"), 6)
          .as("surprisal"))
      .orderBy("doc_id")
  }

  def unigramSurprisalOracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
       |tot AS (SELECT sum(cnt) AS n_total FROM freq),
       |sc AS (SELECT doc_id,
       |    CAST(floor((-ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |      * 1e9) AS BIGINT) AS surp_fp
       |  FROM tok JOIN freq USING (tok), tot),
       |d AS (SELECT doc_id, count(*) AS n_toks, sum(surp_fp) AS ssum
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_toks,
       |  round(CAST(ssum AS DOUBLE) / 1e9 / n_toks, 6) AS surprisal
       |FROM d ORDER BY doc_id""".stripMargin

  // --- q325: PII detection / redaction audit ------------------------------

  /** PII patterns kept to constructs Java regex and RE2 (DuckDB) parse
    * identically: plain character classes, no backrefs, no lookaround. */
  val PiiEmailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
  val PiiPhoneRe = "555-[0-9]{4}"

  /** q325 corpus: every 7th document gets a deterministic planted email
    * + phone tail (the base corpus is letters-and-spaces only, so the
    * plants are the exact PII population — zero false positives by
    * construction, and the flag column is substantive at every sf). */
  def piiCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")).as("text"))

  /** q325 — PII detection and redaction audit: per source, how many
    * documents carry an email/phone pattern, total pattern hits, and
    * the exact character mass a redaction pass (pattern → fixed token)
    * removes — the compliance report a training-data pipeline emits
    * BEFORE the redacted corpus ships. Patterns are deliberately
    * simple ([[PiiEmailRe]]/[[PiiPhoneRe]]); the operator is the
    * distributed scan/replace/account shape, not an NER system.
    *
    * Parity: counts are regexp_count vs len(regexp_extract_all) on a
    * shared RE2-compatible pattern; redaction is global regexp_replace
    * on both engines; char deltas are exact integers.
    *
    * Scale (100 TB): narrow per-row regex work (codegen'd, no UDF),
    * then ONE |sources|-group aggregate — scan-bound, and the regex
    * pass is exactly what a redaction writer pipelines in front of the
    * sink. */
  def piiAudit(s: SparkSession, dir: String): DataFrame = {
    val red = piiCorpus(s, dir)
      .withColumn("n_emails",
        regexp_count(col("text"), lit(PiiEmailRe)).cast("bigint"))
      .withColumn("n_phones",
        regexp_count(col("text"), lit(PiiPhoneRe)).cast("bigint"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text"), PiiEmailRe, "<EMAIL>"),
          PiiPhoneRe, "<PHONE>"))
    red.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") > 0, 1L).otherwise(0L))
          .as("n_pii_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum((length(col("text")) - length(col("redacted"))).cast("bigint"))
          .as("chars_redacted"))
      .select(col("source"), col("n_docs"), col("n_pii_docs"),
        col("n_emails"), col("n_phones"), col("chars_redacted"),
        round(col("n_pii_docs").cast("double") / col("n_docs"), 6)
          .as("pii_rate"))
      .orderBy("source")
  }

  def piiAuditOracle: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 7 = 0 THEN
       |      text || ' contact user' || CAST(doc_id AS VARCHAR)
       |        || '@mail.example or call 555-'
       |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    ELSE text END AS text
       |  FROM documents),
       |red AS (SELECT source,
       |    CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT)
       |      AS n_emails,
       |    CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS BIGINT)
       |      AS n_phones,
       |    CAST(length(text) AS BIGINT)
       |      - CAST(length(regexp_replace(regexp_replace(text,
       |          '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>',
       |          'g')) AS BIGINT) AS delta
       |  FROM corpus)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_pii_docs,
       |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
       |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
       |  CAST(sum(delta) AS BIGINT) AS chars_redacted,
       |  round(CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0
       |    END) AS DOUBLE) / count(*), 6) AS pii_rate
       |FROM red GROUP BY source ORDER BY source""".stripMargin

  // --- q333: multi-pattern blocklist audit (Aho–Corasick) ------------------

  /** Flag a document when it matches at least this many DISTINCT
    * blocklist patterns — set where the per-source flag rate is
    * substantive (neither 0 nor 1) on the synthetic vocabulary. */
  val BlocklistFlagMin = 16L

  /** q333 — blocklist audit: every document is scanned for a fixed
    * literal blocklist (safety wordlists, license markers, spam
    * templates — the multi-pattern literal-matching shape every
    * curation pipeline runs), and per source the audit reports document
    * counts, total occurrence mass, distinct-pattern coverage, and how
    * many documents trip the ≥[[BlocklistFlagMin]]-distinct-patterns
    * flag.
    *
    * The scan is the native [[graft.functions.MultiMatchStats]]
    * Aho–Corasick expression: ONE pass over the bytes per document for
    * ALL patterns, vs one full text scan PER pattern in the
    * replace-count form (the oracle, and the spec-side A/B baseline
    * [[blocklistAuditNaive]]) — at a realistic 10³–10⁴-term blocklist
    * the single-pass property is the difference between a scan-bound
    * job and an unrunnable one. Match-count semantics (greedy leftmost
    * non-overlapping, per pattern independently) are pinned to the
    * `replace`-arithmetic oracle by construction; see [[graft.functions.MultiMatch]].
    *
    * Scale (100 TB): narrow per-row byte loop (no explode, no shuffle),
    * then ONE |sources|-group aggregate — parquet-scan-bound. */
  def blocklistAudit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), expr("multi_match_stats(text)").as("m"))
      .select(col("source"), col("m.n_hits").as("n_hits"),
        col("m.n_patterns").as("n_patterns"),
        col("m.max_pattern_hits").as("max_pattern_hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_hits")).as("total_hits"),
        sum(col("n_patterns")).as("sum_distinct"),
        max(col("max_pattern_hits")).as("max_single"),
        sum(when(col("n_patterns") >= BlocklistFlagMin, 1L).otherwise(0L))
          .as("n_flagged"))
      .select(col("source"), col("n_docs"), col("total_hits"),
        round(col("sum_distinct").cast("double") / col("n_docs"), 6)
          .as("mean_distinct"),
        col("max_single"), col("n_flagged"))
      .orderBy("source")

  /** Spec-side A/B baseline: the |patterns|-scan replace-count form the
    * oracle uses — kept off the query surface; [[blocklistAudit]]'s
    * automaton must reproduce it exactly (PipelineOpsSpec) and beat it
    * at the bench (BENCH_NOTES). */
  def blocklistAuditNaive(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MultiMatch.Blocklist
    val perPat = Blocklist.map { p =>
      val lit = p.replace("'", "''")
      s"CAST((length(text) - length(replace(text, '$lit', ''))) / ${p.length} AS BIGINT)"
    }
    val hitsArr = s"array(${perPat.mkString(", ")})"
    t(s, dir, "documents")
      .selectExpr("source",
        s"aggregate($hitsArr, 0L, (a, x) -> a + x) AS n_hits",
        s"aggregate($hitsArr, 0L, (a, x) -> a + IF(x > 0, 1L, 0L)) AS n_patterns",
        s"aggregate($hitsArr, 0L, (a, x) -> greatest(a, x)) AS max_pattern_hits")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_hits")).as("total_hits"),
        sum(col("n_patterns")).as("sum_distinct"),
        max(col("max_pattern_hits")).as("max_single"),
        sum(when(col("n_patterns") >= BlocklistFlagMin, 1L).otherwise(0L))
          .as("n_flagged"))
      .select(col("source"), col("n_docs"), col("total_hits"),
        round(col("sum_distinct").cast("double") / col("n_docs"), 6)
          .as("mean_distinct"),
        col("max_single"), col("n_flagged"))
      .orderBy("source")
  }

  def blocklistAuditOracle: String = {
    import graft.functions.MultiMatch.Blocklist
    val pats = Blocklist.map(p => s"('${p.replace("'", "''")}')")
      .mkString(", ")
    s"""WITH pats(p) AS (VALUES $pats),
       |hits AS (SELECT d.doc_id, d.source,
       |    CAST((length(d.text) - length(replace(d.text, pats.p, '')))
       |      / length(pats.p) AS BIGINT) AS h
       |  FROM documents d CROSS JOIN pats),
       |doc AS (SELECT doc_id, source,
       |    CAST(sum(h) AS BIGINT) AS n_hits,
       |    CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_patterns,
       |    CAST(max(h) AS BIGINT) AS max_pattern_hits
       |  FROM hits GROUP BY doc_id, source)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
       |  round(CAST(sum(n_patterns) AS DOUBLE) / count(*), 6)
       |    AS mean_distinct,
       |  CAST(max(max_pattern_hits) AS BIGINT) AS max_single,
       |  CAST(sum(CASE WHEN n_patterns >= $BlocklistFlagMin THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_flagged
       |FROM doc GROUP BY source ORDER BY source""".stripMargin
  }

  // --- q349: unseen-vocabulary mass (Good–Turing / Chao1) ------------------

  /** q349 — how much vocabulary has the crawl NOT seen yet? Per source
    * and for the pooled corpus: hapax/dis-legomena counts, the
    * Good–Turing unseen-probability mass P₀ = n₁/N (Good 1953), and
    * the Chao1 richness floor V + n₁²/(2n₂) (Chao 1984) — the
    * crawl-budget readout that says whether another pass over a source
    * buys new tokens or re-reads the same ones. Complements q143
    * (Heaps exponent = growth SHAPE) with absolute unseen-mass
    * estimates.
    *
    * Parity: token counts, n₁, n₂, V are exact integers; P₀ and Chao1
    * are ONE division each over integer products + round — zero
    * transcendentals.
    *
    * Scale (100 TB): one (source, token) count aggregate
    * (map-combinable), then a |vocab|-sized frequency-of-frequency
    * collapse per source — the same two-exchange shape as q65; the
    * pooled row re-aggregates the per-source token counts, not the
    * corpus. */
  def unseenMass(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c")).persist()
    val perSrc = tf.groupBy("source").agg(
      sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
    val pooledTf = tf.groupBy("tok").agg(sum(col("c")).as("c"))
    val pooled = pooledTf.agg(
      sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .withColumn("source", lit("__pooled__"))
    perSrc.unionByName(pooled.select(perSrc.columns.map(col): _*))
      .selectExpr("source", "n_tokens", "vocab", "n1", "n2",
        "round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass",
        "round(CAST(vocab AS DOUBLE)" +
          " + (CAST(n1 AS DOUBLE) * n1) / (2.0 * greatest(n2, 1L)), 6)" +
          " AS chao1_richness")
      .orderBy("source")
  }

  def unseenMassOracle: String =
    s"""WITH tf AS (SELECT source, tok, count(*) AS c FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS tok
       |    FROM documents) GROUP BY source, tok),
       |per_src AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS vocab,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM tf GROUP BY source),
       |ptf AS (SELECT tok, CAST(sum(c) AS BIGINT) AS c FROM tf
       |  GROUP BY tok),
       |pooled AS (SELECT '__pooled__' AS source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM ptf),
       |u AS (SELECT * FROM per_src UNION ALL SELECT * FROM pooled)
       |SELECT source, n_tokens, vocab, n1, n2,
       |  round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass,
       |  round(CAST(vocab AS DOUBLE)
       |    + (CAST(n1 AS DOUBLE) * n1) / (2.0 * greatest(n2, 1)), 6)
       |    AS chao1_richness
       |FROM u ORDER BY source""".stripMargin

  // --- q334: perplexity head/middle/tail buckets (CCNet-style) -------------

  /** q334 — CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data" — public construction): per LANGUAGE, rank every
    * document by its unigram-LM mean surprisal (the q324 score) and
    * split the ranking into terciles — head (lowest perplexity,
    * highest quality), middle, tail — then report each bucket's
    * document count, token mass, mean surprisal, and share of the
    * language's documents. This is the standard quality-stratified
    * mixture input: train on head+middle, drop or down-weight tail.
    *
    * Parity: per-doc surprisal is the q324 frozen integer sum (ssum
    * BIGINT, n_toks BIGINT); the ranking key is ssum/1e9/n_toks — two
    * exactly-rounded double ops from exact integers, identical on both
    * engines — with doc_id as the deterministic tie-break; ntile(3) is
    * rank arithmetic on that total order. Bucket means re-aggregate the
    * integer sums (order-free), ONE double division + round at the end.
    *
    * Scale (100 TB): rides q324's two partial-aggregated exchanges,
    * then ONE per-language window (languages are the natural partition;
    * within-language ordering is the unavoidable sort a quantile split
    * needs — at the cluster this is a range-partitioned sort per lang,
    * not a global one) and a |lang × 3|-group aggregate. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("n_total"))
    val perDoc = toks.join(freq, Seq("tok")) // vocab: unhinted (q324)
      .crossJoin(broadcast(tot))
      .withColumn("surp_fp", expr(
        "CAST(floor((-ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)))" +
          " * 1e9) AS BIGINT)"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"), sum(col("surp_fp")).as("ssum"))
      .withColumn("mean_surp",
        col("ssum").cast("double") / 1e9 / col("n_toks"))
    val w = Window.partitionBy("lang")
      .orderBy(col("mean_surp").asc, col("doc_id").asc)
    perDoc.withColumn("bucket", ntile(3).over(w).cast("bigint"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_toks"),
        sum(col("ssum")).as("ssum"))
      .withColumn("lang_docs",
        sum(col("n_docs")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_toks"),
        round(col("ssum").cast("double") / 1e9 / col("n_toks"), 6)
          .as("mean_surp"),
        round(col("n_docs").cast("double") / col("lang_docs"), 6)
          .as("doc_share"))
      .orderBy("lang", "bucket")
  }

  def pplBucketsOracle: String =
    s"""WITH tok AS (SELECT doc_id, lang,
       |    unnest(string_split(text, ' ')) AS tok FROM documents),
       |freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
       |tot AS (SELECT sum(cnt) AS n_total FROM freq),
       |sc AS (SELECT doc_id, lang,
       |    CAST(floor((-ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)))
       |      * 1e9) AS BIGINT) AS surp_fp
       |  FROM tok JOIN freq USING (tok), tot),
       |d AS (SELECT doc_id, lang, count(*) AS n_toks,
       |    sum(surp_fp) AS ssum FROM sc GROUP BY doc_id, lang),
       |r AS (SELECT doc_id, lang, n_toks, ssum,
       |    ntile(3) OVER (PARTITION BY lang
       |      ORDER BY CAST(ssum AS DOUBLE) / 1e9 / n_toks ASC, doc_id ASC)
       |      AS bucket
       |  FROM d),
       |b AS (SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       |    count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks,
       |    CAST(sum(ssum) AS BIGINT) AS ssum
       |  FROM r GROUP BY lang, bucket)
       |SELECT lang, bucket, n_docs, n_toks,
       |  round(CAST(ssum AS DOUBLE) / 1e9 / n_toks, 6) AS mean_surp,
       |  round(CAST(n_docs AS DOUBLE)
       |    / sum(n_docs) OVER (PARTITION BY lang), 6) AS doc_share
       |FROM b ORDER BY lang, bucket""".stripMargin

  // --- q378: prefix-cache hit-mass curve -------------------------------------

  /** Prefix depths (tokens) priced by the curve. */
  val PrefixCacheDepths: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** q378 — prefix-cache sizing for LLM serving: if the server caches
    * the KV state of every depth-d token prefix (the vLLM/SGLang
    * prefix-cache design), how many prompt tokens does THIS corpus
    * skip recomputing? Per depth d: distinct prefixes (= cache
    * entries), repeated-prefix document count, and the saved token
    * mass Σ_prefix (count−1)·d — first occurrence pays, every repeat
    * hits — as a fraction of total prompt tokens. The curve's knee is
    * the cache depth worth provisioning; deep prefixes approach zero
    * reuse on a diverse corpus and the table shows exactly where.
    * q185 compresses sorted URLS for storage; THIS prices runtime
    * compute reuse over prompt token streams — same prefix algebra,
    * different bill.
    *
    * Parity: prefixes are exact string concat of the first d tokens
    * (docs shorter than d contribute their full text and are counted
    * in `n_short`, excluded from that depth's reuse — pinned rule);
    * all masses are exact integers; one division per row.
    *
    * Scale (100 TB): per depth ONE groupBy over ≤|docs| slim prefix
    * strings — the depth grid explodes ≤|depths| rows per doc, all
    * map-combinable. */
  def prefixCacheCurve(s: SparkSession, dir: String): DataFrame = {
    val grid = broadcast(s.createDataFrame(
      PrefixCacheDepths.map(Tuple1(_))).toDF("depth"))
    val d = t(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "toks",
        "CAST(size(toks) AS BIGINT) AS n_toks")
    val tot = broadcast(d.agg(sum("n_toks").as("total_toks"),
      count(lit(1)).as("n_docs")))
    d.crossJoin(grid)
      .selectExpr("depth", "n_toks >= depth AS eligible",
        "CASE WHEN n_toks >= depth THEN" +
          " array_join(slice(toks, 1, depth), ' ') END AS pfx")
      .groupBy("depth", "eligible", "pfx")
      .agg(count(lit(1)).as("c"))
      .groupBy("depth")
      .agg(sum(when(col("eligible"), col("c")).otherwise(0L))
          .as("n_eligible"),
        sum(when(!col("eligible"), col("c")).otherwise(0L)).as("n_short"),
        sum(when(col("eligible"), 1L).otherwise(0L)).as("n_prefixes"),
        sum(when(col("eligible"), (col("c") - 1L) * col("depth"))
          .otherwise(0L)).as("saved_toks"))
      .crossJoin(tot)
      .selectExpr("depth", "n_docs", "n_short", "n_prefixes",
        "saved_toks",
        "round(CAST(saved_toks AS DOUBLE)" +
          " / CAST(total_toks AS DOUBLE), 6) AS saved_frac",
        "round(CAST(n_prefixes AS DOUBLE)" +
          " / CAST(n_eligible AS DOUBLE), 6) AS prefix_diversity")
      .orderBy("depth")
  }

  def prefixCacheCurveOracle: String = {
    val grid = PrefixCacheDepths.mkString(", ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total_toks,
       |    count(*) AS n_docs FROM d),
       |px AS (SELECT g.depth, d.n_toks >= g.depth AS eligible,
       |    CASE WHEN d.n_toks >= g.depth THEN
       |      array_to_string(d.toks[1:g.depth], ' ') END AS pfx
       |  FROM d, (SELECT unnest(ARRAY[$grid]) AS depth) g),
       |pc AS (SELECT depth, eligible, pfx, count(*) AS c FROM px
       |  GROUP BY depth, eligible, pfx),
       |agg AS (SELECT depth,
       |    CAST(sum(CASE WHEN eligible THEN c ELSE 0 END) AS BIGINT)
       |      AS n_eligible,
       |    CAST(sum(CASE WHEN eligible THEN 0 ELSE c END) AS BIGINT)
       |      AS n_short,
       |    CAST(sum(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_prefixes,
       |    CAST(sum(CASE WHEN eligible THEN (c - 1) * depth ELSE 0 END)
       |      AS BIGINT) AS saved_toks
       |  FROM pc GROUP BY depth)
       |SELECT CAST(a.depth AS INT) AS depth, tot.n_docs, a.n_short,
       |  a.n_prefixes, a.saved_toks,
       |  round(CAST(a.saved_toks AS DOUBLE)
       |    / CAST(tot.total_toks AS DOUBLE), 6) AS saved_frac,
       |  round(CAST(a.n_prefixes AS DOUBLE)
       |    / CAST(a.n_eligible AS DOUBLE), 6) AS prefix_diversity
       |FROM agg a, tot ORDER BY depth""".stripMargin
  }
  // --- q383: Kneser-Ney bigram LM, held-out cross-entropy --------------------

  /** q383 — interpolated Kneser–Ney bigram language model (Kneser & Ney
    * 1995; Chen & Goodman 1999's standard formulation) trained on the
    * even-doc_id half of the corpus and scored on the held-out odd
    * half, reported as per-source cross-entropy. The CONDITIONAL-model
    * complement to q324/q334's unigram surprisal machinery: KN's
    * signature is the continuation count — p_cont(w₂) ∝ |{w₁ :
    * c(w₁w₂)>0}| — which scores "glue" words by how many contexts they
    * follow, not how often they occur, and the held-out split makes
    * this a real generalization readout instead of training-set fit.
    *
    * Model (D = 3/4 exact): p(w₂|w₁) = max(c₁₂−D, 0)/c₁ +
    * D·n1plus(w₁)/c₁ · cont(w₂)/B, algebraically ONE exact rational
    * [max(4c₁₂−3, 0)·B + 3·n1plus·cont] / (4·c₁·B) with DECIMAL(38,0)
    * numerator/denominator (the q362 headroom discipline — c₁₂·B
    * passes int64 at large SF). A held-out bigram is scored iff its
    * context w₁ was seen and its w₂ has a nonzero continuation count;
    * others are reported as OOV mass, never ln(0).
    *
    * Parity: counts are exact integers; p is one pinned double
    * division of two exact DECIMALs; ln freezes to floor(−ln(p)·10⁹)
    * BIGINT per distinct (w₁,w₂) before the order-free sum (the
    * q324/q131 ln discipline).
    *
    * Scale (100 TB): train-side counts are map-combinable vocab/bigram
    * collapses; scoring joins the held-out bigram aggregate against
    * the model on (w₁,w₂)/w₁/w₂ — the bigram table's natural keys, no
    * forced broadcasts (Heaps-scaled sides shuffle); per-source rollup
    * is enum-keyed. */
  def knBigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
    def bigrams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("source"),
        explode(expr(DedupOps.wordGramArrayExpr(2))).as("bg"))
      .select(col("source"),
        split(col("bg"), " ")(0).as("w1"),
        split(col("bg"), " ")(1).as("w2"))
    val train = bigrams(toks.filter(col("doc_id") % 2 === 0))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")).persist()
    val left = train.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1plus"))
    val cont = train.groupBy("w2").agg(count(lit(1)).as("cont"))
    val bTot = train.agg(count(lit(1)).as("b_total"))
    val ev = bigrams(toks.filter(col("doc_id") % 2 === 1))
      .groupBy("source", "w1", "w2").agg(count(lit(1)).as("ce"))
    val scored = ev
      .join(left, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .join(train, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(bTot))
      .withColumn("in_model",
        col("c1").isNotNull && col("cont").isNotNull)
      .withColumn("nll_fp", when(col("in_model"), expr(
        "CAST(floor(-ln(CAST(" +
          "CAST(greatest(4 * coalesce(c12, 0) - 3, 0) AS DECIMAL(38,0))" +
          " * b_total + CAST(3 AS DECIMAL(38,0)) * n1plus * cont" +
          " AS DOUBLE) / CAST(CAST(4 AS DECIMAL(38,0)) * c1 * b_total" +
          " AS DOUBLE)) * 1e9) AS BIGINT)")))
    scored.groupBy("source")
      .agg(
        sum(when(col("in_model"), col("ce")).otherwise(0L))
          .as("n_scored"),
        sum(when(!col("in_model"), col("ce")).otherwise(0L))
          .as("n_oov"),
        // DECIMAL(38,0) weighted sum: nll_fp·ce passes int64 at large
        // SF (the q362 headroom discipline)
        sum(when(col("in_model"),
            expr("CAST(nll_fp AS DECIMAL(38,0)) * ce"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("nsum"))
      .selectExpr("source", "n_scored", "n_oov",
        // all-OOV guard: 0/0 is NaN in Spark but engine/version-dependent
        // in DuckDB — a degenerate source reports NULL on both
        "CASE WHEN n_scored > 0 THEN" +
          " round(CAST(nsum AS DOUBLE) / 1e9 / n_scored, 6)" +
          " ELSE NULL END AS cross_entropy_nats",
        "round(CAST(n_oov AS DOUBLE) / (n_scored + n_oov), 6)" +
          " AS oov_frac")
      .orderBy("source")
  }

  def knBigramLmOracle: String =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |bg AS (SELECT doc_id, source,
       |    toks[i] AS w1, toks[i + 1] AS w2
       |  FROM d, unnest(range(1, len(toks))) AS t(i)),
       |train AS (SELECT w1, w2, count(*) AS c12 FROM bg
       |  WHERE doc_id % 2 = 0 GROUP BY w1, w2),
       |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |    count(*) AS n1plus FROM train GROUP BY w1),
       |cnt AS (SELECT w2, count(*) AS cont FROM train GROUP BY w2),
       |bt AS (SELECT count(*) AS b_total FROM train),
       |ev AS (SELECT source, w1, w2, count(*) AS ce FROM bg
       |  WHERE doc_id % 2 = 1 GROUP BY source, w1, w2),
       |sc AS (SELECT ev.source, ev.ce,
       |    lft.c1 IS NOT NULL AND cnt.cont IS NOT NULL AS in_model,
       |    CASE WHEN lft.c1 IS NOT NULL AND cnt.cont IS NOT NULL THEN
       |      CAST(floor(-ln(CAST(
       |        CAST(greatest(4 * coalesce(train.c12, 0) - 3, 0)
       |          AS DECIMAL(38,0)) * bt.b_total
       |        + CAST(3 AS DECIMAL(38,0)) * lft.n1plus * cnt.cont
       |        AS DOUBLE) / CAST(CAST(4 AS DECIMAL(38,0)) * lft.c1
       |        * bt.b_total AS DOUBLE)) * 1e9) AS BIGINT)
       |    END AS nll_fp
       |  FROM ev
       |  LEFT JOIN lft ON lft.w1 = ev.w1
       |  LEFT JOIN cnt ON cnt.w2 = ev.w2
       |  LEFT JOIN train ON train.w1 = ev.w1 AND train.w2 = ev.w2
       |  CROSS JOIN bt),
       |agg AS (SELECT source,
       |    CAST(sum(CASE WHEN in_model THEN ce ELSE 0 END) AS BIGINT)
       |      AS n_scored,
       |    CAST(sum(CASE WHEN in_model THEN 0 ELSE ce END) AS BIGINT)
       |      AS n_oov,
       |    sum(CASE WHEN in_model
       |      THEN CAST(nll_fp AS DECIMAL(38,0)) * ce
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS nsum
       |  FROM sc GROUP BY source)
       |SELECT source, n_scored, n_oov,
       |  CASE WHEN n_scored > 0 THEN
       |    round(CAST(nsum AS DOUBLE) / 1e9 / n_scored, 6)
       |  END AS cross_entropy_nats,
       |  round(CAST(n_oov AS DOUBLE) / (n_scored + n_oov), 6) AS oov_frac
       |FROM agg ORDER BY source""".stripMargin
}
