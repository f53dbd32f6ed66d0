package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators — the last mile between a curated
  * corpus and the batches a trainer reads: sequence packing into
  * fixed-size context windows, mixture-weight epoch resampling,
  * incremental-batch dedup against the already-ingested corpus,
  * rule-based quality gating (the Gopher/FineWeb-style filter stack),
  * and deterministic shard planning for the output writer.
  *
  * These extend the reference's ingest surface (nightly parquet drops →
  * cleaned tables, `/root/reference/ParquetFileInsertion.py:30-66`) with
  * the corpus-to-training-batch steps a 100 TB LLM data pipeline runs
  * after ingest. Every operator is a one-exchange shape: packing
  * shuffles once on its grouping key and then streams each partition;
  * everything else is hash-aggregate or fingerprint-join work that
  * map-side combines.
  */
object TrainPrepOps {

  import EtlOps.t
  import TextOps.{wsTokenCount, stopwordHits, LangStopwords}

  /** 60-bit md5 fingerprint of a salted doc id — the deterministic,
    * engine-portable randomness source used for mixture sampling and
    * shard assignment (same construction as [[TextOps.md5Fingerprint60]],
    * DuckDB twin `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`). */
  private def saltedFp(salt: String): Column =
    call_function("md5_fp60",
      concat(lit(salt), col("doc_id").cast("string")))

  // --- q101: sequence packing -------------------------------------------

  /** Context-window budget in characters. Chars stand in for tokens so
    * the operator needs no tokenizer parity; the algorithm is identical
    * for any additive cost column. */
  val PackBudget = 1024L

  case class PackIn(source: String, doc_id: Long, n_chars: Long)
  case class PackOut(doc_id: Long, source: String, bin: Long, fill: Long)

  /** q101 — greedy contiguous sequence packing: within each source, in
    * doc_id order, documents accumulate into the current window until
    * the next one would exceed [[PackBudget]], which starts a new
    * window. A document larger than the budget occupies a window alone.
    * Output is each document's window index and the window's running
    * fill after the document — the assignment a batch writer needs to
    * emit fixed-size training sequences.
    *
    * Packing is inherently a sequential scan per group, so the
    * distributed shape is: ONE hash exchange on the packing key
    * (source), an in-partition sort by (source, doc_id), then a
    * streaming `mapPartitions` pass that carries (source, bin, fill)
    * state and resets it at each source boundary — no driver state, no
    * per-group collect, memory O(1) per task. At 100 TB the unit of
    * packing would be (source, date-partition) so no single group
    * serializes a whole source; the state machine is unchanged. */
  /** The packing core over any (source, doc_id, n_chars) frame — the
    * exchange + in-partition sort + streaming state machine, without
    * the table read or output sort (property tests drive it with
    * generated corpora). */
  def packDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    val budget = PackBudget
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .as(Encoders.product[PackIn])
      .repartition(col("source"))
      .sortWithinPartitions("source", "doc_id")
      .mapPartitions({ it =>
        var src: String = null
        var bin = 0L
        var fill = 0L
        it.map { r =>
          if (r.source != src) { src = r.source; bin = 0L; fill = r.n_chars }
          else if (fill + r.n_chars <= budget) { fill += r.n_chars }
          else { bin += 1L; fill = r.n_chars }
          PackOut(r.doc_id, r.source, bin, fill)
        }
      })(Encoders.product[PackOut])
      .toDF()
  }

  def sequencePack(s: SparkSession, dir: String): DataFrame =
    packDocs(t(s, dir, "documents")).orderBy("source", "doc_id")

  // --- q137: concat-and-chunk packing -----------------------------------

  /** q137 — concat-and-chunk packing (the GPT-style pretraining layout):
    * the corpus is ONE doc_id-ordered stream of characters cut into
    * fixed [[PackBudget]]-char windows; documents split across window
    * boundaries instead of starting fresh bins (q101's greedy form
    * wastes tail space, this form wastes none — q115 measures the
    * difference). Output: one row per (document × window it touches)
    * with the piece's offset inside the window and its length — the
    * exact slice list a sequence writer materializes.
    *
    * The global character offset is the q114 two-pass enumeration with
    * SUM instead of COUNT: range-partition by doc_id, per-partition
    * char totals → driver cumsum over #partitions scalars → broadcast
    * offsets + partition-local running sum. No single-partition window
    * ever materializes (the oracle states the same cumsum as one SQL
    * window, which DuckDB runs fine at oracle scale). A document
    * touching w windows explodes into w rows — bounded by
    * n_chars/budget + 1, so output is ~|corpus|/budget extra rows
    * total, not a blow-up. */
  def concatChunk(s: SparkSession, dir: String): DataFrame =
    concatChunkOf(s, t(s, dir, "documents"))

  /** The chunking core over any (doc_id, n_chars) frame — property
    * tests drive it with generated corpora. */
  def concatChunkOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val b = PackBudget
    val nParts = s.sessionState.conf.numShufflePartitions
    val d = docs
      .select(col("doc_id"), col("n_chars"))
      .repartitionByRange(nParts, col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val counts = d.groupBy("pid").agg(sum(col("n_chars")).as("chars"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).init)
    import s.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("pid", "pid_off"))
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("local_cum", sum(col("n_chars")).over(wLocal))
      .join(offDf, "pid")
      .withColumn("end_off", col("pid_off") + col("local_cum"))
      .withColumn("st", col("end_off") - col("n_chars"))
      .filter(col("n_chars") >= 1)
      .select(col("doc_id"), col("st"), col("end_off"),
        explode(sequence(expr(s"st div $b"), expr(s"(end_off - 1) div $b")))
          .as("window_id"))
      .select(col("doc_id"), col("window_id"),
        (greatest(col("st"), col("window_id") * b) - col("window_id") * b)
          .as("off_in_window"),
        (least(col("end_off"), (col("window_id") + 1) * b) -
          greatest(col("st"), col("window_id") * b)).as("piece_len"))
      .orderBy("doc_id", "window_id")
  }

  def concatChunkOracle: String =
    s"""WITH c AS (SELECT doc_id, n_chars, CAST(sum(n_chars) OVER (
       |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
       |  FROM documents),
       |s AS (SELECT doc_id, n_chars, end_off, end_off - n_chars AS st
       |  FROM c WHERE n_chars >= 1),
       |e AS (SELECT doc_id, st, end_off,
       |    unnest(range(st // $PackBudget, (end_off - 1) // $PackBudget + 1))
       |      AS window_id
       |  FROM s)
       |SELECT doc_id, window_id,
       |  GREATEST(st, window_id * $PackBudget) - window_id * $PackBudget
       |    AS off_in_window,
       |  LEAST(end_off, (window_id + 1) * $PackBudget)
       |    - GREATEST(st, window_id * $PackBudget) AS piece_len
       |FROM e ORDER BY doc_id, window_id""".stripMargin

  // --- q102: mixture-weight epoch resampling ----------------------------

  /** q102 — data-mixture resampling: each source carries an epoch weight
    * (how many times its documents appear in one training pass; < 1
    * downsamples, > 1 upsamples). A document materializes
    * floor(w) copies plus one more when its fingerprint falls under the
    * fractional part — deterministic repeat-factor sampling, so every
    * run and every engine agrees on exactly which copies exist.
    *
    * Weights here derive from the source name (0.5 + (n % 4) · 0.75,
    * i.e. 0.5/1.25/2.0/2.75 epochs) and are carried in integer
    * thousandths so copy counts are exact integer arithmetic — no float
    * thresholds. Shape: a narrow map plus a bounded `sequence` explode;
    * output size is Σ w_i·|source_i| regardless of cluster size, and no
    * shuffle happens at all — the explode pipelines into whatever
    * consumes it. */
  /** The mixture's materialized copies: (doc_id, source, copy, n_copies),
    * one row per training-pass appearance. Shared by q102 and q111. */
  private def mixtureCopies(s: SparkSession, dir: String): DataFrame = {
    // unbounded suffix, matching the oracle's substr(source, 4) exactly —
    // a bounded substring(source, 4, 10) would diverge from the oracle on
    // source names longer than 13 chars
    val w1000 = (lit(500) + (expr("substring(source, 4)").cast("int") % 4) * 750)
      .as("w1000")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), w1000,
        (saltedFp("mix") % 1000).as("fp"))
      .withColumn("n_copies",
        (expr("w1000 div 1000") +
          when(col("fp") < col("w1000") % 1000, 1L).otherwise(0L))
          .cast("bigint"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"),
        col("n_copies"))
  }

  def mixtureEpochs(s: SparkSession, dir: String): DataFrame =
    mixtureCopies(s, dir).orderBy("doc_id", "copy")

  // --- q115: packing-efficiency audit -----------------------------------

  /** q115 — packing efficiency: per source, how well q101's greedy
    * packing fills its windows — bins used, documents packed, mean fill
    * ratio against [[PackBudget]], and how many bins a single oversized
    * document blew past the budget. This is the feedback loop the
    * budget is tuned against: a low fill ratio means wasted compute per
    * training step, overflow bins mean the upstream chunker (q55) needs
    * a smaller cap.
    *
    * Shape: two map-side-combinable aggregates over the packing output
    * ((source, bin) then source) — strictly cheaper than the packing
    * pass itself. Ratios are single divisions of exactly-aggregated
    * integers. */
  def packEfficiency(s: SparkSession, dir: String): DataFrame =
    sequencePack(s, dir)
      .groupBy("source", "bin")
      .agg(max(col("fill")).as("bin_fill"), count(lit(1)).as("bin_docs"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_bins"),
        sum("bin_docs").as("n_docs"),
        sum("bin_fill").as("packed_chars"),
        max("bin_fill").as("max_fill"),
        sum(when(col("bin_fill") > PackBudget, 1L).otherwise(0L))
          .as("n_overflow"))
      .withColumn("fill_ratio",
        col("packed_chars").cast("double") /
          (col("n_bins") * PackBudget).cast("double"))
      .orderBy("source")

  // --- q111: deterministic epoch schedule -------------------------------

  /** q111 — the read order a trainer consumes the q102 mixture in:
    * every materialized copy gets a stride-interleave position
    * (rank − ½) / n_source-copies, so each source's copies spread
    * uniformly over the epoch and sources interleave proportionally to
    * their weights (the standard temperature-sampling dataloader order,
    * made deterministic). The output IS the schedule: rows sorted by
    * position are the exact global read sequence.
    *
    * Shape: the mixture explode stays narrow; rank and per-source
    * totals are source-partitioned windows (one exchange on the
    * interleave key); the final global sort is a range partition — the
    * only total order in the pipeline, and exactly the one the output
    * contract requires. No driver-side state, no single-partition
    * window. */
  def epochSchedule(s: SparkSession, dir: String): DataFrame = {
    val copies = mixtureCopies(s, dir).drop("n_copies")
    val bySource = Window.partitionBy("source")
    val rank = row_number()
      .over(bySource.orderBy("doc_id", "copy")).cast("bigint")
    copies
      .withColumn("r", rank)
      .withColumn("n_total", count(lit(1)).over(bySource))
      .withColumn("pos",
        (col("r").cast("double") - 0.5) / col("n_total").cast("double"))
      .select(col("doc_id"), col("source"), col("copy"), col("r"),
        col("pos"))
      .orderBy("pos", "source", "doc_id", "copy")
  }

  // --- q103: incremental-batch dedup ------------------------------------

  /** q103 — incremental ingest dedup: the arriving batch (here: doc_id ≡
    * 0 mod 5, standing in for "today's partition") is deduplicated
    * against the already-ingested corpus by normalized-text fingerprint,
    * then within itself (first doc_id wins). Survivors report how many
    * batch rows shared their fingerprint.
    *
    * Shape: the corpus side reduces to DISTINCT fingerprints before the
    * anti-join, so the join carries one row per distinct historical
    * document, not one per row; the within-batch step is a
    * fingerprint-keyed window over the (small) surviving batch. At
    * 100 TB the corpus fingerprint set is exactly what a bloom-filter
    * pre-prune (q66's operator) compresses to executor-memory size —
    * the anti-join then only shuffles probable-duplicate rows. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("fingerprint",
        md5(regexp_replace(lower(col("text")), "\\s+", " ")))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
      .select("fingerprint").distinct()
    val batch = docs.filter(col("doc_id") % 5 === 0)
    batch.join(base, Seq("fingerprint"), "left_anti")
      .withColumn("rn",
        row_number().over(Window.partitionBy("fingerprint").orderBy("doc_id")))
      .withColumn("n_batch_dups",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fingerprint"), col("n_batch_dups"))
      .orderBy("doc_id")
  }

  // --- q104: rule-based quality gate ------------------------------------

  /** q104 — Gopher/FineWeb-style rule stack: per document, the word
    * count, mean word length, and symbol ratio, each gated by its
    * published-heuristic range, plus a stopword-presence check; a
    * document passes only if every rule passes. Unlike q27's blended
    * score this is the boolean filter stack production pipelines apply
    * before scoring — and each rule's flag is reported so rejection
    * reasons aggregate for free.
    *
    * Every column is per-row arithmetic on one input row — a pure
    * narrow map that fuses into the scan under whole-stage codegen; at
    * any scale this runs at parquet-read speed and the filter can push
    * into the consumer. */
  /** The q104 pass/fail conjunction as a reusable per-row expression
    * (one definition for the filter stack and q194's agreement audit). */
  private[graft] def gopherPassOf(text: Column): Column = {
    val nWords = wsTokenCount(text)
    val nonspace = length(regexp_replace(text, "\\s+", "")).cast("bigint")
    val symbols = length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
      .cast("bigint")
    val meanWordLen = nonspace.cast("double") / nWords.cast("double")
    val symbolRatio = symbols.cast("double") / length(text).cast("double")
    val stops = stopwordHits(text, LangStopwords.head._2)
    (nWords >= 10 && nWords <= 100000) &&
      (meanWordLen >= 3.0 && meanWordLen <= 10.0) &&
      (symbolRatio < 0.1) && (stops >= 2)
  }

  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val nWords = wsTokenCount(col("text"))
    val nonspace = length(regexp_replace(col("text"), "\\s+", "")).cast("bigint")
    val symbols = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("bigint")
    val meanWordLen = nonspace.cast("double") / nWords.cast("double")
    val symbolRatio = symbols.cast("double") / length(col("text")).cast("double")
    val stops = stopwordHits(col("text"), LangStopwords.head._2)
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        (nWords >= 10 && nWords <= 100000).as("flag_words"),
        (meanWordLen >= 3.0 && meanWordLen <= 10.0).as("flag_mwl"),
        (symbolRatio < 0.1).as("flag_symbol"),
        (stops >= 2).as("flag_stop"))
      .withColumn("passes",
        col("flag_words") && col("flag_mwl") && col("flag_symbol") && col("flag_stop"))
      .orderBy("doc_id")
  }

  // --- q105: output shard planning --------------------------------------

  /** Number of output shards the writer targets. */
  val NShards = 16

  /** q105 — deterministic shard plan: every document hashes to one of
    * [[NShards]] output shards; the plan reports each shard's document
    * count, byte load, and load ratio against the ideal even split —
    * the pre-write audit that catches a skewed shard before the writer
    * produces a straggler file.
    *
    * Shape: one map-side-combinable aggregate down to [[NShards]] rows,
    * then the grand total via a window over those rows — the full-corpus
    * scan happens exactly once no matter the scale. */
  def shardPlan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((saltedFp("shard") % NShards).as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .withColumn("load_ratio",
        col("total_chars").cast("double") * NShards /
          sum("total_chars").over(Window.partitionBy()).cast("double"))
      .orderBy("shard")

  // --- q109: corpus datasheet -------------------------------------------

  /** q109 — per-source corpus datasheet: the one-row-per-source summary
    * a dataset card publishes — document and character volume, language
    * spread, exact-duplicate count (docs minus distinct normalized-text
    * fingerprints), and how much of the source survives the q104 rule
    * stack. The numbers a data-mixture decision (q102 weights) is
    * actually made from.
    *
    * Shape: one aggregate over the source key; the two distinct counts
    * are standard two-phase partial aggregates and everything else
    * map-side combines, so the report stays one pass at any corpus
    * size. Ratios are single divisions of exactly-aggregated integers. */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val nWords = wsTokenCount(col("text"))
    val nonspace = length(regexp_replace(col("text"), "\\s+", "")).cast("bigint")
    val symbols = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("bigint")
    val meanWordLen = nonspace.cast("double") / nWords.cast("double")
    val symbolRatio = symbols.cast("double") / length(col("text")).cast("double")
    val passes = nWords >= 10 && nWords <= 100000 &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      symbolRatio < 0.1 &&
      stopwordHits(col("text"), LangStopwords.head._2) >= 2
    t(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        when(passes, 1L).otherwise(0L).as("pass"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        sum("pass").as("n_quality_pass"))
      .withColumn("avg_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))
      .withColumn("pass_rate",
        col("n_quality_pass").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  // --- q128: token-budget selection by quality threshold ----------------

  /** Fraction of the corpus token mass the selection may keep, as a
    * source literal so both dialects parse the identical double. */
  /** Threshold-curve steps: quality in [0, 1] swept in 1/20 steps. */
  val CurveSteps = 20

  /** q139 — quality-gate threshold curve: for every candidate threshold
    * t ∈ {0, 1/20, …, 19/20}, what fraction of documents and tokens
    * survives `quality ≥ t`, and what the survivors' mean quality is —
    * the tradeoff table a data team reads before pinning a filter
    * threshold (q128 answers "given a token budget, which docs"; this
    * answers "given a threshold, what do I lose"). Quality is q27/q128's
    * formula, mean quality rides ×1e9 fixed point.
    *
    * Scale (100 TB): ONE corpus pass buckets documents into
    * [[CurveSteps]] quality bins (map-combinable aggregate, ≤ 20+1
    * groups); the curve is a suffix-sum window over those rows alone.
    * The naive form — one filtered aggregate per threshold — scans the
    * corpus [[CurveSteps]] times; this never rescans. */
  def thresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val alpha =
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val toksD = wsTokenCount(col("text")).cast("double")
    val stops = stopwordHits(col("text"), LangStopwords.head._2).cast("double")
    val quality = (alpha / len) * 0.5 + (stops / toksD) * 0.3 +
      when(len >= 100 && len <= 500, 0.2).otherwise(0.0)
    val binned = t(s, dir, "documents")
      .select(wsTokenCount(col("text")).as("tokens"), quality.as("q"))
      // clamp into [0, CurveSteps-1] so q = 1.0 lands in the top bin
      .withColumn("bin", least(
        floor(col("q") * CurveSteps).cast("bigint"),
        lit(CurveSteps - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("toks"),
        sum(expr("CAST(floor(q * 1000000000.0) AS BIGINT)")).as("q_fp"))
    // the full threshold spine, so empty bins still produce curve rows
    import s.implicits._
    val spine = (0L until CurveSteps.toLong).toDF("bin")
    val wSuffix = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    spine.join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("n_docs", "toks", "q_fp"))
      .withColumn("docs_kept", sum(col("n_docs")).over(wSuffix))
      .withColumn("toks_kept", sum(col("toks")).over(wSuffix))
      .withColumn("q_kept", sum(col("q_fp")).over(wSuffix))
      .withColumn("docs_all", sum(col("n_docs")).over(wAll))
      .withColumn("toks_all", sum(col("toks")).over(wAll))
      .select(
        (col("bin").cast("double") / CurveSteps).as("threshold"),
        col("docs_kept"), col("toks_kept"),
        round(col("docs_kept").cast("double") /
          col("docs_all").cast("double"), 6).as("doc_frac"),
        round(col("toks_kept").cast("double") /
          col("toks_all").cast("double"), 6).as("tok_frac"),
        when(col("docs_kept") > 0,
          round((col("q_kept").cast("double") / lit(1e9)) /
            col("docs_kept").cast("double"), 6)).otherwise(0.0)
          .as("mean_quality"))
      .orderBy("threshold")
  }

  def thresholdCurveOracle: String = {
    val stopRe = "\\b(" + LangStopwords.head._2 + ")\\b"
    s"""WITH d AS (SELECT
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS tokens,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) * 0.5
       |    + CAST(len(regexp_extract_all(text, '$stopRe')) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |      * 0.3
       |    + (CASE WHEN length(text) >= 100 AND length(text) <= 500
       |       THEN 0.2 ELSE 0.0 END) AS q
       |  FROM documents),
       |b AS (SELECT LEAST(CAST(floor(q * $CurveSteps) AS BIGINT),
       |      ${CurveSteps - 1}) AS bin,
       |    count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS toks,
       |    CAST(sum(CAST(floor(q * 1000000000.0) AS BIGINT)) AS BIGINT)
       |      AS q_fp
       |  FROM d GROUP BY 1),
       |sp AS (SELECT unnest(range(0, $CurveSteps)) AS bin),
       |bf AS (SELECT sp.bin, coalesce(n_docs, 0) AS n_docs,
       |    coalesce(toks, 0) AS toks, coalesce(q_fp, 0) AS q_fp
       |  FROM sp LEFT JOIN b ON sp.bin = b.bin),
       |c AS (SELECT bin,
       |    CAST(sum(n_docs) OVER (ORDER BY bin DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_kept,
       |    CAST(sum(toks) OVER (ORDER BY bin DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS toks_kept,
       |    CAST(sum(q_fp) OVER (ORDER BY bin DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q_kept,
       |    CAST(sum(n_docs) OVER () AS BIGINT) AS docs_all,
       |    CAST(sum(toks) OVER () AS BIGINT) AS toks_all
       |  FROM bf)
       |SELECT CAST(bin AS DOUBLE) / $CurveSteps AS threshold,
       |  docs_kept, toks_kept,
       |  round(CAST(docs_kept AS DOUBLE) / CAST(docs_all AS DOUBLE), 6)
       |    AS doc_frac,
       |  round(CAST(toks_kept AS DOUBLE) / CAST(toks_all AS DOUBLE), 6)
       |    AS tok_frac,
       |  CASE WHEN docs_kept > 0 THEN
       |    round((CAST(q_kept AS DOUBLE) / 1e9) / CAST(docs_kept AS DOUBLE),
       |      6) ELSE 0.0 END AS mean_quality
       |FROM c ORDER BY threshold""".stripMargin
  }

  val BudgetFrac = "0.4"

  /** q128 — budget-constrained quality selection: keep the
    * highest-quality documents whose total token count fits a
    * [[BudgetFrac]]·corpus budget, WITHOUT a global sort. Two-phase
    * threshold finding: (1) histogram token mass into 1000 quality
    * buckets (distributed aggregate); (2) cumulative-sum the ~1000
    * bucket rows from the top — buckets wholly under budget keep all
    * their documents, the single straddling bucket is resolved by a
    * doc_id-ordered running sum over ITS documents only. Reports the
    * per-source keep counts — how a quality gate reshapes the mixture.
    *
    * Scale (100 TB): this is the classic distributed top-mass selection
    * — no global sort, no single-partition pass over documents. The
    * only unpartitioned window runs over ≤1000 bucket rows, and the
    * straddling-bucket window touches one bucket's documents (~0.1% of
    * the corpus for any non-degenerate score). Everything else is
    * map-combinable aggregates and one broadcast of the 1000-row
    * cumulative table. */
  // --- q153: sliding-window passage chunking ----------------------------

  /** Tokens per chunk and step between chunk starts (overlap =
    * ChunkSize − ChunkStride = 16 tokens of retrieval context). */
  val ChunkSize = 64
  val ChunkStride = 48

  /** q153 — sliding-window passage chunking, the RAG-prep transform: a
    * retrieval index wants fixed-size overlapping passages, not whole
    * documents, so each document explodes into chunks starting every
    * [[ChunkStride]] tokens (the final chunk may be short; a document
    * shorter than one chunk yields exactly one). Each chunk carries its
    * token span and an md5 fingerprint of its joined text, and
    * `n_dup_of` counts how many OTHER chunks in the corpus share the
    * fingerprint — passage-granular redundancy that document-level
    * dedup (q29) can't see: two distinct documents quoting the same
    * passage collide here chunk-for-chunk.
    *
    * Scale (100 TB): chunking is a per-row generator (sequence +
    * transform + slice inside codegen, no join, no shuffle); output is
    * ~n_tokens/stride rows per doc — data-proportional by contract,
    * exactly what the downstream embedder consumes. The only exchange
    * is the fingerprint-count aggregate for `n_dup_of`, which shuffles
    * a 16-byte key per chunk — the same cost class as exact dedup. */
  def passageChunks(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("bigint"))
    // chunk starts: 0, stride, 2·stride … < n_toks (always at least one)
    val chunks = d.select(col("doc_id"), col("n_toks"),
      posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(0, cast(ceil((n_toks - $ChunkSize) /
           |    cast($ChunkStride as double)) as bigint))),
           |  i -> array_join(slice(toks, int(i) * $ChunkStride + 1,
           |    $ChunkSize), ' '))""".stripMargin))
          .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("start_tok",
        col("chunk_idx").cast("bigint") * ChunkStride)
      .withColumn("chunk_toks",
        least(lit(ChunkSize).cast("bigint"),
          col("n_toks") - col("start_tok")))
      .withColumn("chunk_fp", md5(col("chunk_text")))
    val dups = chunks.groupBy("chunk_fp").agg(count(lit(1)).as("n_fp"))
    chunks.join(dups, "chunk_fp")
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        col("start_tok"), col("chunk_toks"), col("chunk_fp"),
        (col("n_fp") - 1L).as("n_dup_of"))
      .orderBy("doc_id", "chunk_idx")
  }

  def passageChunksOracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |starts AS (SELECT doc_id, n_toks,
       |    unnest(range(0, CAST(greatest(0, ceil((n_toks - $ChunkSize) /
       |      CAST($ChunkStride AS DOUBLE))) AS BIGINT) + 1)) AS chunk_idx
       |  FROM d),
       |ch AS (SELECT s.doc_id, s.chunk_idx,
       |    s.chunk_idx * $ChunkStride AS start_tok,
       |    least($ChunkSize, s.n_toks - s.chunk_idx * $ChunkStride)
       |      AS chunk_toks,
       |    md5(array_to_string(list_slice(d.toks,
       |      CAST(s.chunk_idx * $ChunkStride + 1 AS BIGINT),
       |      CAST(s.chunk_idx * $ChunkStride + $ChunkSize AS BIGINT)), ' '))
       |      AS chunk_fp
       |  FROM starts s JOIN d USING (doc_id)),
       |f AS (SELECT chunk_fp, count(*) AS n_fp FROM ch GROUP BY chunk_fp)
       |SELECT ch.doc_id, ch.chunk_idx, ch.start_tok, ch.chunk_toks,
       |  ch.chunk_fp, f.n_fp - 1 AS n_dup_of
       |FROM ch JOIN f USING (chunk_fp)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  def tokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val alpha =
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val toksD = wsTokenCount(col("text")).cast("double")
    val stops = stopwordHits(col("text"), LangStopwords.head._2).cast("double")
    val quality = (alpha / len) * 0.5 + (stops / toksD) * 0.3 +
      when(len >= 100 && len <= 500, 0.2).otherwise(0.0)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        wsTokenCount(col("text")).as("tokens"), quality.as("quality"))
      .withColumn("bucket", expr("CAST(floor(quality * 1000.0) AS BIGINT)"))
      .persist()
    val buckets = docs.groupBy("bucket").agg(sum(col("tokens")).as("bt"))
    val wDesc = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = buckets.withColumn("cum_before",
      coalesce(sum(col("bt")).over(wDesc), lit(0L)))
    val budget = docs.agg(sum(col("tokens")).as("total"))
      .select(expr(
        s"CAST(floor(CAST(total AS DOUBLE) * $BudgetFrac) AS BIGINT)").as("b"))
    val dj = docs.join(broadcast(cum), "bucket").crossJoin(broadcast(budget))
    val full = dj.filter(col("cum_before") + col("bt") <= col("b"))
    val wRun = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = dj
      .filter(col("cum_before") < col("b") &&
        col("cum_before") + col("bt") > col("b"))
      .withColumn("run", sum(col("tokens")).over(wRun))
      .filter(col("cum_before") + col("run") <= col("b"))
      .drop("run")
    val kept = full.unionByName(part)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("tokens_kept"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens_src"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tokens_src"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .withColumn("kept_frac", round(
        col("tokens_kept").cast("double") / col("tokens_src").cast("double"),
        6))
      .orderBy("source")
  }

  /** q128 oracle — identical two-phase selection (q27's quality text). */
  def tokenBudgetSelectOracle: String = {
    val stopRe = "\\b(" + LangStopwords.head._2 + ")\\b"
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS tokens,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE) * 0.5
       |    + CAST(len(regexp_extract_all(text, '$stopRe')) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) * 0.3
       |    + (CASE WHEN length(text) >= 100 AND length(text) <= 500
       |       THEN 0.2 ELSE 0.0 END) AS quality
       |  FROM documents),
       |db AS (SELECT *, CAST(floor(quality * 1000.0) AS BIGINT) AS bucket
       |  FROM d),
       |bk AS (SELECT bucket, CAST(sum(tokens) AS BIGINT) AS bt FROM db
       |  GROUP BY bucket),
       |cum AS (SELECT bucket, bt, CAST(coalesce(sum(bt) OVER (
       |    ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before FROM bk),
       |bg AS (SELECT CAST(floor(CAST(CAST(sum(tokens) AS BIGINT) AS DOUBLE)
       |    * $BudgetFrac) AS BIGINT) AS b FROM db),
       |dj AS (SELECT db.*, cum.bt, cum.cum_before, bg.b
       |  FROM db JOIN cum USING (bucket) CROSS JOIN bg),
       |fll AS (SELECT * FROM dj WHERE cum_before + bt <= b),
       |prt AS (SELECT * FROM (SELECT *, CAST(sum(tokens) OVER (
       |      PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS run
       |    FROM dj WHERE cum_before < b AND cum_before + bt > b)
       |  WHERE cum_before + run <= b),
       |kept AS (SELECT source, count(*) AS n_kept,
       |    CAST(sum(tokens) AS BIGINT) AS tokens_kept FROM (
       |    SELECT source, tokens FROM fll
       |    UNION ALL SELECT source, tokens FROM prt) GROUP BY source),
       |tot AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(tokens) AS BIGINT) AS tokens_src FROM db GROUP BY source)
       |SELECT tot.source, tot.n_docs, tot.tokens_src,
       |  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(kept.tokens_kept, 0) AS BIGINT) AS tokens_kept,
       |  round(CAST(coalesce(kept.tokens_kept, 0) AS DOUBLE)
       |    / CAST(tot.tokens_src AS DOUBLE), 6) AS kept_frac
       |FROM tot LEFT JOIN kept ON tot.source = kept.source
       |ORDER BY tot.source""".stripMargin
  }

  // --- q171: SFT conversation assembly + context-window truncation ------

  /** Context-window budget in characters (chars stand in for tokens, the
    * q101 convention — the algorithm is identical for any additive cost).
    * Threads over budget drop their OLDEST turns; the newest turn is
    * always kept even if it alone exceeds the budget (a trainer never
    * emits an empty conversation). */
  val SftBudget = 40L

  /** q171 — chat-training assembly: group the event stream into
    * conversation threads (one per user per day — the thread key a chat
    * product logs; idle-gap sessionization is q39's job), price each
    * turn at `len(event_type) + len(props)` characters, and truncate
    * each thread FROM THE FRONT to fit [[SftBudget]] — the standard
    * "keep the most recent turns that fit the context window" rule of
    * SFT data prep. Emits the per-thread assembly audit (turns kept /
    * dropped, cost kept / total, truncation flag) a pipeline reviews
    * before writing training conversations.
    *
    * Shape: one reverse cumulative-sum window per thread (ORDER BY ts
    * DESC) marks the kept suffix; `rev_rn = 1` pins the newest turn
    * unconditionally. All integer arithmetic — exact parity.
    *
    * Scale (100 TB): one hash exchange on (user_id, day); the window
    * and the final per-thread aggregate both ride that partitioning
    * (HashPartitioning(user_id, day) satisfies the aggregate's
    * clustered distribution), so the whole operator is a single
    * shuffle of the event stream, no global ordering anywhere. */
  def sftAssembly(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_id"),
        to_date(col("ts")).as("day"), col("ts"),
        (length(col("event_type")) + length(col("props")))
          .cast("bigint").as("cost"))
    val wRev = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val marked = ev
      .withColumn("rev_cum", sum(col("cost")).over(
        wRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rev_rn", row_number().over(wRev))
      .withColumn("kept", col("rev_cum") <= SftBudget || col("rev_rn") === 1)
    marked.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_turns"),
        sum(col("cost")).as("total_cost"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_turns"),
        sum(when(col("kept"), col("cost")).otherwise(0L)).as("kept_cost"))
      .withColumn("dropped_turns", col("n_turns") - col("kept_turns"))
      .withColumn("truncated", col("dropped_turns") > 0)
      .select(col("user_id"), col("day").cast("string").as("day"),
        col("n_turns"), col("total_cost"), col("kept_turns"),
        col("kept_cost"), col("dropped_turns"), col("truncated"))
      .orderBy("user_id", "day")
  }

  def sftAssemblyOracle: String =
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS DATE) AS day, ts,
       |    CAST(len(event_type) + len(props) AS BIGINT) AS cost
       |  FROM events),
       |m AS (SELECT *,
       |    CAST(sum(cost) OVER (PARTITION BY user_id, day
       |      ORDER BY ts DESC, event_id DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rev_cum,
       |    row_number() OVER (PARTITION BY user_id, day
       |      ORDER BY ts DESC, event_id DESC) AS rev_rn
       |  FROM e),
       |k AS (SELECT *, (rev_cum <= $SftBudget OR rev_rn = 1) AS kept FROM m)
       |SELECT user_id, CAST(day AS VARCHAR) AS day,
       |  count(*) AS n_turns,
       |  CAST(sum(cost) AS BIGINT) AS total_cost,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
       |  CAST(sum(CASE WHEN kept THEN cost ELSE 0 END) AS BIGINT)
       |    AS kept_cost,
       |  CAST(count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dropped_turns,
       |  (count(*) - sum(CASE WHEN kept THEN 1 ELSE 0 END)) > 0 AS truncated
       |FROM k GROUP BY user_id, day ORDER BY user_id, day""".stripMargin

  // --- q174: preference-pair construction (RLHF/DPO prep) ---------------

  /** q174 — preference-pair mining: within each (user_id, event_type)
    * response group, pair the highest-valued event (chosen) with the
    * lowest (rejected) and keep pairs with a strictly positive margin —
    * the construction step between raw feedback logs and a DPO/RLHF
    * trainer's (prompt, chosen, rejected) triples. Ties break on
    * event_id so the pair is deterministic; groups whose best equals
    * their worst (margin 0) are dropped as uninformative.
    *
    * Parity: chosen/rejected are row_number()=1 under exact double
    * ordering; the margin is one IEEE subtraction — bit-identical.
    *
    * Scale (100 TB): one hash exchange on the group key; both rank
    * windows and the candidate count ride the same partitioning
    * (the q171 single-shuffle argument). Output is |groups|-sized. */
  def prefPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"))
    val wUp = Window.partitionBy("user_id", "event_type")
      .orderBy(col("value").desc, col("event_id"))
    val wDn = Window.partitionBy("user_id", "event_type")
      .orderBy(col("value").asc, col("event_id"))
    ev
      .withColumn("rn_top", row_number().over(wUp))
      .withColumn("rn_bot", row_number().over(wDn))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_candidates"),
        max(when(col("rn_top") === 1, col("event_id")))
          .as("chosen_event_id"),
        max(when(col("rn_top") === 1, col("value"))).as("chosen_value"),
        max(when(col("rn_bot") === 1, col("event_id")))
          .as("rejected_event_id"),
        max(when(col("rn_bot") === 1, col("value"))).as("rejected_value"))
      .filter(col("chosen_value") > col("rejected_value"))
      .select(col("user_id"), col("event_type"), col("chosen_event_id"),
        col("rejected_event_id"),
        round(col("chosen_value") - col("rejected_value"), 6).as("margin"),
        col("n_candidates"))
      .orderBy("user_id", "event_type")
  }

  def prefPairsOracle: String =
    s"""WITH e AS (SELECT user_id, event_type, event_id, value
       |  FROM events),
       |r AS (SELECT *,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY value DESC, event_id) AS rn_top,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY value ASC, event_id) AS rn_bot
       |  FROM e),
       |g AS (SELECT user_id, event_type, count(*) AS n_candidates,
       |    max(CASE WHEN rn_top = 1 THEN event_id END) AS chosen_event_id,
       |    max(CASE WHEN rn_top = 1 THEN value END) AS chosen_value,
       |    max(CASE WHEN rn_bot = 1 THEN event_id END) AS rejected_event_id,
       |    max(CASE WHEN rn_bot = 1 THEN value END) AS rejected_value
       |  FROM r GROUP BY user_id, event_type)
       |SELECT user_id, event_type, chosen_event_id, rejected_event_id,
       |  round(chosen_value - rejected_value, 6) AS margin, n_candidates
       |FROM g WHERE chosen_value > rejected_value
       |ORDER BY user_id, event_type""".stripMargin

  // --- q185: shared-prefix cache savings ---------------------------------

  /** Prefix width (tokens) for the sharing audit; the planted header is
    * prepended to every 3rd document (the q162 boilerplate pattern —
    * system prompts, templates and nav headers are exactly this). */
  val PrefixToks = 8
  val PrefixHeader: String =
    "system instructions respond helpfully and cite sources when asked"

  /** q185 — shared-prefix savings audit: group documents by their
    * first-[[PrefixToks]]-token fingerprint and price what a
    * prefix-reusing consumer (KV-cache inference, packed training with
    * prefix dedup) saves: every group of n sharers re-uses one prefix
    * computation, saving (n−1)·[[PrefixToks]] tokens. The measurement
    * that decides whether prefix caching is worth deploying on a
    * corpus — template-heavy sources show double-digit savings,
    * organic text shows ~0.
    *
    * Parity: all integers except the final savings fraction (one
    * division).
    *
    * Scale (100 TB): one 16-byte-fingerprint groupBy (exact-dedup cost
    * class) + a per-source rollup. */
  def prefixSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 3 === 0,
        concat(lit(PrefixHeader + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val pre = docs.select(col("doc_id"), col("source"),
      wsTokenCount(col("text")).as("n_toks"),
      md5(concat_ws(" ",
        slice(split(col("text"), " "), 1, PrefixToks))).as("prefix_fp"))
    val groups = pre.groupBy("source", "prefix_fp")
      .agg(count(lit(1)).as("n"))
    groups.groupBy("source")
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_prefix_groups"),
        sum(when(col("n") > 1, col("n")).otherwise(0L))
          .as("n_shared_docs"),
        (sum(when(col("n") > 1, col("n") - 1).otherwise(0L)) *
          PrefixToks).as("saved_toks"))
      .join(pre.groupBy("source").agg(sum(col("n_toks")).as("total_toks")),
        "source")
      .select(col("source"), col("n_docs"), col("n_prefix_groups"),
        col("n_shared_docs"), col("saved_toks"), col("total_toks"),
        round(col("saved_toks").cast("double") /
          col("total_toks").cast("double"), 6).as("saved_frac"))
      .orderBy("source")
  }

  def prefixSavingsOracle: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 3 = 0 THEN '$PrefixHeader ' || text
       |      ELSE text END AS text
       |  FROM documents),
       |p AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    md5(array_to_string(list_slice(string_split(text, ' '), 1,
       |      $PrefixToks), ' ')) AS prefix_fp
       |  FROM d),
       |g AS (SELECT source, prefix_fp, count(*) AS n FROM p
       |  GROUP BY source, prefix_fp),
       |r AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |    count(*) AS n_prefix_groups,
       |    CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
       |      AS n_shared_docs,
       |    CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) * $PrefixToks
       |      AS BIGINT) AS saved_toks
       |  FROM g GROUP BY source),
       |t AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS total_toks
       |  FROM p GROUP BY source)
       |SELECT r.source, r.n_docs, r.n_prefix_groups, r.n_shared_docs,
       |  r.saved_toks, t.total_toks,
       |  round(CAST(r.saved_toks AS DOUBLE) / CAST(t.total_toks AS DOUBLE),
       |    6) AS saved_frac
       |FROM r JOIN t USING (source) ORDER BY r.source""".stripMargin

  // --- q173: padding-waste length bucketing -----------------------------

  /** Length buckets per language for inference/training batching. */
  val PadBuckets = 8

  /** q173 — padding-efficiency length bucketing: within each language,
    * split documents into [[PadBuckets]] equi-depth token-length buckets
    * and report the padding waste of batching each bucket to its max
    * length, next to the single-bucket baseline (pad everything to the
    * language max). The standard pre-batching audit: dynamic batching
    * by length bucket typically cuts padded-token waste several-fold,
    * and this measures exactly how much on the actual corpus.
    * Complements q115 (efficiency of a FIXED packing) and q101 (the
    * packer itself) — this op sizes the bucket layout before packing.
    *
    * Parity: waste = 1 − real/padded is one fixed-order double
    * expression on two BIGINTs — exact IEEE division and subtraction,
    * identical in both engines.
    *
    * Scale (100 TB): the q92 equi-depth discipline — rank windows
    * partition by LANGUAGE (never a global sort), then one
    * map-combinable aggregate per (lang, bucket). |langs| × buckets
    * output rows. A language whose doc count outgrows one partition's
    * window would move the rank to an approx-quantile bucket map
    * (documented, same output contract). */
  def lengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), wsTokenCount(col("text")).as("toks"))
    val w = Window.partitionBy("lang").orderBy(col("toks"), col("doc_id"))
    val wAll = Window.partitionBy("lang")
    val b = docs
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("bucket", expr(s"(rn - 1) * $PadBuckets div n"))
    val perB = b.groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), max(col("toks")).as("max_toks"),
        sum(col("toks")).as("real_toks"))
      .withColumn("padded_toks", col("max_toks") * col("n_docs"))
      .withColumn("waste_frac",
        round(lit(1.0) - col("real_toks") / col("padded_toks"), 6))
    val base = b.groupBy("lang")
      .agg(max(col("toks")).as("mx"), count(lit(1)).as("cnt"),
        sum(col("toks")).as("real1"))
      .select(col("lang"), round(lit(1.0) -
        col("real1") / (col("mx") * col("cnt")), 6).as("single_bucket_waste"))
    perB.join(base, "lang")
      .select(col("lang"), col("bucket"), col("n_docs"), col("max_toks"),
        col("real_toks"), col("padded_toks"), col("waste_frac"),
        col("single_bucket_waste"))
      .orderBy("lang", "bucket")
  }

  def lengthBucketsOracle: String =
    s"""WITH d AS (SELECT lang, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents),
       |b AS (SELECT *,
       |    (row_number() OVER (PARTITION BY lang ORDER BY toks, doc_id) - 1)
       |      * $PadBuckets // (count(*) OVER (PARTITION BY lang)) AS bucket
       |  FROM d),
       |perb AS (SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       |    count(*) AS n_docs, max(toks) AS max_toks,
       |    CAST(sum(toks) AS BIGINT) AS real_toks
       |  FROM b GROUP BY lang, bucket),
       |base AS (SELECT lang, round(1.0 - CAST(sum(toks) AS BIGINT) /
       |      CAST(max(toks) * count(*) AS DOUBLE), 6)
       |      AS single_bucket_waste
       |  FROM b GROUP BY lang)
       |SELECT p.lang, p.bucket, p.n_docs, p.max_toks, p.real_toks,
       |  p.max_toks * p.n_docs AS padded_toks,
       |  round(1.0 - p.real_toks / CAST(p.max_toks * p.n_docs AS DOUBLE), 6)
       |    AS waste_frac,
       |  base.single_bucket_waste
       |FROM perb p JOIN base USING (lang)
       |ORDER BY p.lang, p.bucket""".stripMargin

  // --- q188: Bradley-Terry ratings from implicit preferences -------------

  /** MM iterations for the Bradley-Terry fit (Hunter 2004, "MM
    * algorithms for generalized Bradley-Terry models"). */
  val BtIters = 5

  /** q188 — Bradley-Terry skill ratings from implicit pairwise
    * preferences: each user's per-type mean engagement induces, for
    * every pair of event types the user touched, a win for the type
    * with the higher mean; [[BtIters]] MM iterations fit the BT model
    * r_i ← W_i / Σ_{j≠i} n_ij / (r_i + r_j) over the aggregated win
    * matrix. The arena-style rating step between preference logs and a
    * reward model / model-ranking leaderboard (same estimator behind
    * chatbot-arena ELO tables).
    *
    * Parity: means are never materialized — i beats j iff
    * sv_i·c_j > sv_j·c_i in exact DECIMAL(38,0) cross-multiplication
    * (values frozen to ×100 integers). Each MM iteration freezes its
    * terms to ×1e12 fixed point (exact integer sums), its raw ratings
    * to ×1e9, and re-normalizes to Σr = |players| on the frozen grid,
    * so both engines walk the identical rational sequence.
    *
    * Scale (100 TB): the only corpus-sized work is the (user, type)
    * aggregate and the user-keyed self-join (|types|²-bounded per
    * user); everything after the win-matrix groupBy is |types|²-sized,
    * and each MM iteration is a broadcast join over that tiny frame —
    * the k-means/pagerank shape: big data collapses once, iteration
    * happens on metadata. */
  /** The distributed half of q188: (winner, loser) → comparison count.
    * One (user, type) aggregate, one user-keyed self-join (|types|²
    * rows per user), one |players|²-bounded groupBy — this is ALL the
    * corpus-sized work, exposed so the plan spec can pin its shape. */
  private[graft] def btWinMatrix(s: SparkSession, dir: String): DataFrame = {
    val ut = EtlOps.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sv"),
        count(lit(1)).as("c"))
    val a = ut.select(col("user_id"), col("event_type").as("ti"),
      col("sv").as("si"), col("c").as("ci"))
    val b = ut.select(col("user_id"), col("event_type").as("tj"),
      col("sv").as("sj"), col("c").as("cj"))
    val x = col("si").cast("decimal(38,0)") * col("cj").cast("decimal(38,0)")
    val y = col("sj").cast("decimal(38,0)") * col("ci").cast("decimal(38,0)")
    a.join(b, Seq("user_id")).filter(col("ti") < col("tj"))
      .withColumn("x", x).withColumn("y", y)
      .filter(col("x") =!= col("y"))
      .select(when(col("x") > col("y"), col("ti")).otherwise(col("tj"))
          .as("w"),
        when(col("x") > col("y"), col("tj")).otherwise(col("ti")).as("l"))
      .groupBy("w", "l").agg(count(lit(1)).as("n"))
  }

  def btRatings(s: SparkSession, dir: String): DataFrame = {
    // The corpus collapses in btWinMatrix: wl is the |players|²-bounded
    // win matrix (players = event types; models/policies in a real
    // arena — hundreds, not data-sized). Collecting it is the same
    // driver boundary as q79's centroid frame or the #partitions
    // scalars: the MM fit is O(iters·|players|²) metadata arithmetic,
    // and running it as 5 rounds of distributed 5-row joins measured
    // 32 s of pure scheduling overhead (and an un-cut logical plan
    // doubles per iteration — r appears on both join sides — which
    // took plan stringification past the driver heap before that).
    val wl = btWinMatrix(s, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nij = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    wl.foreach { case (w, l, n) =>
      nij((w, l)) += n; nij((l, w)) += n }
    val players = wl.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val winsOf = wl.groupBy(_._1).map { case (p, xs) =>
      p -> xs.map(_._3).sum }.withDefaultValue(0L)
    // MM iterations on the frozen grid — the identical IEEE/fixed-point
    // sequence the DuckDB oracle unrolls (terms ×1e12 exact-summed,
    // raw ratings ×1e9, renormalized to Σr = |players|)
    var rat = players.map(_ -> 1.0).toMap
    for (_ <- 1 to BtIters) {
      val fr = players.map { i =>
        val d = players.filter(j => j != i && nij((i, j)) > 0)
          .map(j => BigDecimal(math.floor(
            nij((i, j)).toDouble * 1e12 / (rat(i) + rat(j)))))
          .sum
        i -> math.floor(
          winsOf(i).toDouble * 1e12 / d.toDouble * 1e9).toLong
      }.toMap
      val ssum = fr.values.sum
      val np = players.size
      rat = players.map { i =>
        i -> math.floor(
          fr(i).toDouble * np.toDouble * 1e9 / ssum.toDouble) / 1e9
      }.toMap
    }
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = players.map { i =>
      val games = players.filter(_ != i).map(j => nij((i, j))).sum
      (i, games, winsOf(i), round6(winsOf(i).toDouble / games.toDouble),
        round6(rat(i)))
    }
    s.createDataFrame(out).toDF(
      "event_type", "games", "wins", "win_rate", "rating")
      .orderBy(col("rating").desc, col("event_type"))
  }

  def btRatingsOracle: String = {
    val iters = (1 to BtIters).map { k =>
      val prev = s"r${k - 1}"
      s"""term$k AS MATERIALIZED (SELECT p.i,
         |    CAST(floor(CAST(p.nij AS DOUBLE) * 1000000000000.0
         |      / (ri.r + rj.r)) AS DECIMAL(38,0)) AS tm
         |  FROM pairs p JOIN $prev ri ON p.i = ri.i
         |    JOIN $prev rj ON p.j = rj.i),
         |denom$k AS MATERIALIZED (SELECT i, sum(tm) AS d
         |  FROM term$k GROUP BY i),
         |raw$k AS MATERIALIZED (SELECT w.i,
         |    CAST(floor(CAST(w.wi AS DOUBLE) * 1000000000000.0
         |      / CAST(d.d AS DOUBLE) * 1000000000.0) AS BIGINT) AS fr
         |  FROM wins w JOIN denom$k d USING (i)),
         |norm$k AS MATERIALIZED (SELECT CAST(sum(fr) AS BIGINT) AS ssum,
         |    count(*) AS np FROM raw$k),
         |r$k AS MATERIALIZED (SELECT i,
         |    CAST(floor(CAST(fr AS DOUBLE) * CAST(np AS DOUBLE)
         |      * 1000000000.0 / CAST(ssum AS DOUBLE)) AS DOUBLE)
         |      / 1000000000.0 AS r
         |  FROM raw$k CROSS JOIN norm$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ut AS (SELECT user_id, event_type,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv,
       |    count(*) AS c
       |  FROM events GROUP BY user_id, event_type),
       |comps AS (SELECT
       |    CASE WHEN CAST(a.sv AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))
       |        > CAST(b.sv AS DECIMAL(38,0)) * CAST(a.c AS DECIMAL(38,0))
       |      THEN a.event_type ELSE b.event_type END AS w,
       |    CASE WHEN CAST(a.sv AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))
       |        > CAST(b.sv AS DECIMAL(38,0)) * CAST(a.c AS DECIMAL(38,0))
       |      THEN b.event_type ELSE a.event_type END AS l
       |  FROM ut a JOIN ut b ON a.user_id = b.user_id
       |    AND a.event_type < b.event_type
       |  WHERE CAST(a.sv AS DECIMAL(38,0)) * CAST(b.c AS DECIMAL(38,0))
       |    <> CAST(b.sv AS DECIMAL(38,0)) * CAST(a.c AS DECIMAL(38,0))),
       |wl AS MATERIALIZED (SELECT w, l, count(*) AS n
       |  FROM comps GROUP BY w, l),
       |pairs AS MATERIALIZED (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij
       |  FROM (
       |    SELECT w AS i, l AS j, n FROM wl
       |    UNION ALL SELECT l AS i, w AS j, n FROM wl)
       |  GROUP BY i, j),
       |players AS (SELECT DISTINCT i FROM pairs),
       |wins AS MATERIALIZED (SELECT pl.i,
       |    CAST(coalesce(s.wi, 0) AS BIGINT) AS wi
       |  FROM players pl LEFT JOIN
       |    (SELECT w AS i, sum(n) AS wi FROM wl GROUP BY w) s USING (i)),
       |r0 AS (SELECT i, 1.0::DOUBLE AS r FROM players),
       |$iters,
       |games AS (SELECT i, CAST(sum(nij) AS BIGINT) AS games
       |  FROM pairs GROUP BY i)
       |SELECT r.i AS event_type, g.games, w.wi AS wins,
       |  round(CAST(w.wi AS DOUBLE) / CAST(g.games AS DOUBLE), 6)
       |    AS win_rate,
       |  round(r.r, 6) AS rating
       |FROM r$BtIters r JOIN wins w USING (i) JOIN games g USING (i)
       |ORDER BY rating DESC, event_type""".stripMargin
  }

  // --- q204: fill-in-the-middle transform audit --------------------------

  /** q204 — FIM (fill-in-the-middle) transformation audit: every
    * document is split at deterministic thirds into prefix / middle /
    * suffix and re-emitted in PSM order
    * (`<PRE> prefix <SUF> suffix <MID> middle`) — the data transform
    * behind infilling-capable code models (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle").
    * The audit the pipeline needs before shipping the rewritten corpus:
    * per source, (a) token conservation — reassembling
    * prefix∥middle∥suffix must reproduce the original token stream
    * md5-exactly for EVERY document (an off-by-one in the split is
    * silent corpus corruption otherwise), (b) the token overhead is
    * exactly the 3 sentinels per doc, and (c) a content fingerprint
    * over the PSM strings themselves, ordered by doc_id, so the oracle
    * pins the emitted bytes, not just the counts.
    *
    * Parity: split points are integer `div` on the token count; all
    * counts integer; the only double is the mean middle fraction,
    * whose per-doc terms are frozen to ×1e9 fixed point (integer
    * division) before an order-free integer sum — the q142/q168
    * discipline.
    *
    * Scale (100 TB): pure per-row projection work (split + two slices +
    * two md5s) with ONE hash exchange for the per-source rollup; the
    * per-source PSM fingerprint is the only collect_list and is bounded
    * by the doc-md5 width, not document text. At a real 100 TB run the
    * rewritten corpus would stream to the sink from the same
    * projection; the audit rides the write. */
  def fimTransform(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("bigint"))
      .withColumn("p", expr("n div 3"))
      .withColumn("m", expr("(2 * n) div 3"))
      .withColumn("pre_s", expr("array_join(slice(toks, 1, int(p)), ' ')"))
      .withColumn("mid_s",
        expr("array_join(slice(toks, int(p) + 1, int(m - p)), ' ')"))
      .withColumn("suf_s",
        expr("array_join(slice(toks, int(m) + 1, int(n - m)), ' ')"))
      // reassemble at the ARRAY level: string-level concat_ws would
      // inject a phantom separator next to an empty segment (docs under
      // 3 tokens) and flag a correct split as unconserved
      .withColumn("conserved",
        md5(expr("array_join(concat(slice(toks, 1, int(p)), " +
          "slice(toks, int(p) + 1, int(m - p)), " +
          "slice(toks, int(m) + 1, int(n - m))), ' ')")) ===
          md5(expr("array_join(toks, ' ')")))
      .withColumn("psm_md5", md5(concat_ws(" ", lit("<PRE>"), col("pre_s"),
        lit("<SUF>"), col("suf_s"), lit("<MID>"), col("mid_s"))))
      // per-doc middle fraction frozen to fixed point BEFORE the sum
      .withColumn("mid_fp", expr("(1000000000 * (m - p)) div n"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("toks_total"),
        (sum(col("n")) + lit(3L) * count(lit(1))).as("fim_toks_total"),
        sum(when(col("conserved"), 1L).otherwise(0L)).as("n_conserved"),
        round(sum(col("mid_fp")).cast("double") /
          (count(lit(1)).cast("double") * 1e9), 6).as("mean_middle_frac"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(doc_id, psm_md5))), " +
            "x -> x.psm_md5)"))).as("psm_fp"))
      .withColumn("all_conserved", col("n_conserved") === col("n_docs"))
      .orderBy("source")
  }

  def fimTransformOracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |  FROM documents),
      |sp AS (SELECT doc_id, source, toks,
      |    CAST(len(toks) AS BIGINT) AS n,
      |    CAST(len(toks) AS BIGINT) // 3 AS p,
      |    (2 * CAST(len(toks) AS BIGINT)) // 3 AS m
      |  FROM d),
      |seg AS (SELECT doc_id, source, n, p, m, toks,
      |    array_to_string(toks[1:CAST(p AS INT)], ' ') AS pre_s,
      |    array_to_string(toks[CAST(p AS INT) + 1:CAST(m AS INT)], ' ')
      |      AS mid_s,
      |    array_to_string(toks[CAST(m AS INT) + 1:CAST(n AS INT)], ' ')
      |      AS suf_s,
      |    array_to_string(toks, ' ') AS orig_s
      |  FROM sp),
      |per AS (SELECT doc_id, source, n, p, m,
      |    md5(array_to_string(
      |      toks[1:CAST(p AS INT)] ||
      |      toks[CAST(p AS INT) + 1:CAST(m AS INT)] ||
      |      toks[CAST(m AS INT) + 1:CAST(n AS INT)], ' ')) = md5(orig_s)
      |      AS conserved,
      |    md5(concat_ws(' ', '<PRE>', pre_s, '<SUF>', suf_s, '<MID>',
      |      mid_s)) AS psm_md5,
      |    (1000000000 * (m - p)) // n AS mid_fp
      |  FROM seg)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS toks_total,
      |  CAST(sum(n) + 3 * count(*) AS BIGINT) AS fim_toks_total,
      |  CAST(sum(CASE WHEN conserved THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_conserved,
      |  round(CAST(sum(mid_fp) AS DOUBLE) /
      |    (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mean_middle_frac,
      |  md5(string_agg(psm_md5, ' ' ORDER BY doc_id)) AS psm_fp,
      |  sum(CASE WHEN conserved THEN 1 ELSE 0 END) = count(*)
      |    AS all_conserved
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  // --- q216: shard mixture-conformance audit -------------------------------

  /** Output shards audited, and the χ² slack factor: a shard conforms
    * when its χ² statistic is within [[ShardChi2Slack]]× its degrees
    * of freedom (E[χ²] = df under uniform hashing). */
  val ConformShards = 16
  val ShardChi2Slack = 3L

  /** q216 — shard mixture-conformance audit: a training-data writer
    * hash-shards the corpus ([[ConformShards]] shards on the document
    * fingerprint, q105's layout), and every shard is SUPPOSED to be an
    * unbiased sample of the global source mixture — a loader that reads
    * shards sequentially otherwise trains on a drifting mixture. Per
    * shard: the χ² statistic of its observed source composition against
    * the global proportions, and a conformance flag at
    * [[ShardChi2Slack]]·df. A failing shard means the shard key leaks
    * content (e.g. sharded by file → by crawl domain → by language) —
    * THE audit to run before declaring a shard plan loader-safe.
    *
    * Parity: the dense (shard × source) grid completes missing cells
    * with 0 (q152's dense-completion rule); expected counts and each
    * cell's χ² term are IEEE doubles with identical op order, each term
    * frozen to ×1e6 fixed point before the order-free integer sum (the
    * q142/q168 discipline); the flag compares integers.
    *
    * Scale (100 TB): one corpus scan → |shards|·|sources| cells;
    * everything downstream is grid arithmetic. The audit is O(scan)
    * regardless of shard count. */
  def shardConformance(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("source"),
      (call_function("md5_fp60",
        concat(lit("shard:"), col("doc_id").cast("string")))
        % ConformShards).as("shard"))
    // ONE corpus scan: every total is an exact rollup of the observed
    // |shards|·|sources| cell frame, so the totals cost cell arithmetic,
    // not rescans
    val obs = d.groupBy("shard", "source").agg(count(lit(1)).as("obs"))
      .persist()
    val srcTot = obs.groupBy("source").agg(sum(col("obs")).as("st"))
    val shardTot = obs.groupBy("shard").agg(sum(col("obs")).as("ht"))
    val tot = obs.agg(sum(col("obs")).as("n"))
    val nSrc = srcTot.agg(count(lit(1)).as("k"))
    // dense grid: every (shard, source) cell exists, obs defaults to 0
    val grid = shardTot.crossJoin(broadcast(srcTot))
      .join(obs, Seq("shard", "source"), "left")
      .withColumn("o", coalesce(col("obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("exp",
        (col("ht") * col("st")).cast("double") / col("n").cast("double"))
      .withColumn("term_fp", floor(
        (col("o").cast("double") - col("exp")) *
          (col("o").cast("double") - col("exp")) / col("exp") * 1e6)
        .cast("bigint"))
    grid.groupBy("shard")
      .agg(max(col("ht")).as("n_docs"), sum(col("term_fp")).as("chi2_fp"))
      .crossJoin(broadcast(nSrc))
      .select(col("shard"), col("n_docs"),
        round(col("chi2_fp").cast("double") / 1e6, 6).as("chi2"),
        (col("k") - 1).as("df"),
        (col("chi2_fp") <= lit(ShardChi2Slack) * (col("k") - 1) * 1000000L)
          .as("conforming"))
      .orderBy("shard")
  }

  def shardConformanceOracle: String =
    s"""WITH d AS (SELECT source,
       |    CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) % $ConformShards AS shard
       |  FROM documents),
       |obs AS (SELECT shard, source, count(*) AS obs FROM d
       |  GROUP BY shard, source),
       |st AS (SELECT source, CAST(count(*) AS BIGINT) AS st FROM d
       |  GROUP BY source),
       |ht AS (SELECT shard, CAST(count(*) AS BIGINT) AS ht FROM d
       |  GROUP BY shard),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       |k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM st),
       |grid AS (SELECT ht.shard, st.source, ht.ht, st.st,
       |    coalesce(obs.obs, 0) AS o
       |  FROM ht CROSS JOIN st
       |  LEFT JOIN obs ON obs.shard = ht.shard AND obs.source = st.source),
       |cell AS (SELECT shard, ht,
       |    CAST(floor((CAST(o AS DOUBLE) -
       |        CAST(ht * st AS DOUBLE) / CAST(t.n AS DOUBLE)) *
       |      (CAST(o AS DOUBLE) -
       |        CAST(ht * st AS DOUBLE) / CAST(t.n AS DOUBLE)) /
       |      (CAST(ht * st AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS term_fp
       |  FROM grid, t)
       |SELECT shard, max(ht) AS n_docs,
       |  round(CAST(CAST(sum(term_fp) AS BIGINT) AS DOUBLE) / 1e6, 6)
       |    AS chi2,
       |  (SELECT k - 1 FROM k) AS df,
       |  CAST(sum(term_fp) AS BIGINT) <=
       |    $ShardChi2Slack * (SELECT k - 1 FROM k) * 1000000 AS conforming
       |FROM cell GROUP BY shard ORDER BY shard""".stripMargin

  // --- q234: importance-weighted (post-stratified) evaluation --------------

  /** Length-band cell width (chars) and the PLANTED biased val-split
    * inclusion rates per 100: short docs are 4.5× over-sampled — the
    * covariate shift the reweighting must undo. */
  val IwBandChars = 100L
  val IwShortRate = 18L
  val IwLongRate = 4L

  /** q234 — importance-weighted evaluation under covariate shift: when
    * the eval split's composition drifts from the corpus (here a
    * PLANTED bias — short documents over-sampled 18% vs 4%), raw eval
    * means are biased; post-stratification reweights each length-band
    * cell by its corpus share (w = N_cell/n_cell, the
    * Horvitz–Thompson / poststratified estimator) and recovers the
    * corpus-level truth. Two metrics ride the same cells: the
    * length-CORRELATED token count (raw badly biased → correction
    * wins decisively) and the quality-gate pass rate (mildly
    * correlated). Reported per metric: corpus truth, raw val mean,
    * reweighted mean, both absolute gaps, the Kish ESS of the weights
    * (the variance price of the correction), covered corpus mass, and
    * the verdict bit `correction_wins`.
    *
    * Parity: every sum is an integer; per-cell poststratification and
    * ESS terms freeze to ×1e9/×1e6 fixed point before order-free
    * integer sums (q142 discipline); final means are single shared
    * double divisions.
    *
    * Scale (100 TB): ONE corpus scan collapses map-side to
    * |bands| cells carrying both metrics' sums; everything after is
    * cell arithmetic. This is the shape of production eval-set
    * reweighting: the corpus marginals come from the stats catalog,
    * not a rescan. */
  def iwEval(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
        (col("n_chars") / IwBandChars).cast("bigint").as("band"))
      .withColumn("toks",
        TextOps.wsTokenCount(col("text")).cast("bigint"))
      .withColumn("qpass",
        when(TextOps.qualityOf(col("text")) >= 0.5, 1L).otherwise(0L))
      .withColumn("is_val",
        call_function("md5_fp60",
          concat(lit("val:"), col("doc_id").cast("string"))) % 100 <
          when(col("band") <= 2, IwShortRate).otherwise(IwLongRate))
    val cells = d.groupBy("band").agg(
      count(lit(1)).as("n_corpus"),
      sum(col("toks")).as("ct"), sum(col("qpass")).as("cq"),
      sum(when(col("is_val"), 1L).otherwise(0L)).as("n_val"),
      sum(when(col("is_val"), col("toks")).otherwise(0L)).as("vt"),
      sum(when(col("is_val"), col("qpass")).otherwise(0L)).as("vq"))
      .persist()
    val metricRows = cells.selectExpr("'ws_tokens' AS metric", "band",
        "n_corpus", "ct AS s_corpus", "n_val", "vt AS s_val")
      .unionAll(cells.selectExpr("'quality_pass'", "band", "n_corpus",
        "cq", "n_val", "vq"))
    metricRows.groupBy("metric").agg(
      sum(col("n_corpus")).as("n"), sum(col("s_corpus")).as("s"),
      sum(col("n_val")).as("nv"), sum(col("s_val")).as("sv"),
      sum(when(col("n_val") > 0, col("n_corpus")).otherwise(0L))
        .as("ncov"),
      sum(when(col("n_val") > 0, floor(
        (col("n_corpus") * col("s_val")).cast("double") /
          col("n_val").cast("double") * 1e9).cast("bigint"))
        .otherwise(0L)).as("wsum"),
      sum(when(col("n_val") > 0, floor(
        (col("n_corpus") * col("n_corpus")).cast("double") /
          col("n_val").cast("double") * 1e6).cast("bigint"))
        .otherwise(0L)).as("esssum"))
      .selectExpr("metric", "n", "nv",
        "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS corpus_mean",
        "round(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE), 6) AS raw_mean",
        "round(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE)), 6)" +
          " AS weighted_mean",
        "round(abs(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE) - " +
          "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS raw_gap",
        "round(abs(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE))" +
          " - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS " +
          "weighted_gap",
        "round(CAST(ncov AS DOUBLE) / CAST(n AS DOUBLE), 6) " +
          "AS coverage",
        "round(CAST(ncov AS DOUBLE) * CAST(ncov AS DOUBLE) / " +
          "(CAST(esssum AS DOUBLE) / 1e6), 6) AS ess",
        "abs(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE)) - " +
          "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) < " +
          "abs(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE) - " +
          "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS correction_wins")
      .orderBy("metric")
  }

  def iwEvalOracle: String = {
    val quality = CurationOps.QualitySql
    s"""WITH d AS (SELECT doc_id,
       |    n_chars // $IwBandChars AS band,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks,
       |    CASE WHEN ($quality) >= 0.5 THEN 1 ELSE 0 END AS qpass,
       |    CAST('0x' || substr(md5('val:' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) % 100 <
       |      CASE WHEN n_chars // $IwBandChars <= 2 THEN $IwShortRate
       |        ELSE $IwLongRate END AS is_val
       |  FROM documents),
       |cells AS (SELECT band, CAST(count(*) AS BIGINT) AS n_corpus,
       |    CAST(sum(toks) AS BIGINT) AS ct,
       |    CAST(sum(qpass) AS BIGINT) AS cq,
       |    CAST(sum(CASE WHEN is_val THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_val,
       |    CAST(sum(CASE WHEN is_val THEN toks ELSE 0 END) AS BIGINT)
       |      AS vt,
       |    CAST(sum(CASE WHEN is_val THEN qpass ELSE 0 END) AS BIGINT)
       |      AS vq
       |  FROM d GROUP BY band),
       |mr AS (SELECT 'ws_tokens' AS metric, band, n_corpus,
       |    ct AS s_corpus, n_val, vt AS s_val FROM cells
       |  UNION ALL SELECT 'quality_pass', band, n_corpus, cq, n_val, vq
       |  FROM cells),
       |agg AS (SELECT metric,
       |    CAST(sum(n_corpus) AS BIGINT) AS n,
       |    CAST(sum(s_corpus) AS BIGINT) AS s,
       |    CAST(sum(n_val) AS BIGINT) AS nv,
       |    CAST(sum(s_val) AS BIGINT) AS sv,
       |    CAST(sum(CASE WHEN n_val > 0 THEN n_corpus ELSE 0 END)
       |      AS BIGINT) AS ncov,
       |    CAST(sum(CASE WHEN n_val > 0 THEN CAST(floor(
       |      CAST(n_corpus * s_val AS DOUBLE) / CAST(n_val AS DOUBLE)
       |      * 1e9) AS BIGINT) ELSE 0 END) AS BIGINT) AS wsum,
       |    CAST(sum(CASE WHEN n_val > 0 THEN CAST(floor(
       |      CAST(n_corpus * n_corpus AS DOUBLE) / CAST(n_val AS DOUBLE)
       |      * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT) AS esssum
       |  FROM mr GROUP BY metric)
       |SELECT metric, n, nv,
       |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS corpus_mean,
       |  round(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE), 6) AS raw_mean,
       |  round(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE)), 6)
       |    AS weighted_mean,
       |  round(abs(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE) -
       |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS raw_gap,
       |  round(abs(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE))
       |    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS weighted_gap,
       |  round(CAST(ncov AS DOUBLE) / CAST(n AS DOUBLE), 6) AS coverage,
       |  round(CAST(ncov AS DOUBLE) * CAST(ncov AS DOUBLE) /
       |    (CAST(esssum AS DOUBLE) / 1e6), 6) AS ess,
       |  abs(CAST(wsum AS DOUBLE) / (1e9 * CAST(ncov AS DOUBLE)) -
       |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) <
       |    abs(CAST(sv AS DOUBLE) / CAST(nv AS DOUBLE) -
       |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS correction_wins
       |FROM agg ORDER BY metric""".stripMargin
  }

  // --- q283: packing cross-attention contamination audit -------------------

  /** q283 — cross-attention contamination of the q101 greedy bins: in a
    * packed training sequence WITHOUT document-boundary masking, every
    * token attends to every earlier token in the bin — including tokens
    * of OTHER documents. Per bin this audit counts total ordered-pair
    * slots T·(T−1)/2, the same-document pairs Σnᵢ(nᵢ−1)/2, and the
    * difference = cross-document pairs a naive causal mask would leak;
    * the leak share is the number that decides whether the run needs
    * per-document attention masks (the llm.c/HF `attention_mask`
    * decision) or can train on raw concatenation.
    *
    * Each document's length is recovered from the packing itself
    * (fill − lag(fill) within the bin — the running fill resets to
    * n_chars at each bin start), so the audit needs NO join back to the
    * corpus. All counts are exact BIGINTs (T ≤ budget, so T² fits);
    * the leak share is one final division.
    *
    * Scale (100 TB): inherits q101's single (source) exchange; the
    * audit adds one in-partition window and a (source, bin) collapse —
    * no new shuffle of corpus-sized data. */
  def packAttentionAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = packDocs(t(s, dir, "documents"))
    val w = Window.partitionBy("source", "bin").orderBy("doc_id")
    packed
      .withColumn("len",
        col("fill") - coalesce(lag(col("fill"), 1).over(w), lit(0L)))
      .groupBy("source", "bin")
      .agg(count(lit(1L)).as("n_docs"), sum(col("len")).as("seq_len"),
        sum(expr("len * (len - 1)")).as("same2"))
      .selectExpr("source", "bin", "n_docs", "seq_len",
        "(seq_len * (seq_len - 1)) div 2 AS total_pairs",
        "same2 div 2 AS same_doc_pairs",
        "(seq_len * (seq_len - 1) - same2) div 2 AS cross_doc_pairs",
        "CASE WHEN seq_len > 1 THEN round(" +
          "CAST(seq_len * (seq_len - 1) - same2 AS DOUBLE) / " +
          "(CAST(seq_len AS DOUBLE) * (seq_len - 1)), 6) " +
          "ELSE 0.0 END AS leak_share")
      .orderBy("source", "bin")
  }

  def packAttentionAuditOracle: String =
    s"""WITH RECURSIVE ord AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS rn
       |  FROM documents),
       |packed AS (
       |  SELECT source, doc_id, n_chars, rn,
       |    CAST(0 AS BIGINT) AS bin, n_chars AS fill
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.source, o.doc_id, o.n_chars, o.rn,
       |    CASE WHEN p.fill + o.n_chars <= $PackBudget THEN p.bin
       |      ELSE p.bin + 1 END,
       |    CASE WHEN p.fill + o.n_chars <= $PackBudget
       |      THEN p.fill + o.n_chars ELSE o.n_chars END
       |  FROM packed p JOIN ord o ON o.source = p.source
       |    AND o.rn = p.rn + 1),
       |b AS (SELECT source, bin, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS seq_len,
       |    CAST(sum(n_chars * (n_chars - 1)) AS BIGINT) AS same2
       |  FROM packed GROUP BY source, bin)
       |SELECT source, bin, n_docs, seq_len,
       |  (seq_len * (seq_len - 1)) // 2 AS total_pairs,
       |  same2 // 2 AS same_doc_pairs,
       |  (seq_len * (seq_len - 1) - same2) // 2 AS cross_doc_pairs,
       |  CASE WHEN seq_len > 1 THEN round(
       |    CAST(seq_len * (seq_len - 1) - same2 AS DOUBLE) /
       |    (CAST(seq_len AS DOUBLE) * (seq_len - 1)), 6)
       |    ELSE 0.0 END AS leak_share
       |FROM b ORDER BY source, bin""".stripMargin

  // --- q291: preference-pair length-bias audit ------------------------------

  /** Length-delta bucket width (chars) and the bias verdict threshold
    * on the overall longer-wins rate. */
  val PlbBucket = 25
  val PlbBiasTau = 0.6

  /** q291 — preference-pair length-bias audit: before training a reward
    * model on preference pairs, measure how often the LONGER response
    * wins — the best-documented reward-hacking channel (RLHF models
    * inflate length because raters and heuristic scorers do). Documents
    * pair off within source (consecutive by doc_id); the winner is the
    * lexically richer one (distinct-token count — deliberately a
    * length-correlated judge, standing in for the correlated raters the
    * audit exists to expose). Output: the signed length-delta
    * histogram with the overall longer-wins rate and the bias verdict —
    * a debiasing step (length-matched pairs, per-length normalization)
    * is warranted when the rate clears [[PlbBiasTau]].
    *
    * Exactness: scores, lengths, deltas and bucket indices are
    * integers; the rate is one division; floor on the signed
    * delta/width quotient buckets negatives identically on both
    * engines.
    *
    * Scale (100 TB): one (source) window pairs rows; the histogram is
    * a bucket-keyed collapse with map-side combine. */
  def prefLengthBias(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = t(s, dir, "documents").selectExpr("doc_id", "source",
      "n_chars",
      "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS sc")
    val w = Window.partitionBy("source").orderBy("doc_id")
    val pairs = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("pair", expr("(rn - 1) div 2"))
      .groupBy("source", "pair").agg(
        count(lit(1L)).as("cnt"),
        max(when(col("rn") % 2 === 1, col("sc"))).as("s1"),
        max(when(col("rn") % 2 === 1, col("n_chars"))).as("l1"),
        max(when(col("rn") % 2 === 1, col("doc_id"))).as("i1"),
        max(when(col("rn") % 2 === 0, col("sc"))).as("s2"),
        max(when(col("rn") % 2 === 0, col("n_chars"))).as("l2"),
        max(when(col("rn") % 2 === 0, col("doc_id"))).as("i2"))
      .filter(col("cnt") === 2)
      .selectExpr(
        "CASE WHEN s1 > s2 OR (s1 = s2 AND i1 < i2) THEN l1 ELSE l2 " +
          "END AS len_c",
        "CASE WHEN s1 > s2 OR (s1 = s2 AND i1 < i2) THEN l2 ELSE l1 " +
          "END AS len_r")
      .selectExpr("len_c - len_r AS delta")
    pairs
      .selectExpr("delta",
        s"CAST(floor(CAST(delta AS DOUBLE) / $PlbBucket) AS BIGINT) " +
          "AS bucket")
      .groupBy("bucket").agg(count(lit(1L)).as("n_pairs"),
        sum(when(col("delta") > 0, 1L).otherwise(0L)).as("longer_wins"))
      .withColumn("tot", sum(col("n_pairs")).over(
        Window.partitionBy(lit(1))))
      .withColumn("wins", sum(col("longer_wins")).over(
        Window.partitionBy(lit(1))))
      .selectExpr("bucket", "n_pairs",
        "round(CAST(n_pairs AS DOUBLE) / tot, 4) AS share",
        "round(CAST(wins AS DOUBLE) / tot, 4) AS longer_wins_rate",
        s"CAST(wins AS DOUBLE) / tot > $PlbBiasTau AS length_biased")
      .orderBy("bucket")
  }

  def prefLengthBiasOracle: String =
    s"""WITH sc AS (SELECT doc_id, source, n_chars,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
       |      AS sc
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY doc_id) AS rn FROM sc),
       |p AS (SELECT source, (rn - 1) // 2 AS pair, count(*) AS cnt,
       |    max(CASE WHEN rn % 2 = 1 THEN sc END) AS s1,
       |    max(CASE WHEN rn % 2 = 1 THEN n_chars END) AS l1,
       |    max(CASE WHEN rn % 2 = 1 THEN doc_id END) AS i1,
       |    max(CASE WHEN rn % 2 = 0 THEN sc END) AS s2,
       |    max(CASE WHEN rn % 2 = 0 THEN n_chars END) AS l2,
       |    max(CASE WHEN rn % 2 = 0 THEN doc_id END) AS i2
       |  FROM r GROUP BY source, (rn - 1) // 2),
       |d AS (SELECT
       |    CASE WHEN s1 > s2 OR (s1 = s2 AND i1 < i2) THEN l1 ELSE l2
       |      END -
       |    CASE WHEN s1 > s2 OR (s1 = s2 AND i1 < i2) THEN l2 ELSE l1
       |      END AS delta
       |  FROM p WHERE cnt = 2),
       |b AS (SELECT
       |    CAST(floor(CAST(delta AS DOUBLE) / $PlbBucket) AS BIGINT)
       |      AS bucket,
       |    count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS longer_wins
       |  FROM d GROUP BY 1),
       |t AS (SELECT *, CAST(sum(n_pairs) OVER () AS BIGINT) AS tot,
       |    CAST(sum(longer_wins) OVER () AS BIGINT) AS wins
       |  FROM b)
       |SELECT bucket, n_pairs,
       |  round(CAST(n_pairs AS DOUBLE) / tot, 4) AS share,
       |  round(CAST(wins AS DOUBLE) / tot, 4) AS longer_wins_rate,
       |  CAST(wins AS DOUBLE) / tot > $PlbBiasTau AS length_biased
       |FROM t ORDER BY bucket""".stripMargin

  // --- q301: RAG chunk-configuration coverage curve --------------------------

  /** Candidate (chunk_size, stride) configs, the probe-span length,
    * and the span sampling cadence (a probe span starts every
    * [[ChunkSpanStep]] chars). */
  val ChunkConfigs: Seq[(Int, Int)] =
    Seq((128, 128), (128, 96), (256, 256), (256, 192), (512, 384))
  val ChunkSpanLen = 64
  val ChunkSpanStep = 16

  /** q301 — RAG chunk-configuration coverage curve: q153 materializes
    * ONE chunking; this prices the CONFIG GRID — for each (chunk_size,
    * stride) candidate, the probability that an answer span of
    * [[ChunkSpanLen]] chars is fully contained in at least one chunk,
    * against the storage redundancy (size/stride) and index row count
    * the config costs. Containment is pure offset arithmetic (a span
    * [s, s+L) fits some chunk k·stride + [0, size) iff
    * s mod stride ≤ size − L OR the span sits in the doc's final
    * partial chunk), so the audit never touches text — probe spans
    * start every [[ChunkSpanStep]] chars and the whole curve is one
    * explode + one (config) collapse. The tuning table every RAG
    * deployment computes before choosing overlap.
    *
    * Exactness: all counts are integers; rates are single divisions.
    *
    * Scale (100 TB): spans are n_chars/[[ChunkSpanStep]] rows per doc
    * (a bounded explode of the LENGTH column, not the text); configs
    * are compile-time literals crossed in the same projection. */
  def chunkConfigCurve(s: SparkSession, dir: String): DataFrame = {
    val cfgRows = ChunkConfigs.map { case (sz, st) =>
      s"struct($sz AS size, $st AS stride)" }.mkString(", ")
    val d = t(s, dir, "documents")
      .selectExpr("doc_id", "n_chars",
        s"explode(array($cfgRows)) AS cfg")
      .selectExpr("doc_id", "n_chars", "cfg.size AS sz",
        "cfg.stride AS st")
      .filter(col("n_chars") >= ChunkSpanLen)
    val spans = d.selectExpr("doc_id", "n_chars", "sz", "st",
      s"explode(sequence(CAST(0 AS BIGINT), n_chars - $ChunkSpanLen, " +
        s"$ChunkSpanStep)) AS sp")
    val covered = spans.selectExpr("sz", "st",
      // span [sp, sp+L) is covered iff it fits under some full chunk
      // start (sp mod stride <= size - L) AND that chunk does not run
      // past the doc end for the span... a chunk starting at
      // k*stride covers [k*stride, min(k*stride+size, n_chars));
      // taking k = sp div stride (the latest start <= sp), coverage
      // needs sp + L <= k*stride + size (chunk tail may be cut by the
      // doc end but the span itself ends <= n_chars by construction)
      s"CAST(sp % st <= sz - $ChunkSpanLen AS INT) AS cov")
    val nChunks = d.selectExpr("sz", "st",
      // chunks per doc: ceil(max(n_chars - size, 0) / stride) + 1
      "CASE WHEN n_chars <= sz THEN 1 ELSE " +
        "CAST(ceil(CAST(n_chars - sz AS DOUBLE) / st) AS BIGINT) + 1 " +
        "END AS nc")
      .groupBy("sz", "st").agg(sum(col("nc")).as("n_chunks"),
        count(lit(1L)).as("n_docs"))
    covered.groupBy("sz", "st")
      .agg(count(lit(1L)).as("n_spans"), sum(col("cov")).as("n_cov"))
      .join(nChunks, Seq("sz", "st"))
      .selectExpr("CAST(sz AS BIGINT) AS chunk_size",
        "CAST(st AS BIGINT) AS stride", "n_docs", "n_chunks",
        "n_spans",
        "round(CAST(n_cov AS DOUBLE) / n_spans, 4) AS span_coverage",
        "round(CAST(sz AS DOUBLE) / st, 4) AS redundancy")
      .orderBy("chunk_size", "stride")
  }

  def chunkConfigCurveOracle: String = {
    val cfgRows = ChunkConfigs.map { case (sz, st) => s"($sz, $st)" }
      .mkString(", ")
    s"""WITH cfg AS (SELECT * FROM (VALUES $cfgRows) c(sz, st)),
       |d AS (SELECT doc_id, n_chars, sz, st
       |  FROM documents, cfg WHERE n_chars >= $ChunkSpanLen),
       |spans AS (SELECT sz, st,
       |    unnest(range(0, n_chars - $ChunkSpanLen + 1,
       |      $ChunkSpanStep)) AS sp
       |  FROM d),
       |cov AS (SELECT sz, st,
       |    CASE WHEN sp % st <= sz - $ChunkSpanLen THEN 1 ELSE 0 END
       |      AS cov
       |  FROM spans),
       |nch AS (SELECT sz, st, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN n_chars <= sz THEN 1 ELSE
       |      CAST(ceil(CAST(n_chars - sz AS DOUBLE) / st) AS BIGINT)
       |      + 1 END) AS BIGINT) AS n_chunks
       |  FROM d GROUP BY sz, st),
       |cv AS (SELECT sz, st, count(*) AS n_spans,
       |    CAST(sum(cov) AS BIGINT) AS n_cov
       |  FROM cov GROUP BY sz, st)
       |SELECT CAST(cv.sz AS BIGINT) AS chunk_size,
       |  CAST(cv.st AS BIGINT) AS stride, n_docs, n_chunks, n_spans,
       |  round(CAST(n_cov AS DOUBLE) / n_spans, 4) AS span_coverage,
       |  round(CAST(cv.sz AS DOUBLE) / cv.st, 4) AS redundancy
       |FROM cv JOIN nch ON nch.sz = cv.sz AND nch.st = cv.st
       |ORDER BY chunk_size, stride""".stripMargin
  }

  // --- q316: gate-distillation stump (histogram split finding) -----------

  /** Histogram resolution for candidate split thresholds — the
    * XGBoost/LightGBM approximate-split construction. */
  val StumpBins = 16

  /** q316 — gate-distillation stump: which single interpretable rule
    * best mimics the LEARNED q129 classifier gate? Each per-document
    * feature (word count, mean word length, symbol ratio — q104's
    * inputs) is histogrammed into [[StumpBins]] equi-width bins, every
    * bin edge is a candidate threshold, and the best split per feature
    * is chosen by exact Gini gain — the histogram-based split finding
    * every distributed GBDT ships (one aggregation pass, candidates
    * from bin edges, never a per-value sort). The audit a curation team
    * runs before replacing an opaque classifier with a cheap rule, or
    * to explain WHAT the classifier learned.
    *
    * Parity: bin ids and (n, pos) cells are exact integers; cumulative
    * sums run over ≤[[StumpBins]] rows per feature; each candidate's
    * gain is one fixed-op-order double expression of those integers;
    * the per-feature argmax orders by (gain DESC, bin) over
    * identically-computed doubles.
    *
    * Scale (100 TB): TWO corpus passes (global per-feature min/max,
    * then bin + aggregate — the q87/q195 shape), both map-side
    * combined; everything after is |features|·[[StumpBins]] rows. */
  /** Shared label + equi-width-binned feature frame for q316/q321:
    * (y, feature, bin, lo, rng) per document×feature. */
  private[graft] def stumpBinned(s: SparkSession, dir: String): DataFrame = {
    val nWords = wsTokenCount(col("text"))
    val nonspace = length(regexp_replace(col("text"), "\\s+", ""))
      .cast("bigint")
    val base = t(s, dir, "documents").select(
      (MixtureOps.logitOf >= 0L).as("y"),
      nWords.cast("double").as("f_words"),
      (nonspace.cast("double") / nWords.cast("double")).as("f_mwl"),
      stopwordHits(col("text"), LangStopwords.head._2).cast("double")
        .as("f_stop"))
      .persist()
    val st = base.agg(
      min(col("f_words")).as("lo_words"), max(col("f_words")).as("hi_words"),
      min(col("f_mwl")).as("lo_mwl"), max(col("f_mwl")).as("hi_mwl"),
      min(col("f_stop")).as("lo_stop"), max(col("f_stop")).as("hi_stop"))
    base.crossJoin(broadcast(st)).selectExpr("y",
      s"""stack(3,
         |  'f_words', f_words, lo_words, hi_words,
         |  'f_mwl', f_mwl, lo_mwl, hi_mwl,
         |  'f_stop', f_stop, lo_stop, hi_stop) AS (feature, x, lo, hi)"""
        .stripMargin)
      .withColumn("rng",
        when(col("hi") === col("lo"), lit(1.0))
          .otherwise(col("hi") - col("lo")))
      .withColumn("bin", least(lit(StumpBins - 1L),
        floor((col("x") - col("lo")) * StumpBins / col("rng"))
          .cast("long")))
  }

  def distillStump(s: SparkSession, dir: String): DataFrame = {
    val stacked = stumpBinned(s, dir)
    val cells = stacked.groupBy("feature", "bin").agg(
      count(lit(1)).as("n"),
      sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
      max(col("lo")).as("lo"), max(col("rng")).as("rng"))
    val wCum = Window.partitionBy("feature").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
    val cand = cells
      .withColumn("nl", sum(col("n")).over(wCum))
      .withColumn("pl", sum(col("pos")).over(wCum))
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("pt", sum(col("pos")).over(wAll))
      .filter(col("nl") < col("nt")) // a split must leave a right side
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("pr", col("pt") - col("pl"))
      .withColumn("gain", expr(
        """2.0 * (CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt)
          |  - (CAST(nl AS DOUBLE) / nt) * (2.0 * (CAST(pl AS DOUBLE) / nl)
          |      * (1.0 - CAST(pl AS DOUBLE) / nl))
          |  - (CAST(nr AS DOUBLE) / nt) * (2.0 * (CAST(pr AS DOUBLE) / nr)
          |      * (1.0 - CAST(pr AS DOUBLE) / nr))""".stripMargin))
      .withColumn("threshold",
        col("lo") + (col("bin") + 1L).cast("double") *
          col("rng") / StumpBins)
    val wBest = Window.partitionBy("feature")
      .orderBy(col("gain").desc, col("bin"))
    val best = cand.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
    val wGlob = Window.partitionBy(lit(1))
    best
      .withColumn("gmax", max(col("gain")).over(wGlob))
      .select(col("feature"),
        round(col("threshold"), 6).as("threshold"),
        round(col("gain"), 6).as("gini_gain"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        round(col("pl").cast("double") / col("nl").cast("double"), 6)
          .as("left_pass_rate"),
        round(col("pr").cast("double") / col("nr").cast("double"), 6)
          .as("right_pass_rate"),
        (col("gain") === col("gmax")).as("best_overall"))
      .orderBy("feature")
  }

  def distillStumpOracle: String = {
    import CurationOps.ClfLogitWSql
    val b = StumpBins
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($ClfLogitWSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |base AS (SELECT lg.logit >= 0 AS y,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |      AS f_words,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(text), '\\s+'))
       |        AS DOUBLE) AS f_mwl,
       |    CAST(len(regexp_extract_all(text,
       |      '\\b(the|and|of|to|in|is|you|that)\\b')) AS DOUBLE)
       |      AS f_stop
       |  FROM documents JOIN lg USING (doc_id)),
       |st AS (SELECT min(f_words) AS lo_words, max(f_words) AS hi_words,
       |    min(f_mwl) AS lo_mwl, max(f_mwl) AS hi_mwl,
       |    min(f_stop) AS lo_stop, max(f_stop) AS hi_stop FROM base),
       |stacked AS (
       |  SELECT y, 'f_words' AS feature, f_words AS x, lo_words AS lo,
       |    hi_words AS hi FROM base, st
       |  UNION ALL SELECT y, 'f_mwl', f_mwl, lo_mwl, hi_mwl FROM base, st
       |  UNION ALL SELECT y, 'f_stop', f_stop, lo_stop, hi_stop
       |    FROM base, st),
       |binned AS (SELECT y, feature,
       |    CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS rng, lo,
       |    least($b - 1, CAST(floor((x - lo) * $b /
       |      (CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END)) AS BIGINT))
       |      AS bin
       |  FROM stacked),
       |cells AS (SELECT feature, bin, count(*) AS n,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       |    max(lo) AS lo, max(rng) AS rng
       |  FROM binned GROUP BY feature, bin),
       |cum AS (SELECT *,
       |    CAST(sum(n) OVER (PARTITION BY feature ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS nl,
       |    CAST(sum(pos) OVER (PARTITION BY feature ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS pl,
       |    CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS nt,
       |    CAST(sum(pos) OVER (PARTITION BY feature) AS BIGINT) AS pt
       |  FROM cells),
       |cand AS (SELECT *, nt - nl AS nr, pt - pl AS pr,
       |    2.0 * (CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt)
       |      - (CAST(nl AS DOUBLE) / nt) * (2.0 * (CAST(pl AS DOUBLE) / nl)
       |          * (1.0 - CAST(pl AS DOUBLE) / nl))
       |      - (CAST(nt - nl AS DOUBLE) / nt)
       |          * (2.0 * (CAST(pt - pl AS DOUBLE) / (nt - nl))
       |          * (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))) AS gain,
       |    lo + CAST(bin + 1 AS DOUBLE) * rng / $b AS threshold
       |  FROM cum WHERE nl < nt),
       |best AS (SELECT * FROM (SELECT *,
       |    row_number() OVER (PARTITION BY feature
       |      ORDER BY gain DESC, bin) AS rk FROM cand) WHERE rk = 1)
       |SELECT feature, round(threshold, 6) AS threshold,
       |  round(gain, 6) AS gini_gain,
       |  nl AS n_left, nr AS n_right,
       |  round(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE), 6)
       |    AS left_pass_rate,
       |  round(CAST(pr AS DOUBLE) / CAST(nr AS DOUBLE), 6)
       |    AS right_pass_rate,
       |  gain = max(gain) OVER () AS best_overall
       |FROM best ORDER BY feature""".stripMargin
  }

  // --- q321: mutual-information feature ranking ---------------------------

  /** q321 — mutual information I(X_binned; Y) in nats between each
    * interpretable feature (q316's equi-width bins — the SAME binned
    * frame) and the learned q129 gate label, with the uncertainty
    * coefficient U = I/H(Y) — the model-free companion to q316's Gini
    * stump: a feature can carry information the best SINGLE threshold
    * can't use (multi-modal dependence), and I vs gain ranking
    * disagreement is exactly that signal. The standard filter-method
    * feature screen (Battiti's MIFS family) run where selection
    * actually happens — over the histogram cells, never row pairs.
    *
    * Parity: all cell counts are exact integers off one collapse; each
    * nonzero cell's term (n_by/N)·ln(n_by·N/(n_b·n_y)) is one
    * fixed-op-order double frozen to ×1e9 BIGINT before the cell sum
    * (the ulp-tolerant freeze: a 1-ulp ln difference moves a floor
    * only at ~1e-7 probability per cell, 96 cells); H(Y) freezes the
    * same way.
    *
    * Scale (100 TB): reuses q316's two corpus passes; MI is
    * |features|·[[StumpBins]]·2 cell algebra. */
  def miRanking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = stumpBinned(s, dir)
      .groupBy("feature", "bin", "y").agg(count(lit(1)).as("n_by"))
    val wf = Window.partitionBy("feature")
    val wfb = Window.partitionBy("feature", "bin")
    val wfy = Window.partitionBy("feature", "y")
    val terms = cells
      .withColumn("n", sum(col("n_by")).over(wf))
      .withColumn("n_b", sum(col("n_by")).over(wfb))
      .withColumn("n_y", sum(col("n_by")).over(wfy))
      .withColumn("mi_fp", floor(
        (col("n_by").cast("double") / col("n").cast("double")) *
          log(col("n_by").cast("double") * col("n").cast("double") /
            (col("n_b").cast("double") * col("n_y").cast("double"))) *
          lit(1e9)).cast("long"))
      // H(Y) from the same cells: y-marginal terms, counted once per
      // (feature, y) via the first bin row
      .withColumn("rn_y", row_number().over(
        Window.partitionBy("feature", "y").orderBy("bin")))
      .withColumn("hy_fp", when(col("rn_y") === 1, floor(
        -(col("n_y").cast("double") / col("n").cast("double")) *
          log(col("n_y").cast("double") / col("n").cast("double")) *
          lit(1e9)).cast("long")).otherwise(0L))
    val perFeature = terms.groupBy("feature").agg(
      sum(col("mi_fp")).as("mi_fp"),
      sum(col("hy_fp")).as("hy_fp"),
      countDistinct(col("bin")).as("n_bins_populated"))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("mi_fp").desc, col("feature"))
    perFeature
      .withColumn("rank", row_number().over(wRank).cast("bigint"))
      .selectExpr("feature", "rank",
        "round(CAST(mi_fp AS DOUBLE) / 1e9, 6) AS mi_nats",
        "round(CAST(hy_fp AS DOUBLE) / 1e9, 6) AS h_y",
        "round(CAST(mi_fp AS DOUBLE) / CAST(hy_fp AS DOUBLE), 6)" +
          " AS uncertainty_coef",
        "n_bins_populated")
      .orderBy("feature")
  }

  def miRankingOracle: String = {
    import CurationOps.ClfLogitWSql
    val b = StumpBins
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($ClfLogitWSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |base AS (SELECT lg.logit >= 0 AS y,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |      AS f_words,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(text), '\\s+'))
       |        AS DOUBLE) AS f_mwl,
       |    CAST(len(regexp_extract_all(text,
       |      '\\b(the|and|of|to|in|is|you|that)\\b')) AS DOUBLE)
       |      AS f_stop
       |  FROM documents JOIN lg USING (doc_id)),
       |st AS (SELECT min(f_words) AS lo_words, max(f_words) AS hi_words,
       |    min(f_mwl) AS lo_mwl, max(f_mwl) AS hi_mwl,
       |    min(f_stop) AS lo_stop, max(f_stop) AS hi_stop FROM base),
       |stacked AS (
       |  SELECT y, 'f_words' AS feature, f_words AS x, lo_words AS lo,
       |    hi_words AS hi FROM base, st
       |  UNION ALL SELECT y, 'f_mwl', f_mwl, lo_mwl, hi_mwl FROM base, st
       |  UNION ALL SELECT y, 'f_stop', f_stop, lo_stop, hi_stop
       |    FROM base, st),
       |binned AS (SELECT y, feature,
       |    least($b - 1, CAST(floor((x - lo) * $b /
       |      (CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END)) AS BIGINT))
       |      AS bin
       |  FROM stacked),
       |cells AS (SELECT feature, bin, y, CAST(count(*) AS BIGINT)
       |    AS n_by
       |  FROM binned GROUP BY feature, bin, y),
       |m AS (SELECT *,
       |    CAST(sum(n_by) OVER (PARTITION BY feature) AS BIGINT) AS n,
       |    CAST(sum(n_by) OVER (PARTITION BY feature, bin) AS BIGINT)
       |      AS n_b,
       |    CAST(sum(n_by) OVER (PARTITION BY feature, y) AS BIGINT)
       |      AS n_y,
       |    row_number() OVER (PARTITION BY feature, y ORDER BY bin)
       |      AS rn_y
       |  FROM cells),
       |t AS (SELECT feature,
       |    CAST(floor((CAST(n_by AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(n_by AS DOUBLE) * CAST(n AS DOUBLE) /
       |        (CAST(n_b AS DOUBLE) * CAST(n_y AS DOUBLE))) *
       |      1000000000.0) AS BIGINT) AS mi_fp,
       |    CASE WHEN rn_y = 1 THEN CAST(floor(
       |      -(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      ln(CAST(n_y AS DOUBLE) / CAST(n AS DOUBLE)) *
       |      1000000000.0) AS BIGINT) ELSE 0 END AS hy_fp,
       |    bin
       |  FROM m),
       |pf AS (SELECT feature, CAST(sum(mi_fp) AS BIGINT) AS mi_fp,
       |    CAST(sum(hy_fp) AS BIGINT) AS hy_fp,
       |    CAST(count(DISTINCT bin) AS BIGINT) AS n_bins_populated
       |  FROM t GROUP BY feature)
       |SELECT feature,
       |  CAST(row_number() OVER (ORDER BY mi_fp DESC, feature)
       |    AS BIGINT) AS rank,
       |  round(CAST(mi_fp AS DOUBLE) / 1e9, 6) AS mi_nats,
       |  round(CAST(hy_fp AS DOUBLE) / 1e9, 6) AS h_y,
       |  round(CAST(mi_fp AS DOUBLE) / CAST(hy_fp AS DOUBLE), 6)
       |    AS uncertainty_coef,
       |  n_bins_populated
       |FROM pf ORDER BY feature""".stripMargin
  }
  // --- q330: unigram^0.75 negative-sampling table ---------------------------

  /** q330 — negative-sampling table (the word2vec / contrastive-training
    * unigram^0.75 distribution, Mikolov et al. 2013): per token, the
    * smoothed sampling weight floor(cnt^0.75 * 1e9) as an exact BIGINT
    * fixed-point, its ppm share of the total, and the HALF-OPEN
    * cumulative range [cum_lo, cum_hi) a sampler needs — draw a uniform
    * integer in [0, Sigma w_fp) and binary-search the range column; the
    * table IS the sampler, no alias tables or rejection loops, and it
    * shards by range at any vocabulary size.
    *
    * Parity: cnt^0.75 is the one libm call (pow), frozen to x1e9
    * BIGINT per token — only |distinct counts| distinct pow arguments
    * exist (the q324 ln argument); cumulative ranges are an exact
    * integer prefix sum ordered by token; weight_ppm is integer
    * division of exact longs.
    *
    * Scale (100 TB): token frequencies are the map-side-combinable
    * vocab collapse; everything after is vocab-sized algebra — but the
    * vocab itself GROWS with the corpus (Heaps' law, ~10⁸ terms at
    * 100 TB), so the cumulative ranges come from
    * [[graft.operators.ScaleOps.withGlobalPrefixSum]] (range-partition
    * + per-partition offsets), never a single-task prefix window.
    * Headroom: w_fp * 1e6 stays under 2^63 up to cnt ~ 10^12 per
    * token; past that, drop the freeze to x1e3 (one constant). */
  def negativeTable(s: SparkSession, dir: String): DataFrame = {
    val freq = EtlOps.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val w = freq.withColumn("w_fp",
      expr("CAST(floor(pow(CAST(cnt AS DOUBLE), 0.75) * 1e9) AS BIGINT)"))
    val tot = w.agg(sum(col("w_fp")).as("w_total"))
    graft.operators.ScaleOps.withGlobalPrefixSum(
        w.crossJoin(broadcast(tot)), "w_fp", "cum_lo", col("token"))
      .select(col("token"), col("cnt"), col("w_fp"),
        expr("(w_fp * 1000000) div w_total").as("weight_ppm"),
        col("cum_lo"), (col("cum_lo") + col("w_fp")).as("cum_hi"))
      .orderBy("token")
  }

  def negativeTableOracle: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |f AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |w AS (SELECT token, cnt,
       |    CAST(floor(pow(CAST(cnt AS DOUBLE), 0.75) * 1e9) AS BIGINT)
       |      AS w_fp
       |  FROM f),
       |t AS (SELECT CAST(sum(w_fp) AS BIGINT) AS w_total FROM w),
       |c AS (SELECT token, cnt, w_fp,
       |    CAST(COALESCE(sum(w_fp) OVER (ORDER BY token
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_lo
       |  FROM w)
       |SELECT token, cnt, w_fp,
       |  CAST((w_fp * 1000000) // w_total AS BIGINT) AS weight_ppm,
       |  cum_lo, cum_lo + w_fp AS cum_hi
       |FROM c, t ORDER BY token""".stripMargin
}
