package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators: the filters and scrubbing passes a
  * large-scale LLM data pipeline runs between raw crawl and tokenizer —
  * PII redaction, repetition (quality) filtering, benchmark
  * decontamination, and near-duplicate clustering. All are narrow
  * per-row or shingle-join plans; the clustering pass is an iterative
  * min-label propagation that converges in O(component diameter) rounds.
  */
object CurationOps {

  import EtlOps.t
  import DedupOps.corpusNear

  /** Conf key selecting the lineage-cut mode for iterative DataFrames. */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  /** Test-only intercept: when a thread installs a buffer here, every
    * [[cutLineage]] on that thread records the optimized plan it is
    * about to materialize. This exists because the cut is EAGER — an
    * iterative operator's per-round joins execute during query
    * CONSTRUCTION and never appear in the returned frame's plan, so a
    * walker of the final plan is structurally blind to them (exactly
    * how q338's per-round corpus-sized broadcast hid until a 100× run
    * measured it at 371 s). The plan-invariant suite installs the
    * buffer, rebuilds every query, and walks the recorded plans too.
    * Production threads never install it: one null check per cut. */
  private[graft] val cutAudit = new java.lang.ThreadLocal[
    scala.collection.mutable.Buffer[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]

  /** Runs `build` with [[cutAudit]] installed and returns its value
    * with the optimized plan of every lineage cut it ran. The session's
    * shared graph artifacts are evicted first, so their builds run (and
    * are recorded) inside this call rather than hiding behind a memo. */
  private[graft] def auditCuts[T](s: SparkSession)(build: => T)
      : (T, Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]) = {
    GraphOps.evictShared(s)
    val buf = scala.collection.mutable.Buffer.empty[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    cutAudit.set(buf)
    try (build, buf.toSeq) finally cutAudit.remove()
  }

  /** Lineage cut for iterative DataFrames. Default: `localCheckpoint()`
    * — executor-local block storage, fastest, but blocks die with an
    * executor, so a lost executor aborts the job (acceptable on
    * local[*] and short cluster jobs). With [[CheckpointDirKey]] set,
    * the cut becomes a RELIABLE `checkpoint()` into that (HDFS/S3)
    * directory: each round's labels survive executor loss, the mode a
    * multi-hour 100 TB clustering run wants. Both are eager, so either
    * way the logical plan downstream starts from materialized data —
    * the property the iteration needs (plan doubling measured
    * 1.4s → 30s without a cut). */
  def cutLineage(df: DataFrame): DataFrame = {
    val audit = cutAudit.get
    if (audit != null) audit += df.queryExecution.optimizedPlan
    val sc = df.sparkSession.sparkContext
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case Some(d) =>
        // setCheckpointDir appends a session UUID subdir — re-set only
        // when the configured root actually changed
        if (!sc.getCheckpointDir.exists(_.contains(d))) sc.setCheckpointDir(d)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** [[cutLineage]] that also returns `aggs` (non-null BIGINT
    * aggregates of the cut frame), read by an `Observation` during the
    * cut's own job: no second job, as IngestionJob counts its rows.
    * With no `aggs` it is the plain cut and returns no longs. */
  def cutObserved(df: DataFrame, aggs: org.apache.spark.sql.Column*)
      : (DataFrame, IndexedSeq[Long]) =
    if (aggs.isEmpty) (cutLineage(df), IndexedSeq.empty)
    else {
      val obs = new org.apache.spark.sql.Observation()
      val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"o$i") }
      val cut = cutLineage(df.observe(obs, named.head, named.tail: _*))
      (cut, aggs.indices.map(i => obs.get(s"o$i").asInstanceOf[Long]))
    }

  /** The one round loop of the iterative operators: generation 0 is
    * `init`, generation r is `step(g, r)` of generation g = r − 1, and
    * every generation is cut by [[cutObserved]] with `obs`. `step` is
    * called with r = 1..n in order, so a round can salt its coins with
    * r. Returns the generations 0..n and each one's observed longs, in
    * round order. The cut per generation keeps each round's plan the
    * size of one round, however many rounds ran before it. */
  def iterateCut(init: DataFrame, n: Int, obs: org.apache.spark.sql.Column*)(
      step: (DataFrame, Int) => DataFrame)
      : (IndexedSeq[DataFrame], IndexedSeq[IndexedSeq[Long]]) =
    (1 to n).scanLeft(cutObserved(init, obs: _*)) { case ((g, _), r) =>
      cutObserved(step(g, r), obs: _*)
    }.unzip

  // --- q56: PII scrubbing ----------------------------------------------

  /** Redaction patterns, applied IN ORDER (order is part of the
    * semantics — both engines run the same chain). RE2-compatible so the
    * DuckDB oracle uses the identical regexes. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9][0-9 ]{6,}[0-9]"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The corpus has no natural PII, so inject a deterministic
    * email/phone/IP per document (same construction in the oracle). */
  def withPii(c: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(c, lit(" contact user"), id, lit("@example.com or +31 6 "),
      (id % 10000000) + 1000000, lit(" from 10.1.2."), id % 256)

  /** q56 — PII scrub: count then redact emails/phones/IPs. One narrow
    * pass; the redacted text is fingerprinted (md5) so the oracle checks
    * content equality without hauling full text through the compare. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val raw = withPii(col("text"), col("doc_id"))
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      raw, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
    t(s, dir, "documents").select(
      col("doc_id"),
      regexp_count(raw, lit(EmailRe)).cast("bigint").as("n_emails"),
      regexp_count(raw, lit(PhoneRe)).cast("bigint").as("n_phones"),
      regexp_count(raw, lit(IpRe)).cast("bigint").as("n_ips"),
      md5(scrubbed).as("scrubbed_md5"),
      length(scrubbed).cast("bigint").as("scrubbed_len"))
      .orderBy("doc_id")
  }

  // --- q57: repetition (quality) filter --------------------------------

  /** q57/q58 word n-grams (all occurrences, not distinct) over the one
    * shared generator [[DedupOps.wordGramArrayExpr]]. */
  private def wordGrams(corpus: DataFrame, n: Int): DataFrame =
    corpus
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(DedupOps.wordGramArrayExpr(n))).as("gram"))

  /** q57 — repetition filter: per-document max-bigram-frequency ratio,
    * the Gopher/C4-style "most repeated n-gram" quality signal. Two
    * hash aggregations, both partition-parallel by doc. */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame =
    wordGrams(t(s, dir, "documents").select(col("doc_id"), col("text")), 2)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_rep"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        col("max_rep"),
        (col("max_rep") / col("n_bigrams")).as("rep_ratio"))
      .orderBy("doc_id")

  // --- q58: benchmark decontamination ----------------------------------

  val ContamGram = 5

  /** q58 — contamination check: training docs sharing any word 5-gram
    * with the benchmark set (doc_id % 97 == 0 stands in for an eval
    * suite). The join keys on gram with NO forced broadcast: a real
    * eval suite is fixed-size and stats/AQE will broadcast it, but THIS
    * benchmark side is a corpus fraction whose gram set Heaps-scales —
    * forcing the ship was the hazard the suite's measured-cardinality
    * invariant caught (a 1/97 slice of 100 TB does not fit an
    * executor). */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val grams = wordGrams(
      t(s, dir, "documents").select(col("doc_id"), col("text")), ContamGram)
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  // --- q61: deterministic dataset splitting -----------------------------

  /** q61 — hash-based train/val/test split: bucket = 60-bit md5
    * fingerprint of the doc id mod 100 → 90/5/5. Content-independent,
    * deterministic, and stable under re-partitioning or re-runs — the
    * property a training pipeline needs so a document never migrates
    * between splits. One narrow pass + a tiny aggregate. */
  def datasetSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      TextOps.md5Fingerprint60(col("doc_id").cast("string")), lit(100L))
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(bucket < 90, "train")
          .when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("split")
  }

  /** q64 — deterministic stratified sampling: k docs per language in
    * md5-hash order. Content-independent and stable under re-partition
    * or re-run (same property as q61's split) — the "uniform sample for
    * eval/inspection" every curation pipeline needs, without RAND()'s
    * nondeterminism. One window pass, partition-parallel by stratum. */
  val SamplePerStratum = 5

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SamplePerStratum)
      .select(col("lang"), col("doc_id"),
        col("rn").cast("bigint").as("sample_rank"))
      .orderBy("lang", "sample_rank")
  }

  // --- q75: deterministic weighted sampling -----------------------------

  val WeightedSampleK = 100

  /** q75 — deterministic weighted priority sampling: each document gets
    * priority u/w where u is a hash-derived uniform in [0,1) (the 60-bit
    * md5 fingerprint of its id scaled by 2⁻⁶⁰) and w = n_chars; the
    * [[WeightedSampleK]] smallest priorities win, so selection odds
    * scale with document length. Like q61/q64 this is content-stable
    * and re-run-stable (no RAND()), but with IMPORTANCE weighting — the
    * sampling mode that oversamples long documents for inspection or
    * mixture tuning. Distributed cost: one narrow pass + a top-k sort
    * (Spark's TakeOrderedAndProject — per-partition heaps, no global
    * sort at 100 TB). Parity: u and u/w are single IEEE divisions. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = TextOps.md5Fingerprint60(col("doc_id").cast("string"))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("priority"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (u / col("n_chars")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(WeightedSampleK)
      .withColumn("sample_rank", row_number().over(w).cast("bigint"))
      .select("sample_rank", "doc_id", "n_chars", "priority")
      .orderBy("sample_rank")
  }

  // --- q76: n-gram novelty scoring --------------------------------------

  val NoveltyGram = 5

  /** q76 — novelty scoring: the fraction of a document's distinct word
    * 5-grams that occur in NO other document. The inverse of q58's
    * contamination signal — high novelty marks content the corpus has
    * not seen elsewhere (template/boilerplate pages score near 0). Two
    * aggregates: gram → document-frequency, then doc → unique fraction;
    * both partition-parallel with map-side partials. */
  def noveltyScore(s: SparkSession, dir: String): DataFrame = {
    val grams = wordGrams(
      t(s, dir, "documents").select(col("doc_id"), col("text")), NoveltyGram)
      .distinct()
    val dfreq = grams.groupBy("gram")
      .agg(count(lit(1)).as("gram_df"))
    grams.join(dfreq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        (col("n_unique") / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }

  // --- q59: near-duplicate clustering ----------------------------------

  /** q59 — duplicate clustering: connected components over the MinHash-
    * LSH near-dup pairs (q31's edges), by iterative min-label
    * propagation to a fixpoint. Components have a unique min-label
    * fixpoint, so the result is deterministic regardless of iteration
    * order; rounds = O(component diameter) — near-dup clusters are
    * shallow, so 2-3 rounds in practice. The DuckDB oracle states the
    * same closure as a recursive CTE. Output: one row per cluster with
    * its canonical (min) id and size — the survivor list a dedup pass
    * feeds downstream. */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    dupLabels(s, dir)
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("cluster_id"), col("n_members"))
      .orderBy("cluster_id")

  /** The per-node cluster labels behind q59/q110: min-label propagation
    * over the MinHash near-dup edges to the fixpoint. Uses the UNSORTED
    * pair stream ([[DedupOps.minhashLshPairs]]) — propagation is
    * order-free, and q31's output sort was a dead range exchange that
    * the propagation's first lineage cut materialized. */
  private def dupLabels(s: SparkSession, dir: String): DataFrame =
    propagateLabels(
      DedupOps.nearVerified(s, dir, bucketCap = None)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")),
      corpusNear(s, dir).select(col("doc_id")))

  /** Min-label propagation to the fixpoint over an arbitrary
    * (doc_a, doc_b) pair table and node set — the ONE connected-
    * components engine behind q59/q110/q116 and q169's image clusters.
    * Returns the fixpoint generation (doc_id, lbl), itself a lineage cut. */
  private[graft] def propagateLabels(pairsIn: DataFrame,
      nodes: DataFrame): DataFrame = {
    // cutLineage pairs BEFORE the symmetric union — not just persist:
    // both union branches reference it AND every propagation round's
    // join re-references edges, and a persisted frame still carries the
    // whole MinHash candidate pipeline as its logical plan, which
    // Catalyst re-canonicalizes per round per consumer (the same
    // driver-planning tax q86 paid; the pairs table is ~|near-dup
    // pairs| slim rows, so the cut is cheap)
    val pairs = cutLineage(pairsIn)
    // shuffle_hash on the edge side (the q390 round-block precedent):
    // both join inputs are re-planned from checkpoints every round, so
    // a sort-merge join would re-SORT |V| labels and 2|pairs| edges per
    // round; the hash join keeps the exchanges and drops the sorts.
    // (An explicit broadcast of the edge side is faster still on small
    // pair sets but is exactly the forced-ship hazard the suite-wide
    // broadcast invariant exists to block — hash join is the
    // scale-safe shape.)
    val edges = pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .hint("shuffle_hash")
    // cutLineage (localCheckpoint / reliable checkpoint per config), NOT
    // persist: each round's plan references `labels` twice (join +
    // union), so without truncating the LOGICAL lineage the plan doubles
    // every round and Catalyst re-analysis grows exponentially even
    // though the data is cached (measured: rounds of 1.4s → 7s → 30s
    // with persist; flat 0.8s with a cut).
    // convergence by label mass, not by diffing rounds: lbl' =
    // min(own, neighbors') ≤ lbl pointwise, so Σlbl strictly decreases
    // every non-fixpoint round — comparing two driver-side scalars,
    // each observed during its generation's own cut job, replaces a
    // per-round join-and-count over the label table. At ~10¹⁰ ×
    // 10¹⁰-sized ids carry the sum as DECIMAL(38,0).
    val mass = coalesce(sum(col("lbl")), lit(0L))
    var (labels, Seq(prev)) = cutObserved(
      nodes.select(col("doc_id"), col("doc_id").as("lbl")), mass)
    var done = false
    while (!done) {
      val (next, Seq(cur)) = cutObserved(
        labels.join(edges, col("doc_id") === col("doc_a"))
          .select(col("doc_b").as("doc_id"), col("lbl"))
          .unionAll(labels)
          .groupBy("doc_id").agg(min(col("lbl")).as("lbl")), mass)
      done = cur == prev
      prev = cur
      labels = next
    }
    labels
  }

  /** q110 — cluster-representative selection: after near-dup clustering
    * (q59's labels), keep ONE document per cluster — the longest real
    * document (ties to the lowest doc_id) — and report it with the
    * cluster size. This is the survivor-selection step an LLM dedup
    * pass actually ships: clusters are detected (q31→q59), then exactly
    * one member survives into the training set. Synthetic near-copy
    * nodes (ids ≥ [[DedupOps.CopyOffset]]) are never eligible, so
    * copy-only clusters drop out entirely.
    *
    * Shape: the label table joins doc metadata on doc_id (equi-join),
    * the pick is a per-cluster top-1 window, and the size is the q59
    * aggregate — nothing here exceeds the clustering cost itself, and
    * the quality metric is pluggable (any per-doc score column). */
  def clusterRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val lab = dupLabels(s, dir).persist()
    val sizes = lab.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lbl")
      .orderBy(col("n_chars").desc, col("doc_id"))
    lab.filter(col("doc_id") < DedupOps.CopyOffset)
      .join(docs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, "lbl")
      .select(col("lbl").as("cluster_id"), col("doc_id").as("rep_doc"),
        col("n_chars").as("rep_chars"), col("n_members"))
      .orderBy("cluster_id")
  }

  // --- q116: decontaminated validation split ----------------------------

  /** q116 — near-dup-clean validation split: hash documents 90/10 into
    * train/val (q61's bucketing), then PURGE from val every document
    * whose near-dup cluster (q59's labels) also contains a train
    * document — the leakage that silently inflates eval numbers when a
    * val example is a near-copy of something trained on. Output is the
    * surviving clean val set with its cluster id.
    *
    * Shape: the labels are the q59 computation; the purge is one
    * distinct over train clusters (small — cluster count, not doc
    * count) anti-joined against the val side. The expensive part is the
    * clustering already paid for; decontamination itself is one
    * semi-structure pass. */
  def cleanValSplit(s: SparkSession, dir: String): DataFrame = {
    val lab = dupLabels(s, dir)
      .filter(col("doc_id") < DedupOps.CopyOffset).persist()
    val bucket =
      call_function("md5_fp60", col("doc_id").cast("string")) % 100
    val tagged = lab.withColumn("is_train", bucket < 90)
    val trainClusters = tagged.filter(col("is_train"))
      .select(col("lbl")).distinct()
    tagged.filter(!col("is_train"))
      .join(trainClusters, Seq("lbl"), "left_anti")
      .select(col("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
  }

  // --- q108: k-anonymity audit ------------------------------------------

  /** Minimum distinct users a quasi-identifier combination must carry. */
  val AnonK = 5

  /** q108 — k-anonymity audit: group the event log by its
    * quasi-identifier combination (event type, event date, and the
    * `k` attribute from the JSON props) and report every combination
    * carried by fewer than [[AnonK]] distinct users — the rows where a
    * released dataset would re-identify individuals, and exactly what a
    * privacy review asks for before training data leaves the pipeline.
    *
    * Shape: ONE map-side-combinable aggregate over the quasi-id key
    * (distinct-user counting is a two-phase partial aggregate), then a
    * filter that keeps only the rare combinations — output shrinks as
    * data grows (more data = more anonymity), so at 100 TB this returns
    * the handful of genuinely risky cells, not a report proportional to
    * input size. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    EtlOps.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k_prop"),
        col("user_id"))
      .groupBy("event_type", "day", "k_prop")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_users") < AnonK)
      .orderBy("event_type", "day", "k_prop")

  // --- q150: l-diversity audit ------------------------------------------

  /** Minimum distinct sensitive values an equivalence class must carry. */
  val DiversityL = 3

  /** q150 — l-diversity audit (Machanavajjhala et al. 2007), the
    * companion check to q108: k-anonymity only bounds CLASS SIZE, so a
    * class where every member shares one sensitive value still leaks it
    * (the homogeneity attack). Here the quasi-identifier is
    * (day, k_prop) — the same released attributes q108 audits — and the
    * sensitive attribute is the event type: the audit reports every
    * equivalence class carrying fewer than [[DiversityL]] distinct
    * event types, alongside its size and user count, to show classes
    * that PASS k-anonymity yet still leak what their members did.
    *
    * Shape: identical to q108 — one two-phase distinct aggregate over
    * the quasi-id key, then a filter that keeps only risky cells; the
    * report shrinks as data grows. */
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    EtlOps.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        // NULL k props coalesce to a -1 sentinel class: NULL != NULL in
        // both engines, so a null-keyed class would never match its own
        // join keys (q152's dense completion would pin its TVD at 0.5)
        // and Spark (NULLS FIRST) vs DuckDB (NULLS LAST) would break
        // ordered parity. -1 is outside the generated k domain.
        coalesce(get_json_object(col("props"), "$.k").cast("bigint"),
          lit(-1L)).as("k_prop"),
        col("user_id"))
      .groupBy("day", "k_prop")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("l_sensitive"))
      .filter(col("l_sensitive") < DiversityL)
      .orderBy("day", "k_prop")

  def lDiversityOracle: String =
    s"""SELECT CAST(ts AS DATE) AS day,
       |  COALESCE(CAST(json_extract_string(props, '$$.k') AS BIGINT), -1)
       |    AS k_prop,
       |  count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
       |  count(DISTINCT event_type) AS l_sensitive
       |FROM events GROUP BY day, k_prop
       |HAVING count(DISTINCT event_type) < $DiversityL
       |ORDER BY day, k_prop""".stripMargin

  // --- q152: t-closeness audit ------------------------------------------

  /** Maximum allowed total-variation distance between a class's
    * sensitive-value distribution and the corpus-wide one. */
  val ClosenessT = 0.2

  /** q152 — t-closeness audit (Li et al. 2007), completing the privacy
    * triad over the q108/q150 equivalence classes: k-anonymity bounds
    * class SIZE, l-diversity bounds distinct sensitive VALUES, but a
    * class can satisfy both while its sensitive-value DISTRIBUTION is
    * far from the corpus's (a class that is 95% 'error' events in a 20%
    * 'error' corpus still tells an observer a lot). For the categorical
    * sensitive attribute the t-closeness distance with the uniform
    * ground metric is total-variation: ½·Σ|p_class(e) − p_corpus(e)|.
    *
    * Float determinism: the TVD numerator is computed in EXACT integer
    * arithmetic — Σ|n_e·G − g_e·N| over DECIMAL(38,0) products (sum
    * order can't perturb integers) — and becomes a double in ONE final
    * division by 2·N·G, so Spark and the oracle agree bitwise. DECIMAL
    * because at 100 TB both factors approach 2⁶³ and a BIGINT product
    * would overflow.
    *
    * Scale (100 TB): one corpus-wide |E|-row aggregate (broadcast), one
    * (class × event_type) count aggregate, and a dense completion of
    * missing (class, e) cells by cross-joining the broadcast event-type
    * frame — the completion is |classes|·|E| rows, NOT |events|. The
    * report keeps only classes beyond [[ClosenessT]]. */
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.events(s, dir)
      .select(to_date(col("ts")).as("day"),
        // -1 sentinel for NULL k props — see lDiversity; without it the
        // dense completion's left join can never match a null-keyed
        // class and its TVD is pinned at 0.5 regardless of the data
        coalesce(get_json_object(col("props"), "$.k").cast("bigint"),
          lit(-1L)).as("k_prop"),
        col("event_type"))
    val global = ev.groupBy("event_type").agg(count(lit(1)).as("g_e"))
      .withColumn("g_tot", sum(col("g_e")).over())
    val cls = ev.groupBy("day", "k_prop", "event_type")
      .agg(count(lit(1)).as("n_e"))
    val classes = cls.groupBy("day", "k_prop").agg(sum(col("n_e")).as("n_rows"))
    val dense = classes.crossJoin(broadcast(global))
      .join(cls, Seq("day", "k_prop", "event_type"), "left")
      .na.fill(0L, Seq("n_e"))
    dense
      .withColumn("num_term",
        abs(col("n_e").cast("decimal(38,0)") * col("g_tot") -
          col("g_e").cast("decimal(38,0)") * col("n_rows")))
      .groupBy("day", "k_prop")
      .agg(max(col("n_rows")).as("n_rows"),
        sum(col("num_term")).as("num"),
        max(col("g_tot")).as("g_tot"))
      .withColumn("tvd",
        col("num").cast("double") /
          (lit(2.0) * col("n_rows") * col("g_tot")))
      .filter(col("tvd") > ClosenessT)
      .select(col("day"), col("k_prop"), col("n_rows"),
        round(col("tvd"), 6).as("tvd"))
      .orderBy("day", "k_prop")
  }

  def tClosenessOracle: String =
    s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day,
       |    COALESCE(CAST(json_extract_string(props, '$$.k') AS BIGINT), -1)
       |      AS k_prop,
       |    event_type FROM events),
       |g AS (SELECT event_type, count(*) AS g_e,
       |    CAST(sum(count(*)) OVER () AS BIGINT) AS g_tot
       |  FROM ev GROUP BY event_type),
       |cls AS (SELECT day, k_prop, event_type, count(*) AS n_e
       |  FROM ev GROUP BY day, k_prop, event_type),
       |classes AS (SELECT day, k_prop, CAST(sum(n_e) AS BIGINT) AS n_rows
       |  FROM cls GROUP BY day, k_prop),
       |dense AS (SELECT c.day, c.k_prop, c.n_rows, g.event_type, g.g_e,
       |    g.g_tot, COALESCE(cls.n_e, 0) AS n_e
       |  FROM classes c CROSS JOIN g
       |  LEFT JOIN cls ON cls.day = c.day AND cls.k_prop = c.k_prop
       |    AND cls.event_type = g.event_type),
       |agg AS (SELECT day, k_prop, max(n_rows) AS n_rows,
       |    sum(abs(CAST(n_e AS DECIMAL(38,0)) * g_tot -
       |      CAST(g_e AS DECIMAL(38,0)) * n_rows)) AS num,
       |    max(g_tot) AS g_tot
       |  FROM dense GROUP BY day, k_prop)
       |SELECT day, k_prop, n_rows,
       |  round(CAST(num AS DOUBLE) / (2.0 * n_rows * g_tot), 6) AS tvd
       |FROM agg WHERE CAST(num AS DOUBLE) / (2.0 * n_rows * g_tot)
       |  > $ClosenessT
       |ORDER BY day, k_prop""".stripMargin

  // --- q157: differential-privacy histogram release ---------------------

  /** The two release budgets; sequential composition spends their sum. */
  val DpEpsA = 0.5
  val DpEpsB = 2.0

  /** q157 — Laplace-mechanism histogram release (Dwork et al. 2006) over
    * the (event_type, day) count table, the mechanism a pipeline uses to
    * publish usage statistics about a training corpus without exposing
    * individual rows: each released count is the true count plus
    * Laplace(Δ/ε) noise (sensitivity Δ = 1 for a counting query). Two
    * releases at ε = [[DpEpsA]] and [[DpEpsB]] are published together
    * with the sequential-composition ledger (`cum_eps` = their sum) —
    * the tight release is ~4× noisier, which the output shows cell by
    * cell.
    *
    * Determinism: the Laplace draw is inverse-CDF over a deterministic
    * per-(release, cell) uniform — the salted 60-bit md5 fingerprint
    * scaled by 2⁻⁶⁰ (the repo's standard portable-randomness
    * construction) — so both engines draw the SAME noise; the ln value
    * freezes to ×10⁶ fixed point (q142's discipline) before the single
    * final division. A real deployment swaps the salt for a secret
    * per-release seed; the mechanism is otherwise exactly this.
    *
    * Scale (100 TB): one count aggregate over the release key; noise is
    * a per-row codegen'd expression on the |cells|-sized result — the
    * privacy layer adds zero exchanges. */
  def dpRelease(s: SparkSession, dir: String): DataFrame = {
    val cells = EtlOps.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_true"))
    def release(tag: String, eps: Double) = cells
      .withColumn("release", lit(tag))
      .withColumn("eps", lit(eps))
      .withColumn("u", expr(
        s"CAST(md5_fp60(concat('$tag:', event_type, ':', " +
          "CAST(day AS STRING))) AS DOUBLE) / 1152921504606846976.0"))
      .withColumn("noise", expr(
        s"CAST(floor((-(1.0 / $eps)) * sign(u - 0.5) * " +
          "ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) * 1000000.0) " +
          // explicit double divisor: Spark would otherwise type the
          // 1e6 literal DECIMAL and make the whole column decimal,
          // while DuckDB's `/` is always float division
          "AS BIGINT) / CAST(1000000.0 AS DOUBLE)"))
      .withColumn("n_released",
        round(col("n_true") + col("noise"), 6))
    release("dpA", DpEpsA).unionAll(release("dpB", DpEpsB))
      .select(col("release"), col("eps"), col("event_type"), col("day"),
        col("n_true"), round(col("noise"), 6).as("noise"),
        col("n_released"), lit(DpEpsA + DpEpsB).as("cum_eps"))
      .orderBy("release", "event_type", "day")
  }

  def dpReleaseOracle: String = {
    def rel(tag: String, eps: Double) =
      s"""SELECT '$tag' AS release, CAST($eps AS DOUBLE) AS eps,
         |  event_type, day, n_true,
         |  CAST(floor((-(1.0 / $eps)) * sign(u - 0.5) *
         |    ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) * 1000000.0)
         |    AS BIGINT) / 1000000.0 AS noise
         |FROM (SELECT event_type, day, n_true,
         |  CAST(CAST('0x' || substr(md5('$tag:' || event_type || ':' ||
         |    CAST(day AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
         |    / 1152921504606846976.0 AS u FROM cells)""".stripMargin
    s"""WITH cells AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    count(*) AS n_true FROM events GROUP BY event_type, day),
       |r AS (${rel("dpA", DpEpsA)}
       |UNION ALL ${rel("dpB", DpEpsB)})
       |SELECT release, eps, event_type, day, n_true,
       |  round(noise, 6) AS noise, round(n_true + noise, 6) AS n_released,
       |  CAST(${DpEpsA + DpEpsB} AS DOUBLE) AS cum_eps
       |FROM r ORDER BY release, event_type, day""".stripMargin
  }

  // --- q163: user-level DP release with contribution bounding ------------

  /** Per-user per-cell contribution bound and release budget. */
  val UserDpClip = 2L
  val UserDpEps = 1.0

  /** q163 — USER-level differentially-private histogram release
    * (contribution bounding, Amin et al. 2019): q157's Laplace release
    * protects single EVENTS, but one user can contribute many events
    * to a cell, so the event-level guarantee says nothing about users
    * — the unit a training-data pipeline actually owes privacy to.
    * Here each user's contribution to a (event_type, day) cell is
    * clipped at [[UserDpClip]] first, which caps the release's
    * user-level sensitivity at that bound, and the Laplace scale is
    * sensitivity/ε. The output shows the price of the guarantee cell
    * by cell: `clip_loss` (true − clipped — bias paid to bound the
    * sensitivity) next to `noise` (variance paid for ε), the
    * bias/variance trade every user-level release tunes.
    *
    * Determinism: the q157 machinery — inverse-CDF Laplace over the
    * salted 60-bit fingerprint uniform, ln frozen to ×10⁶ fixed point
    * before the single division.
    *
    * Scale (100 TB): one (cell, user) aggregate (map-combinable; the
    * only corpus-sized exchange keys on cell+user), one cell rollup,
    * per-row codegen noise — the user-level guarantee adds exactly one
    * aggregate level over q157. */
  def userLevelDp(s: SparkSession, dir: String): DataFrame = {
    val perUser = EtlOps.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
      .groupBy("event_type", "day", "user_id")
      .agg(count(lit(1)).as("n_u"))
    perUser.groupBy("event_type", "day")
      .agg(sum(col("n_u")).as("n_true"),
        sum(least(col("n_u"), lit(UserDpClip))).as("n_clipped"))
      .withColumn("u", expr(
        "CAST(md5_fp60(concat('udp:', event_type, ':', " +
          "CAST(day AS STRING))) AS DOUBLE) / 1152921504606846976.0"))
      .withColumn("noise", expr(
        s"CAST(floor((-($UserDpClip.0 / $UserDpEps)) * sign(u - 0.5) * " +
          "ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12)) * 1000000.0) " +
          "AS BIGINT) / CAST(1000000.0 AS DOUBLE)"))
      .select(col("event_type"), col("day"), col("n_true"),
        col("n_clipped"),
        (col("n_true") - col("n_clipped")).as("clip_loss"),
        round(col("noise"), 6).as("noise"),
        round(col("n_clipped") + col("noise"), 6).as("n_released"),
        lit(UserDpEps).as("eps"),
        lit(UserDpClip).as("sensitivity"))
      .orderBy("event_type", "day")
  }

  def userLevelDpOracle: String =
    s"""WITH pu AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id,
       |    count(*) AS n_u
       |  FROM events GROUP BY 1, 2, 3),
       |cells AS (SELECT event_type, day,
       |    CAST(sum(n_u) AS BIGINT) AS n_true,
       |    CAST(sum(least(n_u, $UserDpClip)) AS BIGINT) AS n_clipped
       |  FROM pu GROUP BY 1, 2),
       |r AS (SELECT *, CAST(CAST('0x' || substr(md5('udp:' || event_type
       |    || ':' || CAST(day AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
       |    / 1152921504606846976.0 AS u FROM cells),
       |n AS (SELECT *, CAST(floor((-($UserDpClip.0 / $UserDpEps)) *
       |    sign(u - 0.5) * ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-12))
       |    * 1000000.0) AS BIGINT) / 1000000.0 AS noise FROM r)
       |SELECT event_type, day, n_true, n_clipped,
       |  n_true - n_clipped AS clip_loss, round(noise, 6) AS noise,
       |  round(n_clipped + noise, 6) AS n_released,
       |  CAST($UserDpEps AS DOUBLE) AS eps,
       |  CAST($UserDpClip AS BIGINT) AS sensitivity
       |FROM n ORDER BY event_type, day""".stripMargin

  // --- q122: curation funnel datasheet ----------------------------------

  /** The latin-script slice of the corpus — the funnel's language gate. */
  val FunnelLangs = Seq("en", "de", "es", "fr")

  /** q122 — the curation funnel: one table showing how many documents
    * survive each successive pipeline stage (language gate → Gopher
    * quality stack → exact dedup → benchmark decontamination) with
    * stage-over-stage and cumulative retention. This is the governance
    * artifact every curated-dataset release ships — each stage reuses
    * the EXACT predicate of its standalone query (q104's rule stack,
    * q29's first-occurrence rule, q58's shared-gram test) so the funnel
    * numbers reconcile against them by construction. Runs over the
    * planted-duplicate corpus so the dedup stage provably prunes.
    *
    * Scale (100 TB): per-doc flags are narrow; the dedup stage is ONE
    * window keyed on the content hash (the same exchange the standalone
    * dedup pays); the contamination stage joins the benchmark gram set
    * on the gram key exactly as q58 does (no forced broadcast — the
    * slice's gram set Heaps-scales); and the stage table is built by
    * `stack` on a single aggregate row — five output rows regardless of
    * corpus size, no driver-side loop. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    import TextOps.{wsTokenCount, stopwordHits, LangStopwords}
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    val corpus = d.unionAll(d.withColumn("doc_id",
      col("doc_id") + DedupOps.CopyOffset))
    val nWords = wsTokenCount(col("text"))
    val nonspace = length(regexp_replace(col("text"), "\\s+", "")).cast("bigint")
    val symbols =
      length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("bigint")
    val mwl = nonspace.cast("double") / nWords.cast("double")
    val symRatio = symbols.cast("double") / length(col("text")).cast("double")
    val quality = nWords >= 10 && nWords <= 100000 &&
      mwl >= 3.0 && mwl <= 10.0 && symRatio < 0.1 &&
      stopwordHits(col("text"), LangStopwords.head._2) >= 2
    val wTxt = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text")))
    val flagged = corpus
      .withColumn("s2", col("lang").isin(FunnelLangs: _*))
      .withColumn("s3", col("s2") && quality)
      .withColumn("s4", col("s3") &&
        col("doc_id") === min(when(col("s3"), col("doc_id"))).over(wTxt))
    val grams = wordGrams(corpus.select(col("doc_id"), col("text")), ContamGram)
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    val contam = grams.filter(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("gram"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    flagged.join(contam, Seq("doc_id"), "left")
      .withColumn("s5", col("s4") && col("doc_id") % 97 =!= 0 &&
        col("contaminated").isNull)
      .agg(
        count(lit(1)).as("n1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("n5"))
      .selectExpr(
        """stack(5,
          |  1, 'total',          n1, n1, n1,
          |  2, 'lang',           n2, n1, n1,
          |  3, 'quality',        n3, n2, n1,
          |  4, 'exact_dedup',    n4, n3, n1,
          |  5, 'decontaminated', n5, n4, n1)
          |AS (stage_id, stage, n_docs, n_prev, n_total)""".stripMargin)
      .selectExpr(
        "CAST(stage_id AS BIGINT) AS stage_id", "stage", "n_docs",
        "round(CAST(n_docs AS DOUBLE) / CAST(n_prev AS DOUBLE), 6)" +
          " AS retained_vs_prev",
        "round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)" +
          " AS retained_vs_total")
      .orderBy("stage_id")
  }

  /** q122 oracle — the same five stage predicates as one CTE chain,
    * sharing q104's rule text, the window dedup, and q58's gram join. */
  def curationFunnelOracle: String = {
    val langs = FunnelLangs.map(l => s"'$l'").mkString(", ")
    val n = ContamGram
    val cat = (1 to n).map(k => s"toks[i+${k - 1}]").mkString(" || ' ' || ")
    s"""WITH c AS (SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id + ${DedupOps.CopyOffset}, lang, text
       |  FROM documents),
       |m AS (SELECT doc_id, lang, text,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS symbols,
       |    length(text) AS n_chars,
       |    len(regexp_extract_all(text,
       |      '\\b(${TextOps.LangStopwords.head._2})\\b')) AS stops
       |  FROM c),
       |f AS (SELECT doc_id, text, (lang IN ($langs)) AS s2,
       |    (lang IN ($langs)) AND n_words >= 10 AND n_words <= 100000
       |      AND CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) >= 3.0
       |      AND CAST(nonspace AS DOUBLE) / CAST(n_words AS DOUBLE) <= 10.0
       |      AND CAST(symbols AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1
       |      AND stops >= 2 AS s3
       |  FROM m),
       |f4 AS (SELECT *, s3 AND doc_id = min(CASE WHEN s3 THEN doc_id END)
       |    OVER (PARTITION BY md5(text)) AS s4 FROM f),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
       |    i -> $cat)) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM c)),
       |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
       |ct AS (SELECT DISTINCT g.doc_id FROM g JOIN b USING (gram)
       |  WHERE g.doc_id % 97 <> 0),
       |f5 AS (SELECT f4.*, s4 AND f4.doc_id % 97 <> 0
       |    AND ct.doc_id IS NULL AS s5
       |  FROM f4 LEFT JOIN ct ON f4.doc_id = ct.doc_id),
       |a AS (SELECT count(*) AS n1,
       |    sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS n2,
       |    sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS n3,
       |    sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS n4,
       |    sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS n5 FROM f5),
       |u AS (
       |  SELECT 1 AS stage_id, 'total' AS stage, n1 AS n_docs,
       |    n1 AS n_prev, n1 AS n_total FROM a
       |  UNION ALL SELECT 2, 'lang', n2, n1, n1 FROM a
       |  UNION ALL SELECT 3, 'quality', n3, n2, n1 FROM a
       |  UNION ALL SELECT 4, 'exact_dedup', n4, n3, n1 FROM a
       |  UNION ALL SELECT 5, 'decontaminated', n5, n4, n1 FROM a)
       |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  round(CAST(n_docs AS DOUBLE) / CAST(n_prev AS DOUBLE), 6)
       |    AS retained_vs_prev,
       |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
       |    AS retained_vs_total
       |FROM u ORDER BY stage_id""".stripMargin
  }

  // --- q178: soft-dedup sampling weights ---------------------------------

  /** q178 — soft-dedup sampling weights: instead of dropping duplicate
    * clusters to one copy (q110), keep one representative per cluster
    * weighted by √cluster_size — duplicated content contributes
    * sublinearly rather than zero, the soft-dedup compromise used when
    * duplication correlates with quality (the "copies as votes"
    * argument). Emits each representative with its weight and its
    * within-source sampling probability — the sampler input a mixture
    * builder consumes directly (q75's weighted sampler composes on
    * top).
    *
    * Parity: weights go through floor(√n·10⁹) BIGINT (√ is
    * IEEE-exactly-rounded, the q135 precedent); per-source totals are
    * order-free integer sums; the probability is one double division.
    *
    * Scale (100 TB): everything downstream of the q59/q110 label
    * propagation (the paid-for part) is |clusters|-sized: a window
    * rank, one source-keyed weight total, one broadcast-back join. */
  def dedupWeights(s: SparkSession, dir: String): DataFrame = {
    val reps = clusterRepresentatives(s, dir)
    val src = t(s, dir, "documents").select(
      col("doc_id").as("rep_doc"), col("source"))
    val weighted = reps.join(src, "rep_doc")
      .withColumn("weight_fp",
        floor(sqrt(col("n_members").cast("double")) * 1e9).cast("bigint"))
    val totals = weighted.groupBy("source")
      .agg(sum(col("weight_fp")).as("tw"))
    weighted.join(broadcast(totals), "source")
      .select(col("cluster_id"), col("rep_doc"), col("source"),
        col("n_members"), col("weight_fp"),
        round(col("weight_fp").cast("double") / col("tw").cast("double"), 6)
          .as("prob"))
      .orderBy("cluster_id")
  }

  /** q178 oracle: the q110 closure + √-weight + per-source normalize. */
  def dedupWeightsOracle(q110Sql: String): String =
    s"""WITH reps AS ($q110Sql),
       |w AS (SELECT r.cluster_id, r.rep_doc, d.source, r.n_members,
       |    CAST(floor(sqrt(CAST(r.n_members AS DOUBLE)) * 1e9) AS BIGINT)
       |      AS weight_fp
       |  FROM reps r JOIN documents d ON d.doc_id = r.rep_doc),
       |t AS (SELECT source, CAST(sum(weight_fp) AS BIGINT) AS tw
       |  FROM w GROUP BY source)
       |SELECT w.cluster_id, w.rep_doc, w.source, w.n_members, w.weight_fp,
       |  round(CAST(w.weight_fp AS DOUBLE) / CAST(t.tw AS DOUBLE), 6)
       |    AS prob
       |FROM w JOIN t USING (source) ORDER BY w.cluster_id""".stripMargin

  // --- q182: deterministic bottom-k reservoir sample ----------------------

  /** Sample size for the bottom-k reservoir. */
  val ReservoirK = 100

  /** q182 — distributed uniform sample as a deterministic bottom-k:
    * assign every document a salted-fingerprint priority and keep the
    * [[ReservoirK]] smallest. Bottom-k by a hash priority IS the
    * mergeable reservoir (Efraimidis–Spirakis with uniform weights):
    * each partition keeps its local k, partials merge by keeping the
    * global k smallest — associative, re-runnable, and (unlike
    * `rand()`-based reservoirs) reproducible across engines, which is
    * what makes the eval-subset selection auditable.
    *
    * Scale (100 TB): plans as TakeOrderedAndProject — per-partition
    * top-k heaps, one k-row merge, NO global sort exchange. The
    * footgun this replaces (`ORDER BY rand() LIMIT k`) range-shuffles
    * the corpus. */
  def bottomKSample(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .withColumn("priority", call_function("md5_fp60",
        concat(lit("smp:"), col("doc_id").cast("string"))))
      .orderBy("priority")
      .limit(ReservoirK)
  }

  def bottomKSampleOracle: String =
    s"""SELECT doc_id, source,
       |  CAST('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)
       |    AS BIGINT) AS priority
       |FROM documents ORDER BY priority LIMIT $ReservoirK""".stripMargin

  // --- q201: Pareto-frontier (2-D skyline) document selection -------------

  /** Bucket width (length units) for the skyline's two-phase prefix
    * max — the q197 pattern. */
  val SkyBucket = 64L

  /** q201 — Pareto-optimal document frontier: the 2-D skyline that
    * maximizes quality and minimizes length — a document survives iff
    * no other document is at least as good on both axes and strictly
    * better on one. The data-selection shape behind "best quality at
    * every length budget" curation: the frontier IS the menu of
    * optimal quality/cost trades, and everything off it is dominated
    * spend. Quality is the shared q27 [[TextOps.qualityOf]] expression
    * (frozen to ×1e6 fixed point so dominance compares exact
    * integers).
    *
    * Algorithm (sort-free at scale): bucket by length; per-bucket and
    * prefix running maxima of quality over shorter docs give each doc
    * the best quality at ≤ its length (the q197 two-phase prefix
    * shape); a doc is on the frontier iff nothing strictly shorter
    * beats-or-ties its quality and nothing of equal length beats it
    * (exact dominance tie-handling — equal (len, q) twins all survive,
    * dominated only by a STRICT improvement).
    *
    * Parity: all comparisons are on exact integers (length, q_fp).
    *
    * Scale (100 TB): one corpus scan + per-bucket windows parallel
    * across length ranges + one tiny bucket-prefix frame — never a
    * global sort, never a self-join. */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("doc_id"),
      col("n_chars"),
      floor(TextOps.qualityOf(col("text")) * lit(1e6)).cast("long")
        .as("q_fp"))
      .withColumn("bucket", floor(col("n_chars") / SkyBucket).cast("long"))
    // best quality among docs STRICTLY shorter: per-bucket running max
    // over length order + the prefix max of all earlier buckets
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("n_chars"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val bmax = d.groupBy("bucket").agg(max(col("q_fp")).as("bq"))
    val wPrev = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = bmax.withColumn("prev_q", max(col("bq")).over(wPrev))
      .select(col("bucket"), col("prev_q"))
    // best quality among docs of EQUAL length (to apply the strict rule)
    val wEq = Window.partitionBy(col("n_chars"))
    val scored = d.join(broadcast(prev), Seq("bucket"))
      .withColumn("shorter_best",
        greatest(coalesce(max(col("q_fp")).over(wIn), lit(-1L)),
          coalesce(col("prev_q"), lit(-1L))))
      .withColumn("equal_best", max(col("q_fp")).over(wEq))
    scored
      .filter(col("q_fp") > col("shorter_best") &&
        col("q_fp") === col("equal_best"))
      .select(col("doc_id"), col("n_chars"),
        round(col("q_fp").cast("double") / lit(1e6), 6).as("quality"))
      .orderBy("n_chars", "doc_id")
  }

  def paretoFrontierOracle: String = {
    val qSql =
      s"""CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) * 0.5
         |  + CAST(len(regexp_extract_all(text, '\\b(the|and|of|to|in|is|you|that)\\b')) AS DOUBLE)
         |    / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) * 0.3
         |  + (CASE WHEN length(text) >= 100 AND length(text) <= 500
         |     THEN 0.2 ELSE 0.0 END)""".stripMargin
    s"""WITH d AS (SELECT doc_id, n_chars,
       |    CAST(floor(($qSql) * 1000000.0) AS BIGINT) AS q_fp,
       |    CAST(floor(CAST(n_chars AS DOUBLE) / $SkyBucket) AS BIGINT)
       |      AS bucket
       |  FROM documents),
       |bmax AS (SELECT bucket, max(q_fp) AS bq FROM d GROUP BY bucket),
       |prev AS (SELECT bucket, max(bq) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_q
       |  FROM bmax),
       |scored AS (SELECT d.doc_id, d.n_chars, d.q_fp,
       |    greatest(
       |      coalesce(max(d.q_fp) OVER (PARTITION BY d.bucket
       |        ORDER BY d.n_chars
       |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |        -1),
       |      coalesce(prev.prev_q, -1)) AS shorter_best,
       |    max(d.q_fp) OVER (PARTITION BY d.n_chars) AS equal_best
       |  FROM d JOIN prev USING (bucket))
       |SELECT doc_id, n_chars,
       |  round(CAST(q_fp AS DOUBLE) / 1000000.0, 6) AS quality
       |FROM scored
       |WHERE q_fp > shorter_best AND q_fp = equal_best
       |ORDER BY n_chars, doc_id""".stripMargin
  }

  // --- q194: quality-gate agreement (Cohen's kappa) ----------------------

  /** Quality-score cut for the q27 gate inside the agreement audit
    * (≈ the corpus median, so the gate actually splits). */
  val GateQualityMin = 0.6

  /** q194 — inter-gate agreement audit: the corpus's three production
    * quality filters — q27's blended score (≥ [[GateQualityMin]]),
    * q104's Gopher rule stack, q129's hashed-classifier logit (≥ 0) —
    * compared pairwise by Cohen's κ over their 2×2 agreement tables.
    * The meta-measurement a curation team runs before trusting any one
    * gate: high raw agreement with κ ≈ 0 means the gates agree only by
    * base rate, and an ensemble adds nothing. Each gate expression is
    * THE production definition (shared `qualityOf` / `gopherPassOf` /
    * `logitOf` — the audited gates cannot drift from the audit).
    *
    * Parity: all 2×2 cells are exact integers from one conditional
    * aggregate; p_o, p_e, κ are divisions over those integers in one
    * fixed op order.
    *
    * Scale (100 TB): all three gates evaluate in ONE codegen'd
    * projection over one corpus scan; the aggregate collapses map-side
    * to a single 13-column row, unpivoted to 3 pair rows. */
  def gateKappa(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      (TextOps.qualityOf(col("text")) >= GateQualityMin).as("a"),
      TrainPrepOps.gopherPassOf(col("text")).as("b"),
      (MixtureOps.logitOf >= 0L).as("c"))
    def cells(pfx: String, x: String, y: String) = Seq(
      sum(when(col(x) && col(y), 1L).otherwise(0L)).as(s"${pfx}_11"),
      sum(when(col(x) && !col(y), 1L).otherwise(0L)).as(s"${pfx}_10"),
      sum(when(!col(x) && col(y), 1L).otherwise(0L)).as(s"${pfx}_01"),
      sum(when(!col(x) && !col(y), 1L).otherwise(0L)).as(s"${pfx}_00"))
    val aggs = cells("ab", "a", "b") ++ cells("ac", "a", "c") ++
      cells("bc", "b", "c")
    val one = d.agg(count(lit(1)).as("n"), aggs: _*)
    val stacked = one.select(col("n"), expr(
      "stack(3, " +
        "'quality~gopher', ab_11, ab_10, ab_01, ab_00, " +
        "'quality~classifier', ac_11, ac_10, ac_01, ac_00, " +
        "'gopher~classifier', bc_11, bc_10, bc_01, bc_00) " +
        "AS (pair, n11, n10, n01, n00)"))
    val n = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / n
    val pX = (col("n11") + col("n10")).cast("double") / n
    val pY = (col("n11") + col("n01")).cast("double") / n
    val pe = pX * pY + (lit(1.0) - pX) * (lit(1.0) - pY)
    stacked.select(col("pair"), col("n"), col("n11"), col("n10"),
      col("n01"), col("n00"),
      round(po, 6).as("p_observed"),
      round(pe, 6).as("p_expected"),
      round(when(pe === 1.0, 1.0).otherwise((po - pe) / (lit(1.0) - pe)), 6)
        .as("kappa"))
      .orderBy("pair")
  }

  /** SQL twins of the three production gates — ONE definition feeds
    * every oracle that replays the stack (q194's agreement audit,
    * q210's ablation), so the audited SQL cannot drift per consumer.
    * [[ClfLogitWSql]] is the per-token classifier contribution (summed
    * per doc over the `tok` CTE); the other two are per-row predicates
    * over `text`. */
  private[graft] val ClfLogitWSql: String =
    s"CAST('0x' || substr(md5('wgt' || CAST(" +
      s"CAST('0x' || substr(md5('clf' || w), 1, 15) AS BIGINT)" +
      s" % ${MixtureOps.ClfBuckets} AS VARCHAR)), 1, 15) AS BIGINT)" +
      s" % 2001 - 1000"

  private[graft] val QualitySql: String =
    s"""CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
       |    / CAST(length(text) AS DOUBLE) * 0.5
       |  + CAST(len(regexp_extract_all(text, '\\b(the|and|of|to|in|is|you|that)\\b')) AS DOUBLE)
       |    / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) * 0.3
       |  + (CASE WHEN length(text) >= 100 AND length(text) <= 500
       |     THEN 0.2 ELSE 0.0 END)""".stripMargin

  private[graft] val GopherSql: String =
    s"""len(string_split_regex(trim(text), '\\s+')) >= 10
       |  AND len(string_split_regex(trim(text), '\\s+')) <= 100000
       |  AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) >= 3.0
       |  AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) <= 10.0
       |  AND CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |    / CAST(length(text) AS DOUBLE) < 0.1
       |  AND len(regexp_extract_all(text, '\\b(the|and|of|to|in|is|you|that)\\b')) >= 2""".stripMargin

  def gateKappaOracle: String = {
    val wSql = ClfLogitWSql
    val quality = QualitySql
    val gopher = GopherSql
    def cellSql(x: String, y: String, a: String) = Seq(
      s"CAST(sum(CASE WHEN $x AND $y THEN 1 ELSE 0 END) AS BIGINT) AS ${a}_11",
      s"CAST(sum(CASE WHEN $x AND NOT $y THEN 1 ELSE 0 END) AS BIGINT) AS ${a}_10",
      s"CAST(sum(CASE WHEN NOT $x AND $y THEN 1 ELSE 0 END) AS BIGINT) AS ${a}_01",
      s"CAST(sum(CASE WHEN NOT $x AND NOT $y THEN 1 ELSE 0 END) AS BIGINT) AS ${a}_00")
      .mkString(",\n    ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($wSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |g AS (SELECT
       |    ($quality) >= $GateQualityMin AS a,
       |    ($gopher) AS b,
       |    lg.logit >= 0 AS c
       |  FROM documents JOIN lg USING (doc_id)),
       |one AS (SELECT count(*) AS n,
       |    ${cellSql("a", "b", "ab")},
       |    ${cellSql("a", "c", "ac")},
       |    ${cellSql("b", "c", "bc")}
       |  FROM g),
       |st AS (
       |  SELECT 'quality~gopher' AS pair, n, ab_11 AS n11, ab_10 AS n10,
       |    ab_01 AS n01, ab_00 AS n00 FROM one
       |  UNION ALL SELECT 'quality~classifier', n, ac_11, ac_10, ac_01,
       |    ac_00 FROM one
       |  UNION ALL SELECT 'gopher~classifier', n, bc_11, bc_10, bc_01,
       |    bc_00 FROM one)
       |SELECT pair, n, n11, n10, n01, n00,
       |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS p_observed,
       |  round(CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
       |      * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       |    + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
       |    AS p_expected,
       |  round(CASE WHEN CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
       |      * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       |    + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) = 1.0
       |    THEN 1.0
       |    ELSE (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
       |        * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       |        + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
       |      / (1.0 - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
       |        * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
       |        + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
       |          * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))))
       |    END, 6) AS kappa
       |FROM st ORDER BY pair""".stripMargin
  }

  // --- q191: canary exposure audit (memorization-risk curve) -------------

  /** Duplication levels and canaries per level for the planted-canary
    * curve (Carlini et al., "Quantifying Memorization" — extraction
    * risk grows with duplication count, so dedup pipelines must verify
    * how often any secret survived at each multiplicity). */
  val CanLevels = Seq(1, 2, 4, 8, 16)
  val CanPerLevel = 3
  val CanToks = 6

  /** The canary catalog: (level, idx) → globally-unique token sequence
    * plus its planting targets (doc_ids [off, off+level) — dense ids,
    * below every ScaleUnion copy offset) and one DECOY target carrying
    * only the first half of the token sequence. */
  private[graft] case class Canary(level: Int, idx: Int, toks: Seq[String],
      targets: Seq[Long], decoy: Long)
  private[graft] def canaries: Seq[Canary] =
    for {
      (d, li) <- CanLevels.zipWithIndex
      i <- 0 until CanPerLevel
    } yield {
      val off = li * 90 + i * 30
      Canary(d, i, (0 until CanToks).map(j => s"cnry${d}x${i}w$j"),
        (0 until d).map(r => (off + r).toLong), (off + 25).toLong)
    }

  /** q191 — canary exposure audit: a catalog of marker token sequences
    * is planted into the corpus at controlled duplication levels (plus
    * half-prefix decoys), then recovered by the production two-stage
    * probe — candidate docs from a single-token inverted-index hit,
    * full-sequence verification ONLY on candidates. Reports, per
    * duplication level, planted vs candidate vs verified counts: the
    * memorization-risk curve (how many copies of a secret survive at
    * each multiplicity) and an exactness check on the probe (decoys
    * must be candidates yet never verify).
    *
    * Parity: all integers.
    *
    * Scale (100 TB): the corpus pays one token-explode probe against
    * the broadcast first-token set (inverted-index shape, q88); the
    * expensive full-sequence check touches only candidate docs —
    * catalog-bounded, not corpus-bounded. */
  def canaryAudit(s: SparkSession, dir: String): DataFrame = {
    val cats = canaries
    val plantRows = cats.flatMap(c =>
      c.targets.map(t => (t, c.toks.mkString(" "))) :+
        (c.decoy, c.toks.take(CanToks / 2).mkString(" ")))
    val plants = s.createDataFrame(plantRows).toDF("doc_id", "plant")
    val docs = t(s, dir, "documents").join(broadcast(plants), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        when(col("plant").isNotNull,
          concat(col("text"), lit(" "), col("plant")))
          .otherwise(col("text")).as("text"))
    val catalog = s.createDataFrame(cats.map(c =>
      (c.level.toLong, c.idx.toLong, c.toks.head, c.toks.mkString(" "))))
      .toDF("dup_level", "idx", "w0", "canary")
    // stage 1: inverted-index probe on the first token only
    val cands = docs
      .select(col("doc_id"), col("text"),
        explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(catalog), col("tok") === col("w0"))
      .select("dup_level", "idx", "doc_id", "text", "canary").distinct()
    // stage 2: full-sequence verification on candidates only
    val ver = cands.withColumn("hit",
      instr(concat(lit(" "), col("text"), lit(" ")),
        concat(lit(" "), col("canary"), lit(" "))) > 0)
    ver.groupBy("dup_level")
      .agg(countDistinct(col("idx")).as("n_canaries"),
        count(lit(1)).as("candidate_docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("verified_docs"))
      .select(col("dup_level"), col("n_canaries"),
        (col("dup_level") * CanPerLevel).as("planted_docs"),
        col("candidate_docs"), col("verified_docs"),
        (col("candidate_docs") - col("verified_docs"))
          .as("decoys_rejected"),
        (col("verified_docs") === col("dup_level") * CanPerLevel)
          .as("recovery_ok"))
      .orderBy("dup_level")
  }

  def canaryAuditOracle: String = {
    val plantVals = canaries.flatMap(c =>
      c.targets.map(t => s"($t, '${c.toks.mkString(" ")}')") :+
        s"(${c.decoy}, '${c.toks.take(CanToks / 2).mkString(" ")}')")
      .mkString(", ")
    val catVals = canaries.map(c =>
      s"(${c.level}, ${c.idx}, '${c.toks.head}', '${c.toks.mkString(" ")}')")
      .mkString(", ")
    s"""WITH plants(doc_id, plant) AS (VALUES $plantVals),
       |cat(dup_level, idx, w0, canary) AS (VALUES $catVals),
       |d AS (SELECT doc_id,
       |    CASE WHEN p.plant IS NOT NULL THEN text || ' ' || p.plant
       |      ELSE text END AS text
       |  FROM documents LEFT JOIN plants p USING (doc_id)),
       |cands AS (SELECT DISTINCT c.dup_level, c.idx, t.doc_id, t.text,
       |    c.canary
       |  FROM (SELECT doc_id, text, unnest(string_split(text, ' ')) AS tok
       |    FROM d) t
       |  JOIN cat c ON t.tok = c.w0),
       |ver AS (SELECT dup_level, idx,
       |    position(' ' || canary || ' ' IN ' ' || text || ' ') > 0 AS hit
       |  FROM cands)
       |SELECT CAST(dup_level AS BIGINT) AS dup_level,
       |  count(DISTINCT idx) AS n_canaries,
       |  CAST(dup_level * $CanPerLevel AS BIGINT) AS planted_docs,
       |  count(*) AS candidate_docs,
       |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
       |    AS verified_docs,
       |  CAST(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
       |    AS decoys_rejected,
       |  sum(CASE WHEN hit THEN 1 ELSE 0 END) = dup_level * $CanPerLevel
       |    AS recovery_ok
       |FROM ver GROUP BY dup_level ORDER BY dup_level""".stripMargin
  }

  // --- q203: annotator-quality audit (crowd labeling QA) -----------------

  /** Annotator pool size; annotator `a` mislabels with probability
    * a/10 under the deterministic noise hash, so the pool spans
    * perfect (a=0) to 60%-noise (a=6) raters. */
  val AnnotatorCount = 7

  /** q203 — annotator-quality audit: the QA step between collecting
    * crowd labels and trusting them. A pool of [[AnnotatorCount]]
    * annotators labels every document's language; each annotator's
    * labels are the truth corrupted by a deterministic per-(doc,
    * annotator) noise hash at rate a/10 (the in-query-fixture pattern —
    * q149/q191 — so the oracle can rebuild the exact same label
    * matrix). Consensus is the per-item MAJORITY vote (ties break to
    * the lowest label index); the audit reports, per annotator,
    * agreement with consensus and accuracy against truth, and flags
    * raters whose consensus agreement drops below 50% — the
    * Dawid–Skene-style quality signal without the EM iteration (one
    * majority round is the standard production first pass).
    *
    * Parity: everything is integer arithmetic on label indices; the
    * two rates are one double division each.
    *
    * Scale (100 TB): the label matrix is |docs|·A rows built by a
    * constant-width explode (no shuffle); consensus is one hash
    * exchange on doc_id; the per-annotator rollup reduces to A rows.
    * Real crowd data arrives AS this (item, annotator, label) shape —
    * the synthetic corruption step is fixture-only. */
  def annotatorQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val langd = docs.select("lang").distinct()
      .withColumn("true_idx",
        (row_number().over(Window.orderBy("lang")) - 1).cast("bigint"))
    val nl = langd.agg(count(lit(1)).as("L"))
    val ann = docs.join(broadcast(langd), "lang")
      .crossJoin(broadcast(nl))
      .select(col("doc_id"), col("true_idx"), col("L"),
        explode(expr(s"sequence(0, ${AnnotatorCount - 1})")).as("a"))
      .withColumn("lab",
        when((col("doc_id") * 31 + col("a") * 7) % 10 < col("a"),
          (col("true_idx") + 1 + (col("doc_id") + col("a")) % (col("L") - 1))
            % col("L"))
          .otherwise(col("true_idx")))
    val wv = Window.partitionBy("doc_id")
      .orderBy(col("votes").desc, col("lab").asc)
    val cons = ann.groupBy("doc_id", "lab")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lab").as("cons_idx"))
    val joined = ann.join(cons, "doc_id").persist()
    // consensus quality is a corpus-level scalar: every annotator row
    // carries it (the q181 contract-broadcast convention)
    val consAcc = joined.filter(col("a") === 0).agg(
      sum(when(col("cons_idx") === col("true_idx"), 1L).otherwise(0L))
        .as("n_cons_correct"),
      count(lit(1)).as("n_docs"))
    joined.groupBy("a")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("lab") === col("cons_idx"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("lab") === col("true_idx"), 1L).otherwise(0L))
          .as("n_correct"))
      .crossJoin(broadcast(consAcc))
      .select(col("a").cast("bigint").as("annotator"), col("n_items"),
        col("n_agree"),
        round(col("n_agree").cast("double") /
          col("n_items").cast("double"), 6).as("agree_rate"),
        col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_items").cast("double"), 6).as("accuracy"),
        (col("n_agree") * 2 < col("n_items")).as("flagged"),
        round(col("n_cons_correct").cast("double") /
          col("n_docs").cast("double"), 6).as("consensus_accuracy"))
      .orderBy("annotator")
  }

  def annotatorQualityOracle: String =
    s"""WITH langd AS (SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT)
       |      AS true_idx
       |  FROM (SELECT DISTINCT lang FROM documents)),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS L FROM langd),
       |ann AS (SELECT d.doc_id, ld.true_idx, nl.L, a.a,
       |    CASE WHEN (d.doc_id * 31 + a.a * 7) % 10 < a.a
       |      THEN (ld.true_idx + 1 + (d.doc_id + a.a) % (nl.L - 1)) % nl.L
       |      ELSE ld.true_idx END AS lab
       |  FROM documents d
       |  JOIN langd ld USING (lang) CROSS JOIN nl
       |  CROSS JOIN (SELECT CAST(unnest(range(0, ${AnnotatorCount})) AS
       |    BIGINT) AS a) a),
       |votes AS (SELECT doc_id, lab, count(*) AS votes FROM ann
       |  GROUP BY doc_id, lab),
       |cons AS (SELECT doc_id, lab AS cons_idx FROM (
       |  SELECT doc_id, lab, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY votes DESC, lab ASC) AS rn FROM votes)
       |  WHERE rn = 1),
       |j AS (SELECT ann.*, cons.cons_idx FROM ann JOIN cons
       |  USING (doc_id)),
       |ca AS (SELECT
       |    CAST(sum(CASE WHEN cons_idx = true_idx THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_cons_correct,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM j WHERE a = 0)
       |SELECT a AS annotator, CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(CASE WHEN lab = cons_idx THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  round(CAST(sum(CASE WHEN lab = cons_idx THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS agree_rate,
       |  CAST(sum(CASE WHEN lab = true_idx THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  round(CAST(sum(CASE WHEN lab = true_idx THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS accuracy,
       |  sum(CASE WHEN lab = cons_idx THEN 1 ELSE 0 END) * 2 < count(*)
       |    AS flagged,
       |  round(CAST(ca.n_cons_correct AS DOUBLE) /
       |    CAST(ca.n_docs AS DOUBLE), 6) AS consensus_accuracy
       |FROM j CROSS JOIN ca
       |GROUP BY a, ca.n_cons_correct, ca.n_docs ORDER BY annotator""".stripMargin

  // --- q205: dedup survivor-policy comparison -----------------------------

  /** q205 — dedup survivor-policy comparison: once near-dup clusters
    * exist, WHICH member survives is a policy choice with corpus-level
    * consequences, and this op prices the three standard policies
    * against each other on the graded-variant corpus
    * ([[DedupOps.corpusSpread]] — every cluster holds the original plus
    * five shortened variants, so the policies genuinely diverge):
    * keep-first-seen (minimum arrival fingerprint — what a streaming
    * ingest keeps by default), keep-longest (max token count), and
    * keep-best-quality (max of a deterministic per-member quality
    * score). Per source: surviving token mass and mean quality under
    * each policy plus pairwise policy-disagreement counts — the table
    * that turns "pick a survivor policy" from folklore into a measured
    * trade (keep-first loses X% tokens; keep-longest sacrifices Y
    * quality points).
    *
    * Cluster key is the planted orig_id: this op audits the POLICY
    * layer, not detection (q31/q118 own detection; q110 picks
    * centroid representatives for SEMANTIC clusters — this is the
    * lexical-dedup survivor rule).
    *
    * Parity: arrival order is the md5_fp60 hash (q130/q132's exact
    * integer convention); token counts and quality scores are
    * integers; means divide once at the end.
    *
    * Scale (100 TB): ONE hash exchange on the cluster key drives all
    * three policies (three rank windows share the partitioning), then
    * a |clusters|-row rollup; no policy pays its own corpus scan. */
  def survivorPolicy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = DedupOps.corpusSpread(s, dir)
      .withColumn("orig_id", col("doc_id") % DedupOps.CopyOffset)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("quality", (col("doc_id") * 7 + 3) % 13)
      .withColumn("arr", TextOps.md5Fingerprint60(
        concat(lit("surv"), col("doc_id").cast("string"))))
    val byC = Window.partitionBy("orig_id")
    val picked = members
      .withColumn("rn_f",
        row_number().over(byC.orderBy(col("arr"), col("doc_id"))))
      .withColumn("rn_l",
        row_number().over(byC.orderBy(col("n_toks").desc, col("doc_id"))))
      .withColumn("rn_q",
        row_number().over(byC.orderBy(col("quality").desc, col("doc_id"))))
      .groupBy("orig_id")
      .agg(
        max(when(col("rn_f") === 1, col("doc_id"))).as("f_doc"),
        max(when(col("rn_f") === 1, col("n_toks"))).as("f_toks"),
        max(when(col("rn_f") === 1, col("quality"))).as("f_q"),
        max(when(col("rn_l") === 1, col("doc_id"))).as("l_doc"),
        max(when(col("rn_l") === 1, col("n_toks"))).as("l_toks"),
        max(when(col("rn_l") === 1, col("quality"))).as("l_q"),
        max(when(col("rn_q") === 1, col("doc_id"))).as("q_doc"),
        max(when(col("rn_q") === 1, col("n_toks"))).as("q_toks"),
        max(when(col("rn_q") === 1, col("quality"))).as("q_q"))
    val src = t(s, dir, "documents")
      .select(col("doc_id").as("orig_id"), col("source"))
    picked.join(src, "orig_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("f_toks")).as("first_toks"),
        sum(col("l_toks")).as("longest_toks"),
        sum(col("q_toks")).as("quality_toks"),
        round(sum(col("f_q")).cast("double") /
          count(lit(1)).cast("double"), 6).as("first_mean_q"),
        round(sum(col("l_q")).cast("double") /
          count(lit(1)).cast("double"), 6).as("longest_mean_q"),
        round(sum(col("q_q")).cast("double") /
          count(lit(1)).cast("double"), 6).as("quality_mean_q"),
        sum(when(col("f_doc") =!= col("l_doc"), 1L).otherwise(0L))
          .as("n_first_vs_longest"),
        sum(when(col("f_doc") =!= col("q_doc"), 1L).otherwise(0L))
          .as("n_first_vs_quality"),
        sum(when(col("l_doc") =!= col("q_doc"), 1L).otherwise(0L))
          .as("n_longest_vs_quality"))
      .orderBy("source")
  }

  def survivorPolicyOracle: String =
    s"""WITH ${OracleGen.CorpusSpread},
       |mem AS (SELECT doc_id, doc_id % ${DedupOps.CopyOffset} AS orig_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    (doc_id * 7 + 3) % 13 AS quality,
       |    CAST('0x' || substr(md5('surv' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) AS arr
       |  FROM corpus),
       |rk AS (SELECT *,
       |    row_number() OVER (PARTITION BY orig_id
       |      ORDER BY arr, doc_id) AS rn_f,
       |    row_number() OVER (PARTITION BY orig_id
       |      ORDER BY n_toks DESC, doc_id) AS rn_l,
       |    row_number() OVER (PARTITION BY orig_id
       |      ORDER BY quality DESC, doc_id) AS rn_q
       |  FROM mem),
       |pk AS (SELECT orig_id,
       |    max(CASE WHEN rn_f = 1 THEN doc_id END) AS f_doc,
       |    max(CASE WHEN rn_f = 1 THEN n_toks END) AS f_toks,
       |    max(CASE WHEN rn_f = 1 THEN quality END) AS f_q,
       |    max(CASE WHEN rn_l = 1 THEN doc_id END) AS l_doc,
       |    max(CASE WHEN rn_l = 1 THEN n_toks END) AS l_toks,
       |    max(CASE WHEN rn_l = 1 THEN quality END) AS l_q,
       |    max(CASE WHEN rn_q = 1 THEN doc_id END) AS q_doc,
       |    max(CASE WHEN rn_q = 1 THEN n_toks END) AS q_toks,
       |    max(CASE WHEN rn_q = 1 THEN quality END) AS q_q
       |  FROM rk GROUP BY orig_id)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(f_toks) AS BIGINT) AS first_toks,
       |  CAST(sum(l_toks) AS BIGINT) AS longest_toks,
       |  CAST(sum(q_toks) AS BIGINT) AS quality_toks,
       |  round(CAST(sum(f_q) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS first_mean_q,
       |  round(CAST(sum(l_q) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS longest_mean_q,
       |  round(CAST(sum(q_q) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS quality_mean_q,
       |  CAST(sum(CASE WHEN f_doc <> l_doc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first_vs_longest,
       |  CAST(sum(CASE WHEN f_doc <> q_doc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first_vs_quality,
       |  CAST(sum(CASE WHEN l_doc <> q_doc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_longest_vs_quality
       |FROM pk JOIN documents d ON pk.orig_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --- q217: domain blocklist filter ---------------------------------------

  /** Blocked eTLD+1 domains (the spam/SEO blocklist a web-corpus
    * pipeline broadcasts). */
  val DomainBlocklist: Seq[String] =
    Seq("site0.com", "site7.com", "site13.com", "site29.com")

  /** q217 — URL/domain curation: web corpora are filtered at the
    * DOMAIN level before any content heuristic runs (C4/RefinedWeb
    * style blocklists) — extract the host from each document's source
    * URL, reduce it to its registrable domain (eTLD+1), and gate
    * against a broadcast blocklist; report per source the doc/token
    * mass removed and the distinct-domain footprint. The fixture has
    * no URL column, so a deterministic one is PLANTED per doc
    * (sub{0..2}.site{0..36}.com — the q149 pattern); the extraction
    * regexes and the gate are the production path.
    *
    * Parity: regex extraction is identical RE2-compatible syntax in
    * both engines; counting is integer; the removed fraction divides
    * once.
    *
    * Scale (100 TB): pure per-row regex + a broadcast semi-join on the
    * blocklist + one source rollup — the exact shape of a production
    * domain gate (the blocklist is always broadcast-sized; domain
    * REPUTATION joins that outgrow broadcast shuffle on the eTLD+1
    * key, documented here as the growth path). */
  def domainFilter(s: SparkSession, dir: String): DataFrame = {
    import TextOps.wsTokenCount
    val blockSet = DomainBlocklist
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      wsTokenCount(col("text")).cast("bigint").as("toks"),
      concat(lit("https://sub"), (col("doc_id") % 3).cast("string"),
        lit(".site"), (col("doc_id") % 37).cast("string"),
        lit(".com/doc/"), col("doc_id").cast("string")).as("url"))
    docs
      .withColumn("host", regexp_extract(col("url"), "https?://([^/]+)/", 1))
      .withColumn("etld1",
        regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("blocked", col("etld1").isin(blockSet: _*))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_toks"),
        countDistinct(col("etld1")).as("n_domains"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("blocked_docs"),
        sum(when(col("blocked"), col("toks")).otherwise(0L))
          .as("blocked_toks"))
      .withColumn("blocked_frac", round(
        col("blocked_docs").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  def domainFilterOracle: String = {
    val blist = DomainBlocklist.map(d => s"'$d'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks,
       |    'https://sub' || CAST(doc_id % 3 AS VARCHAR) || '.site' ||
       |      CAST(doc_id % 37 AS VARCHAR) || '.com/doc/' ||
       |      CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |h AS (SELECT source, toks,
       |    regexp_extract(regexp_extract(url, 'https?://([^/]+)/', 1),
       |      '([^.]+\\.[^.]+)$$', 1) AS etld1
       |  FROM d),
       |g AS (SELECT source, toks, etld1,
       |    etld1 IN ($blist) AS blocked FROM h)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_toks,
       |  CAST(count(DISTINCT etld1) AS BIGINT) AS n_domains,
       |  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
       |    AS blocked_docs,
       |  CAST(sum(CASE WHEN blocked THEN toks ELSE 0 END) AS BIGINT)
       |    AS blocked_toks,
       |  round(CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 6) AS blocked_frac
       |FROM g GROUP BY source ORDER BY source""".stripMargin
  }

  // --- q219: quota-balanced eval-set sampler --------------------------------

  /** Per-(lang, quality-band) quota for the balanced eval set. */
  val QuotaPerCell = 20L

  /** q219 — quota-balanced eval-set construction: an eval set wants
    * FIXED per-cell coverage (every language × quality band equally
    * probed), not the corpus's proportions (q64's stratified sampler
    * preserves those). Cells are (lang, quality quintile band); each
    * cell contributes its [[QuotaPerCell]] lowest-hash documents (the
    * q182 deterministic bottom-k priority, so the draw is reproducible
    * and mergeable), and under-populated cells report their SHORTFALL
    * — the number that tells an eval owner which strata the corpus
    * cannot support. A selection fingerprint (md5 over the ordered
    * picked ids) pins the exact membership.
    *
    * Parity: the quality band floors the bit-reproducible q27 score;
    * priorities are md5_fp60 integers; the fingerprint hashes the
    * id list ordered by (priority, doc_id).
    *
    * Scale (100 TB): one hash exchange on the cell key; the per-cell
    * bottom-k is a rank window over cells (quota-bounded output). */
  def quotaSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      least(floor(TextOps.qualityOf(col("text")) * 5), lit(4L))
        .cast("bigint").as("band"),
      call_function("md5_fp60",
        concat(lit("eval:"), col("doc_id").cast("string"))).as("prio"))
    val w = Window.partitionBy("lang", "band")
      .orderBy(col("prio"), col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .withColumn("picked", col("rn") <= QuotaPerCell)
      .groupBy("lang", "band")
      .agg(count(lit(1)).as("n_available"),
        sum(when(col("picked"), 1L).otherwise(0L)).as("n_selected"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(CASE WHEN picked THEN " +
            "struct(rn, doc_id) END)), x -> CAST(x.doc_id AS STRING))")))
          .as("selection_fp"))
      .select(col("lang"), col("band"), col("n_available"),
        col("n_selected"),
        greatest(lit(QuotaPerCell) - col("n_selected"), lit(0L))
          .as("shortfall"),
        round(col("n_selected").cast("double") / QuotaPerCell, 6)
          .as("fill_frac"),
        col("selection_fp"))
      .orderBy("lang", "band")
  }

  def quotaSampleOracle: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |    least(CAST(floor(($QualitySql) * 5) AS BIGINT), 4) AS band,
       |    CAST('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) AS prio
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY lang, band
       |    ORDER BY prio, doc_id) AS rn FROM d),
       |p AS (SELECT lang, band, doc_id, rn, rn <= $QuotaPerCell AS picked
       |  FROM r)
       |SELECT lang, band, count(*) AS n_available,
       |  CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_selected,
       |  greatest($QuotaPerCell - CAST(sum(CASE WHEN picked THEN 1 ELSE 0
       |    END) AS BIGINT), 0) AS shortfall,
       |  round(CAST(sum(CASE WHEN picked THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $QuotaPerCell, 6) AS fill_frac,
       |  md5(coalesce(string_agg(CASE WHEN picked THEN
       |    CAST(doc_id AS VARCHAR) END, ',' ORDER BY rn), ''))
       |    AS selection_fp
       |FROM p GROUP BY lang, band ORDER BY lang, band""".stripMargin

  // --- q213: effective-sample-size clip curve ------------------------------

  /** Duplication-credit caps priced by the ESS curve (members-space:
    * cap 1 = pure dedup / uniform weights; 64 ≈ uncapped here). */
  val EssClipGrid: Seq[Long] = Seq(1L, 4L, 16L, 64L)

  /** q213 — effective-sample-size clip curve over the q178 soft-dedup
    * weights: √-size sampling weights keep duplicated content
    * influential, but a few huge clusters can dominate the draw, so
    * production clips the duplication credit at a cap c — and choosing
    * c is a measured trade this table prices in ONE pass (the q196/q206
    * "one run prices every threshold" shape). Per (cap, source): the
    * Kish effective sample size (Σw)²/Σw² of the clipped weights
    * w = √min(n_members, c) and its fraction of the cluster count —
    * ESS/n = 1 means uniform sampling (cap 1 collapses to it), low ESS
    * means a handful of mega-clusters own the mixture.
    *
    * Parity: weights freeze to ×1e6 fixed point per cluster (floor of a
    * correctly-rounded sqrt — exact both engines); Σw and Σw² are
    * order-free integer sums; ESS is two multiplies and one divide on
    * the cast sums (identical op order both engines).
    *
    * Scale (100 TB): rides the q59/q110 clustering output — the curve
    * itself is |grid|·|clusters| metadata rows collapsing to
    * |grid|·|sources|; no corpus access at all beyond the clustering
    * this audits. */
  def essClipCurve(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(
      col("doc_id").as("rep_doc"), col("source"))
    val base = clusterRepresentatives(s, dir)
      .join(src, "rep_doc")
      .select(col("cluster_id"), col("source"), col("n_members"))
    base
      .select(col("source"), col("n_members"),
        explode(lit(EssClipGrid.toArray)).as("cap"))
      .withColumn("w_fp", floor(
        sqrt(least(col("n_members"), col("cap")).cast("double")) * 1e6)
        .cast("bigint"))
      .groupBy("cap", "source")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("w_fp")).as("s1"),
        sum(col("w_fp") * col("w_fp")).as("s2"))
      .select(col("cap"), col("source"), col("n_clusters"), col("s1"),
        col("s2"),
        round(col("s1").cast("double") * col("s1").cast("double") /
          col("s2").cast("double"), 6).as("ess"),
        round(col("s1").cast("double") * col("s1").cast("double") /
          (col("s2").cast("double") * col("n_clusters").cast("double")), 6)
          .as("ess_frac"))
      .orderBy("cap", "source")
  }

  /** q213 oracle: the q110 closure + clip grid + Kish ESS. */
  def essClipCurveOracle(q110Sql: String): String =
    s"""WITH reps AS ($q110Sql),
       |base AS (SELECT r.cluster_id, d.source, r.n_members
       |  FROM reps r JOIN documents d ON d.doc_id = r.rep_doc),
       |g AS (SELECT source, n_members, CAST(unnest([${
        EssClipGrid.mkString(", ")}]) AS BIGINT) AS cap FROM base),
       |w AS (SELECT cap, source,
       |    CAST(floor(sqrt(CAST(least(n_members, cap) AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS w_fp
       |  FROM g),
       |a AS (SELECT cap, source, count(*) AS n_clusters,
       |    CAST(sum(w_fp) AS BIGINT) AS s1,
       |    CAST(sum(w_fp * w_fp) AS BIGINT) AS s2
       |  FROM w GROUP BY cap, source)
       |SELECT cap, source, n_clusters, s1, s2,
       |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
       |    / CAST(s2 AS DOUBLE), 6) AS ess,
       |  round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
       |    / (CAST(s2 AS DOUBLE) * CAST(n_clusters AS DOUBLE)), 6)
       |    AS ess_frac
       |FROM a ORDER BY cap, source""".stripMargin

  // --- q210: gate leave-one-out ablation ----------------------------------

  /** q210 — quality-gate ablation: q194 measures whether the three
    * production gates AGREE; this prices whether each is NECESSARY.
    * One corpus scan evaluates all three gate booleans (the factored
    * `qualityOf`/`gopherPassOf`/`logitOf` — audit ≡ production) plus
    * the document's token count, collapses to the 2³-cell contingency
    * table, and every ablation number is derived from those 8 rows:
    * per gate, the documents/tokens it kills outright (solo), the
    * documents/tokens ONLY it kills (unique — its marginal value: drop
    * the gate and exactly this mass re-enters the corpus), and a
    * `stack` row with the full-stack kill and the killed-by-all-three
    * core. A gate whose unique kill is ~0 is redundant review burden;
    * one whose unique kill is huge deserves its own calibration pass
    * (q195) — this table is how curation stacks get pruned.
    *
    * Parity: pure integer counting off bit-reproducible gate booleans.
    *
    * Scale (100 TB): the ablation grid costs ONE corpus scan
    * regardless of how many leave-one-out variants are priced — the
    * 8-cell collapse is the whole trick (vs running the stack K+1
    * times, the naive ablation). Map-combinable aggregate, then
    * constant-size arithmetic. */
  def gateAblation(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      (TextOps.qualityOf(col("text")) >= GateQualityMin).as("a"),
      TrainPrepOps.gopherPassOf(col("text")).as("b"),
      (MixtureOps.logitOf >= 0L).as("c"),
      TextOps.wsTokenCount(col("text")).cast("bigint").as("toks"))
    val cells = d.groupBy("a", "b", "c")
      .agg(count(lit(1)).as("nd"), sum(col("toks")).as("tk"))
    def kill(g: String, docs: Boolean) = {
      val m = if (docs) col("nd") else col("tk")
      sum(when(!col(g), m).otherwise(0L))
    }
    def unique(g: String, o1: String, o2: String, docs: Boolean) = {
      val m = if (docs) col("nd") else col("tk")
      sum(when(!col(g) && col(o1) && col(o2), m).otherwise(0L))
    }
    val one = cells.agg(
      sum(col("nd")).as("n_docs"), sum(col("tk")).as("n_toks"),
      kill("a", docs = true).as("a_solo_d"),
      kill("a", docs = false).as("a_solo_t"),
      unique("a", "b", "c", docs = true).as("a_uniq_d"),
      unique("a", "b", "c", docs = false).as("a_uniq_t"),
      kill("b", docs = true).as("b_solo_d"),
      kill("b", docs = false).as("b_solo_t"),
      unique("b", "a", "c", docs = true).as("b_uniq_d"),
      unique("b", "a", "c", docs = false).as("b_uniq_t"),
      kill("c", docs = true).as("c_solo_d"),
      kill("c", docs = false).as("c_solo_t"),
      unique("c", "a", "b", docs = true).as("c_uniq_d"),
      unique("c", "a", "b", docs = false).as("c_uniq_t"),
      sum(when(!(col("a") && col("b") && col("c")), col("nd"))
        .otherwise(0L)).as("s_solo_d"),
      sum(when(!(col("a") && col("b") && col("c")), col("tk"))
        .otherwise(0L)).as("s_solo_t"),
      sum(when(!col("a") && !col("b") && !col("c"), col("nd"))
        .otherwise(0L)).as("s_uniq_d"),
      sum(when(!col("a") && !col("b") && !col("c"), col("tk"))
        .otherwise(0L)).as("s_uniq_t"))
    one.select(col("n_docs"), col("n_toks"), expr(
      "stack(4, " +
        "'classifier', c_solo_d, c_solo_t, c_uniq_d, c_uniq_t, " +
        "'gopher', b_solo_d, b_solo_t, b_uniq_d, b_uniq_t, " +
        "'quality', a_solo_d, a_solo_t, a_uniq_d, a_uniq_t, " +
        "'stack', s_solo_d, s_solo_t, s_uniq_d, s_uniq_t) " +
        "AS (gate, killed_docs, killed_toks, unique_docs, unique_toks)"))
      .select(col("gate"), col("n_docs"), col("n_toks"),
        col("killed_docs"), col("killed_toks"),
        col("unique_docs"), col("unique_toks"),
        round(col("unique_toks").cast("double") /
          col("n_toks").cast("double"), 6).as("unique_toks_frac"))
      .orderBy("gate")
  }

  def gateAblationOracle: String = {
    def kill(g: String, m: String) =
      s"CAST(sum(CASE WHEN NOT $g THEN $m ELSE 0 END) AS BIGINT)"
    def unique(g: String, o1: String, o2: String, m: String) =
      s"CAST(sum(CASE WHEN NOT $g AND $o1 AND $o2 THEN $m ELSE 0 END) AS BIGINT)"
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($ClfLogitWSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |g AS (SELECT
       |    ($QualitySql) >= $GateQualityMin AS a,
       |    ($GopherSql) AS b,
       |    lg.logit >= 0 AS c,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks
       |  FROM documents JOIN lg USING (doc_id)),
       |cells AS (SELECT a, b, c, count(*) AS nd,
       |    CAST(sum(toks) AS BIGINT) AS tk
       |  FROM g GROUP BY a, b, c),
       |one AS (SELECT
       |    CAST(sum(nd) AS BIGINT) AS n_docs,
       |    CAST(sum(tk) AS BIGINT) AS n_toks,
       |    ${kill("a", "nd")} AS a_solo_d, ${kill("a", "tk")} AS a_solo_t,
       |    ${unique("a", "b", "c", "nd")} AS a_uniq_d,
       |    ${unique("a", "b", "c", "tk")} AS a_uniq_t,
       |    ${kill("b", "nd")} AS b_solo_d, ${kill("b", "tk")} AS b_solo_t,
       |    ${unique("b", "a", "c", "nd")} AS b_uniq_d,
       |    ${unique("b", "a", "c", "tk")} AS b_uniq_t,
       |    ${kill("c", "nd")} AS c_solo_d, ${kill("c", "tk")} AS c_solo_t,
       |    ${unique("c", "a", "b", "nd")} AS c_uniq_d,
       |    ${unique("c", "a", "b", "tk")} AS c_uniq_t,
       |    CAST(sum(CASE WHEN NOT (a AND b AND c) THEN nd ELSE 0 END)
       |      AS BIGINT) AS s_solo_d,
       |    CAST(sum(CASE WHEN NOT (a AND b AND c) THEN tk ELSE 0 END)
       |      AS BIGINT) AS s_solo_t,
       |    CAST(sum(CASE WHEN NOT a AND NOT b AND NOT c THEN nd ELSE 0
       |      END) AS BIGINT) AS s_uniq_d,
       |    CAST(sum(CASE WHEN NOT a AND NOT b AND NOT c THEN tk ELSE 0
       |      END) AS BIGINT) AS s_uniq_t
       |  FROM cells),
       |st AS (
       |  SELECT 'classifier' AS gate, n_docs, n_toks, c_solo_d AS
       |    killed_docs, c_solo_t AS killed_toks, c_uniq_d AS unique_docs,
       |    c_uniq_t AS unique_toks FROM one
       |  UNION ALL SELECT 'gopher', n_docs, n_toks, b_solo_d, b_solo_t,
       |    b_uniq_d, b_uniq_t FROM one
       |  UNION ALL SELECT 'quality', n_docs, n_toks, a_solo_d, a_solo_t,
       |    a_uniq_d, a_uniq_t FROM one
       |  UNION ALL SELECT 'stack', n_docs, n_toks, s_solo_d, s_solo_t,
       |    s_uniq_d, s_uniq_t FROM one)
       |SELECT gate, n_docs, n_toks, killed_docs, killed_toks,
       |  unique_docs, unique_toks,
       |  round(CAST(unique_toks AS DOUBLE) / CAST(n_toks AS DOUBLE), 6)
       |    AS unique_toks_frac
       |FROM st ORDER BY gate""".stripMargin
  }

  // --- q232: Krippendorff's alpha (with missingness + leave-one-out) ------

  /** q232 — Krippendorff's α: the reliability coefficient crowd-label
    * QA actually reports when the rating matrix has MISSING cells —
    * Cohen's κ (q194) needs complete pairs and two raters; α handles
    * any rater count and missingness by counting pairable values per
    * unit. The fixture is q203's deterministic noisy label matrix with
    * a planted 20% missingness mask. Besides the pool-wide α, every
    * rater gets a leave-one-out α: if dropping rater a RAISES α, rater
    * a is degrading reliability — the actionable per-rater verdict
    * (the noisiest raters a=5,6 show positive deltas).
    *
    * Parity: nominal-metric α is an exact RATIONAL here — the per-unit
    * disagreement (m_u² − Σ_c n_uc²)/(m_u − 1) is scaled by
    * 60/(m_u−1) (lcm of the possible m_u−1 ∈ 1..6), making every sum
    * a plain integer; α = 1 − DoNum·(n−1) / (60·(n² − Σ n_c²)) is one
    * shared double division at the end. No fixed-point needed.
    *
    * Scale (100 TB): the (scenario × unit × value) count frame is one
    * map-side-combined aggregate over the |items|·|raters| matrix ×
    * (R+1) scenarios — a constant-width explode, no extra corpus
    * scans; everything after is |values|-sized grid arithmetic. */
  def krippendorffAlpha(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val langd = docs.select("lang").distinct()
      .withColumn("true_idx",
        (row_number().over(Window.orderBy("lang")) - 1).cast("bigint"))
    val nl = langd.agg(count(lit(1)).as("L"))
    val ann = docs.join(broadcast(langd), "lang")
      .crossJoin(broadcast(nl))
      .select(col("doc_id"), col("true_idx"), col("L"),
        explode(expr(s"sequence(0, ${AnnotatorCount - 1})")).as("a"))
      // q203's noise + the planted missingness mask
      .filter((col("doc_id") * 13 + col("a") * 17) % 5 =!= 0)
      .withColumn("lab",
        when((col("doc_id") * 31 + col("a") * 7) % 10 < col("a"),
          (col("true_idx") + 1 +
            (col("doc_id") + col("a")) % (col("L") - 1)) % col("L"))
          .otherwise(col("true_idx")))
      .select("doc_id", "a", "lab")
    // scenario -1 = full pool; 0..R-1 = leave that rater out
    val scen = ann.select(col("doc_id"), col("a"), col("lab"),
        explode(expr(s"sequence(-1, ${AnnotatorCount - 1})")).as("ex"))
      .filter(col("a") =!= col("ex"))
    // the matrix collapses HERE; both the unit and the value marginals
    // re-read these cells
    val counts = scen.groupBy("ex", "doc_id", "lab")
      .agg(count(lit(1)).as("n_uc")).persist()
    val units = counts.groupBy("ex", "doc_id")
      .agg(sum(col("n_uc")).as("m_u"),
        sum(col("n_uc") * col("n_uc")).as("ssq"))
      .filter(col("m_u") >= 2)
      .withColumn("term60",
        (lit(60L) / (col("m_u") - 1)).cast("bigint") *
          (col("m_u") * col("m_u") - col("ssq")))
      .persist()
    val nc = counts.join(units.select("ex", "doc_id"), Seq("ex", "doc_id"))
      .groupBy("ex", "lab").agg(sum(col("n_uc")).as("n_c"))
    val perEx = units.groupBy("ex")
      .agg(count(lit(1)).as("n_units"), sum(col("m_u")).as("n_vals"),
        sum(col("term60")).as("do_num60"))
      .join(nc.groupBy("ex").agg(sum(col("n_c") * col("n_c"))
        .as("sum_nc2")), "ex")
      .withColumn("alpha", round(lit(1.0) -
        (col("do_num60") * (col("n_vals") - 1)).cast("double") /
          (lit(60.0) * (col("n_vals") * col("n_vals") -
            col("sum_nc2")).cast("double")), 6))
    val base = perEx.filter(col("ex") === -1)
      .select(col("alpha").as("alpha_all"))
    perEx.crossJoin(broadcast(base))
      .select(
        when(col("ex") === -1, "all")
          .otherwise(concat(lit("excl_"), col("ex").cast("string")))
          .as("scenario"),
        col("n_units"), col("n_vals"), col("alpha"),
        round(col("alpha") - col("alpha_all"), 6).as("alpha_delta"),
        (col("alpha") > col("alpha_all")).as("drop_improves"))
      .orderBy("scenario")
  }

  def krippendorffAlphaOracle: String =
    s"""WITH langd AS (SELECT lang,
       |    CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT)
       |      AS true_idx
       |  FROM (SELECT DISTINCT lang FROM documents)),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS L FROM langd),
       |ann AS (SELECT d.doc_id, a.a,
       |    CASE WHEN (d.doc_id * 31 + a.a * 7) % 10 < a.a
       |      THEN (ld.true_idx + 1 + (d.doc_id + a.a) % (nl.L - 1)) % nl.L
       |      ELSE ld.true_idx END AS lab
       |  FROM documents d
       |  JOIN langd ld USING (lang) CROSS JOIN nl
       |  CROSS JOIN (SELECT CAST(unnest(range(0, ${AnnotatorCount}))
       |    AS BIGINT) AS a) a
       |  WHERE (d.doc_id * 13 + a.a * 17) % 5 <> 0),
       |scen AS (SELECT ann.doc_id, ann.a, ann.lab, e.ex FROM ann
       |  CROSS JOIN (SELECT CAST(unnest(range(-1, ${AnnotatorCount}))
       |    AS BIGINT) AS ex) e
       |  WHERE ann.a <> e.ex),
       |counts AS (SELECT ex, doc_id, lab,
       |    CAST(count(*) AS BIGINT) AS n_uc
       |  FROM scen GROUP BY ex, doc_id, lab),
       |units AS (SELECT ex, doc_id, m_u, ssq,
       |    (60 // (m_u - 1)) * (m_u * m_u - ssq) AS term60
       |  FROM (SELECT ex, doc_id, CAST(sum(n_uc) AS BIGINT) AS m_u,
       |      CAST(sum(n_uc * n_uc) AS BIGINT) AS ssq
       |    FROM counts GROUP BY ex, doc_id)
       |  WHERE m_u >= 2),
       |nc AS (SELECT c.ex, c.lab, CAST(sum(c.n_uc) AS BIGINT) AS n_c
       |  FROM counts c JOIN units u ON u.ex = c.ex
       |    AND u.doc_id = c.doc_id
       |  GROUP BY c.ex, c.lab),
       |per AS (SELECT u.ex, u.n_units, u.n_vals, u.do_num60, k.sum_nc2,
       |    round(1.0 - CAST(u.do_num60 * (u.n_vals - 1) AS DOUBLE) /
       |      (60.0 * CAST(u.n_vals * u.n_vals - k.sum_nc2 AS DOUBLE)),
       |      6) AS alpha
       |  FROM (SELECT ex, count(*) AS n_units,
       |      CAST(sum(m_u) AS BIGINT) AS n_vals,
       |      CAST(sum(term60) AS BIGINT) AS do_num60
       |    FROM units GROUP BY ex) u
       |  JOIN (SELECT ex, CAST(sum(n_c * n_c) AS BIGINT) AS sum_nc2
       |    FROM nc GROUP BY ex) k ON k.ex = u.ex),
       |base AS (SELECT alpha AS alpha_all FROM per WHERE ex = -1)
       |SELECT CASE WHEN ex = -1 THEN 'all'
       |    ELSE 'excl_' || CAST(ex AS VARCHAR) END AS scenario,
       |  n_units, n_vals, alpha,
       |  round(alpha - alpha_all, 6) AS alpha_delta,
       |  alpha > alpha_all AS drop_improves
       |FROM per, base ORDER BY scenario""".stripMargin

  // --- q230: URL canonicalization dedup ------------------------------------

  /** q230 — URL canonicalization dedup: web corpora dedup at the URL
    * level BEFORE fetching or hashing content (C4 drops by exact URL;
    * CommonCrawl/RefinedWeb normalize first), and the normalizer is a
    * fixed rewrite chain: lowercase scheme+host, strip the default
    * port, strip the fragment, drop tracking parameters (utm_*,
    * gclid, fbclid), SORT the surviving query params, strip the
    * trailing slash. Each document plants one clean URL plus the
    * seven raw variants a crawler actually sees (q217's in-query URL
    * fixture, widened): per variant class the audit reports how many
    * raw URLs exist, how many distinct canonical forms survive, and
    * what fraction collapsed onto the document's clean canonical —
    * the crawl-frontier dedup rate the normalizer buys. `reorder`
    * plants BOTH param orders (collapse onto each other, not onto the
    * query-less clean form) and `distinct` is the negative control.
    *
    * Parity: every step is a single-match regex (Spark's replace-all
    * vs DuckDB's replace-first agree when the pattern can match at
    * most once), prefix tests are substr equality (LIKE/starts_with
    * spellings differ), and param sorting is binary-collation string
    * sort on both engines.
    *
    * Scale (100 TB): canonicalization is pure per-row string rewrite
    * (codegen'd, no UDF); the audit joins on doc_id (equi-join on the
    * fixture key) and rolls up to |classes| rows — the production
    * path is just `groupBy(canon).agg(first(url))`, one exchange on
    * the canonical key. */
  def urlCanonDedup(s: SparkSession, dir: String): DataFrame = {
    val base = "concat('https://sub', CAST(doc_id % 3 AS STRING), " +
      "'.site', CAST(doc_id % 37 AS STRING), '.com/doc/', " +
      "CAST(doc_id AS STRING))"
    val baseUp = "concat('HTTPS://SUB', CAST(doc_id % 3 AS STRING), " +
      "'.SITE', CAST(doc_id % 37 AS STRING), '.COM:443/doc/', " +
      "CAST(doc_id AS STRING))"
    val variants = t(s, dir, "documents").selectExpr("doc_id",
      s"""explode(array(
         |  struct('clean' AS cls, $base AS url),
         |  struct('case_port' AS cls, $baseUp AS url),
         |  struct('tracking' AS cls, concat($base,
         |    '?utm_source=feed&gclid=g', CAST(doc_id AS STRING)) AS url),
         |  struct('fragment' AS cls, concat($base, '#sec') AS url),
         |  struct('slash' AS cls, concat($base, '/') AS url),
         |  struct('reorder' AS cls, concat($base, '?b=2&a=1') AS url),
         |  struct('reorder' AS cls, concat($base, '?a=1&b=2') AS url),
         |  struct('distinct' AS cls, concat('https://alt',
         |    CAST(doc_id AS STRING), '.org/page') AS url))) AS v"""
        .stripMargin)
      .selectExpr("doc_id", "v.cls AS cls", "v.url AS url")
    val canon = variants
      .withColumn("nofrag", regexp_replace(col("url"), "#.*", ""))
      .withColumn("sh", regexp_extract(col("nofrag"),
        "^[a-zA-Z]+://[^/?]+", 0))
      .withColumn("rest",
        expr("substr(nofrag, length(sh) + 1)"))
      .withColumn("sh2", regexp_replace(lower(col("sh")),
        ":(443|80)$", ""))
      .withColumn("path", regexp_extract(col("rest"), "^[^?]*", 0))
      .withColumn("query", expr(
        "CASE WHEN length(rest) > length(path) " +
          "THEN substr(rest, length(path) + 2) ELSE '' END"))
      .withColumn("path2", regexp_replace(col("path"), "/$", ""))
      .withColumn("q2", expr(
        "array_join(array_sort(filter(split(query, '&'), p -> " +
          "NOT (substr(p, 1, 4) = 'utm_' OR substr(p, 1, 6) = 'gclid=' " +
          "OR substr(p, 1, 7) = 'fbclid=' OR p = ''))), '&')"))
      .withColumn("canon", expr(
        "concat(sh2, path2, CASE WHEN q2 = '' THEN '' " +
          "ELSE concat('?', q2) END)"))
      .select("doc_id", "cls", "url", "canon").persist()
    val clean = canon.filter(col("cls") === "clean")
      .select(col("doc_id"), col("canon").as("clean_canon"))
    canon.join(clean, "doc_id")
      .groupBy("cls")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canon")).as("n_canonical"),
        sum(when(col("canon") === col("clean_canon"), 1L).otherwise(0L))
          .as("n_match_clean"))
      .withColumn("match_rate", round(
        col("n_match_clean").cast("double") /
          col("n_urls").cast("double"), 6))
      .orderBy("cls")
  }

  def urlCanonDedupOracle: String = {
    val base = "'https://sub' || CAST(doc_id % 3 AS VARCHAR) || " +
      "'.site' || CAST(doc_id % 37 AS VARCHAR) || '.com/doc/' || " +
      "CAST(doc_id AS VARCHAR)"
    val baseUp = "'HTTPS://SUB' || CAST(doc_id % 3 AS VARCHAR) || " +
      "'.SITE' || CAST(doc_id % 37 AS VARCHAR) || '.COM:443/doc/' || " +
      "CAST(doc_id AS VARCHAR)"
    s"""WITH v AS (
       |  SELECT doc_id, 'clean' AS cls, $base AS url FROM documents
       |  UNION ALL SELECT doc_id, 'case_port', $baseUp FROM documents
       |  UNION ALL SELECT doc_id, 'tracking', $base ||
       |    '?utm_source=feed&gclid=g' || CAST(doc_id AS VARCHAR)
       |  FROM documents
       |  UNION ALL SELECT doc_id, 'fragment', $base || '#sec'
       |  FROM documents
       |  UNION ALL SELECT doc_id, 'slash', $base || '/' FROM documents
       |  UNION ALL SELECT doc_id, 'reorder', $base || '?b=2&a=1'
       |  FROM documents
       |  UNION ALL SELECT doc_id, 'reorder', $base || '?a=1&b=2'
       |  FROM documents
       |  UNION ALL SELECT doc_id, 'distinct', 'https://alt' ||
       |    CAST(doc_id AS VARCHAR) || '.org/page' FROM documents),
       |c1 AS (SELECT doc_id, cls, url,
       |    regexp_replace(url, '#.*', '') AS nofrag FROM v),
       |c2 AS (SELECT *, regexp_extract(nofrag,
       |    '^[a-zA-Z]+://[^/?]+', 0) AS sh FROM c1),
       |c3 AS (SELECT *, substr(nofrag, length(sh) + 1) AS rest,
       |    regexp_replace(lower(sh), ':(443|80)$$', '') AS sh2 FROM c2),
       |c4 AS (SELECT *, regexp_extract(rest, '^[^?]*', 0) AS path
       |  FROM c3),
       |c5 AS (SELECT *, CASE WHEN length(rest) > length(path)
       |      THEN substr(rest, length(path) + 2) ELSE '' END AS query,
       |    regexp_replace(path, '/$$', '') AS path2 FROM c4),
       |c6 AS (SELECT *, coalesce(array_to_string(list_sort(
       |    [p for p in string_split(query, '&') if NOT (
       |      substr(p, 1, 4) = 'utm_' OR substr(p, 1, 6) = 'gclid=' OR
       |      substr(p, 1, 7) = 'fbclid=' OR p = '')]), '&'), '') AS q2
       |  FROM c5),
       |c7 AS (SELECT doc_id, cls, url, sh2 || path2 ||
       |    (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canon
       |  FROM c6),
       |cl AS (SELECT doc_id, canon AS clean_canon FROM c7
       |  WHERE cls = 'clean')
       |SELECT cls, count(*) AS n_urls,
       |  CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
       |  CAST(sum(CASE WHEN canon = clean_canon THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_match_clean,
       |  round(CAST(sum(CASE WHEN canon = clean_canon THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS match_rate
       |FROM c7 JOIN cl USING (doc_id)
       |GROUP BY cls ORDER BY cls""".stripMargin
  }

  // --- q249: split-conformal quality-gate coverage audit -----------------

  /** Miscoverage target α (×1000 to stay integer-exact). */
  val ConfAlphaPm = 100L
  val ConfIdOffset = 7000000L
  /** Planted degraded docs per base (repetition-collapsed text). */
  val ConfPlantMod = 10L

  /** q249 — split-conformal prediction applied to the quality gate: the
    * calibration half of the corpus sets the score threshold at the
    * ⌊α(n+1)⌋-th smallest calibration score, which guarantees ≥ 1−α
    * coverage on EXCHANGEABLE test data with no distributional
    * assumption at all. The audit then measures per-source test
    * coverage: a source far under 1−α is exactly a source whose data
    * has drifted from calibration — the conformal version of the drift
    * monitors (q155/q245), but with a finite-sample guarantee attached.
    *
    * Score = distinct-token ratio (repetition-sensitive, q57's family).
    * Planted: a 'src_degraded' test-only source (text collapsed to one
    * repeated token → score near 0) that must fall out of coverage.
    *
    * Exactness: the threshold is an ORDER-STATISTIC (row_number pick),
    * not an interpolated quantile; coverage counts are integers; the
    * only doubles are per-row ratios and final divisions.
    *
    * Scale (100 TB): one corpus pass for scores; the order statistic
    * comes from the q114 distributed global rank (range partition +
    * offsets — no single-partition sort even on a corpus-sized
    * calibration split); coverage is a map-side (source) collapse
    * against one broadcast threshold scalar. */
  def conformalGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("score"))
    val plant = t(s, dir, "documents")
      .filter(col("doc_id") % ConfPlantMod === 0)
      .withColumn("toks", split(col("text"), " "))
      .select((col("doc_id") + ConfIdOffset).as("doc_id"),
        lit("src_degraded").as("source"),
        (lit(1.0) / size(col("toks"))).as("score"))
    val base = d.withColumn("cal",
      call_function("md5_fp60", concat(lit("conf:"),
        col("doc_id").cast("string"))) % 2 === 0)
    val cal = base.filter(col("cal"))
    val test = base.filter(!col("cal"))
      .select("doc_id", "source", "score")
      .unionAll(plant)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // the order statistic via the q114 distributed global rank — the
    // calibration set is corpus-scaled, so a bare ORDER BY window
    // would single-partition it
    val thr = ScaleOps.withGlobalRank(
        cal.select(col("score"), col("doc_id")), "rn",
        col("score"), col("doc_id"))
      .crossJoin(broadcast(nCal))
      .filter(col("rn") ===
        expr(s"CAST((($ConfAlphaPm) * (n_cal + 1)) div 1000 AS INT)"))
      .select(col("score").as("tau"), col("n_cal"))
      // the rank-equality filter admits exactly one row; limit(1) makes
      // that bound structural (planner- and invariant-visible)
      .limit(1)
    test.crossJoin(broadcast(thr))
      .groupBy("source")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("score") >= col("tau"), 1L).otherwise(0L))
          .as("n_covered"),
        min(col("n_cal")).as("n_cal"))
      .selectExpr("source", "n_test", "n_covered", "n_cal",
        "round(CAST(n_covered AS DOUBLE) / n_test, 4) AS coverage",
        "CAST(n_covered AS DOUBLE) / n_test < 0.8 AS under_covered")
      .orderBy("source")
  }

  def conformalGateOracle: String = {
    val fp = "CAST(CAST('0x' || substr(md5('conf:' || " +
      "CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)"
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS score,
       |    $fp % 2 = 0 AS cal
       |  FROM documents),
       |plant AS (SELECT doc_id + $ConfIdOffset AS doc_id,
       |    'src_degraded' AS source,
       |    1.0 / len(string_split(text, ' ')) AS score
       |  FROM documents WHERE doc_id % $ConfPlantMod = 0),
       |calset AS (SELECT score, doc_id,
       |    row_number() OVER (ORDER BY score, doc_id) AS rn
       |  FROM d WHERE cal),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calset),
       |thr AS (SELECT score AS tau, n_cal FROM calset, nc
       |  WHERE rn = ($ConfAlphaPm * (n_cal + 1)) // 1000),
       |test AS (SELECT doc_id, source, score FROM d WHERE NOT cal
       |  UNION ALL SELECT * FROM plant)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(CASE WHEN score >= tau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_covered,
       |  min(n_cal) AS n_cal,
       |  round(CAST(sum(CASE WHEN score >= tau THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 4) AS coverage,
       |  CAST(sum(CASE WHEN score >= tau THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) < 0.8 AS under_covered
       |FROM test, thr GROUP BY source, tau
       |ORDER BY source""".stripMargin
  }

  // --- q250: randomized-response frequency debiasing ---------------------

  /** Keep-true probability p ×1000 and the mechanism's value space. */
  val RrKeepPm = 700L

  /** q250 — local-DP randomized response with exact debiasing: each
    * event reports its true type with probability p, otherwise a
    * uniformly random type — the LOCAL counterpart of the central-DP
    * releases (q157 adds noise to aggregates; RR perturbs every ROW
    * before any aggregation, so no raw value ever leaves the client).
    * The per-type estimator n̂ᵥ = (k·1000·cᵥ − (1000−p·1000)·N) /
    * (k·p·1000) inverts the mechanism EXACTLY in integer arithmetic:
    * the numerator is a bigint, and Σn̂ = N holds as an identity.
    *
    * Both mechanism draws are deterministic md5 coins (the fixture's
    * stand-in for client randomness), so the oracle replays the exact
    * perturbed stream.
    *
    * Scale (100 TB): the mechanism is a per-row codegen projection;
    * the audit is one map-combined (type) collapse — privacy adds zero
    * exchanges, the defining advantage of local DP at scale. */
  def rrDebias(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val types = ev.select(col("event_type").as("v")).distinct()
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("v")) - 1)
    val k = types.agg(count(lit(1)).as("k"))
    val coins = ev.select(col("event_type"),
        (call_function("md5_fp60", concat(lit("rr:"),
          col("event_id").cast("string"))) % 1000).as("coin"),
        call_function("md5_fp60", concat(lit("rrv:"),
          col("event_id").cast("string"))).as("draw"))
      .crossJoin(broadcast(k))
      .withColumn("ridx", col("draw") % col("k"))
    val reported = coins.join(broadcast(types), col("ridx") === col("idx"))
      .select(when(col("coin") < RrKeepPm, col("event_type"))
        .otherwise(col("v")).as("rep"), col("k"))
    val repCnt = reported.groupBy("rep", "k")
      .agg(count(lit(1)).as("c_rep"))
    val trueCnt = ev.groupBy(col("event_type").as("rep"))
      .agg(count(lit(1)).as("c_true"))
    val n = ev.agg(count(lit(1)).as("n"))
    repCnt.join(trueCnt, Seq("rep"), "full_outer")
      .crossJoin(broadcast(n))
      .selectExpr("rep AS event_type",
        "coalesce(c_true, 0) AS true_cnt",
        "coalesce(c_rep, 0) AS reported_cnt",
        s"round(CAST(k * 1000 * coalesce(c_rep, 0) - " +
          s"(1000 - $RrKeepPm) * n AS DOUBLE) / (k * $RrKeepPm), 2) " +
          "AS est",
        s"round(abs(CAST(k * 1000 * coalesce(c_rep, 0) - " +
          s"(1000 - $RrKeepPm) * n AS DOUBLE) / (k * $RrKeepPm) - " +
          "coalesce(c_true, 0)), 2) AS abs_err")
      .orderBy("event_type")
  }

  def rrDebiasOracle: String = {
    val fp1 = "CAST(CAST('0x' || substr(md5('rr:' || " +
      "CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)"
    val fp2 = "CAST(CAST('0x' || substr(md5('rrv:' || " +
      "CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)"
    s"""WITH types AS (SELECT v, CAST(row_number() OVER (ORDER BY v) - 1
       |    AS BIGINT) AS idx
       |  FROM (SELECT DISTINCT event_type AS v FROM events)),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
       |rep AS (SELECT CASE WHEN $fp1 % 1000 < $RrKeepPm
       |      THEN e.event_type ELSE t.v END AS rep
       |  FROM events e, kk
       |  JOIN types t ON t.idx = $fp2 % kk.k),
       |rc AS (SELECT rep, CAST(count(*) AS BIGINT) AS c_rep FROM rep
       |  GROUP BY rep),
       |tc AS (SELECT event_type AS rep, CAST(count(*) AS BIGINT)
       |    AS c_true FROM events GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
       |SELECT coalesce(rc.rep, tc.rep) AS event_type,
       |  coalesce(c_true, 0) AS true_cnt,
       |  coalesce(c_rep, 0) AS reported_cnt,
       |  round(CAST(k * 1000 * coalesce(c_rep, 0) -
       |    (1000 - $RrKeepPm) * n AS DOUBLE) / (k * $RrKeepPm), 2)
       |    AS est,
       |  round(abs(CAST(k * 1000 * coalesce(c_rep, 0) -
       |    (1000 - $RrKeepPm) * n AS DOUBLE) / (k * $RrKeepPm) -
       |    coalesce(c_true, 0)), 2) AS abs_err
       |FROM rc FULL OUTER JOIN tc ON tc.rep = rc.rep, kk, nn
       |ORDER BY event_type""".stripMargin
  }

  // --- q258: McNemar asymmetry test over the production gates ------------

  /** χ²₁ critical value at α=0.05 (build-time literal). */
  val McNemarCrit = 3.8415

  /** q258 — McNemar's test over the same three production gate pairs as
    * q194's κ, answering the question κ cannot: is the DISAGREEMENT
    * symmetric? κ ≈ 0.4 with n10 ≈ n01 means the gates differ randomly;
    * the same κ with n10 ≫ n01 means one gate is systematically
    * stricter — an ensemble should weight, not vote. Only the
    * discordant cells enter: χ²_cc = (|n10−n01|−1)²/(n10+n01) with
    * continuity correction, against the χ²₁ literal [[McNemarCrit]].
    *
    * The gate expressions are THE production definitions (shared
    * `qualityOf` / `gopherPassOf` / `logitOf`), so the audit cannot
    * drift from the gates it audits — the q194 discipline.
    *
    * Scale (100 TB): identical to q194 — one codegen'd projection, one
    * map-combined 13-column row, a 3-row unpivot. The test adds zero
    * corpus cost on top of the κ audit. */
  def mcnemarGates(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      (TextOps.qualityOf(col("text")) >= GateQualityMin).as("a"),
      TrainPrepOps.gopherPassOf(col("text")).as("b"),
      (MixtureOps.logitOf >= 0L).as("c"))
    def cells(pfx: String, x: String, y: String) = Seq(
      sum(when(col(x) && !col(y), 1L).otherwise(0L)).as(s"${pfx}_10"),
      sum(when(!col(x) && col(y), 1L).otherwise(0L)).as(s"${pfx}_01"))
    val aggs = cells("ab", "a", "b") ++ cells("ac", "a", "c") ++
      cells("bc", "b", "c")
    val one = d.agg(count(lit(1)).as("n"), aggs: _*)
    val stacked = one.select(col("n"), expr(
      "stack(3, " +
        "'quality~gopher', ab_10, ab_01, " +
        "'quality~classifier', ac_10, ac_01, " +
        "'gopher~classifier', bc_10, bc_01) " +
        "AS (pair, n10, n01)"))
    stacked.selectExpr("pair", "n", "n10", "n01",
        "CASE WHEN n10 + n01 > 0 THEN round(" +
          "CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)" +
          " / (n10 + n01), 6) ELSE 0.0 END AS chi2_cc",
        "CASE WHEN n10 > n01 THEN 'second_stricter' " +
          "WHEN n01 > n10 THEN 'first_stricter' " +
          "ELSE 'balanced' END AS direction",
        "CASE WHEN n10 + n01 > 0 THEN " +
          "CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)" +
          s" / (n10 + n01) > $McNemarCrit ELSE false END AS asymmetric")
      .orderBy("pair")
  }

  def mcnemarGatesOracle: String = {
    val wSql = ClfLogitWSql
    def cellSql(x: String, y: String, a: String) = Seq(
      s"CAST(sum(CASE WHEN $x AND NOT $y THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS ${a}_10",
      s"CAST(sum(CASE WHEN NOT $x AND $y THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS ${a}_01").mkString(",\n    ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($wSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |g AS (SELECT
       |    ($QualitySql) >= $GateQualityMin AS a,
       |    ($GopherSql) AS b,
       |    lg.logit >= 0 AS c
       |  FROM documents JOIN lg USING (doc_id)),
       |one AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${cellSql("a", "b", "ab")},
       |    ${cellSql("a", "c", "ac")},
       |    ${cellSql("b", "c", "bc")}
       |  FROM g),
       |st AS (
       |  SELECT 'quality~gopher' AS pair, n, ab_10 AS n10,
       |    ab_01 AS n01 FROM one
       |  UNION ALL SELECT 'quality~classifier', n, ac_10, ac_01
       |    FROM one
       |  UNION ALL SELECT 'gopher~classifier', n, bc_10, bc_01
       |    FROM one)
       |SELECT pair, n, n10, n01,
       |  CASE WHEN n10 + n01 > 0 THEN round(
       |    CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
       |    / (n10 + n01), 6) ELSE 0.0 END AS chi2_cc,
       |  CASE WHEN n10 > n01 THEN 'second_stricter'
       |    WHEN n01 > n10 THEN 'first_stricter'
       |    ELSE 'balanced' END AS direction,
       |  CASE WHEN n10 + n01 > 0 THEN
       |    CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
       |    / (n10 + n01) > $McNemarCrit ELSE false END AS asymmetric
       |FROM st ORDER BY pair""".stripMargin
  }

  // --- q276: Cochran–Mantel–Haenszel stratified association ---------------

  /** q276 — Cochran–Mantel–Haenszel test: is long-document status
    * associated with passing the Gopher gate AFTER controlling for
    * language? The marginal 2×2 (q227's χ² family) confounds with
    * language because both length and pass rates vary by lang —
    * CMH accumulates per-stratum hypergeometric observed−expected
    * evidence (the q275 log-rank machinery applied to strata instead
    * of days), the standard guard against Simpson reversals in
    * corpus audits. Exposure = length above the STRATUM median (the
    * within-stratum balanced cut); outcome = the shared production
    * Gopher gate.
    *
    * Exactness: per-stratum a, row/col margins are integers; the
    * stratum medians are order statistics on length cells; E and V
    * freeze to ×1e9 before the order-free stratum sum; χ²_CMH (with
    * continuity correction) is one expression.
    *
    * Scale (100 TB): one corpus pass to (lang, length-side, pass)
    * cells; medians from per-lang length cells; the test is
    * |strata|-row algebra. */
  def cmhTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("lang"),
      col("n_chars"), col("doc_id"),
      TrainPrepOps.gopherPassOf(col("text")).as("pass")).persist()
    val med = d.groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("lang").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy("lang")))
      .groupBy("lang")
      .agg(min(when(expr("2 * cum >= n"), col("n_chars"))).as("medlen"))
    val cells = d.join(broadcast(med), "lang")
      .selectExpr("lang", "CAST(n_chars > medlen AS INT) AS long_doc",
        "CAST(pass AS INT) AS p")
      .groupBy("lang").agg(
        sum(expr("long_doc * p")).as("a"),
        sum(expr("long_doc * (1 - p)")).as("b"),
        sum(expr("(1 - long_doc) * p")).as("c"),
        sum(expr("(1 - long_doc) * (1 - p)")).as("dd"))
      .withColumn("n", expr("a + b + c + dd"))
      .filter(col("n") > 1)
      .withColumn("e_fp", expr("CAST(floor(CAST(a + b AS DOUBLE) * " +
        "(a + c) / n * 1e9) AS BIGINT)"))
      .withColumn("v_fp", expr("CAST(floor(CAST(a + b AS DOUBLE) * " +
        "(c + dd) / n * (a + c) / n * (b + dd) / (n - 1) * 1e9) " +
        "AS BIGINT)"))
    cells.agg(sum(col("a")).as("o"), sum(col("e_fp")).as("e_fp"),
        sum(col("v_fp")).as("v_fp"), count(lit(1)).as("n_strata"))
      .selectExpr("n_strata", "o",
        "round(CAST(e_fp AS DOUBLE) / 1e9, 4) AS expected",
        "round((abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1e9) " +
          "- 0.5) * (abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / " +
          "1e9) - 0.5) / (CAST(v_fp AS DOUBLE) / 1e9), 4) AS chi2_cmh",
        "(abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1e9) " +
          "- 0.5) * (abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / " +
          "1e9) - 0.5) / (CAST(v_fp AS DOUBLE) / 1e9) > " +
          s"$McNemarCrit AS associated")
  }

  def cmhTestOracle: String =
    s"""WITH d AS (SELECT lang, n_chars, ($GopherSql) AS pass
       |  FROM documents),
       |lc AS (SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS cnt
       |  FROM d GROUP BY lang, n_chars),
       |lcc AS (SELECT *,
       |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM lc),
       |med AS (SELECT lang, min(CASE WHEN 2 * cum >= n THEN n_chars
       |    END) AS medlen FROM lcc GROUP BY lang),
       |cl AS (SELECT d.lang,
       |    CASE WHEN n_chars > medlen THEN 1 ELSE 0 END AS long_doc,
       |    CASE WHEN pass THEN 1 ELSE 0 END AS p
       |  FROM d JOIN med ON med.lang = d.lang),
       |st AS (SELECT lang,
       |    CAST(sum(long_doc * p) AS BIGINT) AS a,
       |    CAST(sum(long_doc * (1 - p)) AS BIGINT) AS b,
       |    CAST(sum((1 - long_doc) * p) AS BIGINT) AS c,
       |    CAST(sum((1 - long_doc) * (1 - p)) AS BIGINT) AS dd
       |  FROM cl GROUP BY lang),
       |fz AS (SELECT a, a + b + c + dd AS n,
       |    CAST(floor(CAST(a + b AS DOUBLE) * (a + c) /
       |      (a + b + c + dd) * 1e9) AS BIGINT) AS e_fp,
       |    CAST(floor(CAST(a + b AS DOUBLE) * (c + dd) /
       |      (a + b + c + dd) * (a + c) / (a + b + c + dd) *
       |      (b + dd) / (a + b + c + dd - 1) * 1e9) AS BIGINT) AS v_fp
       |  FROM st WHERE a + b + c + dd > 1),
       |ag AS (SELECT CAST(sum(a) AS BIGINT) AS o,
       |    CAST(sum(e_fp) AS BIGINT) AS e_fp,
       |    CAST(sum(v_fp) AS BIGINT) AS v_fp,
       |    CAST(count(*) AS BIGINT) AS n_strata FROM fz)
       |SELECT n_strata, o,
       |  round(CAST(e_fp AS DOUBLE) / 1e9, 4) AS expected,
       |  round((abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1e9)
       |    - 0.5) * (abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) /
       |    1e9) - 0.5) / (CAST(v_fp AS DOUBLE) / 1e9), 4)
       |    AS chi2_cmh,
       |  (abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1e9)
       |    - 0.5) * (abs(CAST(o AS DOUBLE) - CAST(e_fp AS DOUBLE) /
       |    1e9) - 0.5) / (CAST(v_fp AS DOUBLE) / 1e9) >
       |    $McNemarCrit AS associated
       |FROM ag""".stripMargin

  // --- q285: confident-learning label-noise audit ---------------------------

  /** Label-noise fixture geometry: [[LnClasses]] classes each owning a
    * [[LnBlock]]-dim coordinate block bumped by [[LnBump]]; labels of
    * vec_id ≡ 0 (mod [[LnFlipMod]]) are observed FLIPPED to the next
    * class — the planted noise the audit must recover. */
  val LnClasses = 5
  val LnBlock = 12
  val LnBump = 3.0
  val LnFlipMod = 17

  /** q285 — confident-learning label-noise audit (Northcutt et al.'s
    * construction): classifier-labeled corpora (quality gates, topic
    * routers, synthetic-data graders) carry label noise that silently
    * caps downstream model quality; this estimates the noise matrix
    * WITHOUT ground truth. Per observed class j a self-confidence
    * threshold t_j = mean cosine of j-labeled points to the j centroid;
    * each point joins the confident-joint matrix C[observed, argmax
    * candidate class] only where its cosine clears the target class's
    * threshold. Off-diagonal mass estimates the flip rate: the planted
    * next-class flips (≈1/17 of rows) must land in exactly the
    * (c → c−1 mod 5) cells.
    *
    * The class structure is an in-query fixture (block-bumped
    * embeddings, the q149 pattern) because the stock labels are not
    * directionally clustered (q279 measures their anisotropy ≈ 0 — a
    * centroid classifier there would be noise).
    *
    * Exactness: per-element features freeze to ×1e6 BIGINTs, so class
    * centroids are exact integer sums; cosines are fixed-order double
    * chains frozen to ×1e9; the threshold compare is the integer cross
    * product cos_fp·n_j ≥ Σcos_fp(j) — no double mean ever compared.
    *
    * Scale (100 TB): two corpus passes (centroid sums; scoring against
    * the broadcast 5×64 centroid frame) — the q268 two-scan shape; the
    * matrix is |classes|² cells. */
  def labelNoise(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = VecSql.Dims
    def xq(el: Int => String): Seq[String] =
      (1 to dims).map { j =>
        val blk = (j - 1) / LnBlock
        val bump =
          if (blk < LnClasses)
            s"CASE WHEN vec_id % $LnClasses = $blk THEN $LnBump " +
              "ELSE 0.0 END"
          else "0.0"
        f"CAST(floor((${el(j)} + $bump) * 1e6) AS BIGINT) AS x$j%02d"
      }
    val obsCol = s"CASE WHEN vec_id % $LnFlipMod = 0 THEN " +
      s"CAST((vec_id % $LnClasses + 1) % $LnClasses AS INT) " +
      s"ELSE CAST(vec_id % $LnClasses AS INT) END AS obs"
    def sparkEl(j: Int) = s"CAST(element_at(embedding, $j) AS DOUBLE)"
    val q2 = (1 to dims).map(j => f"x$j%02d * x$j%02d").mkString(" + ")
    val rows = EtlOps.t(s, dir, "embeddings")
      .selectExpr(("vec_id" +: obsCol +: xq(sparkEl)): _*)
      .selectExpr(("vec_id" +: "obs" +: (q2 + " AS q2") +:
        (1 to dims).map(j => f"x$j%02d")): _*)
      .persist()
    val centAggs = count(lit(1L)).as("n_j") +:
      (1 to dims).map(j => sum(col(f"x$j%02d")).as(f"s$j%02d"))
    val s2 = (1 to dims).map(j =>
      f"CAST(s$j%02d AS DOUBLE) * CAST(s$j%02d AS DOUBLE)")
      .mkString(" + ")
    val cents = rows.groupBy(col("obs").as("cls"))
      .agg(centAggs.head, centAggs.tail: _*)
      .withColumn("s2", expr(s2))
    val dot = (1 to dims).map(j =>
      f"CAST(x$j%02d AS DOUBLE) * CAST(s$j%02d AS DOUBLE)")
      .mkString(" + ")
    val scored = rows.crossJoin(broadcast(cents))
      .selectExpr("vec_id", "obs", "cls",
        s"CAST(floor(($dot) / (sqrt(CAST(q2 AS DOUBLE)) * sqrt(s2)) " +
          "* 1e9) AS BIGINT) AS cos_fp")
      .persist()
    val thr = scored.filter(col("obs") === col("cls"))
      .groupBy(col("cls").as("tc"))
      .agg(count(lit(1L)).as("tn"), sum(col("cos_fp")).as("tsum"))
    val conf = scored.join(broadcast(thr), col("cls") === col("tc"))
      .filter(expr("cos_fp * tn >= tsum"))
    val pred = conf.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("cos_fp").desc, col("cls"))))
      .filter(col("rn") === 1)
    val mat = pred.groupBy(col("obs").as("obs_label"),
        col("cls").as("pred_label"))
      .agg(count(lit(1L)).as("n_rows"))
    mat
      .withColumn("tot", sum(col("n_rows")).over(
        Window.partitionBy(lit(1))))
      .withColumn("offd", sum(when(
          col("obs_label") =!= col("pred_label"), col("n_rows"))
          .otherwise(0L)).over(Window.partitionBy(lit(1))))
      .selectExpr("obs_label", "pred_label", "n_rows",
        "obs_label <> pred_label AS off_diagonal",
        "round(CAST(offd AS DOUBLE) / tot, 6) AS est_noise_rate")
      .orderBy("obs_label", "pred_label")
  }

  def labelNoiseOracle: String = {
    val dims = VecSql.Dims
    def duckEl(j: Int) = s"CAST(embedding[$j] AS DOUBLE)"
    val xq = (1 to dims).map { j =>
      val blk = (j - 1) / LnBlock
      val bump =
        if (blk < LnClasses)
          s"CASE WHEN vec_id % $LnClasses = $blk THEN $LnBump " +
            "ELSE 0.0 END"
        else "0.0"
      f"CAST(floor((${duckEl(j)} + $bump) * 1e6) AS BIGINT) AS x$j%02d"
    }.mkString(",\n    ")
    val obsCol = s"CASE WHEN vec_id % $LnFlipMod = 0 THEN " +
      s"CAST((vec_id % $LnClasses + 1) % $LnClasses AS INT) " +
      s"ELSE CAST(vec_id % $LnClasses AS INT) END AS obs"
    val q2 = (1 to dims).map(j => f"x$j%02d * x$j%02d").mkString(" + ")
    val xlist = (1 to dims).map(j => f"x$j%02d").mkString(", ")
    val sums = (1 to dims).map(j =>
      f"CAST(sum(x$j%02d) AS BIGINT) AS s$j%02d").mkString(", ")
    val s2 = (1 to dims).map(j =>
      f"CAST(s$j%02d AS DOUBLE) * CAST(s$j%02d AS DOUBLE)")
      .mkString(" + ")
    val dot = (1 to dims).map(j =>
      f"CAST(x$j%02d AS DOUBLE) * CAST(s$j%02d AS DOUBLE)")
      .mkString(" + ")
    s"""WITH feat AS (SELECT vec_id, $obsCol,
       |    $xq
       |  FROM embeddings),
       |rows2 AS (SELECT vec_id, obs, $q2 AS q2, $xlist FROM feat),
       |cents AS (SELECT obs AS cls, count(*) AS n_j, $sums
       |  FROM rows2 GROUP BY obs),
       |c2 AS (SELECT *, $s2 AS s2 FROM cents),
       |scored AS (SELECT r.vec_id, r.obs, c.cls,
       |    CAST(floor(($dot) / (sqrt(CAST(q2 AS DOUBLE)) * sqrt(s2))
       |      * 1e9) AS BIGINT) AS cos_fp
       |  FROM rows2 r, c2 c),
       |thr AS (SELECT cls AS tc, count(*) AS tn,
       |    CAST(sum(cos_fp) AS BIGINT) AS tsum
       |  FROM scored WHERE obs = cls GROUP BY cls),
       |conf AS (SELECT scored.* FROM scored
       |  JOIN thr ON thr.tc = scored.cls
       |  WHERE cos_fp * tn >= tsum),
       |pred AS (SELECT vec_id, obs, cls FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos_fp DESC, cls) AS rn FROM conf)
       |  WHERE rn = 1),
       |mat AS (SELECT obs AS obs_label, cls AS pred_label,
       |    count(*) AS n_rows
       |  FROM pred GROUP BY 1, 2),
       |w AS (SELECT *,
       |    CAST(sum(n_rows) OVER () AS BIGINT) AS tot,
       |    CAST(sum(CASE WHEN obs_label <> pred_label THEN n_rows
       |      ELSE 0 END) OVER () AS BIGINT) AS offd
       |  FROM mat)
       |SELECT obs_label, pred_label, n_rows,
       |  obs_label <> pred_label AS off_diagonal,
       |  round(CAST(offd AS DOUBLE) / tot, 6) AS est_noise_rate
       |FROM w ORDER BY obs_label, pred_label""".stripMargin
  }

  // --- q309: gate fairness audit (disparate impact / equal opportunity) --

  /** The four-fifths rule: a group selected at < 80% of the
    * best-selected group's rate is adversely impacted (US EEOC
    * guideline; the standard first fairness screen). */
  val FourFifths = 0.8

  /** q309 — fairness audit of the q129 production classifier gate
    * across sources (the pipeline's protected-attribute analog: a gate
    * that silently starves one domain/language reshapes the corpus):
    * per source, the selection rate, its disparate-impact ratio
    * against the best-selected source ([[FourFifths]]-rule flag), and
    * the equal-opportunity view — the selection rate among QUALIFIED
    * documents (q104's rule stack as the ground-truth proxy, the q194
    * pairing) with its gap to the pooled qualified rate. κ (q194) says
    * whether the gates agree, calibration (q195) whether scores mean
    * anything — THIS says who pays for the disagreement.
    *
    * Exactness: all cells are exact integer conditional sums off one
    * scan; rates are single divisions; the DI denominator and pooled
    * rate are broadcast window scalars over |sources| rows.
    *
    * Scale (100 TB): both gates evaluate in ONE codegen'd projection
    * (shared `logitOf` / `gopherPassOf` — the audited definitions);
    * the aggregate collapses map-side to |sources| rows and the
    * windows run over those rows, so fairness costs one corpus scan. */
  def gateFairness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(
      col("source"),
      (MixtureOps.logitOf >= 0L).as("kept"),
      TrainPrepOps.gopherPassOf(col("text")).as("qual"))
    val perSrc = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("qual"), 1L).otherwise(0L)).as("n_qual"),
      sum(when(col("kept") && col("qual"), 1L).otherwise(0L))
        .as("n_qual_kept"))
    val w = Window.partitionBy(lit(1))
    perSrc
      .withColumn("sel_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
      .withColumn("best_rate", max(col("sel_rate")).over(w))
      .withColumn("di_ratio", col("sel_rate") / col("best_rate"))
      .withColumn("qual_sel_rate",
        col("n_qual_kept").cast("double") / col("n_qual").cast("double"))
      .withColumn("pooled_qual_rate",
        sum(col("n_qual_kept")).over(w).cast("double") /
          sum(col("n_qual")).over(w).cast("double"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("n_qual"), col("n_qual_kept"),
        round(col("sel_rate"), 6).as("sel_rate"),
        round(col("di_ratio"), 6).as("di_ratio"),
        (col("di_ratio") >= FourFifths).as("passes_four_fifths"),
        round(col("qual_sel_rate"), 6).as("qual_sel_rate"),
        round(col("qual_sel_rate") - col("pooled_qual_rate"), 6)
          .as("equal_opp_gap"))
      .orderBy("source")
  }

  def gateFairnessOracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |lg AS (SELECT doc_id, CAST(sum($ClfLogitWSql) AS BIGINT) AS logit
       |  FROM tok GROUP BY doc_id),
       |g AS (SELECT source, lg.logit >= 0 AS kept, ($GopherSql) AS qual
       |  FROM documents JOIN lg USING (doc_id)),
       |ps AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_kept,
       |    CAST(sum(CASE WHEN qual THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_qual,
       |    CAST(sum(CASE WHEN kept AND qual THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_qual_kept
       |  FROM g GROUP BY source),
       |r AS (SELECT *,
       |    CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS sel_rate,
       |    CAST(n_qual_kept AS DOUBLE) / CAST(n_qual AS DOUBLE)
       |      AS qual_sel_rate,
       |    CAST(sum(n_qual_kept) OVER () AS DOUBLE)
       |      / CAST(sum(n_qual) OVER () AS DOUBLE) AS pooled_qual_rate
       |  FROM ps),
       |r2 AS (SELECT *, sel_rate / max(sel_rate) OVER () AS di_ratio
       |  FROM r)
       |SELECT source, n_docs, n_kept, n_qual, n_qual_kept,
       |  round(sel_rate, 6) AS sel_rate,
       |  round(di_ratio, 6) AS di_ratio,
       |  di_ratio >= $FourFifths AS passes_four_fifths,
       |  round(qual_sel_rate, 6) AS qual_sel_rate,
       |  round(qual_sel_rate - pooled_qual_rate, 6) AS equal_opp_gap
       |FROM r2 ORDER BY source""".stripMargin

  // --- q342: greedy set-cover source selection ------------------------------

  /** Selection rounds (sources picked). */
  val CoverRounds = 5

  /** q342 — greedy weighted set cover for source selection (the
    * ln(n)-approximation greedy of Johnson 1974 / Chvátal 1979): which
    * [[CoverRounds]] sources, licensed/crawled in what order, cover the
    * most distinct corpus content? Universe = distinct word 3-shingles
    * (content at sub-document granularity, so sources genuinely
    * overlap); each round picks the source with the largest NOVEL
    * coverage given everything already selected (ties: source asc) and
    * reports its marginal gain, the running cover, and the cover
    * share — the diminishing-returns curve a data-acquisition budget
    * is planned against.
    *
    * Parity: pure distinct-count arithmetic (shingle sets, anti-joins,
    * argmax by (gain, source) — a total order), ONE double division +
    * round for the share; the oracle unrolls the greedy rounds as
    * CTEs with the same tie-break.
    *
    * Scale (100 TB): per round ONE map-combinable
    * (source × uncovered-shingle) distinct-aggregate and a semi-join
    * of the (shingle→covered) set — the covered set is itself
    * shingle-keyed and partitions with the universe; the argmax is a
    * |sources|-row sort. Rounds are a small constant (the budget), so
    * the whole selection is CoverRounds passes, each the q138-class
    * distinct collapse. */
  def greedyCover(s: SparkSession, dir: String): DataFrame = {
    val tokd = t(s, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
    // Mask collapse (round-13 optimization, guide §2.3 "aggregate
    // before you shuffle" + §2.4 "remove shuffles outright"): a shingle
    // is covered iff its SOURCE SET intersects the selected set, so the
    // greedy rounds only ever need the count of shingles per distinct
    // source-set ("mask"). The old form anti-joined the full
    // (source, shingle) table against the growing covered-shingle set
    // EVERY round — five corpus-scale shuffles; this form pays ONE
    // corpus-scale aggregate chain (shingle → sorted source set → mask
    // counts, both map-combinable after the same distinct collapse) and
    // runs all [[CoverRounds]] rounds over the |masks|-row table
    // (bounded by min(|shingles|, 2^|sources|) — tiny at any corpus
    // size with a bounded source catalog). gain(s) = Σ n over
    // uncovered masks containing s: identical values, identical
    // (gain desc, source asc) argmax, identical output.
    val masks = tokd.select(col("source"),
      explode(array_distinct(expr(DedupOps.wordGramArrayExpr(3))))
        .as("shingle"))
      .groupBy("shingle").agg(sort_array(collect_set(col("source")))
        .as("srcs"))
      .groupBy("srcs").agg(count(lit(1)).as("n"))
      .persist()
    val uTot = masks.agg(sum(col("n")).as("n_universe"))
    val rows = scala.collection.mutable.Buffer.empty[DataFrame]
    var avail = masks // masks not yet covered by any selected source
    var cum = 0L // shingles covered by the picks so far
    (1 to CoverRounds).foreach { r =>
      val gains = avail
        .select(explode(col("srcs")).as("source"), col("n"))
        .groupBy("source").agg(sum(col("n")).as("gain"))
      // cutLineage per pick: the uncut round chain grows geometrically
      // (the q338 lesson); every cut frame here is ≤ |masks| rows. The
      // pick's gain is observed on its own cut job.
      val (best, Seq(gain)) = cutObserved(gains
        .orderBy(col("gain").desc, col("source")).limit(1)
        .select(col("source").as("best_source"), col("gain")),
        coalesce(sum(col("gain")), lit(0L)))
      rows += best.crossJoin(broadcast(uTot))
        .selectExpr(s"CAST($r AS BIGINT) AS round",
          "best_source AS source", "gain",
          s"CAST(${cum + gain} AS BIGINT) AS n_covered",
          s"round(CAST(${cum + gain} AS DOUBLE) / n_universe, 6)" +
            " AS cover_share")
      cum += gain
      avail = cutLineage(avail.join(broadcast(best),
        array_contains(col("srcs"), col("best_source")), "left_anti"))
    }
    rows.reduce(_.union(_)).orderBy("round")
  }

  def greedyCoverOracle: String = {
    val rounds = (1 to CoverRounds).map { r =>
      val pc = if (r == 1) "c0" else s"c${r - 1}"
      s"""g$r AS (SELECT source, count(*) AS gain FROM ss
         |  WHERE shingle NOT IN (SELECT shingle FROM $pc)
         |  GROUP BY source),
         |b$r AS (SELECT source, gain FROM g$r
         |  ORDER BY gain DESC, source LIMIT 1),
         |c$r AS (SELECT shingle FROM $pc
         |  UNION SELECT ss.shingle FROM ss, b$r
         |  WHERE ss.source = b$r.source),
         |s$r AS (SELECT CAST($r AS BIGINT) AS round,
         |    (SELECT source FROM b$r) AS source,
         |    (SELECT gain FROM b$r) AS gain,
         |    (SELECT count(*) FROM c$r) AS n_covered,
         |    round(CAST((SELECT count(*) FROM c$r) AS DOUBLE)
         |      / (SELECT n FROM u), 6) AS cover_share)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to CoverRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT source, string_split(text, ' ') AS toks
       |  FROM documents),
       |ss AS (SELECT DISTINCT source, shingle FROM (
       |  SELECT source, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       |    AS shingle
       |  FROM tok)),
       |u AS (SELECT count(DISTINCT shingle) AS n FROM ss),
       |c0 AS (SELECT shingle FROM ss WHERE 1 = 0),
       |$rounds
       |SELECT * FROM ($sel) ORDER BY round""".stripMargin
  }

  // --- q377: Dorfman pooled-testing design -----------------------------------

  /** Pool sizes priced by the sweep. */
  val PoolSizes: Seq[Int] = (1 to 12).toList

  /** q377 — Dorfman group testing (Dorfman 1943): when a QC check is
    * expensive (human review, a big-model judge), test POOLS of k
    * documents and only re-test the members of failing pools. Per pool
    * size: the closed-form expected tests per item 1/k + 1 − (1−p)ᵏ,
    * AND the exact realized cost of the deterministic hash-ordered
    * pooling on THIS corpus — the measured-vs-theory pair, with the
    * closed-form argmin flagged. Defect = document length below the
    * corpus's exact 10th percentile (data-relative, q345's lesson).
    * At p ≈ 0.1 pooling cuts QC cost ~2×; the table shows exactly
    * where the savings collapse (k past the optimum re-tests too many
    * pools).
    *
    * Parity: the percentile and pool assignments ride
    * [[ScaleOps.withGlobalRank]] (exact integer ranks; md5 order for
    * pooling); realized tests are exact integers; the closed form is
    * one pinned power chain.
    *
    * Scale (100 TB): two global ranks + a |k-grid|-bounded explode of
    * pool ids; every aggregate map-combines. */
  def poolTesting(s: SparkSession, dir: String): DataFrame = {
    val d = EtlOps.t(s, dir, "documents")
      .selectExpr("doc_id", "CAST(n_chars AS BIGINT) AS len",
        "md5(CAST(doc_id AS STRING)) AS hk")
    val byLen = ScaleOps.withGlobalRank(
      d.select("doc_id", "len"), "lr", col("len"), col("doc_id"))
      .persist()
    val n = byLen.count()
    val thrRank = math.ceil(0.1 * n.toDouble).toLong
    val thr = broadcast(byLen.filter(col("lr") === thrRank)
      .select(col("len").as("thr")))
    val flagged = ScaleOps.withGlobalRank(
      d.crossJoin(thr).selectExpr("doc_id", "hk",
        "len < thr AS defect"),
      "rnk", col("hk"), col("doc_id")).persist()
    val p = broadcast(flagged.agg(
      (sum(when(col("defect"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("p")))
    val grid = broadcast(s.createDataFrame(
      PoolSizes.map(Tuple1(_))).toDF("k"))
    val pools = flagged.crossJoin(grid)
      .selectExpr("k", "(rnk - 1) div k AS pool", "defect")
      .groupBy("k", "pool")
      .agg(count(lit(1)).as("m"),
        max(when(col("defect"), 1L).otherwise(0L)).as("bad"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pools"),
        sum("bad").as("n_bad_pools"),
        sum(when(col("bad") === 1L, col("m")).otherwise(0L))
          .as("n_retested"))
    pools.crossJoin(p)
      .selectExpr("k", s"CAST($n AS BIGINT) AS n_docs",
        "round(p, 6) AS p_defect",
        "CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)" +
          " ELSE 1.0 / CAST(k AS DOUBLE)" +
          " + 1.0 - power(1.0 - p, CAST(k AS DOUBLE)) END" +
          " AS exp_tests_per_item",
        "CASE WHEN k = 1 THEN n_pools" +
          " ELSE n_pools + n_retested END AS actual_tests")
      .withColumn("best_expected",
        col("exp_tests_per_item") === min("exp_tests_per_item")
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .selectExpr("k", "n_docs", "p_defect",
        "round(exp_tests_per_item, 6) AS exp_tests_per_item",
        "actual_tests",
        "round(CAST(actual_tests AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)" +
          " AS actual_tests_per_item",
        "best_expected")
      .orderBy("k")
  }

  def poolTestingOracle: String = {
    val grid = PoolSizes.mkString(", ")
    s"""WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
       |    md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
       |bl AS (SELECT *, row_number() OVER (ORDER BY len, doc_id)
       |    AS lr FROM d),
       |nn AS (SELECT count(*) AS n FROM d),
       |thr AS (SELECT len AS thr FROM bl, nn
       |  WHERE lr = CAST(ceil(0.1 * n) AS BIGINT)),
       |fl AS (SELECT doc_id, hk, len < thr.thr AS defect
       |  FROM d, thr),
       |rk AS (SELECT *, row_number() OVER (ORDER BY hk, doc_id)
       |    AS rnk FROM fl),
       |pp AS (SELECT CAST(sum(CASE WHEN defect THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS p FROM fl),
       |pools AS (SELECT g.k, (rnk - 1) // g.k AS pool,
       |    count(*) AS m,
       |    max(CASE WHEN defect THEN 1 ELSE 0 END) AS bad
       |  FROM rk, (SELECT unnest(ARRAY[$grid]) AS k) g
       |  GROUP BY g.k, (rnk - 1) // g.k),
       |agg AS (SELECT k, count(*) AS n_pools,
       |    CAST(sum(bad) AS BIGINT) AS n_bad_pools,
       |    CAST(sum(CASE WHEN bad = 1 THEN m ELSE 0 END) AS BIGINT)
       |      AS n_retested
       |  FROM pools GROUP BY k),
       |res AS (SELECT CAST(k AS INT) AS k,
       |    (SELECT n FROM nn) AS n_docs,
       |    round(pp.p, 6) AS p_defect,
       |    CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
       |      ELSE 1.0 / CAST(k AS DOUBLE)
       |      + 1.0 - power(1.0 - pp.p, CAST(k AS DOUBLE)) END
       |      AS exp_tpi,
       |    CASE WHEN k = 1 THEN n_pools
       |      ELSE n_pools + n_retested END AS actual_tests
       |  FROM agg, pp)
       |SELECT k, n_docs, p_defect,
       |  round(exp_tpi, 6) AS exp_tests_per_item, actual_tests,
       |  round(CAST(actual_tests AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS actual_tests_per_item,
       |  exp_tpi = min(exp_tpi) OVER () AS best_expected
       |FROM res ORDER BY k""".stripMargin
  }

  // --- q374: intraclass correlation & cluster design effect -----------------

  /** q374 — intraclass correlation and the cluster-sampling design
    * effect (Kish 1965): for each candidate cluster variable, the
    * one-way-ANOVA ICC estimate ρ = (MSB − MSW)/(MSB + (m̄−1)·MSW) of
    * document length, the design effect deff = 1 + (m̄−1)·ρ, and the
    * effective sample size n/deff. THE number a survey-style corpus
    * audit needs before sampling whole clusters (crawl hosts, sources,
    * language shards) instead of documents: q357 prices STRATIFIED
    * designs (sampling within every stratum), this prices CLUSTER
    * designs (sampling whole groups) — the two classical corrections,
    * now both measured. A near-zero ICC (lengths don't cluster) means
    * cluster sampling is almost free; ICC → 1 means a cluster sample
    * of m docs carries ~1 document of information.
    *
    * Parity: per-cluster (n, Σx, Σx²) are exact BIGINTs; the
    * between/within sums of squares are pinned double chains over
    * those integers; one division each for MSB, MSW, ρ, deff.
    *
    * Scale (100 TB): one map-combinable aggregate per cluster
    * variable; everything downstream is |clusters|-sized. */
  def iccDesignEffect(s: SparkSession, dir: String): DataFrame = {
    def one(clusterCol: String): DataFrame = {
      val g = EtlOps.t(s, dir, "documents")
        .groupBy(col(clusterCol).as("cl"))
        .agg(count(lit(1)).as("m"), sum("n_chars").as("sx"),
          sum(expr("n_chars * n_chars")).as("sxx"))
      g.agg(count(lit(1)).as("k"), sum("m").as("n"),
          sum("sx").as("tsx"), sum("sxx").as("tsxx"),
          // Σ (Σx_i)²/m_i enters SSB; freeze the per-cluster term to
          // ×1e6 so the cross-cluster sum is order-independent
          sum(expr("CAST(floor(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)" +
            " / CAST(m AS DOUBLE) * 1e6) AS BIGINT)")).as("ssb_fp"))
        .selectExpr(s"'$clusterCol' AS cluster_var", "k", "n",
          "CAST(ssb_fp AS DOUBLE) / 1e6" +
            " - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE)" +
            " / CAST(n AS DOUBLE) AS ssb",
          "CAST(tsxx AS DOUBLE) - CAST(ssb_fp AS DOUBLE) / 1e6 AS ssw")
        .selectExpr("cluster_var", "k", "n",
          "ssb / CAST(k - 1 AS DOUBLE) AS msb",
          "ssw / CAST(n - k AS DOUBLE) AS msw",
          "CAST(n AS DOUBLE) / CAST(k AS DOUBLE) AS mbar")
        .selectExpr("cluster_var", "k AS n_clusters", "n AS n_docs",
          "round(mbar, 4) AS mean_cluster_size",
          "round((msb - msw) / (msb + (mbar - 1.0) * msw), 6) AS icc",
          "round(1.0 + (mbar - 1.0)" +
            " * ((msb - msw) / (msb + (mbar - 1.0) * msw)), 4) AS deff",
          "round(CAST(n AS DOUBLE) / (1.0 + (mbar - 1.0)" +
            " * ((msb - msw) / (msb + (mbar - 1.0) * msw))), 2)" +
            " AS eff_sample_size")
    }
    one("source").unionAll(one("lang")).orderBy("cluster_var")
  }

  def iccDesignEffectOracle: String = {
    def one(clusterCol: String): String =
      s"""SELECT cluster_var, k AS n_clusters, n AS n_docs,
         |  round(mbar, 4) AS mean_cluster_size,
         |  round((msb - msw) / (msb + (mbar - 1.0) * msw), 6) AS icc,
         |  round(1.0 + (mbar - 1.0)
         |    * ((msb - msw) / (msb + (mbar - 1.0) * msw)), 4) AS deff,
         |  round(CAST(n AS DOUBLE) / (1.0 + (mbar - 1.0)
         |    * ((msb - msw) / (msb + (mbar - 1.0) * msw))), 2)
         |    AS eff_sample_size
         |FROM (SELECT cluster_var, k, n,
         |    ssb / CAST(k - 1 AS DOUBLE) AS msb,
         |    ssw / CAST(n - k AS DOUBLE) AS msw,
         |    CAST(n AS DOUBLE) / CAST(k AS DOUBLE) AS mbar
         |  FROM (SELECT cluster_var, k, n,
         |      CAST(ssb_fp AS DOUBLE) / 1e6
         |        - CAST(tsx AS DOUBLE) * CAST(tsx AS DOUBLE)
         |        / CAST(n AS DOUBLE) AS ssb,
         |      CAST(tsxx AS DOUBLE) - CAST(ssb_fp AS DOUBLE) / 1e6
         |        AS ssw
         |    FROM (SELECT '$clusterCol' AS cluster_var,
         |        count(*) AS k, CAST(sum(m) AS BIGINT) AS n,
         |        CAST(sum(sx) AS BIGINT) AS tsx,
         |        CAST(sum(sxx) AS BIGINT) AS tsxx,
         |        CAST(sum(CAST(floor(CAST(sx AS DOUBLE)
         |          * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) * 1e6)
         |          AS BIGINT)) AS BIGINT) AS ssb_fp
         |      FROM (SELECT $clusterCol AS cl, count(*) AS m,
         |          CAST(sum(n_chars) AS BIGINT) AS sx,
         |          CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
         |        FROM documents GROUP BY $clusterCol))))""".stripMargin
    s"""SELECT * FROM (${one("source")} UNION ALL ${one("lang")})
       |ORDER BY cluster_var""".stripMargin
  }

  // --- q357: Neyman allocation sampling design -----------------------------

  /** Total sample budget the allocation distributes. */
  val NeymanBudget = 500

  /** q357 — Neyman-optimal stratified sampling design (Neyman 1934)
    * over per-event-type value strata, head-to-head with proportional
    * allocation: n_h ∝ N_h·S_h concentrates budget where strata are
    * big AND noisy, and the stratified-mean variance
    * V = Σ (N_h/N)²·S_h²/n_h under each design says exactly what that
    * buys. q140 ALLOCATES a fixed inspection budget by Neyman over
    * document sources; THIS prices the design itself — estimator
    * variance under Neyman vs proportional and the ratio between them
    * (the design effect) on the event-value strata, the column q140's
    * allocation table cannot answer ("what did Neyman buy us?").
    * q64/q219 assume the design away entirely: they draw the sample.
    *
    * Parity: per-row values freeze to integer cents, so all sums and
    * squared sums are exact BIGINT; each S_h is one pinned
    * (N·Σy²−(Σy)²)/(N(N−1)) double chain + sqrt (correctly-rounded
    * libm on both engines); the two cross-stratum double sums (Neyman
    * weights, variance contributions) freeze ×1e6/×1e12 to BIGINT
    * before summing — order-independent by construction.
    *
    * Scale (100 TB): ONE corpus scan into a |strata|-sized aggregate;
    * everything after runs on catalog-sized frames (the 1-row totals
    * cross-join is broadcast by construction). */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val b = NeymanBudget
    val st = EtlOps.events(s, dir)
      .selectExpr("event_type AS stratum",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents")
      .groupBy("stratum")
      .agg(count(lit(1)).as("nh"), sum(col("cents")).as("sy"),
        sum(col("cents") * col("cents")).as("syy"))
      .selectExpr("stratum", "nh", "sy", "syy",
        "(CAST(nh AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE)) AS s2")
      .selectExpr("stratum", "nh", "sy", "syy", "s2",
        "CAST(floor(CAST(nh AS DOUBLE) * sqrt(s2) * 1000000.0)" +
          " AS BIGINT) AS wfp")
      .persist()
    val tot = st.agg(sum("nh").as("n"), sum("sy").as("tsy"),
      sum("syy").as("tsyy"), sum("wfp").as("sw"))
    val rows = st.crossJoin(broadcast(tot))
      .selectExpr("stratum", "nh", "sy", "s2",
        s"CAST($b AS DOUBLE) * CAST(nh AS DOUBLE) / CAST(n AS DOUBLE)" +
          " AS ap",
        s"CAST($b AS DOUBLE) * CAST(wfp AS DOUBLE) / CAST(sw AS DOUBLE)" +
          " AS an",
        "CAST(nh AS DOUBLE) / CAST(n AS DOUBLE) AS fh")
      .selectExpr("stratum", "nh", "sy", "s2", "ap", "an",
        "CAST(floor(fh * fh * s2 / ap * 1000000000000.0) AS BIGINT)" +
          " AS vp_fp",
        "CAST(floor(fh * fh * s2 / an * 1000000000000.0) AS BIGINT)" +
          " AS vn_fp")
      .persist()
    val strata = rows.selectExpr("stratum", "nh AS n_pop",
      "round(CAST(sy AS DOUBLE) / CAST(nh AS DOUBLE) / 100.0, 4)" +
        " AS mean_value",
      "round(sqrt(s2) / 100.0, 4) AS sd_value",
      "round(ap, 2) AS alloc_prop", "round(an, 2) AS alloc_neyman",
      "round(CAST(vp_fp AS DOUBLE) / 1000000000000.0, 4) AS var_prop",
      "round(CAST(vn_fp AS DOUBLE) / 1000000000000.0, 4) AS var_neyman",
      "round(CAST(vn_fp AS DOUBLE) / CAST(vp_fp AS DOUBLE), 4)" +
        " AS var_ratio")
    val total = rows.agg(sum("vp_fp").as("tvp"), sum("vn_fp").as("tvn"))
      .crossJoin(broadcast(tot))
      .selectExpr("'TOTAL' AS stratum", "n AS n_pop",
        "round(CAST(tsy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)" +
          " AS mean_value",
        "round(sqrt((CAST(n AS DOUBLE) * CAST(tsyy AS DOUBLE)" +
          " - CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE))" +
          " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0, 4)" +
          " AS sd_value",
        s"CAST($b AS DOUBLE) AS alloc_prop",
        s"CAST($b AS DOUBLE) AS alloc_neyman",
        "round(CAST(tvp AS DOUBLE) / 1000000000000.0, 4) AS var_prop",
        "round(CAST(tvn AS DOUBLE) / 1000000000000.0, 4) AS var_neyman",
        "round(CAST(tvn AS DOUBLE) / CAST(tvp AS DOUBLE), 4)" +
          " AS var_ratio")
    strata.unionAll(total).orderBy("stratum")
  }

  def neymanAllocationOracle: String = {
    val b = NeymanBudget
    s"""WITH ev AS (SELECT event_type AS stratum,
       |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |st AS (SELECT stratum, count(*) AS nh,
       |    CAST(sum(cents) AS BIGINT) AS sy,
       |    CAST(sum(cents * cents) AS BIGINT) AS syy
       |  FROM ev GROUP BY stratum),
       |sv AS (SELECT stratum, nh, sy, syy,
       |    (CAST(nh AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE)) AS s2
       |  FROM st),
       |sw AS (SELECT stratum, nh, sy, syy, s2,
       |    CAST(floor(CAST(nh AS DOUBLE) * sqrt(s2) * 1000000.0)
       |      AS BIGINT) AS wfp
       |  FROM sv),
       |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n,
       |    CAST(sum(sy) AS BIGINT) AS tsy,
       |    CAST(sum(syy) AS BIGINT) AS tsyy,
       |    CAST(sum(wfp) AS BIGINT) AS sw FROM sw),
       |rows_ AS (SELECT stratum, nh, sy, s2,
       |    CAST($b AS DOUBLE) * CAST(nh AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS ap,
       |    CAST($b AS DOUBLE) * CAST(wfp AS DOUBLE) / CAST(sw AS DOUBLE)
       |      AS an,
       |    CAST(nh AS DOUBLE) / CAST(n AS DOUBLE) AS fh
       |  FROM sw, tot),
       |rf AS (SELECT stratum, nh, sy, s2, ap, an,
       |    CAST(floor(fh * fh * s2 / ap * 1000000000000.0) AS BIGINT)
       |      AS vp_fp,
       |    CAST(floor(fh * fh * s2 / an * 1000000000000.0) AS BIGINT)
       |      AS vn_fp
       |  FROM rows_),
       |strata AS (SELECT stratum, nh AS n_pop,
       |    round(CAST(sy AS DOUBLE) / CAST(nh AS DOUBLE) / 100.0, 4)
       |      AS mean_value,
       |    round(sqrt(s2) / 100.0, 4) AS sd_value,
       |    round(ap, 2) AS alloc_prop, round(an, 2) AS alloc_neyman,
       |    round(CAST(vp_fp AS DOUBLE) / 1000000000000.0, 4) AS var_prop,
       |    round(CAST(vn_fp AS DOUBLE) / 1000000000000.0, 4)
       |      AS var_neyman,
       |    round(CAST(vn_fp AS DOUBLE) / CAST(vp_fp AS DOUBLE), 4)
       |      AS var_ratio
       |  FROM rf),
       |ttl AS (SELECT 'TOTAL' AS stratum, n AS n_pop,
       |    round(CAST(tsy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4)
       |      AS mean_value,
       |    round(sqrt((CAST(n AS DOUBLE) * CAST(tsyy AS DOUBLE)
       |      - CAST(tsy AS DOUBLE) * CAST(tsy AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0, 4)
       |      AS sd_value,
       |    CAST($b AS DOUBLE) AS alloc_prop,
       |    CAST($b AS DOUBLE) AS alloc_neyman,
       |    round(CAST(t2.tvp AS DOUBLE) / 1000000000000.0, 4)
       |      AS var_prop,
       |    round(CAST(t2.tvn AS DOUBLE) / 1000000000000.0, 4)
       |      AS var_neyman,
       |    round(CAST(t2.tvn AS DOUBLE) / CAST(t2.tvp AS DOUBLE), 4)
       |      AS var_ratio
       |  FROM tot, (SELECT CAST(sum(vp_fp) AS BIGINT) AS tvp,
       |    CAST(sum(vn_fp) AS BIGINT) AS tvn FROM rf) t2)
       |SELECT * FROM (SELECT * FROM strata UNION ALL SELECT * FROM ttl)
       |ORDER BY stratum""".stripMargin
  }
}
