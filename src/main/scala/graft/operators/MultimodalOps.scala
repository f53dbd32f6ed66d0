package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, processed per-partition in batches.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[FakeDecoder]]); everything
  * Spark-side — schema, binary column handling, partition batching, typed
  * Dataset plumbing — is real and is what would carry a true decoder at
  * 100 TB (same shape as a Pandas-UDF/`mapInPandas` pipeline in PySpark:
  * one decoder instantiation per partition, row batches streamed through).
  */
object MultimodalOps {

  import EtlOps.t

  /** Typed metadata extracted from a media blob. */
  final case class MediaMeta(
      doc_id: Long, byte_len: Long, sha: String,
      width: Int, height: Int, n_frames: Int)

  /** STUB decoder: a real implementation would wrap an image/audio codec
    * here (one instance per partition; called per batch). The fake is
    * deterministic on the blob bytes so tests are stable. */
  object FakeDecoder {
    def decode(docId: Long, blob: Array[Byte]): MediaMeta = {
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(blob).map("%02x".format(_)).mkString
      val b0 = if (blob.nonEmpty) blob(0) & 0xff else 0
      MediaMeta(docId, blob.length.toLong, sha,
        width = b0 % 64 + 16,
        height = (blob.length % 64) + 16,
        n_frames = blob.length % 7 + 1)
    }

    /** Resize stub: aspect-preserving downscale to fit maxDim — a real
      * implementation calls the codec's scaler; the arithmetic contract
      * (aspect ratio, bounds) is what the pipeline depends on. */
    def resize(width: Int, height: Int, maxDim: Int): (Int, Int) = {
      val scale = maxDim.toDouble / math.max(width, height)
      if (scale >= 1.0) (width, height)
      else (math.max(1, math.round(width * scale).toInt),
        math.max(1, math.round(height * scale).toInt))
    }
  }

  /** Real plumbing: documents.text → binary blob column (stand-in for an
    * image/audio payload) with typed metadata columns. */
  def asBinaryTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("blob"),
      col("source"), col("lang"))

  /** Partition-batched decode through the stub: the `mapPartitions` shape
    * a real codec needs (per-partition init, streamed batches, typed
    * output). Not oracle-checked (the stub is Scala-side); covered by
    * ScalaTest. */
  def decodeMeta(s: SparkSession, dir: String): Dataset[MediaMeta] = {
    import s.implicits._
    asBinaryTable(s, dir)
      .select(col("doc_id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init happens here in a real codec
        it.map { case (id, blob) => FakeDecoder.decode(id, blob) }
      }
  }

  /** One sampled "frame" of a media blob. */
  final case class FrameMeta(
      doc_id: Long, frame_idx: Int, offset: Long, frame_len: Long,
      frame_sha: String)

  /** q44 parity invariant: frame offsets address BYTES of the blob while
    * the DuckDB oracle slices CHARACTERS (`substr(text, off+1, 64)`) —
    * the two agree only when every character is single-byte. Enforce it
    * structurally: non-ASCII characters are replaced by '?' before
    * encoding, with the identical `regexp_replace` in the oracle SQL, so
    * parity holds for any corpus rather than resting on a latent
    * ASCII-only assumption. */
  def asciiBinaryTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      encode(regexp_replace(col("text"), "[^\\x00-\\x7F]", "?"), "UTF-8")
        .as("blob"))

  /** Frame sampling: the one-to-many multimodal shape (video → frames,
    * audio → windows). The stub samples fixed-stride byte windows of the
    * blob; a real decoder would emit decoded frames at the same
    * cardinality. flatMap keeps it partition-parallel with no shuffle —
    * each blob expands in place. */
  def sampleFrames(s: SparkSession, dir: String,
      frameLen: Int = 64, stride: Int = 128): Dataset[FrameMeta] = {
    import s.implicits._
    asciiBinaryTable(s, dir)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, blob) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        Iterator.range(0, blob.length, stride).zipWithIndex.map {
          case (off, idx) =>
            val end = math.min(off + frameLen, blob.length)
            val frame = java.util.Arrays.copyOfRange(blob, off, end)
            FrameMeta(id, idx, off.toLong, frame.length.toLong,
              md.digest(frame).map("%02x".format(_)).mkString)
        }
      }
  }

  /** q44 — frame sampling as a flat query result (typed flatMap under
    * the hood; ordered for the oracle). */
  def frameSamples(s: SparkSession, dir: String): DataFrame =
    sampleFrames(s, dir).toDF()
      .orderBy("doc_id", "frame_idx")

  // --- q159: perceptual-hash image near-dup ------------------------------

  /** Perceptual-hash geometry: the synthetic image is a 1-D strip of
    * [[PhashCells]] cells × [[PhashCellPx]] pixels (the 8×8-downscale
    * idea flattened to one dimension so the arithmetic is exactly
    * mirrorable in SQL); 61 cells give 60 dHash gradient bits — the
    * same width as [[DedupOps.SimhashBits]], so the banded-Hamming
    * candidate machinery is reused UNCHANGED. */
  val PhashCells = 61
  val PhashCellPx = 4
  val PhashImgLen: Int = PhashCells * PhashCellPx // 244 bytes
  val PhashMaxHamming = 4

  /** Deterministic synthetic image corpus with planted near-identical
    * copies: every document yields a [[PhashImgLen]]-byte blob whose
    * pixel i is a chaotic-but-exact integer pattern of the SOURCE
    * doc_id (kept in the printable range 32..126 so the blob↔string
    * round-trip is byte-exact in both engines), and every 4th document
    * additionally yields a copy (id offset by [[DedupOps.CopyOffset]])
    * with ONE cell flattened to the background value — a local edit
    * like a logo stamp or crop artifact, which changes at most 2 of the
    * 60 gradient bits. Unrelated images differ in ~30 bits. The blob is
    * REAL binary: downstream stages must recover pixels from the bytes,
    * not from the generator's arithmetic. */
  def imageCorpus(s: SparkSession, dir: String): DataFrame = {
    // native generator (graft.functions.ImgGen, round-14): the HOF form
    // below evaluated INTERPRETED — 244 chr()-allocating lambda calls
    // per row, ~30M element-ops per corpus pass, the dominant cost of
    // q159/q169 (the blob_phash argument one stage earlier). Byte
    // equality with the HOF form is spec-pinned.
    imageCorpusBase(s, dir).select(col("doc_id"),
      expr(s"img_gen(src_id, pert, $PhashCells, $PhashCellPx)").as("img"))
  }

  private def imageCorpusBase(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    d.select(col("doc_id"), col("doc_id").as("src_id"),
        lit(false).as("pert"))
      .unionAll(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + DedupOps.CopyOffset).as("doc_id"),
          col("doc_id").as("src_id"), lit(true).as("pert")))
  }

  /** The higher-order-function generator — the spec-only equivalence
    * reference [[imageCorpus]]'s native expression is proved against
    * (same pattern as [[perceptualHashReference]]). */
  private[graft] def imageCorpusReference(
      s: SparkSession, dir: String): DataFrame =
    imageCorpusBase(s, dir)
      .withColumn("img_str", expr(
        s"array_join(transform(sequence(0, ${PhashImgLen - 1}), i -> " +
          s"chr(32 + CASE WHEN pert AND i div $PhashCellPx = " +
          s"src_id % $PhashCells THEN 0 ELSE " +
          "((src_id % 95 + 1) * (i * i + i + 41) + " +
          "((src_id div 95) % 97 + 1) * (3 * i + 7) + " +
          // third mixing term: without it the pattern repeats every
          // 95*97 = 9215 ids, and a 10x scale-up manufactures ~80k
          // identical-image pairs that are generator artifacts, not
          // operator behavior; period is now 95*97*89 ~ 820k ids
          s"((src_id div 9215) % 89 + 1) * (5 * i + 11)) % 95 END)), '')"))
      .select(col("doc_id"), encode(col("img_str"), "UTF-8").as("img"))

  /** 60-bit dHash-style perceptual fingerprint computed FROM THE BLOB
    * (doc_id, img binary) → (doc_id, phash): decode bytes to pixel
    * values, sum [[PhashCellPx]]-pixel cells (the downscale), then one
    * gradient bit per adjacent cell pair — bit b = 1 iff
    * cell[b+1] > cell[b]. A local image edit perturbs only the bits
    * whose cells it touches, which is exactly the property that makes
    * dHash a NEAR-dup key where a cryptographic hash (q29) sees two
    * unrelated blobs. All integer arithmetic; one codegen'd projection,
    * no shuffle. */
  def perceptualHash(imgs: DataFrame): DataFrame = {
    // native expression (graft.functions.BlobPhash): one JVM loop over
    // the raw bytes. The HOF form below is kept as the spec-side
    // equivalence reference; it evaluates interpreted at ~1 µs per
    // element-op, which is invisible under count() (projection pruning)
    // but dominates real evaluation at scale.
    imgs.select(col("doc_id"),
      expr(s"blob_phash(img, $PhashCellPx)").as("phash"))
  }

  /** The higher-order-function form of [[perceptualHash]] — the
    * spec-only reference the native expression is proved against.
    * History: a first layered form (px array column → cells column →
    * phash) hit interpreted-HOF re-evaluation of every array
    * subexpression per lambda reference (minutes for 625 rows); this
    * inline form fixed that, and the native loop then replaced the
    * remaining ~µs-per-element interpretation cost. */
  private[graft] def perceptualHashReference(imgs: DataFrame): DataFrame = {
    def cellSum(c: String): String = (0 until PhashCellPx).map { j =>
      s"ascii(substring(CAST(img AS STRING), ($c) * $PhashCellPx + ${j + 1}, 1))"
    }.mkString(" + ")
    imgs.select(col("doc_id"), expr(
      s"aggregate(sequence(0, ${PhashCells - 2}), CAST(0 AS BIGINT), " +
        s"(acc, b) -> acc + IF((${cellSum("b + 1")}) > (${cellSum("b")}), " +
        "shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))").as("phash"))
  }

  /** q159 — perceptual-hash image near-dup: fingerprint every image
    * blob, then find pairs within Hamming ≤ [[PhashMaxHamming]] via
    * [[DedupOps.simhashPairsOfSigs]] — the SAME pigeonhole banding +
    * hot-bucket cap that guards q32/q156, reused verbatim (5 bands of
    * 12 bits: ≤ 4 differing bits leave at least one band untouched, so
    * the banding is lossless while cost stays O(Σ bucket²) not O(N²)).
    *
    * Scale (100 TB): the fingerprint is a per-row projection over the
    * image scan (binary column never shuffles — 8 bytes per image
    * leave the map side); candidates are band-bucket joins with the
    * shared duplication cap. This is the multimodal twin of the text
    * dedup family: same banding, same guard, a domain-specific sketch. */
  def imagePhashNearDup(s: SparkSession, dir: String): DataFrame =
    DedupOps.simhashPairsOfSigs(
      perceptualHash(imageCorpus(s, dir)),
      bucketCap = Some(DedupOps.LshBucketCap), sigCol = "phash",
      bits = DedupOps.SimhashBits, nBands = DedupOps.SimhashBands,
      maxHamming = PhashMaxHamming)
      .orderBy("doc_a", "doc_b")

  /** q169 — image dedup CLUSTERS: q159's near-dup pairs closed into
    * connected components (the shared min-label propagation engine
    * behind q59/q110) with per-cluster membership and copy counts —
    * the survivor list an image dedup pass feeds downstream, closing
    * the multimodal detect → cluster → decide chain the text side has
    * had since round 6. Singleton clusters (images with no near-dup)
    * appear with n_members = 1, so the output is the complete
    * partition of the image corpus.
    *
    * Scale: pairs are the q159 output (candidate-bounded); propagation
    * joins key on the slim pair table; the corpus-sized frame only
    * carries (doc_id, lbl). Same cost class as q59. */
  def imagePhashClusters(s: SparkSession, dir: String): DataFrame =
    CurationOps.propagateLabels(
      imagePhashNearDup(s, dir).select(col("doc_a"), col("doc_b")),
      imageCorpus(s, dir).select(col("doc_id")))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("doc_id") >= DedupOps.CopyOffset, 1L).otherwise(0L))
          .as("n_copies"))
      .orderBy("cluster_id")

  def imagePhashClustersOracle(q159Sql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($q159Sql) qq),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT doc_id FROM documents
       |          UNION ALL SELECT doc_id + ${DedupOps.CopyOffset}
       |          FROM documents WHERE doc_id % 4 = 0),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM nodes
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM r GROUP BY node)
       |SELECT cluster_id, count(*) AS n_members,
       |  CAST(sum(CASE WHEN node >= ${DedupOps.CopyOffset} THEN 1 ELSE 0
       |    END) AS BIGINT) AS n_copies
       |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // --- q160: image-stat quality gate --------------------------------------

  /** Gate thresholds, in the fixed-point units of [[imageQualityGate]]:
    * contrast is pixel variance ×10⁶, entropy is nats ×10⁹. A flat
    * image scores 0/0; a two-tone stripe pattern has high contrast but
    * only ln 2 ≈ 0.69 nats; a natural-statistics image clears both. */
  val GateContrastMinFp = 100L * 1000000L      // variance >= 100
  val GateEntropyMinFp = 1500000000L           // >= 1.5 nats
  val GateHistBins = 16

  /** Image corpus for the quality gate with three planted classes:
    * doc_id % 10 == 0 → FLAT (one constant pixel value — a failed
    * render / blank thumbnail), doc_id % 10 == 5 → two-tone STRIPES
    * (high contrast, minimal entropy — a banner/test-card shape), all
    * others → the q159 chaotic pattern (natural-ish statistics). Same
    * contract as [[imageCorpus]]: the blob is real binary and
    * downstream must recover pixels from the bytes. */
  def imageGateCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .withColumn("img_str", expr(
        s"array_join(transform(sequence(0, ${PhashImgLen - 1}), i -> " +
          "chr(CASE WHEN doc_id % 10 = 0 THEN 32 + doc_id % 95 " +
          "WHEN doc_id % 10 = 5 THEN IF(i % 2 = 0, 40, 100) " +
          "ELSE 32 + ((doc_id % 95 + 1) * (i * i + i + 41) + " +
          "((doc_id div 95) % 97 + 1) * (3 * i + 7) + " +
          "((doc_id div 9215) % 89 + 1) * (5 * i + 11)) % 95 END)), '')"))
      .select(col("doc_id"), encode(col("img_str"), "UTF-8").as("img"))

  /** q160 — image-stat quality gate, the multimodal sibling of the
    * Gopher text gate (q104): per-image brightness, contrast and
    * 16-bin histogram entropy computed FROM THE BLOB, then a keep/drop
    * verdict per statistic. Everything crossing engines is exact
    * integer fixed point — brightness/contrast are pure integer
    * arithmetic over pixel sums, and entropy freezes each bin's
    * −p·ln p term to ×10⁹ before the (order-free) integer sum, the
    * q142/q157 discipline — so Spark and DuckDB agree bitwise.
    *
    * Scale (100 TB): one codegen'd projection per image — no shuffle
    * at all except the final presentation sort; the gate composes with
    * any downstream join/agg as a pushed filter. The inline-lambda
    * form avoids the q159 projection-collapse trap. */
  def imageQualityGate(s: SparkSession, dir: String): DataFrame = {
    val n = PhashImgLen
    // byte loop in the native blob_pixel_stats expression; only the
    // 16-element entropy fold stays a lambda (16 evals/row). The
    // original all-HOF form evaluated interpreted at ~1 µs/element-op —
    // 54–60 s for 500k images at the synthetic 100×, invisible under
    // count() because Spark prunes unused projections (BENCH_NOTES).
    val entropyFp =
      s"aggregate(st.hist, CAST(0 AS BIGINT), (acc, c) -> acc + " +
        s"IF(c > 0, CAST(floor((-(CAST(c AS DOUBLE) / $n.0)) * " +
        s"ln(CAST(c AS DOUBLE) / $n.0) * 1000000000.0) AS BIGINT), " +
        "CAST(0 AS BIGINT)))"
    imageGateCorpus(s, dir)
      .select(col("doc_id"), expr("blob_pixel_stats(img)").as("st"))
      .select(col("doc_id"),
        col("st.sum_px").as("sum_px"), col("st.ssq_px").as("ssq_px"),
        expr(entropyFp).as("entropy_fp"))
      .select(col("doc_id"),
        expr("(sum_px * 1000000) div " + n).as("brightness_fp"),
        expr(s"(($n * ssq_px - sum_px * sum_px) * 1000000) div " +
          s"(${n.toLong * n})").as("contrast_fp"),
        col("entropy_fp"))
      .withColumn("pass_contrast", col("contrast_fp") >= GateContrastMinFp)
      .withColumn("pass_entropy", col("entropy_fp") >= GateEntropyMinFp)
      .withColumn("kept", col("pass_contrast") && col("pass_entropy"))
      .orderBy("doc_id")
  }

  // --- q165: audio QA gate ------------------------------------------------

  /** Audio-gate geometry and thresholds: [[AudioLen]] int8-style
    * samples per track (byte-exact in the printable band 32..126,
    * midpoint [[AudioMid]]); a sample is SILENT within ±1 of the
    * midpoint and CLIPPED at either rail. Ratios and energy are ×10⁶
    * fixed point. */
  val AudioLen = 400
  val AudioMid = 79
  val AudioSilenceMaxFp = 500000L    // < 50% silent samples
  val AudioClipMaxFp = 100000L       // < 10% clipped samples
  val AudioEnergyMinFp = 50L * 1000000L // mean square >= 50

  /** Waveform corpus with three planted classes: doc_id % 7 == 0 →
    * near-SILENT track (a dead mic / failed decode), doc_id % 7 == 3 →
    * third of the samples pinned at the positive rail (hard CLIPPING),
    * all others → the chaotic pattern (a healthy signal). Blob is real
    * binary; the gate must recover samples from bytes. */
  def audioCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .withColumn("wav_str", expr(
        s"array_join(transform(sequence(0, ${AudioLen - 1}), i -> " +
          s"chr(CASE WHEN doc_id % 7 = 0 THEN $AudioMid + IF(i % 3 = 0, 1, 0) " +
          "WHEN doc_id % 7 = 3 AND i % 3 = 0 THEN 126 " +
          "ELSE 32 + ((doc_id % 95 + 1) * (i * i + i + 41) + " +
          "((doc_id div 95) % 97 + 1) * (3 * i + 7) + " +
          "((doc_id div 9215) % 89 + 1) * (5 * i + 11)) % 95 END)), '')"))
      .select(col("doc_id"), encode(col("wav_str"), "UTF-8").as("wav"))

  /** q165 — audio QA gate, completing the modality set (q159/q160 are
    * the image side, q44 the frame sampler): per-track energy about the
    * midpoint, silence ratio, and clip ratio computed FROM THE BLOB,
    * each with its own verdict — the standard triage that keeps dead
    * mics and limiter-slammed audio out of a training mix. Pure
    * integer fixed point throughout (no ln here — ratios and sums of
    * squares only), so cross-engine parity is exact by construction.
    *
    * Scale (100 TB): one codegen'd projection per track (the sample
    * array is the aggregate's collection — evaluated once per row, the
    * q160 HOF discipline); only the presentation sort exchanges. */
  def audioQualityGate(s: SparkSession, dir: String): DataFrame = {
    val n = AudioLen
    // native blob_wave_stats: one byte loop per track (the all-HOF form
    // was 79–87 s for 500k tracks at 100×, hidden by count() pruning —
    // see blob_pixel_stats / BENCH_NOTES)
    audioCorpus(s, dir)
      .select(col("doc_id"),
        expr(s"blob_wave_stats(wav, $AudioMid)").as("st"))
      .select(col("doc_id"),
        expr(s"(st.energy * 1000000) div $n").as("energy_fp"),
        expr(s"(st.silent * 1000000) div $n").as("silence_ratio_fp"),
        expr(s"(st.clipped * 1000000) div $n").as("clip_ratio_fp"))
      .withColumn("pass_energy", col("energy_fp") >= AudioEnergyMinFp)
      .withColumn("pass_silence",
        col("silence_ratio_fp") < AudioSilenceMaxFp)
      .withColumn("pass_clip", col("clip_ratio_fp") < AudioClipMaxFp)
      .withColumn("kept",
        col("pass_energy") && col("pass_silence") && col("pass_clip"))
      .orderBy("doc_id")
  }

  def audioQualityGateOracle: String = {
    val n = AudioLen
    s"""WITH w AS (SELECT doc_id, list_transform(range(0, $n), i ->
       |    CASE WHEN doc_id % 7 = 0 THEN
       |      $AudioMid + CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END
       |    WHEN doc_id % 7 = 3 AND i % 3 = 0 THEN 126
       |    ELSE 32 + ((doc_id % 95 + 1) * (i * i + i + 41)
       |      + ((doc_id // 95) % 97 + 1) * (3 * i + 7)
       |      + ((doc_id // 9215) % 89 + 1) * (5 * i + 11)) % 95 END)
       |    AS sm
       |  FROM documents),
       |st AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(sm, x ->
       |      (x - $AudioMid) * (x - $AudioMid))) AS BIGINT) AS energy,
       |    CAST(list_sum(list_transform(sm, x ->
       |      CASE WHEN abs(x - $AudioMid) <= 1 THEN 1 ELSE 0 END))
       |      AS BIGINT) AS silent,
       |    CAST(list_sum(list_transform(sm, x ->
       |      CASE WHEN x = 32 OR x = 126 THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS clipped
       |  FROM w)
       |SELECT doc_id,
       |  (energy * 1000000) // $n AS energy_fp,
       |  (silent * 1000000) // $n AS silence_ratio_fp,
       |  (clipped * 1000000) // $n AS clip_ratio_fp,
       |  (energy * 1000000) // $n >= $AudioEnergyMinFp AS pass_energy,
       |  (silent * 1000000) // $n < $AudioSilenceMaxFp AS pass_silence,
       |  (clipped * 1000000) // $n < $AudioClipMaxFp AS pass_clip,
       |  (energy * 1000000) // $n >= $AudioEnergyMinFp
       |    AND (silent * 1000000) // $n < $AudioSilenceMaxFp
       |    AND (clipped * 1000000) // $n < $AudioClipMaxFp AS kept
       |FROM st ORDER BY doc_id""".stripMargin
  }

  // --- q170: modality-complete mix table ----------------------------------

  /** Text-side acceptance band for the mix table (whitespace tokens). */
  val MixTextMinToks = 20L
  val MixTextMaxToks = 200L

  /** q170 — the modality-complete MIX TABLE: per source, how many
    * documents survive the text gate (token band), the image gate
    * (q160) and the audio gate (q165) — and crucially how many survive
    * ALL THREE, which is the number that actually matters when
    * assembling text+image+audio training pairs (a pair is only as
    * usable as its worst modality). This is the summary a multimodal
    * mixture designer reads before setting source weights; per-modality
    * keep rates alone overestimate the usable corpus whenever gate
    * failures are uncorrelated.
    *
    * Scale (100 TB): each gate is its own map-side projection keyed by
    * doc_id; the joins co-partition on the id (bucketed layout at
    * scale) and the rollup is |sources| rows. Nothing new shuffles —
    * the table composes the three gates' existing plans. */
  def multimodalMixTable(s: SparkSession, dir: String): DataFrame = {
    val txt = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TextOps.wsTokenCount(col("text"))
        .between(MixTextMinToks, MixTextMaxToks).as("text_ok"))
    val img = imageQualityGate(s, dir)
      .select(col("doc_id"), col("kept").as("img_ok"))
    val aud = audioQualityGate(s, dir)
      .select(col("doc_id"), col("kept").as("audio_ok"))
    txt.join(img, Seq("doc_id")).join(aud, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text_ok"), 1L).otherwise(0L)).as("n_text_ok"),
        sum(when(col("img_ok"), 1L).otherwise(0L)).as("n_img_ok"),
        sum(when(col("audio_ok"), 1L).otherwise(0L)).as("n_audio_ok"),
        sum(when(col("text_ok") && col("img_ok") && col("audio_ok"), 1L)
          .otherwise(0L)).as("n_all_ok"))
      .withColumn("all_frac",
        round(col("n_all_ok") / col("n_docs"), 6))
      .orderBy("source")
  }

  def multimodalMixTableOracle(q160Sql: String, q165Sql: String): String =
    s"""WITH txt AS (SELECT doc_id, source,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      BETWEEN $MixTextMinToks AND $MixTextMaxToks AS text_ok
       |  FROM documents),
       |img AS (SELECT doc_id, kept AS img_ok FROM ($q160Sql) i),
       |aud AS (SELECT doc_id, kept AS audio_ok FROM ($q165Sql) a),
       |j AS (SELECT txt.source, txt.text_ok, img.img_ok, aud.audio_ok
       |  FROM txt JOIN img USING (doc_id) JOIN aud USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN text_ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_text_ok,
       |  CAST(sum(CASE WHEN img_ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_img_ok,
       |  CAST(sum(CASE WHEN audio_ok THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_audio_ok,
       |  CAST(sum(CASE WHEN text_ok AND img_ok AND audio_ok THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_all_ok,
       |  round(CAST(sum(CASE WHEN text_ok AND img_ok AND audio_ok THEN 1
       |    ELSE 0 END) AS BIGINT) / count(*), 6) AS all_frac
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** q36 — the SQL-expressible slice of the multimodal pipeline: blob
    * length, content hash, header bytes, deterministic fake dimensions.
    * Mirrors [[FakeDecoder]] so the DuckDB oracle can check the plumbing
    * end-to-end. */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    asBinaryTable(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .select(
        col("doc_id"),
        length(col("blob")).cast("bigint").as("byte_len"),
        sha2(col("text"), 256).as("sha"),
        lower(hex(encode(substring(col("text"), 1, 4), "UTF-8")))
          .as("header_hex"),
        (ascii(substring(col("doc_id").cast("string"), 1, 1)) % 64 + 16)
          .cast("bigint").as("fake_width"),
        (length(col("blob")) % 64 + 16).cast("bigint").as("fake_height"))
      .orderBy("doc_id")

  // --- q225: cross-modal consistency audit --------------------------------

  /** img_src shift for the planted re-imaged copies — far above any
    * sf0.1 doc_id so a planted "different image" never collides with a
    * base image (at extreme synthetic scale a collision would only
    * reclassify one planted group; semantics are unchanged). */
  val ReimageShift = 500000L

  /** The q159 pixel pattern WITHOUT the perturbation branch: the exact
    * chaotic integer arithmetic, emitted as the image string so both
    * engines can md5 the identical bytes. */
  private def imgStrSql(src: String): String =
    s"array_join(transform(sequence(0, ${PhashImgLen - 1}), i -> " +
      s"chr(32 + (($src % 95 + 1) * (i * i + i + 41) + " +
      s"(($src div 95) % 97 + 1) * (3 * i + 7) + " +
      s"(($src div 9215) % 89 + 1) * (5 * i + 11)) % 95)), '')"

  /** q225 — cross-modal consistency audit over an (image, caption)
    * paired corpus: exact unimodal dedup misses the two pathologies a
    * multimodal dataset actually develops — the SAME image re-captioned
    * (alt-text churn, caption augmentation leaking as "new" samples)
    * and the SAME caption re-imaged (re-encoded/re-crawled media). Each
    * doc pairs its text with a deterministic synthetic image; planted
    * copies create all three conflict classes (doc_id % 7 = 0 →
    * re-captioned, = 1 → re-imaged, = 2 → full duplicate), and natural
    * exact-text twins in the fixture surface as re-imaged families.
    * Per (class, source of the group's min-doc representative): group /
    * doc / excess-doc counts — the table a curation pass prices
    * "drop, keep one per image, or keep one per caption" decisions on.
    *
    * Parity: both keys are md5 over byte-identical strings (the image
    * string is printable ASCII by construction; q159's blob↔string
    * round-trip argument).
    *
    * Scale (100 TB): keys are per-row projections; the three groupBys
    * shuffle 16-byte keys, not media; the representative→source join
    * ships only conflict groups (plant-bounded + natural-dup-bounded),
    * joined back on the unique doc_id. Same cost class as exact dedup
    * (q29) run twice. */
  def crossModalAudit(s: SparkSession, dir: String): DataFrame = {
    val off = DedupOps.CopyOffset
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"),
      col("source"))
    val corpus = d
      .selectExpr("doc_id", "doc_id AS img_src", "text", "source")
      .unionAll(d.filter(col("doc_id") % 7 === 0)
        .selectExpr(s"doc_id + $off AS doc_id", "doc_id AS img_src",
          "text || ' [recaptioned]' AS text", "source"))
      .unionAll(d.filter(col("doc_id") % 7 === 1)
        .selectExpr(s"doc_id + ${2 * off} AS doc_id",
          s"doc_id + $ReimageShift AS img_src", "text", "source"))
      .unionAll(d.filter(col("doc_id") % 7 === 2)
        .selectExpr(s"doc_id + ${3 * off} AS doc_id", "doc_id AS img_src",
          "text", "source"))
    // native generator (round-14): the imgStrSql HOF form ran ~244
    // interpreted lambda calls per row under the md5 — img_gen emits
    // the identical bytes (ASCII band, so string-cast-to-binary and
    // direct binary md5 agree) in one codegen'd static call
    val keyed = corpus.select(col("doc_id"), col("source"),
      md5(expr(
        s"img_gen(img_src, false, $PhashCells, $PhashCellPx)")).as("ikey"),
      md5(col("text")).as("tkey")).persist()
    val ig = keyed.groupBy("ikey")
      .agg(count(lit(1)).as("cnt"), countDistinct("tkey").as("nd"),
        min("doc_id").as("rep"))
      .filter(col("cnt") > 1 && col("nd") > 1)
      .select(lit("same_image_diff_text").as("class"), col("rep"),
        col("cnt"))
    val tg = keyed.groupBy("tkey")
      .agg(count(lit(1)).as("cnt"), countDistinct("ikey").as("nd"),
        min("doc_id").as("rep"))
      .filter(col("cnt") > 1 && col("nd") > 1)
      .select(lit("same_text_diff_image").as("class"), col("rep"),
        col("cnt"))
    val pg = keyed.groupBy("ikey", "tkey")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("rep"))
      .filter(col("cnt") > 1)
      .select(lit("full_dup").as("class"), col("rep"), col("cnt"))
    ig.unionAll(tg).unionAll(pg)
      .join(keyed.select(col("doc_id").as("rep"), col("source")), "rep")
      .groupBy("class", "source")
      .agg(count(lit(1)).as("n_groups"),
        sum(col("cnt")).as("n_docs"),
        (sum(col("cnt")) - count(lit(1))).as("n_excess"))
      .orderBy("class", "source")
  }

  def crossModalAuditOracle: String = {
    val off = DedupOps.CopyOffset
    val n = PhashImgLen
    val img = (src: String) =>
      s"md5(list_aggregate(list_transform(range(0, $n), i -> " +
        s"chr(CAST(32 + (($src % 95 + 1) * (i * i + i + 41) + " +
        s"(($src // 95) % 97 + 1) * (3 * i + 7) + " +
        s"(($src // 9215) % 89 + 1) * (5 * i + 11)) % 95 AS INTEGER))), " +
        "'string_agg', ''))"
    s"""WITH d AS (SELECT doc_id, text, source FROM documents),
       |c AS (SELECT doc_id, doc_id AS img_src, text, source FROM d
       |  UNION ALL SELECT doc_id + $off, doc_id,
       |    text || ' [recaptioned]', source FROM d WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + ${2 * off}, doc_id + $ReimageShift,
       |    text, source FROM d WHERE doc_id % 7 = 1
       |  UNION ALL SELECT doc_id + ${3 * off}, doc_id, text, source
       |  FROM d WHERE doc_id % 7 = 2),
       |k AS (SELECT doc_id, source, ${img("img_src")} AS ikey,
       |    md5(text) AS tkey FROM c),
       |cls AS (
       |  SELECT 'same_image_diff_text' AS class, rep, cnt FROM (
       |    SELECT count(*) AS cnt, count(DISTINCT tkey) AS nd,
       |      min(doc_id) AS rep FROM k GROUP BY ikey)
       |    WHERE cnt > 1 AND nd > 1
       |  UNION ALL SELECT 'same_text_diff_image', rep, cnt FROM (
       |    SELECT count(*) AS cnt, count(DISTINCT ikey) AS nd,
       |      min(doc_id) AS rep FROM k GROUP BY tkey)
       |    WHERE cnt > 1 AND nd > 1
       |  UNION ALL SELECT 'full_dup', rep, cnt FROM (
       |    SELECT count(*) AS cnt, min(doc_id) AS rep FROM k
       |    GROUP BY ikey, tkey) WHERE cnt > 1)
       |SELECT cls.class, k.source, count(*) AS n_groups,
       |  CAST(sum(cls.cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(cls.cnt) - count(*) AS BIGINT) AS n_excess
       |FROM cls JOIN k ON k.doc_id = cls.rep
       |GROUP BY cls.class, k.source
       |ORDER BY class, source""".stripMargin
  }
}

/** Streaming-shaped aggregation: the same `window()` plan works in batch
  * and Structured Streaming (`readStream` + watermark); ScalaTest drives
  * the streaming path through a memory sink. */
object StreamingOps {

  /** Tumbling 1-day window counts + exact value sums. Works on a batch OR
    * streaming events frame (caller adds watermark for streams). */
  def dailyWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("total_value"))
      .select(to_date(col("window.start")).as("day"), col("event_type"),
        col("n_events"), col("total_value"))

  /** q37 — batch evaluation of the streaming aggregation. */
  def streamingWindow(s: SparkSession, dir: String): DataFrame =
    dailyWindowAgg(EtlOps.events(s, dir))
      .orderBy("day", "event_type")

  /** q63 — batch evaluation of the attribution join (oracle-checked);
    * the spec proves the same plan gives identical results as a
    * watermarked stream-stream join. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
    attributionJoin(
      e.filter(col("event_type") === "purchase"),
      e.filter(col("event_type") === "click"))
      .orderBy("user_id", "purchase_id", "click_id")
  }

  /** Stream-stream inner join: purchases ⋈ clicks of the same user with
    * the click inside [purchase − 1h, purchase] — attribution, the
    * canonical streaming join. The event-time range predicate is what
    * BOUNDS the join state: with watermarks on both sides Spark evicts
    * click state older than purchase-watermark − 1h, so state is O(rate
    * × window), not O(stream). The same plan runs on batch frames (the
    * spec proves batch ≡ streaming on identical input). */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.select(col("user_id").as("p_user"),
      col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val c = clicks.select(col("user_id").as("c_user"),
      col("event_id").as("click_id"), col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"),
        col("p_ts").cast("string").as("purchase_ts"),
        col("c_ts").cast("string").as("click_ts"))
  }

  // --- q177: at-least-once delivery dedup -------------------------------

  /** Planted redeliveries: every 3rd event arrives again 30 minutes
    * late, every 7th a second time 45 minutes late — the at-least-once
    * delivery duplicates an event bus actually produces. */
  def redeliver(e: DataFrame): DataFrame =
    e.unionAll(e.filter(col("event_id") % 3 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTES")))
      .unionAll(e.filter(col("event_id") % 7 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 45 MINUTES")))

  /** First-delivery winners per event_id (earliest ts) plus the
    * delivery count — one hash exchange on event_id; both window
    * functions ride it. The batch twin of streaming
    * `withWatermark + dropDuplicatesWithinWatermark("event_id")`:
    * replays land within 45 min ≪ the 2 h watermark, so the streaming
    * path keeps exactly the first arrival per id (the spec proves
    * batch ≡ streaming on identical input). */
  def firstDeliveries(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byId = Window.partitionBy("event_id")
    corpus
      .withColumn("rn", row_number().over(byId.orderBy("ts")))
      .withColumn("n_deliv", count(lit(1)).over(byId))
      .filter(col("rn") === 1)
  }

  /** q177 — exactly-once ingestion audit under at-least-once delivery:
    * dedup the redelivered stream by event_id keeping the first
    * arrival, then report per (event_type, day) how many deliveries
    * collapsed to how many unique events. The batch evaluation of the
    * watermark-dedup every streaming ingest runs ahead of its sink
    * (the reference's marker idempotency, `PollForNewFiles.py`, at
    * event rather than file granularity).
    *
    * Scale (100 TB): one hash exchange on event_id (both windows and
    * the dedup share it), then a (type, day)-sized aggregate. In
    * streaming form the state store holds only ids inside the
    * watermark horizon — O(rate × delay), not O(stream). */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val e = EtlOps.events(s, dir)
      .select(col("event_id"), col("ts"), col("event_type"))
    firstDeliveries(redeliver(e))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("n_deliv")).as("n_deliveries"))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n_events"), col("n_deliveries"),
        (col("n_deliveries") - col("n_events")).as("n_dropped"))
      .orderBy("event_type", "day")
  }

  def streamDedupOracle: String =
    s"""WITH e AS (SELECT event_id, ts, event_type FROM events),
       |c AS (SELECT * FROM e
       |  UNION ALL SELECT event_id, ts + INTERVAL 30 MINUTE, event_type
       |    FROM e WHERE event_id % 3 = 0
       |  UNION ALL SELECT event_id, ts + INTERVAL 45 MINUTE, event_type
       |    FROM e WHERE event_id % 7 = 0),
       |m AS (SELECT *,
       |    row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn,
       |    count(*) OVER (PARTITION BY event_id) AS n_deliv
       |  FROM c)
       |SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       |  count(*) AS n_events,
       |  CAST(sum(n_deliv) AS BIGINT) AS n_deliveries,
       |  CAST(sum(n_deliv) - count(*) AS BIGINT) AS n_dropped
       |FROM m WHERE rn = 1
       |GROUP BY event_type, CAST(ts AS DATE)
       |ORDER BY event_type, day""".stripMargin
}
