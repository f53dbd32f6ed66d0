package graft.operators

/** DuckDB oracle SQL for the LLM-pipeline queries. The structurally
  * identical expression trees (esp. every floating-point op order) are
  * generated from the same code that feeds Spark where it matters
  * (VecSql); the rest mirrors the Spark plans statement by statement.
  */
object OracleGen {

  import VecSql.{dot, lshSig}

  /** Shared corpus CTEs (mirror DedupOps.corpusExact / corpusNear). */
  val CorpusExact: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents)""".stripMargin

  val CorpusNear: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id,
      |    substring(text, instr(text, ' ') + 1) AS text FROM documents)""".stripMargin

  /** Mirror of DedupOps.corpusSpread — graded variants k=1..4 dropping
    * the first ⌊n·k/5⌋ words, plus the drop-first-word copy at offset 5. */
  val CorpusSpread: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 * k AS doc_id,
      |    array_to_string(string_split(text, ' ')[
      |      len(string_split(text, ' ')) * k // 5 + 1:], ' ') AS text
      |  FROM documents CROSS JOIN (SELECT unnest(range(1, 5)) AS k)
      |  UNION ALL SELECT doc_id + 5000000 AS doc_id,
      |    substring(text, instr(text, ' ') + 1) AS text FROM documents)""".stripMargin

  /** Word-trigram shingle CTE over `corpus` (mirrors DedupOps.shingles). */
  val ShingleCtes: String =
    """tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      |  FROM tok) u)""".stripMargin

  /** Jaccard tail over `sh` with a threshold (mirrors jaccardPairs). */
  def jaccardTail(threshold: String, extraJoin: String = ""): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM jac $extraJoin
       |WHERE jaccard >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  val q29ExactDedup: String =
    s"""WITH $CorpusExact
       |SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
       |FROM corpus GROUP BY md5(text) ORDER BY survivor_id""".stripMargin

  /** q30 (banded, mirrors DedupOps.ngramJaccard): the capped-LSH
    * candidate chain verified by exact Jaccard at threshold 0.6 — the
    * same generation as q118, different threshold. */
  val q30NgramJaccard: String =
    minhashLshSql(Some(DedupOps.LshBucketCap), "0.6")

  /** 60-bit md5 fingerprint in DuckDB (≡ TextOps.md5Fingerprint60). */
  def fp60(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Shared LSH CTE chain — corpus → shingles → sigs → bands → cand —
    * used by q31/q118 (with the jaccard tail) and q154 (with the
    * calibration tail). Mirrors DedupOps.minhashLshOf. */
  private def lshCandCtes(bucketCap: Option[Int],
      corpusCte: String = CorpusNear,
      candWhere: String = "a.doc_id < b.doc_id"): String = {
    val p = DedupOps.MinhashPrime
    val x = s"${fp60("shingle")} % $p"
    val mins = (0 until DedupOps.NumPerms).map { i =>
      s"min((($x) * ${DedupOps.permA(i)} + ${DedupOps.permB(i)}) % $p) AS h$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until DedupOps.NumPerms / DedupOps.BandSize)
      .map { b =>
        val cols = (0 until DedupOps.BandSize)
          .map(r => s"CAST(h${b * DedupOps.BandSize + r} AS VARCHAR)")
          .mkString(", ")
        s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $cols)) AS band_hash FROM sigs"
      }.mkString("\n  UNION ALL ")
    val capCtes = bucketCap.map { cap =>
      s"""bsz AS (SELECT band_idx, band_hash, count(*) AS n
         |  FROM bands0 GROUP BY 1, 2),
         |bands AS (SELECT bands0.* FROM bands0
         |  JOIN bsz USING (band_idx, band_hash) WHERE bsz.n <= $cap),
         |""".stripMargin
    }.getOrElse("")
    val bandsSrc = if (bucketCap.isDefined) "bands0" else "bands"
    s"""$corpusCte,
       |$ShingleCtes,
       |sigs AS (SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id),
       |$bandsSrc AS (
       |  $bandSelects),
       |${capCtes}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND $candWhere)""".stripMargin
  }

  /** The capped-LSH candidate chain over [[CorpusSpread]] — shared by
    * q154's calibration and q218's chain audit so both replay the same
    * production candidate stream. */
  private[graft] lazy val lshCandSpreadCtes: String =
    lshCandCtes(Some(DedupOps.LshBucketCap), CorpusSpread)

  /** [[CorpusSpread]] with verbatim replicas folded to one canonical
    * (min-id) doc per distinct text — the exact-then-near cascade the
    * MST family (q358/q365) runs: on a replica-heavy corpus the
    * hot-bucket drop-cap would otherwise discard every bucket the
    * replicas saturate and the near-dup graph silently empties (the
    * q379 replica-fixture lesson, observed for real on the 100×
    * ScaleUnion fixture). A no-op on the 1× fixture, which has no
    * verbatim twins. */
  private[graft] val CorpusSpreadCanon: String =
    CorpusSpread.replaceFirst("^corpus AS \\(", "corpus0 AS (") +
      """,
        |corpus AS (SELECT min(doc_id) AS doc_id, text
        |  FROM corpus0 GROUP BY text)""".stripMargin

  private[graft] lazy val lshCandSpreadCanonCtes: String =
    lshCandCtes(Some(DedupOps.LshBucketCap), CorpusSpreadCanon)

  /** Same chain over a caller-supplied corpus CTE (q317 plants hot
    * buckets on top of [[CorpusSpread]]). */
  private[graft] def lshCandCtesOver(corpusCte: String): String =
    lshCandCtes(Some(DedupOps.LshBucketCap), corpusCte)

  /** q31 (no cap) / q118 (hot buckets over `bucketCap` dropped before
    * the pair join) / q30 (capped, threshold 0.6) — mirrors
    * DedupOps.minhashLshOf / ngramJaccard. */
  private def minhashLshSql(bucketCap: Option[Int],
      threshold: String = "0.5"): String =
    s"""WITH ${lshCandCtes(bucketCap)},
       |${jaccardTail(threshold,
          "JOIN cand USING (doc_a, doc_b)")}""".stripMargin

  val q31MinhashLsh: String = minhashLshSql(None)

  val q118CappedLsh: String = minhashLshSql(Some(DedupOps.LshBucketCap))

  /** q196 (mirrors DedupOps.thresholdCurve): q118's capped verified
    * candidate stream, UNthresholded, swept across the τ grid. */
  val q196ThresholdCurve: String = {
    val thrList = DedupOps.DedupThresholds.mkString("[", ", ", "]")
    s"""WITH ${lshCandCtes(Some(DedupOps.LshBucketCap))},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b),
       |cj AS MATERIALIZED (SELECT j.* FROM jac j
       |  JOIN cand USING (doc_a, doc_b)),
       |thr AS (SELECT unnest(CAST($thrList AS DOUBLE[])) AS threshold),
       |agg AS (SELECT t.threshold, count(*) AS n_pairs,
       |    count(DISTINCT cj.doc_b) AS n_docs_dropped
       |  FROM thr t JOIN cj ON cj.jaccard >= t.threshold
       |  GROUP BY t.threshold),
       |nc AS (SELECT count(*) AS n_corpus FROM corpus)
       |SELECT t.threshold,
       |  CAST(coalesce(a.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(a.n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped,
       |  nc.n_corpus,
       |  round(CAST(coalesce(a.n_docs_dropped, 0) AS DOUBLE)
       |    / CAST(nc.n_corpus AS DOUBLE), 6) AS drop_frac
       |FROM thr t LEFT JOIN agg a USING (threshold) CROSS JOIN nc
       |ORDER BY threshold""".stripMargin
  }

  /** q154 (mirrors DedupOps.lshCalibration — CAPPED candidate set over
    * the graded-similarity [[CorpusSpread]] corpus). */
  val q154LshCalibration: String = {
    val agreeTerms = (0 until DedupOps.NumPerms)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    val np = s"${DedupOps.NumPerms}.0"
    s"""WITH ${lshCandCtes(Some(DedupOps.LshBucketCap), CorpusSpread)},
       |ag AS (SELECT c.doc_a, c.doc_b, ($agreeTerms) AS n_agree
       |  FROM cand c JOIN sigs a ON a.doc_id = c.doc_a
       |  JOIN sigs b ON b.doc_id = c.doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT ag.doc_a, ag.doc_b, ag.n_agree,
       |    inter.n_inter / (sa.n_sh + sb.n_sh - inter.n_inter) AS jaccard
       |  FROM ag JOIN inter USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = ag.doc_a
       |  JOIN sizes sb ON sb.doc_id = ag.doc_b),
       |bkt AS (SELECT
       |    least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS sim_bucket,
       |    n_agree, jaccard, abs(n_agree / $np - jaccard) AS abs_err
       |  FROM pairs)
       |SELECT sim_bucket, count(*) AS n_pairs,
       |  round(CAST(sum(CAST(jaccard AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) AS avg_jaccard,
       |  round(CAST(sum(n_agree) AS DOUBLE) / ($np * count(*)), 6)
       |    AS avg_est,
       |  round(CAST(sum(CAST(abs_err AS DECIMAL(18,12))) AS DOUBLE)
       |    / count(*), 6) AS avg_abs_err
       |FROM bkt GROUP BY sim_bucket ORDER BY sim_bucket""".stripMargin
  }

  /** q161 (mirrors DedupOps.incrementalLsh): batch-vs-index candidates
    * under the combined-bucket cap, verified at Jaccard ≥ 0.5. */
  lazy val q161IncrementalLsh: String = {
    val off = DedupOps.CopyOffset
    s"""WITH ${lshCandCtes(Some(DedupOps.LshBucketCap),
          candWhere = s"a.doc_id >= $off AND b.doc_id < $off")},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |    AND a.doc_id >= $off AND b.doc_id < $off
       |  GROUP BY 1, 2),
       |jac AS (SELECT doc_a, doc_b,
       |    n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |  FROM inter JOIN cand USING (doc_a, doc_b)
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |SELECT doc_a AS new_doc, doc_b AS matched_doc, jaccard FROM jac
       |WHERE jaccard >= 0.5 ORDER BY new_doc, matched_doc""".stripMargin
  }

  /** q156 (mirrors DedupOps.dedupMethodVenn): the three detector pair
    * streams over the SAME corpus — each with its production hot-bucket
    * guard replayed — collapsed to the membership Venn. Containment
    * states the blocking-defined rule (prefix filter is the lossless
    * Spark-side optimization, as in q146). */
  lazy val q156DedupMethodVenn: String = { // lazy: uses vals declared below
    val bandW = DedupOps.SimhashBits / DedupOps.SimhashBands
    val simCapped =
      s"""WITH $CorpusNear,
         |  tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM corpus),
         |  th AS (SELECT doc_id, ${fp60("tok")} AS th FROM tokens),
         |  votes AS (SELECT doc_id,
         |    ${(0 until DedupOps.SimhashBits).map { b =>
               s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
             }.mkString(",\n    ")}
         |  FROM th GROUP BY doc_id),
         |  sigs AS (SELECT doc_id,
         |    ${(0 until DedupOps.SimhashBits).map { b =>
               s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
             }.mkString(" + ")} AS simhash FROM votes),
         |  sbands AS (SELECT doc_id, simhash, band_idx,
         |      (simhash >> (band_idx * $bandW)) & ${(1L << bandW) - 1}
         |        AS band_val
         |    FROM sigs CROSS JOIN (SELECT unnest(range(0,
         |      ${DedupOps.SimhashBands})) AS band_idx)),
         |  sbsz AS (SELECT band_idx, band_val, count(*) AS n FROM sbands
         |    GROUP BY 1, 2),
         |  sb AS (SELECT sbands.* FROM sbands
         |    JOIN sbsz USING (band_idx, band_val)
         |    WHERE sbsz.n <= ${DedupOps.LshBucketCap})
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sb a JOIN sb b ON a.band_idx = b.band_idx
         |    AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash))
         |    <= ${DedupOps.SimhashMaxHamming}""".stripMargin
    s"""WITH mh AS (SELECT doc_a, doc_b FROM ($q118CappedLsh) x),
       |sim AS (SELECT doc_a, doc_b FROM ($simCapped) y),
       |cont AS (SELECT doc_a, doc_b FROM (
       |  WITH $CorpusNear,
       |  $ShingleCtes,
       |  blk AS (SELECT shingle, list_sort(list(doc_id)) AS ds FROM sh
       |    GROUP BY shingle
       |    HAVING count(*) BETWEEN 2 AND ${DedupOps.RareShingleDf}),
       |  cand AS (SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM (
       |    SELECT unnest(flatten(list_transform(ds, (a, i) ->
       |      list_transform(ds[i + 1:], b -> {'doc_a': a, 'doc_b': b}))))
       |      AS p FROM blk)),
       |  sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |  inter AS (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |    FROM sh a JOIN sh b ON a.shingle = b.shingle
       |      AND a.doc_id < b.doc_id
       |    JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
       |    GROUP BY 1, 2)
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_inter AS DOUBLE)
       |    / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)
       |    >= ${DedupOps.ContainmentTheta}) z),
       |t AS (SELECT doc_a, doc_b, 'm' AS src FROM mh
       |  UNION ALL SELECT doc_a, doc_b, 's' FROM sim
       |  UNION ALL SELECT doc_a, doc_b, 'c' FROM cont),
       |f AS (SELECT doc_a, doc_b,
       |    max(CASE WHEN src = 'm' THEN 1 ELSE 0 END) = 1 AS in_minhash,
       |    max(CASE WHEN src = 's' THEN 1 ELSE 0 END) = 1 AS in_simhash,
       |    max(CASE WHEN src = 'c' THEN 1 ELSE 0 END) = 1
       |      AS in_containment
       |  FROM t GROUP BY doc_a, doc_b)
       |SELECT in_minhash, in_simhash, in_containment,
       |  count(*) AS n_pairs
       |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** q159 (mirrors MultimodalOps.imageCorpus → perceptualHash → banded
    * Hamming pairs). The oracle recomputes the pixel arithmetic
    * directly — the Spark side must recover the same pixels by decoding
    * the binary blob, so a decode bug (offset, truncation, charset)
    * shows up as a hash mismatch — then replays cells → gradient bits →
    * capped bands → verified Hamming exactly. */
  lazy val q159ImagePhashNearDup: String = {
    val n = MultimodalOps.PhashImgLen
    val cells = MultimodalOps.PhashCells
    val cpx = MultimodalOps.PhashCellPx
    val off = DedupOps.CopyOffset
    val bandW = DedupOps.SimhashBits / DedupOps.SimhashBands
    val cellSum = (1 to cpx).map(j => s"px[c * $cpx + $j]").mkString(" + ")
    s"""WITH base AS (SELECT doc_id, doc_id AS src_id, FALSE AS pert
       |    FROM documents
       |  UNION ALL SELECT doc_id + $off, doc_id, TRUE FROM documents
       |    WHERE doc_id % 4 = 0),
       |pxl AS (SELECT doc_id, list_transform(range(0, $n), i ->
       |    32 + CASE WHEN pert AND i // $cpx = src_id % $cells THEN 0
       |      ELSE ((src_id % 95 + 1) * (i * i + i + 41)
       |        + ((src_id // 95) % 97 + 1) * (3 * i + 7)
       |        + ((src_id // 9215) % 89 + 1) * (5 * i + 11)) % 95 END) AS px
       |  FROM base),
       |cl AS (SELECT doc_id, list_transform(range(0, $cells), c ->
       |    $cellSum) AS cells FROM pxl),
       |ph AS (SELECT doc_id, CAST(list_sum(list_transform(
       |    range(0, ${cells - 1}), b ->
       |    CASE WHEN cells[b + 2] > cells[b + 1]
       |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS phash
       |  FROM cl),
       |bands AS (SELECT doc_id, phash, band_idx,
       |    (phash >> (band_idx * $bandW)) & ${(1L << bandW) - 1} AS band_val
       |  FROM ph CROSS JOIN (SELECT unnest(range(0,
       |    ${DedupOps.SimhashBands})) AS band_idx)),
       |bsz AS (SELECT band_idx, band_val, count(*) AS n FROM bands
       |  GROUP BY 1, 2),
       |sb AS (SELECT bands.* FROM bands JOIN bsz USING (band_idx, band_val)
       |  WHERE bsz.n <= ${DedupOps.LshBucketCap})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM sb a JOIN sb b ON a.band_idx = b.band_idx
       |  AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash))
       |  <= ${MultimodalOps.PhashMaxHamming}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q160 (mirrors MultimodalOps.imageGateCorpus → imageQualityGate):
    * pixel arithmetic restated directly, brightness/contrast in pure
    * integer fixed point, entropy via per-bin ×10⁹-frozen terms summed
    * as integers (order-free). */
  lazy val q160ImageQualityGate: String = {
    val n = MultimodalOps.PhashImgLen
    val bins = MultimodalOps.GateHistBins
    s"""WITH pxl AS (SELECT doc_id, list_transform(range(0, $n), i ->
       |    CASE WHEN doc_id % 10 = 0 THEN 32 + doc_id % 95
       |      WHEN doc_id % 10 = 5 THEN
       |        CASE WHEN i % 2 = 0 THEN 40 ELSE 100 END
       |      ELSE 32 + ((doc_id % 95 + 1) * (i * i + i + 41)
       |        + ((doc_id // 95) % 97 + 1) * (3 * i + 7)
       |        + ((doc_id // 9215) % 89 + 1) * (5 * i + 11)) % 95 END) AS px
       |  FROM documents),
       |st AS (SELECT doc_id,
       |    CAST(list_sum(px) AS BIGINT) AS sum_px,
       |    CAST(list_sum(list_transform(px, x -> x * x)) AS BIGINT)
       |      AS ssq_px,
       |    list_transform(range(0, $bins), b ->
       |      len(list_filter(px, x -> x // 8 = b))) AS hist
       |  FROM pxl),
       |e AS (SELECT doc_id, sum_px, ssq_px,
       |    CAST(list_sum(list_transform(hist, c -> CASE WHEN c > 0 THEN
       |      CAST(floor((-(CAST(c AS DOUBLE) / $n.0)) *
       |        ln(CAST(c AS DOUBLE) / $n.0) * 1000000000.0) AS BIGINT)
       |      ELSE 0 END)) AS BIGINT) AS entropy_fp
       |  FROM st)
       |SELECT doc_id,
       |  (sum_px * 1000000) // $n AS brightness_fp,
       |  (($n * ssq_px - sum_px * sum_px) * 1000000) // ${n.toLong * n}
       |    AS contrast_fp,
       |  entropy_fp,
       |  (($n * ssq_px - sum_px * sum_px) * 1000000) // ${n.toLong * n}
       |    >= ${MultimodalOps.GateContrastMinFp} AS pass_contrast,
       |  entropy_fp >= ${MultimodalOps.GateEntropyMinFp} AS pass_entropy,
       |  (($n * ssq_px - sum_px * sum_px) * 1000000) // ${n.toLong * n}
       |    >= ${MultimodalOps.GateContrastMinFp}
       |    AND entropy_fp >= ${MultimodalOps.GateEntropyMinFp} AS kept
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** q119 (mirrors DedupOps.contamination). */
  val q119Contamination: String = {
    val n = DedupOps.ContamGramN
    val off = DedupOps.CopyOffset
    val cat = (0 until n)
      .map(k => if (k == 0) "toks[i]" else s"toks[i+$k]")
      .mkString(" || ' ' || ")
    def gramsOf(src: String, cols: String): String =
      s"""SELECT DISTINCT $cols gram FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - ${n - 2}),
         |    i -> $cat)) AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $src) t) u""".stripMargin
    s"""WITH $CorpusNear,
       |vd AS (SELECT doc_id, text FROM corpus
       |  WHERE doc_id < $off AND doc_id % 10 = 0),
       |tr AS (SELECT doc_id, text FROM corpus
       |  WHERE (doc_id < $off AND doc_id % 10 <> 0)
       |     OR (doc_id >= $off AND (doc_id - $off) % 20 = 0)),
       |tg AS (${gramsOf("tr", "")}),
       |vg AS (${gramsOf("vd", "doc_id,")}),
       |tot AS (SELECT doc_id, count(*) AS n_grams FROM vg GROUP BY doc_id),
       |hit AS (SELECT vg.doc_id, count(*) AS n_hit FROM vg
       |  JOIN tg USING (gram) GROUP BY vg.doc_id)
       |SELECT tot.doc_id, tot.n_grams, coalesce(hit.n_hit, 0) AS n_hit,
       |  coalesce(hit.n_hit, 0) / tot.n_grams >= ${DedupOps.ContamThreshold}
       |    AS contaminated
       |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
       |ORDER BY tot.doc_id""".stripMargin
  }

  val q32Simhash: String = {
    val votes = (0 until DedupOps.SimhashBits).map { b =>
      s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val sig = (0 until DedupOps.SimhashBits).map { b =>
      s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $CorpusNear,
       |tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM corpus),
       |th AS (SELECT doc_id, ${fp60("tok")} AS th FROM tokens),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM th GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sig AS simhash FROM votes)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= ${DedupOps.SimhashMaxHamming}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q33 (banded, mirrors SimilarityOps.embeddingNearDup): same LCG
    * plane weights as the Spark-side `lsh_sig`, bucket-equi candidate
    * join, exact cosine on candidates only. */
  val q33EmbeddingNearDup: String =
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id < ${SimilarityOps.CorpusCap}),
       |corpus AS (
       |  SELECT vec_id, emb FROM base
       |  UNION ALL SELECT vec_id + ${SimilarityOps.CopyOffset} AS vec_id,
       |    list_transform(emb, x -> x * 1.001) AS emb FROM base),
       |v AS (SELECT vec_id, emb,
       |    sqrt(${dot("emb", "emb", spark = false)}) AS norm,
       |    (${lshSig("emb", SimilarityOps.AnnPlanes)}) AS bucket
       |  FROM corpus),
       |s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    (${dot("a.emb", "b.emb", spark = false)}) / (a.norm * b.norm) AS cos
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, round(cos, 6) AS cos_sim FROM s
       |WHERE cos >= 0.999 ORDER BY vec_a, vec_b""".stripMargin

  val q34CosineTopK: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${dot("emb", "emb", spark = false)}) AS norm FROM v),
       |s AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    (${dot("q.emb", "c.emb", spark = false)}) / (q.norm * c.norm) AS cos
       |  FROM n q, n c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |r AS (SELECT q_id, cand_id, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk FROM s)
       |SELECT q_id, cand_id, CAST(rnk AS BIGINT) AS "rank",
       |  round(cos, 6) AS cos_sim
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  val q35LshAnn: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${dot("emb", "emb", spark = false)}) AS norm,
       |    (${lshSig("emb", SimilarityOps.AnnPlanes)}) AS bucket
       |  FROM v),
       |s AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    (${dot("q.emb", "c.emb", spark = false)}) / (q.norm * c.norm) AS cos
       |  FROM n q JOIN n c ON q.bucket = c.bucket
       |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |r AS (SELECT q_id, cand_id, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk FROM s)
       |SELECT q_id, cand_id, CAST(rnk AS BIGINT) AS "rank",
       |  round(cos, 6) AS cos_sim
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** q43 IVF ANN is fully deterministic (fixed coarse-centroid sample,
    * argmax assignment with cent_id tie-break, nprobe=1, exact cosine in
    * bucket), so the oracle replays it end to end with the same
    * left-associated dot chains — ties resolve identically because the
    * doubles are bit-identical. */
  val q43IvfAnn: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(${dot("emb", "emb", spark = false)}) AS norm FROM v),
       |cents AS (SELECT vec_id AS cent_id, emb AS cent_emb, norm AS cent_norm
       |  FROM n WHERE vec_id < ${SimilarityOps.IvfCentroids}),
       |asg AS (SELECT vec_id, emb, norm, cent_id,
       |    (${dot("emb", "cent_emb", spark = false)}) / (norm * cent_norm) AS cent_cos
       |  FROM n, cents),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS rn FROM asg),
       |a AS (SELECT vec_id, emb, norm, cent_id AS bucket FROM r WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, emb AS emb_q, norm AS norm_q, bucket
       |  FROM a WHERE vec_id < 8),
       |c AS (SELECT vec_id AS cand_id, emb AS emb_c, norm AS norm_c, bucket
       |  FROM a),
       |s AS (SELECT q_id, cand_id,
       |    (${dot("emb_q", "emb_c", spark = false)}) / (norm_q * norm_c) AS cos
       |  FROM q JOIN c USING (bucket) WHERE q_id <> cand_id),
       |rr AS (SELECT q_id, cand_id, cos, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rnk FROM s)
       |SELECT q_id, cand_id, CAST(rnk AS BIGINT) AS "rank",
       |  round(cos, 6) AS cos_sim
       |FROM rr WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  val q54VectorQuantize: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |m AS (SELECT vec_id, emb,
       |    ${VecSql.vMin("emb", spark = false)} AS vmin,
       |    ${VecSql.vMax("emb", spark = false)} AS vmax FROM v),
       |scd AS (SELECT vec_id, emb, vmin, (vmax - vmin) / 255.0 AS sc FROM m),
       |sg AS (SELECT *, CASE WHEN sc = 0.0 THEN 1.0 ELSE sc END AS scdiv
       |       FROM scd)
       |SELECT vec_id,
       |  CAST(${VecSql.quantSum("emb", spark = false)} AS BIGINT) AS qsum,
       |  ${VecSql.quantMaxErr("emb", spark = false)} AS max_err
       |FROM sg ORDER BY vec_id""".stripMargin

  /** q59: connected components over q31's near-dup pairs as a recursive
    * CTE — min-label closure has a unique fixpoint, so it equals Spark's
    * iterative propagation regardless of evaluation order. The node set
    * is written inline (not via [[CorpusNear]]) to avoid shadowing the
    * `corpus` CTE inside the embedded q31 subquery. */
  val q59DupClusters: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (${q31MinhashLsh}) qq),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT doc_id FROM documents
       |          UNION ALL SELECT doc_id + 1000000 FROM documents),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM nodes
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM r GROUP BY node)
       |SELECT cluster_id, count(*) AS n_members
       |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** q110: the q59 label closure extended with survivor selection —
    * longest real document per cluster, ties to the lowest doc_id;
    * copy-only clusters have no eligible member and drop out. */
  val q110ClusterRepresentatives: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (${q31MinhashLsh}) qq),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT doc_id FROM documents
       |          UNION ALL SELECT doc_id + ${DedupOps.CopyOffset} FROM documents),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM nodes
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM r GROUP BY node),
       |sz AS (SELECT cluster_id, count(*) AS n_members FROM lab
       |       GROUP BY cluster_id),
       |j AS (SELECT l.cluster_id, l.node AS doc_id, d.n_chars
       |      FROM lab l JOIN documents d ON d.doc_id = l.node
       |      WHERE l.node < ${DedupOps.CopyOffset}),
       |rk AS (SELECT cluster_id, doc_id, n_chars, row_number() OVER (
       |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM j)
       |SELECT k.cluster_id, k.doc_id AS rep_doc, k.n_chars AS rep_chars,
       |  s.n_members
       |FROM rk k JOIN sz s ON s.cluster_id = k.cluster_id
       |WHERE k.rn = 1 ORDER BY k.cluster_id""".stripMargin

  /** q116: the q59 closure + hash split + cluster-level purge of val
    * documents sharing a cluster with any train document. */
  val q116CleanValSplit: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (${q31MinhashLsh}) qq),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT doc_id FROM documents
       |          UNION ALL SELECT doc_id + ${DedupOps.CopyOffset} FROM documents),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM nodes
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS cluster_id FROM r GROUP BY node),
       |b AS (SELECT node AS doc_id, cluster_id,
       |    CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15) AS BIGINT)
       |      % 100 < 90 AS is_train
       |  FROM lab WHERE node < ${DedupOps.CopyOffset})
       |SELECT doc_id, cluster_id FROM b v
       |WHERE NOT is_train AND NOT EXISTS (
       |  SELECT 1 FROM b t WHERE t.is_train AND t.cluster_id = v.cluster_id)
       |ORDER BY doc_id""".stripMargin

  val q26LangId: String = {
    val scores = TextOps.LangStopwords.map { case (lang, words) =>
      s"len(regexp_extract_all(text, '\\b($words)\\b')) AS score_$lang"
    }.mkString(",\n    ")
    val langs = TextOps.LangStopwords.map(_._1)
    val best = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    val guess = langs.map(l =>
      s"WHEN score_$l = g AND g > 0 THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT doc_id,
       |    $scores
       |  FROM documents),
       |g AS (SELECT *, $best AS g FROM s)
       |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
       |  CASE $guess ELSE 'und' END AS lang_guess
       |FROM g ORDER BY doc_id""".stripMargin
  }
}
