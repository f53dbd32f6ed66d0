package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Behavioral tests for the LLM-pipeline operators on sf0.001: planted
  * near-dup recall, ANN-vs-brute-force consistency, multimodal stub
  * plumbing, and the streaming path of the windowed aggregation. */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  test("exact dedup collapses each planted copy-pair to one survivor") {
    val out = DedupOps.exactDedup(spark, dir).collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(1) == 2)) // every group: original + copy
  }

  test("all-pairs ngram jaccard (spec-only verifier) finds every planted near-dup pair") {
    val pairs = DedupOps.ngramJaccardAllPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val planted = docs.map(id => (id, id + DedupOps.CopyOffset)).toSet
    assert(planted.subsetOf(pairs),
      s"missing ${planted.diff(pairs).size} planted pairs")
  }

  test("minhash LSH recall vs exact jaccard is high and candidates are sound") {
    val exact = DedupOps.ngramJaccardAllPairs(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH (threshold .5) must be a superset-or-close of exact (threshold .6)
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall too low")
  }

  test("q30 banded ngram jaccard: sound (subset of all-pairs, same values) with high measured recall") {
    // the production q30 verifies candidates with EXACT Jaccard, so any
    // emitted pair must appear in the all-pairs verifier with the SAME
    // jaccard value — banding can miss pairs, never invent or distort
    val allPairs = DedupOps.ngramJaccardAllPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = DedupOps.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded.nonEmpty)
    banded.foreach { case (k, j) =>
      assert(allPairs.get(k).contains(j),
        s"banded pair $k (j=$j) not in all-pairs ground truth")
    }
    val recall = allPairs.keys.count(banded.contains).toDouble / allPairs.size
    assert(recall >= 0.95, s"banded q30 recall $recall vs all-pairs")
  }

  test("q196 threshold curve reconciles with per-threshold q118 reruns") {
    import graft.operators.DedupOps
    val got = DedupOps.thresholdCurve(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got.keySet == DedupOps.DedupThresholds.toSet)
    // the unthresholded verified stream, collected once
    val pairs = DedupOps.minhashVerified(
        DedupOps.corpusNear(spark, dir), Some(DedupOps.LshBucketCap))
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nCorpus = DedupOps.corpusNear(spark, dir).count()
    DedupOps.DedupThresholds.foreach { t =>
      val surv = pairs.filter(_._3 >= t)
      val (np, nd, nc, frac) = got(t)
      assert(np == surv.length, s"tau=$t pairs")
      assert(nd == surv.map(_._2).distinct.length, s"tau=$t drops")
      assert(nc == nCorpus)
      assert(math.abs(frac - nd.toDouble / nCorpus) <= 5e-7)
    }
    // the curve at 0.5 must agree with the production q118 output
    assert(got(0.5)._1 ==
      DedupOps.minhashLshCapped(spark, dir).count())
    // the sweep must be a real curve: strictly fewer survivors at the
    // top threshold than the bottom
    assert(got(0.9)._1 < got(0.5)._1, "flat curve — sweep exercises nothing")
  }

  test("q118 capped LSH: no-op cap ≡ q31; hot-bucket cap keeps candidates linear under duplication") {
    import org.apache.spark.sql.functions._
    // (a) refactor equivalence: a cap no bucket reaches is exactly q31
    val corpus = DedupOps.corpusNear(spark, dir)
    val uncapped = DedupOps.minhashLshOf(corpus, None).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hugeCap = DedupOps.minhashLshOf(corpus, Some(Int.MaxValue)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hugeCap == uncapped)
    // (b) the capped output can only drop pairs, never invent them
    val capped = DedupOps.minhashLshCapped(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    // (c) the scale story: flood the corpus with 300 boilerplate docs
    // sharing one template text (the real 100 TB hazard — empty pages,
    // footers, license headers: buckets of THOUSANDS of mutually-
    // near-dup docs that exact dedup should collapse, not LSH pair
    // emission). Uncapped, the flood alone contributes C(300,2) pairs
    // per band; capped, its over-full buckets vanish and candidate
    // volume stays at the clean corpus's level.
    def candidates(c: org.apache.spark.sql.DataFrame, cap: Option[Int]): Long = {
      val bandsAll = DedupOps.lshBands(
        DedupOps.minhashSignatures(DedupOps.shingles(c)))
      val bands = cap match {
        case Some(k) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("band_idx", "band_hash")
          bandsAll.withColumn("bsz", count(lit(1)).over(w))
            .filter(col("bsz") <= k).drop("bsz")
        case None => bandsAll
      }
      bands.groupBy("band_idx", "band_hash")
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
    }
    val template = "copyright footer all rights reserved generated page " +
      "do not reply automated message standard disclaimer applies here"
    val flood = corpus.unionAll(
      spark.range(300).select((col("id") + 50000000L).as("doc_id"),
        lit(template).as("text")))
    val base = candidates(corpus, None)
    val floodUncapped = candidates(flood, None)
    val floodCapped = candidates(flood, Some(DedupOps.LshBucketCap))
    // 300 identical docs share all 4 bands: ~4 * C(300,2) extra pairs
    assert(floodUncapped >= base + 150000L,
      s"flood should blow up uncapped candidates: $base -> $floodUncapped")
    assert(floodCapped <= base + 1000L,
      s"cap failed to drop the flooded buckets: $floodCapped vs base $base")
    // uniform N-fold duplication is NOT what the cap is for: there the
    // extra pairs are TRUE near-dups (output-bound growth, see
    // BENCH_NOTES round 6) and exact-dedup-first is the mitigation
    assert(capped.nonEmpty)
  }

  test("q119 contamination: planted train-side copies flag their val docs; clean docs stay clean") {
    val out = DedupOps.contamination(spark, dir).collect()
    assert(out.nonEmpty)
    val contaminated = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val clean = out.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    // every val doc whose near-copy was planted into train (%20 == 0)
    // must audit as contaminated — the copy carries all its 8-grams but
    // the first-word ones
    val planted = out.map(_.getLong(0)).filter(_ % 20 == 0).toSet
    assert(planted.nonEmpty && planted.subsetOf(contaminated),
      s"planted-copy docs escaped the audit: ${planted.diff(contaminated)}")
    // docs WITHOUT a planted copy may still hit via genuinely repeated
    // phrases (that's the point of the audit), but some must stay clean
    assert(clean.nonEmpty, "audit flagged the whole val split")
    assert(clean.forall(_ % 20 != 0))
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_hit must not exceed n_grams")
    }
  }

  test("simhash finds most planted pairs without flooding") {
    val out = DedupOps.simhashDedup(spark, dir).collect()
    val planted = out.count(r =>
      r.getLong(1) == r.getLong(0) + DedupOps.CopyOffset)
    assert(planted >= 400, s"only $planted/500 planted pairs at hamming<=4")
    assert(out.length <= 1500, s"${out.length} pairs — detector flooding")
  }

  test("native MinHashAgg signatures are bit-identical to the 16-expression form") {
    val sh = DedupOps.shingles(DedupOps.corpusNear(spark, dir))
    val expr16 = DedupOps.minhashSignatures(sh).collect()
      .map(r => r.toSeq).toSet
    val native = DedupOps.minhashSignaturesNative(sh).collect()
      .map(r => r.toSeq).toSet
    assert(native == expr16)
    assert(native.nonEmpty)
  }

  test("simhash banding is lossless: identical result set to all-pairs") {
    val banded = DedupOps.simhashDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val allPairs = DedupOps.simhashDedupAllPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == allPairs)
  }

  test("embedding near-dup finds exactly the planted scaled copies") {
    val out = SimilarityOps.embeddingNearDup(spark, dir).collect()
    assert(out.length == 500)
    assert(out.forall(r =>
      r.getLong(1) == r.getLong(0) + SimilarityOps.CopyOffset))
  }

  test("q33 embedding banding is lossless: identical result set to all-pairs (q35-candidates ⊇ exact pairs)") {
    // every exact cos≥0.999 pair must share an lsh_sig bucket — the
    // banding-covers-exact pin that licensed demoting the all-pairs
    // form off the query surface (and the recall evidence that q35's
    // bucket candidates contain every exact near-dup pair, since both
    // use the same signature)
    val banded = SimilarityOps.embeddingNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val allPairs = SimilarityOps.embeddingNearDupAllPairs(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded == allPairs,
      s"banded misses ${allPairs.diff(banded).size} exact pairs / " +
        s"invents ${banded.diff(allPairs).size}")
  }

  test("LSH ANN results are a subset of brute-force candidates with same cosines") {
    val brute = SimilarityOps.cosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ann = SimilarityOps.lshAnn(spark, dir).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("IVF ANN: buckets partition the corpus; cosines agree with brute force") {
    val ann = SimilarityOps.ivfAnn(spark, dir).collect()
    assert(ann.nonEmpty)
    val brute = SimilarityOps.cosineTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ann.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("multimodal stub decode: typed plumbing round-trips deterministically") {
    val metas = MultimodalOps.decodeMeta(spark, dir).collect()
    assert(metas.length == 500)
    val m = metas.minBy(_.doc_id)
    assert(m.sha.length == 64 && m.byte_len > 0)
    assert(m.width >= 16 && m.width < 80)
    // rerun → identical (stub is deterministic)
    assert(MultimodalOps.decodeMeta(spark, dir).collect()
      .minBy(_.doc_id) == m)
  }

  test("multimodal resize stub preserves aspect ratio and bounds") {
    import MultimodalOps.FakeDecoder.resize
    assert(resize(640, 480, 320) == (320, 240))
    assert(resize(480, 640, 320) == (240, 320))
    assert(resize(100, 50, 320) == (100, 50))   // never upscale
    assert(resize(5000, 1, 100) == (100, 1))    // floor at 1
  }

  test("multimodal frame sampling: cardinality and offsets follow the stride") {
    val frames = MultimodalOps.sampleFrames(spark, dir).collect()
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.size == 500)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (id, fs) =>
      val expected = math.ceil(docs(id) / 128.0).toInt
      assert(fs.length == expected, s"doc $id frame count")
      assert(fs.sortBy(_.frame_idx).zipWithIndex
        .forall { case (f, i) => f.frame_idx == i && f.offset == i * 128L })
      assert(fs.forall(f => f.frame_len <= 64 && f.frame_sha.length == 64))
    }
  }

  test("q159 image phash: planted edits found at hamming<=2, banding lossless, invisible to exact dedup") {
    val out = MultimodalOps.imagePhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = EtlOps.t(spark, dir, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    // every planted single-cell edit is recovered, within 2 bits (the
    // edit touches one cell -> at most its two adjacent gradient bits)
    val planted = docs.filter(_ % 4 == 0)
      .map(d => (d, d + DedupOps.CopyOffset)).toSet
    val found = out.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found),
      s"missed ${(planted -- found).size} planted near-identical images")
    out.filter(p => planted((p._1, p._2))).foreach { case (a, b, h) =>
      assert(h <= 2, s"planted pair ($a,$b) hamming $h — edit leaked cells")
    }
    // the banded+capped pipeline is LOSSLESS on this corpus: identical
    // to the all-pairs Hamming scan over the same fingerprints
    val sigs = MultimodalOps.perceptualHash(
      MultimodalOps.imageCorpus(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= MultimodalOps.PhashMaxHamming
    } yield (a, b, h.toLong)).toSet
    assert(out.toSet == brute, "banding dropped or invented a pair")
    // and the pairs are invisible to cryptographic dedup: every blob is
    // byte-distinct, so q29-style exact hashing finds zero of them
    val dupBlobs = MultimodalOps.imageCorpus(spark, dir)
      .groupBy(md5(col("img"))).count()
      .filter(col("count") > 1).count()
    assert(dupBlobs == 0,
      "planted edits must be invisible to exact blob dedup")
  }

  test("img_gen native generator is byte-identical to the HOF reference corpus") {
    val native = MultimodalOps.imageCorpus(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val ref = MultimodalOps.imageCorpusReference(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(native == ref, "img_gen != HOF reference generator")
  }

  test("native blob expressions match the HOF reference and a plain-Scala recompute") {
    // phash: native byte loop vs the spec-reference lambda form
    val imgs = MultimodalOps.imageCorpus(spark, dir)
    val native = MultimodalOps.perceptualHash(imgs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = MultimodalOps.perceptualHashReference(imgs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == ref, "blob_phash != HOF reference")
    // pixel stats: native vs plain Scala over the collected blobs
    val blobs = MultimodalOps.imageGateCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val st = MultimodalOps.imageGateCorpus(spark, dir)
      .selectExpr("doc_id", "blob_pixel_stats(img) AS st")
      .selectExpr("doc_id", "st.sum_px AS s", "st.ssq_px AS q",
        "st.hist AS h")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getSeq[Long](3))).toMap
    blobs.foreach { case (d, bs) =>
      val vs = bs.map(_ & 0xff)
      val hist = new Array[Long](16)
      vs.foreach(v => hist(math.min(v >>> 3, 15)) += 1)
      val (s0, q0, h0) = st(d)
      assert(s0 == vs.map(_.toLong).sum && q0 == vs.map(v => v.toLong * v).sum
        && h0 == hist.toSeq, s"pixel stats mismatch for doc $d")
    }
    // wave stats: native vs plain Scala
    val wav = MultimodalOps.audioCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val ws = MultimodalOps.audioCorpus(spark, dir)
      .selectExpr("doc_id",
        s"blob_wave_stats(wav, ${MultimodalOps.AudioMid}) AS st")
      .selectExpr("doc_id", "st.energy", "st.silent", "st.clipped")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    wav.foreach { case (d, bs) =>
      val vs = bs.map(_ & 0xff)
      val mid = MultimodalOps.AudioMid
      val want = (vs.map(v => (v - mid).toLong * (v - mid)).sum,
        vs.count(v => math.abs(v - mid) <= 1).toLong,
        vs.count(v => v == 32 || v == 126).toLong)
      assert(ws(d) == want, s"wave stats mismatch for doc $d")
    }
  }

  test("q169 image clusters: complete partition; every planted copy joins its source") {
    val rows = MultimodalOps.imagePhashClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = EtlOps.t(spark, dir, "documents").count()
    val nCopies = EtlOps.t(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 0).count()
    // the clustering is a complete partition of the image corpus
    assert(rows.map(_._2).sum == nDocs + nCopies)
    assert(rows.map(_._3).sum == nCopies)
    rows.foreach { case (cid, m, c) =>
      assert(cid < DedupOps.CopyOffset,
        "a cluster label must be its minimum (original) member")
      assert(m >= 1 + c, s"cluster $cid: copies without an original")
    }
    // membership: every planted copy lands in its source's component
    val lbl = CurationOps.propagateLabels(
      MultimodalOps.imagePhashNearDup(spark, dir)
        .select(col("doc_a"), col("doc_b")),
      MultimodalOps.imageCorpus(spark, dir).select(col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    EtlOps.t(spark, dir, "documents").select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % 4 == 0).foreach { d =>
        assert(lbl(d) == lbl(d + DedupOps.CopyOffset),
          s"copy of $d not clustered with its source")
      }
  }

  test("q160 image gate: flat fails both, stripes fail entropy only, natural images pass") {
    val rows = MultimodalOps.imageQualityGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    assert(rows.length == 500)
    rows.foreach { case (d, bright, contrast, entropy, pc, pe, kept) =>
      assert(kept == (pc && pe))
      if (d % 10 == 0) {
        // flat image: zero contrast, zero entropy, dropped on both
        assert(contrast == 0L && entropy == 0L && !pc && !pe)
        assert(bright == (32 + d % 95) * 1000000L)
      } else if (d % 10 == 5) {
        // two-tone stripes: high contrast but exactly ln 2 nats —
        // 2 x floor(0.5 * ln 2 * 1e9) = 693147180 in fixed point
        assert(pc && !pe && !kept)
        assert(entropy == 693147180L, s"stripe entropy $entropy")
        assert(bright == 70L * 1000000L)
      } else {
        // chaotic pattern: natural-ish statistics clear both gates
        assert(pc && pe && kept, s"doc $d dropped: c=$contrast e=$entropy")
      }
    }
  }

  test("q165 audio gate: silent tracks fail energy+silence, clipped fail clip, healthy pass") {
    val rows = MultimodalOps.audioQualityGate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))
    assert(rows.length == 500)
    rows.foreach { case (d, energy, silence, clip, pe, ps, pc, kept) =>
      assert(kept == (pe && ps && pc))
      if (d % 7 == 0) {
        // dead mic: every sample within the silence band, no energy
        assert(silence == 1000000L && !ps && !pe, s"doc $d")
      } else if (d % 7 == 3) {
        // a third of the samples pinned at the rail: clip gate trips,
        // but the track still carries signal energy
        assert(clip >= 300000L && !pc && pe, s"doc $d clip=$clip")
      } else {
        assert(kept, s"healthy doc $d dropped: e=$energy s=$silence c=$clip")
      }
    }
  }

  test("q170 mix table: counts recompose from the three gates; worst modality rules") {
    val rows = MultimodalOps.multimodalMixTable(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(_._2).sum == 500)
    rows.foreach { r =>
      assert(r._6 <= math.min(r._3, math.min(r._4, r._5)))
      assert(r._7 == math.rint(r._6.toDouble / r._2 * 1e6) / 1e6)
    }
    // recompose the all-modality count from the component operators
    val img = MultimodalOps.imageQualityGate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    val aud = MultimodalOps.audioQualityGate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    val docs = EtlOps.t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.wsTokenCount(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = docs.groupBy(_._2).view.mapValues(_.count(d =>
      d._3 >= MultimodalOps.MixTextMinToks &&
        d._3 <= MultimodalOps.MixTextMaxToks &&
        img(d._1) && aud(d._1)).toLong).toMap
    rows.foreach { r => assert(r._6 == want(r._1), s"source ${r._1}") }
    // the table's reason to exist: somewhere uncorrelated gate failures
    // push the usable-pair count strictly below every per-modality count
    assert(rows.exists(r => r._6 < math.min(r._3, math.min(r._4, r._5))),
      "all_ok never below min(modality) — gates perfectly correlated?")
  }

  test("streaming watermark: late data beyond the watermark is dropped in append mode") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-late").toString
    val events = EtlOps.events(spark, dir)
    val schema = events.schema
    // batch 1: the bulk of January
    events.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$tmp/b1")
    val sdf = spark.readStream.schema(schema).parquet(s"$tmp/b1")
    val agg = StreamingOps.dailyWindowAgg(sdf.withWatermark("ts", "1 day"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("late_out").count()
      // batch 2: one event far BEFORE the advanced watermark (late) and
      // nothing new on time — the late day must not (re)appear
      events.filter(col("ts") < lit("2024-01-02").cast("timestamp"))
        .limit(1).write.mode("append").parquet(s"$tmp/b1")
      q.processAllAvailable()
      val afterB2 = spark.table("late_out").count()
      assert(afterB1 > 0, "append mode should emit closed windows")
      assert(afterB2 == afterB1, "late event must be dropped by the watermark")
    } finally q.stop()
  }

  test("streaming dedup: cross-micro-batch duplicates within the watermark are dropped") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val evs = EtlOps.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts")).limit(200)
    evs.write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(evs.schema).parquet(s"$tmp/in")
      .withWatermark("ts", "30 days") // horizon covers the whole fixture
    val q = DedupOps.streamingDedup(stream, Seq("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("sdedup_out").count()
      assert(n1 == 200)
      // micro-batch 2: the SAME events again — all are duplicates
      evs.write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
      assert(spark.table("sdedup_out").count() == n1,
        "replayed events must be dropped by keyed state")
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch join on identical input") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    val events = EtlOps.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    events.write.mode("overwrite").parquet(s"$tmp/in")
    def side(df: org.apache.spark.sql.DataFrame, t: String) =
      df.filter(col("event_type") === t)
    val batch = StreamingOps.attributionJoin(
      side(events, "purchase"), side(events, "click"))
      .orderBy("user_id", "purchase_id", "click_id").collect()
    assert(batch.nonEmpty, "fixture yields no attribution pairs")
    val sdf = spark.readStream.schema(events.schema).parquet(s"$tmp/in")
    // both sides watermarked: the range condition + watermarks bound the
    // join state (Spark requires this for streaming-streaming joins)
    val q = StreamingOps.attributionJoin(
      side(sdf, "purchase").withWatermark("ts", "1 hour"),
      side(sdf, "click").withWatermark("ts", "2 hours"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .orderBy("user_id", "purchase_id", "click_id").collect()
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("q198 pq audit matches a driver-side subspace-argmin reference") {
    val got = SimilarityOps.pqAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == (0 until SimilarityOps.PqM).map(_.toLong).toSet)
    val vs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val d = SimilarityOps.PqSubDim
    def sq(a: Array[Double], b: Array[Double], off: Int): Double = {
      var s = 0.0; var j = 0
      while (j < d) {
        val t = a(off + j) - b(off + j); s += t * t; j += 1
      }; s
    }
    (0 until SimilarityOps.PqM).foreach { m =>
      val off = m * d
      val assigns = vs.toSeq.map { case (_, e) =>
        (0L until SimilarityOps.PqK.toLong).map(c =>
          (sq(e, vs(c), off), c)).min
      }
      val byCode = assigns.groupBy(_._2)
      val (nv, used, share, meanErr, maxErr) = got(m.toLong)
      assert(nv == vs.size)
      assert(used == byCode.size.toLong, s"subspace $m codes used")
      assert(math.abs(share -
        byCode.values.map(_.size).max.toDouble / vs.size) <= 5e-7)
      val wantMean = assigns
        .map(t => math.floor(t._1 * 1e9).toLong).sum.toDouble / 1e9 / vs.size
      assert(math.abs(meanErr - wantMean) <= 6e-7, s"subspace $m mean err")
      assert(math.abs(maxErr - assigns.map(_._1).max) <= 6e-7)
      // distortion must be nonzero for non-codebook vectors, and the
      // codebook cannot be fully dead
      assert(meanErr > 0.0 && used >= 2)
    }
  }

  test("q193 ivf balance: sizes conserve the corpus, stats reconcile") {
    val got = SimilarityOps.ivfBalance(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4), r.getDouble(5)))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(got.map(_._2._1).sum == n, "list sizes must partition the corpus")
    assert(got.map(_._1).toSeq.distinct.size == got.size)
    assert(got.size <= SimilarityOps.IvfCentroids)
    val nLists = got.size.toLong
    val ss = got.map(t => t._2._1 * t._2._1).sum
    got.foreach { case (cid, (sz, share, som, over, probe)) =>
      assert(math.abs(share - sz.toDouble / n) <= 5e-7)
      assert(math.abs(som - (sz * nLists).toDouble / n) <= 5e-7)
      assert(over == (sz * nLists > 2 * n), s"oversized flag for $cid")
      assert(math.abs(probe - ss.toDouble / n) <= 5e-7)
    }
    // the audit must agree with the index q43 actually searches
    val sizes = SimilarityOps.ivfAssigned(spark, dir)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (cid, (sz, _, _, _, _)) =>
      assert(sizes(cid) == sz) }
    // fixed-sample centroids on clustered embeddings skew — the audit
    // must find real imbalance to report
    assert(got.map(_._2._1).max > got.map(_._2._1).min,
      "perfectly balanced lists — audit exercises nothing")
  }

  test("q189 mrl audit matches a driver-side prefix-cosine reference") {
    val got = SimilarityOps.mrlAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == SimilarityOps.MrlDims.map(_.toLong).toSet)
    // full-width row is the identity: every neighbor overlaps, zero gap
    val (fq, fk, fov, fovr, fgap) = got(SimilarityOps.MrlDims.last.toLong)
    assert(fov == fq * fk && fovr == 1.0 && fgap == 0.0)
    // driver-side reference with the same ascending IEEE loop
    val vs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double], d: Int): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += a(i) * b(i); i += 1 }; s
    }
    def topk(qid: Long, d: Int): Seq[(Long, Double)] = {
      val qv = vs(qid); val qn = math.sqrt(dot(qv, qv, d))
      vs.toSeq.filter(_._1 != qid).map { case (cid, cv) =>
        (cid, dot(qv, cv, d) / (qn * math.sqrt(dot(cv, cv, d)))) }
        .sortBy { case (cid, c) => (-c, cid) }.take(SimilarityOps.MrlK)
    }
    val qids = vs.keys.filter(_ < SimilarityOps.MrlQueries).toSeq
    SimilarityOps.MrlDims.foreach { d =>
      val fullSets = qids.map(q => q -> topk(q, SimilarityOps.MrlDims.last)
        .map(_._1).toSet).toMap
      val tk = qids.map(q => q -> topk(q, d))
      val ov = tk.map { case (q, xs) =>
        xs.count(x => fullSets(q).contains(x._1)) }.sum
      val (nq, k, gov, govr, _) = got(d.toLong)
      assert(nq == qids.size && k == SimilarityOps.MrlK)
      assert(gov == ov, s"overlap mismatch at d=$d: got $gov want $ov")
      assert(math.abs(govr - ov.toDouble / (qids.size * SimilarityOps.MrlK))
        <= 5e-7)
    }
    // truncation must actually cost something at the narrowest width
    assert(got(SimilarityOps.MrlDims.head.toLong)._4 < 1.0,
      "d=8 ranking identical to full — audit exercises nothing")
  }

  test("q183 exact maxsim (spec-only) matches a driver-side late-interaction reference") {
    val got = SimilarityOps.maxSimRetrievalExact(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var j = 0
      while (j < a.length) { acc += a(j) * b(j); j += 1 }
      acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byLabel = vecs.groupBy(_._2)
    SimilarityOps.MaxSimQueryLabels.foreach { ql =>
      val qvecs = byLabel(ql)
      val want = byLabel.map { case (dl, dvecs) =>
        dl -> qvecs.map { qv =>
          math.floor(dvecs.map(dv => cos(qv._3, dv._3)).max * 1e9).toLong
        }.sum
      }
      val rows = got.filter(_._1 == ql)
      assert(rows.length == byLabel.size, s"query $ql missing doc labels")
      rows.foreach { case (_, rank, dl, nq, score) =>
        assert(nq == qvecs.length)
        assert(score == want(dl), s"q$ql d$dl score")
      }
      // ranks follow score desc; the query's own label must rank first
      // (its vectors match themselves at cos = 1)
      assert(rows.find(_._2 == 1L).get._3 == ql,
        s"query $ql does not retrieve itself first")
    }
  }

  test("q183 bucketed maxsim: recall gate vs the exact spec-only form") {
    // (q_label, rank, d_label, n_qvecs, score_fp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    val banded = rows(SimilarityOps.maxSimRetrieval(spark, dir))
    val exact = rows(SimilarityOps.maxSimRetrievalExact(spark, dir))
    assert(banded.nonEmpty)
    val exactByQ = exact.groupBy(_._1)
    SimilarityOps.MaxSimQueryLabels.foreach { ql =>
      val b = banded.filter(_._1 == ql)
      val e = exactByQ(ql)
      // top-1 retrieval survives banding: every query vector shares a
      // bucket with itself (cos = 1), so the self label still dominates
      assert(b.find(_._2 == 1L).get._3 == e.find(_._2 == 1L).get._3,
        s"query $ql: banding changed the top-1 retrieved label")
      assert(b.find(_._2 == 1L).get._3 == ql,
        s"query $ql does not retrieve itself first under banding")
      // candidate restriction only shrinks the evidence: per doc label,
      // the banded MAX ranges over a bucket-candidate SUBSET, so each
      // per-query-vector best_fp <= the exact best_fp — and n_qvecs
      // counts only query vectors that found >=1 candidate
      val eN = e.map(r => r._3 -> r._4).toMap
      b.foreach { case (_, _, dl, nq, _) =>
        assert(nq <= eN(dl),
          s"query $ql doc $dl: banded n_qvecs $nq exceeds exact ${eN(dl)}")
      }
      // measured recall on the fixture: banding keeps >= 2 of the exact
      // top-3 doc labels in its own top-3 (self + at least one neighbor)
      val bTop3 = b.filter(_._2 <= 3L).map(_._3).toSet
      val eTop3 = e.filter(_._2 <= 3L).map(_._3).toSet
      assert(bTop3.intersect(eTop3).size >= 2,
        s"query $ql: banded top-3 $bTop3 lost the exact top-3 $eTop3")
    }
  }

  test("q177: watermark dedup on the redelivered stream matches the batch winners") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q177").toString
    val e = EtlOps.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type")).limit(300)
    val corpus = StreamingOps.redeliver(e).persist()
    // batch truth: earliest delivery per event_id
    val batch = StreamingOps.firstDeliveries(corpus)
      .select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    assert(batch.size == e.count(), "dedup must keep every unique event")
    assert(corpus.count() > batch.size, "fixture plants no redeliveries")
    // streaming: originals in micro-batch 1, replays in micro-batch 2 —
    // the arrival order an at-least-once bus produces
    corpus.join(e.select("event_id", "ts"), Seq("event_id", "ts"))
      .write.mode("overwrite").parquet(s"$tmp/in")
    val sdf = spark.readStream.schema(corpus.schema).parquet(s"$tmp/in")
      .withWatermark("ts", "2 hours")
    val q = DedupOps.streamingDedup(sdf, Seq("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("q177_out").start()
    try {
      q.processAllAvailable()
      corpus.join(e.select("event_id", "ts"), Seq("event_id", "ts"),
          "left_anti")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
      val streamed = spark.table("q177_out").select("event_id", "ts")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
      assert(streamed.length == batch.size,
        "streaming kept a different number of events than batch")
      streamed.foreach { case (id, ts) =>
        assert(batch(id) == ts, s"event $id: streaming kept a replay")
      }
    } finally { q.stop(); corpus.unpersist() }
  }

  test("q180 norm audit: idempotent, and every planted dirty copy folds onto its original") {
    val rows = TextOps.normAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    val base = EtlOps.t(spark, dir, "documents")
      .selectExpr("source", "doc_id", "md5(text) AS fp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val bySrc = base.groupBy(_._1)
    rows.foreach { case (src, (n, changed, idem, rawFp, normFp, gain)) =>
      val docs = bySrc(src)
      val dirty = docs.count(_._2 % 2 == 0)
      assert(idem, s"$src: normalization not idempotent")
      assert(n == docs.length + dirty)
      // originals are already canonical; only the dirty copies change
      assert(changed == dirty, s"$src: changed=$changed dirty=$dirty")
      // normalization folds each dirty copy onto its original: the
      // normalized fingerprint space equals the originals' raw space
      assert(normFp == docs.map(_._3).distinct.length.toLong,
        s"$src: dirty copies did not fold back")
      assert(gain == rawFp - normFp)
      // a source only gains if it actually received dirty copies
      assert((gain > 0) == (dirty > 0), s"$src: gain=$gain dirty=$dirty")
    }
    assert(rows.values.exists(_._6 > 0), "no source gained — audit vacuous")
  }

  test("streaming window agg: readStream path matches batch result") {
    val batch = StreamingOps.streamingWindow(spark, dir).collect()
    val events = EtlOps.events(spark, dir)
    // stage a micros-typed copy so readStream sees a clean schema
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream")
      .toString
    events.write.mode("overwrite").parquet(tmp)
    val sdf = spark.readStream.schema(events.schema).parquet(tmp)
    val q = StreamingOps.dailyWindowAgg(sdf.withWatermark("ts", "1 day"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("daily_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("daily_out")
        .orderBy("day", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("q379 substring dedup: finds a planted inter-doc span that paragraph AND CDC granularity both miss") {
    import spark.implicits._
    // a 40-token verbatim span planted at offsets 13 and 30 (13 % 8 = 5,
    // 30 % 8 = 6): misaligned for q120's fixed 8-token segments. Span
    // tokens end in digits, so no "e " anchor digram exists inside the
    // span or at its boundaries — q125's content-defined sampler never
    // selects a window inside it. Prefix/suffix tokens DO carry anchors
    // (trailing 'e'), but every window from those anchors covers
    // doc-unique prefix/suffix text, so no CDC window is shared either.
    val span = (0 until 40).map(i => f"span$i%02d")
    val doc1 = ((0 until 12).map(i => f"lefta$i%02de") :+ "pova01") ++
      span ++ (0 until 11).map(i => f"righta$i%02de")
    val doc2 = ((0 until 29).map(i => f"leftb$i%02de") :+ "povb01") ++
      span ++ (0 until 10).map(i => f"rightb$i%02de")
    val docs = Seq(1L -> doc1.mkString(" "), 2L -> doc2.mkString(" "))
      .toDF("doc_id", "text")
    // 1) the substring operator finds the span exactly
    val out = DedupOps.substringDupMassOf(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getLong(2) == 33L, s"n_windows ${r.getLong(2)}") // 40-8+1
    assert(r.getLong(3) == 40L, s"dup mass ${r.getLong(3)}")
    assert(r.getDouble(4) == 0.625) // 40 / 64 tokens of doc 1
    assert(r.getLong(5) == 40L, s"longest ${r.getLong(5)}")
    // 2) q120's paragraph granularity sees NO cross-doc duplication:
    // both originals keep every segment (a shared aligned segment would
    // have cost doc 2 at least one)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sspan")
      .toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val para = DedupOps.paragraphDedup(spark, tmp).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(para(1L) == (8L, 8L) && para(2L) == (10L, 10L),
      s"paragraph dedup unexpectedly saw the span: $para")
    // and the full q379 operator (corpusNear of the same dir) still
    // reports the planted pair end-to-end
    val e2e = DedupOps.substringDup(spark, tmp).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(e2e.contains((1L, 2L)))
    // 2b) the q381 cut plan applies keep-first at token granularity:
    // doc 2 (larger id) loses exactly the 40-token span in ONE merged
    // span; doc 1 keeps everything, hash-identical to its full text
    val cutRows = DedupOps.substringCut(spark, tmp).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(5))).toMap
    assert(cutRows(1L)._2 == 0L && cutRows(1L)._3 == 0L,
      s"doc 1 (first occurrence) must keep the span: ${cutRows(1L)}")
    assert(cutRows(2L)._2 == 40L && cutRows(2L)._3 == 1L,
      s"doc 2 must lose the span as one merged span: ${cutRows(2L)}")
    def md5hex(t: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(cutRows(1L)._4 == md5hex(doc1.mkString(" ")))
    assert(cutRows(2L)._4 ==
      md5hex((doc2.take(30) ++ doc2.drop(70)).mkString(" ")))
    // 3) q125's CDC sampling rule (same anchor + window constants)
    // selects windows in both docs, but none shared between them
    def cdcWins(text: String): Set[String] = {
      val L = DedupOps.CdcWindow
      (0 until text.length)
        .filter(i => text.startsWith(DedupOps.CdcAnchor, i))
        .filter(i => i + L <= text.length)
        .map(i => text.substring(i, i + L)).toSet
    }
    val (w1, w2) = (cdcWins(doc1.mkString(" ")), cdcWins(doc2.mkString(" ")))
    assert(w1.nonEmpty && w2.nonEmpty, "fixture lost its CDC anchors")
    assert(w1.intersect(w2).isEmpty,
      "CDC unexpectedly shares a window across the planted docs")
  }

  test("q120 paragraph dedup: copies fully deduped, firsts survive intact") {
    val out = DedupOps.paragraphDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.size == 1000) // 500 originals + 500 exact copies
    val (orig, copies) = out.partition(_._1 < DedupOps.CopyOffset)
    // every segment of an exact copy already occurred in its original
    assert(copies.values.forall(_._2 == 0L))
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    assert(copies.values.forall(_._3 == emptyMd5))
    // global first-occurrence: total kept == distinct segment count
    val distinctSegs = {
      val P = DedupOps.ParaTokens
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("split(text, ' ') AS toks")
        .selectExpr(s"explode(sequence(0, size(toks) - 1, $P)) AS st", "toks")
        .selectExpr(s"array_join(slice(toks, st + 1, $P), ' ') AS seg")
        .distinct().count()
    }
    assert(out.values.map(_._2).sum == distinctSegs)
    // a doc keeping all segments reassembles to exactly its own text
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val intact = orig.filter { case (_, (n, k, _)) => n == k }
    assert(intact.nonEmpty)
    intact.foreach { case (id, (_, _, m)) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(texts(id).getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(m == md, s"doc $id reassembly mismatch")
    }
  }

  test("q121 SemDeDup: planted scaled copies are the duplicates, originals survive") {
    val out = ClusterOps.semanticDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(3), r.getDouble(4))).toMap
    val (copies, orig) = out.partition(_._1 >= SimilarityOps.CopyOffset)
    // spherical assignment puts each scaled copy in its original's
    // cluster, where the original (smaller vec_id) dominates it at cos≈1
    assert(copies.nonEmpty && copies.values.forall(_._1))
    assert(copies.values.forall(_._2 >= 0.999))
    // random 64-dim originals are semantically distinct
    val dupOrig = orig.count(_._2._1)
    assert(dupOrig.toDouble / orig.size < 0.05,
      s"$dupOrig of ${orig.size} originals flagged dup")
  }

  test("q125 CDC fingerprints survive the shift that breaks aligned windows") {
    val out = DedupOps.cdcFingerprintDups(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val copies = out.filter(_._1 >= DedupOps.CopyOffset)
    assert(copies.nonEmpty)
    // the near-copy is shifted by one word, yet EVERY selected span of
    // every copy is still found in its original: selection is
    // content-defined, so alignment is irrelevant
    assert(copies.forall { case (_, (n, sh, r)) => n == sh && r == 1.0 })
    // sampling rate sanity: the anchor digram selects a few percent of
    // positions corpus-wide — sparse enough to be cheap, dense enough
    // that every doc keeps spans
    val positions = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr(s"length(text) - ${DedupOps.CdcWindow} + 1 AS n")
      .agg(sum("n")).collect()(0).getLong(0)
    val selected = out.filter(_._1 < DedupOps.CopyOffset).map(_._2._1).sum
    val rate = selected.toDouble / positions
    assert(rate > 1.0 / 64 && rate < 1.0 / 8, s"sampling rate $rate")
  }

  test("q126 source drift matches an independent driver-side TV distance") {
    val out = ProfileOps.sourceDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall { case (_, _, tv) => tv >= 0.0 && tv <= 1.0 })
    // independent reference in plain Scala
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").map(r.getString(0) -> _))
    val tc = toks.length.toDouble
    val cc = toks.groupBy(_._2).view.mapValues(_.length).toMap
    out.foreach { case (src, nTok, tv) =>
      val mine = toks.filter(_._1 == src).map(_._2)
      assert(mine.length.toLong == nTok)
      val cs = mine.groupBy(identity).view.mapValues(_.length).toMap
      val expect = cc.keys.toSeq.sorted.map { t =>
        math.floor(math.abs(
          cs.getOrElse(t, 0).toDouble / mine.length -
            cc(t).toDouble / tc) * 1e9).toLong
      }.sum / 1e9 / 2.0
      assert(math.abs(tv - math.round(expect * 1e6) / 1e6) < 1e-9,
        s"$src: $tv vs $expect")
    }
  }

  test("q123 OOV rate: rates bounded, token mass conserved, OOV path live") {
    val out = TextOps.oovRate(spark, dir).collect()
    val rates = out.map(_.getDouble(3))
    assert(rates.forall(r => r >= 0.0 && r <= 1.0))
    // token mass: per-source counts must sum to the corpus token count
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("size(split(text, ' ')) AS n")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(out.map(_.getLong(1)).sum == total)
    // 31 token types vs K=24: some tokens must actually be OOV
    assert(out.map(_.getLong(2)).sum > 0L)
  }

  test("q138 overlap matrix recovers exactly the planted mirror pairs") {
    def p60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // reference: distinct mirrored contents per source
    val want = docs.filter(d => p60(d._2) % 5 == 0)
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.size.toLong).toMap
    val got = DedupOps.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // every pair is (mir_X, X) with the per-source mirrored count
    got.foreach { case (a, b, n) =>
      assert(a == s"mir_$b", s"unexpected pair: ($a, $b)")
      assert(n == want(b), s"count off for $b: $n vs ${want(b)}")
    }
    assert(got.map(_._2).toSet == want.keySet)
  }

  test("q146 finds every planted excerpt at containment 1.0; Jaccard misses them") {
    val rows = DedupOps.containmentDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getDouble(5)))
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 7 == 0)
    // every planted (original, excerpt) pair surfaces, fully contained
    ids.foreach { id =>
      val hit = rows.find(r => r._1 == id && r._2 == id + DedupOps.CopyOffset)
      assert(hit.nonEmpty, s"excerpt pair for $id missed")
      assert(hit.get._3 == 1.0, s"prefix shingles must be fully contained: $hit")
    }
    // the point of the operator: most planted pairs sit BELOW the q31
    // Jaccard gate — a symmetric dedup would not see them
    val planted = rows.filter(r => r._2 == r._1 + DedupOps.CopyOffset
      && ids.contains(r._1))
    assert(planted.count(_._4 < 0.5) * 2 > planted.length,
      "excerpts unexpectedly Jaccard-visible")
  }

  test("q146 PPJoin prefix filter: lossless candidate pruning") {
    val sh = DedupOps.containmentCorpusShingles(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pairs(DedupOps.containmentCandidatesOf(sh, prefixFilter = false))
    val pfx = pairs(DedupOps.containmentCandidatesOf(sh, prefixFilter = true))
    // the filter only prunes — never invents — candidates, and it
    // measurably prunes on this corpus
    assert(pfx.subsetOf(all), "prefix filter invented candidates")
    assert(pfx.size < all.size,
      s"prefix filter pruned nothing (${all.size} candidates)")
    // LOSSLESS: every pair the operator outputs survives the filter,
    // so blocking-then-verify yields the identical result (the oracle
    // states the unfiltered blocking)
    val out = DedupOps.containmentDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.subsetOf(pfx), "an output pair was pruned by the prefix filter")
    info(s"candidates ${all.size} -> ${pfx.size} " +
      f"(${100.0 * (all.size - pfx.size) / all.size}%.1f%% pruned)")
  }

  test("q149 skeleton dedup: every planted template collapses; exact dedup misses all") {
    val rows = TextOps.templateSkeleton(spark, dir).collect()
    val nBase = EtlOps.t(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0).count()
    // each base doc stamps TemplateVariants variants whose skeletons agree
    // (differ only in the masked digit slots) — one cluster per base doc
    assert(rows.length == nBase,
      s"expected $nBase template clusters, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == TextOps.TemplateVariants,
        s"cluster ${r.getString(0)} has ${r.getLong(1)} docs")
      assert(r.getLong(2) > TextOps.TemplateIdOffset,
        "representative must be a planted variant, not a base doc")
    }
    // value-level exact dedup CANNOT see these: every stamped text embeds
    // a distinct numeric slot, so raw-text fingerprints are all unique
    val planted = (1 to TextOps.TemplateVariants).map { k =>
      EtlOps.t(spark, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(concat(lit("task "),
          (col("doc_id") * 100 + k).cast("string"), lit(": "),
          col("text")).as("text"))
    }.reduce(_ unionAll _)
    assert(planted.groupBy(md5(col("text"))).count()
      .filter(col("count") > 1).count() == 0,
      "planted variants must be invisible to exact raw-text dedup")
  }

  test("q154 lsh calibration: tight at high sim, conditioning bias at low sim") {
    val rows = DedupOps.lshCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (bkt, n, aj, ae, aerr) =>
      assert(bkt >= 0 && bkt <= 9 && n > 0)
      assert(aj >= 0.0 && aj <= 1.0 && ae >= 0.0 && ae <= 1.0)
      // mean |err| dominates |mean err| (Jensen), modulo rounding:
      // aj/ae/aerr each round to 6 dp independently, so the inequality
      // can be violated by up to 1.5e-6 of pure rounding
      assert(aerr >= math.abs(ae - aj) - 2e-6, s"bucket $bkt")
    }
    // the corpusSpread fixture must exercise the decile logic where
    // CORRECTNESS runs: well over half the deciles populated, spanning
    // low AND high similarity (the old single-perturbation corpus
    // populated 3 top buckets and left the rest dead code at sf0.01)
    assert(rows.length >= 6, s"only ${rows.length} populated deciles")
    assert(rows.map(_._1).min <= 3, "no low-similarity decile populated")
    // the drop-first-word plants land in the top bucket, where the
    // sketch must be CALIBRATED: mean estimate within sketch noise
    val top = rows.filter(_._1 == 9)
    assert(top.nonEmpty, "no high-similarity bucket — fixture broken")
    top.foreach { case (_, _, aj, ae, _) =>
      assert(math.abs(ae - aj) < 0.05, s"top-bucket bias: est=$ae true=$aj")
    }
    // candidate-conditioning bias: a pair enters only by sharing a band
    // (4 agreeing components -> est >= 0.25), so at low exact similarity
    // the conditional estimate is biased UP — E[est | candidate, J=1/3]
    // ~= (4 + 12/3)/16 = 0.5. This is the report's reason to exist.
    rows.filter(_._1 <= 4).foreach { case (bkt, _, aj, ae, _) =>
      assert(ae > aj,
        s"bucket $bkt: conditioning bias not visible (est=$ae true=$aj)")
    }
  }

  test("q161 incremental lsh: identical to a full q118 rebuild restricted to cross pairs") {
    val inc = DedupOps.incrementalLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = DedupOps.minhashLshCapped(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // q118 orients doc_a < doc_b, so its cross pairs are (index, batch);
    // reorient to q161's (new_doc, matched_doc)
    val cross = full.filter(p => p._1 < DedupOps.CopyOffset &&
        p._2 >= DedupOps.CopyOffset)
      .map(p => (p._2, p._1, p._3)).toSet
    assert(inc == cross,
      "incremental maintenance diverged from the full rebuild")
    assert(inc.nonEmpty)
    // no intra-batch or intra-index pair may leak into the output
    inc.foreach { case (n, m, _) =>
      assert(n >= DedupOps.CopyOffset && m < DedupOps.CopyOffset)
    }
  }

  test("q162 span coverage: boilerplate spans counted exactly, invisible to doc-level dedup") {
    val rows = TextOps.spanCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.length == 500)
    val (planted, clean) = rows.partition(_._1 % 3 == 0)
    // the 12-token footer contributes exactly 12 covered tokens via its
    // 5 interior 8-gram starts (4x1 + 8 in the interval merge), so every
    // planted doc is covered at least that much
    planted.foreach { case (d, n, cov, _, _) =>
      assert(cov >= 12L, s"doc $d: covered $cov < footer length")
    }
    // span coverage separates the classes that doc-level dedup can't:
    // every planted text is globally unique as a document
    assert(planted.map(r => r._3.toDouble / r._2).sum / planted.length >
      clean.map(r => r._3.toDouble / r._2).sum / clean.length,
      "planted boilerplate not visible in coverage")
    assert(rows.exists(_._5) && rows.exists(!_._5),
      "flag threshold must separate the corpus")
    // flag recomputes from the row's own integers
    rows.foreach { case (_, n, cov, _, fl) =>
      assert(fl == (cov.toDouble / n >= 0.1))
    }
  }

  test("q166 contamination provenance: top-1 attribution matches independent recompute") {
    val rows = DedupOps.contaminationProvenance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    val byDoc = rows.map(r => r._1 -> r).toMap
    // ground truth recomputed independently in plain Scala over the
    // collected texts (sf0.001 is small): the operator's top-1 must be
    // the true per-source argmax with the (n_hit desc, source) tie-break
    val docs = EtlOps.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def gramsOf(text: String): Set[String] =
      text.split(" ").sliding(DedupOps.ContamGramN)
        .filter(_.length == DedupOps.ContamGramN).map(_.mkString(" ")).toSet
    val train: Seq[(String, Set[String])] =
      docs.filter(_._1 % 10 != 0).map(d => (d._3, gramsOf(d._2))) ++
        docs.filter(_._1 % 20 == 0)
          .map(d => (d._3, gramsOf(d._2.split(" ").drop(1).mkString(" "))))
    val bySource = train.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).toSet).toMap
    docs.filter(_._1 % 10 == 0).foreach { case (d, text, _) =>
      val vg = gramsOf(text)
      val hits = bySource.view.mapValues(s => (vg & s).size)
        .filter(_._2 > 0).toSeq
      if (hits.isEmpty) assert(!byDoc.contains(d), s"doc $d phantom row")
      else {
        val (wantSrc, wantHit) = hits.minBy { case (s, h) => (-h, s) }
        val r = byDoc.getOrElse(d, fail(s"val doc $d not attributed"))
        assert(r._2 == wantSrc && r._4 == wantHit,
          s"doc $d: got (${r._2},${r._4}), want ($wantSrc,$wantHit)")
        assert(r._3 == vg.size)
      }
    }
    // every planted leak is attributed at dominant coverage
    docs.filter(_._1 % 20 == 0).foreach { case (d, _, _) =>
      assert(byDoc.contains(d) && byDoc(d)._5 >= 0.5,
        s"planted val doc $d not attributed at >=0.5 coverage")
    }
    // and every q119-contaminated doc has an attribution row
    val contaminated = DedupOps.contamination(spark, dir).collect()
      .filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(contaminated.subsetOf(byDoc.keySet),
      "a contaminated doc has no provenance attribution")
  }

  test("q164 source sketch: mirror overlap estimated, zero pairs stay near zero, sketch is min-mergeable") {
    val rows = DedupOps.sourceOverlapSketch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val (mirror, rest) = rows.partition { case (a, b, _, _, _, _, _) =>
      b == s"mir_$a" || a == s"mir_$b"
    }
    assert(mirror.nonEmpty, "no mirror pairs — fixture broken")
    // every mirror pair shares exactly its planted fifth
    mirror.foreach { case (a, b, _, _, sh, ej, _) =>
      assert(sh > 0 && ej > 0, s"mirror pair ($a,$b) shows no overlap")
    }
    // the sketch estimate is calibrated in aggregate: mean est over the
    // mirror pairs tracks their true ~0.2 Jaccard within sketch noise
    val meanMirror = mirror.map(_._7).sum / mirror.length
    val meanExact = mirror.map(_._6).sum / mirror.length
    assert(math.abs(meanMirror - meanExact) < 0.12,
      s"sketch bias: est=$meanMirror exact=$meanExact")
    // pairs with zero true overlap stay near zero under the sketch
    val zeros = rest.filter(_._5 == 0L)
    assert(zeros.nonEmpty)
    assert(zeros.map(_._7).sum / zeros.length < 0.05,
      "sketch invents overlap on disjoint sources")
    // the PRODUCTION property: the union sketch merges by element-wise
    // min, so per-shard sketches compose without touching the corpus
    import org.apache.spark.sql.functions.{col => c, min => fmin}
    val d = EtlOps.t(spark, dir, "documents")
      .select(c("source"), c("text")).distinct()
      .withColumn("x", TextOps.md5Fingerprint60(c("text")) %
        DedupOps.MinhashPrime)
    val src0 = d.select("source").first().getString(0)
    def sig(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val aggs = (0 until DedupOps.NumPerms).map(i =>
        fmin((c("x") * DedupOps.permA(i) + DedupOps.permB(i)) %
          DedupOps.MinhashPrime))
      val r = df.agg(aggs.head, aggs.tail: _*).first()
      (0 until DedupOps.NumPerms).map(r.getLong)
    }
    val full = sig(d.filter(c("source") === src0))
    val hA = sig(d.filter(c("source") === src0 && c("x") % 2 === 0))
    val hB = sig(d.filter(c("source") === src0 && c("x") % 2 =!= 0))
    assert(full == hA.zip(hB).map(p => math.min(p._1, p._2)),
      "union sketch is not min-mergeable")
  }

  test("q156 venn: marginals reconcile with the three standalone detectors") {
    val cells = DedupOps.dedupMethodVenn(spark, dir).collect()
      .map(r => ((r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)),
        r.getLong(3))).toMap
    assert(cells.nonEmpty && !cells.contains((false, false, false)))
    def marginal(pick: ((Boolean, Boolean, Boolean)) => Boolean) =
      cells.collect { case (k, n) if pick(k) => n }.sum
    assert(marginal(_._1) == DedupOps.minhashLshCapped(spark, dir).count(),
      "minhash marginal drifted from the capped q118 stream")
    assert(marginal(_._2) ==
      DedupOps.simhashPairsOf(spark, dir, Some(DedupOps.LshBucketCap)).count(),
      "simhash marginal drifted from the capped band stream")
    // third marginal: the containment stream (whose prefix-filter
    // losslessness claim is exercised here on the corpusNear corpus, not
    // q146's excerpt fixture) must agree with the standalone detector
    assert(marginal(_._3) ==
      DedupOps.containmentVerifiedOf(
        DedupOps.shingles(DedupOps.corpusNear(spark, dir)),
        prefixFilter = true).count(),
      "containment marginal drifted from the standalone blocked stream")
    // the corpusNear plants (doc minus its first word) are near-identical,
    // so the all-three cell must dominate every disagreement cell
    val allThree = cells.getOrElse((true, true, true), 0L)
    assert(allThree > 0 && cells.forall { case (k, n) =>
      k == ((true, true, true)) || n <= allThree },
      s"agreement cell not dominant: $cells")
  }

  test("q207 vocab migration: planted drift is the exact OOV set; fallback never undercounts") {
    val rows = TextOps.vocabMigration(spark, dir).collect()
    assert(rows.nonEmpty)
    var oov = 0L
    rows.foreach { r =>
      val (n, ta, tb) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ta >= n && tb >= n, "every word is at least one token")
      assert(math.abs(r.getDouble(5) - ta.toDouble / n) < 1e-6)
      assert(math.abs(r.getDouble(7) - (tb - ta).toDouble / ta) < 1e-6)
      oov += r.getLong(4)
    }
    // exactly one planted drift token per odd document, unseen by the
    // even-trained vocabulary
    val nOdd = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 2 === 1).count()
    assert(oov == nOdd, s"oov $oov, want one per odd doc ($nOdd)")
  }

  test("q209 quantile norm: per-language deciles are populated and balanced") {
    val rows = TextOps.quantileNorm(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val langTotals = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.map(_._3).sum == langTotals(lang),
        s"$lang decile counts don't cover the language")
      assert(rs.length >= 8, s"$lang has only ${rs.length} deciles")
      // uniform by construction: percent_rank spreads each language
      // evenly, modulo ties and the n/10 remainder
      val (mn, mx) = (rs.map(_._3).min, rs.map(_._3).max)
      assert(mx <= mn + math.max(3, mn), s"$lang decile skew: min $mn max $mx")
      // raw ranges are ordered: decile d's min never undercuts d-1's max
      val byD = rs.sortBy(_._2)
      byD.sliding(2).foreach {
        case Array(lo, hi) => assert(hi._4 >= lo._4 - 1e-9,
          s"$lang deciles out of order: $lo vs $hi")
        case _ =>
      }
    }
  }

  test("q210 gate ablation: cells reconcile against directly recomputed gate counts") {
    val rows = CurationOps.gateAblation(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.keySet == Set("classifier", "gopher", "quality", "stack"))
    val (nDocs, nToks) = (rows("stack")._1, rows("stack")._2)
    rows.values.foreach { v =>
      assert(v._1 == nDocs && v._2 == nToks)
      assert(v._5 <= v._3 && v._6 <= v._4, "unique kill exceeds solo kill")
    }
    // stack kill bounds: at least the biggest gate, at most the sum
    val gates = Seq("classifier", "gopher", "quality").map(rows)
    val stackKill = rows("stack")._3
    assert(stackKill >= gates.map(_._3).max && stackKill <= gates.map(_._3).sum)
    // independent recompute of one gate's solo kill from production exprs
    val failQuality = EtlOps.t(spark, dir, "documents")
      .filter(!(TextOps.qualityOf(col("text")) >= CurationOps.GateQualityMin))
      .count()
    assert(rows("quality")._3 == failQuality,
      s"quality solo kill ${rows("quality")._3} != direct $failQuality")
    // and the killed-by-all core is bounded by every gate's solo kill
    assert(gates.forall(_._3 >= rows("stack")._5))
  }

  test("q218 chain audit: clusters chain below tau; bands and ratios reconcile") {
    val rows = DedupOps.chainAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    var chainedTotal = 0L
    rows.foreach { case (band, nc, np, chained, mean, mn, frac) =>
      assert(band >= 2 && band <= 6)
      assert(np >= nc, "fewer rep-member pairs than clusters")
      assert(chained <= np)
      assert(mn >= 0.0 && mn <= mean + 1e-9 && mean <= 1.0)
      assert(math.abs(frac - chained.toDouble / np) < 1e-6)
      chainedTotal += chained
    }
    // the graded-variant corpus is chaining bait by construction: the
    // far variants join through the near ones — if nothing lands below
    // tau, the audit (or the clustering) is broken
    assert(chainedTotal > 0, "no chained members found")
    assert(rows.exists(_._6 < DedupOps.ChainTau),
      "min rep-similarity never drops below tau")
  }

  test("q220 reshard audit: ring beats mod, both fractions in their regimes") {
    val rows = ScaleOps.reshardAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(rows.keySet == Set("mod", "ring"))
    val (nm, movedM, fracM) = rows("mod")
    val (nr, movedR, fracR) = rows("ring")
    assert(nm == nr && nm == 500)
    assert(math.abs(fracM - movedM.toDouble / nm) < 1e-6)
    // mod resharding loses nearly all placement (survivors are the
    // ~1/lcm(16,20) residue class agreement); the ring moves roughly
    // the keyspace the 4 new shards claim
    assert(fracM > 0.7, s"mod moved only $fracM")
    assert(fracR < fracM, "consistent hashing failed to beat mod")
    assert(fracR > 0.05 && fracR < 0.5, s"ring fraction implausible: $fracR")
  }

  test("q222 vector gate: planted degenerates are counted exactly per label") {
    val rows = SimilarityOps.vectorGate(spark, dir).collect()
      .map(r => r.getAs[Number](0).longValue ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    assert(rows.nonEmpty)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val byLabel = base.groupBy(_._2)
    byLabel.foreach { case (label, vs) =>
      val (n, zero, low, dup, meanN, minN, maxN) = rows(label)
      val zeros = vs.count(_._1 % 50 == 0).toLong
      val lows = vs.count(_._1 % 50 == 1).toLong
      val dups = vs.count(_._1 % 50 == 2).toLong
      assert(n == vs.length + zeros + lows + dups, s"label $label n")
      assert(zero == zeros, s"label $label zeros: $zero vs $zeros")
      assert(low == lows, s"label $label low-norm: $low vs $lows")
      // an exact copy makes BOTH members of the pair duplicates — and
      // every planted ZERO vector is identical to every other zero
      // vector across labels, so zeros are duplicates too (10 globally
      // at this sf — a genuine all-zeros-collide signal, not a bug)
      assert(dup == 2 * dups + zeros,
        s"label $label dups: $dup vs ${2 * dups + zeros}")
      if (zeros > 0) assert(minN == 0.0)
      assert(maxN <= 1.001 && meanN <= maxN + 1e-9)
    }
  }

  test("q223 incremental postings: partial merge is byte-identical to the rebuild") {
    val rows = MlPrepOps.incrementalPostings(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.length >= 31, "vocabulary unexpectedly small")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach { case (term, df, tf, ok) =>
      assert(ok, s"$term: merged partials diverge from the full rebuild")
      assert(df >= 1 && df <= nDocs)
      assert(tf >= df, s"$term: tf below df")
    }
  }

  test("q211 distinctive terms: ranked, thresholded, and genuinely source-leaning") {
    val rows = TextOps.distinctiveTerms(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"$src ranks not contiguous")
      assert(sorted.length <= TextOps.DistinctiveTopK)
      // odds descend with rank; every kept term clears the support bar
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._6 >= b._6
        case _ => true
      }, s"$src odds not descending")
      assert(rs.forall(_._4 >= TextOps.DistinctiveMinCount))
      // the #1 term leans INTO its source (odds ratio > 1)
      assert(sorted.head._6 > 1000000L, s"$src top term not distinctive")
    }
  }

  test("q225 cross-modal audit: classes match a host-side brute force, plants separate cleanly") {
    val out = MultimodalOps.crossModalAudit(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // host-side rebuild of the corpus from its definition: doc ->
    // (image-source id, text); plants at %7 = 0/1/2
    val off = DedupOps.CopyOffset
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val corpus =
      docs.map { case (id, t, s) => (id, id, t, s) } ++
        docs.filter(_._1 % 7 == 0).map { case (id, t, s) =>
          (id + off, id, t + " [recaptioned]", s) } ++
        docs.filter(_._1 % 7 == 1).map { case (id, t, s) =>
          (id + 2 * off, id + MultimodalOps.ReimageShift, t, s) } ++
        docs.filter(_._1 % 7 == 2).map { case (id, t, s) =>
          (id + 3 * off, id, t, s) }
    val srcOf = corpus.map(c => c._1 -> c._4).toMap
    def classify(groups: Map[_, Array[(Long, Long, String, String)]],
        pred: Array[(Long, Long, String, String)] => Boolean) =
      groups.values.filter(g => g.length > 1 && pred(g))
        .map(g => (srcOf(g.map(_._1).min), g.length.toLong)).toSeq
    val expA = classify(corpus.groupBy(_._2),
      g => g.map(_._3).distinct.length > 1)
    val expB = classify(corpus.groupBy(_._3),
      g => g.map(_._2).distinct.length > 1)
    val expF = classify(corpus.groupBy(c => (c._2, c._3)), _ => true)
    def agg(cls: String, exp: Seq[(String, Long)]) =
      exp.groupBy(_._1).foreach { case (src, gs) =>
        val want = (gs.length.toLong, gs.map(_._2).sum,
          gs.map(_._2).sum - gs.length)
        assert(out.get((cls, src)).contains(want),
          s"($cls,$src): got ${out.get((cls, src))}, want $want")
      }
    agg("same_image_diff_text", expA)
    agg("same_text_diff_image", expB)
    agg("full_dup", expF)
    val expTotal = Seq(expA, expB, expF).map(e =>
      e.groupBy(_._1).size).sum
    assert(out.size == expTotal, "extra (class, source) rows emitted")
    // every class is actually exercised by the plants
    Seq("same_image_diff_text", "same_text_diff_image", "full_dup")
      .foreach(c => assert(out.keys.exists(_._1 == c), s"$c unpopulated"))
    // semantic separation: a planted full dup never leaks into the
    // conflict classes (its image group has one text, and vice versa)
    assert(expF.nonEmpty)
  }

  test("q226 join-card audit: exact on clean FK edges, HH plant found, assumptions priced") {
    val rows = ProfileOps.joinCardAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(7),
        r.getDouble(8), r.getDouble(9))).toMap
    assert(rows.size == 5)
    rows.values.foreach { case (_, actual, pred, qe) =>
      assert(actual > 0 && pred > 0 && qe >= 1.0)
    }
    // clean FK edges: containment + key-unique parent => provably exact
    assert(rows("lineitem_part")._4 == 1.0)
    assert(rows("orders_customer")._4 == 1.0)
    // the planted hot key is picked up as a heavy hitter
    assert(rows("lineitem_orders_hotkey")._1 == 1L,
      "planted hot key missed by the HH extractor")
    // violated containment shows as estimator error
    assert(rows("orders_customer_filtered")._4 > 1.0)
    // many-many tail: Cauchy-Schwarz makes the uniform model a lower
    // bound, so actual >= predicted (when no HH is extracted)
    val self = rows("events_self_user")
    assert(self._2 >= math.floor(self._3).toLong,
      s"self-join actual ${self._2} below uniform-model ${self._3}")
    // audit's exact side equals a genuine row-level join
    val li = EtlOps.t(spark, dir, "lineitem")
    val ord = EtlOps.t(spark, dir, "orders")
    val rowJoin = li.select(col("l_orderkey").as("k"))
      .unionAll(li.filter(col("l_orderkey") % 61 === 0)
        .select(lit(1L).as("k")))
      .unionAll(li.filter(col("l_orderkey") % 61 === 0)
        .select(lit(1L).as("k")))
      .join(ord.select(col("o_orderkey").as("k")), "k").count()
    assert(rows("lineitem_orders_hotkey")._2 == rowJoin,
      "freq-frame actual diverges from the row-level join")
  }

  test("q227 benford: plant conforms, degenerate column fails, grid is dense and mass-conserving") {
    val rows = ProfileOps.benfordAudit(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(6),
          r.getBoolean(7))))
    assert(rows.length == 45, "dense 5x9 grid expected")
    val byScope = rows.groupBy(_._1._1)
    // digit mass conservation: per scope, sum(obs) == n and the
    // expected counts integrate to n (within fixed-point floor slack)
    byScope.foreach { case (sc, cells) =>
      val n = cells.head._2._1
      assert(cells.map(_._2._2).sum == n, s"$sc obs mass != n")
      val expSum = cells.map(_._2._3).sum
      assert(math.abs(expSum - n) < 0.01, s"$sc exp mass $expSum != $n")
      // chi2 is identical on every row of the scope
      assert(cells.map(_._2._4).distinct.length == 1)
    }
    // the inverse-CDF plant is Benford-distributed => conforms
    assert(byScope("benford_plant").head._2._5,
      "planted Benford sample failed the test it defines")
    // the [900, 1000) price column is all digit 9 — maximal failure
    val retail = byScope("part_retailprice")
      .map(c => c._1._2 -> c._2._2).toMap
    assert((1L to 8L).forall(d => retail(d) == 0L))
    assert(retail(9L) == byScope("part_retailprice").head._2._1)
    assert(!byScope("part_retailprice").head._2._5)
    // dominance, not sharp small-n verdicts (sf0.001 has ~1e3 events —
    // the sharp per-column failures are pinned by the sf0.01 oracle
    // row): the degenerate column's chi2 towers over the plant's
    assert(byScope("part_retailprice").head._2._4 >
      10 * byScope("benford_plant").head._2._4)
    assert(!byScope("lineitem_extprice").head._2._5)
  }

  test("q228 cdc_bounds native expr == HOF reference; rolling == direct window sum") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(50)
    val got = docs.selectExpr("doc_id",
      s"cdc_bounds(text, ${DedupOps.CdcW}, ${DedupOps.CdcA}, " +
        s"${DedupOps.CdcD}) AS b").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // HOF reference: per-position direct window sum over the same
    // literal power table (what the DuckDB oracle evaluates)
    val pows = graft.functions.CdcBounds
      .powers(DedupOps.CdcA, DedupOps.CdcW)
    val hSql = pows.zipWithIndex.map { case (p, k) =>
      s"${p}L * ascii(substr(text, i - $k, 1))" }.mkString(" + ")
    val ref = docs.selectExpr("doc_id",
      s"filter(sequence(${DedupOps.CdcW}, length(text)), " +
        s"i -> ($hSql) % ${DedupOps.CdcD} = 0) AS b").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).map(_.toInt)).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, b) =>
      assert(b == ref(id), s"doc $id: native $b != reference ${ref(id)}")
    }
    // degenerate inputs: shorter than the window => no boundaries
    val edge = spark.sql(
      s"SELECT cdc_bounds('abc', ${DedupOps.CdcW}, ${DedupOps.CdcA}, " +
        s"${DedupOps.CdcD}) AS b").collect()
    assert(edge.head.getSeq[Int](0).isEmpty)
  }

  test("q228 cdc dedup: chunks conserve chars, cdc survives the prefix shift, fixed does not") {
    val rows = DedupOps.cdcChunkDedup(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    val methods = rows.keys.map(_._1).toSet
    assert(methods == Set("cdc", "fixed"))
    // char conservation: both methods chunk the SAME corpus, so
    // per-source total_chars agree across methods
    rows.keys.filter(_._1 == "cdc").foreach { case (_, src) =>
      assert(rows(("cdc", src))._4 == rows(("fixed", src))._4,
        s"$src: methods chunked different corpora")
      // unique mass never exceeds total; chunk counts are sane
      val (nc, nu, uc, tc, ratio, _) = rows(("cdc", src))
      assert(nu <= nc && uc <= tc && ratio <= 1.0)
    }
    // THE point: after the copies' first-word deletion, CDC re-aligns
    // (most copy chunk instances already exist) while same-budget
    // fixed-size chunking shifts every boundary
    val cdcShare = rows.collect { case ((m, _), v) if m == "cdc" => v._6 }
    val fixShare = rows.collect { case ((m, _), v) if m == "fixed" => v._6 }
    assert(cdcShare.min > 0.5,
      s"cdc lost shift resistance: min copy_share ${cdcShare.min}")
    assert(fixShare.max < 0.2,
      s"fixed-size chunking should not survive the shift: ${fixShare.max}")
    // and the chunk store actually dedups under CDC
    val cdcRatio = rows.collect { case ((m, _), v) if m == "cdc" => v._5 }
    val fixRatio = rows.collect { case ((m, _), v) if m == "fixed" => v._5 }
    assert(cdcRatio.max < 0.9 && fixRatio.min > 0.9)
  }

  test("q229 incremental cc: composition == full rebuild, outcome classes consistent") {
    val rows = GraphOps.incrementalCc(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // THE audit: the condensation-composed labels equal the full
    // rebuild on every node
    assert(rows.values.forall(_._5), "incremental CC diverged from full rebuild")
    // node mass conservation across outcome classes
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.values.map(_._2).sum == nDocs)
    // class invariants: merged fuses >= 2 standing clusters each;
    // grown/unchanged map 1:1 onto base clusters; unchanged has no
    // arrivals; every class that exists is self-consistent
    rows.get("merged").foreach { case (nc, _, nw, parts, _) =>
      assert(parts >= 2 * nc && nw > 0) }
    rows.get("grown").foreach { case (nc, _, nw, parts, _) =>
      assert(parts == nc && nw > 0) }
    rows.get("unchanged").foreach { case (nc, _, nw, parts, _) =>
      assert(parts == nc && nw == 0) }
    rows.get("new_cluster").foreach { case (_, nn, nw, parts, _) =>
      assert(parts == 0 && nw == nn) }
    // the interesting classes are genuinely exercised by the fixture
    assert(rows.contains("merged") && rows.contains("unchanged"))
  }

  test("q230 url canonicalization: variant classes collapse exactly as the normalizer promises") {
    val rows = CurationOps.urlCanonDedup(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    // every single-URL class plants one URL per doc; reorder plants two
    assert(rows("reorder")._1 == 2 * nDocs)
    rows.filterKeys(_ != "reorder").values
      .foreach { case (n, _, _, _) => assert(n == nDocs) }
    // normalizable variants collapse 100% onto the clean canonical
    Seq("clean", "case_port", "tracking", "fragment", "slash")
      .foreach { c => assert(rows(c)._4 == 1.0, s"$c did not collapse") }
    // param reordering collapses onto ITSELF (2 raw -> 1 canonical per
    // doc) but not onto the query-less clean form
    assert(rows("reorder")._2 == nDocs && rows("reorder")._3 == 0L)
    // negative control: distinct URLs stay distinct
    assert(rows("distinct")._2 == nDocs && rows("distinct")._4 == 0.0)
    // canonicalization is idempotent: the clean class maps 1:1
    assert(rows("clean")._2 == nDocs)
  }

  test("q231 join-order costing: selective-first wins, model picks it, acts match row joins") {
    val rows = ProfileOps.joinOrderAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(4), r.getLong(5),
        r.getLong(6), r.getDouble(7), r.getLong(8), r.getDouble(9),
        r.getBoolean(10), r.getBoolean(11), r.getBoolean(12))).toMap
    assert(rows.size == 4)
    // the final join size is order-invariant
    assert(rows.values.map(_._3).toSet.size == 1,
      "orders disagree on the final join size")
    // decision quality: the model's argmin is the true argmin, and it
    // is the selective-first order
    assert(rows.values.forall(_._9), "model_agrees must hold")
    assert(rows("4_oc_l_p")._7 && rows("4_oc_l_p")._8,
      "selective-first order not chosen/best")
    assert(rows.count(_._2._7) == 1 && rows.count(_._2._8) == 1)
    // true C_out separation: selective-first strictly cheapest
    val best = rows("4_oc_l_p")._5
    rows.filterKeys(_ != "4_oc_l_p").values
      .foreach { v => assert(v._5 > best) }
    // audit honesty: the freq-algebra actuals equal genuine row joins
    val li = EtlOps.t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val ordc = EtlOps.t(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
      .join(EtlOps.t(spark, dir, "customer")
        .filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("ck")), "ck")
    val actLoc = li.join(ordc.select("ok"), "ok").count()
    assert(rows("1_lo_c_p")._2 == actLoc,
      "freq-algebra intermediate diverges from the row-level join")
    // q-errors stay near 1 on this clean-FK star (uniform model holds)
    assert(rows.values.forall(_._6 < 1.1))
  }

  test("q232 krippendorff: alpha matches a from-definition recompute; LOO deltas track rater noise") {
    val rows = CurationOps.krippendorffAlpha(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(rows.size == 8)
    assert(rows("all")._4 == 0.0 && !rows("all")._5)
    // independent from-definition recompute (pairwise coincidences in
    // plain doubles) of the full-pool alpha — validates the lcm-60
    // integer algebra end to end
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val langIdx = docs.map(_._2).distinct.sorted.zipWithIndex.toMap
    val l = langIdx.size
    val matrix = for {
      (id, lang) <- docs
      a <- 0 until CurationOps.AnnotatorCount
      if (id * 13 + a * 17) % 5 != 0
    } yield {
      val t = langIdx(lang).toLong
      val lab = if ((id * 31 + a * 7) % 10 < a)
        (t + 1 + (id + a) % (l - 1)) % l else t
      (id, lab)
    }
    val byUnit = matrix.groupBy(_._1).values.map(_.map(_._2))
      .filter(_.size >= 2).toSeq
    val n = byUnit.map(_.size).sum.toDouble
    val doSum = byUnit.map { labs =>
      val m = labs.size.toDouble
      val ssq = labs.groupBy(identity).values
        .map(g => g.size.toDouble * g.size).sum
      (m * m - ssq) / (m - 1)
    }.sum
    val ncs = byUnit.flatten.groupBy(identity).values
      .map(g => g.size.toDouble).toSeq
    val de = (n * n - ncs.map(c => c * c).sum) / (n * (n - 1))
    val alphaRef = 1.0 - (doSum / n) / de
    assert(math.abs(rows("all")._3 - alphaRef) < 1e-6,
      s"alpha ${rows("all")._3} != definition $alphaRef")
    // leave-one-out verdicts track the planted noise rates a/10:
    // dropping a noisier rater helps more, strictly monotone
    val deltas = (0 until CurationOps.AnnotatorCount)
      .map(a => rows(s"excl_$a")._4)
    assert(deltas.sliding(2).forall(p => p(0) < p(1)),
      s"LOO deltas not monotone in noise: $deltas")
    // dropping the perfect rater hurts; dropping the worst helps
    assert(!rows("excl_0")._5 && rows("excl_6")._5)
  }

  test("q233 lsh s-curve: analytic curve monotone in both axes, empirical tracks it") {
    val rows = DedupOps.lshSCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getDouble(2), r.getLong(4), r.getDouble(6),
          r.getDouble(7))).toMap
    val rs = rows.keys.map(_._1).toSet
    assert(rs == Set(1L, 2L, 4L, 8L))
    // the decile partition of the planted pairs is config-independent
    val parts = rs.toSeq.map(r => rows.filterKeys(_._1 == r)
      .map { case ((_, d), v) => d -> v._3 }.toMap)
    assert(parts.forall(_ == parts.head), "configs saw different pairs")
    // tau* strictly increases with r (stricter geometry)
    val taus = Seq(1L, 2L, 4L, 8L).map(r =>
      rows.filterKeys(_._1 == r).values.head._2)
    assert(taus.sliding(2).forall(p => p(0) < p(1)))
    // per config, analytic capture is monotone nondecreasing in decile
    rs.foreach { r =>
      val byDec = rows.filterKeys(_._1 == r).toSeq
        .sortBy(_._1._2).map(_._2._5)
      assert(byDec.sliding(2).forall(p => p(0) <= p(1) + 1e-9),
        s"r=$r analytic curve not monotone")
    }
    // per decile, analytic capture is nonincreasing in r
    rows.keys.map(_._2).toSet.foreach { d: Long =>
      val byR = Seq(1L, 2L, 4L, 8L).map(r => rows((r, d))._5)
      assert(byR.sliding(2).forall(p => p(0) >= p(1) - 1e-9),
        s"decile $d not monotone in r")
    }
    // the formula predicts reality: on well-populated deciles the
    // empirical capture sits close to the analytic mean
    rows.filter(_._2._3 >= 100).foreach { case ((r, d), v) =>
      assert(math.abs(v._4 - v._5) < 0.15,
        s"r=$r decile $d: empirical ${v._4} far from analytic ${v._5}")
    }
    // the permissive end captures (almost) everything at the top
    assert(rows((1L, 9L))._4 > 0.99)
  }

  test("q234 iw eval: reweighting recovers the corpus truth the biased split loses") {
    val rows = TrainPrepOps.iwEval(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8), r.getDouble(9),
        r.getBoolean(10))).toMap
    assert(rows.size == 2)
    // the planted short-doc over-sampling biases the raw token mean
    // far below truth; post-stratification recovers it
    val t = rows("ws_tokens")
    assert(t._4 < t._3, "raw val mean should under-shoot (short bias)")
    // >10x at sf0.01 (the oracle row); the sf0.001 corpus has a milder
    // length spread, so the spec pins 3x dominance
    assert(t._6 > 3 * t._7,
      s"correction too weak: raw gap ${t._6} vs weighted ${t._7}")
    assert(rows.values.forall(_._10), "correction_wins must hold")
    // corpus truth matches an independent direct recompute
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(TextOps.wsTokenCount(col("text")).cast("long").as("t"))
      .agg(avg("t")).head.getDouble(0)
    assert(math.abs(t._3 - toks) < 1e-4)
    // ESS prices the weights: positive, below the val count
    rows.values.foreach { v =>
      assert(v._9 > 0 && v._9 < v._2, s"ESS ${v._9} out of range") }
    // covered corpus mass is (nearly) complete on this fixture
    assert(rows.values.forall(_._8 > 0.8))
  }

  test("q235 event paths: planted funnel + rotations flagged, window mass conserved") {
    val rows = AnalyticsOps.eventPaths(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    // the planted funnel and its two rotations (what repetition looks
    // like) are flagged; the funnel itself carries the max lift
    val planted = Seq("signup>click>purchase", "purchase>signup>click",
      "click>purchase>signup")
    planted.foreach(p => assert(rows(p)._5, s"$p not flagged"))
    val maxLift = rows.values.map(_._4).max
    assert(rows("signup>click>purchase")._4 == maxLift)
    // the independence noise floor stays well below the plant: at
    // least 90% of paths are unflagged
    assert(rows.count(!_._2._5) >= (rows.size * 9) / 10)
    // window mass conservation: sum of path occurrences equals the
    // stream-derived window count (events per user minus 2)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val nEv = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    val nPlanted = ev.filter(col("user_id") % AnalyticsOps.PathPlantMod
      === 0).select("user_id").distinct().count()
    val expWindows = nEv + 9 * nPlanted - 2 * nUsers
    assert(rows.values.map(_._1).sum == expWindows,
      s"windows ${rows.values.map(_._1).sum} != expected $expWindows")
    // support sums to 1 over the path space
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-3)
  }

  test("q236 runtime filter: optimization changes the plan, never the answer") {
    val opt = ScaleOps.runtimeFilterJoin(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // reference: the same query planned plainly on the shared session
    // (broadcast join, no runtime filter — asserted in PlanPropsSpec)
    val ref = EtlOps.t(spark, dir, "lineitem")
      .join(EtlOps.t(spark, dir, "orders")
        .filter(col("o_custkey") % ScaleOps.RfCustMod === 0)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), countDistinct("l_orderkey").as("o"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(opt == ref, "runtime-filtered plan changed the result")
    // the filter is genuinely selective: the join keeps only a small
    // fraction of lineitem
    val total = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(opt.values.map(_._1).sum < total / 10)
  }

  test("q237 encoding advisor: run counts and cost model are internally consistent") {
    val rows = ScaleOps.encodingAdvisor(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getString(8), r.getLong(9), r.getBoolean(10)))
      .toMap
    assert(rows.size == ScaleOps.EncSortKeys.size *
      ScaleOps.EncColumns.size)
    // the sample is sort-key independent
    assert(rows.values.map(_._1).toSet.size == 1)
    // cost model honesty: recompute rle/dict from (n, d, runs, plain)
    rows.foreach { case ((sk, c), (n, d, runs, plain, rle, dict,
        enc, _, _)) =>
      assert(rle == runs * (plain + 4 * n) / n, s"$sk/$c rle model")
      val codeB = if (d <= 256) 1L else if (d <= 65536) 2L else 4L
      assert(dict == d * plain / n + n * codeB, s"$sk/$c dict model")
      val best = Seq(plain, rle, dict).min
      val expEnc = if (best == rle) "rle"
        else if (best == dict) "dict" else "plain"
      assert(enc == expEnc, s"$sk/$c encoding pick")
      // runs bounded by both extremes
      assert(runs >= d.min(n) / n.max(1) && runs <= n && runs >= 1)
    }
    // sorting BY a column collapses its runs to its distinct count —
    // and no other layout does better on that column
    val flagRuns = rows(("by_flag_status", "l_returnflag"))
    assert(flagRuns._3 == flagRuns._2,
      "leading sort column must have runs == distincts")
    ScaleOps.EncSortKeys.map(_._1).foreach { sk =>
      assert(rows((sk, "l_returnflag"))._3 >= flagRuns._3)
    }
    // with ~3 runs the flag column is RLE under its own sort
    assert(flagRuns._7 == "rle")
    // exactly the min-total layout(s) carry the best flag
    val totals = rows.toSeq.groupBy(_._1._1)
      .map { case (sk, g) => sk -> g.head._2._8 }
    val minT = totals.values.min
    rows.foreach { case ((sk, _), v) =>
      assert(v._9 == (totals(sk) == minT)) }
  }

  test("q238 hll set algebra: register-max merge == union rebuild; disjoint intersection is noise") {
    val rows = ProfileOps.hllSetAlgebra(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(7), r.getDouble(8),
        r.getBoolean(10), r.getBoolean(11))).toMap
    assert(rows.size == 3)
    // union estimates inside the 3-sigma bound on every pair
    assert(rows.values.forall(_._7))
    // sanity: exact set algebra holds (|A|+|B| = |A∪B|+|A∩B|)
    rows.values.foreach { v =>
      assert(v._1 + v._2 == v._3 + v._4) }
    // THE caveat: the disjoint pair's exact intersection is zero but
    // inclusion-exclusion reports nonzero noise — and the reliability
    // gate catches exactly that pair
    val dj = rows("clicks_views")
    assert(dj._4 == 0L && dj._6 != 0.0 && !dj._8)
    assert(rows("lo_hi")._8 && rows("lo_clicks")._8)
    // merge-property honesty: the zip_with register merge equals a
    // sketch REBUILT from the unioned key stream (max-of-max == max
    // over union), register by register
    val ev = spark.read.parquet(s"$dir/events.parquet")
    def regsOf(pred: String): Array[Long] = {
      val r = ev.filter(expr(pred))
        .select(col("event_id").cast("string").as("k"))
        .withColumn("h", call_function("md5_fp60", col("k")))
        .selectExpr(s"h % ${ProfileOps.HllM} AS bkt",
          "least(bit_count((((h >> 8) & -(h >> 8)) - 1)) + 1, 53) " +
            "AS rnk")
        .groupBy("bkt").agg(max("rnk").as("r")).collect()
        .map(x => x.getLong(0).toInt -> x.getInt(1).toLong).toMap
      (0 until ProfileOps.HllM).map(b => r.getOrElse(b, 0L)).toArray
    }
    val a = regsOf("value < 100")
    val b = regsOf("value >= 50")
    val u = regsOf("(value < 100) OR (value >= 50)")
    assert(a.zip(b).map(p => p._1 max p._2).sameElements(u),
      "register-max merge diverged from the union rebuild")
  }

  test("q239 retraction aggs: maintained state == recompute through deletes, inserts, updates") {
    val rows = AnalyticsOps.retractionAggs(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(9), r.getBoolean(10))).toMap
    // THE contract: every group's maintained (n, sum, ssq) equals the
    // full recompute — through the emptied and the born groups too
    assert(rows.values.forall(_._8), "maintained state diverged")
    // the fixture really exercises group birth and death
    assert(rows.values.exists(v => v._1 > 0 && v._3 == 0),
      "no group emptied by retraction")
    assert(rows.values.exists(v => v._1 == 0 && v._3 > 0),
      "no group born from the batch")
    // retraction mass: net delta = inserts - deletes (updates net 0)
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val nIns = d.filter(col("doc_id") % 10 === 9).count()
    val nDel = d.filter(col("doc_id") % 10 === 3).count()
    assert(rows.values.map(_._2).sum == nIns - nDel)
    // final corpus row mass matches the maintained totals
    assert(rows.values.map(_._3).sum == d.count() - nDel)
    // variance nonnegative wherever defined
    assert(rows.values.forall(_._7 >= 0))
  }

  test("q240 blocking audit: key choice ranked as the literature predicts, metrics honest") {
    val rows = DedupOps.blockingAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8))).toMap
    assert(rows.size == 4)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    // one planted truth pair per document, every scheme sees them all
    assert(rows.values.forall(_._4 == nDocs))
    // prefix blocking dies on the prefix edit; suffix survives it
    assert(rows("prefix4")._6 < 0.1, "prefix4 should miss the copies")
    assert(rows("suffix4")._6 == 1.0)
    // LSH is the production answer: near-complete AND near-total
    // reduction, top F-measure
    assert(rows("minhash_band")._6 > 0.95 &&
      rows("minhash_band")._7 > 0.99)
    assert(rows("minhash_band")._8 == rows.values.map(_._8).max)
    // comparison-count honesty on a single-key scheme: recompute
    // sum nb*(nb-1)/2 from raw block sizes
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val full = corpus.unionAll(corpus.select(
      (col("doc_id") + DedupOps.CopyOffset).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val blocks = full.selectExpr("substr(text, 1, 4) AS k")
      .groupBy("k").count().collect().map(_.getLong(1))
    assert(rows("prefix4")._3 == blocks.map(b => b * (b - 1) / 2).sum)
    // rr consistent with the candidate count
    val n = 2 * nDocs
    val total = n * (n - 1) / 2
    rows.values.foreach { v =>
      assert(math.abs(v._7 - (1.0 - v._3.toDouble / total)) < 1e-5) }
  }

  test("q241 fd discovery: keys hold, the broken line-number key is caught, rates honest") {
    val rows = ProfileOps.fdDiscovery(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getDouble(7), r.getBoolean(8),
        r.getBoolean(9))).toMap
    assert(rows.size == ProfileOps.FdCandidates.size)
    // genuine keys and FK-side dependencies hold
    Seq("ord_key", "ord_key_cust", "cust_key_nation",
      "nation_key_region").foreach { f =>
      assert(rows(f)._6, s"$f should hold") }
    // the q237 discovery as a first-class result: (orderkey,
    // linenumber) is NOT a key of the synthetic lineitem, and the dup
    // lines genuinely disagree on suppkey
    assert(!rows("li_line_key")._6 && !rows("li_line_suppkey")._6)
    // basic sanity on every row
    rows.values.foreach { v =>
      assert(v._2 <= v._1 && v._3 <= v._2 && v._4 >= 1)
      assert(v._5 >= 0.0 && v._5 <= 1.0)
      assert(v._6 == (v._3 == 0L))
    }
    // independent recompute of one violated FD
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val viol = li.groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("d"))
      .filter(col("d") > 1).count()
    assert(rows("li_part_supp")._3 == viol)
  }

  test("q242 hist selectivity: equi-depth histogram beats the uniform model on skewed data") {
    val rows = ProfileOps.histSelectivity(spark, dir).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getBoolean(6))).toMap
    assert(rows.size == ProfileOps.HistProbes.size)
    // the histogram wins at EVERY probe on the skewed column
    assert(rows.values.forall(_._6), "uniform model beat the histogram")
    rows.values.foreach { v => assert(v._4 <= v._5 + 1e-9) }
    // the headline gap at the 10%-quantile probe: the uniform model is
    // off ~10x, the histogram is tight (the MIN probe sits below the
    // small sample's reach at sf0.001 — both models degenerate there,
    // which is why it is not the gap witness)
    val mid = rows(ProfileOps.HistProbes.sorted.apply(1))
    assert(mid._5 > 3 * mid._4,
      s"no skew gap: hist ${mid._4} vs naive ${mid._5}")
    assert(mid._4 < 1.2)
    // away from the sparse tail the histogram estimate stays tight
    rows.filterKeys(_ > ProfileOps.HistProbes.min).values
      .foreach(v => assert(v._4 < 1.2, s"loose hist q-error ${v._4}"))
    // actual counts are honest and monotone in the probe
    val act = ProfileOps.HistProbes.sorted.map(c => rows(c)._1)
    assert(act.sliding(2).forall(p => p(0) <= p(1)))
    val c0 = ProfileOps.HistProbes.head
    val direct = spark.read.parquet(s"$dir/orders.parquet")
      .filter(expr(s"o_totalprice * o_totalprice <= $c0")).count()
    assert(rows(c0)._1 == direct)
  }

  test("q243 sorted neighborhood: every planted suffix-variant pair is window-adjacent and verified") {
    val out = DedupOps.sortedNeighborhood(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 40 == 0)
      .map(id => (id, id + DedupOps.SnmIdOffset)).toSet
    // SNM discovers clusters as window-adjacent CHAINS (equal-key runs
    // longer than the window connect transitively — the corpus has
    // natural suffix-perturbed near-dups sharing a planted base's
    // prefix), so assert union-find connectivity, not direct pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    out.foreach(p => parent(find(p._1)) = find(p._2))
    planted.foreach { case (a, b) =>
      assert(find(a) == find(b), s"planted pair ($a,$b) not connected") }
    // verification is a real Jaccard: inter ≤ union, τ respected, and
    // the reported jacc matches the integer sizes
    out.foreach { p =>
      assert(p._3 <= p._4 && p._3 * DedupOps.SnmTauDen >=
        p._4 * DedupOps.SnmTauNum)
      assert(math.abs(p._5 - p._3.toDouble / p._4) < 1e-4)
    }
    // directly window-adjacent planted pairs score suffix-perturbation-
    // shaped high similarity
    out.filter(p => planted((p._1, p._2)))
      .foreach(p => assert(p._5 >= 0.9, s"planted pair scored ${p._5}"))
  }

  test("q244 interval overlap: the linear sweep equals the brute-force inequality join") {
    val rows = JoinOps.intervalOverlap(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(rows.size == 5 && rows.values.forall(v => v._1 > 0))
    // brute-force inequality join (spec-only; the operator under test
    // must produce identical numbers through the sweep decomposition)
    val iv = spark.read.parquet(s"$dir/orders.parquet").selectExpr(
      "o_orderkey AS k", "o_orderpriority AS prio",
      "CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT) AS sd",
      "CAST(datediff(o_orderdate, DATE '1995-01-01') " +
        "+ o_orderkey % 28 + 1 AS BIGINT) AS ed")
    val a = iv.selectExpr("prio", "k AS ak", "sd AS asd", "ed AS aed")
    val b = iv.selectExpr("prio AS bprio", "k AS bk", "sd AS bsd",
      "ed AS bed")
    val direct = a.join(b, expr("prio = bprio AND ak < bk AND " +
        "asd < bed AND bsd < aed"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n"),
        sum(expr("least(aed, bed) - greatest(asd, bsd)")).as("od"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { case (prio, v) =>
      assert((v._1, v._2) == direct(prio),
        s"sweep diverged on $prio: $v vs ${direct(prio)}") }
    // every overlap contributes ≥1 day; concurrency bounds pairs
    rows.values.foreach { v =>
      assert(v._2 >= v._1)
      assert(v._3 >= 1 && v._1 <= v._3 * spark.read
        .parquet(s"$dir/orders.parquet").count()) }
  }

  test("q245 mann-whitney: planted location shift dominates; stationary streams stay small") {
    val rows = ProfileOps.mwDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(rows.contains("click_drift") && rows.size == 6)
    // U bounds: 0 ≤ U1 ≤ n1·n2 (we carry 2U1)
    rows.values.foreach { v =>
      assert(v._3 >= 0 && v._3 <= 2 * v._1 * v._2)
      assert(v._4 >= 0)
      assert(v._6 == (math.abs(v._5) > 2.576))
    }
    // the planted shift ADDS to the second half → half-1 ranks sink →
    // z strictly negative and strictly the largest magnitude
    val zd = rows("click_drift")._5
    assert(zd < 0, s"planted drift sign wrong: $zd")
    rows.filterKeys(_ != "click_drift").values.foreach(v =>
      assert(math.abs(v._5) < math.abs(zd),
        s"stationary stream out-drifted the plant: ${v._5} vs $zd"))
    // plant halves share the base stream's split sizes
    assert(rows("click_drift")._1 == rows("click")._1 &&
      rows("click_drift")._2 == rows("click")._2)
  }

  test("q246 theil-sen: median slope shrugs off the planted spikes that drag OLS") {
    val rows = TimeSeriesOps.theilSen(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val ramp = rows("planted_ramp")
    // the ramp's true slope is exactly TsPlantSlope; two 200-high spike
    // days pull OLS off it but leave the pairwise median untouched
    assert(ramp._3 == TimeSeriesOps.TsPlantSlope.toDouble,
      s"TS slope not robust: ${ramp._3}")
    assert(math.abs(ramp._4 - TimeSeriesOps.TsPlantSlope) > 0.05,
      s"OLS unexpectedly robust: ${ramp._4}")
    assert(ramp._1 == 30 && ramp._2 == 30L * 29 / 2)
    // every group: n_pairs is exactly n_days choose 2, gap consistent
    rows.values.foreach { v =>
      assert(v._2 == v._1 * (v._1 - 1) / 2)
      assert(math.abs(v._5 - math.abs(v._3 - v._4)) < 2e-6)
    }
  }

  test("q247 shapley: efficiency axiom holds and the monotone game yields nonnegative values") {
    val rows = AnalyticsOps.shapleyAttribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // independent reconstruction of the game's boundary values
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("pts"))
    val touched = ev.join(fp, "user_id")
      .filter(col("event_type") =!= "purchase" && col("ts") < col("pts"))
    val nChannels = touched.select("event_type").distinct().count().toInt
    assert(rows.length == nChannels)
    val vFull = fp.count() // every converted user's mask ⊆ full set
    val vEmpty = fp.count() -
      touched.select("user_id").distinct().count() // organic conversions
    val factN = (1 to nChannels).product
    // efficiency: Σφ = v(N) − v(∅), exactly, in the ×n! integers
    assert(rows.map(_._3).sum == factN * (vFull - vEmpty),
      s"efficiency violated: ${rows.map(_._3).sum}")
    // monotone game ⇒ every Shapley value nonnegative
    rows.foreach(r => assert(r._3 >= 0 && r._4 >= 0))
    // scaled/double consistency
    rows.foreach(r =>
      assert(math.abs(r._4 - r._3.toDouble / factN) < 1e-3))
  }

  test("q248 fellegi-sunter: planted matches spread over patterns; odds order the match zone") {
    val rows = DedupOps.fsLinkage(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    // all matches are planted pairs: total n_match = planted count
    val nPlanted = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 20 === 0).count()
    assert(rows.values.map(_._1).sum == nPlanted)
    // candidate total = sum over nation blocks of nb·(nb−1)/2
    val blocks = spark.read.parquet(s"$dir/customer.parquet")
      .groupBy("c_nationkey").count().collect().map(_.getLong(1))
      .map(nb => { val m = nb + (nb + 19) / 20; m * (m - 1) / 2 })
    // (each block gains its planted copies: ceil(nb/20) via ids 0,20,…)
    assert(rows.values.map(v => v._1 + v._2).sum <= blocks.sum)
    // full agreement sits deep in the match zone; full disagreement
    // deep in the non-match zone
    assert(rows((1, 1, 1))._4 && rows((1, 1, 1))._3 > 100.0)
    // hierarchical blocking makes same-block names near-agree, so the
    // all-disagree pattern may not occur at all; the worst OBSERVED
    // pattern must still sit in the non-match zone
    val worst = rows.values.map(_._3).min
    assert(worst < 0.5 && rows.values.exists(v => !v._4),
      s"no non-match zone observed: $rows")
    // the plant's noise makes the m-model non-degenerate: matches in
    // more than one pattern
    assert(rows.values.count(_._1 > 0) >= 3)
    // match_zone ⇔ odds > 1 (flag computed from the same expression)
    rows.values.foreach(v => assert(v._4 == (v._3 > 1.0) ||
      math.abs(v._3 - 1.0) < 1e-9))
  }

  test("q249 conformal gate: degraded source falls out of coverage; base sources hold the guarantee") {
    val rows = CurationOps.conformalGate(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    val deg = rows("src_degraded")
    val nPlant = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % CurationOps.ConfPlantMod === 0).count()
    assert(deg._1 == nPlant)
    assert(deg._5 && deg._4 < 0.5,
      s"degraded source still covered: ${deg._4}")
    // pooled base coverage near the 1−α guarantee
    val base = rows.filterKeys(_ != "src_degraded").values
    val pooled = base.map(_._2).sum.toDouble / base.map(_._1).sum
    assert(pooled >= 0.7 && pooled <= 1.0, s"pooled base coverage $pooled")
    assert(pooled > deg._4)
    // per-row consistency
    rows.values.foreach { v =>
      assert(v._2 <= v._1)
      assert(math.abs(v._4 - v._2.toDouble / v._1) < 1e-4)
      assert(v._5 == (v._2.toDouble / v._1 < 0.8))
    }
  }

  test("q250 randomized response: the debiased estimates sum to N exactly and track truth") {
    val rows = CurationOps.rrDebias(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    // unbiasedness identity: Σ n̂ = N holds exactly pre-rounding; the
    // output rounds to 2 dp, so allow k·5e-3 of rounding slack
    assert(math.abs(rows.map(_._4).sum - n) < 0.05,
      s"estimates sum ${rows.map(_._4).sum} != $n")
    assert(rows.map(_._3).sum == n && rows.map(_._2).sum == n)
    // each estimate lands within 4σ of truth (σ ≈ 0.61·√N for p=0.7,
    // k=5; the hash coins are fixed so this is deterministic)
    val bound = 4 * 0.61 * math.sqrt(n.toDouble)
    rows.foreach(r => assert(r._5 <= bound,
      s"${r._1} err ${r._5} > $bound"))
  }

  test("q251 diff-in-diff: planted lift recovered, placebo clean, flags consistent") {
    val rows = AnalyticsOps.didReadout(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(r => r._2 + r._3).sum == n)
    val lift = AnalyticsOps.DidPlantLift
    rows.foreach { r =>
      assert(r._6 == (r._4 > lift / 2 && math.abs(r._5) < lift / 2)) }
    // the lift is 6σ-scale at sf0.01 and ~2σ at sf0.001 — direction
    // must hold for the majority of streams at any sf
    assert(rows.count(_._4 > 0) >= 3, s"lift direction lost: $rows")
    assert(rows.count(_._6) >= 2, "planted effect mostly undetected")
  }

  test("q252 bh-fdr: planted drift is rank 1 and rejected; rejections form a rank prefix") {
    val rows = ProfileOps.bhFdrGate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4), r.getBoolean(5)))
      .sortBy(_._2)
    assert(rows.map(_._1).toSet.contains("click_drift"))
    assert(rows.head._1 == "click_drift" && rows.head._6,
      s"plant not rank-1-rejected: ${rows.head}")
    // critical values strictly decrease with rank (the BH ladder)
    rows.sliding(2).foreach(p => assert(p(0)._4 > p(1)._4))
    // step-up property: rejected ranks are exactly 1..k*
    val kstar = rows.filter(_._5).map(_._2).maxOption.getOrElse(0L)
    rows.foreach(r => assert(r._6 == (r._2 <= kstar)))
    // z agrees with the q245 monitor it reuses
    val zs = ProfileOps.mwDrift(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap
    rows.foreach(r => assert(math.abs(zs(r._1) - r._3) < 1e-9))
  }

  test("q253 cusum: the planted volume step fires within days; stationary streams never do") {
    val rows = TimeSeriesOps.cusumChangepoint(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getBoolean(4))).toMap
    val step = rows("click_step")
    assert(step._4, "planted step undetected")
    assert(step._3 >= TimeSeriesOps.CusumStepDay &&
      step._3 <= TimeSeriesOps.CusumStepDay + 5,
      s"detection lag too long: day ${step._3}")
    rows.filterKeys(_ != "click_step").values.foreach { v =>
      assert(!v._4 && v._3 == -1, s"stationary stream fired: $v") }
    // the step's evidence dwarfs every stationary maximum
    rows.filterKeys(_ != "click_step").values
      .foreach(v => assert(v._1 < step._1))
    rows.values.foreach(v => assert(v._1 >= 0))
  }

  test("q254 seasonal decomposition: the planted weekly cycle is isolated into its dow effect") {
    val rows = TimeSeriesOps.seasonalDecompose(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val cyc = rows.filter(_._1 == "weekly_cycle")
    assert(cyc.length == 30)
    // the spike weekday's recovered effect ≈ amp·6/7 (mean-centered);
    // all other weekdays compensate negative
    val spikeDays = cyc.filter(_._2 % 7 == TimeSeriesOps.SeasDow)
    val restDays = cyc.filter(_._2 % 7 != TimeSeriesOps.SeasDow)
    assert(spikeDays.forall(_._5 > TimeSeriesOps.SeasAmp * 0.6),
      s"spike effect lost: ${spikeDays.map(_._5).toSeq}")
    assert(restDays.forall(_._5 < 0.0))
    // decomposition residuals stay small relative to the amplitude
    val meanAbsResid = cyc.map(r => math.abs(r._6)).sum / cyc.length
    assert(meanAbsResid < TimeSeriesOps.SeasAmp / 2.0,
      s"residual mass too high: $meanAbsResid")
    // additivity: x = trend + dow + resid up to rounding
    rows.foreach(r =>
      assert(math.abs(r._3 - (r._4 + r._5 + r._6)) < 2e-4))
  }

  test("q255 concentration: planted skew pegs HHI and top share; Gini reads the degenerate case as 0") {
    val rows = ProfileOps.concentration(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val skew = rows("src_skew")
    assert(skew._1 == 1 && skew._3 == 1.0 && skew._4 == 0.0 &&
      skew._5 == 1.0, s"skew source not pegged: $skew")
    rows.values.foreach { v =>
      assert(v._3 > 0 && v._3 <= 1.0 + 1e-9)
      assert(v._4 >= 0 && v._4 < 1.0)
      assert(v._3 <= v._5 + 1e-9) // HHI ≤ top share, always
      assert(v._3 >= 1.0 / v._1 - 1e-9) // equality lower bound
    }
    // the planted source is strictly the most concentrated
    rows.filterKeys(_ != "src_skew").values
      .foreach(v => assert(v._3 < skew._3))
  }

  test("q256 rbo churn: stable planted prefix dominates a churning tail") {
    val rows = AnalyticsOps.rboChurn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 29)
    rows.foreach { r =>
      assert(r._3 >= 0.0 && r._3 < 1.0)
      assert((r._3 > 0.0) == (r._2 > 0 ||
        r._3 > 0.0)) // rbo>0 needs some prefix overlap
      assert(r._2 <= AnalyticsOps.RboK)
    }
    // the three planted power users hold the board prefix on most days
    assert(rows.count(_._2 >= 3) >= 15,
      s"planted prefix unstable: ${rows.map(_._2).toSeq}")
    assert(rows.count(_._3 > 0.15) >= 15)
  }

  test("q257 kendall tau-b: redundancy of length vs distinct-ratio is read as strong negative rank correlation") {
    val rows = AnalyticsOps.kendallTau(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) Double.NaN else r.getDouble(6)))
    rows.foreach { r =>
      // n0 = n(n−1)/2 for that source's doc count
      val n = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === r._1).count()
      assert(r._2 == n * (n - 1) / 2)
      assert(r._3 + r._4 <= r._2)
      if (!r._7.isNaN) assert(r._7 >= -1.0 - 1e-9 && r._7 <= 1.0 + 1e-9)
    }
    // longer docs repeat the closed vocab more → the two signals
    // anticorrelate on every source with defined τ
    val defined = rows.filter(r => !r._7.isNaN && r._2 >= 10)
    assert(defined.nonEmpty)
    defined.foreach(r => assert(r._7 < 0, s"${r._1} tau ${r._7}"))
  }

  test("q258 mcnemar: discordant cells agree with q194's tables; flags recompute from the cells") {
    val rows = CurationOps.mcnemarGates(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5), r.getBoolean(6)))
      .toMap
    assert(rows.size == 3)
    // cross-operator consistency: same gates, same discordant cells
    val kappa = CurationOps.gateKappa(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    rows.foreach { case (pair, v) =>
      assert((v._2, v._3) == kappa(pair),
        s"$pair cells diverge from q194: $v vs ${kappa(pair)}") }
    rows.values.foreach { v =>
      val (b, c) = (v._2, v._3)
      val chi = if (b + c > 0)
        math.pow(math.abs(b - c) - 1.0, 2) / (b + c) else 0.0
      assert(math.abs(v._4 - chi) < 1e-4)
      assert(v._6 == (b + c > 0 && chi > CurationOps.McNemarCrit))
      assert(v._5 == (if (b > c) "second_stricter"
        else if (c > b) "first_stricter" else "balanced"))
    }
  }

  test("q259 mad outliers: the extreme plant masks the z-score but not the modified z") {
    val rows = AnalyticsOps.madOutliers(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      .toMap
    val spiked = rows("view_spiked")
    val view = rows("view")
    val nView = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "view").count()
    assert(spiked._1 == nView + 6)
    // masking: the inflated σ collapses the z detector to (nearly)
    // just the extreme point — strictly fewer flags than the clean
    // stream — while MAD keeps at least the clean stream's flags plus
    // the six plants
    assert(spiked._4 < view._4,
      s"no masking: spiked z-flags ${spiked._4} vs view ${view._4}")
    assert(spiked._4 >= 1)
    assert(spiked._5 >= view._5 + 6 - 1, // −1: plant values may collide
      s"MAD lost the plants: ${spiked._5} vs ${view._5}")
    assert(spiked._6, "masking not reported")
    // median/MAD robustness: six rows in thousands barely move them
    assert(math.abs(spiked._2 - view._2) <= 1.0)
    assert(math.abs(spiked._3 - view._3) <= 1.0)
  }

  test("q260 cuped: planted user heterogeneity is absorbed; the lift survives adjustment") {
    val rows = AnalyticsOps.cupedReadout(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getBoolean(6))).toMap
    rows.values.foreach { v =>
      assert(v._1 > 0)
      // the persistent user trait makes X genuinely predictive
      assert(v._4 > 0.2, s"theta lost the trait: ${v._4}")
      assert(v._5 > 0.05 && v._5 < 1.0, s"rho2 out of range: ${v._5}")
      assert(v._6 == (v._5 > 0.3))
    }
    // per-type diffs are noisy at sf0.001 (few dual-period users);
    // the POOLED readout must recover the planted lift's direction
    // and magnitude band — the sharp values are pinned by the sf0.01
    // oracle row
    val totN = rows.values.map(_._1).sum.toDouble
    val pooledNaive = rows.values.map(v => v._2 * v._1).sum / totN
    val pooledCuped = rows.values.map(v => v._3 * v._1).sum / totN
    assert(pooledNaive > 0 &&
      math.abs(pooledNaive - AnalyticsOps.CupedLift) < 30,
      s"pooled naive lost the lift: $pooledNaive")
    assert(pooledCuped > 0 &&
      math.abs(pooledCuped - AnalyticsOps.CupedLift) < 30,
      s"pooled cuped lost the lift: $pooledCuped")
  }

  test("q261 auc/lift: planted junk concentrates in the worst decile; AUC reads the separation") {
    val rows = MlPrepOps.aucDecileLift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.length == 10)
    val auc = rows.head._6
    assert(rows.forall(_._6 == auc))
    assert(auc > 0.8 && auc < 1.0, s"AUC out of expected band: $auc")
    // junk concentrates at the low-score end
    assert(rows.head._4 > 1.5, s"no lift in worst decile: ${rows.head}")
    assert(rows.head._4 > rows.last._4)
    // cumulative recall is monotone and ends at 1
    assert(rows.map(_._5).sliding(2).forall(p => p(0) <= p(1) + 1e-9))
    assert(math.abs(rows.last._5 - 1.0) < 1e-9)
    // positives total = planted count
    val nDocs = spark.read.parquet(s"$dir/documents.parquet")
    val n1 = nDocs.filter(col("doc_id") % 6 === 0).count() +
      nDocs.filter(col("doc_id") % 6 === 3).count()
    assert(rows.map(_._3).sum == n1)
  }

  test("q262 burstiness: the periodic batch plant flags on Fano with a negative lag signature") {
    val rows = TimeSeriesOps.burstiness(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val b = rows("bursty")
    assert(b._5 && b._3 > TimeSeriesOps.FanoFlag,
      s"plant not flagged: $b")
    assert(b._4 < 0, s"periodic plant should anticorrelate: ${b._4}")
    // stationary streams sit near the Poisson line and stay unflagged
    rows.filterKeys(_ != "bursty").values.foreach { v =>
      assert(!v._5, s"stationary stream flagged: $v")
      assert(v._3 > 0.3 && v._3 < TimeSeriesOps.FanoFlag)
    }
    rows.values.foreach(v => assert(v._5 == (v._3 > TimeSeriesOps
      .FanoFlag) || math.abs(v._3 - TimeSeriesOps.FanoFlag) < 1e-4))
  }

  test("q263 power/mde: the MDE formula is internally consistent and scales with 1/sqrt(n)") {
    val rows = AnalyticsOps.powerMde(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getBoolean(6)))
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(r => r._2 + r._3).sum == n)
    val zsum = 1.9599639845400536 + 0.8416212335729144
    rows.foreach { r =>
      assert(r._4 > 20 && r._4 < 80, s"sigma off: ${r._4}")
      val mde = zsum * r._4 *
        math.sqrt(1.0 / r._2 + 1.0 / r._3)
      assert(math.abs(r._5 - mde) < 0.01, s"mde inconsistent: $r")
      assert(r._7 == (mde <= AnalyticsOps.PowerTargetLift) ||
        math.abs(mde - AnalyticsOps.PowerTargetLift) < 0.02)
      assert(r._6 > 0)
    }
  }

  test("q264 qte: the multiplicative plant shows as growing absolute effects at a stable ratio") {
    val rows = AnalyticsOps.qte(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val types = rows.map(_._1).distinct
    types.foreach { t =>
      val qs = rows.filter(_._1 == t).sortBy(_._2)
      assert(qs.length == 9)
      // absolute QTE grows from the low to the high deciles
      assert(qs.last._5 > qs.head._5,
        s"$t: absolute QTE not growing: ${qs.map(_._5).toSeq}")
      // ratio hovers around the planted factor in the mid/upper body
      // (individual deciles are noisy at sf0.001 — ~100 events/arm —
      // so bound each loosely and pin the median; the sharp values
      // sit in the sf0.01 oracle row)
      val mid = qs.filter(_._2 >= 4)
      mid.foreach(q => assert(q._6 > 0.7 && q._6 < 2.5,
        s"$t decile ${q._2} ratio ${q._6}"))
      // quantiles are monotone within each arm
      assert(qs.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
      assert(qs.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    }
    // pooled across types, the mid/upper-body ratio centers near the
    // planted factor (per-type medians swing with the ~8-users-per-arm
    // mix at sf0.001; the sharp values sit in the sf0.01 oracle)
    val pooled = rows.filter(_._2 >= 4).map(_._6).sorted
    val pooledMed = pooled(pooled.length / 2)
    assert(pooledMed > 0.95 && pooledMed < 1.8,
      s"pooled median ratio $pooledMed")
  }

  test("q265 its: the planted step's level change recovers the doubled volume; slopes stay flat") {
    val rows = TimeSeriesOps.itsReadout(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val step = rows("click_step")
    val preMean = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "click").count().toDouble / 30
    assert(step._5, "planted step not level-shifted")
    assert(step._3 > 0.3 * preMean && step._3 < 2.0 * preMean,
      s"level change ${step._3} vs pre mean $preMean")
    // the plant is a pure level shift — strictly the largest in the
    // fleet
    rows.filterKeys(_ != "click_step").values.foreach(v =>
      assert(math.abs(v._3) < step._3,
        s"stationary stream out-shifted the plant: $v"))
  }

  test("q266 bandit replay: the greedy choice is exactly yesterday's best cumulative arm") {
    val rows = MixtureOps.banditReplay(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 29)
    rows.foreach { r =>
      assert(r._3 > 0 && r._4 > 0 && r._5 > 0)
      assert(Set("click", "error", "purchase", "signup", "view")(r._2))
    }
    // independent recompute of day 1's choice: best cumulative mean
    // through day 0, alphabetical tie-break
    val day0 = spark.read.parquet(s"$dir/events.parquet")
      .filter(expr("CAST(datediff(ts, DATE '2024-01-01') AS BIGINT)") === 0)
      .groupBy("event_type")
      .agg((sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))
        .cast("double") / count(lit(1))).as("m"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val best = day0.sortBy(r => (-r._2, r._1)).head._1
    assert(rows.find(_._1 == 1).get._2 == best,
      s"day-1 policy diverged: ${rows.find(_._1 == 1)} vs $best")
  }

  test("q267 bloom planner: empirical fpp tracks the analytic curve and falls with bits/key") {
    val rows = ScaleOps.bloomPlanner(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .sortBy(_._1)
    assert(rows.length == 4)
    val nKeys = spark.read.parquet(s"$dir/orders.parquet").count()
    rows.foreach(r => assert(r._3 == nKeys))
    // false positives fall monotonically with bits/key
    assert(rows.map(_._4).sliding(2).forall(p => p(0) >= p(1)),
      s"fp not monotone: ${rows.map(_._4).toSeq}")
    // the dense configs have enough expected FPs to bind tightly
    rows.filter(_._1 <= 12).foreach { r =>
      assert(r._7, s"config ${r._1} outside model: $r") }
    // ratio sanity on the densest config (≥2k expected FPs at sf0.01,
    // ≥200 at sf0.001)
    val dense = rows.head
    assert(dense._5 > 0.5 * dense._6 && dense._5 < 2.0 * dense._6)
  }

  test("q268 brier/murphy: the decomposition identity closes and reads the score's lack of skill") {
    val r = MixtureOps.brierDecomposition(spark, dir).collect().head
    val (n, brier, rel, res, unc, wbv, skill) = (r.getLong(0),
      r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
      r.getDouble(5), r.getDouble(6))
    assert(n == spark.read.parquet(s"$dir/documents.parquet").count())
    // Murphy identity: BS = REL − RES + UNC + binning residual (the
    // residual is sign-indefinite: within-bin forecast variance minus
    // twice the within-bin forecast–outcome covariance)
    assert(math.abs(brier - (rel - res + unc + wbv)) < 1e-5)
    assert(math.abs(wbv) < 0.05 * math.max(brier, 0.01),
      s"binning residual out of band: $wbv")
    assert(rel >= 0 && res >= 0)
    assert(unc > 0 && unc <= 0.25 + 1e-9) // p(1−p) bound
    assert(res <= unc + 1e-9) // resolution can't exceed uncertainty
    assert(math.abs(skill - (1.0 - brier / unc)) < 1e-4)
  }

  test("q269 matching: the confounded naive readout moves toward the lift after matching") {
    val rows = AnalyticsOps.psmMatching(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r._3 <= r._2) // matched ⊆ treated
      assert(r._3 > 0)
      assert(math.abs(r._6 - (r._5 - r._4)) < 1e-3)
    }
    // the trait-confounded naive estimate under-reads the lift; the
    // matched ATT must correct UPWARD on most streams and the pooled
    // ATT must land strictly closer to the planted lift (full
    // recovery is not expected — X is a noisy covariate and matching
    // attenuates; individual streams can wobble at sf0.001)
    assert(rows.count(_._6 > 0) * 2 > rows.length,
      s"bias removal lost on most streams: $rows")
    val naive = rows.map(_._4).sum / rows.length
    val att = rows.map(_._5).sum / rows.length
    assert(math.abs(att - AnalyticsOps.PsmLift) <
      math.abs(naive - AnalyticsOps.PsmLift),
      s"matching did not help: naive $naive att $att")
  }

  test("q270 energy distance: consistent-against-everything drift — plant dominates by orders of magnitude") {
    val rows = ProfileOps.energyDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getBoolean(8))).toMap
    val plant = rows("click_drift")
    assert(plant._8, "plant not flagged")
    rows.filterKeys(_ != "click_drift").values.foreach { v =>
      assert(!v._8, s"stationary stream flagged: $v")
      assert(v._7 < plant._7 / 10)
    }
    rows.values.foreach { v =>
      // D² ≥ 0 (it is a squared metric) and the triangle parts are
      // consistent: 2·e_cross ≥ e_within_1 + e_within_2
      assert(v._6 >= -1e-9)
      assert(2 * v._3 >= v._4 + v._5 - 1e-9)
    }
  }

  test("q271 tail dependence: whale cohort couples the tails far above independence") {
    val rows = ProfileOps.tailDependence(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5),
        if (r.isNullAt(6)) -1.0 else r.getDouble(6)))
    assert(rows.length == ProfileOps.TailLevels.length)
    val live = rows.filter(_._4 > 0)
    assert(live.length >= 2, s"tails empty: $rows")
    live.foreach { r =>
      assert(r._5 <= r._4) // joint ⊆ x-exceed
      assert(r._6 >= 0 && r._6 <= 1)
      // the planted whales make co-extremes far likelier than the
      // independence baseline at every populated level
      assert(r._7 > 1.5, s"level ${r._1}: lift ${r._7}")
      assert(math.abs(r._6 - r._5.toDouble / r._4) < 1e-4)
    }
    // thresholds rise with the level
    assert(rows.sortBy(_._1).map(_._2).sliding(2)
      .forall(p => p(0) <= p(1)))
  }

  test("q272 fs-em: unsupervised m/u lands near the labeled truth where the comparator informs") {
    val rows = DedupOps.fsEm(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6))).toMap
    assert(rows.size == 3)
    rows.values.foreach { v =>
      assert(v._1 >= 0 && v._1 <= 1 && v._4 >= 0 && v._4 <= 1)
      assert(math.abs(v._3 - math.abs(v._1 - v._2)) < 2e-6)
      assert(math.abs(v._6 - math.abs(v._4 - v._5)) < 2e-6)
    }
    // u probabilities are strongly identified (the non-match class
    // dominates the mixture): EM must land within 0.05 of truth
    rows.values.foreach(v =>
      assert(v._6 < 0.05, s"u estimate off: $v"))
    // m probabilities are weakly identified on a degenerate comparator
    // (every blocked pair name-agrees) — bound loosely and require the
    // EM to preserve the match-side ORDERING of the informative ones
    rows.values.foreach(v => assert(v._3 < 0.35, s"m estimate off: $v"))
    assert(rows("name")._1 > rows("balance")._1)
  }

  test("q273 two change points: exhaustive SSE search recovers both planted steps") {
    val rows = TimeSeriesOps.twoChangepoints(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getDouble(8))).toMap
    val p = rows("two_steps")
    // boundaries land within a few days of the planted steps — the
    // search is EXACT, so at sf0.001 the argmin sits wherever the
    // noisy realization's true optimum is (±3); the sf0.01 oracle
    // pins the exact 9/19 recovery
    assert(math.abs(p._1 - (TimeSeriesOps.Seg2Step1 - 1)) <= 3,
      s"first split off: ${p._1}")
    assert(math.abs(p._2 - (TimeSeriesOps.Seg2Step2 - 1)) <= 3,
      s"second split off: ${p._2}")
    // the three levels are ordered and the fit explains most variance
    assert(p._3 < p._4 && p._4 < p._5, s"levels not stepped: $p")
    assert(p._8 > 0.6, s"reduction too weak: ${p._8}")
    rows.values.foreach { v =>
      assert(v._7 <= v._6 + 1e-6) // splitting never increases SSE
      assert(v._8 >= -1e-9 && v._8 <= 1.0)
    }
    // stationary streams gain little from two splits
    rows.filterKeys(_ != "two_steps").values
      .foreach(v => assert(v._8 < p._8))
  }

  test("q274 kaplan-meier: planted churn cohort dies by the cap; control keeps its censored tail") {
    val rows = TimeSeriesOps.kaplanMeier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val c1 = rows.filter(_._1 == 1).sortBy(_._2)
    val c0 = rows.filter(_._1 == 0).sortBy(_._2)
    assert(c1.nonEmpty && c0.nonEmpty)
    // survival is monotone nonincreasing within each cohort
    Seq(c0, c1).foreach(c => assert(c.map(_._6).sliding(2)
      .forall(p => p(0) >= p(1) - 1e-9)))
    // the early-churn cohort's curve hits 0 by the cap
    assert(c1.last._2 <= TimeSeriesOps.SurvChurnCap &&
      c1.last._6 == 0.0, s"churn cohort tail: ${c1.last}")
    // the control cohort survives past the cap with mass left
    assert(c0.last._2 > TimeSeriesOps.SurvChurnCap &&
      c0.last._6 > 0.3, s"control tail: ${c0.last}")
    // interim censoring is present (what separates KM from naive)
    assert(rows.exists(r => r._5 > 0 &&
      r._2 == TimeSeriesOps.SurvWithdrawDay))
  }

  test("q275 log-rank: the planted survival split rejects decisively") {
    val r = TimeSeriesOps.logRank(spark, dir).collect().head
    val (o1, e1, chi2, differs) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getBoolean(3))
    assert(differs && chi2 > TimeSeriesOps.LogRankCrit)
    // the churn cohort observes far MORE events than expected under
    // the null
    assert(o1 > e1, s"direction wrong: o=$o1 e=$e1")
    assert(chi2 > 2 * TimeSeriesOps.LogRankCrit,
      s"evidence too weak: $chi2")
  }

  test("q276 cmh: stratified association survives the language control") {
    val r = CurationOps.cmhTest(spark, dir).collect().head
    val (nStrata, o, e, chi2, assoc) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getBoolean(4))
    assert(nStrata >= 3, s"too few strata: $nStrata")
    assert(chi2 >= 0)
    assert(assoc == (chi2 > CurationOps.McNemarCrit))
    // long docs pass the gopher gate MORE than expected under
    // conditional independence (length literally enters the gate)
    assert(o > e, s"association direction wrong: o=$o e=$e")
  }

  test("q277 miss-ratio curve: hit rate is monotone in cache size and saturates at the working set") {
    val rows = ScaleOps.missRatioCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.length == ScaleOps.MrcSizes.length)
    // monotone nondecreasing hits with size
    assert(rows.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    // reuses + cold = total accesses; hit_rate consistent
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    rows.foreach { r =>
      assert(r._2 <= r._3) // hits ⊆ reuses
      assert(r._3 + r._4 == total)
      assert(math.abs(r._5 - r._2.toDouble / total) < 1e-3)
    }
    assert(rows.head._4 == users, "cold misses != working set")
    // a cache of the full working set hits every reuse
    assert(rows.last._1 >= users && rows.last._2 == rows.last._3,
      s"full-size cache missed reuses: ${rows.last}")
  }

  test("q278 w1 drift: the planted +25 shift reads as W1 ~ 25, far above every natural stream") {
    val rows = ProfileOps.w1Drift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toMap
    val p = rows("click_drift")
    // W1 is magnitude-calibrated: the +25.0 plant must read ~25 in
    // value units (the property KS/MW/energy don't have)
    assert(math.abs(p._3 - ProfileOps.MwPlantShift) < 4,
      s"planted W1 off: ${p._3}")
    assert(p._4, "plant not flagged")
    // every natural stream sits well below the plant (at sf0.001 the
    // n~100 noise floor is a few units; the flag itself is calibrated
    // for sf0.01+ snapshot sizes where CORRECTNESS runs)
    rows.filterKeys(_ != "click_drift").values
      .foreach(v => assert(v._3 < p._3 / 2, s"natural W1 high: $v"))
    // W1 is nonnegative and counts match the split
    rows.values.foreach(v => assert(v._3 >= 0 && v._1 > 0 && v._2 > 0))
  }

  test("q279 anisotropy: the planted cone collapses; real labels stay isotropic") {
    val rows = SimilarityOps.embeddingAnisotropy(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toMap
    val cone = rows(SimilarityOps.ConeLabel)
    assert(cone._1 == SimilarityOps.ConeN)
    assert(cone._2 > 0.99 && cone._4,
      s"cone not collapsed: $cone")
    // the cone's centroid dominates the global mean direction
    assert(cone._3 > 0.9, s"cone centroid misaligned: $cone")
    rows.filterKeys(_ != SimilarityOps.ConeLabel).values.foreach { v =>
      assert(math.abs(v._2) < 0.2 && !v._4,
        s"real label reads collapsed: $v")
      assert(v._3 >= -1.0 - 1e-9 && v._3 <= 1.0 + 1e-9)
    }
  }

  test("q280 hill tail: the x -> x^2 plant halves the tail index (2x log-spacings)") {
    val rows = ProfileOps.hillTail(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val (src0, plant) = (rows("src0"), rows("pareto_plant"))
    // x -> x^2 doubles every ln-spacing, so alpha halves (up to the
    // div-100 truncation)
    val ratio = src0._4 / plant._4
    assert(math.abs(ratio - 2.0) < 0.05, s"alpha ratio off: $ratio")
    rows.values.foreach { v =>
      assert(v._1 == ProfileOps.HillK - 1, s"k_used wrong: $v")
      assert(v._3 > 0 && v._4 > 0, s"nonpositive estimate: $v")
      assert(v._5 == (v._4 < ProfileOps.HillHeavy))
    }
  }

  test("q281 cluster quality: silhouettes bounded, lists partition the corpus, DB consistent") {
    val rows = SimilarityOps.clusterQuality(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_._2).sum == nVecs, "lists don't partition corpus")
    rows.foreach { r =>
      assert(r._3 >= -1.0 - 1e-9 && r._3 <= 1.0 + 1e-9,
        s"silhouette out of range: $r")
      assert(r._4 >= 0 && r._4 <= 2.0 + 1e-9,
        s"cosine distance out of range: $r")
      assert(r._5 > 0, s"DB ratio nonpositive: $r")
    }
    // every centroid's own vector assigns to itself (cos = 1), so all
    // 16 lists are nonempty
    assert(rows.length == SimilarityOps.IvfCentroids)
  }

  test("q282 markov attribution: removal always hurts, shares normalize, assists earn credit") {
    val rows = TimeSeriesOps.markovAttribution(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    val base = rows("none")._1
    assert(base > 0 && base < 1)
    val chans = TimeSeriesOps.MkChannels.map(rows)
    // removing any channel reduces absorption (monotonicity of the
    // removal effect)
    chans.foreach(c => assert(c._1 <= base + 1e-9, s"removal helped: $c"))
    chans.foreach(c => assert(c._2 >= 0 && c._2 < 1))
    // shares are a probability vector over channels
    val shareSum = chans.map(_._3).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum: $shareSum")
    // every channel that appears in paths earns SOME credit — the
    // model-based property last-touch lacks
    chans.foreach(c => assert(c._3 > 0, s"assist got zero credit: $c"))
  }

  test("q283 pack attention: pair accounting is exact and leak share bounded") {
    val rows = TrainPrepOps.packAttentionAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r._5 == r._6 + r._7, s"pairs don't partition: $r")
      assert(r._8 >= 0.0 && r._8 <= 1.0, s"leak share out of range: $r")
      // a single-doc bin leaks nothing
      if (r._3 == 1) assert(r._7 == 0 && r._8 == 0.0, s"1-doc bin leaks: $r")
    }
    // multi-doc bins DO leak — the reason masking exists
    assert(rows.filter(_._3 > 1).forall(_._7 > 0))
    // bins respect the budget unless a single doc overflows alone
    rows.filter(_._3 > 1).foreach(r =>
      assert(r._4 <= TrainPrepOps.PackBudget, s"overfull bin: $r"))
  }

  test("q284 delta ratio: planted click boost rejects; error A/A does not") {
    val rows = AnalyticsOps.deltaRatio(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7))).toMap
    val click = rows("click")
    val err = rows("error")
    assert(click._7 && click._6 > 2.0, s"plant missed: $click")
    assert(!err._7, s"A/A rejected: $err")
    assert(math.abs(err._6) < click._6)
    rows.values.foreach(v => assert(v._5 > 0, s"se nonpositive: $v"))
    // the plant inflates B's ratio, never A's
    assert(click._4 > click._3)
  }

  test("q285 label noise: planted flips land in exactly the next-class cells") {
    val rows = CurationOps.labelNoise(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2),
        r.getBoolean(3), r.getDouble(4)))
    val offd = rows.filter(_._3)
    val diag = rows.filter(!_._3)
    assert(diag.length == CurationOps.LnClasses)
    // every off-diagonal cell is an (obs = true+1 -> pred = true) flip
    offd.foreach { case ((obs, pred), _, _, _) =>
      assert((pred + 1) % CurationOps.LnClasses == obs,
        s"unexpected off-diag cell: ($obs, $pred)")
    }
    // estimated noise rate ~ 1/17
    val est = rows.head._4
    assert(math.abs(est - 1.0 / CurationOps.LnFlipMod) < 0.02,
      s"noise estimate off: $est")
    // flips are recovered: off-diagonal mass > 0 in every class
    assert(offd.length == CurationOps.LnClasses)
  }

  test("q286 propensity overlap: positivity flags exactly the empty-arm strata") {
    val rows = AnalyticsOps.propensityOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6),
        r.getDouble(7), r.getDouble(8), r.getDouble(9)))
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r._7 == (r._3 > 0 && r._3 < r._2), s"positivity flag wrong: $r")
      assert(r._4 >= 0.0 && r._4 <= 1.0)
    }
    val overlap = rows.head._8
    assert(overlap > 0.0 && overlap <= 1.0 + 1e-9, s"overlap: $overlap")
    // ESS never exceeds the total unit count (weighting only loses
    // information)
    val total = rows.map(_._2).sum
    assert(rows.head._9 <= total + 1e-6 && rows.head._10 <= total + 1e-6)
    // shares are probability vectors over strata (up to excluded-zero
    // rounding)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 0.01)
    assert(math.abs(rows.map(_._6).sum - 1.0) < 0.01)
  }

  test("q287 msprt: the planted shift stream dominates; A/A streams never fire") {
    val rows = AnalyticsOps.msprtMonitor(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5))).toMap
    val plant = rows("purchase_boost")
    // the plant's evidence dwarfs every A/A stream (at sf0.001 it may
    // sit under the fire line; the sf0.01 oracle hash pins fire_day)
    rows.filterKeys(_ != "purchase_boost").values.foreach { v =>
      assert(!v._5, s"A/A stream fired: $v")
      assert(v._2 < plant._2, s"A/A lambda above plant: $v")
    }
    // always-valid p is the smallest for the plant
    rows.filterKeys(_ != "purchase_boost").values
      .foreach(v => assert(v._3 >= plant._3))
    // if anything fired, it fired AFTER the shift day
    rows.values.filter(_._5).foreach(v =>
      assert(v._4 >= AnalyticsOps.MsprtShiftDay, s"fired pre-shift: $v"))
  }

  test("q288 grounding: clean answers ground at exactly 1.0; flags are a subset of plants") {
    val rows = MlPrepOps.groundingAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r._3 <= r._2, s"supported > answered: $r")
      if (r._1 % MlPrepOps.GroundHallMod != 0)
        assert(r._4 == 1.0 && !r._5, s"clean pair not fully grounded: $r")
    }
    // a meaningful share of the planted splices is caught, and every
    // flag IS a plant (zero false positives by construction)
    val planted = rows.filter(_._1 % MlPrepOps.GroundHallMod == 0)
    assert(planted.count(_._5) * 2 >= planted.length,
      s"caught ${planted.count(_._5)} of ${planted.length}")
    rows.filter(_._5).foreach(r =>
      assert(r._1 % MlPrepOps.GroundHallMod == 0, s"false positive: $r"))
  }

  test("q289 dr-ope: DR variance undercuts IPS (the doubly-robust promise)") {
    val rows = MixtureOps.drOpe(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val (dm, ips, dr) = (rows("dm"), rows("ips"), rows("dr"))
    assert(dr._3 < ips._3,
      s"DR day-sd ${dr._3} not below IPS ${ips._3}")
    // the three estimators agree on the ballpark (same target policy)
    Seq(dm, ips, dr).combinations(2).foreach { case Seq(a, b) =>
      assert(math.abs(a._2 - b._2) < 0.5 * math.max(a._2, b._2),
        s"estimates diverge: $rows")
    }
    assert(dm._1 == ips._1 && ips._1 == dr._1)
  }

  test("q290 k-center: selection distances are the nonincreasing greedy invariant") {
    val rows = SimilarityOps.kcenterCoreset(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.length == SimilarityOps.KcK)
    assert(rows.head._2 == SimilarityOps.KcSeed && rows.head._3.isNaN)
    val sel = rows.tail.map(_._3)
    // greedy farthest-point: each selection distance is <= the prior
    sel.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1) - 1e-9,
        s"greedy invariant broken: ${sel.toSeq}"))
    // final coverage radius <= the last selection distance
    assert(rows.last._4 <= sel.last + 1e-9,
      s"radius ${rows.last._4} above last selection ${sel.last}")
    // centers are distinct
    assert(rows.map(_._2).distinct.length == SimilarityOps.KcK)
  }

  test("q291 pref length bias: the length-correlated judge reads biased") {
    val rows = TrainPrepOps.prefLengthBias(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    val rate = rows.head._4
    assert(rate > TrainPrepOps.PlbBiasTau && rows.head._5,
      s"bias not detected: $rate")
    // shares are a distribution over buckets
    assert(math.abs(rows.map(_._3).sum - 1.0) < 0.01)
    // positive-delta mass dominates (the bias made visible)
    val pos = rows.filter(_._1 >= 0).map(_._2).sum
    val neg = rows.filter(_._1 < 0).map(_._2).sum
    assert(pos > 2 * neg, s"positive deltas don't dominate: $pos vs $neg")
  }

  test("q292 obf: only the planted stream crosses; early looks spend almost no alpha") {
    val rows = AnalyticsOps.obfMonitor(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6),
        if (r.isNullAt(7)) -1L else r.getLong(7)))
    assert(rows.length == 6 * AnalyticsOps.ObfLookDays.length)
    // A/A streams never cross any boundary — even when an interim |z|
    // exceeds 1.96 (the fixed-horizon threshold), the OBF boundary
    // holds it (the property the design exists for)
    rows.filter(_._1 != "purchase_boost").foreach(r =>
      assert(!r._7, s"A/A crossed: $r"))
    // the planted stream crosses at an interim or final look
    val plantCross = rows.filter(r =>
      r._1 == "purchase_boost" && r._7)
    assert(plantCross.nonEmpty, "plant never crossed")
    // boundaries are the monotone-decreasing OBF shape
    val bounds = rows.filter(_._1 == "error").sortBy(_._2).map(_._6)
    bounds.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) > p(1)))
    // n_units is cumulative (nondecreasing in look)
    rows.groupBy(_._1).values.foreach { g =>
      g.sortBy(_._2).map(_._4).sliding(2).foreach(p =>
        if (p.length == 2) assert(p(0) <= p(1)))
    }
  }

  test("q293 contam ladder: each plant family first appears at exactly its layer") {
    val rows = DedupOps.contamLadder(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rows.map(_._2) === Seq("exact", "casefold", "punct_strip"))
    // verbatim plants: val docs % 30 == 0; case: == 10; punct: == 20
    val nVal = rows.head._3
    val expFirst = Seq(0L, 10L, 20L).map(m =>
      (0L until nVal * 10 by 10).count(_ % 30 == m).toLong)
    assert(rows.map(_._5) === expFirst,
      s"first-caught counts ${rows.map(_._5)} != planted $expFirst")
    // deeper layers only ever catch MORE
    rows.map(_._4).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) <= p(1)))
    // all val docs caught by the full ladder (every val doc has a
    // planted copy in this fixture family union)
    assert(rows.last._6 == nVal && rows.last._7 == 1.0)
  }

  test("q294 capped metric: an interior cap beats uncapped sensitivity") {
    val rows = AnalyticsOps.cappedMetricCurve(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .sortBy(_._1)
    assert(rows.map(_._1) === AnalyticsOps.CapPcts)
    // cap values are nondecreasing in percentile; means nondecreasing
    // with looser caps
    rows.sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0)._2 <= p(1)._2)
        assert(p(0)._4 <= p(1)._4 + 1e-9 && p(0)._5 <= p(1)._5 + 1e-9)
      }
    }
    // the planted effect is detected at every cap, B above A
    rows.foreach(r => assert(r._6 > 1.96 && r._5 > r._4, s"effect lost: $r"))
    // exactly one best cap, and it strictly beats the uncapped z
    val best = rows.filter(_._7)
    assert(best.length == 1)
    val uncapped = rows.last
    if (!uncapped._7)
      assert(best.head._6 > uncapped._6, "interior cap should win")
  }

  test("q295 lpt: loads partition the work and Graham's bound holds") {
    val rows = ScaleOps.lptMakespan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.length == ScaleOps.LptExecutors)
    val total = rows.head._5
    assert(rows.map(_._3).sum == total, "loads don't partition work")
    assert(rows.map(_._3).max == rows.head._4, "makespan != max load")
    // LPT guarantee: ratio <= 4/3 (and our skew-free fixture is near 1)
    assert(rows.head._7 <= 4.0 / 3.0 + 1e-9, s"ratio ${rows.head._7}")
    assert(rows.head._7 >= 1.0 - 1e-9)
  }

  test("q296 daly: the grid point bracketing tau* carries the minimum overhead") {
    val rows = ScaleOps.checkpointInterval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      .sortBy(_._1)
    assert(rows.map(_._1) === ScaleOps.DalyGrid.map(_.toLong))
    val best = rows.filter(_._6)
    assert(best.length == 1)
    val tauOpt = rows.head._5
    // the winning grid point is one of the two bracketing tau*
    val below = rows.filter(_._1 <= tauOpt).lastOption
    val above = rows.find(_._1 > tauOpt)
    assert(Seq(below, above).flatten.exists(_._1 == best.head._1),
      s"best ${best.head._1} does not bracket tau* $tauOpt")
    // the curve is convex-ish: overhead decreases to the best then rises
    val bi = rows.indexWhere(_._6)
    rows.take(bi + 1).map(_._2).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1)))
    rows.drop(bi).map(_._2).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) <= p(1)))
  }

  test("q297 aa fleet: null assignments keep the false-positive rate at alpha") {
    val rows = AnalyticsOps.aaCalibration(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6),
        r.getLong(7), r.getDouble(8), r.getBoolean(9)))
    assert(rows.length == AnalyticsOps.AaK)
    // every assignment covers the whole population, and both arms are
    // populated in at least most assignments (at sf0.001 n~15, so a
    // single lopsided hash split is within binomial range)
    val nTot = rows.head._2 + rows.head._3
    rows.foreach(r => assert(r._2 + r._3 == nTot, s"population varies: $r"))
    assert(rows.count(r => r._2 > 0 && r._3 > 0) >= rows.length - 2,
      "arms empty in many assignments")
    // the fleet verdict matches the count, and the fixture calibrates
    val nSig = rows.count(_._7)
    assert(rows.head._8 == nSig)
    assert(rows.head._10 == (nSig <= AnalyticsOps.AaMaxSig))
    assert(rows.head._10, s"A/A fleet miscalibrated: $nSig significant")
  }

  test("q298 json drift: planted keys first appear exactly at the change day") {
    val rows = RelationalOps.jsonSchemaDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7), r.getBoolean(8))).toMap
    assert(rows.keySet == Set("k", "alt", "v2"))
    val (k, alt, v2) = (rows("k"), rows("alt"), rows("v2"))
    // new keys appear exactly at the producer-change day
    Seq(alt, v2).foreach { r =>
      assert(r._1 == RelationalOps.JsonDriftDay && r._7,
        s"new key wrong first day: $r")
      assert(r._5 == 0.0, s"new key present before change: $r")
    }
    // the legacy key predates the change and loses coverage after
    assert(k._1 == 0 && !k._7)
    assert(k._5 == 1.0 && k._6 < 1.0 && k._8, s"k coverage: $k")
    // shares are consistent: after-change k + alt share = 1
    assert(math.abs(k._6 + alt._6 - 1.0) < 0.01)
  }

  test("q299 nprobe curve: recall nondecreasing, cost linear in probes") {
    val rows = SimilarityOps.nprobeCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1) === (1L to SimilarityOps.NprobeMax))
    rows.sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0)._3 <= p(1)._3 + 1e-9, "recall decreased")
        assert(p(0)._4 < p(1)._4, "candidates not growing")
      }
    }
    // probing the best list already finds most neighbors
    assert(rows.head._3 > 0.8, s"nprobe=1 recall ${rows.head._3}")
    // cost share stays a small fraction of the corpus (the point of IVF)
    assert(rows.last._5 < 0.5, s"scan share ${rows.last._5}")
  }

  test("q300 drift consensus: the plant fires all five; naturals fire none") {
    val rows = ProfileOps.driftConsensus(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getBoolean(4), r.getBoolean(6),
        r.getBoolean(8), r.getBoolean(10), r.getBoolean(12),
        r.getLong(13), r.getBoolean(14), r.getBoolean(15))).toMap
    val plant = rows("click_drift")
    assert(plant._6 == 5 && plant._7 && !plant._8,
      s"plant consensus wrong: $plant")
    assert(plant._1 && plant._2 && plant._3 && plant._4 && plant._5)
    rows.filterKeys(_ != "click_drift").values.foreach { v =>
      assert(!v._7, s"natural stream reached consensus: $v")
      // a lone detector may fire on noise — that is exactly what the
      // disagreement flag routes to a human — but never a majority
      assert(v._6 < 3, s"natural stream fired $v")
    }
  }

  test("q301 chunk config: overlap buys coverage; zero-overlap configs leak spans") {
    val rows = TrainPrepOps.chunkConfigCurve(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.length == TrainPrepOps.ChunkConfigs.length)
    val byCfg = rows.map(r => r._1 -> r).toMap
    // (no interior-span analytic bound here: most fixture docs are
    // shorter than the chunk size, and a doc that fits one chunk
    // covers EVERY span — the short-doc mass dominates the curve)
    rows.foreach { case ((sz, st), _, _, _, cov, red) =>
      assert(cov >= 0 && cov <= 1)
      assert(math.abs(red - sz.toDouble / st) < 1e-3)
    }
    // overlap strictly improves coverage at equal size
    assert(byCfg((128L, 96L))._5 > byCfg((128L, 128L))._5)
    assert(byCfg((256L, 192L))._5 > byCfg((256L, 256L))._5)
    // bigger chunks store fewer index rows
    assert(byCfg((512L, 384L))._3 < byCfg((128L, 128L))._3)
  }

  test("q302 sample aqp: error shrinks with rate and CIs are honest") {
    val rows = ScaleOps.sampleAqp(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7)))
    val byRate = rows.groupBy(_._1._1)
    // mean absolute error decreases as the rate grows
    val errs = ScaleOps.AqpRates.map(r =>
      byRate(r.toLong).map(_._5).sum / byRate(r.toLong).size)
    errs.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1) - 1e-9,
        s"error not shrinking: $errs"))
    // the CI flag matches its definition and most estimates are honest
    rows.foreach(r => assert(r._7 == (r._5 <= r._6 + 1e-9), s"flag: $r"))
    assert(rows.count(_._7) >= rows.length - 2,
      s"too many CI misses: ${rows.filterNot(_._7).mkString(";")}")
  }

  test("q303 session gap curve: sessions merge monotonically as the gap loosens") {
    val rows = ScaleOps.sessionGapCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1) === ScaleOps.GapGrid.map(_.toLong))
    // looser gaps only MERGE sessions
    rows.map(_._2).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1), "sessions grew"))
    rows.map(_._5).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1), "singles grew"))
    // accounting: sessions never exceed events; singles never exceed
    // sessions; mean consistent
    rows.foreach { r =>
      assert(r._2 <= r._3 && r._5 <= r._2)
      assert(math.abs(r._4 - r._3.toDouble / r._2) < 0.01)
    }
    // the 30-minute row must agree with q39's sessionization count
    val s30 = rows.find(_._1 == 30L).get._2
    val q39 = ScaleOps.sessionize(spark, dir).count()
    assert(s30 == q39, s"gap-curve 30min $s30 != q39 $q39")
  }

  test("q304 retention: violation iff data older than the cutoff exists") {
    val rows = ScaleOps.retentionAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7), r.getBoolean(8))).toMap
    assert(rows.keySet ==
      ScaleOps.RetentionDays.map(_._1).toSet)
    rows.foreach { case (et, r) =>
      assert(r._3 == r._1 - r._2, s"cutoff wrong: $et $r")
      assert(r._8 == (r._6 > 0), s"flag inconsistent: $et $r")
      // violation iff the oldest surviving day is before the cutoff
      assert(r._8 == (r._4 < r._3), s"oldest/cutoff disagree: $et $r")
      assert(r._6 <= r._5 && r._7 >= 0 && r._7 <= 1)
    }
    // across STRICTLY different TTLs, a shorter clock expires more of
    // the (near-uniform) history; same-TTL streams differ only by
    // their own day noise, so ties are not ordered
    val byTtl = rows.values.toSeq.sortBy(_._2)
    byTtl.sliding(2).foreach(p =>
      if (p.length == 2 && p(0)._2 < p(1)._2)
        assert(p(0)._7 >= p(1)._7 - 0.05,
          s"expiry share not monotone in TTL: ${byTtl.map(r => (r._2, r._7))}"))
  }

  test("q305 backfill: only downstream-of-fix stages recompute, cost accumulates in order") {
    val rows = ScaleOps.backfillPlan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(rows.map(_._2) === ScaleOps.BackfillStages.map(_._2))
    // stages upstream of the fix are untouched
    rows.filter(_._1 < ScaleOps.BackfillStage).foreach(r =>
      assert(r._3 == 0 && r._5 == 0, s"upstream touched: $r"))
    // downstream stages all recompute the same partition/row set
    val down = rows.filter(_._1 >= ScaleOps.BackfillStage)
    assert(down.nonEmpty && down.map(_._3).distinct.length == 1)
    assert(down.map(_._4).distinct.length == 1)
    // cumulative cost is the running sum of per-stage costs
    var cum = 0L
    rows.foreach { r => cum += r._5; assert(r._6 == cum, s"cum: $r") }
    // the targeted backfill always beats the full-history rebuild
    down.foreach(r => assert(r._7 > 0 && r._7 < 1, s"share: $r"))
  }

  test("q306 assoc rules: the planted promo rule is the only certain association") {
    val rows = AnalyticsOps.assocRules(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8), r.getBoolean(9))).toMap
    // the plant: promo appears in exactly the purchase baskets, so
    // both directed rules have confidence 1 and identical counts
    val pp = rows(("promo", "purchase"))
    val pr = rows(("purchase", "promo"))
    assert(pp._6 == 1.0 && pr._6 == 1.0, s"planted conf: $pp $pr")
    assert(pp._1 == pr._1 && pp._2 == pp._3 && pp._8 && pr._8)
    // the planted lift is the maximum in the table
    val maxLift = rows.values.map(_._7).max
    assert(pp._7 == maxLift, s"plant not max lift: ${pp._7} vs $maxLift")
    rows.foreach { case (k, r) =>
      // accounting: support/confidence/lift consistent with counts
      assert(math.abs(r._5 - r._1.toDouble / r._4) < 1e-5, s"$k support")
      assert(math.abs(r._6 - r._1.toDouble / r._2) < 1e-5, s"$k conf")
      assert(math.abs(r._7 - r._6 * r._4 / r._3) < 1e-4, s"$k lift")
      assert(r._8 == (r._7 > AnalyticsOps.ArLiftFlag), s"$k flag")
      // symmetry: A→B and B→A share the pair count
      assert(rows(k.swap)._1 == r._1, s"$k asymmetric n_both")
    }
  }

  test("q307 triangle census: global count matches a brute-force count of the edge list") {
    val edges = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val brute = edges.toSeq.map { case (a, b) =>
      // count common neighbors above b among a's and b's successors —
      // each triangle {a<b<c} found once via its (a,b) edge
      adj.getOrElse(a, Set.empty[Long])
        .count(c => c > b && edges.contains((b, c)))
    }.sum
    val out = GraphOps.triangleCensus(spark, dir).collect()
    assert(out.nonEmpty)
    val global = out.head.getLong(4)
    assert(out.forall(_.getLong(4) == global), "global count varies")
    assert(global == brute, s"census $global != brute $brute")
    // per-node closures sum to 3 triangles each
    assert(out.map(_.getLong(2)).sum == 3 * global)
    // node accounting: every band's nodes counted once, totals = |V|
    val nNodes = edges.flatMap(e => Seq(e._1, e._2)).size
    assert(out.map(_.getLong(1)).sum == nNodes)
    // coefficients are probabilities
    out.foreach { r =>
      if (!r.isNullAt(3))
        assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1, s"cc: $r")
      assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1, s"trans: $r")
    }
  }

  test("q308 pca power: matches a driver-side replica and returns a unit vector") {
    val rows = SimilarityOps.pcaPower(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rows.length == VecSql.Dims)
    // unit loading vector (up to output rounding)
    val norm2 = rows.map(r => r._2 * r._2).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"||v||² = $norm2")
    assert(rows.forall(r => r._3 == rows.head._3 && r._4 == rows.head._4))
    assert(rows.head._3 > 0 && rows.head._4 > 0 && rows.head._4 <= 1)
    // driver-side replica: identical fixed-point power iteration
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(_.getSeq[Double](0).toArray)
    var v = Array.fill(VecSql.Dims)(0.125)
    var nrm = 0.0
    for (_ <- 1 to SimilarityOps.PcaIters) {
      val ufp = Array.fill(VecSql.Dims)(0L)
      emb.foreach { x =>
        val y = (0 until VecSql.Dims).map(j => x(j) * v(j)).sum
        (0 until VecSql.Dims).foreach(j =>
          ufp(j) += math.floor(x(j) * y * 1e12).toLong)
      }
      val u = ufp.map(_.toDouble / 1e12)
      nrm = math.sqrt(u.map(x => x * x).sum)
      v = u.map(_ / nrm)
    }
    rows.foreach { case (d, loading, eig, _) =>
      assert(math.abs(loading - v(d.toInt - 1)) < 1e-5,
        s"dim $d: $loading vs ${v(d.toInt - 1)}")
      assert(math.abs(eig - nrm) < 1e-3, s"eigval $eig vs $nrm")
    }
  }

  test("q309 gate fairness: DI is relative to the best source and gaps balance") {
    val rows = CurationOps.gateFairness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7), r.getDouble(8), r.getDouble(9)))
    assert(rows.nonEmpty)
    // exactly the best-selected source(s) sit at DI = 1; none above
    assert(rows.map(_._7).max == 1.0)
    rows.foreach { r =>
      assert(r._7 > 0 && r._7 <= 1.0, s"di range: $r")
      assert(r._8 == (r._7 >= CurationOps.FourFifths - 1e-9), s"flag: $r")
      assert(r._5 <= r._4 && r._4 <= r._2 && r._3 <= r._2, s"counts: $r")
      assert(math.abs(r._6 - r._3.toDouble / r._2) < 1e-5, s"sel: $r")
    }
    // equal-opportunity gaps are deviations from the pooled rate:
    // the n_qual-weighted gap sum is zero (up to rounding)
    val wGap = rows.map(r => r._4 * r._10).sum
    val nQual = rows.map(_._4).sum
    assert(math.abs(wGap / nQual) < 1e-4, s"weighted gap $wGap/$nQual")
  }

  test("q310 acf whiteness: the periodic plant fails exactly at its period") {
    val rows = TimeSeriesOps.acfWhiteness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    val byType = rows.groupBy(_._1)
    assert(byType.contains("bursty"))
    // the dow-0 tripled plant: strong positive lag-7 autocorrelation
    // that blows the portmanteau test at df = 7
    val b7 = byType("bursty").find(_._2 == 7L).get
    assert(b7._4 > 0.3, s"planted r7 weak: $b7")
    assert(!b7._7, s"plant passed whiteness: $b7")
    byType.foreach { case (et, rs) =>
      assert(rs.length == TimeSeriesOps.AcfMaxLag, s"$et lag rows")
      // Q accumulates non-negative terms: monotone in lag
      rs.sortBy(_._2).map(_._5).sliding(2).foreach(p =>
        if (p.length == 2) assert(p(0) <= p(1) + 1e-9, s"$et Q not monotone"))
      rs.foreach { r =>
        assert(r._4 >= -1.0 - 1e-9 && r._4 <= 1.0 + 1e-9, s"$et acf: $r")
        assert(r._7 == (r._5 <= r._6), s"$et flag: $r")
      }
    }
    // plain daily noise: the majority of raw streams stay white
    val plain = byType.filter(_._1 != "bursty")
    val nWhite = plain.count(_._2.forall(_._7))
    assert(nWhite * 2 > plain.size, s"only $nWhite/${plain.size} white")
  }

  test("q311 isotonic: matches a stack-based PAV replica and is monotone") {
    val rows = MixtureOps.isotonicCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).sortBy(_._1)
    assert(rows.nonEmpty)
    // monotone nondecreasing fit — the defining property
    rows.map(_._5).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) <= p(1) + 1e-9, "fit not monotone"))
    rows.foreach { r =>
      assert(math.abs(r._4 - r._3.toDouble / r._2) < 1e-5, s"raw: $r")
      assert(r._6 == (r._5 != r._4), s"pooled flag: $r")
    }
    // classic pool-adjacent-violators replica on the same bin stats
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    rows.foreach { r =>
      blocks += ((r._3, r._2)) // (pass, docs)
      while (blocks.length >= 2 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a._1.toDouble / a._2 > b._1.toDouble / b._2
      }) {
        val b = blocks.remove(blocks.length - 1)
        val a = blocks.remove(blocks.length - 1)
        blocks += ((a._1 + b._1, a._2 + b._2))
      }
    }
    // walk bins against merged blocks via cumulative doc counts
    var bi = 0; var used = 0L
    rows.foreach { r =>
      val (bp, bn) = blocks(bi)
      val expect = bp.toDouble / bn
      assert(math.abs(r._5 - expect) < 1e-6,
        s"bin ${r._1}: iso ${r._5} != PAV $expect")
      used += r._2
      if (used == bn) { bi += 1; used = 0L }
      else assert(used < bn, s"block overrun at bin ${r._1}")
    }
  }

  test("q312 js matrix: brute-force replica on one pair, bounds hold") {
    val rows = ProfileOps.jsDivergenceMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7)))
    assert(rows.nonEmpty)
    val ln2 = math.log(2.0)
    rows.foreach { r =>
      assert(r._1 < r._2, s"pair order: $r")
      assert(r._6 >= 0 && r._6 <= ln2 + 1e-9, s"js bounds: $r")
      assert(r._7 >= 0 && r._7 <= 1 + 1e-9, s"js_norm: $r")
      assert(r._4 > 0 && r._4 <= 1 && r._5 > 0 && r._5 <= 1, s"mass: $r")
    }
    assert(rows.count(_._8) >= 1, "no most_divergent flagged")
    assert(rows.filter(_._8).forall(f => rows.forall(_._6 <= f._6)))
    // brute-force replica of the FIRST pair from raw token counts,
    // identical arithmetic (frozen contributions + closed-form tail)
    val (sa, sb) = (rows.head._1, rows.head._2)
    val cnt = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "explode(split(text, ' ')) AS w")
      .groupBy("source", "w").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val tot = cnt.groupBy(_._1._1).map { case (s0, m) => s0 -> m.values.sum }
    val shared = cnt.keys.filter(_._1 == sa).map(_._2)
      .filter(w => cnt.contains((sb, w))).toSeq
    var fp = 0L; var ca = 0L; var cb = 0L
    shared.foreach { w =>
      val pa = cnt((sa, w)).toDouble / tot(sa)
      val pb = cnt((sb, w)).toDouble / tot(sb)
      val m = (pa + pb) * 0.5
      fp += math.floor(
        0.5 * (pa * math.log(pa / m) + pb * math.log(pb / m)) * 1e9).toLong
      ca += cnt((sa, w)); cb += cnt((sb, w))
    }
    val js = fp.toDouble / 1e9 + 0.5 * ln2 *
      (2.0 - ca.toDouble / tot(sa) - cb.toDouble / tot(sb))
    assert(math.abs(rows.head._6 - js) < 1e-6,
      s"brute $js vs ${rows.head._6}")
    assert(rows.head._3 == shared.size)
  }

  test("q313 ranker agreement: BM25 side matches q147's run, metrics consistent") {
    val k = MlPrepOps.RankAgreeK
    val rows = MlPrepOps.rankerAgreement(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == MlPrepOps.Bm25Queries)
    rows.foreach { r =>
      assert(r._3 >= 0 && r._3 <= k, s"overlap: $r")
      assert(math.abs(r._4 - r._3.toDouble / (2 * k - r._3)) < 1e-5)
      assert(r._5 <= r._3 * (k - 1), s"footrule bound: $r")
      if (r._6) assert(r._3 >= 1, s"top1 without overlap: $r")
    }
    // the BM25 ranking inside the audit IS q147's: same top-k sets
    val q147 = MlPrepOps.bm25TopK(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2))).groupBy(_._1)
      .map { case (t, v) => t -> v.map(_._2).toSet }
    assert(rows.map(_._1).toSet == q147.keySet)
  }

  test("q314 personalized pagerank: teleport mass pins the seeds on top") {
    val rows = GraphOps.personalizedPageRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    assert(rows.length == GraphOps.TopK)
    rows.foreach(r => assert(r._2 > 0, s"nonpositive ppr: $r"))
    // all seeds surface, and the seed floor (0.15·|V|/|S| of teleport
    // mass every iteration) dominates any damped non-seed inflow
    val seeds = rows.filter(_._3)
    assert(seeds.length == GraphOps.PprSeeds, s"seeds missing: $seeds")
    val minSeed = seeds.map(_._2).min
    val maxNon = rows.filterNot(_._3).map(_._2).max
    assert(minSeed > maxNon, s"seed floor broken: $minSeed <= $maxNon")
    // output is rank-ordered
    rows.map(_._2).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) >= p(1)))
  }

  test("q315 edit verify: decile identities hold and verifiers disagree only mid-band") {
    val rows = DedupOps.editVerify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // decile = floor(jaccard·10) makes the token verdict an identity
      // of the bucketing: every pair in deciles ≥ 5 is a token dup
      if (r._1 >= 5) assert(r._5 == r._2, s"jac verdict identity: $r")
      else assert(r._5 == 0, s"jac verdict identity: $r")
      assert(r._6 >= 0 && r._6 <= r._2 && r._7 >= 0 && r._7 <= r._2)
      assert(r._8 >= 0 && r._8 <= 1)
      assert(r._3 >= r._1 / 10.0 - 1e-9 && r._3 < (r._1 + 1) / 10.0 + 0.1,
        s"avg jaccard outside decile: $r")
    }
    // per-decile means rise with the decile on both metrics
    rows.sortBy(_._1).sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0)._3 <= p(1)._3 + 1e-9, "jaccard not monotone")
      }
    }
    // the graded corpus puts near-identical pairs on top: the top
    // decile must be a full-agreement dup band
    val top = rows.maxBy(_._1)
    assert(top._1 == 9 && top._6 == top._2 && top._7 == top._2)
  }

  test("q316 distill stump: f_words split matches a driver-side replica") {
    val rows = TrainPrepOps.distillStump(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getBoolean(7))).toMap
    assert(rows.keySet == Set("f_words", "f_mwl", "f_stop"))
    val nTotal = rows.values.head._3 + rows.values.head._4
    rows.foreach { case (f, r) =>
      assert(r._2 >= -1e-12, s"$f negative gain")
      assert(r._3 + r._4 == nTotal, s"$f split doesn't partition")
      assert(r._5 >= 0 && r._5 <= 1 && r._6 >= 0 && r._6 <= 1)
    }
    assert(rows.values.count(_._7) >= 1, "no best_overall")
    // replica: exact histogram split finding on collected (words, y)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(MixtureOps.logitOf.geq(0L).as("y"),
        graft.operators.TextOps.wsTokenCount(col("text"))
          .cast("double").as("x"))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1)))
    val (lo, hi) = (docs.map(_._2).min, docs.map(_._2).max)
    val rng = if (hi == lo) 1.0 else hi - lo
    val b = TrainPrepOps.StumpBins
    val bins = docs.groupBy(d =>
      math.min(b - 1L, math.floor((d._2 - lo) * b / rng).toLong))
    val cells = (0L until b.toLong).map { i =>
      val v = bins.getOrElse(i, Array.empty[(Boolean, Double)])
      (v.length.toLong, v.count(_._1).toLong)
    }
    val nt = cells.map(_._1).sum; val pt = cells.map(_._2).sum
    def gini(p: Long, n: Long) =
      if (n == 0) 0.0 else 2.0 * (p.toDouble / n) * (1.0 - p.toDouble / n)
    var best = (-1.0, -1L)
    var (nl, pl) = (0L, 0L)
    (0 until b - 1).foreach { i =>
      nl += cells(i)._1; pl += cells(i)._2
      if (nl > 0 && nl < nt) {
        val gain = gini(pt, nt) - (nl.toDouble / nt) * gini(pl, nl) -
          ((nt - nl).toDouble / nt) * gini(pt - pl, nt - nl)
        if (gain > best._1) best = (gain, i.toLong)
      }
    }
    val expectThr = lo + (best._2 + 1).toDouble * rng / b
    val got = rows("f_words")
    assert(math.abs(got._1 - expectThr) < 1e-6,
      s"threshold ${got._1} vs $expectThr")
    assert(math.abs(got._2 - best._1) < 1e-6, s"gain ${got._2} vs $best")
  }

  test("q317 cap recall: the planted hot buckets cost recall, and only they do") {
    val rows = DedupOps.capRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // candidates arise only through shared bands: found ⊆ captured
      assert(r._4 <= r._3 && r._3 <= r._2, s"found beyond capture: $r")
      assert(r._6 <= r._5 + 1e-9, s"production above ceiling: $r")
      assert(r._7 == r._3 - r._4, s"cap_lost accounting: $r")
      assert(r._1 >= 5, s"sub-threshold truth pair leaked in: $r")
    }
    // the hot-bucket plant must actually bite...
    val lost = rows.map(_._7).sum
    assert(lost > 0, "plant did not heat any bucket")
    // ...and its bill is bounded by the planted bases' truth pairs
    assert(lost <= DedupOps.PlantHotBases * 5L, s"lost $lost too high")
    // signature capture follows the S-curve: nondecreasing in decile
    rows.sortBy(_._1).map(_._5).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(0) <= p(1) + 0.05, "capture not S-shaped"))
    assert(rows.maxBy(_._1)._5 > 0.9, "near-identical pairs not captured")
  }

  test("q318 pca deflation: unit orthogonal pair matching a driver replica") {
    val rows = SimilarityOps.pcaDeflation(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.length == VecSql.Dims)
    val h = rows.head
    assert(h._4 >= h._5 && h._5 > 0, s"eigvals unordered: $h")
    assert(h._6 < 1e-5, s"not orthogonal: ${h._6}")
    assert(math.abs(rows.map(r => r._2 * r._2).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(r => r._3 * r._3).sum - 1.0) < 1e-4)
    // driver replica of BOTH iterations (identical fixed-point math)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(_.getSeq[Double](0).toArray)
    val dims = VecSql.Dims
    def rawUpdate(v: Array[Double]): Array[Double] = {
      val ufp = Array.fill(dims)(0L)
      emb.foreach { x =>
        val y = (0 until dims).map(j => x(j) * v(j)).sum
        (0 until dims).foreach(j =>
          ufp(j) += math.floor(x(j) * y * 1e12).toLong)
      }
      ufp.map(_.toDouble / 1e12)
    }
    def normalize(u: Array[Double]): (Array[Double], Double) = {
      val n = math.sqrt(u.map(x => x * x).sum); (u.map(_ / n), n)
    }
    var v = Array.fill(dims)(0.125); var la = 0.0
    for (_ <- 1 to SimilarityOps.PcaIters) {
      val (nv, n) = normalize(rawUpdate(v)); v = nv; la = n
    }
    var w = Array.tabulate(dims)(i =>
      if ((i + 1) % 2 == 0) 0.125 else -0.125)
    var lb = 0.0
    for (_ <- 1 to SimilarityOps.PcaIters) {
      val u = rawUpdate(w)
      val proj = (0 until dims).map(j => v(j) * u(j)).sum
      val (nw, n) = normalize(
        Array.tabulate(dims)(j => u(j) - proj * v(j)))
      w = nw; lb = n
    }
    val (e1, e2, p1, p2) =
      if (lb > la) (lb, la, w, v) else (la, lb, v, w)
    assert(math.abs(h._4 - e1) < 1e-3 && math.abs(h._5 - e2) < 1e-3)
    rows.foreach { r =>
      assert(math.abs(r._2 - p1(r._1.toInt - 1)) < 1e-5, s"pc1 dim ${r._1}")
      assert(math.abs(r._3 - p2(r._1.toInt - 1)) < 1e-5, s"pc2 dim ${r._1}")
    }
  }

  test("q319 lpa communities: matches a driver-side synchronous LPA replica") {
    val und = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (und.map(e => e._1 -> e._2) ++ und.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LpaIters) {
      lbl = adj.map { case (n, ns) =>
        val cnt = ns.groupBy(lbl).map { case (l, v) => l -> v.size }
        val mx = cnt.values.max
        n -> cnt.filter(_._2 == mx).keys.min
      }
    }
    val sizes = lbl.values.groupBy(identity).map(_._2.size.toLong)
    val m = und.length.toLong
    val deg = adj.map { case (n, ns) => n -> ns.size.toLong }
    val qExp = lbl.values.toSeq.distinct.map { c =>
      val members = lbl.filter(_._2 == c).keySet
      val mc = und.count(e => members(e._1) && members(e._2)).toLong
      val dc = members.toSeq.map(deg).sum
      math.floor((mc.toDouble / m -
        (dc.toDouble / (2.0 * m)) * (dc.toDouble / (2.0 * m))) * 1e9)
        .toLong
    }.sum / 1e9
    val rows = GraphOps.lpaCommunities(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    assert(rows.head._5 == sizes.size.toLong,
      s"community count ${rows.head._5} vs replica ${sizes.size}")
    assert(rows.map(_._2).sum == sizes.size.toLong)
    assert(rows.map(_._3).sum == adj.size.toLong, "node accounting")
    assert(rows.map(_._4).sum <= m, "intra edges exceed m")
    assert(math.abs(rows.head._6 - math.rint(qExp * 1e6) / 1e6) < 2e-6,
      s"modularity ${rows.head._6} vs replica $qExp")
    assert(rows.head._6 > -0.5 && rows.head._6 < 1.0)
  }

  test("q320 shingle width: wider shingles depress jaccard at every grade") {
    val rows = DedupOps.shingleWidthCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    val widths = DedupOps.ShingleWidths.map(_.toLong)
    val grades = rows.keys.map(_._2).toSeq.distinct.sorted
    assert(grades.nonEmpty && rows.keys.map(_._1).toSet == widths.toSet)
    // the knob's effect: for a fixed pair set, measured J is monotone
    // NON-INCREASING in shingle width (a k-word edit breaks ~k·w grams)
    grades.foreach { g =>
      widths.sliding(2).foreach { p =>
        if (p.length == 2 && rows.contains((p(0), g)) &&
          rows.contains((p(1), g)))
          assert(rows((p(0), g))._2 >= rows((p(1), g))._2 - 1e-6,
            s"grade $g: J rose with width ${p(1)}")
      }
    }
    // grade semantics: drop-k variants decrease in J with k (1..4);
    // grade 5 (drop-first-word) is the most similar
    widths.foreach { w =>
      (1L to 3L).foreach { g =>
        if (rows.contains((w, g)) && rows.contains((w, g + 1)))
          assert(rows((w, g))._2 > rows((w, g + 1))._2,
            s"width $w: grades not graded")
      }
      assert(rows((w, 5L))._2 > rows((w, 1L))._2, s"width $w grade 5")
    }
    rows.foreach { case (k, r) =>
      assert(r._3 <= r._1 && r._4 >= 0 && r._4 <= 1, s"$k verdicts")
      assert(math.abs(r._4 - r._3.toDouble / r._1) < 1e-5, s"$k rate")
    }
  }

  test("q321 mi ranking: matches a driver-side replica and orders like the data") {
    val rows = TrainPrepOps.miRanking(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("f_words", "f_mwl", "f_stop"))
    val hy = rows.values.head._3
    rows.values.foreach { r =>
      assert(r._3 == hy, "H(Y) must be feature-independent")
      assert(r._2 >= -1e-6, "MI negative beyond freeze error")
      assert(math.abs(r._4 - r._2 / r._3) < 1e-4, "uncertainty coef")
    }
    // ranks are the MI ordering
    val byMi = rows.toSeq.sortBy(-_._2._2).map(_._1)
    byMi.zipWithIndex.foreach { case (f, i) =>
      assert(rows(f)._1 == i + 1, s"$f rank ${rows(f)._1} != ${i + 1}")
    }
    // driver replica for f_words: same binning, same frozen MI
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(MixtureOps.logitOf.geq(0L).as("y"),
        graft.operators.TextOps.wsTokenCount(col("text"))
          .cast("double").as("x"))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1)))
    val (lo, hi) = (docs.map(_._2).min, docs.map(_._2).max)
    val rng = if (hi == lo) 1.0 else hi - lo
    val b = TrainPrepOps.StumpBins
    val cells = docs.groupBy(d => (math.min(b - 1L,
      math.floor((d._2 - lo) * b / rng).toLong), d._1))
      .map { case (k, v) => k -> v.length.toLong }
    val n = docs.length.toLong
    val nB = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val nY = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    val miFp = cells.map { case ((bin, y), nby) =>
      math.floor((nby.toDouble / n) *
        math.log(nby.toDouble * n / (nB(bin).toDouble * nY(y))) * 1e9)
        .toLong
    }.sum
    assert(math.abs(rows("f_words")._2 - miFp / 1e9) < 2e-6,
      s"f_words MI ${rows("f_words")._2} vs replica ${miFp / 1e9}")
  }

  test("q322 rate limit: exactly matches an integer driver replica") {
    val got = ScaleOps.rateLimitReplay(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    // replica: the same integer recurrence over driver-sorted events
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
      .sortBy(e => (e._1, e._2, e._3))
    val cap = ScaleOps.RlBurst * ScaleOps.RlTokenUs
    val unit = ScaleOps.RlTokenUs
    var user = Long.MinValue; var tokens = 0L; var prev = 0L
    val adm = scala.collection.mutable.Map.empty[String, (Long, Long)]
    ev.foreach { case (u, us, _, et) =>
      if (u != user) { user = u; tokens = cap }
      else tokens = math.min(cap, tokens + (us - prev))
      prev = us
      val ok = tokens >= unit
      if (ok) tokens -= unit
      val (n, a) = adm.getOrElse(et, (0L, 0L))
      adm(et) = (n + 1, a + (if (ok) 1L else 0L))
    }
    assert(got.keySet == adm.keySet)
    adm.foreach { case (et, (n, a)) =>
      val g = got(et)
      assert(g._1 == n && g._2 == a && g._3 == n - a,
        s"$et: $g vs replica ($n, $a)")
    }
    // the throttle must BIND on the fixture — a vacuous all-admit
    // replay audits nothing
    assert(got.values.map(_._3).sum > 0, "no rejections — limiter vacuous")
  }
  test("q323 repetition: planted loops flagged high, natural corpus clean, identities hold") {
    val rows = TextOps.repetitionAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getBoolean(7)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r._3 <= r._2 && r._6 <= r._5.toDouble, s"distinct > total: $r")
      assert(r._4 >= 0 && r._4 <= 1 && r._7 >= 0 && r._7 <= 1)
    }
    val planted = rows.filter(_._1 >= TextOps.RepLoopOffset)
    assert(planted.nonEmpty)
    planted.foreach(r => assert(r._8 && r._4 >= 0.8,
      s"planted loop not flagged: $r"))
    val natural = rows.filter(_._1 < TextOps.RepLoopOffset)
    natural.foreach(r => assert(!r._8 && r._4 < TextOps.RepFlagTau,
      s"natural doc flagged: $r"))
    // every planted loop corresponds to a %9 base doc
    assert(planted.map(_._1 - TextOps.RepLoopOffset).toSet ==
      natural.map(_._1).filter(_ % 9 == 0).toSet)
  }

  test("q324 surprisal matches a driver-side exact replica") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (t, v) =>
      t -> v.length.toLong }
    val total = freq.values.sum.toDouble
    val expect = docs.map { case (id, toks) =>
      val ssum = toks.map(t =>
        math.floor(-math.log(freq(t) / total) * 1e9).toLong).sum
      id -> (toks.length.toLong,
        BigDecimal(ssum / 1e9 / toks.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = TextOps.unigramSurprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, (n, sv)) =>
      assert(n == expect(id)._1, s"doc $id token count")
      assert(math.abs(sv - expect(id)._2) <= 1e-6, s"doc $id surprisal " +
        s"$sv vs ${expect(id)._2}")
    }
  }

  test("q325 pii audit: planted docs are the exact flagged population per source") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.groupBy(_._2).map { case (src, v) =>
      src -> (v.length.toLong, v.count(_._1 % 7 == 0).toLong) }
    val got = TextOps.piiAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (src, (nDocs, nPii, nEm, nPh, chars, rate)) =>
      assert(nDocs == expect(src)._1)
      assert(nPii == expect(src)._2, s"$src planted population")
      // exactly one planted email + phone per pii doc, nothing invented
      assert(nEm == nPii && nPh == nPii, s"$src hit counts")
      assert((chars > 0) == (nPii > 0), s"$src redacted mass")
      assert(math.abs(rate - nPii.toDouble / nDocs) <= 5e-7)
    }
  }

  test("q326 snapshot diff matches the planted mutation census") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.groupBy(_._2).flatMap { case (src, v) =>
      val removed = v.count(_._1 % 11 == 3).toLong
      val added = v.count(_._1 % 13 == 0).toLong
      val changed = v.count(d => d._1 % 11 != 3 && d._1 % 5 == 0).toLong
      val unchanged = v.length - removed - changed
      Seq((src, "added", added), (src, "changed", changed),
        (src, "removed", removed), (src, "unchanged", unchanged.toLong))
        .filter(_._3 > 0)
    }.toSet
    val got = ScaleOps.snapshotDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expect,
      s"diff census mismatch: missing ${expect.diff(got)}, extra ${got.diff(expect)}")
    // all four classes must be populated corpus-wide
    assert(got.map(_._2) == Set("added", "changed", "removed", "unchanged"))
  }

  test("q327 perm curve: sketch noise shrinks with k; conditioning bias positive and monotone") {
    val rows = DedupOps.permCountCurve(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == DedupOps.PermCounts.map(_.toLong))
    // same candidate pairs under every k — the sweep rides one frame
    assert(rows.map(_._2._1).distinct.length == 1)
    rows.foreach { case (k, (n, mae, bias)) =>
      assert(n > 0 && mae >= 0, s"k=$k")
      assert(bias > 0, s"k=$k: candidate-conditioning bias must be " +
        s"positive (pairs enter by sharing a band), got $bias")
    }
    val byK = rows.toMap
    // more permutations -> strictly less sketch noise on this fixture
    assert(byK(4L)._2 > byK(8L)._2 && byK(8L)._2 > byK(16L)._2,
      s"mean_abs_err not decreasing in k: $rows")
    assert(byK(4L)._3 >= byK(16L)._3,
      s"bias should shrink as k grows: $rows")
  }
  test("q328 gibberish gate: native byte loop matches a driver replica; plants flagged, corpus clean") {
    val rows = TextOps.gibberishGate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    // driver-side exact replica over the same planted corpus
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = base ++ base.filter(_._1 % 17 == 0).map { case (id, t) =>
      (id + TextOps.GibberishOffset, "z" * t.length) }
    assert(rows.keySet == corpus.map(_._1).toSet)
    corpus.foreach { case (id, text) =>
      val counts = text.groupBy(identity).map(_._2.length.toLong)
      val n = text.length.toLong
      val sumsq = counts.map(k => k * k).sum
      var maxRun = 0L; var run = 0L; var prev = '\u0000'
      text.foreach { ch =>
        if (ch == prev) run += 1 else { prev = ch; run = 1 }
        if (run > maxRun) maxRun = run
      }
      val divPpm = ((n * n - sumsq) * 1000000L) / (n * n)
      val (gn, gc, gd, gr, gf) = rows(id)
      assert(gn == n && gc == counts.size && gd == divPpm && gr == maxRun,
        s"doc $id: got ($gn,$gc,$gd,$gr) want ($n,${counts.size},$divPpm,$maxRun)")
      assert(gf == (divPpm < TextOps.GibDivFloorPpm ||
        maxRun >= TextOps.GibMaxRun), s"doc $id flag")
    }
    // plants all flagged, natural docs all clean
    rows.foreach { case (id, v) =>
      assert(v._5 == (id >= TextOps.GibberishOffset), s"doc $id")
    }
  }

  test("q329 quantile accuracy: every sketch setting honors its rank-error contract; bounds tighten with accuracy") {
    val rows = ProfileOps.quantileAccuracy(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(rows.map(_._1).toSeq ==
      ProfileOps.QuantAccuracies.map(_.toLong))
    rows.foreach { case (acc, tol, med, lo, hi, ok) =>
      assert(ok, s"accuracy=$acc sketch broke its contract")
      assert(lo <= med && med <= hi, s"accuracy=$acc bounds disordered")
      assert(tol >= 1, s"accuracy=$acc tol")
    }
    // higher accuracy -> smaller rank tolerance -> bounds no wider
    rows.sliding(2).foreach { p =>
      if (p.length == 2) {
        assert(p(0)._2 >= p(1)._2, "tolerance must shrink with accuracy")
        assert(p(0)._5 - p(0)._4 >= p(1)._5 - p(1)._4 - 1e-9,
          "value bounds must tighten with accuracy")
      }
    }
  }

  test("q330 negative table: weights match pow replica; ranges partition [0, total)") {
    val rows = TrainPrepOps.negativeTable(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().flatMap(_.getString(0).split(" "))
    val freq = toks.groupBy(identity).map { case (t, v) =>
      t -> v.length.toLong }
    assert(rows.map(_._1).toSet == freq.keySet)
    rows.foreach { case (t, cnt, wfp, _, _, _) =>
      assert(cnt == freq(t), s"$t cnt")
      assert(wfp ==
        math.floor(math.pow(cnt.toDouble, 0.75) * 1e9).toLong, s"$t w_fp")
    }
    val total = rows.map(_._3).sum
    // half-open ranges tile [0, total) in token order with no gaps
    val sorted = rows.sortBy(_._1)
    assert(sorted.head._5 == 0L)
    assert(sorted.last._6 == total)
    sorted.sliding(2).foreach { p =>
      if (p.length == 2) assert(p(0)._6 == p(1)._5,
        s"gap between ${p(0)._1} and ${p(1)._1}")
    }
    rows.foreach { case (t, _, wfp, ppm, lo, hi) =>
      assert(hi - lo == wfp, s"$t range width")
      assert(ppm == wfp * 1000000L / total, s"$t ppm")
    }
  }

  // --- round 11: q331–q336 ------------------------------------------------

  test("Aho–Corasick automaton pins greedy-leftmost non-overlapping (replace) semantics") {
    import graft.functions.MultiMatch
    val a = new MultiMatch.Automaton(Seq("aa", "hash", "custom", "customer"))
    def st(s: String) = {
      val r = a.stats(s.getBytes("UTF-8"))
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // bordered pattern: "aa" in "aaaa" → 2 (replace semantics), not the
    // 3 overlapping automaton ends
    assert(st("aaaa") == ((2L, 1L, 2L)))
    // "hash" occurs at 0 and (overlapping) 3 → 1 counted
    assert(st("hashash") == ((1L, 1L, 1L)))
    // nested patterns count independently at the same end position
    assert(st("customer") == ((2L, 2L, 1L)))
    assert(st("xyz") == ((0L, 0L, 0L)))
    assert(st("") == ((0L, 0L, 0L)))
  }

  test("q333 native blocklist audit equals the |patterns|-scan replace form exactly") {
    val fast = TextOps.blocklistAudit(spark, dir).collect()
      .map(_.toSeq).toSeq
    val slow = TextOps.blocklistAuditNaive(spark, dir).collect()
      .map(_.toSeq).toSeq
    assert(fast == slow)
    // the never-occurring probe pattern contributes nothing anywhere:
    // distinct-pattern mean stays below |blocklist|
    val nPat = graft.functions.MultiMatch.Blocklist.length
    fast.foreach(r =>
      assert(r(3).asInstanceOf[Double] < nPat.toDouble))
  }

  test("q331 NB classifier: confusion covers the held-out split; scores sign-consistent") {
    val rows = MlPrepOps.nbClassifier(spark, dir).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3)))
    val nTest = spark.read.parquet(s"$dir/documents.parquet")
      .filter("doc_id % 5 = 0").count()
    assert(rows.map(_._3).sum == nTest)
    // per-cell mean log-odds must agree in sign with the prediction the
    // cell was routed by (means of same-sign values keep the sign)
    rows.foreach { case (_, pred, _, mean) =>
      assert(if (pred) mean >= 0.0 else mean < 0.0)
    }
    // both predicted classes are populated (the gate is not degenerate)
    assert(rows.filter(_._2).map(_._3).sum > 0)
    assert(rows.filterNot(_._2).map(_._3).sum > 0)
  }

  test("q332 logreg GD: per-iteration loss strictly decreases from the ln2 start") {
    val rows = MlPrepOps.logregGd(spark, dir).orderBy("iter").collect()
    assert(rows.length == MlPrepOps.LogRegIters)
    val losses = rows.map(_.getDouble(4))
    assert(losses.head < math.log(2.0)) // one step already beats w = 0
    losses.sliding(2).foreach { p =>
      if (p.length == 2) assert(p(1) < p(0),
        s"loss did not decrease: ${p.mkString(" -> ")}")
    }
    rows.foreach(r => assert(r.getDouble(5) >= 0.5)) // ≥ majority-ish
  }

  test("q334 ppl buckets: terciles per language, shares sum to 1, head ≤ tail surprisal") {
    val rows = TextOps.pplBuckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(4), r.getDouble(5)))
    val byLang = rows.groupBy(_._1)
    byLang.foreach { case (lang, bs) =>
      assert(bs.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L), lang)
      assert(math.abs(bs.map(_._5).sum - 1.0) < 1e-5, lang)
      // ntile balance: bucket sizes differ by at most 1
      assert(bs.map(_._3).max - bs.map(_._3).min <= 1, lang)
      // ranking actually stratifies: head (1) mean ≤ tail (3) mean
      val m = bs.map(b => b._2 -> b._4).toMap
      assert(m(1L) <= m(3L), lang)
    }
  }

  test("q337 b-bit minhash: error shrinks monotonically with b; estimates bracket full width") {
    val rows = DedupOps.bbitTradeoff(spark, dir).orderBy("b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == DedupOps.BbitGrid.map(_._1.toLong))
    rows.foreach { case (b, bits, nPairs, _, _, _) =>
      assert(bits == b * DedupOps.NumPerms)
      assert(nPairs == 500L)
    }
    // the full-width estimate is b-independent (same pairs, same sigs)
    assert(rows.map(_._4).distinct.length == 1)
    // Li–König correction: mean |error| non-increasing in b, near zero
    // at b=8 (collision prob 1/256 per slot)
    val errs = rows.map(_._6)
    errs.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) <= p(0), errs.mkString(",")))
    assert(errs.last < 0.01, s"b=8 err ${errs.last}")
  }

  test("q340 PRF expansions: exclude the query term, capped per query, weights ranked") {
    val rows = MlPrepOps.prfExpansion(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == MlPrepOps.Bm25Queries)
    byQ.foreach { case (q, es) =>
      assert(es.length == MlPrepOps.PrfExpansions, q)
      assert(es.forall(_._3 != q), s"$q expanded to itself")
      assert(es.map(_._2).sorted.toSeq ==
        (1L to MlPrepOps.PrfExpansions.toLong), q)
      // weights non-increasing in rank; every expansion came from at
      // least one feedback doc and at most the whole feedback set
      val sorted = es.sortBy(_._2)
      sorted.sliding(2).foreach(p =>
        if (p.length == 2) assert(p(1)._5 <= p(0)._5, q))
      es.foreach(e => assert(e._4 >= 1L && e._4 <= MlPrepOps.Bm25TopK, q))
    }
  }

  test("q341 count-sketch and count-min match a driver-side sketch replay; CMS one-sided, CS two-sided") {
    def fp60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val ks = EtlOps.events(spark, dir)
      .selectExpr("CAST(floor(sqrt(event_id % 10000)) AS BIGINT) AS k")
      .collect().map(_.getLong(0))
    val d = ProfileOps.CsDepth
    val wd = ProfileOps.CsWidth
    val cm = Array.ofDim[Long](d, wd)
    val cs = Array.ofDim[Long](d, wd)
    ks.foreach { k =>
      (0 until d).foreach { j =>
        val h = (fp60(s"$j:$k") % wd).toInt
        val sg = if (fp60(s"s$j:$k") % 2 == 0) 1L else -1L
        cm(j)(h) += 1L
        cs(j)(h) += sg
      }
    }
    val exact = ks.groupBy(identity).view.mapValues(_.length.toLong)
    val rows = ProfileOps.countSketchAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == exact.size)
    rows.foreach { case (k, exN, cmsEst, csEst, cmsErr, csErr) =>
      assert(exN == exact(k))
      val expCms = (0 until d)
        .map(j => cm(j)((fp60(s"$j:$k") % wd).toInt)).min
      val expCs = (0 until d).map { j =>
        val sg = if (fp60(s"s$j:$k") % 2 == 0) 1L else -1L
        sg * cs(j)((fp60(s"$j:$k") % wd).toInt)
      }.sorted.apply(2) // median of 5
      assert(cmsEst == expCms, s"key $k cms")
      assert(csEst == expCs, s"key $k cs")
      assert(cmsErr == cmsEst - exN && csErr == csEst - exN)
      // the structural guarantee: CMS errs one way only
      assert(cmsErr >= 0L, s"key $k cms underestimated")
    }
    // width 64 vs ~100 keys forces real collisions
    assert(rows.map(_._5).sum > 0L, "no CMS collisions — audit vacuous")
  }

  test("q342 greedy cover matches a driver-side greedy replay; gains diminish") {
    val out = CurationOps.greedyCover(spark, dir).orderBy("round")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // driver replay over the same (source, shingle) distinct set
    val pairs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(array_distinct(
        expr(DedupOps.wordGramArrayExpr(3)))).as("sh"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val bySrc = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap
    val universe = pairs.map(_._2).toSet
    var covered = Set.empty[String]
    out.foreach { case (round, src, gain, nCov, share) =>
      val (bestSrc, bestGain) = bySrc.view
        .map { case (s0, set) => (s0, (set -- covered).size) }
        .toSeq.sortBy { case (s0, g) => (-g, s0) }.head
      assert(src == bestSrc, s"round $round picked $src not $bestSrc")
      assert(gain == bestGain.toLong, s"round $round")
      covered ++= bySrc(bestSrc)
      assert(nCov == covered.size.toLong)
      assert(math.abs(share - covered.size.toDouble / universe.size)
        < 1e-5)
    }
    // greedy marginal gains are non-increasing
    out.map(_._3).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) <= p(0)))
    assert(out.map(_._2).distinct.length == out.length) // no re-picks
  }

  test("q343 IPF raking drives both marginal gaps toward zero with positive weights") {
    val rows = MixtureOps.ipfRaking(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (l, s0, n, w, _, _) =>
      assert(n > 0L, s"$l/$s0")
      assert(w > 0.0, s"$l/$s0 non-positive weight $w")
    }
    // after 3 full rounds the residual marginal gaps are tiny (shares
    // of population mass)
    assert(rows.map(r => math.abs(r._5)).max < 0.005)
    assert(rows.map(r => math.abs(r._6)).max < 0.005)
    // total raked mass ≈ population size (raking preserves total mass
    // up to the residual gaps)
    val mass = rows.map(r => r._3 * r._4).sum
    val nPop = rows.map(_._3).sum.toDouble
    assert(math.abs(mass - nPop) / nPop < 0.01, s"$mass vs $nPop")
  }

  test("q344 TracIn attribution matches a driver-side replay of model, val-grad, and top-k") {
    val feat = MlPrepOps.logregFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    // replay the exact frozen recurrence
    var (wb, wl, wt) = (0.0, 0.0, 0.0)
    for (_ <- 1 to MlPrepOps.LogRegIters) {
      var (gb, gl, gt) = (0L, 0L, 0L)
      feat.foreach { case (_, y, x1, x2) =>
        val p = 1.0 / (1.0 + math.exp(-((wb + (wl * x1)) + (wt * x2))))
        gb += math.floor((y - p) * 1e9).toLong
        gl += math.floor(((y - p) * x1) * 1e9).toLong
        gt += math.floor(((y - p) * x2) * 1e9).toLong
      }
      val n = feat.length
      wb += 0.5 * ((gb.toDouble / 1e9) / n)
      wl += 0.5 * ((gl.toDouble / 1e9) / n)
      wt += 0.5 * ((gt.toDouble / 1e9) / n)
    }
    val valSet = feat.filter(_._1 % 5 == 0)
    var (vb, vl2, vt) = (0L, 0L, 0L)
    valSet.foreach { case (_, y, x1, x2) =>
      val p = 1.0 / (1.0 + math.exp(-((wb + (wl * x1)) + (wt * x2))))
      vb += math.floor((y - p) * 1e9).toLong
      vl2 += math.floor(((y - p) * x1) * 1e9).toLong
      vt += math.floor(((y - p) * x2) * 1e9).toLong
    }
    val nv = valSet.length
    val (gvb, gvl, gvt) = ((vb.toDouble / 1e9) / nv,
      (vl2.toDouble / 1e9) / nv, (vt.toDouble / 1e9) / nv)
    val scores = feat.filter(_._1 % 5 != 0).map { case (id, y, x1, x2) =>
      val p = 1.0 / (1.0 + math.exp(-((wb + (wl * x1)) + (wt * x2))))
      id -> math.floor(((y - p) * ((gvb + (gvl * x1)) + (gvt * x2)))
        * 1e9).toLong
    }
    val expTop = scores.sortBy { case (id, s0) => (-s0, id) }
      .take(MlPrepOps.TracInK).map(_._1).toSeq
    val expBot = scores.sortBy { case (id, s0) => (s0, id) }
      .take(MlPrepOps.TracInK).map(_._1).toSeq
    val out = MlPrepOps.tracinAttribution(spark, dir).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val gotTop = out.filter(_._1).sortBy(_._2).map(_._3).toSeq
    val gotBot = out.filterNot(_._1).sortBy(_._2).map(_._3).toSeq
    assert(gotTop == expTop)
    assert(gotBot == expBot)
    // helpful floor clears the harmful ceiling (400 train docs ≫ 2k)
    val minHelp = out.filter(_._1).map(_._5).min
    val maxHarm = out.filterNot(_._1).map(_._5).max
    assert(minHelp >= maxHarm)
  }

  test("q345 cartography: all three regions populate, partition the corpus, and order by confidence") {
    val rows = MlPrepOps.datasetCartography(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val regions = rows.map(_._1).toSet
    assert(regions == Set("easy", "hard_to_learn", "ambiguous"),
      s"regions: $regions")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_._3).sum == nDocs)
    // hard-to-learn is below-mean confidence BY DEFINITION
    val hardMax = rows.filter(_._1 == "hard_to_learn").map(_._4).max
    val easyMin = rows.filter(_._1 == "easy").map(_._4).min
    assert(hardMax < easyMin)
  }

  test("q346 LOO-by-subtraction equals direct leave-one-source-out retraining (spot source)") {
    // replay ONE source's LOO model by direct retraining on the driver
    // with the exact frozen math, and compare its accuracy row
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2) == "en",
        r.getString(3).split(" ").toSeq))
    val src = docs.map(_._2).distinct.sorted.head
    val train = docs.filter(_._2 != src)
    val test = docs.filter(_._2 == src)
    val cpos = scala.collection.mutable.Map.empty[String, Long]
    val cneg = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, _, pos, toks) =>
      toks.foreach { tk =>
        if (pos) cpos(tk) = cpos.getOrElse(tk, 0L) + 1
        else cneg(tk) = cneg.getOrElse(tk, 0L) + 1
      }
    }
    val vocab = (cpos.keySet ++ cneg.keySet).toSet
    val (npos, nneg) = (cpos.values.sum, cneg.values.sum)
    val v = vocab.size.toLong
    val dpos = train.count(_._3).toLong
    val dneg = train.length - dpos
    val priorFp = math.floor(math.log(dpos.toDouble) * 1e9).toLong -
      math.floor(math.log(dneg.toDouble) * 1e9).toLong
    var correct = 0L
    test.foreach { case (_, _, pos, toks) =>
      var s0 = priorFp
      toks.foreach { tk =>
        if (vocab(tk)) {
          val lp = (cpos.getOrElse(tk, 0L) + 1).toDouble / (npos + v)
          val ln0 = (cneg.getOrElse(tk, 0L) + 1).toDouble / (nneg + v)
          s0 += math.floor(math.log(lp) * 1e9).toLong -
            math.floor(math.log(ln0) * 1e9).toLong
        }
      }
      if ((s0 >= 0L) == pos) correct += 1
    }
    val row = MlPrepOps.looSourceEval(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      .apply(src)
    assert(row._1 == test.length.toLong)
    assert(row._2 == correct,
      s"$src: engine ${row._2} vs direct-retrain replay $correct")
  }

  test("q349 unseen mass: pooled row dominates sources; Chao1 >= observed vocab; GT mass sane") {
    val rows = TextOps.unseenMass(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    val (pooled, srcs) = rows.partition(_._1 == "__pooled__")
    assert(pooled.length == 1 && srcs.nonEmpty)
    val p = pooled.head
    // pooled token mass is the exact sum of the sources'
    assert(p._2 == srcs.map(_._2).sum)
    // pooled vocab is at most the union bound and at least the max
    assert(p._3 <= srcs.map(_._3).sum && p._3 >= srcs.map(_._3).max)
    rows.foreach { case (src, n, v, n1, n2, gt, chao) =>
      assert(n1 + n2 <= v, src)
      assert(gt >= 0.0 && gt <= 1.0, src)
      assert(chao >= v.toDouble, src) // richness floor ≥ observed
      assert(math.abs(gt - n1.toDouble / n) < 1e-5, src)
    }
    // pooling removes hapaxes (cross-source repeats), so the pooled
    // unseen mass is below the source-weighted average
    val wavg = srcs.map(r => r._4.toDouble).sum / p._2
    assert(p._6 <= wavg + 1e-9)
  }

  test("q350 pointer jumping: chains halve each round, converge in log2 rounds to the CORRECT heads") {
    val rows = GraphOps.pointerJump(spark, dir).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == GraphOps.JumpRounds)
    val n = rows.head._2
    rows.foreach { case (_, nn, atHead, correct, conv) =>
      assert(nn == n)
      // every pointer at A head is at the RIGHT head (the closed-form
      // target) — a jump that lands on a foreign head fails here
      assert(atHead == correct)
      assert(conv == (atHead == n))
    }
    // monotone convergence and full resolution at the last round
    rows.map(_._3).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) >= p(0)))
    assert(rows.last._5, "did not converge in log2(depth) rounds")
    // after round r a pointer covers 2^r hops: a node is at its head
    // exactly when its chain offset is ≤ 2^r
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    rows.foreach { case (r, _, atHead, _, _) =>
      val bound = docs.count(id =>
        (id % GraphOps.JumpMod) <= (1L << r.toInt))
      assert(atHead == bound.toLong,
        s"round $r: $atHead at head, expected exactly $bound")
    }
  }

  test("q351 postings compression matches a driver-side VByte replay; high-df deciles compress hardest") {
    val pairs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS term", "doc_id")
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def vb(g: Long): Long =
      if (g < 128) 1 else if (g < 16384) 2 else if (g < 2097152) 3 else 4
    val perTerm = pairs.groupBy(_._1).map { case (term, ps) =>
      val ids = ps.map(_._2).sorted.toSeq
      val gaps = (ids.head + 1) +: ids.sliding(2).collect {
        case Seq(a, b) => b - a }.toSeq
      (term, ids.length.toLong, gaps.map(vb).sum)
    }.toSeq
    val n = perTerm.size.toLong
    val ranked = perTerm.sortBy { case (t, df, _) => (df, t) }.zipWithIndex
    val expected = ranked.groupBy { case (_, i) =>
      math.min(i.toLong * 10 / n, 9L) }
      .view.mapValues { g =>
        (g.length.toLong, g.map(_._1._2).sum, g.map(_._1._3).sum) }.toMap
    val rows = MlPrepOps.postingsCompression(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows.foreach { case (d, nt, np, raw, vbb) =>
      val (en, edf, evb) = expected(d)
      assert(nt == en && np == edf && vbb == evb, s"decile $d")
      assert(raw == edf * 8)
      assert(vbb <= raw)
    }
  }

  test("q353 RFF kernel: error falls with feature count at the 1/sqrt(D) rate; exact side D-invariant") {
    val rows = SimilarityOps.rffKernelAudit(spark, dir).orderBy("d_feats")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq ==
      SimilarityOps.RffDGrid.map(_.toLong))
    // the exact kernel never depends on D
    assert(rows.map(_._4).distinct.length == 1)
    val exact = rows.head._4
    assert(exact > 0.0 && exact < 1.0)
    // Monte-Carlo error shrinks monotonically with the feature budget,
    // and the 8→64 ratio is in the 1/√D ballpark (√8 ≈ 2.8; accept ≥ 2)
    val errs = rows.map(_._5)
    errs.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) < p(0), errs.mkString(",")))
    assert(errs.head / errs.last >= 2.0,
      s"8→64 error ratio ${errs.head / errs.last}")
    rows.foreach { case (_, n, est, _, _) =>
      assert(n > 0)
      assert(est > -1.0 && est < 1.0)
    }
  }

  test("q354 successive halving: nested budgets, rank-correct survivors, single winner") {
    val rows = MlPrepOps.successiveHalving(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(5)))
    val byRung = rows.groupBy(_._1)
    assert(byRung.keySet == (1 to MlPrepOps.ShRungs).map(_.toLong).toSet)
    var prevSurvivors = MlPrepOps.ShTaus.toSet
    var prevBudget = 0L
    (1 to MlPrepOps.ShRungs).foreach { r =>
      val es = byRung(r.toLong)
      val keepN = MlPrepOps.ShTaus.length / (1 << r)
      // only the previous rung's survivors are evaluated
      assert(es.map(_._2).toSet == prevSurvivors, s"rung $r configs")
      // nested budgets strictly grow
      assert(es.map(_._3).distinct.length == 1)
      assert(es.head._3 > prevBudget, s"rung $r budget")
      prevBudget = es.head._3
      // survival = top keepN by (n_corr desc, tau asc), exactly
      val expect = es.sortBy { case (_, tau, _, nc, _) => (-nc, tau) }
        .take(keepN).map(_._2).toSet
      assert(es.filter(_._5).map(_._2).toSet == expect, s"rung $r")
      assert(es.count(_._5) == keepN)
      prevSurvivors = expect
    }
    assert(prevSurvivors.size == 1) // a single winning threshold
  }

  test("q336 huber location matches a driver-side replay of the frozen IRLS recurrence") {
    val xs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = ProfileOps.huberLocation(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(3), r.getLong(5))).toMap
    assert(out.keySet == xs.keySet)
    val c = ProfileOps.HuberC.toDouble
    xs.foreach { case (src, v) =>
      var m = v.sum.toDouble / v.length
      var nDown = 0L
      for (_ <- 1 to ProfileOps.HuberIters) {
        var num = 0L; var den = 0L; nDown = 0L
        v.foreach { x =>
          val r = x.toDouble - m
          val w = if (math.abs(r) <= c) 1.0 else c / math.abs(r)
          num += math.floor((w * x) * 1e6).toLong
          den += math.floor(w * 1e6).toLong
          if (w < 1.0) nDown += 1
        }
        m = num.toDouble / den.toDouble
      }
      val (n, loc, down) = out(src)
      assert(n == v.length, src)
      assert(math.abs(loc - m) < 1e-6, s"$src: $loc vs replay $m")
      assert(down == nDown, src)
      assert(loc >= v.min.toDouble && loc <= v.max.toDouble, src)
    }
  }

  test("q355 hits: matches a driver-side replay; iteration-1 authority ranking IS in-degree") {
    // exact driver replay of the fixed-point HITS arithmetic
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = li.flatMap { case (ok, sk) =>
      ord.get(ok).map(ck => (s"c$ck", s"s$sk")) }.distinct
    val nC = pairs.map(_._1).distinct.length
    val nS = pairs.map(_._2).distinct.length
    var h = pairs.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[String, Double]
    for (_ <- 1 to GraphOps.HitsIters) {
      val araw = pairs.groupBy(_._2).map { case (sp, ps) =>
        sp -> ps.map(p => math.floor(h(p._1) * 1e12).toLong).sum }
      val at = araw.values.sum
      a = araw.map { case (k, v) => k -> v.toDouble / at.toDouble * nS }
      val hraw = pairs.groupBy(_._1).map { case (c, ps) =>
        c -> ps.map(p => math.floor(a(p._2) * 1e12).toLong).sum }
      val ht = hraw.values.sum
      h = hraw.map { case (k, v) => k -> v.toDouble / ht.toDouble * nC }
    }
    def top(m: Map[String, Double]) = m.toSeq
      .sortBy { case (n, s) => (-s, n) }.take(GraphOps.HitsTopK)
      .zipWithIndex.map { case ((n, s), i) =>
        (n, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, i + 1) }
    val out = GraphOps.hits(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getInt(3)))
    val gotA = out.filter(_._1 == "authority").map(t => (t._2, t._3, t._4))
    val gotH = out.filter(_._1 == "hub").map(t => (t._2, t._3, t._4))
    assert(gotA.toSeq == top(a).toSeq, "authority top-k mismatch")
    assert(gotH.toSeq == top(h).toSeq, "hub top-k mismatch")
    // uniform start ⇒ iteration-1 authority raw score ∝ in-degree:
    // the rankings must be identical (same tiebreak)
    val (_, a1) = GraphOps.hitsScores(spark, dir, 1)
    val a1rank = a1.collect().map(r => (r.getString(0), r.getDouble(1)))
      .sortBy { case (n, s) => (-s, n) }.map(_._1)
    val degRank = pairs.groupBy(_._2).map { case (sp, ps) =>
      (sp, ps.length) }.toSeq.sortBy { case (n, d) => (-d, n) }.map(_._1)
    assert(a1rank.toSeq == degRank.toSeq,
      "iteration-1 authority ranking must equal the in-degree ranking")
    // sum-normalization: each role's score mass equals its node count
    assert(math.abs(a.values.sum - nS) < 1e-3)
    assert(math.abs(h.values.sum - nC) < 1e-3)
  }

  test("q358 boruvka: chosen edges ARE Kruskal's unique MSF; counts reconcile") {
    val edges = GraphOps.mstEdges(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
    val (chosenDf, sumDf, _, _) = GraphOps.boruvkaRun(spark, dir)
    val chosen = chosenDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver Kruskal under the same (wfp, a, b) total order — the MSF
    // w.r.t. a strict total order is unique, so Borůvka must equal it
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val kruskal = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    edges.sorted.foreach { case (w, a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; kruskal += ((w, a, b)) }
    }
    assert(chosen == kruskal.toSet,
      s"Borůvka ${chosen.size} edges vs Kruskal ${kruskal.size}")
    // summary reconciliation: edges added = nodes − final components,
    // components strictly shrink until they can't, every round resolves
    val sums = sumDf.orderBy("round").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5)))
    val nNodes = edges.flatMap(e => Seq(e._2, e._3)).distinct.length.toLong
    assert(sums.head._1 == nNodes)
    assert(sums.map(_._2).sum == nNodes - sums.last._3)
    assert(sums.forall(_._4), "a contraction round did not resolve")
    sums.sliding(2).foreach { case Array(x, y) =>
      assert(y._1 == x._3, "round chaining broken")
      assert(y._3 <= x._3)
    case _ => }
  }

  test("q365 linkage curve: MSF cut counts equal direct union-find components at every tau") {
    val edges = GraphOps.mstEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val rows = GraphOps.linkageCurve(spark, dir).collect()
    // the in-query completeness assertion must hold on the fixture —
    // the cut-property shortcut is only valid over a FULLY built forest
    assert(rows.forall(_.getBoolean(4)),
      "forest_complete=false: BoruvkaRounds did not finish the forest")
    val out = rows
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == GraphOps.LinkageTaus.toSet)
    for (tau <- GraphOps.LinkageTaus) {
      // direct single-linkage: union-find over ALL edges at J >= tau
      val cut = 1000000000L - math.floor(tau * 1e9).toLong
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      nodes.foreach(n => parent.getOrElseUpdate(n, n))
      edges.filter(_._3 <= cut).foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val nComp = nodes.map(find).distinct.length.toLong
      assert(out(tau)._2 == nComp,
        s"tau=$tau: curve says ${out(tau)._2} clusters, union-find $nComp")
    }
    // cutting lower can only merge further
    val curve = GraphOps.LinkageTaus.map(out(_))
    curve.sliding(2).foreach { case Seq(hi, lo) =>
      assert(lo._2 <= hi._2)
    case _ => }
  }

  test("q373 native token bucket: admissions equal the mapPartitions form AND a driver replay, event for event") {
    val in = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
    val cap = ScaleOps.RlBurst * ScaleOps.RlTokenUs
    val native = graft.plans.TokenBucket(in, cap, ScaleOps.RlTokenUs)
      .select("event_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver replay of the exact recurrence
    val evs = in.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e._1, e._2, e._3))
    var user = Long.MinValue; var tokens = 0L; var prev = 0L
    val expect = evs.map { case (u, us, id) =>
      if (u != user) { user = u; tokens = cap }
      else tokens = math.min(cap, tokens + (us - prev))
      prev = us
      val ok = tokens >= ScaleOps.RlTokenUs
      if (ok) tokens -= ScaleOps.RlTokenUs
      id -> (if (ok) 1L else 0L)
    }.toMap
    assert(native == expect, "native exec diverged from the recurrence")
    // and the q322 mapPartitions summary agrees at its own granularity
    val a = ScaleOps.rateLimitReplay(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val evTypes = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id", "event_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byType = native.toSeq.groupBy(kv => evTypes(kv._1)).map {
      case (t, xs) => (t, xs.size.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    assert(a.toSeq == byType, "q322 and q373 disagree")
  }

  test("q380 hyperball: pair-count curve tracks an exact driver BFS within HLL error at every radius") {
    val edges = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val nodes = adj.keys.toSeq.sorted
    // exact N(t) = Σ_v |B(v, t)| by per-node frontier expansion
    var balls = nodes.map(v => v -> Set(v)).toMap
    val exactN = scala.collection.mutable.Buffer[Long](nodes.size.toLong)
    for (_ <- 1 to GraphOps.HyperBallRounds) {
      balls = balls.map { case (v, ball) =>
        v -> (ball ++ ball.flatMap(adj)) }
      exactN += balls.values.map(_.size.toLong).sum
    }
    val out = GraphOps.hyperball(spark, dir).collect()
      .map(r => r.getLong(0).toInt ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(out.keySet == (0 to GraphOps.HyperBallRounds).toSet)
    assert(out(0)._1 == nodes.size.toLong)
    for (t <- 0 to GraphOps.HyperBallRounds) {
      val est = out(t)._3
      val exact = exactN(t).toDouble
      val relErr = math.abs(est - exact) / exact
      assert(relErr <= 0.15,
        s"t=$t: HLL pair estimate $est vs exact $exact (err $relErr)")
    }
    // balls only grow: the estimate curve and reach fraction are
    // monotone, and the final round's reach fraction is exactly 1
    val curve = (0 to GraphOps.HyperBallRounds).map(out(_))
    curve.sliding(2).foreach { case Seq(a, b) =>
      assert(b._3 >= a._3 && b._4 >= a._4)
    case _ => }
    assert(out(GraphOps.HyperBallRounds)._4 == 1.0)
    // convergence flag soundness (one-way: registers are a function of
    // the balls, so exact fixpoint ⇒ register fixpoint; the converse
    // need not hold — a new ball member may raise no register max)
    val stillGrowing = exactN.last !=
      balls.map { case (v, ball) => (ball ++ ball.flatMap(adj)).size.toLong }
        .sum
    if (!stillGrowing) assert(out(GraphOps.HyperBallRounds)._5,
      "exact balls reached fixpoint but converged=false")
  }

  test("q386 SRM gate: driver chi-square replay matches; only the planted broken experiment fires") {
    val units = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def arm(u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"exp:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2L
    }
    val out = AnalyticsOps.srmGate(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .toMap
    for ((exp, rows) <- units.groupBy(_._1)) {
      val kept = rows.filter { case (e, u) =>
        !(e == "purchase" && arm(u) == 1L && u % 3 == 0L) }
      val na = kept.count(r => arm(r._2) == 0L).toLong
      val nb = kept.count(r => arm(r._2) == 1L).toLong
      val chi = (na - nb).toDouble * (na - nb) / (na + nb)
      val got = out(exp)
      assert(got._1 == na && got._2 == nb, s"$exp counts: $got")
      assert(math.abs(got._3 - chi) < 1e-4, s"$exp chi2: ${got._3} vs $chi")
      val verdict =
        if (chi >= AnalyticsOps.SrmChi2P001) "p001"
        else if (chi >= AnalyticsOps.SrmChi2P01) "p01"
        else if (chi >= AnalyticsOps.SrmChi2P05) "p05"
        else "ok"
      assert(got._4 == verdict, s"$exp verdict: ${got._4} vs $verdict")
    }
    // the gate's point: the planted one-arm logging failure produces
    // exactly the predicted arm-1 deficit, the broken experiment's
    // chi-square strictly dominates every healthy one (at sf0.01+ it
    // crosses p01 — verdict-pinned by the oracle row), and every
    // healthy (A/A) experiment stays quiet
    val deficit = units.filter(r => r._1 == "purchase" &&
      arm(r._2) == 1L && r._2 % 3 == 0L).length.toLong
    assert(deficit > 0, "fixture lost its planted deficit")
    val preB = units.filter(_._1 == "purchase")
      .count(r => arm(r._2) == 1L).toLong
    assert(out("purchase")._2 == preB - deficit,
      s"purchase arm-1 deficit: ${out("purchase")._2} vs $preB - $deficit")
    // firing is population-dependent (a third of one arm at the sf0.001
    // fixture's ~30-user arms is sub-threshold — correctly so: SRM
    // checks SIGNIFICANT mismatch); at >= 100 scored units the planted
    // break must flag and dominate while healthy experiments stay quiet
    val big = AnalyticsOps.srmGate(spark, TestSession.sfDir("0.01"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1) + r.getLong(2), r.getDouble(3), r.getString(4)))
      .toMap
    assert(big("purchase")._1 >= 100, "sf0.01 fixture too small")
    assert(big("purchase")._3 != "ok", "planted SRM not detected")
    big.filterKeys(_ != "purchase").foreach { case (e, v) =>
      assert(big("purchase")._2 > v._2,
        s"planted chi2 not dominating $e's ${v._2}")
      assert(v._3 == "ok", s"healthy experiment $e flagged: $v") }
  }

  test("q385 rendezvous shards: driver HRW replay matches; minimal disruption holds exactly") {
    val n = ScaleOps.HrwShards
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS nc")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def h(shard: Int, doc: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hrw:$shard:$doc".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def pick(doc: Long, k: Int): Int =
      (0 until k).maxBy(s => (h(s, doc), -s))
    val out = ScaleOps.rendezvousShards(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // per-shard loads at N match the driver replay exactly
    val by8 = docs.groupBy(d => pick(d._1, n))
    for ((shard, ds) <- by8)
      assert(out((s"shards_$n", shard.toLong)) ==
        (ds.length.toLong, ds.map(_._2).sum),
        s"shard $shard load mismatch")
    // minimal disruption: anomaly row is exactly zero; the moved set is
    // exactly the docs whose N+1 winner is the NEW shard
    assert(out(("moved_between_old", -1L))._1 == 0L,
      "HRW moved documents between OLD shards")
    val movedExact = docs.count(d => pick(d._1, n + 1) == n).toLong
    assert(out(("rebalance_to_new", n.toLong))._1 == movedExact)
    // expected ~1/(N+1) of the corpus moves; generous band for hash noise
    val frac = movedExact.toDouble / docs.length
    assert(frac > 0.3 / (n + 1) && frac < 3.0 / (n + 1),
      s"rebalance fraction $frac far from 1/${n + 1}")
  }

  test("q384 random failure: matches a driver union-find replay; random keeps >= targeted giant share at every level") {
    val edges = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def coin(u: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rf:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(h, 16) % 1000L
    }
    val out = GraphOps.randomFailure(spark, dir).collect().map(r =>
      r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (f <- GraphOps.FailFracs) {
      val thr = math.round(f * 1000).toInt
      val removed = nodes.filter(coin(_) < thr).toSet
      val e = edges.filter(p => !removed(p._1) && !removed(p._2))
      val kept = nodes.count(u => !removed(u)).toLong
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      e.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val conn = e.flatMap(p => Seq(p._1, p._2)).distinct
      val sizes = conn.groupBy(find).map(_._2.size.toLong)
      val (nComp, giant, nConn) =
        if (sizes.isEmpty) (0L, 0L, 0L)
        else (sizes.size.toLong, sizes.max, sizes.sum)
      val got = out(f)
      assert(got._1 == kept && got._2 == e.length.toLong &&
        got._3 == nComp, s"f=$f: $got vs ($kept, ${e.length}, $nComp)")
      if (nConn > 0) {
        assert(got._4 == rd(giant.toDouble / nConn), s"f=$f share_conn")
        assert(got._5 == rd(giant.toDouble / math.max(kept, 1L)),
          s"f=$f share_kept")
      }
      assert(got._6, s"f=$f did not stabilize in AttackCcRounds")
    }
    // the Albert-Jeong-Barabási contrast: random failure never shatters
    // MORE than the degree-targeted attack at the same level
    val atk = GraphOps.attackRobustness(spark, dir).collect()
      .map(r => r.getDouble(0) -> r.getDouble(4)).toMap
    for (f <- GraphOps.FailFracs if f > 0.0)
      assert(out(f)._4 >= atk(f) - 1e-9,
        s"f=$f: random ${out(f)._4} < targeted ${atk(f)}")
  }

  test("q383 KN bigram LM: hand-computed micro-model matches; interpolated KN sums to exactly 1 over the vocab") {
    // train "a b a c b c": c12 = 1 for (a,b),(b,a),(a,c),(c,b),(b,c);
    // left: a->(c1 2, n1plus 2), b->(2, 2), c->(1, 1);
    // cont: a 1, b 2, c 2; B = 5; D = 3/4.
    // p(b|a) = (max(4-3,0)*5 + 3*2*2)/(4*2*5) = 17/40 = 0.425
    // p(b|b) = (0*5 + 3*2*2)/(4*2*5)          = 12/40 = 0.300 (backoff)
    // normalization identity: p(a|a)+p(b|a)+p(c|a) = 6/40+17/40+17/40 = 1
    assert(6.0 / 40 + 17.0 / 40 + 17.0 / 40 == 1.0)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kn").toString
    Seq(
      (0L, "s1", "a b a c b c"), // train (even id)
      (1L, "s1", "a b b"),       // eval: (a,b) seen, (b,b) backoff
      (3L, "s2", "b b x"))       // eval: (b,b) backoff, (b,x) oov
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.knBigramLm(spark, tmp).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h1 = (math.floor(-math.log(17.0 / 40) * 1e9) +
      math.floor(-math.log(12.0 / 40) * 1e9)) / 1e9 / 2
    assert(out("s1") == (2L, 0L, rd(h1)), s"s1: ${out("s1")}")
    val h2 = math.floor(-math.log(12.0 / 40) * 1e9) / 1e9
    assert(out("s2") == (1L, 1L, rd(h2)), s"s2: ${out("s2")}")
  }

  test("q382 harmonic centrality: estimates track exact truncated-BFS harmonic; top set overlaps the exact top") {
    val edges = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val nodes = adj.keys.toSeq.sorted
    // exact R-truncated harmonic: Σ over u first reached at d ≤ R of 1/d
    val exactH = nodes.map { v =>
      var ball = Set(v); var h = 0.0
      for (t <- 1 to GraphOps.HyperBallRounds) {
        val next = ball ++ ball.flatMap(adj)
        h += (next.size - ball.size).toDouble / t
        ball = next
      }
      v -> h
    }.toMap
    val out = GraphOps.harmonicCentrality(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = math.min(GraphOps.HarmonicTopK, nodes.size)
    assert(out.length == expect)
    assert(out.map(_._1).toSeq == (1L to expect.toLong).toSeq)
    out.foreach { case (_, node, est) =>
      val ex = exactH(node)
      assert(math.abs(est - ex) / math.max(ex, 1.0) <= 0.2,
        s"node $node: estimated H $est vs exact $ex")
    }
    // top-set recall: the sketch's top-k sits inside the exact top-2k
    val exactTop = exactH.toSeq.sortBy { case (v, h) => (-h, v) }
      .take(2 * expect).map(_._1).toSet
    val overlap = out.map(_._2).count(exactTop)
    assert(overlap >= (expect * 3) / 4,
      s"only $overlap/$expect reported nodes are in the exact top-${2 * expect}")
  }

  test("q373 token bucket: a first user_id of Long.MinValue opens a fresh bucket (no sentinel aliasing)") {
    // regression: exec once used user=Long.MinValue as the 'no previous
    // user' marker, which treated a real MinValue first user as a
    // continuation (tokens=0 → first event silently rejected)
    import spark.implicits._
    val in = Seq(
      (Long.MinValue, 0L, 1L), (Long.MinValue, 1L, 2L),
      (7L, 0L, 3L))
      .toDF("user_id", "us", "event_id")
    val out = graft.plans.TokenBucket(in, 10L, 10L)
      .select("event_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cap == one token: first event per user admitted, immediate
    // second event (only 1us refill) rejected
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("q375 attack robustness: matches a driver union-find replay at every attack level") {
    val cells = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_type AS et", "date_trunc('hour', ts) AS h",
        "user_id AS u").distinct().collect()
      .map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2)))
    val capped = cells.groupBy(_._1).toSeq.flatMap { case (k, xs) =>
      xs.map(_._2).sorted.take(GraphOps.CoocCellCap).map(u => (k, u)) }
    val pairCnt = scala.collection.mutable
      .Map.empty[(Long, Long), Int]
    capped.groupBy(_._1).foreach { case (_, xs) =>
      val us = xs.map(_._2).sorted
      for (i <- us.indices; j <- i + 1 until us.length)
        pairCnt((us(i), us(j))) =
          pairCnt.getOrElse((us(i), us(j)), 0) + 1
    }
    val edges = pairCnt.filter(_._2 >= GraphOps.CoocMinCells)
      .keys.toSeq.sorted
    val deg = scala.collection.mutable.Map.empty[Long, Int]
    edges.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0) + 1; deg(b) = deg.getOrElse(b, 0) + 1 }
    val ranked = deg.toSeq.sortBy { case (u, d) => (-d, u) }.map(_._1)
    val nv = ranked.length.toLong
    val out = GraphOps.attackRobustness(spark, dir).collect().map(r =>
      r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (f <- GraphOps.AttackFracs) {
      val nRem = math.ceil(f * nv.toDouble).toLong
      val removed = ranked.take(nRem.toInt).toSet
      val e = edges.filter(p => !removed(p._1) && !removed(p._2))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      e.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val conn = e.flatMap(p => Seq(p._1, p._2)).distinct
      val comps = conn.groupBy(find).map(_._2.length.toLong)
      val (g, tot) = (if (comps.isEmpty) 0L else comps.max,
        comps.sum)
      val exp = (nv - nRem, e.length.toLong, comps.size.toLong,
        rd(g.toDouble / tot.toDouble),
        rd(g.toDouble / math.max(nv - nRem, 1L).toDouble), true)
      assert(out(f) == exp, s"f=$f mismatch")
    }
  }

  test("q356 kmv sketch: matches an exact driver replay; union-of-sketches IS the sketch of the union") {
    import graft.functions.Md5Fp60
    val k = ProfileOps.KmvK
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // per-source distinct shingle sets with their fp60 hashes
    val sets: Map[String, Set[String]] = docs.groupBy(_._1).map {
      case (src, ds) =>
        src -> ds.flatMap { case (_, t) =>
          val toks = t.split(" ", -1)
          if (toks.length >= 3) toks.sliding(3).map(_.mkString(" "))
          else Iterator.empty
        }.toSet
    }
    def hash(sh: String) = Md5Fp60.fp60(sh.getBytes("UTF-8"))
    // a KMV sketch is the k smallest DISTINCT hash values of the set —
    // this replays the native kmv_agg buffer exactly
    def sketch(set: Set[String]): Seq[Long] =
      set.toSeq.map(hash).distinct.sorted.take(k)
    def estOf(sk: Seq[Long]): Double =
      if (sk.length < k) sk.length.toDouble
      else (k - 1).toDouble * 1.152921504606846976e18 / sk.last.toDouble
    val out = ProfileOps.kmvSetAlgebra(spark, dir).collect().map { r =>
      ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(9), r.getDouble(10), r.getDouble(7)))
    }.toMap
    val srcs = sets.keys.toSeq.sorted
    assert(out.size == srcs.combinations(2).size)
    for (pair <- srcs.combinations(2)) {
      val (a, b) = (pair(0), pair(1))
      val (sa, sb) = (sets(a), sets(b))
      val (ska, skb) = (sketch(sa), sketch(sb))
      // KMV closure: the k smallest of the two sketches' union equals
      // the true union's sketch — pairwise algebra never needs raw sets
      val uFromSk = (ska ++ skb).distinct.sorted.take(k)
      assert(uFromSk == sketch(sa ++ sb),
        s"$a|$b: union-of-sketches differs from sketch-of-union")
      val bothSet = ska.toSet & skb.toSet
      val m = uFromSk.count(bothSet)
      val estU = estOf(uFromSk)
      val estJ = m.toDouble / uFromSk.length.toDouble
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (ea, eb, eu, ei, gotU, gotJ, gotEa) = out((a, b))
      assert(ea == sa.size.toLong && eb == sb.size.toLong)
      assert(ei == (sa & sb).size.toLong && eu == (sa | sb).size.toLong)
      assert(gotU == r4(estU), s"$a|$b est_union")
      assert(gotJ == r6(estJ), s"$a|$b est_jacc")
      assert(gotEa == r4(estOf(ska)), s"$a|$b est_a")
      // the k=64 estimator's 3-sigma band (~38%) must hold everywhere
      assert(math.abs(estU - eu) / eu < 0.40, s"$a|$b error out of band")
    }
  }

  test("q387 k-truss: matches a driver edge-peeling replay; truss edges sit inside the support threshold") {
    val e0 = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      es.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      es.iterator.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size.toLong
      }.toMap
    }
    val s0 = supports(e0)
    val thr = math.ceil(
      s0.values.sum.toDouble / s0.size.toDouble / 2.0).toLong
    val out = GraphOps.ktruss(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    var cur = e0
    var sup = s0
    for (r <- 1 to GraphOps.TrussRounds) {
      val next = cur.filter(e => sup(e) >= thr)
      val nNodes = next.flatMap(e => Seq(e._1, e._2)).size.toLong
      val (gThr, gEdges, gNodes, gRemoved, gConv) = out(r.toLong)
      assert(gThr == thr, s"round $r threshold")
      assert(gEdges == next.size.toLong, s"round $r edges")
      assert(gNodes == nNodes, s"round $r nodes")
      assert(gRemoved == (cur.size - next.size).toLong, s"round $r removed")
      assert(gConv == (cur.size == next.size), s"round $r converged")
      cur = next
      if (r < GraphOps.TrussRounds) sup = supports(cur)
    }
    // the peel must do real work on the fixture AND leave a truss
    assert(out(1L)._4 > 0, "round 1 removed nothing — fixture too easy")
    assert(out(GraphOps.TrussRounds.toLong)._2 > 0,
      "truss emptied out — threshold degenerate on the fixture")
  }

  test("q388 densest subgraph: matches a driver peeling replay; best density dominates the start and the Charikar bound holds") {
    val e0 = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = GraphOps.densestSubgraph(spark, dir).collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getBoolean(6))
    }.toMap
    var cur = e0
    var removedPrev = 0L
    for (r <- 0 to GraphOps.DsgRounds) {
      val nodes = cur.flatMap(e => Seq(e._1, e._2))
      val n = nodes.size.toLong
      val m = cur.size.toLong
      val dfp =
        if (n > 0) Some(math.floor(1e6 * m.toDouble / n).toLong) else None
      val (gN, gM, gD, gRem, _, _) = out(r.toLong)
      assert(gN == n && gM == m, s"round $r sizes")
      assert(gD == dfp, s"round $r density")
      assert(gRem == removedPrev, s"round $r removed")
      // peel: KEEP deg*n > 3*m (eps = 1/2 in exact integers)
      val deg = nodes.map(v => v -> cur.count(e =>
        e._1 == v || e._2 == v).toLong).toMap
      val keep = nodes.filter(v => deg(v) * n > 3L * m)
      val next = cur.filter(e => keep(e._1) && keep(e._2))
      removedPrev = n - keep.size.toLong
      cur = next
    }
    val best = out.values.flatMap(_._3).max
    val finalBest = out(GraphOps.DsgRounds.toLong)._5
    assert(finalBest.contains(best), "running best broken")
    assert(out.values.count(_._6) >= 1, "no is_densest row")
    assert(out.values.filter(_._6).forall(_._3.contains(best)),
      "is_densest flags a non-argmax round")
    // Charikar/Bahmani: best >= initial density (peeling can only be
    // asked to IMPROVE on the whole graph's density, and at eps=1/2
    // best is within 3x of the true optimum — the fixture check is
    // the monotone half plus real peeling work)
    assert(best >= out(0L)._3.get, "best density below the start")
    assert(out(1L)._4 > 0, "round 1 removed nothing — fixture too easy")
  }

  test("q389 butterfly census: matches a driver capped-wedge replay; cap binds on the fixture") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS BIGINT)", "CAST(l_suppkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val om = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("CAST(o_orderkey AS BIGINT)", "CAST(o_custkey AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val eb = li.flatMap { case (ok, sk) => om.get(ok).map(ck => (ck, sk)) }
      .toSet
    val bySup = eb.groupBy(_._2).view
      .mapValues(_.map(_._1).toSeq.sorted.take(GraphOps.BflyCap)).toMap
    val w = scala.collection.mutable.Map.empty[(Long, Long), Long]
    bySup.values.foreach { cs =>
      for (i <- cs.indices; j <- i + 1 until cs.size) {
        val k = (cs(i), cs(j)); w(k) = w.getOrElse(k, 0L) + 1
      }
    }
    val gb = w.values.map(x => x * (x - 1) / 2).sum
    val gw = w.values.sum
    val rows = GraphOps.butterflyCensus(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getLong(3) == gb, "global butterflies")
      assert(r.getLong(4) == gw, "global wedge pairs")
    }
    val bands = w.values.groupBy(x => math.min(x, 8L)).view.mapValues(v =>
      (v.size.toLong, v.map(x => x * (x - 1) / 2).sum)).toMap
    assert(rows.length == bands.size, "band row count")
    rows.foreach { r =>
      val (np, nb) = bands(r.getLong(0))
      assert(r.getLong(1) == np && r.getLong(2) == nb,
        s"band ${r.getLong(0)} mismatch")
    }
    assert(gb > 0, "fixture has no butterflies — census vacuous")
    // the cap must TRUNCATE at least one hub supplier (the replica
    // lesson: capped and counted, not silently unbounded)
    assert(eb.groupBy(_._2).exists(_._2.size > GraphOps.BflyCap),
      "no supplier above the cap — cap path untested")
  }

  test("q390 Luby MIS: matches a driver replay; independent every round; maximal at convergence") {
    val e0 = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    e0.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    def prio(r: Int, u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"mis:$r:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    var alive = adj.keySet.toSet
    val mis = scala.collection.mutable.Set.empty[Long]
    val out = GraphOps.lubyMis(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    for (r <- 1 to GraphOps.LubyRounds) {
      val sel = alive.filter { u =>
        val nb = adj(u).filter(alive)
        val p = prio(r, u)
        nb.isEmpty || nb.forall(v => p < prio(r, v))
      }
      // the round's winner set is independent by construction — the
      // strict-minimum rule must keep it that way
      sel.foreach(u => assert((adj(u) & sel).isEmpty,
        s"round $r selected two neighbors"))
      mis ++= sel
      val prevAlive = alive.size
      alive = alive -- sel -- sel.flatMap(u => adj(u).filter(alive))
      val (gSel, gMis, gRem, gAlive, gConv) = out(r.toLong)
      assert(gSel == sel.size.toLong, s"round $r selected")
      assert(gMis == mis.size.toLong, s"round $r mis size")
      assert(gRem == (prevAlive - alive.size).toLong, s"round $r removed")
      assert(gAlive == alive.size.toLong, s"round $r alive")
      assert(gConv == alive.isEmpty, s"round $r converged flag")
    }
    assert(alive.isEmpty,
      "did not converge within LubyRounds on the fixture")
    // maximal: every node is in the MIS or adjacent to it; independent:
    // no edge joins two MIS members
    adj.keys.foreach(u => assert(mis(u) || (adj(u) & mis).nonEmpty,
      s"node $u neither selected nor dominated"))
    e0.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside the MIS")
    }
  }

  test("q391 pass@k: matches an exact BigInt replay; dominates the plug-in estimator; monotone in k") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("CAST(user_id AS BIGINT)", "CAST(event_id AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def fp60(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s0.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val per = ev.groupBy(_._1).view.mapValues { rows =>
      val n = rows.length.toLong
      val c = rows.count { case (u, e) =>
        fp60(s"pk:$e") % 1000 < (u % 50) * 20 }.toLong
      (n, c)
    }.toMap
    val out = AnalyticsOps.passAtK(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    AnalyticsOps.PassKs.foreach { k =>
      val valid = per.values.filter(_._1 >= k).toSeq
      val fps = valid.map { case (n, c) =>
        if (n - c < k) 1000000000000L
        else {
          val num = (0 until k).map(i => BigInt(n - c - i)).product
          val den = (0 until k).map(i => BigInt(n - i)).product
          1000000000000L -
            math.floor(num.toDouble / den.toDouble * 1e12).toLong
        }
      }
      val (gN, gSat, gPass) = out(k.toLong)
      assert(gN == valid.size.toLong, s"k=$k evaluable count")
      assert(gSat == valid.count { case (n, c) => n - c < k }.toLong,
        s"k=$k saturated count")
      val exp = fps.sum.toDouble / valid.size / 1e12
      assert(math.abs(gPass.get - exp) < 2e-6, s"k=$k mean pass")
      // the unbiased estimator dominates the plug-in 1 − (1−c/n)^k
      // per problem (without-replacement failures are rarer), so the
      // means must order the same way
      val plugin = valid.map { case (n, c) =>
        1.0 - math.pow(1.0 - c.toDouble / n, k) }.sum / valid.size
      assert(gPass.get >= plugin - 1e-9,
        s"k=$k unbiased mean below plug-in — estimator inverted")
    }
    // every fixture problem has n ≥ 8, so the curve is genuinely
    // monotone in k
    val curve = AnalyticsOps.PassKs.map(k => out(k.toLong)._3.get)
    curve.sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) >= p(0), "pass@k not monotone"))
    // the rate-0 problem (u ≡ 0 mod 50) anchors the curve below 1
    assert(per.values.exists(_._2 == 0L), "no impossible problem planted")
    assert(curve.forall(_ < 1.0), "curve saturated — fixture degenerate")
  }

  test("q392 random walks: matches a driver step-by-step replay; coverage monotone; walks conserved") {
    val e0 = GraphOps.cooccurEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    e0.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val nbrs = adj.view.mapValues(_.sorted.toVector).toMap
    def fp60(s0: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s0.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val starts = nbrs.keySet.toSeq.sorted
      .filter(u => fp60(s"rws:$u") % GraphOps.RwStartMod == 0)
    val out = GraphOps.randomWalks(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    var cur = starts.map(w => w -> w)
    val visited = scala.collection.mutable.Set.empty[Long]
    visited ++= starts
    val nV = nbrs.size.toLong
    (0 to GraphOps.RwSteps).foreach { t =>
      if (t > 0) {
        cur = cur.map { case (w, x) =>
          val ns = nbrs(x)
          w -> ns((fp60(s"rw:$t:$w") % ns.size).toInt)
        }
        visited ++= cur.map(_._2)
      }
      val (gW, gD, gR, gV, gC) = out(t.toLong)
      assert(gW == cur.size.toLong, s"step $t walk count")
      assert(gD == cur.map(_._2).distinct.size.toLong, s"step $t occupied")
      assert(gR == cur.count(p => p._1 == p._2).toLong, s"step $t returned")
      assert(gV == visited.size.toLong, s"step $t visited")
      assert(gC == math.floor(1e6 * visited.size.toDouble / nV).toLong,
        s"step $t coverage")
    }
    // walk count conserved (no dead ends: every node has degree >= 1),
    // coverage strictly grew somewhere, start sampling non-trivial
    assert(starts.nonEmpty && starts.size < nbrs.size,
      "start sampling degenerate")
    assert(out(GraphOps.RwSteps.toLong)._4 > out(0L)._4,
      "coverage never grew — walks stuck")
  }
}
