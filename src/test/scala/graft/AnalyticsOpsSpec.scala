package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnalyticsOps, GraphOps, JoinOps, MixtureOps, MlPrepOps, ProfileOps, ScaleOps, TextOps}

class AnalyticsOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  test("bloom probe: zero false negatives, bounded false positives") {
    val keys = spark.range(0, 1000).selectExpr("id * 3 AS k") // multiples of 3
    val bloom = keys.stat.bloomFilter("k", 1000, JoinOps.BloomFpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probed = spark.range(0, 3000)
      .selectExpr("id AS k", "id % 3 = 0 AS is_member")
      .withColumn("hit", call_function("bloom_might_contain",
        lit(bos.toByteArray), col("k")))
    // a bloom filter can err only one way: every member must hit
    assert(probed.filter(col("is_member") && !col("hit")).count() == 0)
    val fps = probed.filter(!col("is_member") && col("hit")).count()
    assert(fps <= 100, s"false positives $fps exceed 5% of 2000 non-members")
  }

  test("bloom-pruned join equals the plain join, and the probe actually prunes") {
    val pruned = JoinOps.bloomPruneJoin(spark, dir).collect()
    val plain = graft.operators.EtlOps.t(spark, dir, "lineitem")
      .join(graft.operators.EtlOps.t(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_lines"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("order_month").collect()
    assert(pruned.toSeq == plain.toSeq)
    assert(pruned.map(_.getLong(1)).sum <
      spark.read.parquet(s"$dir/lineitem.parquet").count() / 2,
      "URGENT orders should select a minority of lineitems")
  }

  test("funnel stages are consistent with their timestamps") {
    val rows = AnalyticsOps.funnel(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = Option(r.getString(1))
      val c = Option(r.getString(2))
      val p = Option(r.getString(3))
      val stage = r.getLong(4)
      // each stage requires the previous one, strictly later in time
      assert(c.isEmpty || v.nonEmpty)
      assert(p.isEmpty || c.nonEmpty)
      c.foreach(cc => assert(cc > v.get))
      p.foreach(pp => assert(pp > c.get))
      assert(stage == Seq(v, c, p).count(_.nonEmpty))
    }
    // every user appears exactly once (the tiny sf0.001 corpus is dense
    // enough that all users may reach stage 3 — no narrowing assertion)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("bigram LM probabilities are valid smoothed conditionals") {
    val rows = AnalyticsOps.bigramLm(spark, dir).collect()
    assert(rows.length == AnalyticsOps.LmTopK)
    rows.foreach { r =>
      val (c12, c1, p) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c12 <= c1, "a bigram cannot outnumber its first word")
      assert(p > 0.0 && p <= 1.0)
    }
  }

  test("tf-idf: top-k per doc, scores non-increasing within a doc") {
    val rows = AnalyticsOps.tfidfTopK(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rs) =>
      assert(rs.length <= AnalyticsOps.TfidfTopK)
      val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("pagerank conserves total rank mass across iterations") {
    val n = GraphOps.edges(spark, dir).select("src").distinct().count()
    val all = GraphOps.pageRankRanks(spark, dir).collect()
    assert(all.length == n, "every node keeps a rank row")
    // each damped iteration redistributes mass without creating or
    // destroying it: Σ pr = 0.15·n + 0.85·Σ prev = n at every step
    // (up to the floor(x·1e12) fixed-point truncation per edge)
    val mass = all.map(_.getDouble(1)).sum
    assert(math.abs(mass - n) < 1e-3 * n,
      s"rank mass $mass drifted from node count $n")
    assert(all.forall(_.getDouble(1) > 0.15), "damping floor holds")
    val top = GraphOps.pageRank(spark, dir).collect()
    assert(top.length == GraphOps.TopK)
    val prs = top.map(_.getDouble(1)).toSeq
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b })
  }

  test("LSH-bucketed kNN at planes=0 + prefilter off is exactly the brute-force kNN") {
    // one bucket ≡ all-pairs and a corpus-sized prefilter is a no-op:
    // the banded candidate generator must reproduce the quadratic form
    // bit-for-bit (the q32 simhash certification pattern — brute force
    // lives only in this spec)
    val lsh = GraphOps.knnEdgesLsh(spark, dir, planes = 0,
        prefilter = GraphOps.KnnCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = GraphOps.knnEdgesBrute(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, "planes=0 LSH kNN diverged from brute force")
    assert(brute.nonEmpty)
  }

  test("projected prefilter keeps high edge recall against the bucket-confined build") {
    // the prefilter is the lossy stage this round added: gate its edge
    // recall against the same build with the prefilter disabled (the
    // q113 recall-audit pattern applied to the graph build). Measured
    // at sf0.01, where buckets (~60 mates) exceed the prefilter width
    // (24) and the prefilter actually bites — at sf0.001 it's a no-op.
    // (Bucket confinement itself is NOT gated against brute force:
    // on this synthetic corpus cosines are near-uniform, so LSH bucket
    // recall is data-floor-limited; planes=0 equivalence above is the
    // machinery certificate.)
    val dir01 = TestSession.sfDir("0.01")
    val approx = GraphOps.knnEdgesLsh(spark, dir01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketOnly = GraphOps.knnEdgesLsh(spark, dir01,
        prefilter = GraphOps.KnnCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketOnly.nonEmpty)
    val vsBucket = approx.intersect(bucketOnly).size.toDouble / bucketOnly.size
    assert(vsBucket >= 0.85,
      f"prefilter lost ${1 - vsBucket}%.3f of bucket-confined edges " +
        f"(|approx|=${approx.size}, |bucketOnly|=${bucketOnly.size})")
  }

  test("q86 surface carries no cartesian (graph invariants: TimeSeriesOpsSpec)") {
    val p = GraphOps.knnGraphStats(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed kNN degenerated to a cartesian:\n${p.take(1500)}")
  }

  test("scd2: versions tile each user's history, one open interval per user") {
    val rows = AnalyticsOps.scd2(spark, dir).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        "versions are dense from 1")
      // valid_to of version k == valid_from of version k+1
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getString(4) == b.getString(3))
        case _           => ()
      }
      assert(sorted.count(_.getBoolean(5)) == 1, "exactly one current row")
      assert(sorted.last.getBoolean(5))
      // consecutive versions change type (that is what opens a version)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getString(2) != b.getString(2))
        case _           => ()
      }
    }
  }

  test("incremental partial-merge equals direct aggregation bit-for-bit") {
    val merged = AnalyticsOps.incrementalMerge(spark, dir).collect()
    val direct = graft.operators.EtlOps.t(spark, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate").cast("date"), "yyyy-MM")
        .as("ship_month"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("ship_month").collect()
    assert(merged.toSeq == direct.toSeq)
  }

  test("zscore anomalies all exceed the threshold, and some exist") {
    val rows = AnalyticsOps.zscoreAnomalies(spark, dir).collect()
    assert(rows.nonEmpty, "uniform-ish values must have a tail beyond 1.7σ")
    rows.foreach(r => assert(math.abs(r.getDouble(3)) > AnalyticsOps.ZThreshold))
  }

  test("weighted sample favors long documents") {
    import graft.operators.CurationOps
    val rows = CurationOps.weightedSample(spark, dir).collect()
    assert(rows.length == CurationOps.WeightedSampleK)
    val prios = rows.map(_.getDouble(3)).toSeq
    assert(prios.zip(prios.tail).forall { case (a, b) => a <= b },
      "priorities ascend with sample_rank")
    val sampleMean = rows.map(_.getLong(2)).sum.toDouble / rows.length
    val corpusMean = spark.read.parquet(s"$dir/documents.parquet")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"length-weighted sample mean $sampleMean should beat corpus mean $corpusMean")
  }

  test("novelty is a valid fraction and unique grams never exceed total") {
    val rows = graft.operators.CurationOps.noveltyScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      val nov = r.getDouble(3)
      assert(nov >= 0.0 && nov <= 1.0)
    }
  }

  test("collocations: lift-ranked bigrams meet the support floor") {
    import graft.operators.TextOps
    val rows = TextOps.collocations(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= TextOps.CollocTopK)
    val lifts = rows.map(_.getDouble(4)).toSeq
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getLong(1) >= TextOps.CollocMinCount)
      assert(r.getDouble(4) > 0.0)
    }
  }

  test("cdc apply: deletes remove users, timestamps respect the cutoff") {
    val rows = AnalyticsOps.cdcApply(spark, dir).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one state row per surviving user")
    rows.foreach { r =>
      val (src, ts) = (r.getString(1), r.getString(4))
      if (src == "delta") assert(ts >= AnalyticsOps.CdcCutoff)
      else assert(ts < AnalyticsOps.CdcCutoff)
    }
    // users whose LATEST post-cutoff event is an error must be absent
    val e = graft.operators.EtlOps.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val deleted = e
      .filter(col("ts") >= lit(AnalyticsOps.CdcCutoff).cast("timestamp"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("event_type") === "error")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty, "corpus should exercise the delete path")
    val present = rows.map(_.getLong(0)).toSet
    assert(deleted.intersect(present).isEmpty)
  }

  test("kmeans step partitions every vector and obeys Lloyd monotonicity") {
    import graft.operators.{ClusterOps, SimilarityOps}
    import org.apache.spark.sql.expressions.Window
    val out = ClusterOps.kmeansStep(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.map(_.getLong(1)).sum == n, "every vector lands in a cluster")
    assert(out.forall(_.getDouble(2) >= 0.0))
    // assignment to UPDATED centroids cannot beat the initial assignment
    // inertia-wise in reverse: mean-update then reassign only decreases
    // total within-cluster squared distance (small epsilon absorbs the
    // fixed-point quantization of the means)
    val v = SimilarityOps.baseVectors(spark, dir)
    val c0 = v.filter(col("vec_id") < ClusterOps.K)
      .select(col("vec_id").as("cent_id"), col("emb").as("cemb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cent_id"))
    val initInertia = v.crossJoin(broadcast(c0))
      .withColumn("dist", expr(ClusterOps.dsqExpr("emb", "cemb", spark = true)))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .agg(sum(col("dist"))).head().getDouble(0)
    val finalInertia = out.map(_.getDouble(2)).sum
    assert(finalInertia <= initInertia + 1e-3,
      s"Lloyd step must not increase inertia: $finalInertia vs $initInertia")
  }

  test("z-order cells bound BOTH dimensions (the file-skipping guarantee)") {
    val rows = ScaleOps.zorderLayout(spark, dir).collect()
    assert(rows.nonEmpty)
    // a 64-key cell leaves 3 free bits per dimension → range ≤ 7
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 7,
        s"size range leaks past the cell: $r")
      assert(r.getLong(5) - r.getLong(4) <= 7,
        s"price-bucket range leaks past the cell: $r")
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total == spark.read.parquet(s"$dir/part.parquet").count())
  }

  test("q124 BPE merge step matches an independent driver-side pair count") {
    val out = TextOps.bpeMergeStep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.length == TextOps.BpeTopMerges)
    // independent reference: count pairs in plain Scala over the corpus
    val freqs = scala.collection.mutable.Map.empty[String, Long]
    spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().foreach { r =>
        r.getString(0).split(" ").filter(_.length >= 2).foreach { w =>
          (0 until w.length - 1).foreach { i =>
            val p = w.substring(i, i + 2)
            freqs(p) = freqs.getOrElse(p, 0L) + 1L
          }
        }
      }
    val expect = freqs.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(TextOps.BpeTopMerges)
    assert(out.map(t => (t._2, t._3)).toSeq == expect)
    assert(out.map(_._1).toSeq == (1L to TextOps.BpeTopMerges.toLong))
  }

  test("q127 BPE training matches a plain-Scala Sennrich reference") {
    val out = TextOps.bpeTrain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // reference: greedy BPE over the word-frequency table
    var vocab: Map[Vector[String], Long] =
      spark.read.parquet(s"$dir/documents.parquet")
        .select("text").collect()
        .flatMap(_.getString(0).split(" "))
        .groupBy(identity).map { case (w, ws) =>
          w.toVector.map(_.toString) -> ws.length.toLong
        }
    val merges = (1 to TextOps.BpeTrainSteps).map { step =>
      val freqs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          freqs((p(0), p(1))) = freqs.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      val (pair, freq) = freqs.toSeq
        .sortBy { case ((a, b), n) => (-n, a + " " + b) }.head
      vocab = vocab.map { case (syms, n) =>
        val merged = scala.collection.mutable.Buffer.empty[String]
        syms.foreach { x =>
          if (merged.nonEmpty && merged.last == pair._1 && x == pair._2)
            merged(merged.length - 1) = pair._1 + pair._2
          else merged += x
        }
        merged.toVector -> n
      }
      (step.toLong, pair._1 + " " + pair._2, pair._1 + pair._2, freq)
    }
    assert(out.toSeq == merges,
      s"spark ${out.toSeq} vs reference $merges")
  }

  test("q134 fertility matches a plain-Scala train-then-encode reference") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // split with limit -1: Spark's split keeps trailing empty tokens,
    // and both engines treat the empty word as ONE symbol
    def words(text: String) = text.split(" ", -1)
    val wfreq = docs.flatMap(d => words(d._2))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    var vocab: Map[String, Vector[String]] = wfreq.keys.map { w =>
      w -> (if (w.isEmpty) Vector("") else w.toVector.map(_.toString))
    }.toMap
    for (_ <- 1 to TextOps.BpeTrainSteps) {
      val freqs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, syms) =>
        syms.sliding(2).filter(_.length == 2).foreach { p =>
          freqs((p(0), p(1))) = freqs.getOrElse((p(0), p(1)), 0L) + wfreq(w)
        }
      }
      val pair = freqs.toSeq.sortBy { case ((a, b), n) => (-n, a + " " + b) }
        .head._1
      vocab = vocab.map { case (w, syms) =>
        val merged = scala.collection.mutable.Buffer.empty[String]
        syms.foreach { x =>
          if (merged.nonEmpty && merged.last == pair._1 && x == pair._2)
            merged(merged.length - 1) = pair._1 + pair._2
          else merged += x
        }
        w -> merged.toVector
      }
    }
    val want = docs.groupBy(_._1).toSeq.map { case (src, xs) =>
      val ws = xs.flatMap(d => words(d._2))
      (src, ws.length.toLong, ws.map(w => vocab(w).size.toLong).sum,
        ws.map(_.length.toLong).sum)
    }.sortBy(_._1)
    val got = TextOps.bpeFertility(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq == want)
    // fertility ≥ 1: a word never encodes to fewer than one token
    got.foreach(t => assert(t._5 >= 1.0, s"fertility < 1: $t"))
  }

  test("q140 Neyman allocation matches an exact-moment reference") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = docs.groupBy(_._1).map { case (src, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum
      val sxx = xs.map(x => x._2 * x._2).sum
      val varp = (n * sxx - sx * sx).toDouble / (n * n).toDouble
      val wFp = math.floor(n.toDouble * math.sqrt(varp) * 1e6).toLong
      src -> (n, wFp)
    }
    val wsum = want.values.map(_._2).sum
    val rows = graft.operators.ProfileOps.neymanAllocation(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    rows.foreach { case (src, n, wFp, alloc) =>
      val (wn, wf) = want(src)
      assert(n == wn && wFp == wf, s"moments off for $src")
      assert(alloc ==
        math.min(graft.operators.ProfileOps.NeymanK * wf / wsum, wn))
    }
    // the allocation spends most of the budget (floor loses < 1/stratum)
    val spent = rows.map(_._4).sum
    assert(spent <= graft.operators.ProfileOps.NeymanK &&
      spent > graft.operators.ProfileOps.NeymanK - rows.length)
  }

  test("q141 jackknife influence matches exact-total arithmetic") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nt = docs.length.toLong
    val st = docs.map(_._2).sum
    val rows = graft.operators.ProfileOps.jackknifeInfluence(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    rows.foreach { case (src, n, loo, infl) =>
      val sx = docs.filter(_._1 == src).map(_._2).sum
      val wantLoo = (st - sx).toDouble / (nt - n).toDouble
      assert(math.abs(loo - wantLoo) < 1e-6, s"loo off for $src")
      val wantInfl = n.toDouble *
        (st.toDouble / nt.toDouble - (st - sx).toDouble / (nt - n).toDouble)
      assert(math.abs(infl - wantInfl) < 1e-6, s"influence off for $src")
    }
    assert(rows.length == docs.map(_._1).distinct.length)
  }

  test("q142 Zipf slope matches a Math.log reference fit and is negative") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
    val top = toks.groupBy(identity).toSeq
      .map { case (w, xs) => (w, xs.length.toLong) }
      .sortBy { case (w, n) => (-n, w) }
      .take(graft.operators.ProfileOps.ZipfTopK)
    val pts = top.zipWithIndex.map { case ((_, n), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
        math.floor(math.log(n.toDouble) * 1e6).toLong)
    }
    val k = pts.length.toLong
    val (sr, sf) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (srf, srr) =
      (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val wantSlope = (k * srf - sr * sf).toDouble / (k * srr - sr * sr).toDouble
    val row = graft.operators.ProfileOps.zipfSlope(spark, dir).collect().head
    assert(row.getLong(0) == k)
    assert(math.abs(row.getDouble(1) - wantSlope) < 1e-6)
    assert(row.getDouble(1) < -0.1 && row.getDouble(1) > -3.0,
      s"implausible Zipf slope ${row.getDouble(1)}")
  }

  test("q143 Heaps fit matches a Math.log reference across sources") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val grid = docs.groupBy(_._1).toSeq.map { case (src, xs) =>
      val ws = xs.flatMap(_._2.split(" ", -1))
      (src, ws.length.toLong, ws.distinct.length.toLong)
    }
    val pts = grid.map { case (_, t, v) =>
      (math.floor(math.log(t.toDouble) * 1e6).toLong,
        math.floor(math.log(v.toDouble) * 1e6).toLong)
    }
    val k = pts.length.toLong
    val (st, sv) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (stv, stt) =
      (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val wantBeta = (k * stv - st * sv).toDouble / (k * stt - st * st).toDouble
    val rows = graft.operators.ProfileOps.heapsLaw(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    rows.foreach { case (src, t, v, beta, _) =>
      val g = grid.find(_._1 == src).get
      assert(t == g._2 && v == g._3, s"counts off for $src")
      assert(math.abs(beta - wantBeta) < 1e-6)
      assert(v <= t, "vocabulary cannot exceed tokens")
    }
    // residuals of an OLS fit sum to ~0
    assert(math.abs(rows.map(_._5).sum) < 1e-3)
  }

  test("q145 entropy matches a Math.log reference; bounds hold") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = graft.operators.ProfileOps.unigramEntropy(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    rows.foreach { case (src, t, v, h, even) =>
      val cs = docs.filter(_._1 == src).flatMap(_._2.split(" ", -1))
        .groupBy(identity).values.map(_.length.toLong)
      assert(t == cs.sum && v == cs.size.toLong)
      val sclc = cs.map(c =>
        c * math.floor(math.log(c.toDouble) * 1e6).toLong).sum
      val want = math.log(t.toDouble) - sclc.toDouble / 1e6 / t.toDouble
      assert(math.abs(h - want) < 1e-6, s"entropy off for $src")
      // 0 < H <= ln V (+ fixed-point slack), evenness in (0, 1]
      assert(h > 0.0 && h <= math.log(v.toDouble) + 1e-5)
      assert(even > 0.0 && even <= 1.0 + 1e-9)
    }
  }

  test("q148 lm banding: covers every doc, bands match edges, pool centers at 1") {
    val rows = AnalyticsOps.perplexityBucket(spark, dir).collect()
    val nDocs = graft.operators.EtlOps.t(spark, dir, "documents").count()
    assert(rows.length == nDocs, "every document must be banded")
    rows.foreach { r =>
      val (rel, band) = (r.getDouble(3), r.getString(4))
      val want =
        if (rel < AnalyticsOps.LmBandLo) "tail"
        else if (rel > AnalyticsOps.LmBandHi) "head"
        else "middle"
      assert(band == want, s"doc ${r.getLong(0)}: rel=$rel band=$band")
    }
    // rel is score/pooled, so the corpus must straddle 1: some docs below
    // the pool, some above (a constant-rel corpus would mean the pooled
    // ratio failed to discriminate at all)
    val rels = rows.map(_.getDouble(3))
    assert(rels.min < 1.0 && rels.max > 1.0,
      s"rel should straddle 1, got [${rels.min}, ${rels.max}]")
    assert(rows.map(_.getString(4)).distinct.length > 1,
      "banding should split the corpus, not collapse to one band")
  }

  test("q155 ks drift: null split stays under the critical value; ks recomputes") {
    val rows = graft.operators.ProfileOps.snapshotKsDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ks, crit, drifted) =
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      assert(ks >= 0.0 && ks <= 1.0 && crit > 0.0)
      // verdict consistent with the published (rounded) numbers
      if (drifted) assert(ks >= crit - 1e-6) else assert(ks <= crit + 1e-6)
    }
    // fingerprint halves are same-distribution, so at α=0.05 only ~5% of
    // sources may flag; allow generous binomial slack
    val flagged = rows.count(_.getBoolean(5))
    assert(flagged <= math.max(2, rows.length / 4),
      s"$flagged/${rows.length} sources flagged on a null split")
    // recompute one source's KS with a driver-side reference
    val r0 = rows.head
    val docs = graft.operators.EtlOps.t(spark, dir, "documents")
      .filter(col("source") === r0.getString(0))
      .select(graft.operators.TextOps.wsTokenCount(col("text")).as("toks"),
        (graft.operators.TextOps.md5Fingerprint60(
          concat(lit("ks:"), col("doc_id").cast("string"))) % 2 === 0)
          .as("in_a"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val a = docs.filter(_._2).map(_._1).sorted
    val b = docs.filterNot(_._2).map(_._1).sorted
    assert(a.length == r0.getLong(1) && b.length == r0.getLong(2))
    val ksRef = (a ++ b).distinct.map { x =>
      math.abs(a.count(_ <= x).toDouble / a.length -
        b.count(_ <= x).toDouble / b.length)
    }.max
    assert(math.abs(r0.getDouble(3) - ksRef) < 1e-5,
      s"ks mismatch for ${r0.getString(0)}: ${r0.getDouble(3)} vs $ksRef")
  }

  test("q168 psi: only the planted drift flags; psi recomputes from raw bin counts") {
    val rows = graft.operators.ProfileOps.psiDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // exactly the planted type crosses the ACTION threshold; the
    // fingerprint-split types stay below it. (At sf0.001's ~100 events
    // per side the PSI noise floor is ~0.1, so `warn` can trip on a
    // null split — the documented small-sample caveat; at sf0.01 the
    // floor is ~0.02 and only 'error' fires either flag.)
    val acted = rows.filter(_._6).map(_._1).toSeq
    assert(acted == Seq("error"), s"acted: $acted")
    rows.filterNot(_._1 == "error").foreach { r =>
      assert(r._4 < 0.25, s"${r._1} above action threshold: ${r._4}")
    }
    // recompute one type's PSI from raw bin counts with the same
    // smoothing and fixed-point freeze
    val r0 = rows.find(_._1 == "error").get
    val ev = graft.operators.EtlOps.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("value")).collect().map(_.getDouble(0))
    val (av, bv) = ev.partition(_ < 34.0)
    assert(av.length == r0._2 && bv.length == r0._3)
    def binCounts(xs: Array[Double]): Map[Long, Long] =
      xs.groupBy(x => math.min(math.floor(x / 10.0).toLong, 9L))
        .view.mapValues(_.length.toLong).toMap
    val (ca, cb) = (binCounts(av), binCounts(bv))
    val psiFp = (0L to 9L).map { b =>
      val pa = (ca.getOrElse(b, 0L) + 1).toDouble / (av.length + 10)
      val pb = (cb.getOrElse(b, 0L) + 1).toDouble / (bv.length + 10)
      math.floor((pa - pb) * math.log(pa / pb) * 1e9).toLong
    }.sum
    assert(math.abs(r0._4 - math.rint(psiFp / 1e9 * 1e6) / 1e6) < 1e-9,
      s"psi mismatch: ${r0._4} vs ${psiFp / 1e9}")
  }

  test("q158 bootstrap: CIs bracket the point mean and a replicate recomputes") {
    val rows = graft.operators.ProfileOps.bootstrapCi(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(4) < r.getDouble(5), "ci_lo must be < ci_hi")
      assert(r.getDouble(3) > r.getDouble(4) * 0.5 &&
        r.getDouble(3) < r.getDouble(5) * 2.0, "boot mean far outside CI")
    }
    // a ~94% interval should bracket the truth for most of the 20 sources
    val covered = rows.count(r =>
      r.getDouble(2) >= r.getDouble(4) && r.getDouble(2) <= r.getDouble(5))
    assert(covered >= rows.length * 3 / 4,
      s"only $covered/${rows.length} CIs cover their point mean")
    // recompute replicate b=0 of one source with driver-side Math.log
    val r0 = rows.head
    val docs = graft.operators.EtlOps.t(spark, dir, "documents")
      .filter(col("source") === r0.getString(0))
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val us = spark.sql(docs.map { case (id, _) =>
      s"SELECT CAST($id AS BIGINT) AS doc_id, " +
        s"CAST(md5_fp60('bs:0:$id') AS DOUBLE) " +
        "/ 1152921504606846976.0 AS u"
    }.mkString(" UNION ALL ")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val wfp = docs.map { case (id, _) =>
      id -> math.floor(-math.log(math.max(us(id), 1e-12)) * 1e6).toLong }
      .toMap
    val want = docs.map { case (id, x) => wfp(id) * x }.sum.toDouble /
      docs.map { case (id, _) => wfp(id) }.sum.toDouble
    // the published stats are over all replicates; recompute via the
    // same path the operator uses and check b=0's mean is inside the
    // replicate range implied by (ci_lo, ci_hi) ± the rank-2 slack
    assert(want > r0.getDouble(4) * 0.8 && want < r0.getDouble(5) * 1.2,
      s"hand-computed replicate mean $want implausible vs CI " +
        s"(${r0.getDouble(4)}, ${r0.getDouble(5)})")
  }

  test("q199 deletion impact: cascade counts reconcile table by table") {
    import graft.operators.{EtlOps, ProfileOps}
    val got = ProfileOps.deletionImpact(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got.keySet == Set("customer", "orders", "lineitem", "events"))
    val delCust = EtlOps.t(spark, dir, "customer")
      .filter(col("c_custkey") % ProfileOps.DelMod === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val orders = EtlOps.t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val delOrd = orders.filter(o => delCust.contains(o._2)).map(_._1).toSet
    val liKeys = EtlOps.t(spark, dir, "lineitem")
      .select("l_orderkey").collect().map(_.getLong(0))
    val ev = EtlOps.events(spark, dir).select("user_id").collect()
      .map(_.getLong(0))
    def check(tbl: String, total: Long, affected: Long): Unit = {
      val (n, a, f) = got(tbl)
      assert(n == total && a == affected, s"$tbl: ($n, $a)")
      assert(math.abs(f - affected.toDouble / total) <= 5e-7)
      assert(a > 0 && a < n, s"$tbl: cohort empty or total — audit vacuous")
    }
    check("customer", EtlOps.t(spark, dir, "customer").count(),
      delCust.size.toLong)
    check("orders", orders.length.toLong, delOrd.size.toLong)
    check("lineitem", liKeys.length.toLong,
      liKeys.count(delOrd.contains).toLong)
    check("events", ev.length.toLong,
      ev.count(_ % ProfileOps.DelMod == 0).toLong)
  }

  test("q200 ab test: counts, z statistic and verdicts reconcile") {
    import graft.operators.{AnalyticsOps, EtlOps}
    val got = AnalyticsOps.abTest(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(7), r.getBoolean(8))).toMap
    val ev = EtlOps.events(spark, dir)
      .select("event_type", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val users = ev.map(_._2).distinct
    val (na, nb) = (users.count(_ % 2 == 0).toLong,
      users.count(_ % 2 == 1).toLong)
    got.foreach { case (tpe, (gna, gnb, ca, cb, z, sig)) =>
      assert(gna == na && gnb == nb)
      val conv = ev.filter(e => e._1 == tpe && {
        val eff = if (tpe == "purchase")
          e._3 * (1.0 + 1.0 * (e._2 % 2)) else e._3
        eff > AnalyticsOps.AbConvValue
      }).map(_._2).distinct
      assert(ca == conv.count(_ % 2 == 0).toLong, s"$tpe conv_a")
      assert(cb == conv.count(_ % 2 == 1).toLong, s"$tpe conv_b")
      val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
      val p = (ca + cb).toDouble / (na + nb)
      // mirror the operator's degenerate guard (all or none converted)
      val wantZ = if (ca + cb == 0 || ca + cb == na + nb) 0.0
        else (pb - pa) /
          math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
      assert(math.abs(z - wantZ) <= 6e-7, s"$tpe z")
      assert(sig == (math.abs(wantZ) > AnalyticsOps.AbZCrit))
    }
    // the planted lift must dominate (significance itself needs sf0.01
    // sample sizes — the oracle row pins `significant = true` there):
    // purchase carries the largest positive z of all metrics
    val pz = got("purchase")._5
    assert(pz > 0 && got.filter(_._1 != "purchase").values
      .forall(v => v._5 <= pz), "planted purchase lift not dominant")
    assert(got("purchase")._4 > got("purchase")._3,
      "variant B must out-convert A on the lifted metric")
  }

  test("q187 contract audit: counts reconcile, both outcomes exercised") {
    import graft.operators.{EtlOps, ProfileOps}
    val got = ProfileOps.contractAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(4),
        r.getLong(5), r.getDouble(6), r.getBoolean(7))).toMap
    assert(got.keySet == (1 to 13).map(i => f"CT$i%02d").toSet)
    val li = EtlOps.t(spark, dir, "lineitem")
    val ev = EtlOps.events(spark, dir)
    // recompute representative contracts independently
    assert(got("CT01")._3 ==
      li.filter(!col("l_quantity").between(1, 45)).count())
    assert(got("CT02")._3 ==
      li.filter(col("l_discount") > 0.08).count())
    assert(got("CT06")._3 ==
      li.count() - li.select("l_orderkey", "l_linenumber")
        .distinct().count())
    assert(got("CT13")._3 ==
      ev.count() - ev.select("event_id").distinct().count())
    // fixture genuinely violates the tight contracts and passes the rest
    assert(got("CT01")._3 > 0 && got("CT02")._3 > 0,
      "planted-tight range contracts found no violations")
    assert(got("CT04")._3 == 0 && got("CT08")._3 == 0 && got("CT12")._3 == 0)
    got.values.foreach { case (_, n, v, rate, ok) =>
      assert(ok == (v == 0L))
      assert(math.abs(rate - v.toDouble / n) <= 5e-7)
    }
  }

  test("q338 k-core peel matches a driver-side synchronous-peel replay; monotone; flag honest") {
    val edges = GraphOps.edges(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val adj = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Set[String]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    }
    val n = adj.size.toLong
    val m = edges.length.toLong
    val k = math.ceil(m.toDouble / n / 2).toLong
    val rows = GraphOps.kcorePeel(spark, dir).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.length == GraphOps.KCoreRounds)
    var prev = n
    rows.foreach { case (_, nodes, edgesU, removed, conv) =>
      // synchronous replay of one peel round
      val rm = adj.keys.filter(u => adj(u).size < k).toSeq
      rm.foreach { u => adj(u).foreach(w => adj(w) -= u); adj -= u }
      assert(nodes == adj.size.toLong)
      assert(edgesU == adj.values.map(_.size.toLong).sum / 2)
      assert(removed == rm.length.toLong)
      assert(removed == prev - nodes)
      assert(conv == (removed == 0L))
      prev = nodes
    }
    // nodes monotone non-increasing across rounds
    rows.map(_._2).sliding(2).foreach(p =>
      if (p.length == 2) assert(p(1) <= p(0)))
  }

  test("q339 assortativity matches a driver-side Pearson replay and lies in [-1, 1]") {
    val edges = GraphOps.edges(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m = edges.length.toLong
    var sx, sy, sxy, sxx, syy = 0L
    edges.foreach { case (a, b) =>
      val (x, y) = (deg(a), deg(b))
      sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
    }
    val r = (m.toDouble * sxy - sx.toDouble * sy) /
      (math.sqrt(m.toDouble * sxx - sx.toDouble * sx) *
        math.sqrt(m.toDouble * syy - sy.toDouble * sy))
    val row = GraphOps.degreeAssortativity(spark, dir).collect().head
    assert(row.getLong(0) == m)
    assert(math.abs(row.getDouble(3) - r) < 1e-6)
    assert(row.getDouble(3) >= -1.0 && row.getDouble(3) <= 1.0)
    // both-directions edge list → symmetric endpoint-degree moments
    assert(row.getDouble(1) == row.getDouble(2))
  }

  test("q335 simpson scan: pooled row is the exact sum of strata; flags only strata; direction sign-consistent with means") {
    val rows = AnalyticsOps.simpsonScan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getBoolean(6)))
    val (pooled, strata) = rows.partition(_._1 == -1L)
    assert(pooled.length == 1)
    assert(strata.nonEmpty)
    assert(pooled.head._2 == strata.map(_._2).sum) // n_t conserves
    assert(pooled.head._3 == strata.map(_._3).sum) // n_c conserves
    assert(!pooled.head._7) // the pooled row itself is never "reversed"
    rows.foreach { case (st, _, _, avgT, avgC, dir_, rev) =>
      // integer cross-product sign agrees with the rounded means except
      // within rounding distance of a tie
      if (math.abs(avgT - avgC) > 1e-4)
        assert(dir_ == (if (avgT > avgC) 1L else -1L), s"stratum $st")
      if (st == -1L) assert(!rev)
      else assert(rev == (dir_ != pooled.head._6), s"stratum $st")
    }
  }

  test("q361 dsir selection: matches an exact driver replay; the planted domain quarter is recovered") {
    import graft.functions.Md5Fp60
    val b = MlPrepOps.DsirBuckets
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bigramBkts(text: String): Seq[Int] = {
      val t = text.split(" ", -1)
      (0 until t.length - 1).map(i =>
        (Md5Fp60.fp60(s"${t(i)} ${t(i + 1)}".getBytes("UTF-8")) % b).toInt)
    }
    val marker = MlPrepOps.DsirMarker
    val pool = docs.map { case (id, t) =>
      val planted = id % 4 == 0
      (id, planted, if (planted) s"$t $marker" else t)
    }
    val tgt = docs.filter(_._1 % 4 == 1).map(d => s"${d._2} $marker")
    val tc = Array.fill(b)(0L)
    tgt.foreach(t => bigramBkts(t).foreach(tc(_) += 1))
    val pcArr = Array.fill(b)(0L)
    val poolFeats = pool.map(p => (p._1, p._2, bigramBkts(p._3)))
    poolFeats.foreach(_._3.foreach(pcArr(_) += 1))
    val (nt, nr) = (tc.sum, pcArr.sum)
    val lam = (0 until b).map(i => math.floor(math.log(
      ((tc(i) + 1).toDouble / (nt + b).toDouble) /
        ((pcArr(i) + 1).toDouble / (nr + b).toDouble)) * 1e9).toLong)
    val scored = poolFeats.map { case (id, pl, fs) =>
      (id, pl, fs.map(lam(_)).sum) }
    val k = scored.count(_._2)
    val selected = scored.sortBy { case (id, _, s) => (-s, id) }
      .take(k).map(_._1).toSet
    def r(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = scored.groupBy(_._2).map { case (pl, rows) =>
      val np = rows.length.toLong
      val ns = rows.count(t => selected(t._1)).toLong
      pl -> (np, ns, r(ns.toDouble / np.toDouble, 4),
        r(rows.map(_._3).sum.toDouble / 1e9 / np.toDouble, 6))
    }
    val out = MlPrepOps.dsirSelection(spark, dir).collect().map(row =>
      row.getBoolean(0) -> (row.getLong(1), row.getLong(2),
        row.getDouble(3), row.getDouble(4))).toMap
    assert(out == expect, "DSIR composition mismatch vs replay")
    // the method must actually work on its plant: strong separation
    assert(out(true)._3 >= 0.6, "planted recall collapsed")
    assert(out(false)._3 <= 0.2, "unplanted over-selected")
    assert(out(true)._4 > out(false)._4, "score separation inverted")
  }

  test("q362 ridge path: matches an exact driver replay; shrinkage and df behave") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("CAST(n_chars AS BIGINT) AS y",
        "CAST(size(split(text, ' ')) AS BIGINT) AS x1",
        "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS x2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toLong
    val s1 = rows.map(_._2).sum; val s2 = rows.map(_._3).sum
    val sy = rows.map(_._1).sum
    val t11 = n * rows.map(r => r._2 * r._2).sum - s1 * s1
    val t12 = n * rows.map(r => r._2 * r._3).sum - s1 * s2
    val t22 = n * rows.map(r => r._3 * r._3).sum - s2 * s2
    val t1y = n * rows.map(r => r._2 * r._1).sum - s1 * sy
    val t2y = n * rows.map(r => r._3 * r._1).sum - s2 * sy
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = MlPrepOps.ridgePath(spark, dir).collect().map(r =>
      r.getDouble(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    for (ratio <- MlPrepOps.RidgeRatios) {
      val lam = math.floor(
        ratio * ((t11.toDouble + t22.toDouble) / 2.0)).toLong
      val (a11, a22) = ((t11 + lam).toDouble, (t22 + lam).toDouble)
      val (d11, d22, d12) = (t11.toDouble, t22.toDouble, t12.toDouble)
      val det = a11 * a22 - d12 * d12
      val b1 = (t1y.toDouble * a22 - t2y.toDouble * d12) / det
      val b2 = (t2y.toDouble * a11 - t1y.toDouble * d12) / det
      val tr2 = (d11 + d22) / 2.0
      val gap = math.sqrt((d11 - d22) * (d11 - d22) / 4.0 + d12 * d12)
      val (e1, e2) = (tr2 + gap, tr2 - gap)
      val (glam, gb1, gb2, gint, gl2, gdf) = out(ratio)
      assert(glam == lam, s"$ratio lam")
      assert(gb1 == rd(b1, 6) && gb2 == rd(b2, 6), s"$ratio beta")
      assert(gint == rd((sy.toDouble - (b1 * s1 + b2 * s2)) / n.toDouble,
        6), s"$ratio intercept")
      assert(gl2 == rd(math.sqrt(b1 * b1 + b2 * b2), 6), s"$ratio l2")
      assert(gdf == rd(e1 / (e1 + lam.toDouble)
        + e2 / (e2 + lam.toDouble), 4), s"$ratio df")
    }
    // path shape: λ=0 is OLS with df=2; shrinkage is monotone
    assert(out(0.0)._6 == 2.0)
    val path = MlPrepOps.RidgeRatios.map(out(_))
    path.sliding(2).foreach { case Seq(a, b) =>
      assert(b._5 <= a._5 + 1e-9, "l2 norm grew along the path")
      assert(b._6 < a._6, "df did not shrink")
    case _ => }
  }

  test("q363 effective-number weights: matches a driver replay; beta interpolates uniform to inverse-frequency") {
    val cls = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = MlPrepOps.effNumWeights(spark, dir).collect().map(r =>
      (r.getDouble(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    for (beta <- MlPrepOps.EffNumBetas) {
      val rows = cls.map { case (lang, n) =>
        val eff = (1.0 - math.pow(beta, n.toDouble)) / (1.0 - beta)
        val wfp = math.floor(1.0 / eff * 1e12).toLong
        val iffp = math.floor(1.0 / n.toDouble * 1e12).toLong
        (lang, n, eff, wfp, iffp)
      }
      val (sw, sif, nc) =
        (rows.map(_._4).sum, rows.map(_._5).sum, rows.length)
      rows.foreach { case (lang, n, eff, wfp, iffp) =>
        val (gn, geff, gw, gif) = out((beta, lang))
        assert(gn == n)
        assert(geff == rd(eff, 4), s"$beta/$lang eff")
        assert(gw == rd(wfp.toDouble * nc / sw.toDouble, 6),
          s"$beta/$lang w")
        assert(gif == rd(iffp.toDouble * nc / sif.toDouble, 6),
          s"$beta/$lang invf")
      }
    }
    // interpolation: the weight spread across classes widens with beta,
    // and at the largest beta the weights sit close to inverse-frequency
    val spreads = MlPrepOps.EffNumBetas.map { b =>
      val ws = cls.map(c => out((b, c._1))._3)
      ws.max - ws.min
    }
    assert(spreads == spreads.sorted, "spread not monotone in beta")
    cls.foreach { case (lang, _) =>
      val (_, _, w, invf) = out((MlPrepOps.EffNumBetas.max, lang))
      assert(math.abs(w - invf) < 0.05 * invf + 0.01,
        s"$lang: beta=0.999 weight far from inverse frequency")
    }
  }

  test("q364 batch composition: matches a driver replay; hash shuffle beats ingest order") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def replay(ordered: Seq[(Long, String)])
        : (Long, Double, Long, Double, Double) = {
      val batches = ordered.grouped(MlPrepOps.BatchSize).toSeq
      val perBatch = batches.map { b =>
        val cells = b.groupBy(_._2).map(_._2.length.toLong)
        val n = b.length.toLong
        val entFp = cells.map { c =>
          val p = c.toDouble / n.toDouble
          math.floor(p * (-math.log(p)) * 1e9).toLong
        }.sum
        (cells.size.toLong, entFp)
      }
      def rd(x: Double, sc: Int) = BigDecimal(x)
        .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
      val nb = perBatch.length.toLong
      (nb, rd(perBatch.map(_._1).sum.toDouble / nb, 4),
        perBatch.map(_._1).min,
        rd(perBatch.count(_._1 == 1L).toDouble / nb, 4),
        rd(perBatch.map(_._2).sum.toDouble / 1e9 / nb, 6))
    }
    val expIngest = replay(docs.sortBy(d => (d._2, d._1)).toSeq)
    val expHashed = replay(
      docs.sortBy(d => (md5hex(d._1.toString), d._1)).toSeq)
    val out = MlPrepOps.batchComposition(spark, dir).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out("ingest") == expIngest, "ingest scheme mismatch")
    assert(out("hashed") == expHashed, "hashed scheme mismatch")
    // the audit's point: the shuffle visibly de-correlates batches
    assert(out("hashed")._5 > out("ingest")._5 + 0.5,
      "hash shuffle did not raise batch entropy")
    assert(out("hashed")._2 > out("ingest")._2,
      "hash shuffle did not raise source diversity")
  }

  test("q366 risk-coverage: matches a driver replay; thresholds are the realized knob values") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text", "lang = 'en' AS pos").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val train = docs.filter(_._1 % 5 != 0)
    val test = docs.filter(_._1 % 5 == 0)
    val cpos = scala.collection.mutable.Map.empty[String, Long]
    val cneg = scala.collection.mutable.Map.empty[String, Long]
    train.foreach { case (_, t, p) =>
      t.split(" ", -1).foreach { tok =>
        if (p) cpos(tok) = cpos.getOrElse(tok, 0L) + 1
        else cneg(tok) = cneg.getOrElse(tok, 0L) + 1
      }
    }
    val vocab = (cpos.keySet ++ cneg.keySet)
    val (np, nn, v) =
      (cpos.values.sum, cneg.values.sum, vocab.size.toLong)
    def llr(tok: String): Long =
      math.floor(math.log((cpos.getOrElse(tok, 0L) + 1).toDouble /
        (np + v).toDouble) * 1e9).toLong -
        math.floor(math.log((cneg.getOrElse(tok, 0L) + 1).toDouble /
          (nn + v).toDouble) * 1e9).toLong
    val dpos = train.count(_._3).toLong
    val dneg = train.count(!_._3).toLong
    val priorFp = math.floor(math.log(dpos.toDouble) * 1e9).toLong -
      math.floor(math.log(dneg.toDouble) * 1e9).toLong
    val scored = test.map { case (id, t, p) =>
      // only vocab tokens score (the join drops unseen tokens)
      val sfp = t.split(" ", -1).filter(vocab).map(llr).sum
      val score = priorFp + sfp
      (id, p, score, math.abs(score), (score >= 0) == p)
    }.sortBy { case (id, _, _, conf, _) => (-conf, id) }
    def rd(x: Double, sc: Int) = BigDecimal(x)
      .setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = MlPrepOps.riskCoverage(spark, dir).collect().map(r =>
      r.getDouble(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val nTest = scored.length
    for (cov <- MlPrepOps.RiskCoverages) {
      val k = math.ceil(cov * nTest).toInt
      val kept = scored.take(k)
      val exp = (k.toLong, rd(k.toDouble / nTest, 4),
        rd(kept.count(!_._5).toDouble / k, 6),
        rd(kept.map(_._4).min.toDouble / 1e9, 6))
      assert(out(cov) == exp, s"coverage $cov mismatch")
    }
    // guaranteed structure: lower coverage ⇒ higher (or equal) cut
    val thr = MlPrepOps.RiskCoverages.map(out(_)._4)
    thr.sliding(2).foreach { case Seq(a, b) => assert(b >= a)
    case _ => }
  }

  test("q367 native session_window: agrees with q39 everywhere; exact-gap event still MERGES") {
    val native = ScaleOps.sessionWindowNative(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val manual = ScaleOps.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, ss) => u -> ss.length.toLong }
    assert(native.keySet == manual.keySet)
    manual.foreach { case (u, nSess) =>
      assert(native(u)._1 == nSess, s"user $u session count differs")
    }
    // boundary pin (measured, not assumed): a second event EXACTLY gap
    // minutes later merges into the same session — Spark's merge test
    // is inclusive of the window end, matching q39's strict-> break
    import spark.implicits._
    val gapUs = ScaleOps.SessionGapMinutes * 60L * 1000000L
    def sessions(deltaUs: Long): Long = Seq((1L, 0L), (1L, deltaUs))
      .toDF("user_id", "us")
      .selectExpr("user_id", "timestamp_micros(us) AS ts")
      .groupBy(col("user_id"), session_window(col("ts"),
        s"${ScaleOps.SessionGapMinutes} minutes"))
      .count().count()
    assert(sessions(gapUs) == 1L, "exact-gap event must merge")
    assert(sessions(gapUs + 1L) == 2L, "gap+1us event must split")
  }

  test("q369 state sizing: matches a driver replay; state grows sub-linearly with TTL") {
    val uh = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("user_id", "unix_micros(ts) div 3600000000 AS h")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxH = uh.map(_._2).max
    def rd(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = ScaleOps.stateSizing(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    for (ttl <- ScaleOps.StateTtlHours) {
      val perCp = uh.flatMap { case (u, h) =>
        (h until math.min(h + ttl, maxH + 1)).map(cp => (u, cp))
      }.distinct.groupBy(_._2).map(_._2.length.toLong)
      val exp = (perCp.size.toLong, perCp.max,
        rd(perCp.sum.toDouble / perCp.size))
      assert(out(ttl) == exp, s"ttl $ttl mismatch")
    }
    // more TTL can only hold more state, but never more than the
    // distinct-user population (the MarkerTtlHours design claim)
    val maxes = ScaleOps.StateTtlHours.map(out(_)._2)
    maxes.sliding(2).foreach { case Seq(a, b) => assert(b >= a)
    case _ => }
    assert(maxes.max <= uh.map(_._1).distinct.length.toLong)
  }

  test("q370 doremi weights: matches a driver replay; weights track excess loss") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "explode(split(text, ' ')) AS tok")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val st = toks.groupBy(identity).map { case ((s0, t0), xs) =>
      ((s0, t0), xs.length.toLong) }
    val sTot = st.groupBy(_._1._1).map { case (s0, m) =>
      s0 -> (m.values.sum, m.size.toLong) }
    val pooled = st.groupBy(_._1._2).map { case (t0, m) =>
      t0 -> m.values.sum }
    val (pn, pv) = (pooled.values.sum, pooled.size.toLong)
    val loss = sTot.keys.toSeq.sorted.map { s0 =>
      val (n0, v0) = sTot(s0)
      var nToks = 0L; var ownSum = 0L; var poolSum = 0L
      st.filter(_._1._1 == s0).foreach { case ((_, t0), c) =>
        val ownFp = math.floor(math.log(
          (c + 1).toDouble / (n0 + v0).toDouble) * 1e9).toLong
        val poolFp = math.floor(math.log(
          (pooled(t0) + 1).toDouble / (pn + pv).toDouble) * 1e9).toLong
        nToks += c; ownSum += -ownFp * c; poolSum += -poolFp * c
      }
      val lp = poolSum.toDouble / 1e9 / nToks.toDouble
      val lo = ownSum.toDouble / 1e9 / nToks.toDouble
      val wFp = math.floor(math.exp(
        MixtureOps.DoremiEta * (lp - lo)) * 1e9).toLong
      (s0, nToks, lp, lo, lp - lo, wFp)
    }
    val sw = loss.map(_._6).sum
    val nd = loss.length
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = MixtureOps.doremiWeights(spark, dir).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    loss.foreach { case (s0, nToks, lp, lo, ex, wFp) =>
      val exp = (nToks, rd(lp), rd(lo), rd(ex), rd(1.0 / nd),
        rd(wFp.toDouble / sw.toDouble))
      assert(out(s0) == exp, s"$s0 mismatch")
    }
    // weights are a monotone transform of excess and sum to ~1
    val byExcess = loss.sortBy(_._5).map(t => out(t._1)._6)
    byExcess.sliding(2).foreach { case Seq(a, b) => assert(b >= a)
    case _ => }
    assert(math.abs(out.values.map(_._6).sum - 1.0) < 1e-3)
  }

  test("q371 hash width: matches a driver replay; observed collisions track the birthday bound") {
    import graft.functions.Md5Fp60
    val hs = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id").collect()
      .map(r => Md5Fp60.fp60(r.getLong(0).toString.getBytes("UTF-8")))
    val n = hs.length.toLong
    def rd(x: Double) = BigDecimal(x)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = ProfileOps.hashWidthAudit(spark, dir).collect().map(r =>
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    for (b <- ProfileOps.HashWidthBits) {
      val d = hs.map(_ / (1L << (60 - b))).distinct.length.toLong
      val m = math.pow(2.0, b)
      val expCol = rd(n.toDouble -
        m * (1.0 - math.pow((m - 1.0) / m, n.toDouble)))
      assert(out(b) == (n, d, m.toLong, n - d, expCol), s"bits $b")
      // within 4 sigma of the birthday expectation (sigma ~ sqrt(E))
      val sigma = math.max(math.sqrt(math.max(expCol, 0.0)), 1.0)
      assert(math.abs((n - d).toDouble - expCol) <= 4.0 * sigma,
        s"bits $b: collisions off the birthday bound")
    }
    // wider fingerprints can only collide less
    val cs = ProfileOps.HashWidthBits.map(out(_)._4)
    cs.sliding(2).foreach { case Seq(a, b) => assert(b <= a)
    case _ => }
  }

  test("q376 sliding hll: exact side matches a replay; estimates stay inside the 3-sigma band") {
    import graft.functions.Md5Fp60
    val du = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr(
        "unix_micros(date_trunc('day', ts)) div 86400000000 AS d",
        "user_id AS u")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = du.map(_._1).distinct.toSet
    val w6 = ProfileOps.SlideWinDays - 1
    val out = ProfileOps.slidingHllDistinct(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toMap
    assert(out.keySet == days)
    for (w <- days) {
      val exact = du.filter(t => t._1 >= w - w6 && t._1 <= w)
        .map(_._2).distinct.length.toLong
      assert(out(w)._1 == exact, s"window $w exact")
      // m=256 ⇒ sigma ≈ 1.04/sqrt(256) ≈ 6.5%; allow 3 sigma
      assert(math.abs(out(w)._3) < 20.0, s"window $w error out of band")
      assert(out(w)._4 == (w >= days.min + w6))
      // the register-max merge replay: rebuild the window sketch from
      // scratch and from day sketches — they must agree (mergeability)
      def rank(h: Long): Long = {
        val x = h >> 8
        if (x == 0) 53L
        else math.min(java.lang.Long.numberOfTrailingZeros(x) + 1L, 53L)
      }
      val winUsers = du.filter(t => t._1 >= w - w6 && t._1 <= w)
      val direct = Array.fill(ProfileOps.HllM)(0L)
      winUsers.map(_._2).distinct.foreach { u =>
        val h = Md5Fp60.fp60(u.toString.getBytes("UTF-8"))
        val b = (h % ProfileOps.HllM).toInt
        direct(b) = math.max(direct(b), rank(h))
      }
      val viaDays = Array.fill(ProfileOps.HllM)(0L)
      winUsers.groupBy(_._1).foreach { case (_, xs) =>
        val day = Array.fill(ProfileOps.HllM)(0L)
        xs.map(_._2).distinct.foreach { u =>
          val h = Md5Fp60.fp60(u.toString.getBytes("UTF-8"))
          val b = (h % ProfileOps.HllM).toInt
          day(b) = math.max(day(b), rank(h))
        }
        for (i <- day.indices) viaDays(i) = math.max(viaDays(i), day(i))
      }
      assert(direct.toSeq == viaDays.toSeq,
        s"window $w: day-sketch merge is not the direct sketch")
    }
  }

  test("q378 prefix cache: matches a driver replay; diversity saturates with depth") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(_.getString(0).split(" ", -1))
    val totalToks = docs.map(_.length.toLong).sum
    def rd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextOps.prefixCacheCurve(spark, dir).collect().map(r =>
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    for (dep <- TextOps.PrefixCacheDepths) {
      val (elig, short) = docs.partition(_.length >= dep)
      val groups = elig.groupBy(_.take(dep).mkString(" "))
      val saved = groups.values
        .map(g => (g.length - 1).toLong * dep).sum
      val exp = (docs.length.toLong, short.length.toLong,
        groups.size.toLong, saved,
        rd(saved.toDouble / totalToks.toDouble),
        rd(groups.size.toDouble / elig.length.toDouble))
      assert(out(dep) == exp, s"depth $dep mismatch")
    }
    // deeper prefixes can only be more diverse (per eligible doc)
    val divs = TextOps.PrefixCacheDepths.map(out(_)._6)
    divs.sliding(2).foreach { case Seq(a, b) => assert(b >= a - 1e-9)
    case _ => }
    // the knee: depth-1 reuse mass beats depth-4 (diversity saturated)
    assert(out(1)._5 > out(4)._5)
  }
}
