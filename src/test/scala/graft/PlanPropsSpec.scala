package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.operators._
import graft.transforms.CigTransforms

/** Physical-plan property tests: the committed PLANS.md records the
  * numbers, these specs FAIL when a load-bearing plan property regresses
  * — filters must reach the parquet scan, small sides must broadcast,
  * the ingest hot path must stay shuffle-free, salted aggregation must
  * keep its two-phase shape. */
class PlanPropsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The physical plan INCLUDING every plan the query materializes at
    * construction time ([[PlanDump.plans]], the cut-audit rule the
    * broadcast/window walkers already follow): an artifact's lineage cut
    * starts the final plan at an RDD scan, so structural pins on the
    * hot-bucket cap / semi joins / shared frames must look at the plans
    * the cuts execute. */
  private def planWithBuilds(
      build: => org.apache.spark.sql.DataFrame): String =
    PlanDump.plans(spark)(build).map(_.executedPlan.toString)
      .mkString("\n--- construction-time cut ---\n")

  /** The logical plans the window/broadcast walkers inspect, from the
    * same [[PlanDump.plans]] walk: the final frame's optimized plan, then
    * each cut's recorded plan (already optimized when the cut ran). */
  private def auditedPlans(build: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    val qes = PlanDump.plans(spark)(build)
    qes.head.optimizedPlan +: qes.tail.map(_.logical)
  }

  test("PLANS.md rows count the cut plans: a cutting query counts more, a cut-free one its final plan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pr = PlanDump.row(PlanDump.plans(spark)(
        SparkEntry.queries("q70_pagerank")(spark, dir)))
      val prFinal = PlanDump.counts(plan(
        SparkEntry.queries("q70_pagerank")(spark, dir)))
      assert(pr.last > 0, s"q70 recorded no cut: $pr")
      // the cut plans carry the per-round exchanges the final plan hides
      assert(pr(2) > prFinal(2), s"cut-aware $pr vs final-only $prFinal")
      val ingest = PlanDump.row(PlanDump.plans(spark)(
        SparkEntry.queries("q01_full_ingest")(spark, dir)))
      val ingestFinal = PlanDump.counts(plan(
        SparkEntry.queries("q01_full_ingest")(spark, dir)))
      assert(ingest == ingestFinal :+ 0)
      // q86's three cuts (index build, kNN edges, mutual edges) are
      // recorded, and the index build's plan carries its parquet scan
      val knn = PlanDump.row(PlanDump.plans(spark)(
        SparkEntry.queries("q86_knn_graph")(spark, dir)))
      assert(knn.last == 3 && knn.head > 0, s"q86 $knn")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Bench.resetSharedState(spark)
    }
  }

  test("ingest cleanup pipeline is shuffle-free (scan → project, no Exchange)") {
    val cleaned = CigTransforms.sentinelsToNull(CigTransforms.pipeline(
      spark.read.parquet(s"$dir/lineitem.parquet"),
      EtlOps.lineitemConfig, "NL_Hosting", EtlOps.IngestionDate))
    val p = plan(cleaned)
    assert(!p.contains("Exchange"), s"ingest pipeline shuffles:\n$p")
    assert(p.contains("Scan parquet"))
  }

  test("date filter is pushed down to the parquet scan") {
    val p = plan(EtlOps.dateFilter(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"),
      s"no pushed date filter:\n${p.take(2000)}")
  }

  test("column pruning reaches the scan: 2-col projection reads 2 columns") {
    val p = plan(EtlOps.orderedProjection(spark, dir))
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length == 2,
      s"scan reads more than the projection: $readSchema")
  }

  test("dimension enrich join broadcasts the small side") {
    val p = plan(EtlOps.enrichJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("salted aggregation keeps its two-phase shape (two hash aggregates per phase)") {
    val p = plan(ScaleOps.saltedTokenCounts(spark, dir))
    // phase 1 (token,salt) + phase 2 (token), each with partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"salted agg collapsed:\n${p.take(1500)}")
  }

  test("banded range join broadcasts the band table (fact side never shuffles for the join)") {
    val p = plan(JoinOps.bandedRangeJoin(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"range join not broadcast:\n${p.take(1500)}")
  }

  test("bloom probe filters the fact scan BELOW the join (pre-shuffle pruning)") {
    val p = plan(JoinOps.bloomPruneJoin(spark, dir))
    val probeAt = p.indexOf("bloom_might_contain")
    assert(probeAt >= 0, s"bloom probe missing from plan:\n${p.take(1500)}")
    // plans print top-down: every join sits ABOVE (prints before) the
    // probe, so the pruning runs in the scan stage, not post-join
    val joinAt = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
      .map(p.indexOf).filter(_ >= 0).min
    assert(joinAt < probeAt,
      "bloom probe must be below the join (scan-side), not above it")
  }

  test("pivot with declared values runs NO job at construction (no distinct-values inference)") {
    // pivot without declared values collects distinct pivot values in an
    // EAGER job at DataFrame-construction time (it never shows in the
    // final plan), so pin the property by counting jobs during
    // construction, not by inspecting the executedPlan
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // baseline: the events() parquet-schema read itself runs job(s)
      EtlOps.events(spark, dir)
      Thread.sleep(300)
      val baseline = jobs.get()
      val df = RelationalOps.pivotCounts(spark, dir)
      df.queryExecution.executedPlan // force planning, still no action
      Thread.sleep(300) // let any (unexpected) job-start events land
      assert(jobs.get() - baseline == baseline,
        s"pivot construction ran ${jobs.get() - baseline} job(s) vs " +
          s"$baseline for a bare read — values inference adds one")
      assert("Scan parquet".r.findAllIn(plan(df)).length == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("histogram binning broadcasts the per-group stats (fact side never shuffles for the join)") {
    val p = plan(ProfileOps.valueHistogram(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), "fact-side sort-merge join crept in")
  }

  test("snapshot digest aggregates map-side (partial bit_xor before the shuffle)") {
    val p = plan(ScaleOps.snapshotDigest(spark, dir))
    assert(p.contains("partial_bit_xor") || p.contains("partial bit_xor")
      || "HashAggregate.*bit_xor".r.findFirstIn(p).isDefined,
      s"digest aggregate lost its partial phase:\n${p.take(2000)}")
  }

  test("rolling distinct uses the explode plan, not a quadratic non-equi join") {
    val p = plan(TimeSeriesOps.rollingDistinctUsers(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range self-join shape detected:\n${p.take(1500)}")
    assert(p.contains("Generate explode"), "window explode missing")
  }

  test("temporal dim join keys on user equality (interval is a filter, not a nested loop)") {
    val p = plan(JoinOps.temporalDimJoin(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"temporal join degenerated to a nested loop:\n${p.take(1500)}")
  }

  test("pagerank iteration leaves the cached edge table in place (rank side + re-agg exchange only)") {
    // force the 100 TB shape: ranks too big to broadcast → the join must
    // run shuffled, and the pre-partitioned cached `ew` must satisfy its
    // side's distribution so ONLY ranks (1 exchange) and the dst
    // re-aggregation (1 exchange) move
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE off so executedPlan is a concrete tree we can walk; the
    // cached build hides behind the InMemoryTableScan LEAF, so the
    // walk counts only the iteration's own exchanges
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // same recipe as pageRankRanks: out-degree via a whole-partition
      // window, so the cached frame is hash-partitioned on src by the
      // ONE exchange the window inserts
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      val ew = GraphOps.edges(spark, dir)
        .withColumn("out_deg", count(lit(1)).over(w)).persist()
      ew.count() // materialize the cache so the iteration plans against it
      // every rank generation is a lineage cut in the real loop
      // (CurationOps.iterateCut) — cut it here too so the measured plan
      // is the iteration, not the rank table's own lineage
      val ranks = CurationOps.cutLineage(
        ew.select(col("src").as("node")).dropDuplicates("node")
          .select(col("node"), lit(1.0).as("pr")))
      try {
        val exec = GraphOps.pageRankStep(ew, ranks)
          .queryExecution.executedPlan
        val shuffles = exec.collect {
          case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
        }
        assert(shuffles.size <= 2,
          s"iteration grew ${shuffles.size} exchanges:\n${exec.toString.take(2000)}")
        assert(!shuffles.exists(_.outputPartitioning.toString.contains("src")),
          "edge side re-shuffled on src — cached partitioning not reused")
        assert(exec.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
        }.nonEmpty, "cached ew not used")
      } finally ew.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("feature hashing is one aggregate exchange plus the output sort — nothing else") {
    val p = plan(MlPrepOps.featureHash(spark, dir))
    val n = "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(p).length
    assert(n <= 2, s"feature hash grew extra shuffles ($n):\n${p.take(1500)}")
  }

  test("sequence packing is one hash exchange on source plus the output sort") {
    val p = plan(TrainPrepOps.sequencePack(spark, dir))
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).length == 1,
      s"packing must shuffle exactly once, on its grouping key:\n${p.take(1500)}")
    assert("Exchange ".r.findAllIn(p).length <= 2,
      s"packing grew extra shuffles:\n${p.take(1500)}")
  }

  test("gopher rule stack is a pure narrow map (no shuffle before the output sort)") {
    val p = plan(TrainPrepOps.gopherRules(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"rule stack must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("HashAggregate"))
  }

  test("incremental dedup anti-joins by broadcast, never sort-merge") {
    val p = plan(TrainPrepOps.incrementalDedup(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"corpus anti-join not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("epoch schedule is one source exchange plus the global range sort — no single-partition window") {
    val p = plan(TrainPrepOps.epochSchedule(spark, dir))
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).length == 1,
      s"schedule must shuffle once on the interleave key:\n${p.take(1500)}")
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1,
      s"global order must be a range sort:\n${p.take(1500)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"schedule must not collapse to one partition:\n${p.take(1500)}")
  }

  test("space-saving sketch aggregates map-side (partial before the exchange)") {
    val p = plan(spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id % 100 AS k")
      .selectExpr("space_saving_agg(k, 16) AS sk"))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial phase below the exchange — the property that keeps the
    // shuffle O(capacity) per partition instead of O(rows)
    val firstAgg = p.indexOf("ObjectHashAggregate")
    val exch = p.indexOf("Exchange")
    assert(firstAgg >= 0, s"sketch did not plan as ObjectHashAggregate:\n${p.take(1200)}")
    assert(p.contains("partial_space_saving_agg") || p.indexOf("ObjectHashAggregate", firstAgg + 1) > exch,
      s"no partial (map-side) sketch phase:\n${p.take(1500)}")
  }

  test("mixture resampling pushes its copy-count filter and never shuffles") {
    val p = plan(TrainPrepOps.mixtureEpochs(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"resampling must stay narrow:\n${p.take(1500)}")
    assert(p.contains("Generate explode"), s"sequence explode missing:\n${p.take(1500)}")
  }

  test("paragraph dedup pays ONE segment-keyed exchange and no join") {
    val p = plan(DedupOps.paragraphDedup(spark, dir))
    // window over seg + per-doc aggregate: exactly two hash exchanges
    // (plus the output range sort), and no join-back
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n${p.take(1800)}")
    assert(!p.contains("Join"), s"first-occurrence must not join back:\n${p.take(1800)}")
  }

  test("OOV audit broadcasts the vocabulary; the token stream never hash-shuffles") {
    val p = plan(TextOps.oovRate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"vocab probe not broadcast:\n${p.take(1500)}")
    // the only hash exchanges are the two aggregates (vocab build + final
    // per-source); the probe side streams
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 2, s"token stream shuffles ($hashEx hash exchanges):\n${p.take(1800)}")
  }

  test("CDC fingerprint sampling filters BEFORE the dedup/count exchanges") {
    val p = plan(DedupOps.cdcFingerprintDups(spark, dir))
    // the generate must explode the precomputed anchor-position array
    // (one row per anchor), never a per-char-position sequence
    assert(p.contains("aggregate("), s"anchor prefix-sum fold missing:\n${p.take(1800)}")
    assert(!p.contains("sequence("),
      s"per-position explode crept back:\n${p.take(1800)}")
    val gen = p.indexOf("Generate explode")
    val exch = p.indexOf("Exchange")
    assert(gen >= 0 && exch >= 0 && gen > exch,
      s"anchor generate not below the first exchange:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("source drift broadcasts vocabulary and corpus total to the grid") {
    val p = plan(ProfileOps.sourceDrift(spark, dir))
    val bc = "BroadcastExchange".r.findAllIn(p).length
    assert(bc >= 2, s"vocabulary/total not broadcast ($bc):\n${p.take(1800)}")
  }

  test("classifier gate scores inside one projection: no explode, no join, one exchange") {
    val p = plan(MixtureOps.classifierGate(spark, dir))
    assert(!p.contains("Generate"), s"token explode crept in:\n${p.take(1800)}")
    assert(!p.contains("Join"), s"model lookup joined:\n${p.take(1800)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly the per-source exchange, got $hashEx:\n${p.take(1800)}")
  }

  test("DSIR weight table broadcasts to the token stream; nothing sort-merges") {
    val p = plan(MixtureOps.dsirWeights(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"lambda table not broadcast:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"), s"bucket join sort-merged:\n${p.take(1800)}")
    // model pass + scoring pass and nothing else — raw/target counts
    // must come out of ONE aggregate, not separate corpus reads
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"corpus read $scans times, want 2:\n${p.take(1800)}")
  }

  test("temperature mix joins only by broadcast") {
    val p = plan(MixtureOps.temperatureMix(spark, dir))
    assert(!p.contains("SortMergeJoin"), s"tiny plan table sort-merged:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"), s"per-source plan not broadcast:\n${p.take(1800)}")
  }

  test("training manifest: two corpus scans, broadcast-only joins") {
    val p = plan(MixtureOps.trainingManifest(spark, dir))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"corpus read $scans times, want 2:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"), s"mixture plan sort-merged:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"), s"plan not broadcast:\n${p.take(1800)}")
  }

  test("concat-and-chunk cumsum never collapses to a single partition") {
    val p = plan(TrainPrepOps.concatChunk(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum collapsed to one partition:\n${p.take(1800)}")
    assert(p.contains("rangepartitioning"),
      s"two-pass enumeration lost its range exchange:\n${p.take(1800)}")
  }

  test("epoch shuffle windows stay shard-partitioned: no single-partition exchange") {
    val p = plan(MixtureOps.epochShuffleAudit(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"a window or aggregate collapsed to one partition:\n${p.take(1800)}")
  }

  test("bm25 broadcasts the query set and corpus stats; top-k limits before the shuffle") {
    // AQE's pre-execution string hides final join modes — pin the
    // static plan the way PlanDump does
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try plan(MlPrepOps.bm25TopK(spark, dir))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2 &&
      p.contains("BroadcastNestedLoopJoin"),
      s"query set / stats not broadcast:\n${p.take(1800)}")
    // Spark's WindowGroupLimit must prune to top-k map-side (Partial)
    // before the per-term exchange — the property that keeps the window
    // df-bounded instead of corpus-bounded
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"top-k not limited before the shuffle:\n${p.take(1800)}")
  }

  test("passage chunking pays one fingerprint exchange and no sort of the doc stream") {
    val p = plan(TrainPrepOps.passageChunks(spark, dir))
    // chunk generation is a generator projection; the only hash exchange
    // is the chunk_fp dup-count aggregate (plus the output sort's range)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"chunking gained an exchange:\n${p.take(1800)}")
    assert(p.contains("Generate"), "chunk generator left the plan")
  }

  test("sft assembly is one thread-key exchange; window and aggregate share it") {
    val p = plan(TrainPrepOps.sftAssembly(spark, dir))
    // the reverse-cumsum window hashes on (user_id, day); the per-thread
    // aggregate's clustered distribution is satisfied by the same
    // partitioning, so the event stream shuffles exactly once
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"sft assembly gained an exchange:\n${p.take(1800)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"a window collapsed to one partition:\n${p.take(1800)}")
  }

  test("hard negatives broadcast the query set and stats; no corpus-keyed window") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try plan(MlPrepOps.hardNegatives(spark, dir))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2 &&
      p.contains("BroadcastNestedLoopJoin"),
      s"query set / stats not broadcast:\n${p.take(1800)}")
    // the top-k window partitions by query_id over candidate aggregates
    // and must prune map-side, never sort the corpus
    assert(p.contains("WindowGroupLimit"),
      s"top-k not limited before the shuffle:\n${p.take(1800)}")
    // the only SinglePartition exchange is the (n_docs, avgdl) scalar
    // probe — one row per input partition, same as q147
    assert(p.contains("Exchange hashpartitioning(query_id"),
      s"top-k window not query-partitioned:\n${p.take(1800)}")
  }

  test("length buckets stay language-partitioned: no single-partition window") {
    val p = plan(TrainPrepOps.lengthBuckets(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"a rank window collapsed to one partition:\n${p.take(1800)}")
  }

  test("preference pairs: both rank windows and the aggregate share one exchange") {
    val p = plan(TrainPrepOps.prefPairs(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"pref pairs gained an exchange:\n${p.take(1800)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"a window collapsed to one partition:\n${p.take(1800)}")
  }

  test("count-min sketch aggregates map-side: partial+final object aggregate") {
    val p = plan(ProfileOps.countMinAudit(spark, dir))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // Partial stage per input partition — the O(depth*width) partials
    // are what shuffle, never the key stream
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"CMS aggregate lost its partial stage:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"sketch/total scalars not broadcast:\n${p.take(1800)}")
  }

  test("embedding drift: one wide aggregate, centroid math on broadcast scalars") {
    // an earlier spec may have left byLab persisted — a cached subtree
    // restates the plan under InMemoryTableScan and breaks the counts
    spark.catalog.clearCache()
    val p = plan(ClusterOps.embeddingDrift(spark, dir))
    // the only data-sized exchange is the per-label fixed-point partial
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"embedding drift gained an exchange:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pooled centroid not broadcast:\n${p.take(1800)}")
  }

  test("dedup weights: per-source totals broadcast back to the rep table") {
    spark.catalog.clearCache()
    val p = plan(CurationOps.dedupWeights(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"weight totals not broadcast:\n${p.take(1800)}")
  }

  test("incremental stats: the corpus shuffles only as partials") {
    val p = plan(ScaleOps.incrementalStats(spark, dir))
    // (source, is_delta) partials + the 2·|sources|-row merge + the
    // independent full recompute = 3 hash exchanges, only two of which
    // carry corpus-derived partials
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      s"incremental stats gained an exchange:\n${p.take(1800)}")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("norm audit: normalization is a projection; no single-partition aggregate") {
    val p = plan(TextOps.normAudit(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"audit collapsed to one partition:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"), "audit must not join at all")
  }

  test("bloom ingest dedup: the probe gates the confirm join") {
    val p = plan(DedupOps.bloomIngestDedup(spark, dir))
    // the bloom probe must sit UNDER the exact-confirm semi join: only
    // candidates pay the join (the q66 runtime-filter contract)
    assert(p.contains("bloom_might_contain"),
      s"bloom probe left the plan:\n${p.take(1800)}")
    assert(p.contains("LeftSemi"),
      s"exact confirm join missing:\n${p.take(1800)}")
  }

  test("bottom-k sample plans as TakeOrdered — no global sort exchange") {
    val p = plan(CurationOps.bottomKSample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k lost its heap plan:\n${p.take(1800)}")
    assert(!p.contains("Exchange rangepartitioning"),
      s"bottom-k range-shuffles the corpus:\n${p.take(1800)}")
  }

  test("prefix savings: one fingerprint aggregate chain, no extra corpus shuffles") {
    val p = plan(TrainPrepOps.prefixSavings(spark, dir))
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
      s"prefix savings gained an exchange:\n${p.take(1800)}")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("contract audit: one scan per audited table, however many contracts") {
    val p = plan(ProfileOps.contractAudit(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 3,
      s"contracts re-scan a table:\n${p.take(1800)}")
  }

  test("mrl audit: query side broadcasts; all widths ride one pair stream") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try plan(SimilarityOps.mrlAudit(spark, dir))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"query side not broadcast:\n${p.take(1800)}")
    // one generator fans the pair stream into the 4 widths, and the
    // ranked frame is CACHED — every downstream consumer (base/ov/dist)
    // must read the InMemoryRelation, not re-derive the pair stream
    assert(p.contains("InMemoryTableScan"),
      s"ranked pair stream not cached/reused:\n${p.take(1800)}")
  }

  test("deletion impact: cascade is semi-joins against broadcast key sets") {
    val p = plan(ProfileOps.deletionImpact(spark, dir))
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"cascade lost a semi join:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"),
      s"fact rows shuffled for the key-set probe:\n${p.take(1800)}")
  }

  test("ab test: event stream collapses to distinct pairs before any arithmetic") {
    val p = plan(AnalyticsOps.abTest(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"variant totals joined wrong:\n${p.take(1800)}")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"distinct collapse missing:\n${p.take(1800)}")
  }

  test("pq audit: codebook broadcasts; candidate stream is M*K-bounded per vector") {
    val p = plan(SimilarityOps.pqAudit(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"codebook not broadcast:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"assignment joined corpus-sized sides:\n${p.take(1800)}")
  }

  test("watermark audit: running max is two-phase — stream window partitions by bucket") {
    val p = plan(TimeSeriesOps.watermarkAudit(spark, dir))
    assert(p.contains("hashpartitioning(bucket"),
      s"event-stream window not bucket-parallel:\n${p.take(1800)}")
  }

  test("threshold curve: candidates come from the CAPPED band stream; sweep is broadcast") {
    val p = planWithBuilds(DedupOps.thresholdCurve(spark, dir))
    // the hot-bucket cap's bucket-size window must be in the plan —
    // the sweep may not bypass the production guard
    assert(p.contains("band_hash"),
      s"curve lost the banded candidate machinery:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"threshold grid not broadcast:\n${p.take(1800)}")
  }

  test("calibration audit: min/max broadcast back; no corpus shuffle") {
    val p = plan(MixtureOps.calibrationAudit(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"logit stats not broadcast:\n${p.take(1800)}")
    assert(!p.contains("Exchange hashpartitioning") ||
      "Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"row data shuffles beyond the bin aggregate:\n${p.take(1800)}")
  }

  test("pareto frontier: no self-join, length windows bucket-parallel") {
    val p = plan(CurationOps.paretoFrontier(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"skyline degenerated to a pairwise join:\n${p.take(1800)}")
    assert(p.contains("hashpartitioning(bucket"),
      s"length window not bucket-parallel:\n${p.take(1800)}")
  }

  test("gate kappa: all three gates evaluate in one corpus scan") {
    val p = plan(CurationOps.gateKappa(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"gates re-scan the corpus:\n${p.take(1800)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"agreement audit shuffles row data:\n${p.take(1800)}")
  }

  test("ivf balance: centroids broadcast into the one assignment pass") {
    val p = plan(SimilarityOps.ivfBalance(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroid assignment not broadcast:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"),
      s"audit joined corpus-sized sides:\n${p.take(1800)}")
  }

  test("rrf fusion: lead ranker gated by broadcast query terms; bm25 run cached") {
    val p = plan(MlPrepOps.rrfFusion(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"lead ranker scores the whole vocabulary:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"bm25 run re-derived per consumer:\n${p.take(1800)}")
  }

  test("canary audit: one corpus scan, catalog+plants broadcast") {
    val p = plan(CurationOps.canaryAudit(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"canary probe re-scans the corpus:\n${p.take(1800)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"catalog/plants not broadcast:\n${p.take(1800)}")
  }

  test("ir metrics: qrels ride a broadcast of the query terms; run is cached") {
    val p = plan(MlPrepOps.irMetrics(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"qrels judge the whole vocabulary, not the query terms:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"bm25 run re-derived per consumer:\n${p.take(1800)}")
  }

  test("bt win matrix: per-user pair join is keyed (no cartesian), corpus collapses first") {
    val p = plan(TrainPrepOps.btWinMatrix(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise comparison went cartesian:\n${p.take(1800)}")
    // the self-join consumes the (user, type) AGGREGATE, not raw events:
    // aggregate partials appear on both join inputs
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"events reach the join unaggregated:\n${p.take(1800)}")
  }

  test("fk orphans: every edge anti-joins DISTINCT child keys against its parent") {
    val p = plan(ProfileOps.fkOrphans(spark, dir))
    assert("LeftAnti".r.findAllIn(p).length == 4,
      s"an edge lost its anti join:\n${p.take(1800)}")
    // child keys must collapse before the join: a HashAggregate feeds
    // each anti join, so the join ships distinct keys, not fact rows
    assert("HashAggregate".r.findAllIn(p).length >= 8,
      s"child keys not pre-collapsed:\n${p.take(1800)}")
  }

  test("maxsim: candidate join is a bucket equi-join — no cross join, no corpus broadcast") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try plan(SimilarityOps.maxSimRetrieval(spark, dir))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the r12 scale-killer shape is gone: no |Q|x|corpus| pair stream
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"exact pair stream back on the production surface:\n${p.take(1800)}")
    // candidates come from the LSH bucket equi-join
    assert(p.contains("bucket"),
      s"candidate join lost its bucket key:\n${p.take(1800)}")
  }

  test("freshness streaks: calendar spine is generated, bounds broadcast") {
    val p = plan(TimeSeriesOps.freshnessStreaks(spark, dir))
    assert(p.contains("Generate"),
      s"calendar spine not generated:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"date bounds not broadcast:\n${p.take(1800)}")
  }

  test("stream dedup: windows and dedup share the event_id exchange") {
    val p = plan(StreamingOps.streamDedup(spark, dir))
    // event_id windows + (type, day) aggregate = exactly two hash
    // exchanges; the union of redeliveries must not add scans-worth of
    // exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"stream dedup gained an exchange:\n${p.take(1800)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"a window collapsed to one partition:\n${p.take(1800)}")
  }

  test("ks drift cumsums stay source-partitioned: no single-partition window") {
    val p = plan(ProfileOps.snapshotKsDrift(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"a KS window collapsed to one partition:\n${p.take(1800)}")
  }

  test("image phash: blobs stay map-side; candidates pass the cap window") {
    val p = plan(MultimodalOps.imagePhashNearDup(spark, dir))
    // the duplication guard (bucket-size window over band keys) must sit
    // upstream of the candidate self-join, as in the text LSH family
    assert(p.contains("windowspecdefinition(band_idx"),
      s"bucket-cap window missing from phash plan:\n${p.take(1800)}")
    // the binary image column must be consumed by the fingerprint
    // projection before any exchange: only 8-byte signatures shuffle,
    // so no Exchange node's header may mention the blob column
    assert(p.contains("Exchange"))
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("img"), s"an exchange ships the image blob: $l")
    }
  }

  test("image gate is one map-side projection: only the presentation sort exchanges") {
    val p = plan(MultimodalOps.imageQualityGate(spark, dir))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1 && p.contains("rangepartitioning"),
      s"gate gained a shuffle ($exchanges exchanges):\n${p.take(1500)}")
  }

  test("incremental lsh: cap window guards the batch-vs-index candidate join") {
    val p = plan(DedupOps.incrementalLsh(spark, dir))
    assert(p.contains("windowspecdefinition(band_idx"),
      s"bucket-cap window missing from incremental plan:\n${p.take(1800)}")
  }

  test("lsh calibration candidates come from the CAPPED band stream") {
    // the hot-bucket cap must sit upstream of candidate generation — it
    // is the quadratic-growth guard the 100x run proved load-bearing.
    // Since the group-then-expand rewrite the guard is a size() filter
    // on the bucket member-set aggregate (identical semantics to the
    // former count window: members are unique per bucket).
    val p = planWithBuilds(DedupOps.lshCalibration(spark, dir))
    assert(p.contains("collect_set") &&
      p.contains(s"<= ${DedupOps.LshBucketCap}"),
      s"bucket-cap guard missing from calibration plan:\n${p.take(1800)}")
  }

  test("q202 context dedup: candidate-bounded — corpus pull is a semi join, no cartesian") {
    val p = planWithBuilds(MlPrepOps.contextDedup(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"context dedup went cartesian:\n${p.take(1800)}")
    // the corpus reaches the shingle stage only through the candidate
    // id semi join — the property that keeps the pair join
    // |queries|·depth² instead of corpus²
    assert(p.contains("LeftSemi"),
      s"candidate semi join missing:\n${p.take(1800)}")
  }

  test("q204 FIM audit: one corpus scan, one exchange (the source rollup)") {
    val p = plan(TrainPrepOps.fimTransform(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"FIM audit re-scans the corpus:\n${p.take(1800)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"FIM audit gained an exchange:\n${p.take(1800)}")
  }

  test("q205 survivor policy: all three policy windows share ONE cluster-key exchange") {
    val p = plan(CurationOps.survivorPolicy(spark, dir))
    assert("hashpartitioning\\(orig_id".r.findAllIn(p).length == 1,
      s"policy windows re-shuffle the cluster key:\n${p.take(1800)}")
  }

  test("q208 native top-k: ObjectHashAggregate selection, no Window, no Sort-per-group") {
    val p = plan(RelationalOps.topkNative(spark, dir))
    assert(p.contains("topk_agg"), s"native aggregate missing:\n${p.take(1800)}")
    assert(p.contains("ObjectHashAggregate"),
      s"topk_agg not planned as an object hash aggregate:\n${p.take(1800)}")
    assert(!p.contains("Window"),
      s"q208 regressed to the window idiom:\n${p.take(1800)}")
  }

  test("q209 quantile norm: the rank window partitions by language") {
    val p = plan(TextOps.quantileNorm(spark, dir))
    assert(p.contains("windowspecdefinition(lang"),
      s"per-language window lost its partitioning:\n${p.take(1800)}")
  }

  test("q210 gate ablation: the whole K+1 ablation grid costs ONE corpus scan") {
    val p = plan(CurationOps.gateAblation(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"ablation re-scans the corpus:\n${p.take(1800)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"ablation gained exchanges:\n${p.take(1800)}")
  }

  test("q211 distinctive terms: tf frame shared, top-k window partitions by source") {
    val p = plan(TextOps.distinctiveTerms(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"tf frame recomputed per consumer:\n${p.take(1800)}")
    assert(p.contains("windowspecdefinition(source"),
      s"top-k window lost its source partitioning:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q217 domain filter: one scan, regex gate rides the row, blocklist is a literal") {
    val p = plan(CurationOps.domainFilter(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"domain filter re-scans:\n${p.take(1800)}")
    assert(!p.contains("Exchange rangepartitioning") ||
      "Exchange rangepartitioning".r.findAllIn(p).length <= 1,
      s"unexpected range exchanges:\n${p.take(1800)}")
  }

  test("q219 quota sample: the bottom-k window partitions by the cell key") {
    val p = plan(CurationOps.quotaSample(spark, dir))
    assert(p.contains("windowspecdefinition(lang"),
      s"quota window lost its cell partitioning:\n${p.take(1800)}")
  }

  test("q220 reshard audit: vnode tables broadcast to the fingerprint frame") {
    val p = plan(ScaleOps.reshardAudit(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"vnode join not broadcast:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"fingerprint frame recomputed per strategy:\n${p.take(1800)}")
  }

  test("q221 context pack: the packing window rides the per-query partition") {
    val p = plan(MlPrepOps.contextPack(spark, dir))
    assert(p.contains("windowspecdefinition(term"),
      s"packing window lost its query partitioning:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q222 vector gate: norms via native dot_product; corpus frame shared") {
    val p = plan(SimilarityOps.vectorGate(spark, dir))
    assert(p.contains("dot_product"),
      s"norm left the native expression:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"planted corpus recomputed per consumer:\n${p.take(1800)}")
  }

  test("q223 incremental postings: per-doc partials shared by merge and audit") {
    val p = plan(MlPrepOps.incrementalPostings(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"per-doc tf frame recomputed:\n${p.take(1800)}")
  }

  test("q212 index staleness: centroid assignment broadcasts, queries broadcast to lists") {
    val p = plan(SimilarityOps.indexStaleness(spark, dir))
    assert(p.contains("BroadcastExchange"),
      s"centroid/query broadcasts missing:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"staleness audit went cartesian:\n${p.take(1800)}")
  }

  test("q214 rare-term graph: pair join rides the term key, no cartesian") {
    val p = plan(GraphOps.rareTermGraph(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"rare-term join went cartesian:\n${p.take(1800)}")
  }

  test("q215 temporal leakage: both split audits share the user_id partitioning") {
    val p = plan(TimeSeriesOps.temporalLeakage(spark, dir))
    // the temporal branch's window and per-user aggregate must reuse one
    // user_id exchange; the random branch adds its own — 3 total, and
    // never one per policy per stage
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length <= 3,
      s"leakage audit re-shuffles users:\n${p.take(1800)}")
  }

  test("q216 shard conformance: dense-grid joins broadcast, scan count bounded") {
    val p = plan(TrainPrepOps.shardConformance(spark, dir))
    // the shard×source grid completion is metadata-sized and must ride
    // broadcasts, never a data-sized cartesian
    assert(!p.contains("CartesianProduct"),
      s"dense grid went cartesian on data:\n${p.take(1800)}")
    assert(p.contains("BroadcastExchange"),
      s"grid totals not broadcast:\n${p.take(1800)}")
    // all totals roll up from the persisted cell frame — the parquet
    // scan appears once per InMemoryRelation reference in the STRING,
    // but only the cell subtree actually scans; pin the cache instead
    assert(p.contains("InMemoryTableScan"),
      s"cell frame recomputed per total:\n${p.take(1800)}")
  }

  test("q206 temperature curve: corpus scanned once, grid work is metadata-sized") {
    val p = plan(MixtureOps.temperatureCurve(spark, dir))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"temperature curve re-scans the corpus per tau:\n${p.take(1800)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"temperature curve gained exchanges:\n${p.take(1800)}")
  }

  test("q224 hll audit: sketch aggregate is two-phase (map-side partials), no cartesian") {
    val p = plan(ProfileOps.hllAudit(spark, dir))
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial +
    // final means register vectors combine map-side and only O(m)
    // state crosses the (scope, grp) exchange
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"hll_agg lost its partial phase:\n${p.take(1800)}")
    assert(p.contains("hll_agg"),
      s"sketch not aggregated natively:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"audit join went cartesian:\n${p.take(1800)}")
  }

  test("q225 cross-modal audit: keyed corpus persisted once, group keys are hashes") {
    val p = plan(MultimodalOps.crossModalAudit(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"keyed corpus recomputed per detector:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"cross-modal audit went cartesian:\n${p.take(1800)}")
  }

  test("q226 join-card audit: stats collapse before any join, no row-level fact join") {
    val p = plan(ProfileOps.joinCardAudit(spark, dir))
    // the only joins are freq-frame (key, count) joins and 1-row
    // broadcast combines — never a cartesian on data-sized relations
    assert(!p.contains("CartesianProduct"),
      s"join-card audit went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"1-row totals not broadcast:\n${p.take(1800)}")
  }

  test("q227 benford: per-column scans collapse map-side to digit cells, digit grid broadcast") {
    val p = plan(ProfileOps.benfordAudit(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"benford audit went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastExchange"),
      s"9-row digit grid not broadcast:\n${p.take(1800)}")
    // the (scope, digit) aggregate is two-phase: partial_count before
    // the exchange means each scan ships <= 9 cells, not rows
    assert(p.contains("partial_count") || "HashAggregate".r
      .findAllIn(p).length >= 2,
      s"digit cells not map-side combined:\n${p.take(1800)}")
    // the corpus collapses once into the persisted <=45-cell frame;
    // every consumer reads the cache (scan counts under an
    // InMemoryRelation plan-string lie, so pin the cache reuse itself)
    assert(p.contains("InMemoryTableScan"),
      s"digit cells recomputed per consumer:\n${p.take(1800)}")
  }

  test("q228 cdc dedup: native boundary expr in one generate pass, two-phase cell aggregate") {
    val p = plan(DedupOps.cdcChunkDedup(spark, dir))
    assert(p.contains("cdc_bounds"),
      s"boundary detection not native:\n${p.take(1800)}")
    // chunk emission is generator work (explode of map + posexplode),
    // never a join; the only exchanges are the (method, source[, h])
    // aggregates
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"cdc dedup grew a join:\n${p.take(1800)}")
    assert("Generate".r.findAllIn(p).length >= 2,
      s"chunk emission not generator-based:\n${p.take(1800)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"extra shuffles in cdc dedup:\n${p.take(1800)}")
  }

  test("q229 incremental cc: propagation rounds run on checkpointed label tables, no cartesian") {
    val p = plan(GraphOps.incrementalCc(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"incremental CC went cartesian:\n${p.take(1800)}")
    // each propagation fixpoint ends in a localCheckpoint: the final
    // plan joins slim ExistingRDD label tables, not re-derived
    // window/corpus subtrees
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"labels not lineage-cut:\n${p.take(1800)}")
  }

  test("q230 url canon: pure per-row rewrite, one persisted canonical frame, doc_id equi-join") {
    val p = plan(CurationOps.urlCanonDedup(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"url canon grew a non-equi join:\n${p.take(1800)}")
    // no UDF anywhere: the whole normalizer chain is built-in string
    // expressions (regexp_replace/extract, filter/array_sort lambdas)
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"),
      s"normalizer fell off codegen surface:\n${p.take(1800)}")
    // the canonical frame is computed once and reused by the clean-side
    // join input
    assert(p.contains("InMemoryTableScan"),
      s"canonical frame recomputed per consumer:\n${p.take(1800)}")
  }

  test("q231 join-order costing: one persisted stats row feeds all orders, no fact-row output join") {
    val p = plan(ProfileOps.joinOrderAudit(spark, dir))
    // the 4 order rows all project from the SAME cached 1-row stats
    // frame — the statistics catalog read, not 4 recomputations
    assert(p.contains("InMemoryTableScan"),
      s"stats row recomputed per order:\n${p.take(1800)}")
    // costing arithmetic happens on the 1-row frame: the final window
    // ranks 4 rows, no exchange proportional to data
    assert(!p.contains("CartesianProduct"),
      s"order costing went cartesian on data:\n${p.take(1800)}")
  }

  test("q232 krippendorff: one cell-collapse feeds both marginals, scenario fan-out is a generator") {
    val p = plan(CurationOps.krippendorffAlpha(spark, dir))
    // the (scenario, unit, value) cells persist once; unit terms and
    // value marginals both read the cache
    assert(p.contains("InMemoryTableScan"),
      s"coincidence cells recomputed per marginal:\n${p.take(1800)}")
    // rater × scenario fan-out is explode (constant width), not a join
    assert(p.contains("Generate"),
      s"scenario fan-out not a generator:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"alpha computation went cartesian:\n${p.take(1800)}")
  }

  test("q233 lsh s-curve: one shared shingle+signature pass, linear pair join, no banding blowup") {
    val p = plan(DedupOps.lshSCurve(spark, dir))
    // shingles and signatures persist once; all four configs slice the
    // SAME cached pair frame
    assert(p.contains("InMemoryTableScan"),
      s"signature pass recomputed per config:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"planner went cartesian:\n${p.take(1800)}")
    // planted-pair evaluation is a key equi-join, not a band
    // self-join: no band_hash anywhere in this plan
    assert(!p.contains("band_hash"),
      s"planner paid the banding join it is supposed to plan:\n${p.take(1800)}")
  }

  test("q234 iw eval: one corpus scan collapses to band cells, both metrics ride the cache") {
    val p = plan(TrainPrepOps.iwEval(spark, dir))
    // the only corpus-sized work is the single scan into the persisted
    // |bands| cell frame; the two metric rows re-read the cache
    assert(p.contains("InMemoryTableScan"),
      s"band cells recomputed per metric:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"iw eval grew a join:\n${p.take(1800)}")
  }

  test("q235 event paths: one user exchange for the window, path frame persisted, tiny joins") {
    val p = plan(AnalyticsOps.eventPaths(spark, dir))
    // sequence logic is a window over the user partition
    assert(p.contains("Window"),
      s"path derivation lost the window:\n${p.take(1800)}")
    // the path frame persists once; marginals and the rollup reuse it
    assert(p.contains("InMemoryTableScan"),
      s"path frame recomputed per marginal:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"path mining went cartesian:\n${p.take(1800)}")
  }

  test("q236 runtime filter: bloom might_contain pushed into the probe side before the shuffle") {
    val df = ScaleOps.runtimeFilterJoin(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // InjectRuntimeFilter fired: the probe-side scan is gated by the
    // build-side bloom filter BEFORE the join exchange
    assert(p.contains("might_contain"),
      s"runtime bloom filter did not fire:\n${p.take(2500)}")
    // the join itself is a shuffle join (broadcast disabled — the
    // 100 TB shape), so the filter has a shuffle to protect
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"join not a shuffle join:\n${p.take(2500)}")
    // and the shared session is untouched: a plain join planned on the
    // ORIGINAL session still broadcasts and carries no runtime filter
    val plain = EtlOps.t(spark, dir, "lineitem")
      .join(EtlOps.t(spark, dir, "orders")
        .filter(col("o_custkey") % ScaleOps.RfCustMod === 0)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)))
    val pp = plain.queryExecution.executedPlan.toString
    assert(!pp.contains("might_contain"),
      "conf leak: runtime filter active on the shared session")
  }

  test("q237 encoding advisor: corpus scanned once into the cached sample; ordered passes run on it") {
    val p = plan(ScaleOps.encodingAdvisor(spark, dir))
    // every sort-key branch reads the persisted 1-in-10 sample, never
    // the corpus again
    assert("InMemoryTableScan".r.findAllIn(p).length >=
      ScaleOps.EncSortKeys.size,
      s"sample recomputed per sort key:\n${p.take(1800)}")
    // the single-partition ordered pass is the documented sample stage
    assert(p.contains("Window"),
      s"run counting lost its window:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"advisor went cartesian:\n${p.take(1800)}")
  }

  test("q238 hll set algebra: native sketch aggregate, union is a 256-element zip, sets cached") {
    val p = plan(ProfileOps.hllSetAlgebra(spark, dir))
    assert(p.contains("hll_agg") &&
      "ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"sketches not built by the native two-phase aggregate:\n${p.take(1800)}")
    assert(p.contains("zip_with"),
      s"union merge not the register zip:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"set sketches recomputed per pair:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"set algebra went cartesian:\n${p.take(1800)}")
  }

  test("q239 retraction aggs: signed partials collapse map-side, one shared fixture scan") {
    val p = plan(AnalyticsOps.retractionAggs(spark, dir))
    // T0 / batch / final all read the persisted fixture frame
    assert(p.contains("InMemoryTableScan"),
      s"fixture rescanned per derivation branch:\n${p.take(1800)}")
    // ±1-weighted sums are ordinary two-phase hash aggregates — the
    // retraction stream costs what an append stream costs
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"signed partials not map-side combined:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"retraction maintenance went cartesian:\n${p.take(1800)}")
  }

  test("q240 blocking audit: no candidate self-join — block algebra and linear truth checks only") {
    val p = plan(DedupOps.blockingAudit(spark, dir))
    // corpus and signatures persist once across the four schemes
    assert(p.contains("InMemoryTableScan"),
      s"corpus/sigs recomputed per scheme:\n${p.take(1800)}")
    // the whole point: comparisons come from sum nb*(nb-1)/2, and
    // completeness from doc_id-keyed truth joins — the bands table is
    // NEVER self-joined on band_hash
    assert(!p.contains("band_hash#") ||
      !"band_hash#\\d+\\], \\[band_hash#\\d+\\]".r.findFirstIn(p)
        .isDefined,
      s"blocking audit paid the candidate join:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"blocking audit went cartesian:\n${p.take(1800)}")
  }

  test("q241 fd discovery: every candidate is a two-phase collapse to one row, no joins") {
    val p = plan(ProfileOps.fdDiscovery(spark, dir))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"fd discovery grew a join:\n${p.take(1800)}")
    assert("HashAggregate".r.findAllIn(p).length >=
      ProfileOps.FdCandidates.size,
      s"group collapses not aggregate-shaped:\n${p.take(1800)}")
  }

  test("q242 hist selectivity: histogram persists once; probes are bucket arithmetic") {
    val p = plan(ProfileOps.histSelectivity(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"histogram rebuilt per consumer:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"equi-depth bucketing lost its rank window:\n${p.take(1800)}")
    // the probe × bucket grid is the only cross join and it is
    // |probes|·|buckets| sized
    assert(!p.contains("SortMergeJoin"),
      s"probe evaluation shuffled:\n${p.take(1800)}")
  }

  test("q243 sorted neighborhood: window-adjacency only — no pair join, no cartesian") {
    val p = plan(DedupOps.sortedNeighborhood(spark, dir))
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"SNM grew a candidate join:\n${p.take(1800)}")
    assert(p.contains("Window"), s"SNM lost its window:\n${p.take(1800)}")
  }

  test("q244 interval overlap: sweep-line — no pair join of the interval frame at all") {
    val p = plan(JoinOps.intervalOverlap(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"overlap stats fell back to a product:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"sweep lost its running-sum window:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"day grid lost its generator:\n${p.take(1800)}")
  }

  test("q245 mann-whitney: cell collapse then per-type window — no joins at all") {
    val p = plan(ProfileOps.mwDrift(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"rank test grew a join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"rank test lost its cell/window shape:\n${p.take(1800)}")
  }

  test("q246 theil-sen: the quadratic pair stage reads the persisted daily cells") {
    val p = plan(TimeSeriesOps.theilSen(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"daily cells recomputed per consumer:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"pair stage went cartesian:\n${p.take(1800)}")
  }

  test("q247 shapley: corpus collapses before the coalition algebra; no data-sized product") {
    val p = plan(AnalyticsOps.shapleyAttribution(spark, dir))
    // the only non-equi joins are on ≤2^n coalition cells — the event
    // stream itself must reach them only through aggregates
    assert(p.contains("HashAggregate"),
      s"no map-side collapse:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"coalition algebra went cartesian on data:\n${p.take(1800)}")
  }

  test("q248 fellegi-sunter: pairs are block-bounded equi-joins; pattern counts persist once") {
    val p = plan(DedupOps.fsLinkage(spark, dir))
    // the only BNL is the broadcast m/u SCALAR against the ≤8 pattern
    // rows; the data-sized pair stage must be the nation equi-join
    assert(!p.contains("CartesianProduct"),
      s"linkage pair stage went cartesian:\n${p.take(1800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join pair stage:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"pattern counts recomputed for the m/u scalars:\n${p.take(1800)}")
  }

  test("q249 conformal gate: one calibration window, threshold broadcast, no corpus self-join") {
    val p = plan(CurationOps.conformalGate(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"conformal gate shuffled a join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"order-statistic threshold lost its window:\n${p.take(1800)}")
  }

  test("q250 randomized response: mechanism is per-row projection; joins broadcast-only on cells") {
    val p = plan(CurationOps.rrDebias(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"RR went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"type-index join not broadcast:\n${p.take(1800)}")
  }

  test("q251 diff-in-diff: one cell collapse, no joins anywhere") {
    val p = plan(AnalyticsOps.didReadout(spark, dir))
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning(user_id"),
      s"DiD grew a join:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"DiD lost its aggregate shape:\n${p.take(1800)}")
  }

  test("q252 bh-fdr: monitor-frame algebra only — the corpus is touched once via the cell collapse") {
    val p = plan(ProfileOps.bhFdrGate(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"BH gate grew a join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"BH gate lost its rank window:\n${p.take(1800)}")
  }

  test("q253 cusum: two window passes on calendar cells — no joins of the event stream") {
    val p = plan(TimeSeriesOps.cusumChangepoint(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"cusum went cartesian:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"cusum lost its sweep shape:\n${p.take(1800)}")
  }

  test("q254 seasonal: moving-average and dow joins stay on |calendar| cells") {
    val p = plan(TimeSeriesOps.seasonalDecompose(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"seasonal went cartesian:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"trend lost its centered window:\n${p.take(1800)}")
  }

  test("q255 concentration: one corpus explode into vocab cells; window runs per source") {
    val p = plan(ProfileOps.concentration(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastHashJoin"),
      s"concentration grew a join:\n${p.take(1800)}")
    assert(p.contains("Generate") && p.contains("Window"),
      s"concentration lost its explode/rank shape:\n${p.take(1800)}")
  }

  test("q256 rbo churn: leaderboards persist once; everything joins on k-row day frames") {
    val p = plan(AnalyticsOps.rboChurn(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"ranked boards recomputed per side:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"rbo went cartesian:\n${p.take(1800)}")
  }

  test("q257 kendall tau: the pair stage is a source-keyed equi-join, never a product") {
    val p = plan(AnalyticsOps.kendallTau(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tau pair stage went product:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"tau lost its aggregate:\n${p.take(1800)}")
  }

  test("q258 mcnemar: one projection + one collapse — no joins beyond the gate definitions") {
    val p = plan(CurationOps.mcnemarGates(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"mcnemar grew a join:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"mcnemar lost its single-row collapse:\n${p.take(1800)}")
  }

  test("q259 mad outliers: cell grid + broadcast med/mad scalars — no shuffled joins") {
    val p = plan(AnalyticsOps.madOutliers(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"mad grew a shuffled join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("BroadcastHashJoin"),
      s"mad lost its cell/broadcast shape:\n${p.take(1800)}")
  }

  test("q260 cuped: per-user collapse then closed-form algebra — no joins at all") {
    val p = plan(AnalyticsOps.cupedReadout(spark, dir))
    assert(!p.contains("Join"),
      s"cuped grew a join:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"cuped lost its collapse:\n${p.take(1800)}")
  }

  test("q261 auc/lift: scored corpus persists once; rank windows only") {
    val p = plan(MlPrepOps.aucDecileLift(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"scores recomputed per consumer:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"auc grew a shuffled join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"auc lost its rank window:\n${p.take(1800)}")
  }

  test("q262 burstiness: one cell collapse and one lead window — no joins") {
    val p = plan(TimeSeriesOps.burstiness(spark, dir))
    assert(!p.contains("Join"),
      s"burstiness grew a join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"burstiness lost its sweep shape:\n${p.take(1800)}")
  }

  test("q263 power/mde: one moment collapse, no joins, no windows") {
    val p = plan(AnalyticsOps.powerMde(spark, dir))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"power analysis grew structure:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"power analysis lost its collapse:\n${p.take(1800)}")
  }

  test("q264 qte: quantiles come from cell windows; arms meet in a cell-sized equi-join") {
    val p = plan(AnalyticsOps.qte(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"qte went product:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("Generate"),
      s"qte lost its quantile-grid shape:\n${p.take(1800)}")
  }

  test("q265 its: two segment fits from one cell collapse; the pre/post join is |types|-sized") {
    val p = plan(TimeSeriesOps.itsReadout(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"its went cartesian:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"its lost its fits:\n${p.take(1800)}")
  }

  test("q266 bandit replay: cells persist once; policy and replay join on cell keys") {
    val p = plan(MixtureOps.banditReplay(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"cells recomputed per consumer:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"replay went cartesian:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"replay lost its cumulative/argmax windows:\n${p.take(1800)}")
  }

  test("q267 bloom planner: simulation is generate + distinct + semi-join, never a product") {
    val p = plan(ScaleOps.bloomPlanner(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"bloom sim went cartesian:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"bloom sim lost its k-position generator:\n${p.take(1800)}")
    assert(p.contains("LeftSemi") || p.contains("left_semi") ||
      p.contains("Semi"),
      s"membership probe is not a semi-join:\n${p.take(1800)}")
  }

  test("q268 brier: reuses the calibration collapse — bin-row algebra only") {
    val p = plan(MixtureOps.brierDecomposition(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"brier grew a shuffled join:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"brier lost its collapse:\n${p.take(1800)}")
  }

  test("q269 matching: sorted-adjacency windows, no pair join of units") {
    val p = plan(AnalyticsOps.psmMatching(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"matching went product:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"matching lost its nearest-neighbor windows:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"unit frame recomputed per consumer:\n${p.take(1800)}")
  }

  test("q270 energy distance: one cell collapse + one prefix window — no pair join ever") {
    val p = plan(ProfileOps.energyDrift(spark, dir))
    assert(!p.contains("Join"),
      s"energy distance grew a join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"energy distance lost its prefix-pass shape:\n${p.take(1800)}")
  }

  test("q271 tail dependence: per-user collapse persists once; thresholds broadcast") {
    val p = plan(ProfileOps.tailDependence(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"per-user frame recomputed:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tail audit shuffled a join:\n${p.take(1800)}")
  }

  test("q272 fs-em: corpus cost is exactly the shared pattern collapse") {
    val p = plan(DedupOps.fsEm(spark, dir))
    // the returned frame is the driver-built 3-row result — it must
    // contain NO scans at all (the corpus work happened in
    // fsPatternCounts before the collect)
    assert(!p.contains("Scan parquet"),
      s"EM result re-derives from the corpus:\n${p.take(1800)}")
  }

  test("q273 two change points: prefix window + calendar-cell grid joins only") {
    val p = plan(TimeSeriesOps.twoChangepoints(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"segmentation went cartesian:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("InMemoryTableScan"),
      s"segmentation lost its prefix/persist shape:\n${p.take(1800)}")
  }

  test("q274 kaplan-meier: the returned curve is driver-built — no corpus in its plan") {
    val p = plan(TimeSeriesOps.kaplanMeier(spark, dir))
    assert(!p.contains("Scan parquet"),
      s"KM re-derives from the corpus:\n${p.take(1800)}")
  }

  test("q275 log-rank: risk-table algebra on calendar cells, one cohort equi-join") {
    val p = plan(TimeSeriesOps.logRank(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"log-rank went cartesian:\n${p.take(1800)}")
    assert(p.contains("HashAggregate") && p.contains("Window"),
      s"log-rank lost its risk-table shape:\n${p.take(1800)}")
  }

  test("q276 cmh: per-stratum medians broadcast; single collapse to strata") {
    val p = plan(CurationOps.cmhTest(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"cmh shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"stratum medians not broadcast:\n${p.take(1800)}")
  }

  test("q277 mrc: reuse intervals meet accesses in a tile equi-join, never an inequality product") {
    val p = plan(ScaleOps.missRatioCurve(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"mrc went cartesian:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"mrc lost its tile generator:\n${p.take(1800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"tile pairing is not an equi-join:\n${p.take(1800)}")
  }

  test("q278 w1: pure cell-grid windows — no join anywhere in the plan") {
    val p = plan(ProfileOps.w1Drift(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"W1 grew a join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"W1 lost its cumulative window:\n${p.take(1800)}")
  }

  test("q279 anisotropy: one 64-column map-combined aggregate, no pair join") {
    val p = plan(SimilarityOps.embeddingAnisotropy(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"anisotropy materialized a pair:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"anisotropy lost its sum collapse:\n${p.take(1800)}")
  }

  test("q280 hill: per-source top-K is rank-limited map-side; xk joins broadcast") {
    val p = plan(ProfileOps.hillTail(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"top-K not pushed map-side:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"xk side not broadcast:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q281 cluster quality: corpus meets centroids via broadcast only") {
    val p = plan(SimilarityOps.clusterQuality(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"quality audit went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"),
      s"a data-sized shuffle join appeared:\n${p.take(1800)}")
  }

  test("q282 markov attribution: the returned frame is driver-built — no corpus in its plan") {
    val p = plan(TimeSeriesOps.markovAttribution(spark, dir))
    assert(!p.contains("Scan parquet"),
      s"attribution re-derives from the corpus:\n${p.take(1800)}")
  }

  test("q283 pack attention: inherits q101's single source exchange — no new corpus shuffle") {
    val p = plan(TrainPrepOps.packAttentionAudit(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"audit joined back to the corpus:\n${p.take(1800)}")
    // exactly the packing exchange + the (source,bin) agg + final sort
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges <= 2, s"extra shuffles appeared ($exchanges):\n${p.take(1800)}")
  }

  test("q284 delta ratio: one user collapse, moments map-combined, no join") {
    val p = plan(AnalyticsOps.deltaRatio(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"ratio metrics grew a join:\n${p.take(1800)}")
    assert(p.contains("HashAggregate"),
      s"moment collapse missing:\n${p.take(1800)}")
  }

  test("q285 label noise: corpus meets centroids and thresholds via broadcast only") {
    val p = plan(CurationOps.labelNoise(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"label noise went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"),
      s"centroid/threshold frames not broadcast:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin"),
      s"a data-sized shuffle join appeared:\n${p.take(1800)}")
  }

  test("q287 msprt: user-day collapse then calendar-cell windows, no join") {
    val p = plan(AnalyticsOps.msprtMonitor(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"monitor grew a join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"cumulative window missing:\n${p.take(1800)}")
  }

  test("q288 grounding: support probe is an equi semi-join, answers never corpus-sized") {
    val p = plan(MlPrepOps.groundingAudit(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"grounding went cartesian:\n${p.take(1800)}")
    assert(p.contains("LeftSemi"),
      s"support probe is not a semi-join:\n${p.take(1800)}")
  }

  test("q289 dr-ope: cell algebra over the persisted (arm, day) collapse") {
    val p = plan(MixtureOps.drOpe(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"dr-ope went cartesian:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"cells not shared via persist:\n${p.take(1800)}")
    assert(p.contains("Generate") || p.contains("Expand"),
      s"estimator unpivot missing:\n${p.take(1800)}")
  }

  test("q290 k-center: the returned frame is driver-built — no corpus in its plan") {
    val p = plan(SimilarityOps.kcenterCoreset(spark, dir))
    assert(!p.contains("Scan parquet"),
      s"coreset re-derives from the corpus:\n${p.take(1800)}")
  }

  test("q291 pref length bias: one source window + bucket collapse, no join") {
    val p = plan(TrainPrepOps.prefLengthBias(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"length bias grew a join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"pairing window / histogram collapse missing:\n${p.take(1800)}")
  }

  test("q292 obf: looks table broadcast against the calendar cells") {
    val p = plan(AnalyticsOps.obfMonitor(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"looks join shuffled:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"looks not broadcast:\n${p.take(1800)}")
  }

  test("q293 contam ladder: full-doc fingerprints only — no gram explosion, semi-join probe") {
    val p = plan(DedupOps.contamLadder(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"ladder went cartesian:\n${p.take(1800)}")
    assert(p.contains("LeftSemi"),
      s"probe is not a semi-join:\n${p.take(1800)}")
    // the stack explode is constant ×3, not a per-token Generate over
    // split() arrays
    assert(!p.contains("posexplode"),
      s"unexpected token explosion:\n${p.take(1800)}")
  }

  test("q294 capped metric: the cap sweep joins broadcast scalars against the cell grid") {
    val p = plan(AnalyticsOps.cappedMetricCurve(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"cap sweep went cartesian:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"),
      s"caps not broadcast:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"value cells not shared via persist:\n${p.take(1800)}")
  }

  test("q295 lpt: the returned schedule is driver-built — no corpus in its plan") {
    val p = plan(ScaleOps.lptMakespan(spark, dir))
    assert(!p.contains("Scan parquet"),
      s"schedule re-derives from the corpus:\n${p.take(1800)}")
  }

  test("q296 daly: one failure-stream aggregate, grid is literals") {
    val p = plan(ScaleOps.checkpointInterval(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"daly grew a join:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"grid explode missing:\n${p.take(1800)}")
  }

  test("q297 aa fleet: one user collapse then a constant-factor explode, no join") {
    val p = plan(AnalyticsOps.aaCalibration(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"fleet grew a join:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"assignment explode missing:\n${p.take(1800)}")
  }

  test("q298 json drift: bounded key explode, day totals broadcast") {
    val p = plan(RelationalOps.jsonSchemaDrift(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"json drift shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"day totals not broadcast:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"key explode missing:\n${p.take(1800)}")
  }

  test("q299 nprobe curve: one bucketed-corpus join serves every depth") {
    val p = plan(SimilarityOps.nprobeCurve(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"nprobe sweep went cartesian:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"corpus not shared via persist:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"depth explode missing:\n${p.take(1800)}")
  }

  test("q300 drift consensus: one cell collapse feeds five detectors — psi side broadcast") {
    val p = plan(ProfileOps.driftConsensus(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"consensus shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"psi frame not broadcast:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"cells not shared via persist:\n${p.take(1800)}")
  }

  test("q301 chunk config: arithmetic over the LENGTH column only — no text, no join") {
    val p = plan(TrainPrepOps.chunkConfigCurve(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"config sweep went cartesian:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"config/span explode missing:\n${p.take(1800)}")
    // the scan must prune text away (offset math needs n_chars only)
    assert(!p.toLowerCase.contains("text#") ||
      !p.contains("ReadSchema") || !p.contains("text"),
      s"text column not pruned:\n${p.take(1800)}")
  }

  test("q302 sample aqp: one scan computes every rate's moments") {
    val p = plan(ScaleOps.sampleAqp(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"aqp grew a join:\n${p.take(1800)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected ONE scan, got $scans:\n${p.take(1800)}")
  }

  test("q303 session gap curve: one user window pass prices every threshold") {
    val p = plan(ScaleOps.sessionGapCurve(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"gap curve grew a join:\n${p.take(1800)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected ONE scan, got $scans:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"gap window missing:\n${p.take(1800)}")
  }

  test("q304 retention: day cells against a broadcast policy frame") {
    val p = plan(ScaleOps.retentionAudit(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"retention shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"policy not broadcast:\n${p.take(1800)}")
  }

  test("q305 backfill: day cells × broadcast DAG literals only") {
    val p = plan(ScaleOps.backfillPlan(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"backfill shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"),
      s"DAG not broadcast:\n${p.take(1800)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected ONE scan, got $scans:\n${p.take(1800)}")
  }

  test("q306 assoc rules: baskets persisted once, marginals broadcast") {
    val df = AnalyticsOps.assocRules(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"assoc rules went cartesian:\n${p.take(1800)}")
    // marginal and basket-count sides reach the pair frame as broadcasts
    assert(p.contains("BroadcastHashJoin"),
      s"marginals not broadcast:\n${p.take(1800)}")
    // the persisted basket frame feeds every consumer (pair sides,
    // both marginals, the basket count) — each branch reads the cache,
    // not the raw events parquet (the FileScan lines remaining in the
    // printout sit INSIDE the InMemoryRelation's recorded child)
    val cacheReads = "InMemoryTableScan".r.findAllIn(p).length
    assert(cacheReads >= 4,
      s"expected >=4 cache reads, got $cacheReads:\n${p.take(1800)}")
  }

  test("q307 triangle census: persisted edges, no cartesian wedge join") {
    val p = plan(GraphOps.triangleCensus(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"census went cartesian:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"edge list not persisted:\n${p.take(1800)}")
  }

  test("q308 pca power: corpus persisted; iterate moves as a broadcast") {
    val p = plan(SimilarityOps.pcaPower(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"pca grew a shuffled join:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"iterate not broadcast:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"corpus not persisted:\n${p.take(1800)}")
  }

  test("q309 gate fairness: one scan, one collapse, windows over source rows") {
    val p = plan(CurationOps.gateFairness(spark, dir))
    assert(!p.contains("Join"),
      s"fairness grew a join:\n${p.take(1800)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected ONE scan, got $scans:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"pooled scalars lost their window:\n${p.take(1800)}")
  }

  test("q310 acf whiteness: cell collapse + one ordered window per type — no joins") {
    val p = plan(TimeSeriesOps.acfWhiteness(spark, dir))
    assert(!p.contains("Join"),
      s"acf grew a join:\n${p.take(1800)}")
    assert(p.contains("Window") && p.contains("HashAggregate"),
      s"acf lost its sweep shape:\n${p.take(1800)}")
  }

  test("q311 isotonic: corpus persisted once; the minimax triple is bin-sized BNLJ") {
    val p = plan(MixtureOps.isotonicCalibration(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"scored corpus not persisted:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bin algebra shuffled a join:\n${p.take(1800)}")
  }

  test("q312 js matrix: token cells collapse; totals broadcast; pairs in-row") {
    val p = plan(ProfileOps.jsDivergenceMatrix(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"js matrix shuffled a join:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"totals not broadcast:\n${p.take(1800)}")
    assert(p.contains("Generate"),
      s"pair explode missing:\n${p.take(1800)}")
  }

  test("q313 ranker agreement: both rank windows share ONE term exchange") {
    val p = plan(MlPrepOps.rankerAgreement(spark, dir))
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"agreement went cartesian:\n${p.take(1800)}")
    // 2 = the df-ranking aggregate + ONE exchange shared by both rank
    // windows (3 would mean the windows stopped sharing partitioning)
    val termEx = "hashpartitioning\\(term".r.findAllIn(p).length
    assert(termEx == 2,
      s"expected 2 term exchanges (agg + shared windows), got $termEx:\n${p.take(2400)}")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 2, s"expected two rank windows, got $windows")
  }

  test("q314 personalized pagerank: final generation reads the cache; seeds broadcast") {
    val p = plan(GraphOps.personalizedPageRank(spark, dir))
    // the final rank generation is a lineage cut: the plan reads its
    // blocks and re-runs no rank update
    assert(p.contains("Scan ExistingRDD") && !p.contains("contrib"),
      s"rank generation not materialized:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"seed set not broadcast:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct"),
      s"ppr went cartesian:\n${p.take(1800)}")
    // 7 cuts: the trade pairs, the nodes, the seeds and the rank
    // generations 0..3; only the seed cut aggregates out_deg
    val plans = PlanDump.plans(spark)(GraphOps.personalizedPageRank(spark, dir))
      .map(_.executedPlan.toString)
    assert(plans.size - 1 == 7, s"q314 cut ${plans.size - 1} times")
    assert(plans.count(_.contains("max(out_deg")) == 1,
      s"seed set re-derived:\n${plans.mkString("\n---\n").take(3000)}")
  }

  test("q387/q388/q390/q392: one cut per round, plus generation 0 and the co-occurrence build") {
    val rounds = Map("q387_ktruss" -> GraphOps.TrussRounds,
      "q388_densest_subgraph" -> GraphOps.DsgRounds,
      "q390_luby_mis" -> GraphOps.LubyRounds,
      "q392_random_walks" -> GraphOps.RwSteps)
    val cuts = rounds.map { case (q, _) =>
      q -> CurationOps.auditCuts(spark)(
        SparkEntry.queries(q)(spark, dir))._2.size
    }
    Bench.resetSharedState(spark)
    assert(cuts == rounds.map { case (q, n) => q -> (n + 2) },
      s"cuts per query: $cuts")
  }

  test("q315 edit verify: candidates flow through the cap guard; levenshtein in-row") {
    val p = planWithBuilds(DedupOps.editVerify(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"edit verify went cartesian:\n${p.take(1800)}")
    assert(p.contains("collect_set") &&
      p.contains(s"<= ${DedupOps.LshBucketCap}"),
      s"hot-bucket cap guard missing:\n${p.take(1800)}")
    assert(p.contains("levenshtein"),
      s"levenshtein not in the projection:\n${p.take(1800)}")
  }

  test("q317 cap recall: truth pairs join on the base key; candidates through the cap guard") {
    val p = plan(DedupOps.capRecall(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"cap recall went cartesian:\n${p.take(1800)}")
    assert(p.contains("collect_set") &&
      p.contains(s"<= ${DedupOps.LshBucketCap}"),
      s"hot-bucket cap guard missing:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"shared shingle/signature frames not persisted:\n${p.take(1800)}")
  }

  test("q318 pca deflation: corpus persisted; corrections ride broadcasts") {
    val p = plan(SimilarityOps.pcaDeflation(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"deflation grew a shuffled join:\n${p.take(1800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"iterate/scalars not broadcast:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"corpus not persisted:\n${p.take(1800)}")
  }

  test("q319 lpa: edge table cached; iterations materialize (no lineage blowup)") {
    val p = plan(GraphOps.lpaCommunities(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"lpa went cartesian:\n${p.take(1800)}")
    assert(p.contains("Scan ExistingRDD"),
      s"label generations not materialized:\n${p.take(1800)}")
    // the rounds read the edge table in their cut plans
    val rounds = planWithBuilds(GraphOps.lpaCommunities(spark, dir))
    assert(rounds.contains("InMemoryTableScan"),
      s"edge table not cached:\n${rounds.take(1800)}")
  }

  /** The shuffles of `p` fed by a `cached` table scan with no exchange
    * or join in between: each re-partitions the cached rows themselves. */
  private def cacheReshuffles(p: org.apache.spark.sql.execution.SparkPlan)(
      cached: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        => Boolean): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def raw(n: SparkPlan): Boolean = n match {
      case x: InMemoryTableScanExec => cached(x)
      case _: Exchange | _: BaseJoinExec => false
      case o => o.children.exists(raw)
    }
    p.collect { case x: ShuffleExchangeExec if raw(x.child) => x }
  }

  test("q319 lpa round: struct-max argmax (no Window) over the dst-partitioned edge cache, never re-shuffled") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val edges = GraphOps.cooccurArcs(spark, dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val labels = CurationOps.cutLineage(edges.select(col("src").as("node"))
        .distinct().select(col("node"), col("node").as("lbl")))
      val p = GraphOps.lpaRound(edges, labels).queryExecution.executedPlan
      assert(!p.toString.contains("Window"), s"round ranks with a window:\n$p")
      assert(p.find(_.isInstanceOf[InMemoryTableScanExec]).isDefined,
        s"round does not read the edge cache:\n$p")
      assert(cacheReshuffles(p)(_ => true).isEmpty,
        s"edge cache re-shuffled per round:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q319/q380/q390: no cut plan re-shuffles the shared co-activity arc cache") {
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("q319_lpa_communities", "q380_hyperball",
          "q390_luby_mis")) {
        val plans = PlanDump.plans(spark)(SparkEntry.queries(q)(spark, dir))
          .map(_.executedPlan)
        // the build above made this session's arcs; a scan of them is
        // a scan of their cache builder
        val arcs = GraphOps.cooccurArcs(spark, dir).queryExecution
          .withCachedData.collectFirst { case r: InMemoryRelation =>
            r.cacheBuilder }.get
        def isArcs(x: InMemoryTableScanExec) = x.relation.cacheBuilder eq arcs
        assert(plans.exists(_.exists {
            case x: InMemoryTableScanExec => isArcs(x)
            case _ => false
          }), s"$q reads no shared arcs:\n${plans.mkString("\n---\n")}")
        for (p <- plans) assert(cacheReshuffles(p)(isArcs).isEmpty,
          s"$q re-shuffles the arc cache:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Bench.resetSharedState(spark)
    }
  }

  test("q320 shingle width: corpus tokenized once; truth joins on the base key") {
    val p = plan(DedupOps.shingleWidthCurve(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"width curve went cartesian:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan"),
      s"token frame not persisted:\n${p.take(1800)}")
  }

  test("q321 mi ranking: one scan via the shared binned frame; cell windows only") {
    val p = plan(TrainPrepOps.miRanking(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"mi ranking shuffled a join:\n${p.take(1800)}")
    assert(p.contains("InMemoryTableScan") && p.contains("Window"),
      s"binned frame/windows missing:\n${p.take(1800)}")
  }

  test("q322 rate limit: one user exchange + in-partition sort + streaming state pass") {
    val p = plan(ScaleOps.rateLimitReplay(spark, dir))
    assert(!p.contains("Join"),
      s"rate limit grew a join:\n${p.take(1800)}")
    val userEx = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userEx == 1,
      s"expected ONE user exchange, got $userEx:\n${p.take(1800)}")
    assert(p.contains("MapPartitions"),
      s"state machine missing:\n${p.take(1800)}")
  }

  test("q316 distill stump: scored corpus persisted; bin algebra join-free beyond broadcasts") {
    val p = plan(TrainPrepOps.distillStump(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"scored corpus not persisted:\n${p.take(1800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"stump shuffled a join:\n${p.take(1800)}")
    assert(p.contains("Window"),
      s"cumulative split window missing:\n${p.take(1800)}")
  }

  test("q323 repetition: fully in-row — no join, no pre-sort aggregate") {
    val p = plan(TextOps.repetitionAudit(spark, dir))
    assert(!p.contains("Join"), s"repetition grew a join:\n${p.take(1500)}")
    assert(!p.contains("HashAggregate"),
      s"repetition aggregates (should be per-row):\n${p.take(1500)}")
  }

  test("q324 surprisal: vocab-sized freq table broadcasts; no sort-merge join") {
    val p = plan(TextOps.unigramSurprisal(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"freq table not broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"token stream shuffled for the join:\n${p.take(1500)}")
  }

  test("q325 pii audit: regex work is join-free; one aggregate to sources") {
    val p = plan(TextOps.piiAudit(spark, dir))
    assert(!p.contains("Join"), s"pii audit grew a join:\n${p.take(1500)}")
    assert(p.contains("HashAggregate"))
  }

  test("q326 snapshot diff: manifests join on doc_id, no cartesian; text collapsed to hashes below the join") {
    val df = ScaleOps.snapshotDiff(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"diff join degenerated:\n${p.take(1500)}")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"full outer join missing:\n${p.take(1500)}")
    // the join must see (doc_id, source, md5) projections, not raw text:
    // md5 is computed below the join on both sides
    val joinAt = p.indexOf("SortMergeJoin")
    assert(joinAt >= 0 && p.indexOf("md5", joinAt) >= 0,
      s"hash not computed scan-side:\n${p.take(1800)}")
  }

  test("q327 perm curve: shingle/signature frames shared; candidates through the cap guard") {
    val p = planWithBuilds(DedupOps.permCountCurve(spark, dir))
    assert(p.contains("InMemoryTableScan"),
      s"shared frames not persisted:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"perm curve went cartesian:\n${p.take(1500)}")
    assert(p.contains("collect_set") &&
      p.contains(s"<= ${DedupOps.LshBucketCap}"),
      s"hot-bucket cap guard missing:\n${p.take(1500)}")
  }

  test("q328 gibberish: native char loop in-row — no explode, no join, no pre-sort shuffle") {
    val p = plan(TextOps.gibberishGate(spark, dir))
    assert(p.contains("char_run_stats"),
      s"native expression missing:\n${p.take(1500)}")
    assert(!p.contains("Generate") && !p.contains("Join"),
      s"gibberish gate exploded or joined:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"gate shuffled before the sort:\n${p.take(1500)}")
  }

  test("q329 quantile accuracy: rank side is the q114 shape; grid broadcast; no cartesian") {
    val p = plan(ProfileOps.quantileAccuracy(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"quantile audit went cartesian:\n${p.take(1800)}")
    assert(p.contains("percentile_approx") || p.contains("approx_percentile"),
      s"sketch aggregate missing:\n${p.take(1800)}")
    // the rank window stays pid-partitioned (never a global sort window)
    assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isEmpty &&
      p.contains("Window"),
      s"rank window lost its pid partition:\n${p.take(1800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"offset/grid joins must broadcast:\n${p.take(1800)}")
  }

  test("q330 negative table: one corpus collapse; prefix window over the vocab aggregate; total broadcast") {
    val p = plan(TrainPrepOps.negativeTable(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"negative table shuffled a join:\n${p.take(1500)}")
    assert(p.contains("HashAggregate") && p.contains("Window"),
      s"vocab collapse / prefix window missing:\n${p.take(1500)}")
  }

  test("q379 substring dedup: pair stream joins on the fingerprint key; windows pair/diag-partitioned; no cartesian") {
    val p = plan(DedupOps.substringDup(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup went all-pairs:\n${p.take(1800)}")
    // the self-join must key on fp (the suffix-prefix bucket), never on
    // doc ids — that is the never-all-pairs guarantee
    assert(p.contains("SortMergeJoin [fp") || p.contains("SortMergeJoin keys: [fp") ||
      ("hashpartitioning\\(fp".r.findFirstIn(p).nonEmpty),
      s"pair join not keyed on fp:\n${p.take(1800)}")
  }

  test("q381 substring cut: fp-keyed pair stream; cut-position join is an equi-join on (doc_id, pos); no cartesian") {
    val p = plan(DedupOps.substringCut(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cut plan went all-pairs:\n${p.take(1800)}")
    // the cut marking must be an equi-join (exploded positions), never
    // a range-predicate join over the token stream
    assert("hashpartitioning\\(doc_id".r.findFirstIn(p).nonEmpty ||
      p.contains("SortMergeJoin [doc_id"),
      s"cut marking not keyed on (doc_id, pos):\n${p.take(1800)}")
  }

  test("q387 k-truss: per-round support block keeps wedge work inside rows (sorted_inter_count over one adjacency aggregate); no cartesian") {
    // the iterative peel cuts lineage per round, so the pin targets the
    // round's building block — the support frame every round re-plans
    import org.apache.spark.sql.functions.col
    val e = GraphOps.cooccurEdges(spark, dir)
      .select(col("ua").as("a"), col("ub").as("b"))
    val p = plan(GraphOps.edgeSupports(e))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"truss support went all-pairs:\n${p.take(1800)}")
    assert(p.contains("sorted_inter_count"),
      s"support not computed in-row — wedge stream materialized?:\n${p.take(1800)}")
    assert(p.contains("collect_list"),
      s"adjacency aggregate missing:\n${p.take(1800)}")
  }

  test("q388 densest subgraph: final curve is 1-row stat frames — no corpus content under its bounded windows") {
    // per-round peel state is lineage-cut; what remains above the curve
    // windows must be Limit/aggregate-bounded (the suite-wide window
    // invariant also walks this query — this pin just localizes it)
    val df = GraphOps.densestSubgraph(spark, dir)
    val p = plan(df)
    // every scan feeding the curve is an RDD leaf (cut peel state) or a
    // 1-row aggregate — a parquet scan here would mean corpus content
    // reached the bounded windows
    assert(!p.contains("Scan parquet"),
      s"corpus scan leaked above the peel cuts:\n${p.take(1800)}")
    assert(df.columns.toSeq == Seq("round", "n_nodes", "n_edges",
      "density_fp", "n_removed", "best_density_fp", "is_densest"))
    assert(df.count() == GraphOps.DsgRounds + 1,
      "curve must report every round including round 0")
  }

  test("q389 butterfly census: wedge stream is the capped equi-self-join — no cartesian; the cap window partitions on the supplier key") {
    val p = plan(GraphOps.butterflyPairs(spark, dir))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"butterfly wedge join went all-pairs:\n${p.take(1800)}")
    assert(p.contains("row_number"),
      s"hub cap window missing — wedge fan-out unbounded:\n${p.take(1800)}")
    val df = GraphOps.butterflyCensus(spark, dir)
    assert(df.columns.toSeq == Seq("codeg_band", "n_pairs",
      "n_butterflies", "global_butterflies", "global_wedge_pairs"))
    assert(df.count() <= 8, "co-degree bands must cap at 8")
  }

  test("q390 Luby MIS: the round block probes the pinned edge cache with a hash join and computes priorities in-row") {
    val ed = GraphOps.cooccurArcs(spark, dir)
      .select(col("src").as("u"), col("dst").as("v"))
    val alive = CurationOps.cutLineage(ed.select("u").distinct())
    val p = plan(GraphOps.misWinners(ed, alive, 1))
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"alive probe is not a hash join — |E| side re-sorted per round?:\n${p.take(1800)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"MIS round went all-pairs:\n${p.take(1800)}")
    assert(p.contains("md5_fp60"),
      s"priorities not in-row md5 — joined from a table?:\n${p.take(1800)}")
  }

  test("q380/q390 reports are local rows: the returned plans hold no Exchange and no file scan") {
    for (q <- Seq("q380_hyperball", "q390_luby_mis", "q338_kcore_peel",
        "q350_pointer_jump")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(!p.contains("Exchange") && !p.contains("Scan parquet"),
        s"$q report re-reads the data:\n$p")
    }
  }

  test("q391 pass@k: per-k blocks are 1-row aggregates over the lineage-cut problem frame; estimator arithmetic in-row") {
    val df = AnalyticsOps.passAtK(spark, dir)
    val p = plan(df)
    // the event scan sits below the per-problem cut; nothing
    // sample-sized reaches the per-k estimator blocks
    assert(!p.contains("Scan parquet"),
      s"event scan leaked above the problem-frame cut:\n${p.take(1800)}")
    assert(df.columns.toSeq ==
      Seq("k", "n_problems", "n_saturated", "pass_at_k"))
    assert(df.count() == AnalyticsOps.PassKs.size.toLong,
      "one curve row per k")
  }

  test("q392 random walks: curve is 1-row stat frames over cut walk state; step count pinned") {
    val df = GraphOps.randomWalks(spark, dir)
    val p = plan(df)
    // walk state and visited sets are lineage-cut per step; nothing
    // event-sized reaches the curve aggregates
    assert(!p.contains("Scan parquet"),
      s"corpus scan leaked above the walk cuts:\n${p.take(1800)}")
    assert(df.columns.toSeq == Seq("step", "n_walks", "n_distinct_cur",
      "n_returned", "n_visited_cum", "coverage_fp"))
    assert(df.count() == GraphOps.RwSteps + 1L,
      "curve must report every step including step 0")
  }

  // --- suite-wide invariant: unpartitioned windows ------------------------

  /** Grouping-key names that mark an aggregate as ENTITY-keyed: node /
    * user / doc / token ids and the suite's graph endpoint columns. An
    * aggregate keyed on one of these is corpus-SCALED (|V|, |users|,
    * |docs|, |vocab| grow with the data), not group-bounded, so it no
    * longer excuses an unpartitioned window above it — that window
    * still pulls every entity through one task. Enum-bounded keys
    * (event_type, source, grid/calendar cells, nation/region dims)
    * stay excused. */
  private val entityKeyName =
    ("(?i)^(.*_(id|key|hash|fp)|id|key|node|comp|user|doc|u|ua|ub|a|b|c" +
      "|sp|src|dst|w|w1|w2|word|tok|token|term|shingle|bucket|pair|fp" +
      "|url|host)$").r
  private def isEntityKey(name: String): Boolean =
    entityKeyName.matches(name) &&
      !name.toLowerCase.contains("nation") &&
      !name.toLowerCase.contains("region")

  /** Measured-cardinality branch of the boundedness walk: an aggregate
    * whose grouping keys the NAME heuristic excused is re-checked on
    * the fixture — if its distinct-group count exceeds
    * [[MeasuredGroupFrac]] of its input rows (inputs below
    * [[MeasuredMinRows]] are literal grids/micro-frames, skipped), the
    * key is entity-SCALED regardless of what it is called. This is what
    * catches `doc_id AS grp`: no name list survives a rename; a
    * measured ratio does. Results memoized on the canonicalized
    * subtree — the suite re-walks shared artifacts hundreds of times. */
  private val MeasuredGroupFrac = 0.5
  private val MeasuredMinRows = 200L
  private val measuredCache = scala.collection.concurrent.TrieMap
    .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Boolean]
  private def measuredEntityScaled(
      a: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Boolean =
    measuredCache.getOrElseUpdate(a.canonicalized, {
      import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val keys = a.groupingExpressions.filterNot(_.foldable)
      if (keys.isEmpty) false
      else try {
        val n = org.apache.spark.sql.GraftPlanBridge
          .ofRows(spark, a.child).count()
        if (n < MeasuredMinRows) false
        else {
          val named = keys.zipWithIndex.map {
            case (ne: NamedExpression, _) => ne
            case (e, i) => Alias(e, s"_gk$i")()
          }
          val g = org.apache.spark.sql.GraftPlanBridge
            .ofRows(spark, Aggregate(keys, named, a.child)).count()
          g.toDouble > MeasuredGroupFrac * n.toDouble
        }
      } catch { case _: Throwable => false }
    })

  /** The leaves an UNPARTITIONED (or literal-partitioned — same single
    * partition) window would pull through one task, with any leaf below
    * a bounded-key Aggregate or a Limit excused: an aggregate with
    * enum-bounded grouping keys collapses its subtree to group-bounded
    * rows before the window sees it, which is the documented rationale
    * at every legitimate site (per-bucket reports, |communities|-sized
    * modularity frames, literal grids). An ENTITY-keyed aggregate
    * (node/user/doc/vocab ids — see [[entityKeyName]]) is reported as a
    * hazard itself: |entities| scales with the corpus, and that is
    * exactly where q375's |V|-sized rank hid from the round-11 walker.
    * Sites that need an exact global rank over an entity-keyed frame
    * must use ScaleOps.withGlobalRank (pid-partitioned — never reaches
    * this walker) or orderBy+limit (Limit-bounded). */
  private def unguardedWindowLeaves(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    unguardedWindowLeavesIn(df.queryExecution.optimizedPlan,
      rawLeavesPhys)

  // a persisted frame shows up as an opaque InMemoryRelation leaf —
  // recurse into its cached PHYSICAL plan with the same rule, so a
  // cached 1-row stats frame is excused while a cached raw corpus
  // frame is still flagged
  private def rawLeavesPhys(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    {
      val n = p.getClass.getSimpleName
      p match {
        case ag: BaseAggregateExec =>
          val ek = ag.groupingExpressions.flatMap(_.references)
            .map(_.name).filter(isEntityKey)
          if (ek.isEmpty) Nil
          else {
            val below = ag.children.flatMap(rawLeavesPhys)
            if (below.isEmpty) Nil
            else Seq(s"entity-keyed ${n}[${ek.distinct.mkString(",")}]"
              + s" over ${below.distinct.mkString("; ")}")
          }
        case _ if n.contains("Aggregate") || n.contains("Limit") ||
          n.contains("TakeOrdered") => Nil
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          rawLeavesPhys(a.inputPlan)
        case im: InMemoryTableScanExec => rawLeavesPhys(im.relation.cachedPlan)
        case leaf if leaf.children.isEmpty =>
          if (n.contains("LocalTableScan") || n.contains("RDDScan") ||
            n.contains("Range") || n.contains("OneRowRelation")) Nil
          else Seq(n)
        case other => other.children.flatMap(rawLeavesPhys)
      }
    }
  }

  private def unguardedWindowLeavesIn(
      top: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      phys: org.apache.spark.sql.execution.SparkPlan => Seq[String])
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    top.collect {
      case w: Window if w.partitionSpec.forall(_.foldable) =>
        boundedLeavesLogical(w.child, phys)
    }.flatten
  }

  /** The window walk, INCLUDING construction-time plans (the same
    * cut-audit rule as the broadcast walk): an unpartitioned window
    * inside an eagerly-cut per-round frame single-tasks its input just
    * as surely as one in the final plan, and is just as invisible
    * there. */
  private def unguardedWindowLeavesWithAudit(
      build: => org.apache.spark.sql.DataFrame): Seq[String] =
    auditedPlans(build).flatMap(unguardedWindowLeavesIn(_, rawLeavesPhys))

  /** Shared boundedness walk: the corpus-scaled content of a logical
    * subtree that is about to be single-tasked (window walker) or
    * collected to every executor (broadcast walker). Excuses:
    * enum/grid-keyed aggregates, Limits, literal data, fixed dims
    * (nation/region — constant-cardinality at every SF). Flags:
    * entity-keyed aggregates and raw corpus leaves. */
  private def boundedLeavesLogical(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      phys: org.apache.spark.sql.execution.SparkPlan => Seq[String])
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(p: LogicalPlan): Seq[String] = p match {
      case a: Aggregate =>
        val ek = a.groupingExpressions.filterNot(_.foldable)
          .flatMap(_.references).map(_.name).filter(isEntityKey)
        if (ek.isEmpty) {
          // name heuristic says enum/grid-bounded — but a renamed
          // entity key dodges names, so when the aggregate's own input
          // is corpus-scaled, MEASURE it: distinct groups close to
          // input rows on the fixture means the key is entity-scaled
          // whatever it is called
          val below = a.children.flatMap(walk)
          if (below.nonEmpty && measuredEntityScaled(a))
            Seq("measured-entity-scaled Aggregate[" +
              a.groupingExpressions.filterNot(_.foldable)
                .flatMap(_.references).map(_.name).distinct
                .mkString(",") +
              s"] over ${below.distinct.mkString("; ")}")
          else Nil
        } else {
          // entity-keyed: bounded iff its own input is bounded (a
          // distinct over a Limit-bounded run is fine; over a raw
          // corpus scan it is |entities|-scaled)
          val below = a.children.flatMap(walk)
          if (below.isEmpty) Nil
          else Seq(s"entity-keyed Aggregate[${ek.distinct.mkString(",")}]"
            + s" over ${below.distinct.mkString("; ")}")
        }
      case _: GlobalLimit | _: LocalLimit => Nil // row-bounded
      case _: LocalRelation | _: OneRowRelation => Nil // literal data
      case r: Range if r.numElements.isValidLong &&
        r.numElements.toLong <= 100000 => Nil // literal grid
      case imr: InMemoryRelation => phys(imr.cachedPlan)
      case lr: LogicalRelation =>
        val names = lr.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.map(_.getName.toLowerCase).toSeq
          case _ => Seq("unknown-relation")
        }
        // nation/region: constant cardinality (25/5) at every SF
        if (names.nonEmpty && names.forall(n =>
          n.contains("nation") || n.contains("region"))) Nil
        else Seq(s"raw scan ${names.mkString(",")}")
      case lrdd: org.apache.spark.sql.execution.LogicalRDD =>
        // lineage-cut leaf: no stats, so MEASURE it (the q338
        // laundering blind spot — the frame is already materialized,
        // the count is a local job over cached blocks, memoized)
        val rows = rddRowsCache.getOrElseUpdate(lrdd.rdd.id,
          lrdd.rdd.count())
        if (rows >= BroadcastMeasuredMaxRows)
          Seq(s"LogicalRDD(measured $rows rows — lineage-cut" +
            " corpus-scaled frame)")
        else Nil
      case l: LeafNode => Seq(l.nodeName)
      case other => other.children.flatMap(walk)
    }
    walk(p)
  }

  /** Measured branch for lineage-cut leaves under a broadcast hint: a
    * checkpointed frame reaches the physical walk as an RDD scan with
    * NO size stats and used to be excused wholesale — exactly how
    * q338's per-round broadcast(keep) (a |V|-row kept-node set behind
    * cutLineage) dodged this invariant until the 100× run caught it at
    * 371 s (the laundering blind spot). The RDD is already
    * materialized (cutLineage is eager), so counting it is a cheap
    * local job; memoized by RDD id — shared artifacts re-walk
    * hundreds of times. Threshold 300 at sf0.001 separates literal
    * grids and stat rows from anything corpus-shaped (docs = 500,
    * events = 1000 there). */
  private val BroadcastMeasuredMaxRows = 300L
  private val rddRowsCache =
    scala.collection.concurrent.TrieMap.empty[Int, Long]

  /** The corpus-scaled leaves an EXPLICIT broadcast() hint would ship
    * to every executor. q375's round-11 `weak` was exactly this class:
    * a broadcast of a (1−f)·|V|-row kept-node set — invisible at
    * sf0.1, the OOM at 100×. A hinted side must be bounded by an
    * enum-keyed aggregate, a Limit, a literal grid, or a fixed dim;
    * entity-keyed aggregates (|V|/|users|/|docs| rows) and raw
    * SF-scaled scans are flagged; lineage-cut RDD leaves are MEASURED
    * (see [[BroadcastMeasuredMaxRows]]). Auto-broadcasts are NOT
    * checked: those are stats-driven and AQE re-plans them at real
    * scale — the hazard is the hint that FORCES the ship regardless
    * of size. */
  private def unguardedBroadcastLeaves(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    unguardedBroadcastLeavesIn(df.queryExecution.optimizedPlan)

  private def unguardedBroadcastLeavesIn(
      top: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def phys(p: SparkPlan): Seq[String] = {
      val n = p.getClass.getSimpleName
      p match {
        case ag: BaseAggregateExec =>
          val ek = ag.groupingExpressions.flatMap(_.references)
            .map(_.name).filter(isEntityKey)
          if (ek.isEmpty) Nil
          else {
            val below = ag.children.flatMap(phys)
            if (below.isEmpty) Nil
            else Seq(s"entity-keyed ${n}[${ek.distinct.mkString(",")}]"
              + s" over ${below.distinct.mkString("; ")}")
          }
        case _ if n.contains("Aggregate") || n.contains("Limit") ||
          n.contains("TakeOrdered") => Nil
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          phys(a.inputPlan)
        case im: InMemoryTableScanExec => phys(im.relation.cachedPlan)
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          // lineage-cut leaf: no stats, so MEASURE it (eager
          // checkpoint — the count is a local job over cached blocks)
          val rows = rddRowsCache.getOrElseUpdate(r.rdd.id, r.rdd.count())
          if (rows >= BroadcastMeasuredMaxRows)
            Seq(s"RDDScan(measured $rows rows — lineage-cut" +
              " corpus-scaled frame)")
          else Nil
        case leaf if leaf.children.isEmpty =>
          if (n.contains("LocalTableScan") || n.contains("RDDScan") ||
            n.contains("Range") || n.contains("OneRowRelation")) Nil
          else Seq(n)
        case other => other.children.flatMap(phys)
      }
    }
    top.collect {
      case j: Join =>
        def side(h: Option[HintInfo], sub: LogicalPlan): Seq[String] =
          if (h.exists(_.strategy.contains(BROADCAST)))
            boundedLeavesLogical(sub, phys)
          else Nil
        side(j.hint.leftHint, j.left) ++ side(j.hint.rightHint, j.right)
    }.flatten
  }

  /** The broadcast walk, INCLUDING the plans a query materializes
    * during construction: eager cutLineage hides per-round joins from
    * the final plan (the q338 laundering blind spot), so the audit
    * hook records every plan the cut is about to execute and each one
    * is walked like the top-level plan. */
  private def unguardedBroadcastLeavesWithAudit(
      build: => org.apache.spark.sql.DataFrame): Seq[String] =
    auditedPlans(build).flatMap(unguardedBroadcastLeavesIn)

  /** Documented exemptions from the entity-keyed-aggregate rule: query
    * name → why that query's flagged aggregate is in fact bounded at
    * scale. Every entry must still FLAG (stale entries fail the test),
    * so an exemption can never silently outlive its site. */
  private val windowInvariantWhitelist: Map[String, String] = Map(
    "q128_token_budget" -> ("bucket = floor(quality*1000), quality in" +
      " [0,1] -> <=1001 groups regardless of corpus size"),
    "q131_dsir_weights" -> ("b = hash % DsirBuckets: FIXED 1024-row" +
      " model grid; the unbounded windows reduce the grid, not the corpus"),
    "q197_watermark_audit" -> ("bucket = floor(arrival/WmBucket):" +
      " calendar-span/width grid, bounded by the time window audited"),
    "q201_pareto_frontier" -> ("bucket = floor(n_chars/SkyBucket):" +
      " length-domain grid bounded by max doc length / bucket width"),
    "q291_pref_length_bias" -> ("bucket = length-delta/width quotient:" +
      " value-domain grid bounded by the length-delta range, not |pairs|"),
    "q354_halving_search" -> ("construction-time (cut-audit) flag:" +
      " the per-rung rank window orders the FROZEN 8-row tau config" +
      " grid (groupBy k/tau/tau_fp of the crossJoined ShTaus literals" +
      " — tau_fp trips the .*_fp name pattern); the corpus-scaled NB" +
      " scoring sits BELOW the grid aggregate, which bounds the" +
      " window input at |ShTaus| rows at every SF"))

  test("suite-wide: no unpartitioned window sits above a corpus-sized scan (all queries)") {
    // negative control 1 — the property must be able to fail: a
    // corpus-sized global row_number() is exactly the hazard class
    val scratch = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
    assert(unguardedWindowLeaves(scratch).nonEmpty,
      "walker failed to flag a corpus-sized unpartitioned window")
    // negative control 2 — the round-11 escape: an ENTITY-keyed
    // aggregate (|docs| groups) under a global rank. The old walker's
    // blanket Aggregate excuse passed this; the tightened one must not.
    val scratch2 = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    assert(unguardedWindowLeaves(scratch2).nonEmpty,
      "walker failed to flag an entity-keyed aggregate under a global rank")
    // and an enum-keyed aggregate stays excused (no false positive)
    val scratch3 = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    assert(unguardedWindowLeaves(scratch3).isEmpty,
      "walker wrongly flagged an enum-bounded aggregate")
    // negative control 4 — a NEUTRAL RENAME dodges the name heuristic
    // (`grp` matches no entity-key name) but not the measured branch:
    // doc_id AS grp still has |docs| distinct groups over |docs| rows
    val scratch4 = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id AS grp")
      .groupBy("grp")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("n")))
    assert(unguardedWindowLeaves(scratch4)
      .exists(_.contains("measured-entity-scaled")),
      "measured branch failed to flag a renamed entity key")
    // negative control 5 — a global rank buried behind an eager cut:
    // invisible in the returned plan, surfaced only by the audit hook
    val docsNc = spark.read.parquet(s"$dir/documents.parquet")
    val buried = unguardedWindowLeavesWithAudit {
      CurationOps.cutLineage(docsNc.withColumn("rn",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("doc_id"))))
        .groupBy().count()
    }
    assert(buried.nonEmpty,
      "audit hook failed to surface a window hazard buried behind" +
        " an eager lineage cut")
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = try unguardedWindowLeavesWithAudit(fn(spark, dir))
          catch { case e: Throwable => Seq(s"plan build failed: $e") }
        // shared()/persist() at construction time would otherwise leak
        // InMemoryRelation into later queries' plans (PlanDump note)
        spark.catalog.clearCache()
        bad.map(leaf => name -> s"$name: unpartitioned window over $leaf")
    }
    val stale = windowInvariantWhitelist.keySet --
      flagged.map(_._1).toSet
    assert(stale.isEmpty,
      s"stale whitelist entries (no longer flag anything): $stale")
    val offenders = flagged.collect {
      case (name, msg) if !windowInvariantWhitelist.contains(name) => msg
    }
    assert(offenders.isEmpty,
      s"${offenders.size} unpartitioned-window hazard(s):\n" +
        offenders.mkString("\n"))
  }

  /** Documented exemptions from the broadcast-size rule: query name →
    * why that query's hinted broadcast is in fact bounded at scale.
    * Stale entries (no longer flagging) fail the test. */
  private val broadcastInvariantWhitelist: Map[String, String] = Map(
    "q128_token_budget" -> ("broadcast(cum): bucket = floor(quality*1000)" +
      " -> <=1001 rows at every SF"),
    "q131_dsir_weights" -> ("broadcast(model): b = hash % DsirBuckets," +
      " a FIXED 1024-row model grid"),
    "q197_watermark_audit" -> ("broadcast(prev): bucket =" +
      " floor(arrival/WmBucket), calendar-span/width grid"),
    "q201_pareto_frontier" -> ("broadcast(bmax-derived prev): bucket =" +
      " floor(n_chars/SkyBucket), length-domain grid"))

  test("suite-wide: no broadcast() hint ships a corpus-sized frame (all queries)") {
    import org.apache.spark.sql.functions.{broadcast => bc, count, lit}
    // negative control 1 — hinted broadcast of a raw corpus scan
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scratch = docs.join(bc(docs.select("doc_id")), "doc_id")
    assert(unguardedBroadcastLeaves(scratch).nonEmpty,
      "walker failed to flag a hinted corpus-sized broadcast")
    // negative control 2 — the q375 class: hinted broadcast of an
    // ENTITY-keyed aggregate (|docs| rows)
    val scratch2 = docs.join(
      bc(docs.groupBy("doc_id").agg(count(lit(1)).as("n"))), "doc_id")
    assert(unguardedBroadcastLeaves(scratch2).nonEmpty,
      "walker failed to flag a hinted entity-keyed-aggregate broadcast")
    // and an enum-keyed aggregate broadcast stays excused
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val scratch3 = ev.join(
      bc(ev.groupBy("event_type").agg(count(lit(1)).as("n"))),
      "event_type")
    assert(unguardedBroadcastLeaves(scratch3).isEmpty,
      "walker wrongly flagged an enum-bounded aggregate broadcast")
    // negative control 3 — the q338 laundering class: a corpus-sized
    // frame behind cutLineage reaches the walk as a stats-free RDD
    // leaf; the MEASURED branch must flag it
    val scratch4 = docs.join(
      bc(CurationOps.cutLineage(docs.select("doc_id"))), "doc_id")
    assert(unguardedBroadcastLeaves(scratch4)
      .exists(_.contains("measured")),
      "measured branch failed to flag a lineage-cut corpus broadcast")
    // ... while a genuinely bounded cut frame stays excused
    val scratch5 = docs.join(
      bc(CurationOps.cutLineage(docs.select("doc_id").limit(5))),
      "doc_id")
    assert(unguardedBroadcastLeaves(scratch5).isEmpty,
      "measured branch wrongly flagged a 5-row lineage-cut broadcast")
    // negative control 4 — the hazard buried BEHIND an eager cut: the
    // per-round join executes during construction, the returned frame
    // is a clean RDD leaf, and only the audit hook can see it
    val buried = unguardedBroadcastLeavesWithAudit {
      CurationOps.cutLineage(
          docs.join(bc(docs.select("doc_id")), "doc_id"))
        .groupBy().count()
    }
    assert(buried.nonEmpty,
      "audit hook failed to surface a broadcast hazard buried behind" +
        " an eager lineage cut")
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = try unguardedBroadcastLeavesWithAudit(fn(spark, dir))
          catch { case e: Throwable => Seq(s"plan build failed: $e") }
        spark.catalog.clearCache()
        bad.map(leaf => name -> s"$name: broadcast() hint over $leaf")
    }
    val stale = broadcastInvariantWhitelist.keySet --
      flagged.map(_._1).toSet
    assert(stale.isEmpty,
      s"stale whitelist entries (no longer flag anything): $stale")
    val offenders = flagged.collect {
      case (name, msg) if !broadcastInvariantWhitelist.contains(name) => msg
    }
    assert(offenders.isEmpty,
      s"${offenders.size} corpus-sized-broadcast hazard(s):\n" +
        offenders.mkString("\n"))
  }

  test("q373 TokenBucketExec: strategy plans it; EnsureRequirements adds ONE exchange, or NONE when the child is pre-clustered") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = TestSession.sfDir("0.001")
    val in = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case x: ShuffleExchangeExec => x }.size
    def hasExec(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collectFirst {
        case x: graft.plans.TokenBucketExec => x }.nonEmpty
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plain = graft.plans.TokenBucket(in, 3L, 1L)
      assert(hasExec(plain), "strategy did not plan TokenBucketExec")
      assert(shuffles(plain) == 1,
        "declared distribution must cost exactly one exchange")
      // the composability claim: a child already clustered by user_id
      // satisfies the declared requirement — NO second exchange
      val pre = graft.plans.TokenBucket(
        in.repartition(col("user_id")), 3L, 1L)
      assert(hasExec(pre))
      assert(shuffles(pre) == 1,
        "pre-clustered child must not pay a second exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
