package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurationOps, GraphOps}

/** The round-loop queries read their report scalars off observed
  * lineage cuts ([[CurationOps.cutObserved]], stepped by
  * [[CurationOps.iterateCut]]); q59 and q229 read their fixpoint test
  * off them. Under reliable checkpoints
  * ([[CurationOps.CheckpointDirKey]]) each cut runs a different job, so
  * the observed values must come out the same there as under local
  * cuts. Every query runs under a timeout: a cut whose job posted no
  * metrics fails the case instead of blocking it. The shared-artifact
  * memo is keyed by the cut mode, so the reliable runs build their own
  * artifacts without clearing the session's caches. */
class ObservedCutsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  val graphRounds = Seq("q319_lpa_communities", "q375_attack_robustness",
    "q380_hyperball", "q382_harmonic_centrality", "q390_luby_mis",
    "q338_kcore_peel", "q350_pointer_jump", "q59_dup_clusters",
    "q229_incremental_cc")

  private def rows(q: String): Seq[String] = {
    val run = Future(SparkEntry.queries(q)(spark, dir).collect()
      .map(_.toString).toSeq.sorted)(ExecutionContext.global)
    Await.result(run, 3.minutes)
  }

  test("graph_rounds reports: reliable checkpoints return the same rows as local cuts") {
    val local = graphRounds.map(q => q -> rows(q)).toMap
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-obs").toString
    spark.conf.set(CurationOps.CheckpointDirKey, ckDir)
    try graphRounds.foreach { q =>
      assert(rows(q) == local(q), s"$q differs under reliable checkpoints")
    } finally spark.conf.unset(CurationOps.CheckpointDirKey)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .count()
    assert(wrote > 0, s"no rdd checkpoints written under $ckDir")
  }

  test("cutObserved with no aggregates is the plain lineage cut") {
    val ((cut, longs), cuts) = CurationOps.auditCuts(spark)(
      CurationOps.cutObserved(spark.range(10).toDF("x")))
    assert(longs.isEmpty)
    assert(cuts.size == 1 && !cuts.head.toString.contains("CollectMetrics"),
      s"not the plain cut:\n$cuts")
    assert(!cut.queryExecution.optimizedPlan.toString.contains("Range"),
      "the returned frame does not start at the cut")
    assert(cut.collect().map(_.getLong(0)).toSeq == (0L until 10L))
  }

  test("iterateCut: generations 0..n, each cut, observed longs in round order") {
    import org.apache.spark.sql.functions._
    val rounds = scala.collection.mutable.Buffer.empty[Int]
    val ((gens, obs), cuts) = CurationOps.auditCuts(spark)(
      CurationOps.iterateCut(spark.range(5).toDF("x"), 2,
        sum(col("x")), count(lit(1))) { (g, r) =>
        rounds += r
        g.select((col("x") + 1).as("x"))
      })
    assert(rounds == Seq(1, 2), s"step saw rounds $rounds")
    assert(cuts.size == 3)
    assert(obs == IndexedSeq(IndexedSeq(10L, 5L), IndexedSeq(15L, 5L),
      IndexedSeq(20L, 5L)))
    assert(gens.map(_.collect().map(_.getLong(0)).toSeq) ==
      IndexedSeq(0L to 4L, 1L to 5L, 2L to 6L))
  }

  test("q70 rank generations are lineage cuts the cut audit records") {
    val (_, cuts) = CurationOps.auditCuts(spark)(
      GraphOps.pageRankRanks(spark, dir))
    // the trade pairs, generation 0 and one cut per iteration
    assert(cuts.size == GraphOps.Iterations + 2, s"recorded ${cuts.size} cuts")
    Bench.resetSharedState(spark)
  }
}
