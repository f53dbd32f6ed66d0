package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CurationOps

/** The graph_rounds queries read their report scalars off observed
  * lineage cuts ([[CurationOps.cutObserved]]). Under reliable
  * checkpoints ([[CurationOps.CheckpointDirKey]]) each cut runs a
  * different job, so the observed values must come out the same there
  * as under local cuts. Every query runs under a timeout: a cut whose
  * job posted no metrics fails the case instead of blocking it. The
  * shared-artifact memo is keyed by the cut mode, so the reliable runs
  * build their own artifacts without clearing the session's caches. */
class ObservedCutsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  val graphRounds = Seq("q319_lpa_communities", "q375_attack_robustness",
    "q380_hyperball", "q382_harmonic_centrality", "q390_luby_mis")

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
}
