package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The contract of GraphOps' shared-artifact memo, pinned on the
  * co-occurrence edges, the arcs built from them and the HyperBall
  * rounds: within a session a second read is a lookup,
  * `Bench.resetSharedState` forces a rebuild, and the lineage-cut mode
  * is part of the key (a reliable-checkpoint session never receives a
  * localCheckpoint artifact). Cuts are counted with the audit hook:
  * building the edges runs exactly one lineage cut. */
class SharedArtifactsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  test("co-occurrence edges: memoized per session, evicted by resetSharedState, keyed by checkpoint mode") {
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    CurationOps.auditCuts(spark) {
      def recorded = CurationOps.cutAudit.get.size
      val first = GraphOps.cooccurEdges(spark, dir)
      assert(recorded == 1, "the first read did not build the edges")
      val second = GraphOps.cooccurEdges(spark, dir)
      assert(recorded == 1, "a second read in the same session rebuilt the edges")
      assert(second eq first)

      Bench.resetSharedState(spark)
      GraphOps.cooccurEdges(spark, dir)
      assert(recorded == 2, "the read after resetSharedState did not rebuild")

      spark.conf.set(CurationOps.CheckpointDirKey, ckDir)
      try {
        GraphOps.cooccurEdges(spark, dir)
        assert(recorded == 3,
          "a reliable-checkpoint session was handed the localCheckpoint edges")
      } finally spark.conf.unset(CurationOps.CheckpointDirKey)
      GraphOps.cooccurEdges(spark, dir)
      assert(recorded == 3, "the checkpoint-mode build replaced the local entry")
    }
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
      .filter(p => p.getFileName.toString.startsWith("rdd-"))
      .count()
    assert(wrote > 0, s"no rdd checkpoints written under $ckDir")
    Bench.resetSharedState(spark)
  }

  test("co-activity arcs: memoized per session, no cut beyond the edges', cached, rebuilt after resetSharedState") {
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    CurationOps.auditCuts(spark) {
      def recorded = CurationOps.cutAudit.get.size
      val first = GraphOps.cooccurArcs(spark, dir)
      assert(recorded == 1, s"reading the arcs ran $recorded cuts")
      assert(cached(first), "the arcs are not persisted")
      val second = GraphOps.cooccurArcs(spark, dir)
      assert(recorded == 1, "a second read in the same session ran a cut")
      assert(second eq first)

      Bench.resetSharedState(spark)
      assert(!cached(first), "resetSharedState left the arcs cached")
      val third = GraphOps.cooccurArcs(spark, dir)
      assert(recorded == 2, "the read after resetSharedState did not rebuild")
      assert(!(third eq first) && cached(third))
    }
    Bench.resetSharedState(spark)
  }

  test("HyperBall rounds: memoized per session, rebuilt after resetSharedState") {
    CurationOps.auditCuts(spark) {
      def recorded = CurationOps.cutAudit.get.size
      val first = GraphOps.hbRounds(spark, dir)
      // the co-occurrence edges, generation 0 and one cut per round
      val built = recorded
      assert(built == GraphOps.HyperBallRounds + 2, s"first read ran $built cuts")
      val second = GraphOps.hbRounds(spark, dir)
      assert(recorded == built, "a second read in the same session ran a cut")
      assert(second eq first)

      Bench.resetSharedState(spark)
      GraphOps.hbRounds(spark, dir)
      assert(recorded == 2 * built,
        "the read after resetSharedState did not build the rounds again")
    }
    Bench.resetSharedState(spark)
  }

  test("resetSharedState frees every persistent RDD, locally checkpointed ones without a warning") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = scala.collection.mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender("graft-reset-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warned.synchronized {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("locally checkpointed")) warned += m
      }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val sc = spark.sparkContext
    try {
      GraphOps.cooccurEdges(spark, dir)          // a localCheckpoint cut
      spark.range(10).persist().count()          // a cached Dataset
      sc.parallelize(1 to 10).persist().count()  // a persisted RDD
      assert(sc.getPersistentRDDs.values.exists(_.isCheckpointed))
      assert(sc.getPersistentRDDs.size >= 3, sc.getPersistentRDDs)
      Bench.resetSharedState(spark)
      assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs)
      assert(warned.isEmpty, warned)
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
