package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.plans.{FreshnessCheck, IngestionJob}
import graft.sources.{Discovery, InMemoryMarkerLedger, MarkerEntry, MarkerLedger}

/** End-to-end ingestion over a synthetic partitioned tree (FIXTURES §1):
  * two environments, a disabled table, an out-of-date file, a malformed
  * path — run twice to prove marker idempotency. */
class IngestionJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private def buildTree(root: String): Unit = {
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(50)
    def drop(rel: String): Unit =
      li.write.mode("overwrite").parquet(s"$root/$rel")
    drop("environment=NL/Lineitem/2019/07/03")
    drop("environment=BE/Lineitem/2019/07/04")
    drop("environment=NL/Disabled/2019/07/03")  // disabled table
    drop("environment=NL/Lineitem/2019/07/01")  // before ingestion date
    drop("environment=US/Lineitem/2019/07/03")  // env not in allow-list
    drop("badshape/Lineitem/2019/07/03")        // malformed (no '=')
    drop("environment=NL/Unknown/2019/07/03")   // entity not in config
  }

  private val tableCfg = TableConfig(
    "HOST_CIG_Lineitem", "Lineitem", isEnabled = true,
    columns = Seq(
      ColumnMeta("l_orderkey", TypeClass.IntLike),
      ColumnMeta("l_linenumber", TypeClass.IntLike),
      ColumnMeta("l_returnflag"),
      ColumnMeta("MissingCol"),
      ColumnMeta("Environment"),
      ColumnMeta("CIGCopyTime"),
      ColumnMeta("CIGProcessed")))
  private val disabledCfg =
    TableConfig("HOST_CIG_Disabled", "Disabled", isEnabled = false,
      columns = Seq(ColumnMeta("l_orderkey")))

  test("ingestion end-to-end: discovery, filters, pipeline, marker idempotency") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val out = Files.createTempDirectory("graft-out").toString
    buildTree(root)

    val cfg = IngestionConfig(
      environments = Seq("NL", "BE"),
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(tableCfg, disabledCfg))
    val ledger = new InMemoryMarkerLedger
    val sink = new IngestionJob.ParquetSink(out)

    val r1 = IngestionJob.run(spark, cfg, ledger, sink)
    // NL/07-03 + BE/07-04 pass every filter; disabled/old/US/unknown don't
    assert(r1.ingested.size == 2, s"ingested: ${r1.ingested}")
    assert(r1.skippedByMarker == 0)
    assert(r1.rowsWritten == 100)

    val written = spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    assert(written.count() == 100)
    assert(written.columns.toSeq == tableCfg.columnNames)
    val envs = written.select("Environment").distinct().collect()
      .map(_.getString(0)).toSet
    assert(envs == Set("NL", "BE"))
    // T1-defaulted column arrives as NULL after P11
    assert(written.filter(written("MissingCol").isNotNull).count() == 0)
    assert(written.select("CIGCopyTime").distinct().head().getString(0)
      == "2019-07-03")

    // second run: everything already marked → no-op
    val r2 = IngestionJob.run(spark, cfg, ledger, sink)
    assert(r2.ingested.isEmpty && r2.skippedByMarker == 2)
    assert(spark.read.parquet(s"$out/HOST_CIG_Lineitem").count() == 100)
  }

  // ------------------------------------------------------------------
  // staged runs: thread contract, failure semantics, job-group inheritance
  // ------------------------------------------------------------------

  private val copyCfg =
    tableCfg.copy(targetName = "HOST_CIG_Linecopy", source = "Linecopy")
  private val RowsPerFile = 25L
  /** The four groups in the order `run` must visit them: sorted by
    * (entity, environment); keys are "target/environment". */
  private val groupOrder = Seq("HOST_CIG_Linecopy/BE", "HOST_CIG_Linecopy/NL",
    "HOST_CIG_Lineitem/BE", "HOST_CIG_Lineitem/NL")

  private def writeFile(dir: String): Unit =
    spark.read.parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet")
      .limit(RowsPerFile.toInt).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Two entities × two environments × two days: four groups of two
    * one-file directories. Returns the tree's root. */
  private def groupTree(): String = {
    val root = Files.createTempDirectory("graft-groups").toString
    for (entity <- Seq("Lineitem", "Linecopy"); env <- Seq("NL", "BE");
         day <- Seq("03", "04"))
      writeFile(s"$root/environment=$env/$entity/2019/07/$day")
    root
  }

  private def groupCfg(root: String) = IngestionConfig(
    environments = Seq("NL", "BE"),
    ingestionDate = LocalDate.of(2019, 7, 3),
    dataFolder = root,
    tables = Seq(tableCfg, copyCfg))

  private def helperAlive: Boolean = Thread.getAllStackTraces.keySet.asScala
    .exists(t => t.getName == "ingest-prepare" && t.isAlive)

  private final class SinkBoom extends RuntimeException("injected sink failure")

  /** Every call into the sink and the ledger, in order, with its thread. */
  private final class Recorder {
    val calls = ArrayBuffer[(String, String, Thread)]()
    def log(kind: String, key: String): Unit =
      synchronized(calls += ((kind, key, Thread.currentThread())))
    def of(kind: String): Seq[String] =
      synchronized(calls.filter(_._1 == kind).map(_._2).toSeq)
  }

  /** Delegating sink that records each write and throws on write
    * number `failAt` (0-based) instead of writing. */
  private final class RecordingSink(inner: IngestionJob.Sink, rec: Recorder,
      failAt: Int = -1) extends IngestionJob.Sink {
    private var n = 0
    val helperSeen = ArrayBuffer[Boolean]()
    override def write(df: DataFrame, config: TableConfig, env: String): Unit = {
      val key = s"${config.targetName}/$env"
      rec.log("write-start", key)
      helperSeen += helperAlive
      if (n == failAt) throw new SinkBoom
      n += 1
      inner.write(df, config, env)
      rec.log("write-end", key)
    }
  }

  private final class RecordingLedger(inner: MarkerLedger, rec: Recorder)
      extends MarkerLedger {
    override def exists(src: String, env: String, table: String): Boolean = {
      rec.log("exists", s"$table/$env")
      inner.exists(src, env, table)
    }
    override def touch(e: MarkerEntry): Unit = {
      rec.log("touch", s"${e.targetTable}/${e.environment}")
      inner.touch(e)
    }
    override def all: Seq[MarkerEntry] = { rec.log("all", ""); inner.all }
  }

  private def markedGroups(ledger: MarkerLedger): Seq[String] =
    ledger.all.map(e => s"${e.targetTable}/${e.environment}").distinct.sorted

  private def sinkRows(out: String): Map[String, Long] =
    Seq(tableCfg, copyCfg).map(_.targetName)
      .filter(t => Files.exists(Paths.get(out, t)))
      .map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap

  test("staged run: sink and ledger are called on the caller's thread, one group at a time, in order") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    val rec = new Recorder
    val sink = new RecordingSink(new IngestionJob.ParquetSink(out), rec)
    val r = IngestionJob.run(spark, groupCfg(root),
      new RecordingLedger(new InMemoryMarkerLedger, rec), sink)
    assert(r.ingested.size == 8 && r.rowsWritten == 8 * RowsPerFile, s"$r")

    val caller = Thread.currentThread()
    assert(rec.calls.forall(_._3 eq caller),
      s"calls off the caller's thread: ${rec.calls.filter(_._3 ne caller)}")
    // the ledger snapshot, then per group: its write, then its two
    // touches (one per file), before the next group's write starts
    val expected = ("all", "") +: groupOrder.flatMap(g => Seq(
      ("write-start", g), ("write-end", g), ("touch", g), ("touch", g)))
    assert(rec.calls.map(c => (c._1, c._2)).toSeq == expected)
    // the preparation helper was up during every write
    assert(sink.helperSeen.toSeq == Seq.fill(4)(true))
    assert(!helperAlive, "helper thread outlived the run")
    assert(sinkRows(out) == Map(
      "HOST_CIG_Linecopy" -> 4 * RowsPerFile, "HOST_CIG_Lineitem" -> 4 * RowsPerFile))
  }

  test("fault injection: a failing sink write stops the run; a re-run writes exactly the missing groups") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    val rec = new Recorder
    val ledger = new InMemoryMarkerLedger
    intercept[SinkBoom] {
      IngestionJob.run(spark, groupCfg(root), new RecordingLedger(ledger, rec),
        new RecordingSink(new IngestionJob.ParquetSink(out), rec, failAt = 2))
    }
    assert(!helperAlive, "helper thread outlived the failed run")
    // groups before the failing one are written and marked; nothing after
    assert(rec.of("write-start") == groupOrder.take(3))
    assert(rec.of("write-end") == groupOrder.take(2))
    assert(markedGroups(ledger) == groupOrder.take(2))
    assert(sinkRows(out) == Map("HOST_CIG_Linecopy" -> 4 * RowsPerFile))

    val r2 = IngestionJob.run(spark, groupCfg(root), ledger,
      new IngestionJob.ParquetSink(out))
    assert(r2.skippedByMarker == 4 && r2.ingested.size == 4, s"$r2")
    assert(r2.ingested.forall(_.contains("/Lineitem/")))
    assert(markedGroups(ledger) == groupOrder)
    // equal to a clean run's rows: no group written twice
    assert(sinkRows(out) == Map(
      "HOST_CIG_Linecopy" -> 4 * RowsPerFile, "HOST_CIG_Lineitem" -> 4 * RowsPerFile))
  }

  test("fault injection: a failing preparation is rethrown unwrapped at its group's turn") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    // Lineitem/BE, the third group, becomes one corrupt parquet file
    val bad = Paths.get(root, "environment=BE/Lineitem/2019/07/03")
    val badFile = bad.resolve("part-0.parquet")
    val walk = Files.walk(Paths.get(root, "environment=BE/Lineitem"))
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
    Files.createDirectories(bad)
    Files.write(badFile, "not a parquet file".getBytes)
    val direct = intercept[Exception](spark.read.parquet(badFile.toString))

    val rec = new Recorder
    val ledger = new InMemoryMarkerLedger
    val e = intercept[Exception] {
      IngestionJob.run(spark, groupCfg(root), new RecordingLedger(ledger, rec),
        new RecordingSink(new IngestionJob.ParquetSink(out), rec))
    }
    assert(e.getClass == direct.getClass, s"not rethrown as the read threw it: $e")
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(!helperAlive, "helper thread outlived the failed run")
    // the failure surfaces before the third write starts
    assert(rec.of("write-start") == groupOrder.take(2))
    assert(rec.of("write-end") == groupOrder.take(2))
    assert(markedGroups(ledger) == groupOrder.take(2))

    // repair the file; the re-run writes the two missing groups only
    Files.delete(badFile)
    writeFile(bad.toString)
    val r2 = IngestionJob.run(spark, groupCfg(root), ledger,
      new IngestionJob.ParquetSink(out))
    assert(r2.skippedByMarker == 4 && r2.ingested.size == 3, s"$r2")
    assert(r2.ingested.forall(_.contains("/Lineitem/")))
    assert(markedGroups(ledger) == groupOrder)
    assert(sinkRows(out) == Map(
      "HOST_CIG_Linecopy" -> 4 * RowsPerFile, "HOST_CIG_Lineitem" -> 3 * RowsPerFile))
  }

  test("staged run: every job, the helper's schema inference included, carries the caller's job group") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    val sc = spark.sparkContext
    val groups = ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    ListenerBusBridge.drain(sc) // earlier tests' events must not reach it
    sc.addSparkListener(listener)
    sc.setJobGroup("ingest-spec", "job-group inheritance")
    try IngestionJob.run(spark, groupCfg(root), new InMemoryMarkerLedger,
      new IngestionJob.ParquetSink(out))
    finally {
      sc.clearJobGroup()
      ListenerBusBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    // per group at least the helper's schema-inference job and the write
    assert(groups.size >= 2 * groupOrder.size, s"jobs: $groups")
    assert(groups.forall(_ == "ingest-spec"), s"jobs outside the group: $groups")
  }

  test("mailbox layout end-to-end: datasource dirs, env from prefix") {
    val root = Files.createTempDirectory("graft-mailbox").toString
    val out = Files.createTempDirectory("graft-mailbox-out").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(30)
    li.write.mode("overwrite")
      .parquet(s"$root/NL_Hosting_Mailbox/Lineitem/2019/07/03")
    li.write.mode("overwrite")
      .parquet(s"$root/BE_Hosting_Mailbox/Lineitem/2019/07/03")
    val cfg = IngestionConfig(
      environments = Seq("NL_Hosting_Mailbox"), // allow-list is by datasource
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(tableCfg))
    val r = IngestionJob.run(spark, cfg, new InMemoryMarkerLedger,
      new IngestionJob.ParquetSink(out), mailbox = true)
    assert(r.rowsWritten == 30 && r.ingested.size == 1, s"$r")
    val written = spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    // environment column is the datasource prefix before '_'
    assert(written.select("Environment").distinct().head().getString(0) == "NL")
  }

  test("CSV source format rides the same layout through the same pipeline") {
    val root = Files.createTempDirectory("graft-csv").toString
    val out = Files.createTempDirectory("graft-csv-out").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(40)
      .selectExpr("l_orderkey", "l_linenumber", "l_returnflag")
    li.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$root/environment=NL/Lineitem/2019/07/03")
    val cfg = IngestionConfig(
      environments = Seq("NL"),
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(tableCfg))
    val r = IngestionJob.run(spark, cfg, new InMemoryMarkerLedger,
      new IngestionJob.ParquetSink(out), format = "csv")
    assert(r.rowsWritten == 40 && r.ingested.size == 1)
    val written = spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    assert(written.count() == 40)
    assert(written.columns.toSeq == tableCfg.columnNames)
    // CSV arrives all-string; the stringly-typed pipeline is agnostic
    assert(written.select("Environment").distinct().head().getString(0) == "NL")
    intercept[IllegalArgumentException] {
      IngestionJob.run(spark, cfg, new InMemoryMarkerLedger,
        new IngestionJob.ParquetSink(out), format = "avro")
    }
  }

  test("ORC source format ingests through the same pipeline") {
    val root = Files.createTempDirectory("graft-orc").toString
    val out = Files.createTempDirectory("graft-orc-out").toString
    spark.read.parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(20)
      .selectExpr("l_orderkey", "l_linenumber", "l_returnflag")
      .write.mode("overwrite").orc(s"$root/environment=NL/Lineitem/2019/07/03")
    val cfg = IngestionConfig(
      environments = Seq("NL"),
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(tableCfg))
    val r = IngestionJob.run(spark, cfg, new InMemoryMarkerLedger,
      new IngestionJob.ParquetSink(out), format = "orc")
    assert(r.rowsWritten == 20 && r.ingested.size == 1)
    assert(spark.read.parquet(s"$out/HOST_CIG_Lineitem").count() == 20)
  }

  test("discovery parses layouts and drops malformed paths") {
    assert(Discovery.parseFilePath(
      "/data/environment=NL/Accounts/2019/12/31/x.parquet", mailbox = false)
      .contains(Discovery.IngestionFile("NL", "Accounts",
        LocalDate.of(2019, 12, 31),
        "/data/environment=NL/Accounts/2019/12/31/x.parquet")))
    // mailbox keeps the FULL datasource (the reference allow-lists on
    // DataSource; T0a shortens to the env prefix inside the pipeline)
    assert(Discovery.parseFilePath(
      "/data/NL_Hosting_Mailbox/BankLinks/2019/12/31/x.parquet",
      mailbox = true).exists(f =>
        f.environment == "NL_Hosting_Mailbox" && f.entity == "BankLinks"))
    assert(Discovery.parseFilePath(
      "/data/badshape/Accounts/2019/12/31/x.parquet", mailbox = false).isEmpty)
    // a stray Hive-partitioned dir with a different key is NOT an env root
    assert(Discovery.parseFilePath(
      "/data/foo=NL/Accounts/2019/07/03/x.parquet", mailbox = false).isEmpty)
    assert(Discovery.parseFilePath(
      "/data/environment=NL/Accounts/2019/xx/31/x.parquet",
      mailbox = false).isEmpty)
  }

  test("discovery of a file:// root keeps the plain root's files, under file://") {
    val root = Files.createTempDirectory("graft-hfs").toString
    buildTree(root)
    val plain = Discovery.discover(root, mailbox = false)
    val uri = Discovery.discover(s"file://$root", mailbox = false)
    def keys(fs: Seq[Discovery.IngestionFile]) =
      fs.map(f => (f.environment, f.entity, f.date))
    // the four `environment=` dirs whose paths parse; badshape is dropped
    assert(plain.nonEmpty && keys(uri) == keys(plain))
    assert(plain.forall(_.path.startsWith(s"$root/environment=")), plain)
    assert(uri.map(_.path) == plain.map("file://" + _.path), uri)
  }

  test("IngestionJob.run ingests from a file:// data root") {
    val root = Files.createTempDirectory("graft-uri").toString
    val out = Files.createTempDirectory("graft-uri-out").toString
    buildTree(root)
    val cfg = IngestionConfig(environments = Seq("NL", "BE"),
      ingestionDate = LocalDate.of(2019, 7, 3), dataFolder = s"file://$root",
      tables = Seq(tableCfg))
    val ledger = new InMemoryMarkerLedger
    val r = IngestionJob.run(spark, cfg, ledger,
      new IngestionJob.ParquetSink(out))
    assert(r.ingested.size == 2 && r.rowsWritten == 100, r)
    assert(spark.read.parquet(s"$out/HOST_CIG_Lineitem").count() == 100)
    // the markers carry the root's own form, so a re-run skips them
    assert(ledger.all.size == 2 &&
      ledger.all.forall(_.parquetSource.startsWith(s"file://$root/")))
    val again = IngestionJob.run(spark, cfg, ledger,
      new IngestionJob.ParquetSink(out))
    assert(again.ingested.isEmpty && again.skippedByMarker == 2, again)
  }

  test("freshness: static and grace exemptions as anti-joins") {
    import spark.implicits._
    val today = LocalDate.of(2024, 2, 1)
    val latest = Seq(
      ("NL", "Fresh", "2024-02-01"),
      ("NL", "StalePlain", "2024-01-01"),
      ("NL", "StaticOk", "2023-06-01"),
      ("NL", "StaticTooOld", "2019-01-01"),
      ("NL", "InGrace", "2024-01-30"),
      ("NL", "PastGrace", "2024-01-20"))
      .toDF("environment", "source_name", "d")
      .selectExpr("environment", "source_name",
        "CAST(d AS DATE) AS latest_date")
    val stale = FreshnessCheck.findStale(spark, latest,
      staticRules = Seq(
        FreshnessCheck.StaticRule("NL", "StaticOk", LocalDate.of(2023, 1, 1)),
        FreshnessCheck.StaticRule("NL", "StaticTooOld", LocalDate.of(2020, 1, 1))),
      graceRules = Seq(
        FreshnessCheck.GraceRule("NL", "InGrace", 7),
        FreshnessCheck.GraceRule("NL", "PastGrace", 7)),
      today = today)
    val names = stale.select("source_name").collect().map(_.getString(0)).toSet
    assert(names == Set("StalePlain", "StaticTooOld", "PastGrace"))
  }

  test("streaming ingestion: the same cleanup pipeline runs under readStream") {
    val root = Files.createTempDirectory("graft-stream-ingest").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(40)
    li.write.mode("overwrite").parquet(s"$root/drop1")
    val schema = spark.read.parquet(s"$root/drop1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$root/drop1")
    val cleaned = graft.transforms.CigTransforms.sentinelsToNull(
      graft.transforms.CigTransforms.pipeline(
        stream, tableCfg, "NL_Hosting", LocalDate.of(2019, 7, 3)))
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("stream_ingest").start()
    try {
      q.processAllAvailable()
      val out = spark.table("stream_ingest")
      assert(out.count() == 40)
      assert(out.columns.toSeq == tableCfg.columnNames)
      assert(out.select("Environment").distinct().head().getString(0) == "NL")
    } finally q.stop()
  }

  test("config JSON round-trip with typed column specs") {
    val tables = JsonConfig.parseTables(
      """[{"target_name": "HOST_CIG_T", "source": "T", "is_enabled": true,
        |  "columns": ["ID:str:notnull", "Amount:int", "Created:datetime",
        |              "Notes:text", "Plain"]}]""".stripMargin)
    assert(tables.head.columns == Seq(
      ColumnMeta("ID", TypeClass.Str, nullable = false),
      ColumnMeta("Amount", TypeClass.IntLike),
      ColumnMeta("Created", TypeClass.DateTime),
      ColumnMeta("Notes", TypeClass.TextMax),
      ColumnMeta("Plain")))
    val cfg = JsonConfig.parseIngestionConfig(
      """{"environments": ["NL", "BE"], "ingestion_date": "2019-07-03",
        |"data_folder": "/tmp/x"}""".stripMargin, tables)
    assert(cfg.environments == Seq("NL", "BE"))
    assert(cfg.enabledTables.size == 1)
    intercept[IllegalArgumentException] {
      JsonConfig.parseTables("[]")
    }
  }
}
