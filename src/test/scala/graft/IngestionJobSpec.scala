package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.plans.{FreshnessCheck, IngestionJob}
import graft.sources.{Discovery, InMemoryMarkerLedger, MarkerEntry, MarkerLedger}

/** End-to-end ingestion over a synthetic partitioned tree (FIXTURES §1):
  * two environments, a disabled table, an out-of-date file, a malformed
  * path — run twice to prove marker idempotency. */
class IngestionJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  /** Each file's `l_returnflag` is its environment's T0a value, so a
    * sink row whose `Environment` differs from it came from another
    * environment's file. */
  private def buildTree(root: String): Unit = {
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(50)
    def drop(rel: String): Unit =
      li.withColumn("l_returnflag",
          lit(rel.split('/').head.stripPrefix("environment=")))
        .write.mode("overwrite").parquet(s"$root/$rel")
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
    assertOwnEnvironment(written)
    // T1-defaulted column arrives as NULL after P11
    assert(written.filter(written("MissingCol").isNotNull).count() == 0)
    assert(written.select("CIGCopyTime").distinct().head().getString(0)
      == "2019-07-03")

    // second run: everything already marked → no-op
    val r2 = IngestionJob.run(spark, cfg, ledger, sink)
    assert(r2.ingested.isEmpty && r2.skippedByMarker == 2)
    assert(spark.read.parquet(s"$out/HOST_CIG_Lineitem").count() == 100)
  }

  /** Every row's `Environment` is the one its file's `l_returnflag`
    * was written with. */
  private def assertOwnEnvironment(written: DataFrame): Unit = {
    val wrong = written.filter(written("Environment") =!= written("l_returnflag"))
    assert(wrong.isEmpty, s"rows under another environment: ${wrong.collect().take(5).toSeq}")
  }

  // ------------------------------------------------------------------
  // staged runs: thread contract, failure semantics, job-group inheritance;
  // a run's unit of work ("group") is one target table
  // ------------------------------------------------------------------

  private val copyCfg =
    tableCfg.copy(targetName = "HOST_CIG_Linecopy", source = "Linecopy")
  private val partCfg =
    tableCfg.copy(targetName = "HOST_CIG_Linepart", source = "Linepart")
  private val RowsPerFile = 25L
  /** The three tables in the order `run` must visit them: sorted by
    * entity. */
  private val tableOrder =
    Seq("HOST_CIG_Linecopy", "HOST_CIG_Lineitem", "HOST_CIG_Linepart")
  /** A table's sink key, "target/environments": one write per table
    * names both of its environments. */
  private def writeKey(table: String) = s"$table/BE,NL"
  /** A table's marker keys, "target/environment", one per environment. */
  private def markerKeys(table: String) = Seq(s"$table/BE", s"$table/NL")

  private def writeFile(dir: String): Unit =
    spark.read.parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet")
      .limit(RowsPerFile.toInt).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Three entities × two environments × two days: three tables of four
    * one-file directories. Returns the tree's root. */
  private def groupTree(): String = {
    val root = Files.createTempDirectory("graft-groups").toString
    for (entity <- Seq("Lineitem", "Linecopy", "Linepart"); env <- Seq("NL", "BE");
         day <- Seq("03", "04"))
      writeFile(s"$root/environment=$env/$entity/2019/07/$day")
    root
  }

  private def groupCfg(root: String) = IngestionConfig(
    environments = Seq("NL", "BE"),
    ingestionDate = LocalDate.of(2019, 7, 3),
    dataFolder = root,
    tables = Seq(tableCfg, copyCfg, partCfg))

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
    tableOrder.filter(t => Files.exists(Paths.get(out, t)))
      .map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap

  private val fullSink = tableOrder.map(_ -> 4 * RowsPerFile).toMap

  test("staged run: sink and ledger are called on the caller's thread, one group at a time, in order") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    val rec = new Recorder
    val sink = new RecordingSink(new IngestionJob.ParquetSink(out), rec)
    val r = IngestionJob.run(spark, groupCfg(root),
      new RecordingLedger(new InMemoryMarkerLedger, rec), sink)
    assert(r.ingested.size == 12 && r.rowsWritten == 12 * RowsPerFile, s"$r")

    val caller = Thread.currentThread()
    assert(rec.calls.forall(_._3 eq caller),
      s"calls off the caller's thread: ${rec.calls.filter(_._3 ne caller)}")
    // the ledger snapshot, then per table: its one write, then its four
    // touches (one per file, in environment order), before the next
    // table's write starts
    val expected = ("all", "") +: tableOrder.flatMap(t =>
      Seq(("write-start", writeKey(t)), ("write-end", writeKey(t))) ++
        markerKeys(t).flatMap(m => Seq(("touch", m), ("touch", m))))
    assert(rec.calls.map(c => (c._1, c._2)).toSeq == expected)
    // the preparation helper was up during every write
    assert(sink.helperSeen.toSeq == Seq.fill(3)(true))
    assert(!helperAlive, "helper thread outlived the run")
    assert(sinkRows(out) == fullSink)
  }

  test("fault injection: a failing sink write stops the run; a re-run writes exactly the missing groups") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    val rec = new Recorder
    val ledger = new InMemoryMarkerLedger
    intercept[SinkBoom] {
      IngestionJob.run(spark, groupCfg(root), new RecordingLedger(ledger, rec),
        new RecordingSink(new IngestionJob.ParquetSink(out), rec, failAt = 1))
    }
    assert(!helperAlive, "helper thread outlived the failed run")
    // the table before the failing one is written and marked; the
    // failing table and the one after it are neither
    assert(rec.of("write-start") == tableOrder.take(2).map(writeKey))
    assert(rec.of("write-end") == tableOrder.take(1).map(writeKey))
    assert(markedGroups(ledger) == markerKeys(tableOrder.head))
    assert(sinkRows(out) == Map(tableOrder.head -> 4 * RowsPerFile))

    val r2 = IngestionJob.run(spark, groupCfg(root), ledger,
      new IngestionJob.ParquetSink(out))
    assert(r2.skippedByMarker == 4 && r2.ingested.size == 8, s"$r2")
    assert(r2.ingested.forall(!_.contains("/Linecopy/")))
    assert(markedGroups(ledger) == tableOrder.flatMap(markerKeys))
    // equal to a clean run's rows: no table written twice
    assert(sinkRows(out) == fullSink)
  }

  test("fault injection: a failing preparation is rethrown unwrapped at its group's turn") {
    val root = groupTree()
    val out = Files.createTempDirectory("graft-groups-out").toString
    // Lineitem's BE files, in the second table, become one corrupt
    // parquet file
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
    // the failure surfaces before the second write starts; none of the
    // failed table's files is marked, the NL ones included
    assert(rec.of("write-start") == tableOrder.take(1).map(writeKey))
    assert(rec.of("write-end") == tableOrder.take(1).map(writeKey))
    assert(markedGroups(ledger) == markerKeys(tableOrder.head))

    // repair the file; the re-run writes the two missing tables only
    Files.delete(badFile)
    writeFile(bad.toString)
    val r2 = IngestionJob.run(spark, groupCfg(root), ledger,
      new IngestionJob.ParquetSink(out))
    assert(r2.skippedByMarker == 4 && r2.ingested.size == 7, s"$r2")
    assert(r2.ingested.forall(!_.contains("/Linecopy/")))
    assert(markedGroups(ledger) == tableOrder.flatMap(markerKeys))
    assert(sinkRows(out) == fullSink.updated("HOST_CIG_Lineitem", 3 * RowsPerFile))
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
    // per table the helper's schema-inference job and the write
    assert(groups.size >= 2 * tableOrder.size, s"jobs: $groups")
    assert(groups.forall(_ == "ingest-spec"), s"jobs outside the group: $groups")
  }

  test("mailbox layout end-to-end: datasource dirs, env from prefix") {
    val root = Files.createTempDirectory("graft-mailbox").toString
    val out = Files.createTempDirectory("graft-mailbox-out").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(30)
    // the second datasource's name needs URI escapes (space, '+', '%')
    val sources = Seq("NL_Hosting_Mailbox" -> "NL", "B E_Hosting+%41" -> "B E",
      "DE_Hosting_Mailbox" -> "DE")
    for ((ds, short) <- sources)
      li.withColumn("l_returnflag", lit(short)).write.mode("overwrite")
        .parquet(s"$root/$ds/Lineitem/2019/07/03")
    val cfg = IngestionConfig(
      // allow-list is by datasource
      environments = Seq("NL_Hosting_Mailbox", "B E_Hosting+%41"),
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(tableCfg))
    val r = IngestionJob.run(spark, cfg, new InMemoryMarkerLedger,
      new IngestionJob.ParquetSink(out), mailbox = true)
    assert(r.rowsWritten == 60 && r.ingested.size == 2, s"$r")
    val written = spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    // environment column is the datasource prefix before '_', per row
    assert(written.groupBy("Environment").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap == Map("NL" -> 30, "B E" -> 30))
    assertOwnEnvironment(written)
  }

  test("one read per table: a column only one environment's files carry gets each row its own environment's value") {
    val root = Files.createTempDirectory("graft-merge").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(40)
      .selectExpr("l_orderkey", "l_linenumber", "l_returnflag")
    // BE, whose files are read first, lacks the three extra columns; NL
    // carries them
    li.write.mode("overwrite").parquet(s"$root/environment=BE/Lineitem/2019/07/03")
    li.selectExpr("*", "concat('m-', l_orderkey) AS MissingCol",
        "concat('r-', l_linenumber) AS ReqCol", "concat(l_linenumber, '.0') AS NumCol")
      .write.mode("overwrite").parquet(s"$root/environment=NL/Lineitem/2019/07/04")
    val cfg = tableCfg.copy(columns = tableCfg.columns ++ Seq(
      ColumnMeta("ReqCol", TypeClass.Str, nullable = false),
      ColumnMeta("NumCol", TypeClass.IntLike)))
    def ingest(envs: Seq[String]): DataFrame = {
      val out = Files.createTempDirectory("graft-merge-out").toString
      IngestionJob.run(spark, IngestionConfig(envs, LocalDate.of(2019, 7, 3),
        root, Seq(cfg)), new InMemoryMarkerLedger, new IngestionJob.ParquetSink(out))
      spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    }
    val both = ingest(Seq("NL", "BE"))
    // what a run over each environment alone writes
    val apart = ingest(Seq("NL")).unionByName(ingest(Seq("BE")))
    assert(both.count() == 80)
    assert(both.exceptAll(apart).isEmpty && apart.exceptAll(both).isEmpty)
    val be = both.filter(col("Environment") === "BE")
    val nl = both.filter(col("Environment") === "NL")
    // BE: the T1 default (NULL after P11), T4's "" for the non-nullable
    assert(be.count() == 40 && be.filter(col("MissingCol").isNotNull ||
      col("NumCol").isNotNull || col("ReqCol") =!= "").isEmpty)
    // NL: its own values, through T2
    assert(nl.filter(col("MissingCol") === concat(lit("m-"), col("l_orderkey")) &&
      col("ReqCol") === concat(lit("r-"), col("l_linenumber")) &&
      col("NumCol") === col("l_linenumber")).count() == 40)
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

  test("CSV: a table whose environments' headers differ fails whole; no cell lands under another column") {
    val root = Files.createTempDirectory("graft-csv-headers").toString
    val out = Files.createTempDirectory("graft-csv-headers-out").toString
    val li = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(20)
    li.selectExpr("l_orderkey", "l_linenumber", "l_returnflag").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .csv(s"$root/environment=BE/Lineitem/2019/07/03")
    // same column count, another order: read positionally under the
    // first file's header, NL's l_returnflag would land in l_orderkey
    li.selectExpr("l_returnflag", "l_orderkey", "l_linenumber").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .csv(s"$root/environment=NL/Lineitem/2019/07/03")
    val ledger = new InMemoryMarkerLedger
    val e = intercept[Exception] {
      IngestionJob.run(spark, IngestionConfig(Seq("NL", "BE"),
        LocalDate.of(2019, 7, 3), root, Seq(tableCfg)), ledger,
        new IngestionJob.ParquetSink(out), format = "csv")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(messages.contains("CSV header"), messages)
    assert(ledger.all.isEmpty)
    // the aborted write left no data file behind
    val walk = Files.walk(Paths.get(out))
    try assert(!walk.iterator.asScala.exists(_.toString.endsWith(".parquet")))
    finally walk.close()
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
    val written = spark.read.parquet(s"$out/HOST_CIG_Lineitem")
    assert(written.count() == 100)
    assert(written.select("Environment").distinct().count() == 2)
    assertOwnEnvironment(written)
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
