package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{ColumnMeta, IngestionConfig, TableConfig, TypeClass}
import graft.plans.IngestionJob
import graft.sources.{Discovery, FileMarkerLedger, MarkerEntry, MarkerLedger}
import graft.transforms.CigTransforms

/** The paper's own job on the CLI's path: `IngestionJob.run` with a
  * `FileMarkerLedger` and a `ParquetSink`, as `IngestMain` wires them.
  *
  * Input: a tree `environment=<ENV>/<Entity>/yyyy/MM/dd/<file>.parquet`.
  * Four environments, one not allow-listed; one disabled entity; files
  * dated before the ingestion date; two malformed paths. Cells are
  * strings, a share in the reference's dirty forms (`NaT`/`nan`,
  * `True`/`False`, `1.0`, sci-notation); the table configs give every
  * T0–T8 branch a column. Each entity has its sf0.1 test table's row count
  * times [[IngestWorkload.Scale]]. A fixed content seed gives every row its
  * cells, its environment and whether it is dated before the ingestion
  * date, in the backfill days or in the daily days; `--seed` picks its day
  * within those, so each run's files and rows depend on the seed and the
  * sink's final content does not, and can be pinned.
  *
  * A pass starts from a fresh ledger and sink: one backfill of the first
  * days (most of the rows), then one daily run per later day, each after
  * that day's files are dropped into the tree (untimed). A daily run
  * includes loading the ledger file. Each run's rows and files are checked
  * against the generator's prediction; after every pass (untimed) each
  * sink table's checksum over its cells, the marker count and a no-op
  * re-run are checked too; a failed sink check fails the pass's runs. */
final class IngestWorkload(spark: SparkSession, tracer: Tracer, seed: Long,
    pins: Map[String, String]) extends Workload {
  import IngestWorkload._

  private var root: Path = _
  private var tree: Path = _
  private var dayStage: Path = _
  /** Rows per (entity, environment, day) file, as generated. */
  private var rows: Map[(String, String, Int), Long] = Map.empty

  final case class Op(kind: String, seconds: Double, rows: Long, ok: Boolean)
  private val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
  private val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var measuredFrom = 0
  private var checkFailures = 0
  private var passNo = 0
  /** Checksum of each sink table after the latest pass. */
  private var sinkSums: Map[String, String] = Map.empty

  private def config: IngestionConfig = IngestionConfig(
    environments = Allowed, ingestionDate = IngestionDate,
    dataFolder = tree.toString, tables = Entities.map(_.config))

  // ------------------------------------------------------------------
  // input generation
  // ------------------------------------------------------------------

  def generate(dir: String): Unit = {
    root = Paths.get(dir)
    tree = root.resolve("tree")
    dayStage = root.resolve("days")
    // one thread per entity; each entity's files depend only on its seeds
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perEntity = Entities.zipWithIndex.map { case (e, ei) =>
      Future(generateEntity(e, ei))
    }
    rows = perEntity.flatMap(Await.result(_, Duration.Inf)).toMap
    // malformed paths: no `environment=` head, and an impossible date
    val sample = tree.resolve(relDir("NL", "Lineitem", 1)).resolve("part-0.parquet")
    for (bad <- Seq("badshape/Lineitem/2024/01/02", "environment=NL/Lineitem/2024/13/02")) {
      Files.createDirectories(tree.resolve(bad))
      Files.copy(sample, tree.resolve(bad).resolve("part-0.parquet"))
    }
  }

  /** Writes one entity's files; returns the rows per (entity,
    * environment, day) file. */
  private def generateEntity(e: Entity, ei: Int): Map[(String, String, Int), Long] = {
    val content = new java.util.SplittableRandom(ContentSeed * 31 + ei)
    val days = new java.util.SplittableRandom(seed * 31 + ei)
    val writers = scala.collection.mutable.Map.empty[(String, Int), ParquetOut.Writer]
    val counts = scala.collection.mutable.Map.empty[(String, String, Int), Long]
    try for (_ <- 0 until e.rows) {
      val (env, part, cells) = e.row(content)
      val day = part match {
        case Before => 0
        case Backfill => 1 + days.nextInt(BackfillDays)
        case Daily => 1 + BackfillDays + days.nextInt(DailyDays)
      }
      writers.getOrElseUpdate((env, day), {
        val target = (if (day <= BackfillDays) tree else dayStage)
          .resolve(relDir(env, e.name, day))
        Files.createDirectories(target)
        new ParquetOut.Writer(target.resolve("part-0.parquet"), e.schema)
      }).add(cells)
      counts((e.name, env, day)) = counts.getOrElse((e.name, env, day), 0L) + 1
    } finally writers.values.foreach(_.close())
    counts.toMap
  }

  // ------------------------------------------------------------------
  // passes
  // ------------------------------------------------------------------

  /** A backfill and the first daily run, unchecked: every code path of a
    * pass, at about half its cost. */
  def warmUp(): Unit = runPass(dailyRuns = 1, check = false)

  def startMeasuring(): Unit = {
    measuredFrom = ops.size
    passWalls.clear()
  }

  def pass(): Double = runPass(DailyDays, check = true)

  private def runPass(dailyRuns: Int, check: Boolean): Double = {
    passNo += 1
    val out = root.resolve(s"out-$passNo")
    val sinkRoot = out.resolve("sink")
    val markers = out.resolve("_marker.tsv")
    // back to the backfill state: later days' files leave the tree
    for (day <- BackfillDays + 1 until Days) moveDay(day, tree, dayStage)
    var wall = 0.0
    var written = 0L
    val firstOp = ops.size
    tracer.span("pass") {
      val (s, r) = ingest("backfill", 1 to BackfillDays, sinkRoot, markers)
      wall += s; written += r
      for (day <- BackfillDays + 1 to BackfillDays + dailyRuns) {
        moveDay(day, dayStage, tree)
        val (s, r) = ingest("daily", Seq(day), sinkRoot, markers)
        wall += s; written += r
      }
    }
    passWalls += wall
    // a failed sink check fails every run of the pass: they wrote the sink
    if (check && tracer.span("check")(checkSink(sinkRoot, markers, written)) > 0)
      for (i <- firstOp until ops.size) ops(i) = ops(i).copy(ok = false)
    if (passNo > 1) deleteTree(root.resolve(s"out-${passNo - 1}"))
    wall
  }

  /** Moves `day`'s files from one root (the tree or the staging area) to
    * the other. */
  private def moveDay(day: Int, from: Path, to: Path): Unit =
    for (env <- Envs; e <- Entities) {
      val src = from.resolve(relDir(env, e.name, day))
      if (Files.exists(src)) {
        val dst = to.resolve(relDir(env, e.name, day))
        Files.createDirectories(dst)
        parquetFiles(src).foreach(f => Files.move(f, dst.resolve(f.getFileName)))
      }
    }

  /** One timed `IngestionJob.run` over `days`' eligible files. Returns
    * (seconds, rows written); a run that threw keeps its seconds. */
  private def ingest(kind: String, days: Seq[Int], sinkRoot: Path,
      markers: Path): (Double, Long) = {
    val cfg = config
    if (tracer.enabled) probeLayers(cfg)
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span("ingest_run", "kind" -> kind) {
        val ledger: MarkerLedger = tracer.span("ledger.load")(new FileMarkerLedger(markers))
        val sink: IngestionJob.Sink = new IngestionJob.ParquetSink(sinkRoot.toString)
        val report =
          if (tracer.enabled)
            IngestionJob.run(spark, cfg, new TracedLedger(ledger, tracer),
              new TracedSink(sink, tracer, sinkRoot))
          else IngestionJob.run(spark, cfg, ledger, sink)
        tracer.annotate("discovered", report.discovered)
        tracer.annotate("ingested", report.ingested.size)
        tracer.annotate("rows", report.rowsWritten)
        report
      })
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val ok = result match {
      case Right(r) =>
        val wantRows = eligibleRows(days)
        val wantFiles = eligibleFiles(days)
        val good = r.rowsWritten == wantRows && r.ingested.size == wantFiles
        if (!good) println(s"[perfbench] FAILED $kind days=${days.mkString(",")}: " +
          s"rows ${r.rowsWritten} (want $wantRows), files ${r.ingested.size} (want $wantFiles)")
        good
      case Left(err) =>
        println(s"[perfbench] FAILED $kind: $err"); false
    }
    val written = result.toOption.fold(0L)(_.rowsWritten)
    ops += Op(kind, sec, written, ok)
    if (!ok) checkFailures += 1
    (sec, written)
  }

  /** Untimed output checks after a pass: every target table holds the
    * predicted eligible rows and the pinned checksum over its cells (all
    * columns but the run-time `CIGCopyTime` and `CIGProcessed`), the
    * ledger holds one marker per eligible file, the sink holds exactly
    * what the runs reported (no duplicates) and a re-run over the
    * unchanged tree writes nothing. Returns the number of problems. */
  private def checkSink(sinkRoot: Path, markers: Path, written: Long): Int = {
    val allDays = 1 until Days
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var total = 0L
    sinkSums = Entities.filter(_.enabled).map { e =>
      val table = e.config.targetName
      val path = sinkRoot.resolve(table)
      val sum =
        if (!Files.exists(path)) "0"
        else QueryWorkload.checksum(
          spark.read.parquet(path.toString).drop(RunTimeColumns: _*))
      val n = sum.takeWhile(_ != ':').toLong
      total += n
      val want = eligibleRows(allDays, Some(e.name))
      if (n != want) problems += s"$table has $n rows, want $want"
      pins.get(table) match {
        case Some(p) if p == sum => ()
        case Some(p) => problems += s"$table checksum $sum != pinned $p"
        case None => problems += s"$table has no pinned checksum"
      }
      table -> sum
    }.toMap
    if (total != written) problems += s"sink holds $total rows, runs reported $written"
    val nMarkers = new FileMarkerLedger(markers).all.size
    if (nMarkers != eligibleFiles(allDays))
      problems += s"$nMarkers markers, want ${eligibleFiles(allDays)}"
    val rerun = IngestionJob.run(spark, config, new FileMarkerLedger(markers),
      new IngestionJob.ParquetSink(sinkRoot.toString))
    if (rerun.rowsWritten != 0) problems += s"re-run wrote ${rerun.rowsWritten} rows"
    problems.foreach(p => println(s"[perfbench] FAILED sink check: $p"))
    checkFailures += problems.size
    problems.size
  }

  private def eligibleKeys(days: Seq[Int], entity: Option[String]) =
    rows.filter { case ((e, env, day), n) =>
      n > 0 && days.contains(day) && Allowed.contains(env) &&
        Entities.exists(x => x.name == e && x.enabled) && entity.forall(_ == e)
    }
  private def eligibleRows(days: Seq[Int], entity: Option[String] = None): Long =
    eligibleKeys(days, entity).values.sum
  private def eligibleFiles(days: Seq[Int]): Int = eligibleKeys(days, None).size

  // ------------------------------------------------------------------
  // tracing: layer probes outside the timed runs
  // ------------------------------------------------------------------

  /** Times `Discovery.discover` and, for one group per enabled entity,
    * building `CigTransforms.pipeline` + `sentinelsToNull` and its
    * executed plan. These calls are outside the `ingest_run` span, so
    * they add nothing to the run's own numbers. */
  private def probeLayers(cfg: IngestionConfig): Unit =
    tracer.span("probe") {
      val t0 = System.nanoTime()
      val files = Discovery.discover(cfg.dataFolder, mailbox = false)
      tracer.annotate("discover_s", (System.nanoTime() - t0) / 1e9)
      tracer.annotate("files_discovered", files.size)
      val builds = Entities.filter(_.enabled).flatMap { e =>
        files.find(f => f.entity == e.name && Allowed.contains(f.environment))
          .map { f =>
            val raw = spark.read.parquet(f.path)
            val t1 = System.nanoTime()
            CigTransforms.sentinelsToNull(
              CigTransforms.pipeline(raw, e.config, f.environment, cfg.ingestionDate))
              .queryExecution.executedPlan
            (System.nanoTime() - t1) / 1e6
          }
      }
      tracer.annotate("pipeline_build_ms", Stats.median(builds))
    }

  // ------------------------------------------------------------------
  // results
  // ------------------------------------------------------------------

  private def measured: Seq[Op] = ops.drop(measuredFrom).toSeq
  def attempted: Int = measured.size
  def failed: Int = measured.count(!_.ok)
  def checksFailed: Int = checkFailures
  def fixture: String = FixtureId
  def checksums: Map[String, String] = sinkSums

  def endToEnd: Map[String, Double] = {
    val backfill = measured.filter(_.kind == "backfill")
    val daily = measured.filter(_.kind == "daily")
    Map(
      "suite_s" -> Stats.median(passWalls.toSeq),
      "op_geomean_s" -> Stats.geomean(Seq(
        Stats.median(backfill.map(_.seconds)), Stats.median(daily.map(_.seconds)))),
      "ingest_rows_per_s" -> Stats.median(backfill.map(o => o.rows / o.seconds)),
      "daily_s" -> Stats.median(daily.map(_.seconds)))
  }

  def samples: Seq[(String, Any)] = {
    val e = endToEnd
    val backfill = measured.filter(_.kind == "backfill")
    Seq(
      "ingest_rows_per_s" -> e("ingest_rows_per_s"), "daily_s" -> e("daily_s"),
      "backfill_s" -> Stats.median(backfill.map(_.seconds)),
      "backfill_over_daily_s" -> Stats.median(backfill.map(_.seconds)) / e("daily_s"),
      "pass_s" -> passWalls.toSeq,
      "runs" -> measured.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
        "rows" -> o.rows, "ok" -> o.ok)))
  }

  def perLayer(cores: Int): Map[String, Double] = {
    val spans = tracer.all
    val passes = spans.filter(_.name == "pass").drop(1) // the first is the warm-up
    val passIds = passes.map(_.id).toSet
    def inMeasured(s: Span) = tracer.ancestor(s, "pass").exists(p => passIds(p.id))
    val runs = spans.filter(s => s.name == "ingest_run" && inMeasured(s))
    val runIds = runs.map(_.id).toSet
    def under(name: String) = spans.filter(s => s.name == name &&
      tracer.ancestor(s, "ingest_run").exists(r => runIds(r.id)))
    val probes = spans.filter(s => s.name == "probe" && inMeasured(s))
    val n = math.max(runs.size, 1).toDouble
    def attr(ss: Seq[Span], k: String): Seq[Double] =
      ss.flatMap(_.attrs.get(k)).map(_.toString.toDouble)
    val sinkS = under("sink.write").map(_.seconds).sum
    val ledgerS = Seq("ledger.load", "ledger.all", "ledger.touch")
      .map(k => under(k).map(_.seconds).sum).sum
    val discovered = attr(runs, "discovered").sum
    tracer.sparkLayer(runs, "ingest_run", runs.size, runs.map(_.seconds).sum, cores) ++
      Map(
        "sources.discover_s" -> Stats.median(attr(probes, "discover_s")),
        "sources.files_discovered" -> Stats.median(attr(probes, "files_discovered")),
        "sources.ledger_load_s" -> under("ledger.load").map(_.seconds).sum / n,
        "sources.ledger_all_s" -> under("ledger.all").map(_.seconds).sum / n,
        "sources.ledger_touch_s" -> under("ledger.touch").map(_.seconds).sum / n,
        "sources.ledger_touches" -> under("ledger.touch").size / n,
        "sources.ingested_per_discovered" ->
          (if (discovered > 0) attr(runs, "ingested").sum / discovered else 0.0),
        "transforms.pipeline_build_ms" -> Stats.median(attr(probes, "pipeline_build_ms")),
        "plans.sink_write_s" -> sinkS / n,
        "plans.groups" -> under("sink.write").size / n,
        "plans.rows_written" -> attr(runs, "rows").sum / n,
        "plans.output_bytes" -> attr(under("sink.write"), "bytes").sum / n,
        "plans.run_other_s" -> (runs.map(_.seconds).sum - sinkS - ledgerS) / n)
  }
}

/** Delegating ledger that records a span around each call. */
final class TracedLedger(inner: MarkerLedger, tracer: Tracer) extends MarkerLedger {
  override def exists(src: String, env: String, table: String): Boolean =
    inner.exists(src, env, table)
  override def touch(e: MarkerEntry): Unit = tracer.span("ledger.touch")(inner.touch(e))
  override def all: Seq[MarkerEntry] = tracer.span("ledger.all")(inner.all)
}

/** Delegating sink that records a span, and the bytes the write added,
  * around each call. */
final class TracedSink(inner: IngestionJob.Sink, tracer: Tracer, root: Path)
    extends IngestionJob.Sink {
  override def write(df: DataFrame, config: TableConfig, environment: String): Unit =
    tracer.span("sink.write", "table" -> config.targetName, "env" -> environment) {
      val before = IngestWorkload.bytesUnder(root)
      inner.write(df, config, environment)
      tracer.annotate("bytes", IngestWorkload.bytesUnder(root) - before)
    }
}

object IngestWorkload {
  val Envs = Seq("NL", "BE", "DE", "US")
  val Allowed = Seq("NL", "BE", "DE")
  /** Day 0 is before the ingestion date; days 1..BackfillDays are the
    * backfill; each later day is one daily run. */
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val IngestionDate: LocalDate = Day0.plusDays(1)
  val BackfillDays = 3
  val DailyDays = 2
  val Days: Int = 1 + BackfillDays + DailyDays
  /** Seed of the cells, environments and parts of the rows; fixed, so
    * that the sink's content can be pinned. */
  val ContentSeed = 7L
  /** An entity has its sf0.1 test table's row count times this. */
  val Scale = 1.0
  /** Shares of the rows dated before the ingestion date and in the daily
    * days; the rest are the backfill's. */
  val BeforeShare = 0.04
  val DailyShare = 0.08
  /** Share of cells replaced by `NaT` / `nan`. */
  val DirtyShare = 0.02
  /** Sink columns whose values depend on the run, left out of checksums. */
  val RunTimeColumns = Seq("CIGCopyTime", "CIGProcessed")

  /** Which days a row can be assigned to. */
  sealed trait Part
  case object Before extends Part
  case object Backfill extends Part
  case object Daily extends Part

  /** Source column kinds: how a cell is generated and which target type
    * class (hence which transform) it gets. */
  sealed abstract class Kind(val typeClass: TypeClass, val nullable: Boolean = true)
  case object IntCol extends Kind(TypeClass.IntLike)
  case object IntNotNull extends Kind(TypeClass.IntLike, nullable = false)
  case object SciCol extends Kind(TypeClass.IntLike)
  case object DateTimeCol extends Kind(TypeClass.DateTime)
  case object TextCol extends Kind(TypeClass.TextMax)
  case object StrCol extends Kind(TypeClass.Str)
  case object BoolCol extends Kind(TypeClass.Str)
  case object FloatCol extends Kind(TypeClass.Str)

  final case class Entity(name: String, sf01Rows: Int, enabled: Boolean,
      cols: Seq[(String, Kind)], missing: Seq[ColumnMeta] = Nil) {
    val rows: Int = math.round(sf01Rows * Scale).toInt

    def config: TableConfig = TableConfig(s"HOST_CIG_$name", name, enabled,
      cols.map { case (c, k) => ColumnMeta(c, k.typeClass, k.nullable) } ++ missing ++
        Seq(ColumnMeta("Environment"), ColumnMeta("CIGCopyTime"), ColumnMeta("CIGProcessed")))

    /** The next row: its environment, its part and its cells, all
      * strings. */
    def row(rng: java.util.SplittableRandom): (String, Part, Seq[String]) = {
      val env = Envs(rng.nextInt(Envs.size))
      val p = rng.nextDouble()
      val part = if (p < BeforeShare) Before else if (p < BeforeShare + DailyShare) Daily else Backfill
      val cells = cols.map { case (c, kind) =>
        val v = rng.nextInt(1000000)
        val u = rng.nextInt(100)
        val clean = kind match {
          case IntCol | IntNotNull => if (u < 10) s"$v.0" else v.toString
          case SciCol =>
            if (u < 15) String.format(java.util.Locale.ROOT, "%.6e", Double.box(v * 1000.0 + 7))
            else v.toString
          case DateTimeCol =>
            s"${Dates(v % Dates.size)} ${pad(v % 24, 2)}:${pad(v % 60, 2)}:" +
              s"${pad(v / 60 % 60, 2)}.${pad(rng.nextInt(10000000), 7)}"
          case TextCol => s"$name $v" + " lorem ipsum" * (1 + u % 8)
          case StrCol => s"${c.take(3).toUpperCase}-${u % 7}"
          case BoolCol => if (u < 50) "True" else "False"
          case FloatCol => s"${v / 100}.${pad(v % 100, 2)}"
        }
        val dirty = rng.nextDouble()
        if (dirty < DirtyShare / 2) "NaT" else if (dirty < DirtyShare) "nan" else clean
      }
      (env, part, cells)
    }

    lazy val schema = ParquetOut.schema(name, cols.map(c => ParquetOut.string(c._1)): _*)
  }

  /** The dates of `DateTime` cells: the 60 days before day 0. */
  private val Dates: IndexedSeq[String] = (0 until 60).map(d => Day0.minusDays(d).toString)

  /** `n` left-padded with zeros to `width` digits. */
  private def pad(n: Int, width: Int): String = {
    val d = n.toString
    if (d.length >= width) d else "0" * (width - d.length) + d
  }

  /** Row counts are those of the sf0.1 test tables `lineitem`, `orders`,
    * `customer`, `events` and `part`. */
  val Entities: Seq[Entity] = Seq(
    Entity("Lineitem", 600000, enabled = true, Seq(
      "l_orderkey" -> IntCol, "l_partkey" -> SciCol, "l_linenumber" -> IntNotNull,
      "l_quantity" -> FloatCol, "l_returnflag" -> StrCol, "l_shipdate" -> DateTimeCol,
      "l_comment" -> TextCol, "l_is_return" -> BoolCol),
      missing = Seq(ColumnMeta("l_receiptdate", TypeClass.DateTime),
        ColumnMeta("l_commitflag", TypeClass.Str, nullable = false))),
    Entity("Orders", 150000, enabled = true, Seq(
      "o_orderkey" -> IntNotNull, "o_custkey" -> SciCol, "o_totalprice" -> FloatCol,
      "o_orderdate" -> DateTimeCol, "o_orderpriority" -> StrCol, "o_comment" -> TextCol),
      missing = Seq(ColumnMeta("o_clerk"))),
    Entity("Customer", 15000, enabled = true, Seq(
      "c_custkey" -> IntNotNull, "c_name" -> StrCol, "c_nationkey" -> IntCol,
      "c_acctbal" -> FloatCol, "c_active" -> BoolCol, "Geolocation" -> StrCol,
      "Logo" -> StrCol),
      missing = Seq(ColumnMeta("c_phone", TypeClass.Str, nullable = false))),
    Entity("Events", 100000, enabled = true, Seq(
      "event_id" -> IntNotNull, "ts" -> DateTimeCol, "user_id" -> SciCol,
      "event_type" -> StrCol, "value" -> FloatCol, "props" -> TextCol,
      "is_bot" -> BoolCol)),
    Entity("Parts", 20000, enabled = false, Seq(
      "p_partkey" -> IntCol, "p_name" -> StrCol)))

  /** Identifies the generated content; part of every ingest pin. */
  val FixtureId: String = s"ingest-scale$Scale-content$ContentSeed-" +
    s"before$BeforeShare-daily$DailyShare-dirty$DirtyShare-" +
    Entities.map(e => s"${e.name}${e.rows}").mkString("-")

  def relDir(env: String, entity: String, day: Int): String = {
    val d = Day0.plusDays(day)
    f"environment=$env/$entity/${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d"
  }

  def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
