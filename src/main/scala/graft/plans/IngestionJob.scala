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
  *  4. per (table, environment), in sorted (entity, environment) order:
  *     ONE `spark.read` over all that table's remaining files (Spark's
  *     per-file tasks subsume the reference's one-file-one-task fan-out),
  *     then the fused T0→T8 cleanup pipeline, P11 sentinel→NULL, and the
  *     sink append. Two stages: one daemon helper thread prepares group
  *     k+1's cleaned frame (file listing, schema-inference job, pipeline
  *     analysis) while the caller's thread writes group k,
  *  5. touch the marker for each completed file, on the caller's thread,
  *     after its group's write returned and before the next write starts.
  *
  * Sinks are pluggable: parquet for tests/this container, JDBC writer
  * (`df.write.mode(Append).jdbc` with `batchsize`/`numPartitions`) in
  * production — same contract as the reference's batched ODBC insert
  * (`ParquetFileInsertion.py:60-65`), including its at-least-once
  * semantics on task retry (marker touched only after a full success).
  * The first failure stops the run: a failed write, or a failed
  * preparation rethrown unwrapped at its group's turn; earlier groups
  * stay written and marked, later ones are neither.
  *
  * Scale: the pipeline is narrow (scan → project, no shuffle), and on a
  * few cores a run is bound by a fixed driver cost per group, not by
  * rows: the read's listing and one-task schema-inference job plus the
  * pipeline's analysis were about 140 ms of a ~370 ms daily group, with
  * the cluster idle. Step 4 overlaps that cost with the previous group's
  * write. Groups are not written concurrently: `Append`s to one target
  * path share FileOutputCommitter's `_temporary/0`, and sinks and ledgers
  * assume a single caller.
  */
object IngestionJob {

  /** Pluggable sink: receives the cleaned frame for (table, environment).
    * `run` calls `write` only from the thread that called `run`, one
    * group at a time, in sorted (entity, environment) order; an
    * implementation needs no locking of its own. */
  trait Sink {
    def write(df: DataFrame, config: TableConfig, environment: String): Unit
  }

  /** Parquet sink: appends each group to `<outRoot>/<targetName>`. */
  final class ParquetSink(outRoot: String) extends Sink {
    override def write(df: DataFrame, config: TableConfig,
        environment: String): Unit =
      df.write.mode(SaveMode.Append).parquet(s"$outRoot/${config.targetName}")
  }

  /** JDBC sink: appends each group to `raw.<targetName>` over at most
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
    * column to string regardless. */
  val SourceFormats: Map[String, (String, Map[String, String])] = Map(
    "parquet" -> (".parquet", Map.empty),
    "orc" -> (".orc", Map.empty),
    "csv" -> (".csv", Map("header" -> "true")),
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

    // 4. one read+pipeline per (table, environment) over all its files,
    // prepared one group ahead of the write
    var rows = 0L
    val ingested = scala.collection.mutable.ArrayBuffer[String]()
    val groups = todo.groupBy(f => (f.entity, f.environment)).toSeq.sortBy(_._1)
    prepareAhead(groups) { case ((entity, env), group) =>
      val raw = spark.read.format(format).options(readOptions)
        .load(group.map(_.path): _*)
      CigTransforms.sentinelsToNull(
        CigTransforms.pipeline(raw, byEntity(entity), env, cfg.ingestionDate))
    } { case (((entity, env), group), cleaned) =>
      val table = byEntity(entity)
      // row count piggybacks on the write via an observed metric —
      // no second scan
      val obs = new org.apache.spark.sql.Observation()
      sink.write(cleaned.observe(obs, count(lit(1)).as("n")), table, env)
      rows += obs.get("n").asInstanceOf[Long]
      // 5. mark each file complete (after the whole group's write, as
      // the reference touches after a successful task run)
      group.foreach { f =>
        ledger.touch(MarkerEntry(f.path, table.targetName, env, f.date,
          LocalDateTime.now()))
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
