package graft

import java.nio.file.{Files, Paths}

import graft.config.JsonConfig
import graft.plans.IngestionJob
import graft.sources.{FileMarkerLedger, JdbcMarkerLedger, MarkerLedger}

/** CLI entry point ≡ the reference's `main.py` / `main_mailbox.py`:
  *
  *   runMain graft.IngestMain <ingestion_config.json> <tables.json> \
  *     <outDir> [--mailbox] [--jdbc-url <url>] [--format parquet|orc|csv|json]
  *
  * With `--mailbox`, the config's `environments` allow-list holds FULL
  * datasource names (`NL_Hosting_Mailbox`), matching the reference's
  * `data_sources_to_ingest`; the `Environment` audit column still gets
  * the shortened prefix via the pipeline's T0a rule. Marker-ledger keys
  * likewise use the full datasource name.
  *
  * With `--jdbc-url`, rows append to `raw.<target>` tables over JDBC (the
  * production path; the reference's SQL Server insert) and the marker
  * ledger lives in the same database; otherwise a parquet sink + file
  * ledger under <outDir>.
  *
  * Reads the config documents, discovers date/environment-partitioned
  * parquet under the config's data_folder, runs the cleanup pipeline per
  * table, appends to the parquet sink at <outDir>, and prints a run
  * summary (the reference's Luigi `detailed_summary`, `main.py:170-186`).
  * The marker ledger is file-backed at <outDir>/_marker.tsv so re-runs
  * skip completed files; production wires
  * [[graft.sources.JdbcMarkerLedger]] + [[IngestionJob.JdbcSink]].
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: IngestMain <ingestion_config.json> <tables.json> <outDir> " +
        "[--mailbox] [--jdbc-url <url>] [--format parquet|orc|csv|json]")
    val Array(cfgPath, tablesPath, outDir) = args.take(3)
    val mailbox = args.contains("--mailbox")

    val tables = JsonConfig.parseTables(
      Files.readString(Paths.get(tablesPath)))
    val cfg = JsonConfig.parseIngestionConfig(
      Files.readString(Paths.get(cfgPath)), tables)

    val jdbcUrl = args.sliding(2).collectFirst {
      case Array("--jdbc-url", u) => u
    }
    val format = args.sliding(2).collectFirst {
      case Array("--format", f) => f
    }.getOrElse("parquet")
    val (ledger: MarkerLedger, sink: IngestionJob.Sink) = jdbcUrl match {
      case Some(url) =>
        val props = new java.util.Properties()
        val l = new JdbcMarkerLedger(url, "ETL_Import_From_S3_Marker", props)
        l.ensureTable()
        (l, new IngestionJob.JdbcSink(url, props))
      case None =>
        (new FileMarkerLedger(Paths.get(outDir, "_marker.tsv")),
          new IngestionJob.ParquetSink(outDir))
    }

    val spark = LocalSession.builder().getOrCreate()

    val report =
      try IngestionJob.run(spark, cfg, ledger, sink,
        mailbox = mailbox, format = format)
      finally spark.stop()

    println(s"[ingest] discovered=${report.discovered} " +
      s"skipped_by_marker=${report.skippedByMarker} " +
      s"ingested_files=${report.ingested.size} rows=${report.rowsWritten}")
    report.ingested.foreach(p => println(s"[ingest]   $p"))
  }
}
