package graft

import java.nio.file.Files
import java.time.LocalDate
import java.util.Properties
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.plans.IngestionJob
import graft.sources.JdbcMarkerLedger

/** The real SQL path, against the Derby that ships with Spark: JDBC sink
  * (the reference's batched insert, S8), JDBC marker ledger (S10-S12),
  * and JDBC query-to-DataFrame readback (S13) — the full reference
  * contract with an actual database in the loop. */
class JdbcPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val url = "jdbc:derby:memory:graftdb;create=true"
  val props = new Properties()

  test("ingestion end-to-end into a real JDBC target with JDBC marker ledger") {
    val root = Files.createTempDirectory("graft-jdbc").toString
    spark.read.parquet(s"${TestSession.sfDir("0.001")}/lineitem.parquet").limit(30)
      .write.mode("overwrite")
      .parquet(s"$root/environment=NL/Lineitem/2019/07/03")

    val cfg = IngestionConfig(
      environments = Seq("NL"),
      ingestionDate = LocalDate.of(2019, 7, 3),
      dataFolder = root,
      tables = Seq(TableConfig("HOST_CIG_Lineitem", "Lineitem",
        isEnabled = true,
        columns = Seq(
          ColumnMeta("l_orderkey", TypeClass.IntLike),
          ColumnMeta("l_linenumber", TypeClass.IntLike),
          ColumnMeta("l_returnflag"),
          ColumnMeta("Environment"),
          ColumnMeta("CIGCopyTime"),
          ColumnMeta("CIGProcessed")))))

    val ledger = new JdbcMarkerLedger(url, "ETL_Import_From_S3_Marker", props)
    ledger.ensureTable()
    ledger.ensureTable() // idempotent

    val sink = new IngestionJob.JdbcSink(url, props)
    val r1 = IngestionJob.run(spark, cfg, ledger, sink)
    assert(r1.ingested.size == 1 && r1.skippedByMarker == 0)

    // S13: SQL query → DataFrame readback
    val back = spark.read.jdbc(url,
      "(SELECT * FROM raw.HOST_CIG_Lineitem) q", props)
    assert(back.count() == 30)
    assert(back.columns.length == 6)
    assert(back.select("Environment").distinct().head().getString(0) == "NL")

    // marker rows landed in the DB
    assert(ledger.all.size == 1)
    assert(ledger.all.head.targetTable == "HOST_CIG_Lineitem")

    // re-run: marker guard skips; no duplicate rows appended
    val r2 = IngestionJob.run(spark, cfg, ledger, sink)
    assert(r2.ingested.isEmpty && r2.skippedByMarker == 1)
    assert(spark.read.jdbc(url,
      "(SELECT * FROM raw.HOST_CIG_Lineitem) q", props).count() == 30)

    // touch updates in place (FIXTURES §4 case c)
    val e = ledger.all.head
    ledger.touch(e.copy(backupDate = LocalDate.of(2019, 7, 4)))
    assert(ledger.all.size == 1)
    assert(ledger.all.head.backupDate == LocalDate.of(2019, 7, 4))
  }

  test("target-schema reflection maps JDBC metadata to cleanup type classes") {
    import graft.sources.TargetSchema
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = c.createStatement()
      try st.execute(
        """CREATE TABLE REFL_T (
          |  ID VARCHAR(36) NOT NULL,
          |  Amount INT,
          |  BigN BIGINT,
          |  Created TIMESTAMP,
          |  Notes CLOB,
          |  Name VARCHAR(50))""".stripMargin)
      catch { case _: java.sql.SQLException => () }
      finally st.close()
    } finally c.close()
    val cols = TargetSchema.reflect(url, props, null, "REFL_T")
    assert(cols.map(_.name) ==
      Seq("ID", "AMOUNT", "BIGN", "CREATED", "NOTES", "NAME"))
    assert(cols.map(_.typeClass) == Seq(
      TypeClass.Str, TypeClass.IntLike, TypeClass.IntLike,
      TypeClass.DateTime, TypeClass.TextMax, TypeClass.Str))
    assert(cols.map(_.nullable) ==
      Seq(false, true, true, true, true, true))
  }

  test("SQL Server dialect pinning: exact MERGE/DDL text and writer options by URL") {
    // the one untested production boundary (no SQL Server reachable from
    // this container): pin the exact statements a sqlserver URL selects,
    // so any drift is a reviewed diff, not a silent production change
    val ssUrl = "jdbc:sqlserver://dbhost:1433;databaseName=ingest"
    val ss = new JdbcMarkerLedger(ssUrl, "table_updates", new Properties())
    assert(ss.ddlStatement ==
      """IF OBJECT_ID(N'table_updates', N'U') IS NULL
        |CREATE TABLE table_updates (
        |  ParquetSource NVARCHAR(512) NOT NULL,
        |  TargetTable   NVARCHAR(128) NOT NULL,
        |  Environment   NVARCHAR(128) NOT NULL,
        |  BackupDate    DATETIME2,
        |  InsertedDate  DATETIME2,
        |  PRIMARY KEY (ParquetSource, Environment, TargetTable))""".stripMargin)
    assert(ss.upsertStatement.contains(
      """MERGE INTO table_updates WITH (HOLDLOCK) AS tgt
        |USING (SELECT ? AS ParquetSource, ? AS TargetTable,
        |              ? AS Environment, ? AS BackupDate, ? AS InsertedDate) AS src
        |ON tgt.ParquetSource = src.ParquetSource
        |  AND tgt.Environment = src.Environment
        |  AND tgt.TargetTable = src.TargetTable
        |WHEN MATCHED THEN UPDATE
        |  SET BackupDate = src.BackupDate, InsertedDate = src.InsertedDate
        |WHEN NOT MATCHED THEN
        |  INSERT (ParquetSource, TargetTable, Environment, BackupDate, InsertedDate)
        |  VALUES (src.ParquetSource, src.TargetTable, src.Environment,
        |          src.BackupDate, src.InsertedDate);""".stripMargin))
    val sink = new IngestionJob.JdbcSink(ssUrl, new Properties())
    assert(sink.writerOptions == Map(
      "driver" -> "com.microsoft.sqlserver.jdbc.SQLServerDriver",
      "batchsize" -> "10000",
      "isolationLevel" -> "READ_COMMITTED"))

    // Derby (and any non-sqlserver backend) stays on the portable forms
    // that the rest of this suite actually executes
    val derby = new JdbcMarkerLedger(url, "table_updates", props)
    assert(derby.upsertStatement.isEmpty)
    assert(derby.ddlStatement.contains("TIMESTAMP") &&
      !derby.ddlStatement.contains("DATETIME2"))
    val derbySink = new IngestionJob.JdbcSink(url, props)
    assert(derbySink.writerOptions == Map("batchsize" -> "10000"))
  }
}
