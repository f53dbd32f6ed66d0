package graft.sources

/** SQL Server-specific SQL text and writer options for the production
  * target (the reference ingests into SQL Server via SQLAlchemy/pyodbc;
  * `CustomMarkerTable.py:71-80` marker table, `ParquetFileInsertion.py:
  * 19-20,60-65` batched insert). The container has no SQL Server, so
  * this dialect cannot be executed here — JdbcPathSpec pins the exact
  * statement text instead, documenting the one untested production
  * boundary. Everything here is selected by URL at runtime
  * ([[JdbcMarkerLedger]], [[graft.plans.IngestionJob.JdbcSink]]); on any
  * other backend the portable forms run (and DO execute in tests,
  * against embedded Derby). */
object SqlServerDialect {

  def isSqlServer(url: String): Boolean =
    url.toLowerCase.startsWith("jdbc:sqlserver:")

  /** Marker-table DDL, T-SQL form: create-if-absent via OBJECT_ID guard
    * (no exception-swallowing needed), NVARCHAR for the reference's
    * String columns, DATETIME2 for its DateTime columns (SQL Server's
    * recommended replacement for DATETIME), and the composite PK the
    * whole ledger is keyed on (the reference's single-column PK,
    * `CustomMarkerTable.py:77`, breaks when one file feeds two target
    * tables — same deliberate divergence as the portable DDL). */
  def markerDdl(table: String): String =
    s"""IF OBJECT_ID(N'$table', N'U') IS NULL
       |CREATE TABLE $table (
       |  ParquetSource NVARCHAR(512) NOT NULL,
       |  TargetTable   NVARCHAR(128) NOT NULL,
       |  Environment   NVARCHAR(128) NOT NULL,
       |  BackupDate    DATETIME2,
       |  InsertedDate  DATETIME2,
       |  PRIMARY KEY (ParquetSource, Environment, TargetTable))""".stripMargin

  /** Marker upsert as ONE atomic T-SQL MERGE (parameters: source, table,
    * environment, backup date, inserted date). HOLDLOCK makes the
    * read-modify-write race-free under concurrent ingest runs — the
    * portable update-then-insert pair can race itself between the two
    * statements, exactly the window the reference's select-then-insert
    * (`CustomMarkerTable.py:26-44`) leaves open. The trailing semicolon
    * is mandatory T-SQL MERGE syntax. */
  def markerMerge(table: String): String =
    s"""MERGE INTO $table WITH (HOLDLOCK) AS tgt
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
       |          src.BackupDate, src.InsertedDate);""".stripMargin

  /** The dialect's own Spark JDBC writer options for the bulk append
    * into SQL Server; the sink adds its `batchsize`, the twin of the
    * reference's `fast_executemany` pyodbc batching
    * (`ParquetFileInsertion.py:60-65`). READ_COMMITTED keeps the write
    * from taking range locks a concurrent freshness check would block
    * on. */
  val writerOptions: Map[String, String] = Map(
    "driver" -> "com.microsoft.sqlserver.jdbc.SQLServerDriver",
    "isolationLevel" -> "READ_COMMITTED")
}
