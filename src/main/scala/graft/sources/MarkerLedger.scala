package graft.sources

import java.time.{LocalDate, LocalDateTime}

/** The idempotency marker ledger (reference `CustomMarkerTable.py` +
  * `luigi.cfg:5`, table `ETL_Import_From_S3_Marker`): one row per
  * completed (parquetSource, environment, targetTable), with upsert
  * ("touch", `CustomMarkerTable.py:17-45`) and keyed existence
  * (`:47-59`).
  *
  * The ledger is tiny (one row per file ever ingested) and keyed reads /
  * upserts happen on the driver only — executors never touch it. The
  * production implementation is a JDBC MERGE against SQL Server; tests
  * and the driver harness use the in-memory/file-backed implementation.
  * Either way `IngestionJob.run` reads `all` once and snapshots it into
  * a driver-side set of (source, environment, table) keys, which filters
  * the discovered files before any Spark plan is built (SURVEY P10).
  */
final case class MarkerEntry(
    parquetSource: String, targetTable: String, environment: String,
    backupDate: LocalDate, insertedDate: LocalDateTime)

/** `IngestionJob.run` calls a ledger only from the thread that called
  * `run`: `all` once, then, one target table at a time in sorted entity
  * order, one `touch` per file of the table (each with the file's own
  * environment) after that table's sink write returned. */
trait MarkerLedger {
  /** Keyed existence: is (source, env, table) complete?
    * (`CustomMarkerTable.py:47-59`: SELECT … LIMIT 1) */
  def exists(parquetSource: String, environment: String,
      targetTable: String): Boolean

  /** Insert-or-update ("touch", `CustomMarkerTable.py:17-45`). */
  def touch(entry: MarkerEntry): Unit

  def all: Seq[MarkerEntry]
}

/** In-memory ledger (tests / single-driver batch runs). */
final class InMemoryMarkerLedger extends MarkerLedger {
  private val rows =
    scala.collection.mutable.LinkedHashMap[(String, String, String), MarkerEntry]()
  override def exists(src: String, env: String, table: String): Boolean =
    rows.synchronized(rows.contains((src, env, table)))
  override def touch(e: MarkerEntry): Unit = rows.synchronized {
    rows((e.parquetSource, e.environment, e.targetTable)) = e
  }
  override def all: Seq[MarkerEntry] = rows.synchronized(rows.values.toSeq)
}

/** File-backed ledger: newline-delimited tab-separated rows, loaded at
  * construction, appended on touch. The no-database analogue of the
  * marker table for CLI runs — gives cross-process idempotency with the
  * same keyed semantics. */
final class FileMarkerLedger(path: java.nio.file.Path) extends MarkerLedger {
  private val mem = new InMemoryMarkerLedger
  locally {
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.readAllLines(path).forEach { line =>
        line.split('\t') match {
          case Array(src, table, env, bd, id) => mem.touch(MarkerEntry(
            src, table, env, LocalDate.parse(bd), LocalDateTime.parse(id)))
          case _ => ()
        }
      }
  }
  override def exists(src: String, env: String, table: String): Boolean =
    mem.exists(src, env, table)
  override def touch(e: MarkerEntry): Unit = this.synchronized {
    mem.touch(e)
    val line = Seq(e.parquetSource, e.targetTable, e.environment,
      e.backupDate.toString, e.insertedDate.toString).mkString("\t") + "\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, line,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
  override def all: Seq[MarkerEntry] = mem.all
}

/** JDBC ledger: driver-side MERGE/SELECT against the marker table. DDL
  * mirrors `CustomMarkerTable.py:74-80`. Not exercised in this container
  * (no database); kept thin and driver-only so the data path never
  * depends on it. */
final class JdbcMarkerLedger(url: String, table: String,
    props: java.util.Properties) extends MarkerLedger {

  private val sqlServer = SqlServerDialect.isSqlServer(url)

  /** The exact DDL this ledger executes — dialect-selected by URL and
    * string-pinned in JdbcPathSpec (SQL Server itself is not reachable
    * from tests; Derby exercises the portable branch). */
  val ddlStatement: String =
    if (sqlServer) SqlServerDialect.markerDdl(table)
    else
      s"""CREATE TABLE $table (
         |  ParquetSource VARCHAR(512) NOT NULL,
         |  TargetTable   VARCHAR(128) NOT NULL,
         |  Environment   VARCHAR(128) NOT NULL,
         |  BackupDate    TIMESTAMP,
         |  InsertedDate  TIMESTAMP,
         |  PRIMARY KEY (ParquetSource, Environment, TargetTable))""".stripMargin

  /** The atomic MERGE upsert used on SQL Server; None → the portable
    * update-then-insert pair below. */
  val upsertStatement: Option[String] =
    if (sqlServer) Some(SqlServerDialect.markerMerge(table)) else None

  def ensureTable(): Unit = withConn { c =>
    val st = c.createStatement()
    // portable create-if-absent: attempt and swallow "already exists"
    // (Derby X0Y32, SQL Server 2714, ...); DDL mirrors
    // CustomMarkerTable.py:74-80. (The T-SQL branch guards with
    // OBJECT_ID instead and never raises the duplicate error.)
    // composite PK: the ledger is KEYED on the triple everywhere
    // (exists/touch WHERE clauses, InMemoryMarkerLedger's map key) — the
    // reference's single-column PK (CustomMarkerTable.py:75) breaks when
    // one file feeds two target tables
    try st.execute(ddlStatement)
    catch {
      // swallow ONLY "table already exists"; genuine DDL failures
      // (permissions, connectivity) must surface here, not later as
      // confusing errors on exists/touch. Known codes cover Derby /
      // SQL Server / Postgres / MySQL; for any other backend, probe the
      // catalog — if the table is actually there, the failure was the
      // expected duplicate-create race, otherwise rethrow.
      case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" ||
            e.getErrorCode == 2714 || e.getErrorCode == 1050 ||
            tableExists(st.getConnection, table) => ()
    }
    finally st.close()
  }

  /** Backend-agnostic existence probe via JDBC catalog metadata (case
    * variants cover folding dialects). getTables treats its name
    * arguments as LIKE patterns — '_' matches any character — so a name
    * like 'ingestion_markers' would also match unrelated tables and
    * wrongly swallow a genuine CREATE failure: escape pattern chars with
    * the driver's escape string, and route an optional 'schema.table'
    * qualifier into the schemaPattern argument (a dotted name can never
    * match the bare table-name pattern). Returns false on any failure so
    * the caller's original exception propagates. */
  private def tableExists(c: java.sql.Connection, name: String): Boolean =
    try {
      val md = c.getMetaData
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def quote(n: String): String = n
        .replace(esc, esc + esc)
        .replace("_", esc + "_")
        .replace("%", esc + "%")
      val (schemaPat, tablePat) = name.split("\\.", 2) match {
        case Array(sch, tbl) => (Some(sch), tbl)
        case _               => (None, name)
      }
      Seq[String => String](identity, _.toUpperCase, _.toLowerCase)
        .exists { fold =>
          val rs = md.getTables(null,
            schemaPat.map(s => quote(fold(s))).orNull,
            quote(fold(tablePat)), null)
          try rs.next() finally rs.close()
        }
    } catch { case _: java.sql.SQLException => false }

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  override def exists(src: String, env: String, table0: String): Boolean =
    withConn { c =>
      // keyed existence (CustomMarkerTable.py:47-59); no LIMIT for
      // dialect portability — the PK bounds the scan to one row anyway
      val ps = c.prepareStatement(
        s"SELECT 1 FROM $table WHERE ParquetSource = ? AND Environment = ? AND TargetTable = ?")
      try {
        ps.setString(1, src); ps.setString(2, env); ps.setString(3, table0)
        val rs = ps.executeQuery()
        try rs.next() finally rs.close()
      } finally ps.close()
    }

  override def touch(e: MarkerEntry): Unit = withConn { c =>
    upsertStatement match {
      case Some(merge) =>
        // SQL Server: one atomic MERGE (race-free under HOLDLOCK)
        val ps = c.prepareStatement(merge)
        try {
          ps.setString(1, e.parquetSource)
          ps.setString(2, e.targetTable)
          ps.setString(3, e.environment)
          ps.setTimestamp(4,
            java.sql.Timestamp.valueOf(e.backupDate.atStartOfDay()))
          ps.setTimestamp(5, java.sql.Timestamp.valueOf(e.insertedDate))
          ps.executeUpdate()
        } finally ps.close()
      case None => portableUpsert(c, e)
    }
  }

  private def portableUpsert(c: java.sql.Connection, e: MarkerEntry): Unit = {
    // portable upsert: update-then-insert (the reference does
    // select-then-insert/update, CustomMarkerTable.py:26-44)
    val upd = c.prepareStatement(
      s"UPDATE $table SET BackupDate = ?, InsertedDate = ? WHERE ParquetSource = ? AND Environment = ? AND TargetTable = ?")
    try {
      upd.setTimestamp(1,
        java.sql.Timestamp.valueOf(e.backupDate.atStartOfDay()))
      upd.setTimestamp(2, java.sql.Timestamp.valueOf(e.insertedDate))
      upd.setString(3, e.parquetSource)
      upd.setString(4, e.environment)
      upd.setString(5, e.targetTable)
      if (upd.executeUpdate() == 0) {
        val ins = c.prepareStatement(
          s"INSERT INTO $table (ParquetSource, TargetTable, Environment, BackupDate, InsertedDate) VALUES (?,?,?,?,?)")
        try {
          ins.setString(1, e.parquetSource)
          ins.setString(2, e.targetTable)
          ins.setString(3, e.environment)
          ins.setTimestamp(4,
            java.sql.Timestamp.valueOf(e.backupDate.atStartOfDay()))
          ins.setTimestamp(5, java.sql.Timestamp.valueOf(e.insertedDate))
          ins.executeUpdate()
        } finally ins.close()
      }
    } finally upd.close()
  }

  override def all: Seq[MarkerEntry] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT ParquetSource, TargetTable, Environment, BackupDate, InsertedDate FROM $table")
      val buf = scala.collection.mutable.ArrayBuffer[MarkerEntry]()
      while (rs.next()) buf += MarkerEntry(
        rs.getString(1), rs.getString(2), rs.getString(3),
        rs.getTimestamp(4).toLocalDateTime.toLocalDate,
        rs.getTimestamp(5).toLocalDateTime)
      buf.toSeq
    } finally st.close()
  }
}
