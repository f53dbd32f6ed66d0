package graft.sources

import java.time.LocalDate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat, lit, raise_error, substring_index, when}

/** Partition-path discovery: the reference's file-tree walk + path parse
  * (`main.py:87-124`, `main_mailbox.py:90-122`) as a pure path model.
  *
  * Two layouts exist:
  *  - Main: `<root>/environment=<ENV>/<Entity>/<yyyy>/<MM>/<dd>/<file>.parquet`
  *    (`main.py:88,105`) — `environment=` is genuinely Hive-style; the
  *    positional `yyyy/MM/dd` tail is NOT, so the date comes from the
  *    path parse.
  *  - Mailbox: `<root>/<DataSource>/<Entity>/yyyy/MM/dd/<file>.parquet`.
  *    Discovery keeps the FULL DataSource name as `environment` — the
  *    reference allow-lists on DataSource (`main_mailbox.py:41-43`) and
  *    only the audit column shortens to the prefix before `_`, which is
  *    T0a's job inside the pipeline (`main_mailbox.py:56`,
  *    `CigEolHostingIngestionLogic.py:16-19`). Mailbox allow-list
  *    configs and marker-ledger keys therefore use full datasource
  *    names (e.g. `NL_Hosting_Mailbox`, not `NL`).
  *
  * The walk lists the WHOLE root, driver-side; `IngestionJob.run`
  * filters by date afterwards. The resulting explicit file list feeds
  * one `spark.read` per target table, so executors never list, and
  * [[environmentColumn]] gives each row read its file's environment.
  */
object Discovery {

  /** One discovered ingestion unit (≡ reference `CigIngestionFile`,
    * `main.py:101-124`). */
  final case class IngestionFile(
      environment: String, entity: String, date: LocalDate, path: String)

  /** List the data root through the Hadoop `FileSystem` of the active
    * session's configuration and parse every data file found (`ext`
    * selects the source format; the reference is parquet-only, CSV/JSON
    * are format extensions riding the same layout). The same code lists
    * a local tree, `file://` and `s3a://bucket/...`: one LIST per
    * directory from the driver, replacing the reference's
    * PowerShell-mirror + boto walk. Every returned path keeps the root's
    * own form (a plain root yields plain paths, `s3a://bucket/root`
    * yields `s3a://bucket/root/…`), so marker-ledger keys and
    * `spark.read` see the root as configured.
    * Malformed paths are dropped, as the reference's shape predicate
    * does; a missing root yields nothing. */
  def discover(root: String, mailbox: Boolean,
      ext: String = ".parquet"): Seq[IngestionFile] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(root)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    val qualified = fs.makeQualified(p).toString.stripSuffix("/")
    val base = root.stripSuffix("/")
    val out = scala.collection.mutable.ArrayBuffer[IngestionFile]()
    // listStatus per directory, not listFiles: listFiles turns every file
    // into a LocatedFileStatus, and on the local filesystem without
    // Hadoop's native library each one forks a shell to read the file's
    // permissions
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val listed = st.getPath.toString
      if (st.isDirectory) walk(st.getPath)
      else if (listed.endsWith(ext) && listed.startsWith(qualified + "/"))
        parseFilePath(base + listed.substring(qualified.length), mailbox, ext)
          .foreach(out += _)
    }
    walk(p)
    out.toSeq.sortBy(f => (f.environment, f.entity, f.path))
  }

  /** Per row of a frame read over `files`, `value` of the environment
    * [[parseFilePath]] parsed for that row's file. `filePath` is the
    * reader's `_metadata.file_path`, a URI: its head directory (the sixth
    * segment from the end) is matched, still URI-encoded, against the
    * heads of `files` as Hadoop's `Path.toUri` encodes them. A row of any
    * other file raises an error instead of getting a value; when every
    * file has the same value, it is a literal. */
  def environmentColumn(filePath: Column, files: Seq[IngestionFile],
      value: String => String): Column = {
    val byValue = files.groupBy(f => value(f.environment)).toSeq.sortBy(_._1)
    if (byValue.size == 1) lit(byValue.head._1)
    else {
      val head = substring_index(substring_index(filePath, "/", -6), "/", 1)
      byValue.foldRight(raise_error(concat(lit("not a discovered file: "), filePath))) {
        case ((v, fs), otherwise) =>
          when(head.isin(fs.map(f => encodedHead(f.path)).distinct: _*), lit(v))
            .otherwise(otherwise)
      }
    }
  }

  private def encodedHead(path: String): String = {
    val seg = new org.apache.hadoop.fs.Path(path).toUri.getRawPath
      .split('/').filter(_.nonEmpty)
    seg(seg.length - 6)
  }

  /** Parse a …/<head>/<Entity>/<yyyy>/<MM>/<dd>/<file><ext> path. */
  def parseFilePath(path: String, mailbox: Boolean,
      ext: String = ".parquet"): Option[IngestionFile] = {
    val seg = path.split('/').filter(_.nonEmpty)
    if (seg.length < 6 || !path.endsWith(ext)) return None
    val head = seg(seg.length - 6)
    val envOpt =
      if (mailbox)
        // keep the FULL datasource name: the reference's mailbox
        // allow-list filters on DataSource (`main_mailbox.py:41-43`);
        // the audit column's prefix-shortening is T0a's job inside the
        // pipeline (`CigEolHostingIngestionLogic.py:16-19`), not
        // discovery's
        if (head.contains("_") && !head.contains("=")) Some(head)
        else None
      // the key must literally be "environment" — a stray Hive-partitioned
      // dir like /data/foo=NL/... is NOT an ingestion root (main.py:112
      // splits blindly; we tighten to the documented layout)
      else if (head.startsWith("environment="))
        Some(head.substring("environment=".length))
      else None
    envOpt.flatMap { env =>
      try {
        val date = LocalDate.of(seg(seg.length - 4).toInt,
          seg(seg.length - 3).toInt, seg(seg.length - 2).toInt)
        Some(IngestionFile(env, seg(seg.length - 5), date, path))
      } catch { case _: Exception => None }
    }
  }
}
