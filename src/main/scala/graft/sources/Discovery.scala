package graft.sources

import java.time.LocalDate

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
  * Both walks list the WHOLE root, driver-side; `IngestionJob.run`
  * filters by date afterwards. The resulting explicit file list feeds
  * one `spark.read` per (table, environment), so executors never list.
  */
object Discovery {

  /** One discovered ingestion unit (≡ reference `CigIngestionFile`,
    * `main.py:101-124`). */
  final case class IngestionFile(
      environment: String, entity: String, date: LocalDate, path: String)

  /** Walk a local tree (tests' stand-in for the object-store LIST) and
    * parse every data file found (`ext` selects the source format; the
    * reference is parquet-only, CSV/JSON are format extensions riding
    * the same layout). Malformed paths are dropped, as the reference's
    * shape predicate does. A root with a URI scheme (`file://`, `s3a://`)
    * is rejected: `Paths.get` would turn it into a relative path that
    * does not exist, and the run would find nothing without an error. */
  def discover(root: String, mailbox: Boolean,
      ext: String = ".parquet"): Seq[IngestionFile] = {
    import java.nio.file._
    if (root.matches("[A-Za-z][A-Za-z0-9+.-]*:.*"))
      throw new IllegalArgumentException(
        s"data root '$root' has a URI scheme; list it with Discovery.discoverHadoop")
    val base = Paths.get(root)
    if (!Files.exists(base)) return Nil
    val out = scala.collection.mutable.ArrayBuffer[IngestionFile]()
    val stream = Files.walk(base) // must be closed: holds DirectoryStreams
    try stream.forEach { p =>
      if (p.toString.endsWith(ext) && Files.isRegularFile(p))
        parseFilePath(p.toString, mailbox, ext).foreach(out += _)
    } finally stream.close()
    out.toSeq.sortBy(f => (f.environment, f.entity, f.path))
  }

  /** Object-store discovery via the Hadoop FileSystem API — the
    * production path (S5/S6): the SAME code lists `file://` in tests and
    * `s3a://bucket/...` on a cluster (one recursive LIST from the
    * driver; executors never list). Replaces the reference's
    * PowerShell-mirror + boto walk (S7 is eliminated — Spark reads the
    * store directly). */
  def discoverHadoop(root: String, mailbox: Boolean,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      ext: String = ".parquet"): Seq[IngestionFile] = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val p = new Path(root)
    val fs = FileSystem.get(p.toUri, hadoopConf)
    if (!fs.exists(p)) return Nil
    val out = scala.collection.mutable.ArrayBuffer[IngestionFile]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val path = f.getPath.toUri.getPath
      if (path.endsWith(ext))
        parseFilePath(path, mailbox, ext).foreach(out += _)
    }
    out.toSeq.sortBy(f => (f.environment, f.entity, f.path))
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
