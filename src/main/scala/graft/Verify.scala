package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg: comma-separated query names — dump (and list in
  * oracle_sql.json) only those, for fast single-query iteration with
  * tools/compare.py. A query that throws is named on stderr, again in a
  * last `[verify] failed (<n>): <names>` line, and the run exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    def sel(name: String): Boolean = only.isEmpty || only(name)
    val spark = LocalSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.Buffer.empty[String]
    SparkEntry.queries.filter(e => sel(e._1)).foreach { case (name, fn) =>
      // a query that throws must leave no output: an earlier run's
      // parquet would otherwise be compared and pass
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try {
        System.err.println(s"[verify] $name start")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(out.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // operators may persist() shared intermediates and cut lineage
      // into RDD blocks — scope both per query
      Bench.resetSharedState(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => sel(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] failed (${failed.size}): ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
