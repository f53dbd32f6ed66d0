package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiler: `runMain graft.TimeQ <query>[,<query>...] [reps]
  * [sfDir]` — times one or more SparkEntry queries repeatedly in ONE
  * session to separate plan compile cost from steady-state execution
  * (one JVM+session per list, not per query); prints the formatted
  * plan once at the end when TIMEQ_EXPLAIN=1. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false") // naive-us ts reads as LTZ (UTC session)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // headroom for AQE broadcast builds on 10x+ synthetic fixtures
      // (the 128 GiB driver affords far more than the 1g default)
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // TIMEQ_NOOP=1: time FULL evaluation via the noop sink instead of
    // count(). count() matches Bench (the cross-round estimator) but
    // Spark prunes unused projections under it, so a projection-only
    // query's compute cost is invisible — the noop write evaluates
    // every output column (measured: q160's all-HOF form was 0.6 s by
    // count and 59 s by noop at the synthetic 100×).
    val noop = sys.env.get("TIMEQ_NOOP").contains("1")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val n = if (noop) {
          df.write.format("noop").mode("overwrite").save(); -1L
        } else df.count()
        val tag = if (noop) "noop" else s"$n rows"
        println(f"[timeq] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($tag)")
        // match Bench semantics: no persist or shared artifact carries
        // across reps, so rep 2+ times the query, not a memo lookup
        Bench.resetSharedState(spark)
      }
      if (sys.env.get("TIMEQ_EXPLAIN").contains("1"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
