package graft

/** Ad-hoc profiler: `runMain graft.TimeQ <query>[,<query>...] [reps]
  * [sfDir]` — times one or more SparkEntry queries repeatedly in ONE
  * session to separate plan compile cost from steady-state execution
  * (one JVM+session per list, not per query). For the formatted plan
  * run [[PlanDump]]. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else LocalSession.sfDir("0.1")
    val spark = LocalSession.builder().getOrCreate()
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
    }
    spark.stop()
  }
}
