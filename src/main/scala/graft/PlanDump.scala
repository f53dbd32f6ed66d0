package graft

/** Formatted-plan dump for the optimization-round evidence files:
  *
  *   runMain graft.PlanDump <query>[,<query>...] <outDir> [sfDir]
  *
  * writes `<outDir>/<query>.txt` with the `explain("formatted")` output
  * of each named SparkEntry query. Construction-time plan at the given
  * sf (default sf0.01 — plan SHAPE is scale-invariant for everything
  * except AQE's runtime choices, which the committed files note
  * explicitly where they matter). Builds its session through
  * [[LocalSession]], as Bench does, so the dumped plan is the one the
  * bench executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val outDir = args(1)
    val sfDir = if (args.length > 2) args(2) else LocalSession.sfDir("0.01")
    val spark = LocalSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // Construction-time cut plans too: an artifact's lineage cut
      // starts the final plan at an RDD scan, so the evidence file
      // would otherwise hide exactly the plans the optimizations
      // changed. Same audit helper PlanPropsSpec's planWithBuilds uses;
      // it evicts the shared graph artifacts so their builds run.
      val (df, cuts) = graft.operators.CurationOps.auditCuts(spark)(
        fn(spark, sfDir))
      val formatted =
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      val plan = (df.queryExecution.explainString(formatted) +:
        cuts.map(p => spark.sessionState.executePlan(p).explainString(formatted)))
        .mkString("\n=== construction-time cut plan ===\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/$name.txt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
