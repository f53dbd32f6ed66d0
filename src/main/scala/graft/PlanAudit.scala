package graft

/** Plan audit: prints one markdown row per SparkEntry query summarizing
  * its physical plan — scans, pushed filters, exchanges (shuffles),
  * broadcast joins, sort-merge joins, whole-stage-codegen spans. The
  * basis of the "explain and iterate" loop; output is committed as
  * PLANS.md so plan regressions show up in review.
  *
  *   runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else LocalSession.sfDir("0.01")
    val spark = LocalSession.builder()
      // AQE off for the audit: the adaptive wrapper hides codegen spans
      // in the pre-execution plan string; logical structure is the same
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()

    println("| query | scans | pushed filters | exchanges | broadcasts | SMJ | codegen spans |")
    println("|---|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(plan).length
        val scans = n("Scan parquet")
        val pushed = n("PushedFilters: \\[[^\\]]")
        val exchanges = n("Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
        val bcasts = n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin")
        val smj = n("SortMergeJoin")
        // codegen stages appear as "*(N) Op" prefixes in the plan string
        val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
          .map(_.group(1).toInt).toSet.size
        println(s"| $name | $scans | $pushed | $exchanges | $bcasts | $smj | $wsc |")
      } catch { case e: Throwable =>
        println(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | |")
      }
      // persist() registers plans with the cache manager immediately, and
      // Catalyst substitutes InMemoryRelation into LATER queries' plans
      // (q59 would show 0 scans after q31's audit) — audit each query's
      // standalone plan instead
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
