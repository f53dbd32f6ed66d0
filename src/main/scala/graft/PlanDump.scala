package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

/** Physical-plan dump and audit:
  *
  *   runMain graft.PlanDump <query>[,<query>...]|all <outDir> [sfDir]
  *
  * writes `<outDir>/<query>.txt` (`explain("formatted")` of every plan
  * in [[plans]]) and prints the PLANS.md table on stdout. Default
  * sf0.01: plan SHAPE is scale-invariant except for AQE's runtime
  * choices, and AQE is off because its wrapper hides the `*(N)` codegen
  * spans. A query that throws gets an ERROR row and the tool exits 1
  * at the end, as [[Bench]] does. */
object PlanDump {

  /** A query's physical plans: the final plan first, then one per
    * lineage cut that ran while `build` constructed it. A cut starts the
    * final plan at an RDD scan, so a walker of the final plan alone is
    * blind to exactly the per-round joins the cut executed.
    * [[graft.operators.CurationOps.auditCuts]] evicts the shared graph
    * artifacts first, so their builds run (and are recorded) here. */
  private[graft] def plans(spark: SparkSession)(
      build: => DataFrame): Seq[QueryExecution] = {
    val (df, cuts) = graft.operators.CurationOps.auditCuts(spark)(build)
    df.queryExecution +: cuts.map(spark.sessionState.executePlan(_))
  }

  /** PLANS.md counts of one physical plan: scans, pushed filters,
    * exchanges, broadcast joins, sort-merge joins, codegen spans. */
  private[graft] def counts(plan: String): Seq[Int] = {
    def n(pat: String) = pat.r.findAllIn(plan).length
    // codegen stages appear as "*(N) Op" prefixes in the plan string
    val wsc = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1).toInt).toSet.size
    Seq(n("Scan parquet"), n("PushedFilters: \\[[^\\]]"),
      n("Exchange (hashpartitioning|rangepartitioning|SinglePartition)"),
      n("BroadcastHashJoin") + n("BroadcastNestedLoopJoin"),
      n("SortMergeJoin"), wsc)
  }

  /** One query's PLANS.md row: the [[counts]] summed over all its
    * [[plans]], then the number of cuts. */
  private[graft] def row(qes: Seq[QueryExecution]): Seq[Int] =
    qes.map(qe => counts(qe.executedPlan.toString)).transpose.map(_.sum) :+
      (qes.size - 1)

  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    val outDir = args(1)
    val sfDir = if (args.length > 2) args(2) else LocalSession.sfDir("0.01")
    val spark = LocalSession.builder()
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    new java.io.File(outDir).mkdirs()
    val formatted = ExplainMode.fromString("formatted")
    println("| query | scans | pushed filters | exchanges | broadcasts | SMJ | codegen spans | cuts |")
    println("|---|---|---|---|---|---|---|---|")
    val failed = names.filterNot { name =>
      val ok = try {
        val qes = plans(spark)(SparkEntry.queries(name)(spark, sfDir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          qes.map(_.explainString(formatted))
            .mkString("\n=== construction-time cut plan ===\n")
            .getBytes("UTF-8"))
        println((name +: row(qes)).mkString("| ", " | ", " |"))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        println(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | | |")
        false
      }
      // a persist() left registered would put InMemoryRelation into
      // LATER queries' plans (q59 showed 0 scans after q31), and cut
      // blocks would pile up over an `all` walk
      Bench.resetSharedState(spark)
      ok
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
