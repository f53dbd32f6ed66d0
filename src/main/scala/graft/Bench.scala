package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints two JSON lines of raw wall seconds:
  * line 1 with every query's min over `SPARK_GRAFT_REPS` timed reps,
  * then a compact summary. An untimed warm pass per query absorbs JIT,
  * and codegen only for a query whose classes fit Spark's 100-entry
  * compile cache; [[resetSharedState]] runs after every rep. Seconds are
  * host-specific: compare two runs only when both ran this harness on
  * the same host at the same core count.
  *
  * One-query timing is the same main: `SPARK_GRAFT_ONLY=<q,…>
  * SPARK_GRAFT_REPS=<n> [SPARK_GRAFT_WARM=0] runMain graft.Bench`;
  * stderr carries one `[bench] <q> rep<i>: <s> s, <n> compiles, <ms>
  * ms compile` line per rep (Janino compiles in the JVM, tasks included). */
object Bench {

  /** Drops everything a query could ride into the next run: the
    * catalog cache, the shared graph artifacts (GraphOps' co-occurrence
    * edges and HyperBall rounds, whose lineage-cut checkpoints survive
    * `clearCache`), and every persistent RDD block (localCheckpoint
    * storage included, freed without a warning per cut). Bench calls
    * it after every rep, so a memo consumer's timed min includes its own
    * artifact build; Verify and PlanDump call it after every query, so
    * cut blocks do not pile up over a whole-suite walk. */
  def resetSharedState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.GraphOps.evictShared(spark)
    org.apache.spark.RddBlocks.unpersistAll(spark.sparkContext)
  }

  /** One query's timed reps, in seconds, and whether its warm pass and
    * every rep ran without throwing. */
  final case class QueryResult(name: String, secs: Seq[Double], ok: Boolean)

  /** The two stdout lines: the full line (`queries` holds each query's
    * raw min) and the summary. A query with no rep reads -1 and is left
    * out of the totals; a failed query keeps its time and is named in
    * `failed` on both lines. */
  private[graft] def render(sfDir: String, reps: Int,
      results: Seq[QueryResult]): (String, String) = {
    val failed = results.filterNot(_.ok).map(_.name)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    // (name, raw min, raw median of reps)
    val rows = results.map { r =>
      if (r.secs.isEmpty) (r.name, -1.0, -1.0)
      else (r.name, r.secs.min, median(r.secs))
    }
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = rows.map(_._2).filter(_ >= 0).sum
    val totalMed = rows.map(_._3).filter(_ >= 0).sum
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(rows.map(r => (r._1, r._2)))},"sf":"$sfDir","reps":$reps,"n_failed":${failed.size},"failed":$failedJson}"""
    // the summary comes LAST and stays short: a record that keeps only
    // the tail of the output still has the totals and the heaviest
    // queries
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def obj3(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // top 20 selected and sorted by raw min, the noise-robust estimate of
    // a query's cost; a query whose median is >2× its own min in one run
    // was load-spiked, and is named in `load_spiked`
    val top20 = rows.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val loadSpiked = rows
      .filter(r => r._2 > 0 && r._3 / r._2 > 2.0)
      .sortBy(r => -(r._3 / r._2))
      .map(r => "\"" + r._1 + "\":" + r3(r._3 / r._2))
      .mkString("{", ",", "}")
    val summary = s"""{"metric":"summary","unit":"sec","sf":"$sfDir","n_queries":${rows.size},"total_raw_min":${r3(total)},"total_raw_median":${r3(totalMed)},"top20_raw_min":${obj3(top20.map(r => (r._1, r._2)))},"top20_by_min_raw_median":${obj3(top20.map(r => (r._1, r._3)))},"load_spiked":$loadSpiked,"n_failed":${failed.size},"failed":$failedJson}"""
    (full, summary)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", LocalSession.sfDir("0.1"))
    val spark = LocalSession.builder().getOrCreate()

    // warmup: JIT + codegen + FS metadata, untimed
    spark.range(1000000).selectExpr("sum(id)").collect()
    // per-query warm pass at the TARGET sf: AQE picks different physical
    // plans at different data sizes, so warming on a smaller sf leaves
    // the timed pass paying Janino compile for every re-planned stage.
    val doWarm = sys.env.getOrElse("SPARK_GRAFT_WARM", "1") == "1"
    // Per query: min of `reps` timed runs, the noise-robust estimate of
    // sustained plan cost. Each rep pays the full cost: the reset after
    // every rep drops what a query could ride, so nothing is subsidized
    // across runs.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    // SPARK_GRAFT_ONLY=q86_knn_graph,q70_pagerank → time just those
    // (single-query iteration; unset, every query runs)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        // progress marker: when a run stalls, the LAST marker names the
        // query that is stuck
        System.err.println(s"[bench] start $name")
        // a query that throws in the warm pass or in any rep is FAILED:
        // named in both output lines, and the run exits non-zero
        var ok = true
        def run(what: String): Unit =
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name $what failed: ${e.getMessage}")
            ok = false
          }
        if (doWarm) {
          run("warm pass")
          resetSharedState(spark)
        }
        val secs = (1 to reps).map { i =>
          val c0 = compiles.getCount
          val cNs0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          run("rep")
          // a failed rep keeps its time: dropping it would make a crash
          // read as a speedup of the total
          val sec = (System.nanoTime() - t0) / 1e9
          val cMs = (CodeGenerator.compileTime - cNs0) / 1e6
          System.err.println(f"[bench] $name rep$i: $sec%.3f s, " +
            f"${compiles.getCount - c0} compiles, $cMs%.0f ms compile")
          resetSharedState(spark)
          sec
        }
        QueryResult(name, secs, ok)
      }
    val (full, summary) = render(sfDir, reps, results)
    println(full)
    println(summary)
    spark.stop()
    if (results.exists(!_.ok)) sys.exit(1)
  }
}
