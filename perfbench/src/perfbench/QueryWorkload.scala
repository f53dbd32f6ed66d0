package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A query workload: passes over a fixed list of `SparkEntry.queries`.
  *
  * Every pass starts with the public `Bench.resetSharedState` and never
  * calls it inside the pass, so artifacts the queries share within one
  * session are reused and artifacts from an earlier pass are not. The
  * seed fixes the query order (see [[order]]), the same in every pass.
  * A query's time is
  * construction (the query function, eager lineage cuts included) plus a
  * full-evaluation action that checksums every output column; a query
  * that throws or fails its checksum counts as failed and its time up to
  * that point stays in the pass. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer,
    names: Seq[String], seed: Long, pins: Map[String, String])
    extends Workload {

  /** The first query of a pass builds the artifacts the queries share
    * (`memoShared`: the co-occurrence edges all five read, the HyperBall
    * rounds q382 reads from q380), so the first query is fixed and the
    * seed orders the rest. Otherwise the seed would decide which query
    * pays for them and move `op_geomean_s`. */
  val order: Seq[String] = names.head +: new scala.util.Random(seed).shuffle(names.tail)
  private var dir: String = _

  final case class Outcome(name: String, seconds: Double, ok: Boolean,
      checksum: String, error: String)

  private val outcomes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
  private val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var measuredFrom = 0

  def generate(root: String): Unit = {
    Fixture.write(root)
    dir = root
  }

  def warmUp(): Unit = pass()

  def startMeasuring(): Unit = {
    measuredFrom = outcomes.size
    passWalls.clear()
  }

  def pass(): Double = {
    graft.Bench.resetSharedState(spark)
    var wall = 0.0
    tracer.span("pass") {
      order.foreach { q => wall += runQuery(q) }
    }
    passWalls += wall
    wall
  }

  private def runQuery(name: String): Double = tracer.span("query", "query" -> name) {
    val t0 = System.nanoTime()
    val (ok, sum, err) =
      try {
        val df = tracer.span("construct")(graft.SparkEntry.queries(name)(spark, dir))
        val sum = tracer.span("action")(QueryWorkload.checksum(df))
        pins.get(name) match {
          case Some(p) if p == sum => (true, sum, "")
          case Some(p) => (false, sum, s"checksum $sum != pinned $p")
          case None => (false, sum, "no pinned checksum")
        }
      } catch {
        case e: Throwable => (false, "", s"${e.getClass.getName}: ${e.getMessage}")
      }
    val sec = (System.nanoTime() - t0) / 1e9
    tracer.annotate("ok", ok)
    outcomes += Outcome(name, sec, ok, sum, err)
    if (!ok) System.out.println(s"[perfbench] FAILED $name: $err")
    sec
  }

  private def measured: Seq[Outcome] = outcomes.drop(measuredFrom).toSeq

  def attempted: Int = measured.size
  def failed: Int = measured.count(!_.ok)
  def checksFailed: Int = outcomes.count(!_.ok)

  def endToEnd: Map[String, Double] = {
    val perQuery = measured.groupBy(_.name).map { case (_, os) =>
      Stats.median(os.map(_.seconds)) }
    Map(
      "suite_s" -> Stats.median(passWalls.toSeq),
      "op_geomean_s" -> Stats.geomean(perQuery.toSeq))
  }

  def samples: Seq[(String, Any)] = Seq(
    "order" -> order,
    "pass_s" -> passWalls.toSeq,
    "queries" -> measured.map(o => Map("name" -> o.name, "s" -> o.seconds,
      "ok" -> o.ok, "checksum" -> o.checksum, "error" -> o.error)))

  def fixture: String = Fixture.Id
  def checksums: Map[String, String] =
    outcomes.filter(_.checksum.nonEmpty).map(o => o.name -> o.checksum).toMap

  def perLayer(cores: Int): Map[String, Double] = {
    val spans = tracer.all
    val passes = spans.filter(_.name == "pass").drop(1) // the first is the warm-up
    val passIds = passes.map(_.id).toSet
    val queries = spans.filter(s => s.name == "query" &&
      tracer.ancestor(s, "pass").exists(p => passIds(p.id)))
    val n = math.max(passes.size, 1)
    def total(name: String): Seq[Span] = spans.filter(s => s.name == name &&
      tracer.ancestor(s, "query").exists(q => queries.exists(_.id == q.id)))
    val constructIds = total("construct").map(_.id).toSet
    val constructJobs = tracer.jobs.snapshot.count(j =>
      tracer.spanOfGroup(j.group).flatMap(tracer.ancestor(_, "construct"))
        .exists(c => constructIds(c.id)))
    tracer.sparkLayer(queries, "query", n, passes.map(_.seconds).sum, cores) ++
      Map(
        "operators.construct_s" -> total("construct").map(_.seconds).sum / n,
        "operators.construct_jobs" -> constructJobs.toDouble / n,
        "operators.action_s" -> total("action").map(_.seconds).sum / n)
  }
}

object QueryWorkload {
  val GraphRounds = Seq("q380_hyperball", "q382_harmonic_centrality",
    "q375_attack_robustness", "q390_luby_mis", "q319_lpa_communities")

  /** Order-independent checksum of a whole result: row count, then the
    * XOR and the two 32-bit-half sums of each row's xxhash64 over every
    * column. Hashing every column means no column can be pruned from the
    * plan, unlike `count()`. */
  def checksum(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")),
        sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"${l(0)}%d:${l(1)}%016x:${l(2)}%x:${l(3)}%x"
  }
}
