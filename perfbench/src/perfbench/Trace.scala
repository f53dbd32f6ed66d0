package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val name: String,
    val startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around the calls the
  * benchmark makes into each layer. Before every call the span's id is
  * set as the Spark job group, so every job Spark runs inside the call —
  * lineage cuts during query construction included — is tied back to the
  * span by [[JobListener]]. Spans stay in memory until [[write]].
  *
  * With `enabled = false` nothing is recorded and no listener is added:
  * that is the untraced run the end-to-end metrics come from. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
    val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  val jobs = new JobListener
  val plans = new PlanListener
  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Wall-clock milliseconds of a `System.nanoTime` reading, on the
    * clock Spark's listener events use. */
  def epochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val s = new Span(nextId, stack.headOption.fold(0L)(_.id), name,
      System.nanoTime())
    attrs.foreach(kv => s.attrs(kv._1) = kv._2)
    spans += s
    byId(s.id) = s
    stack = s :: stack
    setGroup(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => setGroup(p)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Attach a value to the innermost open span. */
  def annotate(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  private def setGroup(s: Span): Unit =
    spark.sparkContext.setJobGroup(groupOf(s.id), s.name,
      interruptOnCancel = false)

  private def groupOf(id: Long): String = s"perfbench-$runId-$id"

  def all: Seq[Span] = spans.toSeq

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** The span a job group names, if it is one of this run's spans. */
  def spanOfGroup(group: String): Option[Span] =
    Option(group).filter(_.startsWith(s"perfbench-$runId-"))
      .flatMap(g => byId.get(g.stripPrefix(s"perfbench-$runId-").toLong))

  /** `s` or its nearest ancestor named `name`. */
  def ancestor(s: Span, name: String): Option[Span] =
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).flatten.find(_.name == name)

  /** Spark-layer and Catalyst-layer numbers over the jobs and plans of
    * `ops` (the timed operations of the measured phase), per `units`
    * (passes, or ingest runs). */
  def sparkLayer(ops: Seq[Span], opName: String, units: Int, wallS: Double,
      cores: Int): Map[String, Double] = {
    drain()
    val opIds = ops.map(_.id).toSet
    val opJobs = jobs.snapshot.filter { j =>
      spanOfGroup(j.group).flatMap(ancestor(_, opName)).exists(o => opIds(o.id))
    }
    val stageIds = opJobs.flatMap(_.stageIds).toSet
    val stages = jobs.stageSnapshot.filter(s => stageIds(s._1)).values.toSeq
    val windows = ops.map(o => (epochMs(o.startNs), epochMs(o.endNs)))
    val opPlans = plans.snapshot.filter(p =>
      windows.exists { case (a, b) => p.endMs >= a && p.endMs <= b })
    val u = math.max(units, 1).toDouble
    val runMs = stages.map(_.runMs).sum
    def median(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2).toDouble }
    val skew = stages.filter(_.durs.size >= 2).map { s =>
      val m = median(s.durs.toSeq); if (m > 0) s.durs.max / m else 1.0
    }
    Map(
      "spark.jobs" -> opJobs.size / u,
      "spark.stages" -> stages.size / u,
      "spark.tasks" -> stages.map(_.tasks).sum / u,
      "spark.executor_run_s" -> runMs / 1e3 / u,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / u,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3 / u,
      "spark.task_wait_s" -> stages.map(_.waitMs).sum / 1e3 / u,
      "spark.busy_share" ->
        (if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0),
      "spark.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / u,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum / u,
      "spark.spill_bytes" -> stages.map(_.spill).sum / u,
      "spark.input_bytes" -> stages.map(_.input).sum / u,
      "catalyst.analysis_ms" -> opPlans.map(_.analysisMs).sum / u,
      "catalyst.optimization_ms" -> opPlans.map(_.optimizationMs).sum / u,
      "catalyst.planning_ms" -> opPlans.map(_.planningMs).sum / u,
      "catalyst.plans" -> opPlans.size / u)
  }

  /** Jobs whose group names no span of this run. The acceptance rule is
    * that there are none. */
  def orphanJobs: Int = {
    drain()
    jobs.snapshot.count(j => spanOfGroup(j.group).isEmpty)
  }

  /** Write every span, with one `spark.job` span per job, as JSON lines. */
  def write(path: java.nio.file.Path, header: String): Unit = {
    if (!enabled) return
    drain()
    val sb = new StringBuilder(header).append('\n')
    def line(id: String, parent: String, name: String, start: Double,
        end: Double, attrs: Iterable[(String, Any)]): Unit = {
      sb.append(s"""{"run":${Json.str(runId)},"id":${Json.str(id)},""" +
        s""""parent":${Json.str(parent)},"name":${Json.str(name)},""" +
        s""""start_ms":${Json.num(start)},"end_ms":${Json.num(end)},""" +
        s""""attrs":${Json.obj(attrs.toSeq)}}""").append('\n')
    }
    spans.foreach(s => line(s.id.toString, s.parent.toString, s.name,
      epochMs(s.startNs), epochMs(s.endNs), s.attrs))
    jobs.snapshot.foreach { j =>
      line(s"job-${j.id}", spanOfGroup(j.group).fold("")(_.id.toString),
        "spark.job", j.startMs.toDouble, j.endMs.toDouble,
        Seq("stages" -> j.stageIds.size))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Job, stage and task counters from Spark's own listener API. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long,
      stageIds: Seq[Int]) { var endMs: Long = -1L }
  final class Stage {
    var submitMs = -1L
    var tasks = 0
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleWrite, shuffleRead, spill, input = 0L
    val durs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .orNull
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t =>
        stages.getOrElseUpdate(e.stageInfo.stageId, new Stage).submitMs = t)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    val m = e.taskMetrics
    s.tasks += 1
    s.durs += e.taskInfo.duration
    if (s.submitMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }
  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
  def stageSnapshot: Map[Int, Stage] = synchronized(stages.toMap)
}

/** Catalyst phase times of every query execution Spark reports. */
final class PlanListener extends QueryExecutionListener {
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  private val plans = mutable.ArrayBuffer.empty[Plan]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).fold(0L)(_.durationMs)
    val end = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.endTimeMs).max
    synchronized(plans += Plan(end, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
  def snapshot: Seq[Plan] = synchronized(plans.toSeq)
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** A top-level number field of a JSON object, if present. */
  def numberField(json: String, name: String): Option[Double] =
    Option(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get(name))
      .filter(_.isNumber).map(_.asDouble)
}
