package graft.plans

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Discovery

/** The partition-freshness monitor: Spark re-expression of the
  * reference's `check_bucket_latest_folders.py` (EP3).
  *
  * The reference walks S3 taking the lexicographically-last subfolder at
  * each level to find the latest `yyyy/MM/dd` per (environment, source)
  * (`:52-62`), then applies a cascade of hardcoded exception rules — a
  * static-tables map with per-env minimum dates (`:95-141`, e.g. BOID @
  * 2019-03-19) and grace maps for 2/7/14/30/60 days (`:143-238`) — via
  * list differences (`:222-229`).
  *
  * Here the partitions come from [[Discovery.discover]], the ingest job's
  * own walk, whose path parse already yields each file's date; "latest"
  * is a max-aggregate over them. The rules are DATA (two small
  * DataFrames) and the cascade is two broadcast anti-join-shaped
  * predicates. That keeps the monitor one narrow aggregation + two tiny
  * joins at any scale.
  */
object FreshnessCheck {

  /** A static-source exemption: stale is OK as long as the latest date is
    * at least `minDate` (reference static_tables map, `:95-141`). */
  final case class StaticRule(environment: String, source: String,
      minDate: LocalDate)

  /** An N-day grace window per (environment, source)
    * (reference get_tables_to_skip maps, `:143-238`). */
  final case class GraceRule(environment: String, source: String,
      graceDays: Int)

  /** Freshness states: partitions DataFrame must have columns
    * (environment, source_name, latest_date: date). Returns the
    * not-up-to-date rows after exempting static + in-grace sources. */
  def findStale(spark: SparkSession, latest: DataFrame,
      staticRules: Seq[StaticRule], graceRules: Seq[GraceRule],
      today: LocalDate): DataFrame = {
    import spark.implicits._
    val stale = latest.filter(col("latest_date") < lit(today.toString).cast("date"))
    val statics = staticRules
      .map(r => (r.environment, r.source, r.minDate.toString))
      .toDF("s_env", "s_src", "s_min")
    val graces = graceRules
      .map(r => (r.environment, r.source, r.graceDays))
      .toDF("g_env", "g_src", "g_days")
    stale
      // static exemption: latest_date >= rule minDate → OK
      .join(broadcast(statics),
        col("environment") === col("s_env") &&
          col("source_name") === col("s_src") &&
          col("latest_date") >= col("s_min").cast("date"),
        "left_anti")
      // grace exemption: latest_date >= today - graceDays → OK
      .join(broadcast(graces),
        col("environment") === col("g_env") &&
          col("source_name") === col("g_src") &&
          col("latest_date") >=
            date_sub(lit(today.toString).cast("date"), col("g_days")),
        "left_anti")
      .orderBy("environment", "source_name")
  }

  /** Latest partition date per (environment, source) over the files
    * [[Discovery.discover]] walked — the same walk `IngestionJob.run`
    * starts from; malformed paths are already dropped there. Columns:
    * (environment, source_name, latest_date: date), the input of
    * [[findStale]] and [[checkAndNotify]]. */
  def latestPerSource(spark: SparkSession,
      files: Seq[Discovery.IngestionFile]): DataFrame = {
    import spark.implicits._
    files.map(f => (f.environment, f.entity, f.date))
      .toDF("environment", "source_name", "date")
      .groupBy("environment", "source_name")
      .agg(max(col("date")).as("latest_date"))
  }

  /** The full monitor run (reference `check_bucket_latest_folders.py`
    * tail: assemble the not-up-to-date list and post it): computes the
    * stale set and, when non-empty, notifies with one line per
    * (environment, source). Returns the stale rows for the caller.
    *
    * The stale set is a per-(environment, source) AGGREGATE — its size
    * is bounded by the number of configured sources (hundreds), not by
    * data volume, so the driver-side collect here is O(sources) at any
    * scale. */
  def checkAndNotify(spark: SparkSession, latest: DataFrame,
      staticRules: Seq[StaticRule], graceRules: Seq[GraceRule],
      today: LocalDate, notifier: Notifier): Array[(String, String, String)] = {
    val stale = findStale(spark, latest, staticRules, graceRules, today)
      .select(col("environment"), col("source_name"),
        col("latest_date").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    if (stale.nonEmpty) {
      val lines = stale.map { case (env, src, d) =>
        s"$env/$src latest=$d" }
      notifier.notify(
        s"Tables not up to date (${stale.length}):\n" + lines.mkString("\n"))
    }
    stale
  }
}

/** Out-of-data-path notification (reference `SlackNotifier.py`): a trait
  * so tests run hermetically; production would POST the webhook. */
trait Notifier { def notify(text: String): Unit }
object NoopNotifier extends Notifier { def notify(text: String): Unit = () }
final class BufferingNotifier extends Notifier {
  val messages = scala.collection.mutable.ArrayBuffer[String]()
  def notify(text: String): Unit = messages += text
}
