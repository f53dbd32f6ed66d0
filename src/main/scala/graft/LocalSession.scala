package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is configured: every main and the test
  * session build through [[builder]], so the contract the queries and
  * the DuckDB oracle depend on is written down once.
  *
  *  - UTC session time zone.
  *  - `events.ts` reads as TIMESTAMP_LTZ under both testdata
  *    generations: `nanosAsLong` turns the older TIMESTAMP(NANOS)
  *    encoding into longs (EtlOps.events converts them), and with NTZ
  *    inference off the newer naive timestamp[us] is not read as
  *    TIMESTAMP_NTZ, which breaks watermarks and `Row.getTimestamp`.
  *  - `GraftExtensions` injects the native expressions.
  *  - 4g `maxResultSize`: headroom for collected results and AQE
  *    broadcast builds on the 10× ScaleUnion fixtures (default 1g).
  */
object LocalSession {

  /** Cores for `local[n]`: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  private val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Fixture root holding the `sfX` testdata dirs; `SPARK_GRAFT_TESTDATA`
    * overrides the machine layout. */
  private val fixtureRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** `/…/sfX` fixture dir for a scale factor ("0.001", "0.01", …). */
  def sfDir(sf: String): String = s"$fixtureRoot/sf$sf"

  /** `local[cores]` with one shuffle partition per core and the session
    * contract above; callers add only what is theirs. */
  def builder(cores: Int = LocalSession.cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
}
