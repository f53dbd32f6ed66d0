package graft

import org.apache.spark.sql.SparkSession

/** One local session shared across suites: [[LocalSession]] at a fixed
  * 4 cores, so partition counts and plans do not depend on the host. */
object TestSession {

  def sfDir(sf: String): String = LocalSession.sfDir(sf)

  lazy val spark: SparkSession = LocalSession.builder(cores = 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
