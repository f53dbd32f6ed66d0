package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Pinned output checksums (`pins.json`), one section per workload. A pin
  * is valid only for the inputs it was captured on, so each section names
  * its fixture; a section for another fixture is ignored, and every
  * output then fails its check. */
object Pins {
  private val mapper = new ObjectMapper()

  def load(path: Path, workload: String, fixture: String): Map[String, String] = {
    if (!Files.exists(path)) return Map.empty
    val section = mapper.readTree(Files.readString(path)).path(workload)
    if (section.path("fixture").asText() != fixture) Map.empty
    else section.path("checksums").fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** Writes one workload's section, to be merged into `pins.json`. */
  def write(path: Path, workload: String, fixture: String,
      sums: Map[String, String]): Unit =
    Files.writeString(path, Json.obj(Seq(workload -> Json.Raw(Json.obj(Seq(
      "fixture" -> fixture,
      "checksums" -> Json.Raw(Json.obj(sums.toSeq.sortBy(_._1)))))))) + "\n")
}
