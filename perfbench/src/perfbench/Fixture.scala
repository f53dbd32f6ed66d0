package perfbench

import java.nio.file.Paths
import java.time.{LocalDateTime, ZoneOffset}

/** The two tables the query workloads read, `documents` and `events`,
  * generated with the column names, types and value distributions of the
  * repo's synthetic test tables (the 30-word vocabulary, 10–100 words a
  * document, ~5% near-duplicates marked by a trailing " dup", events over
  * 30 days with exponential values). The generator seed is fixed, not
  * taken from `--seed`: the query outputs are pinned in `pins.json`, so
  * the tables must be the same on every run.
  *
  * Table sizes follow the scale rule of those test tables (sf0.001,
  * sf0.01 and sf0.1 hold max(500, 50000 * sf) documents, 1000000 * sf
  * events and 15000 * sf users) at [[Sf]] = 0.02: at sf0.1 the graph
  * queries take 3.3-11.2 s each on 4 cores, and the runs the benchmark
  * needs would not fit its time budget. */
object Fixture {
  val Seed = 42L
  val Sf = 0.02
  val Documents: Int = math.max(500, math.round(50000 * Sf).toInt)
  val Events: Int = math.round(1000000 * Sf).toInt
  val Users: Int = math.round(15000 * Sf).toInt

  private val Words = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "es", "zh", "de", "fr")
  private val EventTypes = Array("view", "click", "signup", "purchase", "error")

  /** Identifies the generated tables; part of every pin. */
  val Id = s"docs$Documents-events$Events-users$Users-seed$Seed"

  def write(dir: String): Unit = {
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val rng = new java.util.SplittableRandom(Seed)
    val texts = new Array[String](Documents)
    val docs = (0 until Documents).map { i =>
      val r = rng.nextDouble()
      texts(i) =
        if (i > 0 && r < 0.05) texts(rng.nextInt(i)) + " dup"
        else if (i > 0 && r < 0.052) texts(rng.nextInt(i))
        else Array.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.length)))
          .mkString(" ")
      val l = rng.nextDouble()
      val lang = if (l < 0.41) "en" else Langs(1 + ((l - 0.41) / 0.1475).toInt.min(3))
      Seq(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    ParquetOut.write(Paths.get(dir, "documents.parquet"),
      ParquetOut.schema("documents", ParquetOut.long("doc_id"),
        ParquetOut.string("text"), ParquetOut.string("lang"),
        ParquetOut.string("source"), ParquetOut.long("n_chars")),
      docs)

    val startMicros = LocalDateTime.of(2024, 1, 1, 0, 0)
      .toEpochSecond(ZoneOffset.UTC) * 1000000
    val spanMicros = 30L * 24 * 3600 * 1000000
    val offsets = Array.fill(Events)(rng.nextLong(spanMicros)).sorted
    val events = offsets.indices.map { i =>
      val value = math.rint(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100
      Seq(i.toLong, startMicros + offsets(i), rng.nextInt(Users).toLong,
        EventTypes(rng.nextInt(EventTypes.length)), value,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    ParquetOut.write(Paths.get(dir, "events.parquet"),
      ParquetOut.schema("events", ParquetOut.long("event_id"),
        ParquetOut.timestamp("ts"), ParquetOut.long("user_id"),
        ParquetOut.string("event_type"), ParquetOut.double("value"),
        ParquetOut.string("props")),
      events)
  }
}
