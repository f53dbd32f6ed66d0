package graft

import org.apache.spark.sql.functions._

/** Synthetic N× scale-up generator for scaling evidence.
  *
  * No sf1 testdata exists, so the "does this survive 10× more data"
  * question is answered by self-unioning the sf0.1 tables N times with
  * key columns offset per copy: every copy is a DISJOINT replica — key
  * cardinalities, join fan-outs, and group counts all scale by N, which
  * is the honest scale-up (re-unioning without salting would just
  * multiply duplicate rows per existing key and understate shuffle
  * growth). Non-key attributes (text, sources, event types, dates)
  * repeat across copies, so value distributions — and therefore
  * aggregate shapes per key — are preserved.
  *
  * Usage: `runMain graft.ScaleUnion <srcDir> <outDir> [factor]`, then
  * point `SPARK_GRAFT_SF_DIR` at `<outDir>` for a normal Bench run.
  */
object ScaleUnion {

  /** Key columns offset per copy, per table. Offsets use each key's
    * (max+1) so copies never collide. Keys that join across tables
    * (orderkey, custkey, suppkey) are salted with the SAME per-table
    * constant on both sides, so each copy keeps the original join
    * structure — 10 disjoint trade graphs, not one 10×-denser one. */
  val keyCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_suppkey", "l_partkey"),
    // dimensions join the facts, so they replicate with the SAME
    // shared-group offsets — copying them unchanged would leave copies
    // 1..N-1 of the facts with dangling foreign keys, and dim-joining
    // queries' join output would stay at 1× while scans grew N×
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey")
  )

  /** Join-key groups that must share one offset so cross-table joins
    * stay intact within a copy: (table, column) -> group id. */
  val sharedOffsets: Map[(String, String), String] = Map(
    ("orders", "o_orderkey") -> "orderkey",
    ("lineitem", "l_orderkey") -> "orderkey",
    ("orders", "o_custkey") -> "custkey",
    ("customer", "c_custkey") -> "custkey",
    ("lineitem", "l_suppkey") -> "suppkey",
    ("supplier", "s_suppkey") -> "suppkey",
    ("lineitem", "l_partkey") -> "partkey",
    ("part", "p_partkey") -> "partkey"
  )

  /** Genuinely fixed-cardinality dimensions: nation/region stay 1× (25 /
    * 5 rows at every real scale factor), so their join fan-in growing N×
    * is the realistic shape, not a modeling artifact. */
  val copyTables = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse(LocalSession.sfDir("0.1"))
    val outDir = args.lift(1).getOrElse("/tmp/graft_scale10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession.builder().getOrCreate()

    // one offset per shared-key group, computed from the max across the
    // tables that carry it
    val maxes = scala.collection.mutable.Map[String, Long]()
    for ((table, cols) <- keyCols) {
      val df = spark.read.parquet(s"$srcDir/$table.parquet")
      for (c <- cols) {
        val grp = sharedOffsets.getOrElse((table, c), s"$table.$c")
        val m = df.agg(max(col(c))).collect()(0).getLong(0)
        maxes(grp) = math.max(maxes.getOrElse(grp, 0L), m)
      }
    }

    for ((table, cols) <- keyCols) {
      val df = spark.read.parquet(s"$srcDir/$table.parquet")
      val copies = (0 until factor).map { i =>
        cols.foldLeft(df) { (d, c) =>
          val grp = sharedOffsets.getOrElse((table, c), s"$table.$c")
          d.withColumn(c, col(c) + lit(i * (maxes(grp) + 1L)))
        }
      }
      copies.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scaleunion] $table x$factor written")
    }
    for (table <- copyTables) {
      spark.read.parquet(s"$srcDir/$table.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scaleunion] $table copied (dimension)")
    }
    spark.stop()
  }
}
