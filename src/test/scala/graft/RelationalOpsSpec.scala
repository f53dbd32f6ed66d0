package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Behavioral tests for the relational/join additions (q46-q55): semantic
  * invariants the DuckDB oracle can't state (equivalence to unsalted
  * plans, as-of ordering contracts, quantization error bounds). */
class RelationalOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  val dir = TestSession.sfDir("0.001")

  test("set ops partition the customer keys exactly") {
    val out = RelationalOps.setOps(spark, dir)
    val total = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(out.count() == total) // every customer in exactly one side
    assert(out.select("c_custkey").distinct().count() == total)
  }

  test("pivot counts match the per-type groupBy") {
    val out = RelationalOps.pivotCounts(spark, dir)
    val plain = EtlOps.events(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("click")) ==
        plain.getOrElse(r.getLong(0), 0L))
    }
  }

  test("percentiles are order statistics of the group") {
    val rows = RelationalOps.percentiles(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90, p99) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("as-of join: match is at-or-before, and some purchases have no prior click") {
    val out = JoinOps.asofJoin(spark, dir).collect()
    assert(out.nonEmpty)
    out.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getString(3) <= r.getString(2), // ts strings sort temporally
        s"click ${r.getString(3)} after purchase ${r.getString(2)}")
    }
    // cross-check one user against a driver-side as-of computation
    val uid = out.head.getLong(0)
    val evs = EtlOps.events(spark, dir)
      .filter(col("user_id") === uid)
      .select(col("event_type"), col("ts").cast("string"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = evs.filter(_._1 == "purchase").sortBy(_._3).map { p =>
      val prior = evs.filter(e => e._1 == "click" && e._2 <= p._2)
      (p._3, if (prior.isEmpty) null else prior.map(_._2).max)
    }.toMap
    out.filter(_.getLong(0) == uid).foreach { r =>
      assert(expected(r.getLong(1)) ==
        (if (r.isNullAt(3)) null else r.getString(3)))
    }
  }

  test("salted skew join equals the plain join aggregate") {
    val salted = JoinOps.saltedSkewJoin(spark, dir).collect()
    val plain = EtlOps.events(spark, dir)
      .groupBy(concat(lit("u"), col("user_id")).as("user_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("total_value"))
      .orderBy("user_name").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("banded range join covers every lineitem exactly once") {
    val out = JoinOps.bandedRangeJoin(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(out.map(_.getLong(1)).sum == total) // bands partition the domain
  }

  test("random projection matches an independent Scala recomputation") {
    val out = SimilarityOps.randomProjection(spark, dir)
      .filter(col("vec_id") < 5).collect()
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 5)
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for (r <- out; p <- 1 to SimilarityOps.ProjDims) {
      val x = embs(r.getLong(0))
      val want = (1 to VecSql.Dims).map { j =>
        val k = (1103515245L * (7919L + (p - 1) * VecSql.Dims + (j - 1)) + 12345L) % 2147483648L
        (k.toDouble / 2147483648.0 - 0.5) * x(j - 1)
      }.sum
      val got = r.getDouble(p) // columns: vec_id, d01..d16
      assert(math.abs(got - want) < 2e-6, s"vec ${r.getLong(0)} d$p: $got vs $want")
    }
  }

  test("random projection contracts pairwise distances only by bounded distortion") {
    // JL sanity: for a sample of pairs, projected distance is within a
    // loose multiplicative band of the original (16 of 64 dims)
    val orig = SimilarityOps.baseVectors(spark, dir)
      .filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val proj = SimilarityOps.randomProjection(spark, dir)
      .filter(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) ->
        (1 to SimilarityOps.ProjDims).map(r.getDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- orig.keys.toSeq.sorted; jj <- orig.keys.toSeq.sorted if i < jj
    } yield d2(proj(i), proj(jj)) / d2(orig(i), orig(jj))
    // E[ratio] = ProjDims/12 · ... under the ±½-uniform construction the
    // scale factor is fixed; just require the spread stays within 100×
    val sorted = ratios.sorted
    assert(sorted.last / sorted.head < 100.0,
      s"distortion spread too wide: ${sorted.head} .. ${sorted.last}")
  }

  test("ann recall audit counts the true overlap of exact and projected top-5") {
    val recall = SimilarityOps.annRecall(spark, dir).collect()
    assert(recall.length == 8)
    assert(recall.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 5))
    // recompute one query's overlap from the two rankings directly
    val exact = SimilarityOps.cosineTopK(spark, dir)
      .filter(col("q_id") === 4).select("cand_id")
      .collect().map(_.getLong(0)).toSet
    // projected ranking for q_id 4 via the public projection output
    val proj = SimilarityOps.randomProjection(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (1 to SimilarityOps.ProjDims).map(r.getDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val q4 = proj(4L)
    val top = proj.toSeq.filter(_._1 != 4L)
      .map { case (id, v) => (id, cos(q4, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    val want = (exact & top).size.toLong
    assert(recall.find(_.getLong(0) == 4L).get.getLong(1) == want)
  }

  test("vector quantization: codes in range, reconstruction error within half-step") {
    val v = SimilarityOps.quantizeVectors(spark, dir)
    val withBound = SimilarityOps.baseVectors(spark, dir)
      .selectExpr("vec_id",
        s"(${VecSql.vMax("emb", spark = true)} - ${VecSql.vMin("emb", spark = true)}) / 255.0 AS sc")
    val joined = v.join(withBound, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val qsum = r.getLong(r.fieldIndex("qsum"))
      assert(qsum >= 0 && qsum <= 255L * VecSql.Dims)
      val err = r.getDouble(r.fieldIndex("max_err"))
      val sc = r.getDouble(r.fieldIndex("sc"))
      assert(err <= sc * 0.5 + 1e-12, s"err $err exceeds half-step ${sc / 2}")
    }
  }

  test("vector quantization: constant vector (sc = 0) is defined — code 0, zero error") {
    // degenerate edge: vmax == vmin makes the step size 0; the guarded
    // generator must pin every code to 0 (not divide 0/0 into NaN)
    val df = spark.sql(
      s"SELECT transform(sequence(1, ${VecSql.Dims}), x -> 7.0D) AS emb")
      .selectExpr(
        s"${VecSql.vMin("emb", spark = true)} AS vmin",
        s"${VecSql.vMax("emb", spark = true)} AS vmax", "emb")
      .selectExpr("emb", "vmin", "(vmax - vmin) / 255.0 AS sc")
      .selectExpr("emb", "vmin", "sc",
        "CASE WHEN sc = 0.0 THEN 1.0 ELSE sc END AS scdiv")
      .selectExpr(
        s"CAST(${VecSql.quantSum("emb", spark = true)} AS BIGINT) AS qsum",
        s"${VecSql.quantMaxErr("emb", spark = true)} AS max_err")
      .head()
    assert(df.getLong(0) == 0L)
    assert(df.getDouble(1) == 0.0)
  }

  test("chunking tiles every document's token axis with the configured stride") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = TextOps.chunkDocuments(spark, dir).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val n = docs(id)
      val expected = ((n - 1) / TextOps.ChunkStride) + 1
      assert(cs.length == expected, s"doc $id chunk count")
      assert(cs.forall(_.getLong(3) <= TextOps.ChunkTokens))
      // last chunk reaches the end of the document
      val last = cs.maxBy(_.getLong(1))
      assert(last.getLong(2) + last.getLong(3) == n)
    }
  }

  test("q208 native top-k agg: output is row-identical to the window idiom") {
    val native = RelationalOps.topkNative(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val window = RelationalOps.topkEventsWindow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(native.nonEmpty)
    assert(native.toSeq == window.toSeq,
      s"native top-k diverged from the window form " +
        s"(${native.length} vs ${window.length} rows)")
    // groups with fewer than k events emit all of them, ranked
    native.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
      // scores descend with rank; event_id breaks ties ascending
      val byRank = rs.sortBy(_._2)
      byRank.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
        case _ =>
      }
    }
  }

  test("q208 topk_agg: merge across partition counts is stable") {
    // the aggregate's partials must merge to the same result however
    // the input is partitioned — repartition and compare
    val base = EtlOps.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 1e6).cast("bigint").as("s"))
    def run(parts: Int) = base.repartition(parts)
      .groupBy("user_id")
      .agg(expr(s"topk_agg(s, event_id, 3)").as("tk"))
      .selectExpr("user_id", "cast(tk as string) AS t")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(run(1) == run(7), "topk_agg result depends on partitioning")
  }
}
