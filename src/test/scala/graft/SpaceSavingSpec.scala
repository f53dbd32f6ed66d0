package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SpaceSavingAgg
import graft.operators.ProfileOps

/** Specs for the native Space-Saving heavy-hitters aggregate (q117):
  * unit-level state semantics, the merge rule, and the end-to-end
  * guarantees under different partitionings.
  */
class SpaceSavingSpec extends AnyFunSuite {

  private val spark = TestSession.spark

  test("state tracks exact counts while under capacity") {
    val st = new SpaceSavingAgg.State(4)
    Seq(1L, 1L, 2L, 3L, 1L, 2L).foreach(st.add)
    val m = st.sortedEntries.map(e => e._1 -> (e._2, e._3)).toMap
    assert(m == Map(1L -> (3L, 0L), 2L -> (2L, 0L), 3L -> (1L, 0L)))
  }

  test("eviction inherits the minimum count as the error bound") {
    val st = new SpaceSavingAgg.State(2)
    Seq(1L, 1L, 2L, 3L).foreach(st.add) // 3 evicts 2 (count 1)
    val m = st.sortedEntries.map(e => e._1 -> (e._2, e._3)).toMap
    assert(m(1L) == (2L, 0L))
    assert(m(3L) == (2L, 1L)) // est 2 = evicted 1 + its own 1; err 1
  }

  test("merge preserves the overestimate contract on a crafted split") {
    val a = new SpaceSavingAgg.State(2)
    Seq(1L, 1L, 1L, 2L).foreach(a.add)
    val b = new SpaceSavingAgg.State(2)
    Seq(1L, 3L, 3L).foreach(b.add)
    a.mergeIn(b)
    val m = a.sortedEntries.map(e => e._1 -> (e._2, e._3)).toMap
    val truth = Map(1L -> 4L, 2L -> 1L, 3L -> 2L)
    for ((item, (est, err)) <- m) {
      assert(est >= truth(item), s"$item underestimated")
      assert(est - err <= truth(item), s"$item bound broken")
    }
  }

  test("round-trip serialization preserves the counter table") {
    val st = new SpaceSavingAgg.State(8)
    Seq(5L, 5L, 7L, 9L, 5L).foreach(st.add)
    val back = SpaceSavingAgg.State.fromBytes(st.toBytes, 8)
    assert(back.sortedEntries.toSeq == st.sortedEntries.toSeq)
  }

  test("q117 guarantees hold under both 1-partition and many-partition aggregation") {
    val dir = TestSession.sfDir("0.001")
    for (parts <- Seq(1, 7)) {
      val keyed = graft.operators.EtlOps.events(spark, dir)
        .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("k"))
        .repartition(parts)
      val sketch = keyed
        .agg(expr(s"space_saving_agg(k, ${ProfileOps.HeavyCap})").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e")(0).as("k"), col("e")(1).as("est"), col("e")(2).as("err"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val exact = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = exact.values.sum
      val heavy = exact.filter { case (_, c) => c * ProfileOps.HeavyCap > n }
      assert(heavy.keySet.subsetOf(sketch.keySet),
        s"parts=$parts: heavy keys missing ${heavy.keySet -- sketch.keySet}")
      for ((k, (est, err)) <- sketch; c <- exact.get(k)) {
        assert(est >= c, s"parts=$parts key $k underestimated")
        assert(est - err <= c, s"parts=$parts key $k bound broken")
      }
    }
  }

  test("builder rejects zero, negative, and NULL capacity at analysis time") {
    val spark = TestSession.spark
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("k")
    for (bad <- Seq("0", "-3", "CAST(NULL AS INT)")) {
      val e = intercept[Exception] {
        df.selectExpr(s"space_saving_agg(k, $bad)").collect()
      }
      // surfaced as a clear message before any task runs, not an
      // ArrayIndexOutOfBounds/NPE inside an executor
      assert(e.getMessage.contains("capacity"),
        s"capacity=$bad raised ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  // --- Count-Min (q175) --------------------------------------------------

  test("count-min counters conserve mass and the state is partition-invariant") {
    val d = ProfileOps.CmsDepth
    val w = ProfileOps.CmsWidth
    val keyed = graft.operators.EtlOps
      .events(spark, TestSession.sfDir("0.001"))
      .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("k"))
      .withColumn("hs", array((0 until d).map(j =>
        call_function("md5_fp60",
          concat(lit(s"$j:"), col("k").cast("string"))) % w): _*))
    def sketch(parts: Int): Array[Long] = keyed.repartition(parts)
      .agg(expr(s"count_min_agg(hs, $d, $w)")).first()
      .getSeq[Long](0).toArray
    val n = keyed.count()
    val s1 = sketch(1)
    // every hash row sums to N — counters are pure per-cell sums
    (0 until d).foreach { j =>
      assert(s1.slice(j * w, (j + 1) * w).sum == n, s"row $j lost mass")
    }
    // merge-order independence: 1 partition ≡ 13 partitions, cell for cell
    assert(sketch(13).toSeq == s1.toSeq,
      "CMS state depends on partitioning — merge is broken")
  }

  test("q175 audit: est >= exact always, collisions visible, bound holds") {
    val rows = ProfileOps
      .countMinAudit(spark, TestSession.sfDir("0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r._3 >= r._2, s"CMS underestimated key ${r._1}")
      assert(r._4 == r._3 - r._2)
      assert(r._5, s"key ${r._1} violated the e/w bound")
    }
    // width 64 vs ~100 keys: pigeonhole guarantees some overestimates —
    // the audit must exercise real collisions, not the happy path
    assert(rows.exists(_._4 > 0), "no collisions — audit is vacuous")
  }

  // --- HyperLogLog (q224) ------------------------------------------------

  /** (bucket, rank) pairs for a key column, the same construction
    * ProfileOps.hllAudit uses. */
  private def hllPairs(keys: org.apache.spark.sql.DataFrame) = {
    keys.withColumn("h", call_function("md5_fp60", col("k")))
      .withColumn("bkt", col("h") % ProfileOps.HllM)
      .withColumn("rnk", expr(
        "least(bit_count((((h >> 8) & -(h >> 8)) - 1)) + 1, 53)")
        .cast("long"))
  }

  test("hll registers are partition-invariant and equal the groupBy-max rebuild") {
    val m = ProfileOps.HllM
    val keyed = hllPairs(graft.operators.EtlOps
      .events(spark, TestSession.sfDir("0.001"))
      .select(col("user_id").cast("string").as("k")))
    def sketch(parts: Int): Seq[Long] = keyed.repartition(parts)
      .agg(expr(s"hll_agg(array(bkt, rnk), $m)")).first()
      .getSeq[Long](0)
    val s1 = sketch(1)
    // merge-order independence: register state is a per-bucket max
    assert(sketch(13) == s1, "HLL state depends on partitioning")
    // oracle-side rebuild: GROUP BY bucket -> max(rank), dense over m
    val rebuilt = keyed.groupBy("bkt").agg(max("rnk").as("r"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    (0 until m).foreach { b =>
      assert(s1(b) == rebuilt.getOrElse(b, 0L), s"register $b diverges")
    }
  }

  test("hll_merge_agg: union-of-sketches equals sketch-of-union, partition-invariant") {
    val m = ProfileOps.HllM
    val keyed = hllPairs(graft.operators.EtlOps
      .events(spark, TestSession.sfDir("0.001"))
      .select(col("user_id").cast("string").as("k")))
      .withColumn("part", col("bkt") % 7) // arbitrary split into 7 sketches
    // sketch each part separately, then max-merge the register ARRAYS
    val merged = keyed.groupBy("part")
      .agg(expr(s"hll_agg(array(bkt, rnk), $m)").as("regs"))
      .agg(expr(s"hll_merge_agg(regs, $m)")).first().getSeq[Long](0)
    // ... must equal the single sketch of the union (the merge law)
    val whole = keyed.agg(expr(s"hll_agg(array(bkt, rnk), $m)"))
      .first().getSeq[Long](0)
    assert(merged == whole, "hll_merge_agg broke the union law")
    // and the merge itself is partition-order independent
    val merged13 = keyed.groupBy("part")
      .agg(expr(s"hll_agg(array(bkt, rnk), $m)").as("regs"))
      .repartition(13)
      .agg(expr(s"hll_merge_agg(regs, $m)")).first().getSeq[Long](0)
    assert(merged13 == whole, "hll_merge_agg depends on partitioning")
  }

  test("hb_agg/hb_merge_agg: byte-packed registers equal the hll_* forms; hb_sketch equals the HOF estimator inputs") {
    val m = ProfileOps.HllM
    val keyed = hllPairs(graft.operators.EtlOps
      .events(spark, TestSession.sfDir("0.001"))
      .select(col("user_id").cast("string").as("k")))
      .withColumn("part", col("bkt") % 7)
    val whole = keyed.agg(expr(s"hll_agg(array(bkt, rnk), $m)"))
      .first().getSeq[Long](0)
    // packed sketch-of-union: same registers, byte for long
    val packed = keyed.agg(expr(s"hb_agg(array(bkt, rnk), $m)"))
      .first().getAs[Array[Byte]](0)
    assert(packed.length == m)
    (0 until m).foreach { b =>
      assert(packed(b).toLong == whole(b), s"register $b diverges")
    }
    // packed union-of-sketches obeys the same merge law
    val merged = keyed.groupBy("part")
      .agg(expr(s"hb_agg(array(bkt, rnk), $m)").as("regs"))
      .repartition(13)
      .agg(expr(s"hb_merge_agg(regs, $m)")).first().getAs[Array[Byte]](0)
    assert(merged.toSeq == packed.toSeq, "hb_merge_agg broke the union law")
    // hb_sketch(sp, vz) equals the HOF computation over the long form
    val sk = keyed.agg(expr(s"hb_agg(array(bkt, rnk), $m)").as("regs"))
      .selectExpr("hb_sketch(regs) AS s")
      .selectExpr("s.sp", "s.vz").first()
    val hof = keyed.agg(expr(s"hll_agg(array(bkt, rnk), $m)").as("regs"))
      .selectExpr(
        "aggregate(regs, CAST(0 AS DECIMAL(38,0)), (acc, r) -> " +
          "acc + CAST(shiftleft(CAST(1 AS BIGINT), CAST(60 - r AS INT))" +
          " AS DECIMAL(38,0))) AS sp",
        "CAST(size(filter(regs, r -> r = 0)) AS BIGINT) AS vz").first()
    assert(sk.getDecimal(0).compareTo(hof.getDecimal(0)) == 0,
      s"sp diverges: ${sk.getDecimal(0)} vs ${hof.getDecimal(0)}")
    assert(sk.getLong(1) == hof.getLong(1), "vz diverges")
  }

  test("hll estimate lands within the analytic error bound on a known set") {
    import spark.implicits._
    val m = ProfileOps.HllM
    val n = 5000
    val keyed = hllPairs(
      (1 to n).map(i => s"key-$i").toDF("k").repartition(7))
    val regs = keyed.agg(expr(s"hll_agg(array(bkt, rnk), $m)")).first()
      .getSeq[Long](0)
    // raw harmonic estimate recomputed host-side from the registers
    val sp = regs.map(r => BigInt(1) << (60 - r.toInt)).sum
    val est = ProfileOps.HllAlphaFp / 1e9 * m * m *
      math.pow(2, 60) / sp.toDouble
    val relErr = math.abs(est - n) / n
    // 3 sigma = 3 * 1.04 / sqrt(256) ~ 19.5%
    assert(relErr <= 0.195, s"est $est vs $n: rel err $relErr")
  }

  test("q224 audit exercises BOTH estimator branches and stays in bound") {
    val rows = ProfileOps.hllAudit(spark, TestSession.sfDir("0.001"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5), r.getBoolean(7)))
    assert(rows.nonEmpty)
    // the tiny scopes must take linear counting, the event-id scope at
    // any sf >= 0.001 must have SOME registers populated
    assert(rows.filter(_._1 == "types").forall(_._4),
      "types scope should use linear counting")
    rows.foreach { r =>
      assert(r._3 >= 0 && r._3 <= ProfileOps.HllM)
      assert(r._6, s"scope ${r._1}: estimate ${r._5} vs exact ${r._2} " +
        "left the 20% bound")
    }
    // linear branch: near-exact at tiny cardinality
    val types = rows.find(_._1 == "types").get
    assert(math.abs(types._5 - types._2) / types._2 <= 0.05)
  }
}
