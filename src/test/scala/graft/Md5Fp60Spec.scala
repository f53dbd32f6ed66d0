package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native md5_fp60 must be bit-identical to the composed
  * conv(substring(md5(x), 1, 15), 16, 10) chain it replaces — every
  * dedup/sampling/shuffle oracle depends on that equivalence. The
  * extension that binds it binds the other native functions too. */
class Md5Fp60Spec extends AnyFunSuite {

  private val spark = TestSession.spark
  private val dir = TestSession.sfDir("0.001")

  private def composed(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  test("native fingerprint equals the composed chain over the corpus") {
    // keep the comparison honest: without this, FingerprintRewrite turns
    // the composed chain into md5_fp60 and the test compares it to itself
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.functions.FingerprintRewrite")
    try testBody()
    finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def testBody(): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(
        call_function("md5_fp60", col("text")).as("native_t"),
        composed(col("text")).as("chain_t"),
        call_function("md5_fp60", col("doc_id").cast("string")).as("native_i"),
        composed(col("doc_id").cast("string")).as("chain_i"))
    assert(d.filter(col("native_t") =!= col("chain_t") ||
      col("native_i") =!= col("chain_i")).count() == 0)
    assert(d.filter(col("native_t") < 0).count() == 0, "must be non-negative")
  }

  test("edge inputs: empty, unicode, long, null") {
    import spark.implicits._
    val edge = Seq("", "é漢字🎉", "a" * 10000).toDF("s")
      .select(call_function("md5_fp60", col("s")).as("n"),
        composed(col("s")).as("c"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val n = Seq[Option[String]](None).toDF("s")
      .select(call_function("md5_fp60", col("s"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("optimizer rewrites the longhand SQL chain to the native expression") {
    val df = spark.sql(
      s"""SELECT CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),
         |  16, 10) AS BIGINT) AS fp
         |FROM parquet.`${TestSession.sfDir("0.001")}/documents.parquet`""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("md5_fp60"),
      s"FingerprintRewrite did not fire:\n$optimized")
    // and the rewrite is invisible in results
    val direct = spark.read
      .parquet(s"${TestSession.sfDir("0.001")}/documents.parquet")
      .select(call_function("md5_fp60", col("doc_id").cast("string")).as("fp"))
    assert(df.exceptAll(direct).count() == 0 &&
      direct.exceptAll(df).count() == 0)
  }

  test("the extension binds every native function, in new sessions too") {
    val names = graft.functions.GraftExtensions.Functions.map(_._1)
    // q356 (ProfileOps.kmvSetAlgebra) needs kmv_agg
    assert(names.contains("kmv_agg") && names.distinct == names)
    for (sess <- Seq(spark, spark.newSession()); name <- names)
      assert(sess.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
  }

  test("MessageDigest reference agrees (third implementation)") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("abc".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val want = java.lang.Long.parseLong(hex, 16)
    val got = spark.sql("SELECT md5_fp60('abc')").collect().head.getLong(0)
    assert(got == want)
  }
}
