package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDate

import graft.config._
import graft.transforms.CigTransforms
import graft.transforms.CigTransforms._

/** Unit tests for the cleanup pipeline against the edge cases in
  * FIXTURES.md §3 (intent semantics per SURVEY §7.1). */
class CigTransformsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private def strDf(pairs: (String, Seq[String])*): DataFrame = {
    val cols = pairs.map(_._1)
    val rows = pairs.head._2.indices.map(i => Row(pairs.map(_._2(i)): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(cols.map(StructField(_, StringType, nullable = true))))
  }

  test("T0d full-cell null normalization: NaT/nan → sentinel, nanarnia untouched") {
    val df = strDf("c" -> Seq("NaT", "nan", "nanarnia", null, "x"))
    val out = df.select(normalizeNullsExpr($"c")).as[String].collect()
    assert(out.toSeq == Seq("None", "None", "nanarnia", "None", "x"))
  }

  test("T0e boolean normalization is full-cell") {
    val df = strDf("c" -> Seq("True", "False", "Truex", "xFalse"))
    val out = df.select(normalizeBoolsExpr($"c")).as[String].collect()
    assert(out.toSeq == Seq("1", "0", "Truex", "xFalse"))
  }

  test("T2 strips only a trailing .0 (intent semantics, not the global-replace bug)") {
    val df = strDf("c" -> Seq("42.0", "10.0", "1.05", "1.023.0", "None", "7"))
    val out = df.select(stripTrailingDotZeroExpr($"c")).as[String].collect()
    assert(out.toSeq == Seq("42", "10", "1.05", "1.023", "None", "7"))
  }

  test("T3 canonicalizes only scientific-notation cells; sentinel survives") {
    val df = strDf("c" -> Seq("1.801439850948301e+16", "None", "42", "2.5e-3"))
    val out = df.select(canonicalizeSciNotationExpr($"c")).as[String].collect()
    assert(out(0) == 1.801439850948301e16.toString)
    assert(out(1) == "None")
    assert(out(2) == "42")
    assert(out(3) == "0.0025")
  }

  test("T4 non-nullable fix: sentinel → empty string, full cell (Nonetheless survives)") {
    val df = strDf("c" -> Seq("None", "Nonetheless", "x"))
    val out = df.select(notNullableFixExpr($"c")).as[String].collect()
    assert(out.toSeq == Seq("", "Nonetheless", "x"))
  }

  test("T5 datetime truncation to 23 chars keeps milliseconds") {
    val df = strDf("c" -> Seq("2019-07-03 12:34:56.7890123", "2019-07-03"))
    val out = df.select(truncateDatetimeExpr($"c")).as[String].collect()
    assert(out.toSeq == Seq("2019-07-03 12:34:56.789", "2019-07-03"))
  }

  test("T6 NVARCHAR(MAX) cap") {
    val long = "x" * (NvarcharMaxLimit + 1)
    val df = strDf("c" -> Seq(long, "short"))
    val out = df.select(truncateNvarcharMaxExpr($"c")).as[String].collect()
    assert(out(0).length == NvarcharMaxLimit && out(1) == "short")
  }

  test("T7 odd columns: Geolocation constant, Logo/Picture nulled via sentinel") {
    assert(strDf("g" -> Seq("raw")).select(oddColumnExpr("Geolocation", $"g"))
      .as[String].head() == "POINT (0 0)")
    assert(strDf("g" -> Seq("raw")).select(oddColumnExpr("Logo", $"g"))
      .as[String].head() == NullSentinel)
    assert(strDf("g" -> Seq("raw")).select(oddColumnExpr("Other", $"g"))
      .as[String].head() == "raw")
  }

  test("T0a environment shortening") {
    assert(shortEnvironment("NL_Hosting_Mailbox") == "NL")
    assert(shortEnvironment("NL") == "NL")
    assert(shortEnvironment("ABC") == "ABC") // no underscore: split yields self
  }

  test("P11 sentinel→NULL at sink boundary") {
    val df = strDf("c" -> Seq("None", "x", "Nonetheless"))
    val out = sentinelsToNull(df).as[String].collect()
    assert(out.toSeq == Seq(null, "x", "Nonetheless"))
  }

  test("T1 missing-column default + P1 ordered projection") {
    val df = strDf("b" -> Seq("1"), "a" -> Seq("2"), "extra" -> Seq("3"))
    val cfg = TableConfig("HOST_CIG_T", "T", isEnabled = true,
      columns = Seq(ColumnMeta("a"), ColumnMeta("b"), ColumnMeta("m")))
    val out = CigTransforms.pipeline(df, cfg, "NL", LocalDate.of(2019, 7, 3))
    assert(out.columns.toSeq == Seq("a", "b", "m"))
    assert(out.head() == Row("2", "1", "None"))
  }

  test("full pipeline: FIXTURES §3 composite over a typed config") {
    val cfg = TableConfig("HOST_CIG_T", "T", isEnabled = true, columns = Seq(
      ColumnMeta("id", TypeClass.IntLike),
      ColumnMeta("flag"),
      ColumnMeta("dt", TypeClass.DateTime),
      ColumnMeta("note", TypeClass.TextMax),
      ColumnMeta("req", TypeClass.Str, nullable = false),
      ColumnMeta("missing"),
      ColumnMeta("Geolocation"),
      ColumnMeta("Environment"),
      ColumnMeta("CIGCopyTime"),
      ColumnMeta("CIGProcessed")))
    val df = strDf(
      "id" -> Seq("42.0", "NaT"),
      "flag" -> Seq("True", "False"),
      "dt" -> Seq("2019-07-03 12:34:56.7890123", "nan"),
      "note" -> Seq("hello", "None"),
      "req" -> Seq("None", "ok"),
      "Geolocation" -> Seq("raw", "raw"),
      "extra" -> Seq("drop", "drop"))
    val out = CigTransforms.pipeline(df, cfg, "NL_Hosting",
      LocalDate.of(2019, 7, 3))
    assert(out.columns.toSeq == cfg.columnNames)
    val rows = out.collect()
    assert(rows(0) == Row("42", "1", "2019-07-03 12:34:56.789", "hello",
      "", "None", "POINT (0 0)", "NL", "2019-07-03", "0"))
    assert(rows(1) == Row("None", "0", "None", "None", "ok", "None",
      "POINT (0 0)", "NL", "2019-07-03", "0"))
    // and after the sink-boundary P11:
    val sunk = sentinelsToNull(out).collect()
    assert(sunk(1) == Row(null, "0", null, null, "ok", null,
      "POINT (0 0)", "NL", "2019-07-03", "0"))
  }

  test("cleanup expressions grow with the number of steps, not their product") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def nodes(p: LogicalPlan): Int =
      p.collect { case n => n.expressions.map(_.collect { case e => e }.size).sum }.sum
    val df = strDf("c" -> Seq("1.0", "NaT", "2e+3", "True"))
    // (type class, nullable) → steps after the string coercion, P11 included
    val kinds = Seq(
      (TypeClass.IntLike, true) -> 5, (TypeClass.IntLike, false) -> 4,
      (TypeClass.DateTime, true) -> 4, (TypeClass.TextMax, false) -> 5,
      (TypeClass.Str, true) -> 3, (TypeClass.Str, false) -> 4)
    for (((tc, nullable), steps) <- kinds) {
      val cfg = TableConfig("T", "T", isEnabled = true,
        columns = Seq(ColumnMeta("c", tc, nullable)))
      val out = sentinelsToNull(
        CigTransforms.pipeline(df, cfg, "NL", LocalDate.of(2019, 7, 3)))
      val qe = out.queryExecution
      for ((phase, plan) <- Seq("analyzed" -> qe.analyzed, "optimized" -> qe.optimizedPlan)) {
        val n = nodes(plan)
        info(s"$tc nullable=$nullable $phase: $n nodes")
        // each step names its input at most 4 times, and with ~20 nodes;
        // nesting the steps multiplies instead (1295 for a nullable int)
        assert(n <= 24 * (steps + 1), s"$tc nullable=$nullable $phase: $n nodes")
      }
      out.collect() // and it still runs
    }
  }
}
