package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ColumnMeta, TableConfig}
import graft.transforms.CigTransforms._

/** Property-style tests (SURVEY §5.2): generated string batches compared
  * against pure-Scala reference models of each transform, plus the
  * T5 gated≡unconditional equivalence. One Spark job per property (the
  * whole generated batch goes through a single select).
  */
class TransformPropsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  /** Strings biased toward the pipeline's edge tokens. */
  private val cellGen: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("NaT", "nan", "None", "True", "False", "", "nanarnia",
      "Nonetheless", "10.0", "42.0", "1.05", "1.023.0", ".0", "0",
      "2.5e-3", "1.801439850948301e+16", "2019-07-03 12:34:56.7890123"),
    2 -> Gen.numStr.map(_ + ".0"),
    2 -> Gen.alphaNumStr,
    1 -> Gen.asciiPrintableStr.map(_.take(40)))

  private def samples(n: Int, seed: Long): Seq[String] =
    Gen.listOfN(n, cellGen)
      .apply(Gen.Parameters.default, Seed(seed)).get

  /** Evaluate a column expression over a batch of nullable strings. */
  private def evalExpr(values: Seq[String], f: Column => Column): Seq[String] = {
    val rows = values.map(Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
      StructType(Seq(StructField("c", StringType, nullable = true))))
    // tag with input order to read results back positionally
    import org.apache.spark.sql.functions._
    df.withColumn("i", monotonically_increasing_id())
      .select(col("i"), f(col("c")).as("o"))
      .collect().sortBy(_.getLong(0)).map(r => r.getString(1)).toSeq
  }

  test("prop: null normalization matches the reference model") {
    val in = samples(300, 1) :+ null
    val got = evalExpr(in, normalizeNullsExpr)
    val want = in.map(x =>
      if (x == null || x == "NaT" || x == "nan") "None" else x)
    assert(got == want)
  }

  test("prop: boolean normalization is exactly full-cell") {
    val in = samples(300, 2)
    val got = evalExpr(in, normalizeBoolsExpr)
    val want = in.map {
      case "True" => "1"
      case "False" => "0"
      case x => x
    }
    assert(got == want)
  }

  test("prop: trailing-.0 strip model (anchored, single suffix)") {
    val in = samples(300, 3)
    val got = evalExpr(in, stripTrailingDotZeroExpr)
    val want = in.map(x =>
      if (x != null && x.endsWith(".0")) x.dropRight(2) else x)
    assert(got == want)
  }

  test("prop: unconditional 23-char truncate ≡ reference's gated truncate") {
    // the reference truncates every cell only if max(len) > 23; truncating
    // ≤23-char cells is a no-op, so the per-cell unconditional form must
    // be identical on ANY batch (SURVEY T5 rewrite argument)
    val in = samples(300, 4)
    val gated =
      if (in.filter(_ != null).map(_.length).maxOption.exists(_ > 23))
        in.map(x => if (x == null) null else x.take(23))
      else in
    val got = evalExpr(in, truncateDatetimeExpr)
    assert(got == gated)
  }

  test("prop: sentinel round-trip — NULL-like in, SQL NULL out, all else unchanged") {
    val in = samples(300, 5) :+ null
    val got = evalExpr(in, c => sentinelToNullExpr(normalizeNullsExpr(c)))
    val want = in.map {
      case null | "NaT" | "nan" | "None" => null
      case x => x
    }
    assert(got == want)
  }

  test("prop: rolling_hash folds Unicode CODE POINTS (incl. non-BMP) like the reference model") {
    val uniGen: Gen[String] = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("é", "ß", "中", "🙂", "𝕊", " "))) // incl. surrogate pairs
      .map(_.mkString)
    val in = Gen.listOfN(200, uniGen)
      .apply(Gen.Parameters.default, Seed(7)).get
    def model(s: String): Any =
      if (s.isEmpty) null
      else {
        val cps = s.codePoints().toArray
        cps.tail.foldLeft(cps.head.toLong)((acc, c) =>
          (acc * 31 + c) % 2147483647L)
      }
    val got = {
      val rows = in.zipWithIndex.map { case (s, i) => Row(i, s) }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
        StructType(Seq(
          StructField("i", org.apache.spark.sql.types.IntegerType, false),
          StructField("c", StringType, nullable = true))))
      df.selectExpr("i", "rolling_hash(c) AS h").collect()
        .sortBy(_.getInt(0))
        .map(r => if (r.isNullAt(1)) null else r.getLong(1)).toSeq
    }
    assert(got == in.map(model))
  }

  test("prop: ordered projection returns exactly the requested permutation") {
    // P1/T8 through the pipeline: whatever order the source holds its
    // columns in, and whatever extras it carries, the output is exactly
    // the config's column list in the config's order
    val cols = ('a' to 'j').map(_.toString)
    val extras = Seq("x1", "x2", "x3")
    val cfg = TableConfig("HOST_CIG_T", "T", isEnabled = true,
      columns = cols.map(ColumnMeta(_)))
    val date = java.time.LocalDate.of(2019, 7, 3)
    val rng = new scala.util.Random(6)
    (1 to 20).foreach { _ =>
      val in = rng.shuffle(cols ++ extras)
      assert(in.filter(cols.contains) != cols, "shuffle kept the config order")
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(in: _*)), 1),
        StructType(in.map(StructField(_, StringType, nullable = true))))
      val out = pipeline(df, cfg, "NL", date)
      assert(out.columns.toSeq == cfg.columnNames)
      assert(out.head() == Row(cfg.columnNames: _*))
    }
  }
}
