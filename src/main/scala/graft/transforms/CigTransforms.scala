package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{ColumnMeta, TableConfig, TypeClass}

/** The cleanup-transform pipeline — the heart of the reference's semantics
  * (`CigEolHostingIngestionLogic.py:10-42`, order at `:32-40`), re-expressed
  * as pure column expressions.
  *
  * Design notes (scale-first):
  *  - Every transform is a narrow, per-cell `Column` expression, and the
  *    T0..T8 chain is one `select` per step, each reading its input column
  *    by reference: a column's expression grows with the number of steps,
  *    not with their product. Nested in one expression, each step repeats
  *    its input 2–6 times (a nullable int column's cleanup + P11: 1295
  *    expression nodes nested, 74 as steps). `CollapseProject` does not
  *    merge a step into the next one that references it more than once,
  *    so the plan stays a short chain of projections inside whole-stage
  *    codegen: no shuffle, and no analyzer blow-up from hundreds of
  *    chained `withColumn`s.
  *  - `pipeline(...)` is the one cleanup path; tests assert each step on
  *    its per-cell expression. The two `DataFrame`-level steps left (audit
  *    columns, the sink-boundary P11) are single selects over those
  *    expressions, not a second pipeline.
  *  - Reference bugs (global `.replace('.0','')` in T2
  *    `CigEolHostingIngestionLogic.py:72`, substring `"None"→''` in T4
  *    `:111`, `environment.length` AttributeError in T0a `:18`) are resolved
  *    in favor of documented intent (SURVEY §7.1); the bug-compatible
  *    expression is noted inline.
  */
object CigTransforms {

  /** The reference's NULL sentinel: the literal string "None"
    * (`ParquetFileInsertion.py:67-75`). */
  val NullSentinel = "None"

  /** NVARCHAR(MAX) cell cap (`CigEolHostingIngestionLogic.py:56`). */
  val NvarcharMaxLimit = 100000

  /** Datetime string cap, keeps `yyyy-MM-dd HH:mm:ss.SSS`
    * (`CigEolHostingIngestionLogic.py:102-103`). */
  val DatetimeMaxLen = 23

  /** T0a environment shortening: names longer than 2 chars keep the prefix
    * before `_` (`CigEolHostingIngestionLogic.py:16-19`; the mailbox flow
    * pre-splits the same way, `main_mailbox.py:56`). Reference has
    * `environment.length` (AttributeError); intent is `len(...)`. */
  def shortEnvironment(env: String): String =
    if (env.length > 2) env.split("_")(0) else env

  // ---------------------------------------------------------------------
  // Per-cell expression builders (composable; all codegen-friendly)
  // ---------------------------------------------------------------------

  /** Everything-to-string coercion (§1.2: columns are bound as
    * `sqlalchemy.String()` regardless of source type,
    * `ParquetFileInsertion.py:42`). NULLs stay NULL here; pandas' NaT/nan
    * artifacts are what T0d normalizes. */
  def asString(c: Column): Column = c.cast("string")

  /** T0d: full-cell `"NaT"→"None"`, `"nan"→"None"`; plus source NULL →
    * sentinel, since pandas renders missing values as NaT/nan before the
    * replace (`CigEolHostingIngestionLogic.py:11-14,26-27`). Full-cell
    * semantics: "nanarnia" is untouched (comment `:24-25`). */
  def normalizeNullsExpr(c: Column): Column =
    when(c.isNull || c === "NaT" || c === "nan", lit(NullSentinel))
      .otherwise(c)

  /** T0e: full-cell `"True"→"1"`, `"False"→"0"`
    * (`CigEolHostingIngestionLogic.py:29-30`). */
  def normalizeBoolsExpr(c: Column): Column =
    when(c === "True", lit("1")).when(c === "False", lit("0")).otherwise(c)

  /** T2: nullable-int columns — strip a trailing `.0` left by the
    * float-ification of nullable ints (`CigEolHostingIngestionLogic.py:61-73`).
    * Intent semantics: anchored strip (`"10.0"→"10"`). Bug-compatible form
    * would be `regexp_replace(c, "\\.0", "")` on cells ending in ".0"
    * (reference `:72` removes every occurrence: `"10.0"→"1"`). */
  def stripTrailingDotZeroExpr(c: Column): Column =
    when(c.endsWith(".0"), regexp_replace(c, "\\.0$", "")).otherwise(c)

  /** T3: nullable-bigint columns in scientific notation
    * (`CigEolHostingIngestionLogic.py:75-90`): cells like
    * `1.801439850948301e+16` are canonicalized through a float round-trip;
    * the sentinel survives (NaN round-trip `:87-89`). Intent semantics:
    * only notation-bearing cells are touched (the reference gates on the
    * column containing any such cell, then round-trips the whole column —
    * which re-appends `.0` to plain ints; we keep plain cells intact). */
  def canonicalizeSciNotationExpr(c: Column): Column =
    when(
      (c.contains("e-") || c.contains("e+") || c.contains("E-") ||
        c.contains("E+")) && c =!= NullSentinel,
      c.cast("double").cast("string")
    ).otherwise(c)

  /** T4: non-nullable target columns — the sentinel becomes the empty
    * string (`CigEolHostingIngestionLogic.py:106-112`). Intent semantics:
    * full-cell (`when(c === "None", "")`); the reference's `.str.replace`
    * is a substring replace (`"Nonetheless"→"theless"`). */
  def notNullableFixExpr(c: Column): Column =
    when(c === NullSentinel, lit("")).otherwise(c)

  /** T5: datetime columns truncated to 23 chars — keeps
    * `yyyy-MM-dd HH:mm:ss.SSS`, drops sub-millisecond digits
    * (`CigEolHostingIngestionLogic.py:92-104`). The reference gates on
    * `max(len) > 23` (A1) then truncates every cell; truncating a ≤23-char
    * string is a no-op, so the unconditional form is semantically identical
    * and drops a full-column aggregate pass. */
  def truncateDatetimeExpr(c: Column): Column =
    substring(c, 1, DatetimeMaxLen)

  /** T6: NVARCHAR(MAX) columns truncated to 100k chars (works around ODBC
    * error 7125, `CigEolHostingIngestionLogic.py:44-59`). */
  def truncateNvarcharMaxExpr(c: Column, limit: Int = NvarcharMaxLimit): Column =
    substring(c, 1, limit)

  /** P11: the final sentinel→NULL conversion applied at the sink boundary
    * (`ParquetFileInsertion.py:68-75`). */
  def sentinelToNullExpr(c: Column): Column =
    when(c === NullSentinel, lit(null: String)).otherwise(c)

  /** T7: odd columns (`CigEolHostingIngestionLogic.py:120-127`):
    * `Geolocation` → constant POINT, `Logo`/`Picture` → sentinel. */
  def oddColumnExpr(name: String, c: Column): Column =
    oddColumnValue(name).getOrElse(c)

  /** T7's constant for an odd column. The reference applies T7 after T1
    * has added every missing target column, so a configured odd column
    * gets its constant whether or not the source file carries it. */
  private def oddColumnValue(name: String): Option[Column] = name match {
    case "Geolocation"      => Some(lit("POINT (0 0)"))
    case "Logo" | "Picture" => Some(lit(NullSentinel))
    case _                  => None
  }

  // ---------------------------------------------------------------------
  // DataFrame-level steps
  // ---------------------------------------------------------------------

  /** T0a/T0b/T0c: inject the three audit columns
    * (`CigEolHostingIngestionLogic.py:16-22`). */
  def addAuditColumns(df: DataFrame, environment: String,
      ingestionDate: java.time.LocalDate): DataFrame =
    df.withColumn("Environment", lit(shortEnvironment(environment)))
      .withColumn("CIGCopyTime",
        lit(ingestionDate.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE)))
      .withColumn("CIGProcessed", lit("0"))

  /** P11 over all columns. */
  def sentinelsToNull(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => sentinelToNullExpr(col(c)).as(c)).toIndexedSeq: _*)

  // ---------------------------------------------------------------------
  // The pipeline
  // ---------------------------------------------------------------------

  /** Full T0→T8 chain for one table, with one environment for every row
    * (T0a's value is `shortEnvironment(environment)`). */
  def pipeline(df: DataFrame, config: TableConfig, environment: String,
      ingestionDate: java.time.LocalDate): DataFrame =
    pipeline(df, config, lit(shortEnvironment(environment)), ingestionDate)

  /** Full T0→T8 chain for one table; `environment` is T0a's value for
    * each row, already shortened (a literal, or an expression over `df`
    * such as one of its file's environment).
    *
    * Each configured column starts from its string-coerced source column
    * (T0 audit columns from their values, T1/T4 missing columns from
    * their default, T7 odd columns from their constant) and then takes,
    * in the reference's order (`CigEolHostingIngestionLogic.py:32-40`),
    * the steps its type class and nullability call for: null/bool
    * normalization (T0d/T0e), nullable-int and sci-notation fixes
    * (T2/T3), datetime/NVARCHAR truncation (T5/T6) and non-nullable
    * defaulting (T4). The result is exactly `config.columnNames`, in that
    * order, extras dropped (P1/T8, `ParquetFileInsertion.py:50`; order is
    * load-bearing, `:30-31`). The sink-boundary sentinel→NULL (P11) is
    * separate — call [[sentinelsToNull]] right before writing, as the
    * reference does (`ParquetFileInsertion.py:60-75`).
    */
  def pipeline(df: DataFrame, config: TableConfig, environment: Column,
      ingestionDate: java.time.LocalDate): DataFrame = {
    val present = df.columns.toSet
    val chains = config.columns.map(m =>
      m.name -> cellSteps(m, present, environment, ingestionDate))
    val start = df.select(chains.map { case (n, (first, _)) => first.as(n) }: _*)
    val depth = (0 +: chains.map(_._2._2.size)).max
    (0 until depth).foldLeft(start) { (d, i) =>
      d.select(chains.map { case (n, (_, steps)) =>
        steps.lift(i).fold(col(n))(step => step(col(n))).as(n)
      }: _*)
    }
  }

  /** One column's first value and the steps that follow it, each a
    * function of the previous step's output. */
  private def cellSteps(meta: ColumnMeta, present: Set[String],
      environment: Column, ingestionDate: java.time.LocalDate)
      : (Column, Seq[Column => Column]) = {
    import java.time.format.DateTimeFormatter
    val name = meta.name
    val fixed: Option[Column] = name match {
      // T0a/T0b/T0c: audit columns
      case "Environment"  => Some(environment)
      case "CIGCopyTime"  =>
        Some(lit(ingestionDate.format(DateTimeFormatter.ISO_LOCAL_DATE)))
      case "CIGProcessed" => Some(lit("0"))
      case _              => oddColumnValue(name)
    }
    fixed.map(c => (c, Nil)).getOrElse {
      if (!present(name))
        // T1 (or T4 for non-nullable): missing column default.
        (if (meta.nullable) lit(NullSentinel) else lit(""), Nil)
      else {
        val typed: Seq[Column => Column] = meta.typeClass match {
          // T2 then T3 (reference order `:36-37`).
          case TypeClass.IntLike if meta.nullable =>
            Seq(stripTrailingDotZeroExpr, canonicalizeSciNotationExpr)
          case TypeClass.IntLike | TypeClass.Str => Nil
          case TypeClass.DateTime => Seq(truncateDatetimeExpr)
          case TypeClass.TextMax  => Seq(c => truncateNvarcharMaxExpr(c))
        }
        val notNull: Seq[Column => Column] =
          if (meta.nullable) Nil else Seq(notNullableFixExpr)
        (asString(col(name)),
          Seq[Column => Column](normalizeNullsExpr, normalizeBoolsExpr) ++
            typed ++ notNull)
      }
    }
  }
}
