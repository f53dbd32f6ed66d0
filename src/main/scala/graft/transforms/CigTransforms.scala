package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{ColumnMeta, TableConfig, TypeClass}

/** The cleanup-transform pipeline — the heart of the reference's semantics
  * (`CigEolHostingIngestionLogic.py:10-42`, order at `:32-40`), re-expressed
  * as pure column expressions.
  *
  * Design notes (scale-first):
  *  - Every transform is a narrow, per-cell `Column` expression — the whole
  *    T0..T8 chain compiles to ONE `select` with one expression per output
  *    column, so a 427-column table stays a single projection node inside
  *    whole-stage codegen: no shuffle, no per-transform plan nodes, no
  *    analyzer blow-up from hundreds of chained `withColumn`s.
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
  def oddColumnExpr(name: String, c: Column): Column = name match {
    case "Geolocation"      => lit("POINT (0 0)")
    case "Logo" | "Picture" => lit(NullSentinel)
    case _                  => c
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
  // The fused pipeline
  // ---------------------------------------------------------------------

  /** Full T0→T8 chain for one table as a single projection.
    *
    * For each configured column, builds one expression applying — in the
    * reference's order (`CigEolHostingIngestionLogic.py:32-40`) — audit
    * injection, string coercion, null/bool normalization (T0d/T0e),
    * missing-column defaulting (T1), nullable-int and sci-notation fixes
    * (T2/T3), non-nullable defaulting (T4), datetime/NVARCHAR truncation
    * (T5/T6), odd-column overrides (T7), and the ordered projection (P1/T8:
    * exactly `config.columnNames`, in that order, extras dropped —
    * `ParquetFileInsertion.py:50`; order is load-bearing, `:30-31`).
    * The sink-boundary sentinel→NULL (P11) is separate — call
    * [[sentinelsToNull]] right before writing, as the reference does
    * (`ParquetFileInsertion.py:60-75`).
    */
  def pipeline(df: DataFrame, config: TableConfig, environment: String,
      ingestionDate: java.time.LocalDate,
      nvarcharLimit: Int = NvarcharMaxLimit): DataFrame = {
    val present = df.columns.toSet
    val exprs = config.columns.map { meta =>
      cellExpr(meta, present, environment, ingestionDate, nvarcharLimit)
        .as(meta.name)
    }
    df.select(exprs.toIndexedSeq: _*)
  }

  /** The per-column expression used by [[pipeline]]. Public so tests can
    * assert each composition in isolation. */
  def cellExpr(meta: ColumnMeta, present: Set[String], environment: String,
      ingestionDate: java.time.LocalDate,
      nvarcharLimit: Int = NvarcharMaxLimit): Column = {
    import java.time.format.DateTimeFormatter
    val name = meta.name
    // T0a/T0b/T0c: audit columns are pure literals.
    val audit: Option[Column] = name match {
      case "Environment"  => Some(lit(shortEnvironment(environment)))
      case "CIGCopyTime"  =>
        Some(lit(ingestionDate.format(DateTimeFormatter.ISO_LOCAL_DATE)))
      case "CIGProcessed" => Some(lit("0"))
      case _              => None
    }
    audit.getOrElse {
      if (!present(name)) {
        // T1 (or T4 for non-nullable): missing column default.
        if (meta.nullable) lit(NullSentinel) else lit("")
      } else {
        val base = normalizeBoolsExpr(normalizeNullsExpr(asString(col(name))))
        val typed = meta.typeClass match {
          case TypeClass.IntLike if meta.nullable =>
            // T2 then T3 (reference order `:36-37`).
            canonicalizeSciNotationExpr(stripTrailingDotZeroExpr(base))
          case TypeClass.IntLike  => base
          case TypeClass.DateTime => truncateDatetimeExpr(base)
          case TypeClass.TextMax  => truncateNvarcharMaxExpr(base, nvarcharLimit)
          case TypeClass.Str      => base
        }
        val notNull =
          if (meta.nullable) typed else notNullableFixExpr(typed)
        oddColumnExpr(name, notNull)
      }
    }
  }
}
