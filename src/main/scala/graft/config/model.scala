package graft.config

/** Config + target-schema model for the ingestion engine.
  *
  * Mirrors the reference's per-table JSON config entries
  * (`cig_tables.json:3-6`, `table_under_test.json:2-6`: target_name,
  * source, is_enabled, ordered column list) and the target-side column
  * metadata the reference obtains by SQLAlchemy reflection
  * (`ParquetFileInsertion.py:20`, consulted via `c.type.python_type` in
  * `CigEolHostingIngestionLogic.py:52,65,96,107`).
  *
  * In the Spark build the target schema is plain data (no live DB needed),
  * which keeps every transform a pure `DataFrame => DataFrame`.
  */

/** Classification of a target column's SQL type, driving which cleanup
  * transforms apply (reference: `c.type.python_type` checks). */
sealed trait TypeClass
object TypeClass {
  /** int/bigint target — T2 (strip trailing ".0") + T3 (sci-notation). */
  case object IntLike extends TypeClass
  /** datetime target — T5 (truncate to 23 chars). */
  case object DateTime extends TypeClass
  /** NVARCHAR(MAX) (str with no length bound) — T6 (truncate to 100k). */
  case object TextMax extends TypeClass
  /** bounded varchar / everything else — no type-specific cleanup. */
  case object Str extends TypeClass
}

/** One target column: name + type class + nullability (reference:
  * `c.nullable`, `CigEolHostingIngestionLogic.py:65,107`). */
final case class ColumnMeta(
    name: String,
    typeClass: TypeClass = TypeClass.Str,
    nullable: Boolean = true)

/** One table config entry (reference: `cig_tables.json` entry shape). The
  * `columns` order is authoritative — "order of columns is crucial"
  * (`ParquetFileInsertion.py:30-31`). */
final case class TableConfig(
    targetName: String,
    source: String,
    isEnabled: Boolean,
    columns: Seq[ColumnMeta]) {
  def columnNames: Seq[String] = columns.map(_.name)
}

/** Environment-level ingestion config (reference:
  * `ingestion_config.json:1-12`): which environments to ingest, the
  * ingestion date (backfill override), data root. */
final case class IngestionConfig(
    environments: Seq[String],
    ingestionDate: java.time.LocalDate,
    dataFolder: String,
    tables: Seq[TableConfig]) {
  def enabledTables: Seq[TableConfig] = tables.filter(_.isEnabled)
}
