package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}

/** Writes the generated inputs as plain parquet files, without a Spark
  * job, so that input generation costs little of the set-up. */
object ParquetOut {
  def string(name: String): Type =
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(name)
  def long(name: String): Type = Types.optional(INT64).named(name)
  def double(name: String): Type = Types.optional(DOUBLE).named(name)
  /** A naive (not UTC-adjusted) microsecond timestamp. */
  def timestamp(name: String): Type = Types.optional(INT64)
    .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
    .named(name)

  def schema(name: String, fields: Type*): MessageType =
    new MessageType(name, fields.asJava)

  /** One row per element; each value a String, Long or Double. */
  def write(path: Path, schema: MessageType, rows: Iterable[Seq[Any]]): Unit = {
    val w = new Writer(path, schema)
    try rows.foreach(w.add) finally w.close()
  }

  /** A file written row by row, so that large inputs need not be held in
    * memory. */
  final class Writer(path: Path, schema: MessageType) {
    private val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(new PlainParquetConfiguration()).withType(schema).build()
    private val groups = new SimpleGroupFactory(schema)

    def add(r: Seq[Any]): Unit = {
      val g = groups.newGroup()
      r.zipWithIndex.foreach {
        case (v: String, i) => g.add(i, v)
        case (v: Long, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v, i) => throw new IllegalArgumentException(s"column $i: unsupported value $v")
      }
      w.write(g)
    }

    def close(): Unit = w.close()
  }
}
