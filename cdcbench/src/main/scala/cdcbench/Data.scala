package cdcbench

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column kinds the generator emits. Values are held as plain JVM values:
  * `Long`, `Int`, `String`, `Double`, `Int` days for dates and `Long`
  * microseconds for timestamps; `null` is a SQL NULL.
  */
sealed abstract class Kind(val sparkType: DataType)
object Kind {
  case object Lng extends Kind(LongType)
  case object Int32 extends Kind(IntegerType)
  case object Str extends Kind(StringType)
  case object Dbl extends Kind(DoubleType)
  case object Date extends Kind(DateType)
  case object Ts extends Kind(TimestampType)
}

final case class Col(name: String, kind: Kind)

final case class TableSpec(name: String, keys: Seq[String], cols: Seq[Col])

/** A primary key: `b` is 0 for single-column keys. */
final case class Key(a: Long, b: Int)

/** One change row of a CDC file; `values` align with the file's columns. */
final case class CdcRow(values: Array[Any], op: String, loadTs: Long)

/** One generated CDC file, as written to `path` (DMS layout
  * `.../fair/{table}/YYYY/MM/DD/name.parquet`).
  */
final case class CdcFile(path: String, table: String, cols: IndexedSeq[Col],
    rows: IndexedSeq[CdcRow]) {
  def name: String = path.substring(path.lastIndexOf('/') + 1)
}

object Data {
  val OpCol = "Op"
  val LoadTsCol = "load_timestamp"

  /** Parquet schema for `cols`: every column optional (nullable). */
  def messageType(cols: Seq[Col]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { c =>
      c.kind match {
        case Kind.Lng => b.optional(PrimitiveTypeName.INT64).named(c.name)
        case Kind.Int32 => b.optional(PrimitiveTypeName.INT32).named(c.name)
        case Kind.Str => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(c.name)
        case Kind.Dbl => b.optional(PrimitiveTypeName.DOUBLE).named(c.name)
        case Kind.Date => b.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(c.name)
        case Kind.Ts => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(c.name)
      }
    }
    b.named("spark_schema")
  }

  /** Write rows to one Parquet file without Spark: a Spark write per
    * small file costs tens of milliseconds of jobs, the direct writer a
    * fraction of one.
    */
  def writeParquet(path: Path, cols: Seq[Col], rows: Iterator[Array[Any]]): Unit = {
    Files.createDirectories(path.getParent)
    val schema = messageType(cols)
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      var i = 0
      while (i < cols.length) {
        val v = r(i)
        if (v != null) {
          val n = cols(i).name
          cols(i).kind match {
            case Kind.Lng | Kind.Ts => g.append(n, v.asInstanceOf[Long])
            case Kind.Int32 | Kind.Date => g.append(n, v.asInstanceOf[Int])
            case Kind.Str => g.append(n, v.asInstanceOf[String])
            case Kind.Dbl => g.append(n, v.asInstanceOf[Double])
          }
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }

  /** Columns of a CDC file: the row columns, then `Op` and `load_timestamp`. */
  def cdcColumns(cols: Seq[Col]): Seq[Col] =
    cols ++ Seq(Col(OpCol, Kind.Str), Col(LoadTsCol, Kind.Ts))

  def writeCdc(f: CdcFile): Unit =
    writeParquet(java.nio.file.Paths.get(f.path), cdcColumns(f.cols),
      f.rows.iterator.map(r => r.values :+ r.op :+ r.loadTs))

  /** Spark's `xxhash64(c1, ..., cn)` of one row, computed on the driver:
    * the seed chains through the columns and NULLs leave it unchanged.
    * Summing these over a table gives an exact, order-independent
    * checksum that a Spark aggregation reproduces bit for bit.
    */
  def rowHash(values: Array[Any], cols: Seq[Col]): Long = {
    var h = 42L
    var i = 0
    while (i < cols.length) {
      val v = if (i < values.length) values(i) else null
      if (v != null) {
        val internal = cols(i).kind match {
          case Kind.Str => UTF8String.fromString(v.asInstanceOf[String])
          case _ => v
        }
        h = XxHash64Function.hash(internal, cols(i).kind.sparkType, h)
      }
      i += 1
    }
    h
  }
}
