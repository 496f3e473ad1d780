package graft.state

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-side reads and writes of the small flat parquet tables that the
  * incremental state and the relationship cache keep (one row per table or
  * per edge), so a steady refresh runs no Spark job at all.
  *
  * A Spark job costs more than its tasks' work. Every job broadcasts its
  * task binary in 4 MB blocks, every task serializes its result into a
  * 1 MB buffer, a collect adds another 1 MB per partition, and a sort or
  * hash aggregate takes a 16 MB memory page. On a driver heap of a few GB
  * G1 allocates each of these as a humongous object, and each humongous
  * allocation above the occupancy threshold starts a concurrent GC cycle.
  * With a job per read and write, refresh latency would follow the
  * collector's state and vary by up to half between otherwise equal runs.
  * The tables are read and written here with parquet's own reader and
  * writer, in Spark's layout: a directory of part files with optional
  * (nullable) columns, readable by `spark.read.parquet` and able to read
  * what Spark wrote. Columns are flat strings, longs, doubles and booleans,
  * the types the state and the cache use.
  */
object LocalParquet {
  // Below half of G1's smallest region, so no write buffer is humongous.
  private val PageBytes = 64 * 1024

  /** The table at `path` (a part-file directory or a single file) as a
    * local DataFrame.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = partFiles(path)
    if (files.isEmpty) throw new IllegalArgumentException(s"no parquet part files under $path")
    val tables = files.map(readFile)
    val schema = tables.head._1
    tables.find(_._1 != schema).foreach { case (other, _) =>
      throw new IllegalStateException(s"part files under $path disagree on schema: $schema vs $other")
    }
    spark.createDataFrame(tables.flatMap(_._2).asJava, schema)
  }

  /** Replaces the table at `path` with `rows`: one part file written to a
    * temporary directory that is then swapped in.
    */
  def write(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val message = Types.buildMessage()
      .addFields(schema.fields.toSeq.map(parquetField): _*).named("spark_schema")
    val tmp = new File(path + ".tmp")
    FileUtils.deleteDirectory(tmp)
    Files.createDirectories(tmp.toPath)
    val writer = ExampleParquetWriter
      .builder(new LocalOutputFile(tmp.toPath.resolve("part-00000.parquet")))
      .withConf(new PlainParquetConfiguration())
      .withType(message)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withPageSize(PageBytes)
      .withDictionaryPageSize(PageBytes)
      .build()
    val groups = new SimpleGroupFactory(message)
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) f.dataType match {
          case StringType  => g.append(f.name, r.getString(i))
          case LongType    => g.append(f.name, r.getLong(i))
          case DoubleType  => g.append(f.name, r.getDouble(i))
          case BooleanType => g.append(f.name, r.getBoolean(i))
          case other       => unsupported(f.name, other.simpleString)
        }
      }
      writer.write(g)
    } finally writer.close()
    val target = new File(path)
    FileUtils.deleteDirectory(target)
    if (!tmp.renameTo(target)) throw new java.io.IOException(s"could not move $tmp to $target")
  }

  private def partFiles(path: String): Seq[Path] = {
    val f = new File(path)
    if (f.isFile) Seq(f.toPath)
    else Option(f.listFiles()).toSeq.flatten
      .filter(p => p.isFile && p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName).map(_.toPath)
  }

  private def readFile(file: Path): (StructType, Seq[Row]) = {
    val reader = ParquetFileReader.open(new LocalInputFile(file))
    try {
      val message = reader.getFooter.getFileMetaData.getSchema
      val schema = StructType(message.getFields.asScala.toSeq.map(sparkField))
      val io = new ColumnIOFactory().getColumnIO(message)
      val rows = mutable.ArrayBuffer[Row]()
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(message))
        var n = 0L
        while (n < pages.getRowCount) { rows += toRow(records.read(), schema); n += 1 }
        pages = reader.readNextRowGroup()
      }
      (schema, rows.toSeq)
    } finally reader.close()
  }

  private def toRow(g: Group, schema: StructType): Row =
    Row.fromSeq(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      if (g.getFieldRepetitionCount(i) == 0) null
      else f.dataType match {
        case StringType  => g.getString(i, 0)
        case LongType    => g.getLong(i, 0)
        case DoubleType  => g.getDouble(i, 0)
        case _           => g.getBoolean(i, 0)
      }
    })

  private def sparkField(t: Type): StructField = {
    val name = t.getName
    if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED)) unsupported(name, t.toString)
    val p = t.asPrimitiveType
    val logical = p.getLogicalTypeAnnotation
    val dataType = (p.getPrimitiveTypeName, logical) match {
      case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) => StringType
      case (PrimitiveTypeName.INT64, null)   => LongType
      case (PrimitiveTypeName.DOUBLE, null)  => DoubleType
      case (PrimitiveTypeName.BOOLEAN, null) => BooleanType
      case _ => unsupported(name, p.toString)
    }
    StructField(name, dataType, nullable = true)
  }

  private def parquetField(f: StructField): Type = f.dataType match {
    case StringType  => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(f.name)
    case LongType    => Types.optional(PrimitiveTypeName.INT64).named(f.name)
    case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
    case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
    case other       => unsupported(f.name, other.simpleString)
  }

  private def unsupported(column: String, tpe: String): Nothing =
    throw new UnsupportedOperationException(s"column $column: type $tpe is not a flat primitive")
}
