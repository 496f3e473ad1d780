package graft.state

import java.io.ByteArrayInputStream
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, DelegatingSeekableInputStream, InputFile}
import org.apache.parquet.io.{LocalOutputFile, SeekableInputStream}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Driver-side reads and writes of the small flat parquet tables of the
  * incremental state and the relationship cache (one row per table or per
  * edge), so that a steady refresh runs no Spark job (ARCHITECTURE.md, "A
  * steady refresh runs no Spark job"). Tables keep Spark's layout, a
  * directory of part files with optional flat string, long, double and
  * boolean columns: `spark.read.parquet` reads them, and this reads what
  * Spark wrote.
  */
object LocalParquet {
  // Below half of G1's smallest region, so no write buffer is humongous.
  private val PageBytes = 64 * 1024
  // The one part file of a table written here.
  private val Part = "part-00000.parquet"

  /** The rows of the part-file directory `path`, each with its schema;
    * empty when there is no table there yet. A `required` column that a
    * file lacks or holds a null in fails with an error naming the file and
    * the column. Each file is read whole through one open, so a concurrent
    * [[write]] shows this reader the whole old table or the whole new one.
    */
  def read(path: String, required: Seq[String] = Nil): Seq[Row] = {
    def once() = partFiles(path).flatMap(readFile(_, required))
    // the first write over an earlier layout removes its files
    try once() catch { case _: NoSuchFileException => once() }
  }

  /** Replaces the table at `path` with `rows`: they go to a hidden temp
    * file with a unique name inside the table directory, which an atomic
    * rename moves over the table's one part file. So a concurrent reader
    * sees the whole old table or the whole new one, two writers never share
    * a temp file, and the last rename wins. A process crash leaves the
    * previous table readable (plus at most a hidden temp file readers skip);
    * a write that fails in-process removes its temp file. Nothing is
    * fsynced, so the swap is not durable across a power loss. Files of an
    * earlier layout (Spark's part files, `_SUCCESS`, checksums) are removed
    * after the swap.
    */
  def write(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val dir = Files.createDirectories(Paths.get(path))
    val tmp = dir.resolve(s".$Part.${UUID.randomUUID()}.tmp")
    val message = Types.buildMessage()
      .addFields(schema.fields.toSeq.map(parquetField): _*).named("spark_schema")
    val groups = new SimpleGroupFactory(message)
    try {
      val writer = ExampleParquetWriter
        .builder(new LocalOutputFile(tmp))
        .withConf(new PlainParquetConfiguration())
        .withType(message)
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .withPageSize(PageBytes)
        .withDictionaryPageSize(PageBytes)
        .build()
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
      Files.move(tmp, dir.resolve(Part), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName != Part && !f.getName.endsWith(".tmp"))
      .foreach(_.delete())
  }

  // The table's one part file once written here, else every visible one.
  private def partFiles(path: String): Seq[Path] = {
    val files = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(p => p.isFile && p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName).map(_.toPath)
    files.find(_.getFileName.toString == Part).fold(files)(Seq(_))
  }

  // Parquet's defaults without a Hadoop Configuration, which would parse
  // Hadoop's default XML resources on every read.
  private[graft] def readOptions: ParquetReadOptions =
    ParquetReadOptions.builder(new PlainParquetConfiguration()).build()

  private def readFile(file: Path, required: Seq[String]): Seq[Row] = {
    val reader = ParquetFileReader.open(new BytesInputFile(Files.readAllBytes(file)), readOptions)
    try {
      val message = reader.getFooter.getFileMetaData.getSchema
      val schema = StructType(message.getFields.asScala.toSeq.map(sparkField))
      required.filterNot(schema.fieldNames.contains)
        .foreach(c => throw new IllegalStateException(s"$file has no column $c"))
      val io = new ColumnIOFactory().getColumnIO(message)
      Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
        val records = io.getRecordReader(pages, new GroupRecordConverter(message))
        Iterator.fill(pages.getRowCount.toInt)(toRow(records.read(), schema, file, required))
      }.toVector
    } finally reader.close()
  }

  // A file's bytes as parquet input: one open serves both the length and
  // the content, so a file replaced mid-read cannot mix two versions.
  private final class BytesInputFile(bytes: Array[Byte]) extends InputFile {
    def getLength: Long = bytes.length
    def newStream(): SeekableInputStream = {
      val in = new ByteArrayInputStream(bytes)
      new DelegatingSeekableInputStream(in) {
        def getPos: Long = bytes.length - in.available()
        def seek(p: Long): Unit = { in.reset(); in.skip(p) }
      }
    }
  }

  private def toRow(g: Group, schema: StructType, file: Path, required: Seq[String]): Row =
    new GenericRowWithSchema(schema.fields.zipWithIndex.map { case (f, i) =>
      if (g.getFieldRepetitionCount(i) == 0) {
        if (required.contains(f.name))
          throw new IllegalStateException(s"$file: column ${f.name} is null")
        null
      } else f.dataType match {
        case StringType  => g.getString(i, 0)
        case LongType    => g.getLong(i, 0)
        case DoubleType  => g.getDouble(i, 0)
        case _           => g.getBoolean(i, 0)
      }
    }, schema)

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
