package graft.catalog

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._

/** The catalog's footer-derived schema must be the schema Spark infers:
  * `spark.read.parquet(path).schema`, and the catalog columns derived from
  * it, on Spark-written tables, on files from a plain parquet-mr writer and
  * on multi-part table directories.
  */
class FooterSchemaSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory("graft_footer_schema").toString

  /** The footer schema equals Spark's inferred one, and reading it starts no
    * Spark job.
    */
  private def check(name: String): Unit = {
    val path = s"$dir/$name.parquet"
    val inferred = spark.read.parquet(path).schema
    var footer: org.apache.spark.sql.types.StructType = null
    val jobs = startedBy { footer = ParquetCatalog.read(spark, path).schema }.filter(_._1 == "job")
    assert(footer === inferred, name)
    assert(jobs === Seq.empty, name)
    assert(ParquetCatalog.tableMeta(spark, dir, name).columns === ParquetCatalog.toColumnMeta(inferred))
  }

  /** Writes two rows to each of `files` with parquet-mr's example writer;
    * `fill` sets a row's fields.
    */
  private def plainParquet(schema: String, files: Seq[String])(
      fill: org.apache.parquet.example.data.Group => Unit): Unit = {
    val message = MessageTypeParser.parseMessageType(schema)
    val factory = new SimpleGroupFactory(message)
    files.foreach { f =>
      val writer = ExampleParquetWriter.builder(new Path(f)).withType(message).build()
      try (0 until 2).foreach { _ =>
        val g = factory.newGroup()
        fill(g)
        writer.write(g)
      } finally writer.close()
    }
  }

  test("Spark-written tables: every type family, one part file and several") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .select(
        col("id"), col("name"), col("id").cast("int").as("i"), col("id").cast("short").as("sh"),
        col("id").cast("byte").as("by"), col("id").cast("float").as("f"),
        col("id").cast("decimal(12,3)").as("dec"), col("id").cast("timestamp").as("ts"),
        col("id").cast("timestamp").cast("timestamp_ntz").as("ntz"),
        col("id").cast("timestamp").cast("date").as("dt"), col("name").cast("binary").as("bin"),
        (col("id") > 1).as("flag"), array(col("id").cast("int")).as("arr"),
        struct(col("id").as("customer_id"), struct(col("name").as("city")).as("addr")).as("st"),
        map(col("name"), col("id")).as("m"),
        array(struct(col("id").as("item_id"), col("name").as("note"))).as("items"))
      .withColumn("req", lit(7L)) // non-null in the file; the catalog makes it nullable
    df.coalesce(1).write.parquet(s"$dir/spark_one.parquet")
    df.repartition(3).write.parquet(s"$dir/spark_parts.parquet")
    check("spark_one")
    check("spark_parts")
    assert(ParquetCatalog.read(spark, s"$dir/spark_parts.parquet").orderBy("id").collect() ===
      spark.read.parquet(s"$dir/spark_parts.parquet").orderBy("id").collect())
  }

  test("plain parquet-mr files: INT96, decimals, nested struct, array of struct, map") {
    val schema =
      """message plain {
        |  required int64 id;
        |  optional int96 ts96;
        |  optional int32 dec9 (DECIMAL(9,2));
        |  optional fixed_len_byte_array(16) dec38 (DECIMAL(38,10));
        |  optional binary label (UTF8);
        |  optional binary raw;
        |  optional group addr { optional binary city (UTF8); optional int64 zip_id; }
        |  optional group items (LIST) {
        |    repeated group list { optional group element { optional int64 item_id; optional double price; } }
        |  }
        |  optional group attrs (MAP) {
        |    repeated group key_value { required binary key (UTF8); optional int32 value; }
        |  }
        |  repeated int32 legacy_ids;
        |}""".stripMargin
    def fill(g: org.apache.parquet.example.data.Group): Unit = {
      g.add("id", 1L)
      g.add("ts96", Binary.fromConstantByteArray(new Array[Byte](12)))
      g.add("dec9", 12345)
      g.add("dec38", Binary.fromConstantByteArray(new Array[Byte](16)))
      g.add("label", "x")
      g.add("raw", Binary.fromString("y"))
      g.addGroup("addr").append("city", "z").append("zip_id", 9L)
      g.addGroup("items").addGroup("list").addGroup("element").append("item_id", 3L).append("price", 1.5)
      g.addGroup("attrs").addGroup("key_value").append("key", "k").append("value", 4)
      g.add("legacy_ids", 5)
    }
    plainParquet(schema, Seq(s"$dir/plain_one.parquet"))(fill)
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/plain_parts.parquet"))
    plainParquet(schema,
      Seq("part-0.parquet", "part-1.parquet").map(f => s"$dir/plain_parts.parquet/$f"))(fill)
    check("plain_one")
    check("plain_parts")
  }

  test("plain parquet-mr TIMESTAMP(NANOS) under nanosAsLong") {
    plainParquet(
      "message nanos { required int64 id; optional int64 ts_nanos (TIMESTAMP(NANOS,true)); }",
      Seq(s"$dir/nanos.parquet")) { g => g.add("id", 1L); g.add("ts_nanos", 1700000000000000000L) }
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      check("nanos")
      assert(spark.read.parquet(s"$dir/nanos.parquet").schema("ts_nanos").dataType ===
        org.apache.spark.sql.types.LongType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
