package graft.state

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.Relationship
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The state and cache files as the serving path reads and writes them:
  * earlier layouts, nulls, crashes and concurrent access.
  */
class StateFilesSpec extends SparkSpec {

  private def tempPath(name: String): String =
    Files.createTempDirectory("graft_state_files").toString + s"/$name"

  private def version(tag: String, n: Int): Seq[StateEntry] =
    (0 until n).map(i => StateEntry(s"$tag$i", s"hash_$tag", i.toLong))

  private def sorted(entries: Seq[StateEntry]) = entries.sortBy(_.toString)

  private val (a, b) = (version("a", 40), version("b", 60))

  test("state directories of earlier layouts load, and the first write leaves one part file") {
    import spark.implicits._
    // Spark's own layout: _SUCCESS, .crc checksums and a snappy part-…-c000 file
    val sparkDir = tempPath("spark_state")
    a.map(e => (e.tableName, e.schemaHash, e.processedAtMs))
      .toDF("table_name", "schema_hash", "processed_at_ms").coalesce(1).write.parquet(sparkDir)
    val names = new File(sparkDir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.exists(n => n.startsWith("part-00000-") && n.endsWith("-c000.snappy.parquet")))
    // the driver-side layout before the atomic swap: one uncompressed
    // part-00000.parquet, written by that version's writer
    val earlierDir = tempPath("earlier_state")
    FileUtils.copyDirectory(
      new File(getClass.getResource("/state/earlier_local_parquet").toURI), new File(earlierDir))
    val earlier = Seq(StateEntry("customer", "hash_customer", 1L),
      StateEntry("orders", "hash_orders", 2L), StateEntry(null, "hash_nameless", 3L))

    Seq(sparkDir -> a, earlierDir -> earlier).foreach { case (dir, expected) =>
      assert(sorted(IncrementalState.load(dir)) === sorted(expected))
      val added = StateEntry("added", "hash_added", 5000L)
      IncrementalState.save(dir, Seq(added), IncrementalState.load(dir))
      assert(new File(dir).list().toSeq === Seq("part-00000.parquet"))
      assert(sorted(IncrementalState.load(dir)) === sorted(expected :+ added))
      assert(spark.read.parquet(dir).count() === expected.size + 1)
    }
  }

  test("a null timestamp fails naming the file and the column; a null key never matches") {
    import spark.implicits._
    val statePath = tempPath("state")
    Seq[(String, String, Option[Long])](
      ("orders", "h1", Some(1L)), (null, "h2", Some(2L)), ("customer", null, Some(3L)),
      ("lineitem", "h4", None))
      .toDF("table_name", "schema_hash", "processed_at_ms").coalesce(1).write.parquet(statePath)
    val part = new File(statePath).list().find(_.startsWith("part-")).get
    val err = intercept[IllegalStateException](IncrementalState.load(statePath))
    assert(err.getMessage.contains(part) && err.getMessage.contains("column processed_at_ms"))

    // the same keys with timestamps load, and the null ones match no table
    val keysPath = tempPath("keys")
    Seq[(String, String, Long)](("orders", "h1", 1L), (null, "h2", 2L), ("customer", null, 3L))
      .toDF("table_name", "schema_hash", "processed_at_ms").coalesce(1).write.parquet(keysPath)
    val current = Seq(StateEntry("orders", "h1", 9L), StateEntry("customer", "h3", 9L),
      StateEntry("nation", "h2", 9L))
    assert(IncrementalState.changed(current, IncrementalState.load(keysPath)).map(_.tableName) ===
      Seq("customer", "nation"))

    val cachePath = tempPath("cache")
    val edge = Relationship("a", "x", "b", "y", "many_to_one", 0.9, "exact_match", false)
    Seq((edge.sourceTable, edge.sourceColumn, edge.targetTable, edge.targetColumn,
      edge.relationshipType, edge.confidence, edge.detectionMethod, edge.isCustom,
      None: Option[Long]))
      .toDF(RelationshipCache.EdgeSchema.fieldNames.toSeq :+ "cached_at_ms": _*)
      .coalesce(1).write.parquet(cachePath)
    val cacheErr = intercept[IllegalStateException](RelationshipCache.load(cachePath))
    assert(cacheErr.getMessage.contains("column cached_at_ms"))
  }

  test("a write that fails partway through the file leaves the previous table readable") {
    val path = tempPath("state")
    IncrementalState.save(path, a, Nil)
    val schema = StructType(Seq(StructField("table_name", StringType),
      StructField("schema_hash", StringType), StructField("processed_at_ms", LongType)))
    // two rows are written, then the third's timestamp is not a long
    val rows = Seq(Row("x", "h", 1L), Row("y", "h", 2L), Row("z", "h", "late"), Row("w", "h", 4L))
    intercept[ClassCastException](LocalParquet.write(path, schema, rows))
    assert(sorted(IncrementalState.load(path)) === sorted(a))
    assert(new File(path).list().toSeq === Seq("part-00000.parquet"))
    assert(new File(path).getParentFile.list().toSeq === Seq("state"))
  }

  test("a reader during 500 writes always sees a whole table, old or new") {
    val path = tempPath("state")
    IncrementalState.save(path, a, Nil)
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger()
    val bad = new ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      while (!done.get) {
        try {
          val got = sorted(IncrementalState.load(path))
          if (got != sorted(a) && got != sorted(b)) bad.add(s"a table of ${got.size} rows")
        } catch { case e: Exception => bad.add(e.toString) }
        reads.incrementAndGet()
      })
    reader.start()
    try (1 to 500).foreach(i => IncrementalState.save(path, if (i % 2 == 0) a else b, Nil))
    finally { done.set(true); reader.join() }
    assert(bad.asScala.take(3).toSeq === Seq.empty)
    assert(reads.get > 0)
  }

  test("two concurrent writers both complete and the table is one writer's rows in full") {
    val path = tempPath("state")
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(a, b).map(rows => new Thread(() =>
      try (1 to 200).foreach(_ => IncrementalState.save(path, rows, Nil))
      catch { case e: Throwable => errors.add(e) }))
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(errors.asScala.toSeq === Seq.empty)
    val got = sorted(IncrementalState.load(path))
    assert(got === sorted(a) || got === sorted(b))
    assert(new File(path).list().toSeq === Seq("part-00000.parquet"))
  }
}
