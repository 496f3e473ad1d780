package graft.restore

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SnapshotRestoreSpec extends SparkSpec {

  test("snapshot versions: readAsOf picks latest at-or-before, restore honours skip/force") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snap").toString
    val target = Files.createTempDirectory("graft_restore").toString

    val v1 = Seq((1, "one"), (2, "two")).toDF("id", "v")
    val v2 = Seq((1, "one"), (2, "two"), (3, "three")).toDF("id", "v")
    SnapshotRestore.writeVersion(v1, s"$root/t", 1000L)
    SnapshotRestore.writeVersion(v2, s"$root/t", 2000L)
    assert(SnapshotRestore.listVersions(s"$root/t") === Seq(1000L, 2000L))

    // time travel semantics
    assert(SnapshotRestore.readAsOf(spark, s"$root/t", 1500L).get.count() === 2)
    assert(SnapshotRestore.readAsOf(spark, s"$root/t", 2500L).get.count() === 3)
    assert(SnapshotRestore.readAsOf(spark, s"$root/t", 500L).isEmpty)

    // restore the old snapshot
    val r1 = SnapshotRestore.restoreTable(spark, root, target, "t", 1500L)
    assert(r1.status === "restored")
    assert(spark.read.parquet(s"$target/t").count() === 2)

    // skip-if-exists unless force (restore_dataset.sh:148-157)
    val r2 = SnapshotRestore.restoreTable(spark, root, target, "t", 2500L)
    assert(r2.status === "skipped")
    val r3 = SnapshotRestore.restoreTable(spark, root, target, "t", 2500L, force = true)
    assert(r3.status === "restored")
    assert(spark.read.parquet(s"$target/t").count() === 3)

    // missing table reports failure, does not throw
    val r4 = SnapshotRestore.restoreTable(spark, root, target, "missing", 2500L)
    assert(r4.status === "failed")
  }

  test("readAsOf takes the snapshot's schema from its footer: no inference job") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snap_schema").toString
    SnapshotRestore.writeVersion(Seq((1L, "one")).toDF("id", "v"), s"$root/t", 1000L)
    var df: Option[org.apache.spark.sql.DataFrame] = None
    assert(startedBy { df = SnapshotRestore.readAsOf(spark, s"$root/t", 1500L) }
      .filter(_._1 == "job") === Seq.empty)
    assert(df.get.schema === spark.read.parquet(s"$root/t/_v=1000").schema)
    assert(df.get.as[(Long, String)].collect() === Array((1L, "one")))
  }

  test("audit-log discovery: regex extraction + distinct union within the window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_logs").toString
    val logs = Seq(
      """{"timestamp_ms": 5000, "table_id": "orders", "resource_name": null}""",
      """{"timestamp_ms": 6000, "table_id": null, "resource_name": "projects/p/datasets/d/tables/lineitem"}""",
      """{"timestamp_ms": 7000, "table_id": "orders", "resource_name": "projects/p/datasets/d/tables/orders"}""",
      """{"timestamp_ms": 999999999999, "table_id": "too_late", "resource_name": null}""")
    Files.write(java.nio.file.Paths.get(s"$dir/log.json"),
      logs.mkString("\n").getBytes)
    val found = SnapshotRestore.discoverTables(spark, s"$dir/log.json", snapshotMs = 6000L)
      .collect().map(_.getString(0)).toSet
    assert(found === Set("orders", "lineitem"))
  }
}
