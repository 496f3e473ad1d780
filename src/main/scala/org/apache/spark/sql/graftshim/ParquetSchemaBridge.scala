package org.apache.spark.sql.graftshim

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, from a footer the caller
  * already holds: Spark's own footer mapping under the session's conf (its
  * row-metadata key, INT96, `nanosAsLong`), with every field made nullable
  * as a file source does. Both are `private` to Spark's packages, hence this
  * shim package — same pattern as [[ColumnBridge]].
  */
object ParquetSchemaBridge {

  /** The session settings the footer mapping reads. */
  def settings(spark: SparkSession): Seq[Boolean] = {
    val conf = spark.sessionState.conf
    Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
      conf.parquetReaderRespectUnknownTypeAnnotation)
  }

  def footerSchema(footer: Footer, spark: SparkSession): StructType = {
    // the converter schema inference builds (ParquetFileFormat
    // .mergeSchemasInParallel), from the same settings
    val Seq(binaryAsString, int96AsTimestamp, inferNtz, nanosAsLong, respectUnknown) =
      settings(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = binaryAsString,
      assumeInt96IsTimestamp = int96AsTimestamp,
      inferTimestampNTZ = inferNtz,
      nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = respectUnknown)
    ParquetFileFormat.readSchemaFromFooter(footer, converter).asNullable
  }
}
