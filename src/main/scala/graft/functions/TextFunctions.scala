package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.ext.{Dedup, TextAnalysis}

/** SQL faces of the text/dedup scalar operators (§2.9 surface breadth).
  *
  * Each function registers the SAME Column expression tree the DataFrame
  * API builds — converted at the Expression boundary, not re-implemented —
  * so SQL users get identical semantics (and identical DuckDB-oracle
  * results) plus full WholeStageCodegen: the trees are compositions of
  * built-in codegen'd expressions (split/regexp/length/md5), no UDFs.
  *
  * Registered both ways: [[register]] installs temp functions on any live
  * session (the `call_function` path, mirrors VectorFunctions.register),
  * and [[graft.plans.GraftExtensions]] injects them at session build for
  * `spark.sql.extensions` users.
  */
object TextFunctions {

  /** Lift a Column composition into a FunctionRegistry builder. */
  private def colFn(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => ColumnBridge.expression(f(exprs.map(ColumnBridge.column)))

  /** name → builder, one row per exposed scalar. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_token_count" -> colFn(cs => TextAnalysis.tokenCount(cs(0))),
    "graft_bpe_count" -> colFn(cs => TextAnalysis.bpeTokenCount(cs(0))),
    "graft_lang_id" -> colFn(cs => TextAnalysis.langId(cs(0))),
    "graft_fingerprint" -> colFn(cs => TextAnalysis.fingerprint(cs(0))),
    "graft_quality" -> colFn(cs => TextAnalysis.qualityScore(cs(0))),
    "graft_hamming" -> colFn(cs => Dedup.hammingDist(cs(0), cs(1))))

  /** Registers the scalars on a live session once (a session built with
    * `GraftExtensions` already holds them).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      FunctionRegistration.ensure(spark, name, "graft.functions.TextFunctions", builder)
    }
}
