package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.{CharTrigramStats, DotProduct, RepetitionStats, WordNGrams, WordShingles}

/** Catalyst optimizer rule: rewrite exact `count(DISTINCT x)` into an
  * HyperLogLog++ sketch when the aggregate's input is large enough that the
  * exact distinct shuffle is the bottleneck — SURVEY §4's "exact→approx RI
  * rewrite above a size threshold" realized as a `Rule[LogicalPlan]`.
  *
  * The reference sizes its sampling adaptively from row counts
  * (data_relationship_tester.py:328-358); this is the same cost-based idea
  * applied inside the optimizer: the QUERY stays exact-looking, the PLAN
  * degrades gracefully to a sketch at scale. Off by default; opt in with
  *
  *   spark.graft.approxDistinct.enabled=true
  *   spark.graft.approxDistinct.minInputBytes=<threshold, default 1 GiB>
  *   spark.graft.approxDistinct.rsd=<relative error, default 0.023>
  *
  * The rewrite keeps each AggregateExpression's resultId, so downstream
  * attribute references (and column names) are untouched. Distinct counts
  * over multiple columns are left alone (HLL++ is single-child).
  */
case class ApproxDistinctRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.approxDistinct.enabled", "false").toBoolean
  private def minBytes: BigInt =
    BigInt(spark.conf.get("spark.graft.approxDistinct.minInputBytes", (1L << 30).toString))
  private def rsd: Double =
    spark.conf.get("spark.graft.approxDistinct.rsd", "0.023").toDouble

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transform {
      case agg: Aggregate if agg.child.stats.sizeInBytes >= minBytes =>
        val rewritten = agg.aggregateExpressions.map { ne =>
          ne.transform {
            case AggregateExpression(c: Count, mode, true, filter, rid)
                if c.children.size == 1 =>
              AggregateExpression(
                HyperLogLogPlusPlus(c.children.head, rsd), mode, isDistinct = false,
                filter, rid)
          }.asInstanceOf[NamedExpression]
        }
        agg.copy(aggregateExpressions = rewritten)
    }
}

/** Session extensions entry point (`spark.sql.extensions=graft.plans
  * .GraftExtensions`): injects the approx-distinct optimizer rule and
  * graft's SQL functions, [[GraftExtensions.functions]] — the full
  * custom-plan surface (brief's preference order (c): Rule + extension
  * registration). This is the only place graft writes to a function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(ApproxDistinctRewrite)
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
  }
}

object GraftExtensions {

  /** A Column composition as a FunctionRegistry builder. */
  private def colFn(f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => ColumnBridge.expression(f(exprs.map(ColumnBridge.column)))

  /** An integer literal argument, such as the n of `graft_ngrams(text, n)`. */
  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** SQL name → builder for every graft function that SQL text calls. Each
    * builder makes what the Scala API makes: the text/dedup scalars (§2.9)
    * are the SAME Column trees — compositions of built-in codegen'd
    * expressions, so SQL users get identical semantics and DuckDB-oracle
    * results — and the native expressions are the nodes their
    * `graft.functions` wrappers construct. Functions no SQL text calls
    * (the media codecs, `langScores`) are reached through their wrappers only.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_token_count", colFn(cs => TextAnalysis.tokenCount(cs(0)))),
    ("graft_bpe_count", colFn(cs => TextAnalysis.bpeTokenCount(cs(0)))),
    ("graft_lang_id", colFn(cs => TextAnalysis.langId(cs(0)))),
    ("graft_fingerprint", colFn(cs => TextAnalysis.fingerprint(cs(0)))),
    ("graft_quality", colFn(cs => TextAnalysis.qualityScore(cs(0)))),
    ("graft_hamming", colFn(cs => Dedup.hammingDist(cs(0), cs(1)))),
    ("graft_dot", es => DotProduct(es(0), es(1))),
    ("graft_repstats", es => RepetitionStats(es(0))),
    ("graft_chartristats", es => CharTrigramStats(es(0))),
    ("graft_ngrams", es => WordNGrams(es(0), int(es(1)))),
    ("graft_shingles", es => WordShingles(es(0), int(es(1)))))
}
