package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The collect step of the operators that run a small input on the driver
  * ([[Similarity.semanticDedup]], [[FuzzyJoin.setSimJoin]],
  * [[Dedup.nearDuplicates]], [[Decontaminate.contamination]]): one job with
  * no shuffle brings the chosen columns to the driver, or the caller learns
  * that its input is not small and runs its Spark plan.
  */
private[ext] object BoundedCollect {

  /** The rows of `cols` evaluated over `df`, as copies of Spark's internal
    * rows (read them with the columns' internal accessors), from one job
    * with no shuffle. Each partition sends at most `cap` rows, so the
    * collect is bounded by `cap` times the session's cores.
    *
    * None, and no job, when `df` is read in more partitions than the session
    * has cores (every input at scale). None when a partition holds more than
    * `cap` rows, or a null in a column whose position is in `required`.
    */
  def apply(df: DataFrame, cap: Int, required: Set[Int], cols: Column*): Option[Array[InternalRow]] = {
    val rdd = df.select(cols: _*).queryExecution.toRdd
    if (rdd.getNumPartitions > df.sparkSession.sparkContext.defaultParallelism) return None
    val parts = rdd.mapPartitions { rows =>
      val out = Array.newBuilder[InternalRow]
      var n = 0
      var complete = true
      while (complete && rows.hasNext) {
        val r = rows.next()
        complete = n < cap && !required.exists(r.isNullAt)
        if (complete) { out += r.copy(); n += 1 }
      }
      Iterator(if (complete) Some(out.result()) else None)
    }.collect()
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  /** The non-null string arrays at `ordinal` of `rows`, each string
    * interned as an Int, and the distinct strings in Int order.
    */
  def intern(rows: Array[InternalRow], ordinal: Int): (Array[Array[Int]], Array[UTF8String]) = {
    val distinct = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val ids = scala.collection.mutable.HashMap.empty[UTF8String, Int]
    val interned = rows.map { r =>
      val es = r.getArray(ordinal)
      Array.tabulate(es.numElements()) { i =>
        val e = es.getUTF8String(i)
        ids.getOrElseUpdate(e, { distinct += e; distinct.length - 1 })
      }
    }
    (interned, distinct.toArray)
  }

  /** Whether the non-null `Long`s at `ordinal` of `rows` are all distinct. */
  def distinctLongs(rows: Array[InternalRow], ordinal: Int): Boolean = {
    val ids = rows.filterNot(_.isNullAt(ordinal)).map(_.getLong(ordinal))
    java.util.Arrays.sort(ids)
    (1 until ids.length).forall(i => ids(i) != ids(i - 1))
  }
}
