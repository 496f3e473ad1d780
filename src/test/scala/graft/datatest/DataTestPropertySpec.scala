package graft.datatest

import java.lang.Double.doubleToRawLongBits
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** [[DataTester.testRelationships]] against a plain-Scala reference on
  * random small lakes: exact `Long` counts per edge, then the plan's final
  * double operations in the plan's (and the DuckDB oracle's) order. Every
  * metric must be equal bit for bit.
  */
class DataTestPropertySpec extends SparkSpec {
  import DataTestPropertySpec._

  test("testRelationships equals a plain-Scala reference bit for bit on random lakes") {
    val seen = collection.mutable.Set.empty[String]
    val random = (1 to 20).map { seed =>
      val r = new Random(seed)
      val tables = randomLake(r)
      (s"seed $seed", tables, randomEdges(r, tables))
    }
    (OrderSensitive +: random).foreach { case (lake, tables, edges) =>
      val dir = Files.createTempDirectory("graft_dtprop").toString
      tables.foreach(t =>
        spark.createDataFrame(t.rows.asJava, LakeSchema).coalesce(1).write.parquet(s"$dir/${t.name}.parquet"))
      val got = DataTester.testRelationships(spark, dir, edges).collect().map { row =>
        (row.getAs[String]("source_table"), row.getAs[String]("source_column"),
          row.getAs[String]("target_table"), row.getAs[String]("target_column")) ->
          Metrics(row.getAs[Double]("ri_ratio"), row.getAs[Double]("dist_similarity"),
            row.getAs[Double]("overall_confidence"), row.getAs[Long]("orphan_values"),
            row.getAs[Long]("total_src"))
      }.toMap
      assert(got.keySet === edges.toSet, lake)
      val byName = tables.map(t => t.name -> t).toMap
      edges.foreach { case e @ (st, sc, tt, tc) =>
        val c = counts(frequencies(byName(st), sc), frequencies(byName(tt), tc))
        val want = metrics(c)
        assert(got(e).bits === want.bits, s"$lake, edge $e, $c: got ${got(e)}, want $want")
        if (c.totA == 0 || c.totB == 0) seen += "empty side"
        if (c.totA > 0 && c.totB > 0 && c.common == 0) seen += "no overlap"
        if (c.common > 0 && c.common < c.nSrc) seen += "partial overlap"
        if (sc == "str") seen += "string key"
        if (Width.get(sc).exists(w => Width.get(tc).exists(_ != w))) seen += "mixed integral widths"
        if (sc == NestedKey || tc == NestedKey) seen += "nested key"
      }
      val ends = edges.flatMap { case (st, sc, tt, tc) => Seq((st, sc), (tt, tc)) }
      if (ends.distinct.size < ends.size) seen += "shared column"
      if (tables.exists(_.rows.isEmpty)) seen += "empty table"
    }
    assert(seen === Set("empty side", "no overlap", "partial overlap", "string key",
      "mixed integral widths", "nested key", "shared column", "empty table"))
  }
}

object DataTestPropertySpec {

  /** The exact per-edge quantities the data test's plan aggregates. */
  case class Counts(nSrc: Long, common: Long, totA: Long, totB: Long, deltaSum: Long)

  /** The metrics `testRelationships` returns for one edge. */
  case class Metrics(riRatio: Double, distSimilarity: Double, overallConfidence: Double,
      orphanValues: Long, totalSrc: Long) {
    def bits: (Long, Long, Long, Long, Long) = (doubleToRawLongBits(riRatio),
      doubleToRawLongBits(distSimilarity), doubleToRawLongBits(overallConfidence),
      orphanValues, totalSrc)
  }

  /** Counts from the two sides' value frequencies (value → rows). */
  def counts(a: Map[String, Long], b: Map[String, Long]): Counts = {
    val (totA, totB) = (a.values.sum, b.values.sum)
    val shared = a.keySet.intersect(b.keySet).toSeq
    Counts(a.size, shared.size, totA, totB,
      shared.map(v => math.abs(a(v) * totB - b(v) * totA)).sum)
  }

  /** The plan's final double operations, in its order. */
  def metrics(c: Counts): Metrics = {
    val ri = if (c.nSrc == 0) 0.0 else c.common.toDouble / c.nSrc
    val dist =
      if (c.common == 0 || c.nSrc == 0) 0.0
      else (1.0 - c.deltaSum.toDouble / (c.totA.toDouble * c.totB.toDouble) / c.common) *
        (c.common.toDouble / c.nSrc)
    val overall = math.min(math.max(ri * 0.5 + 1.0 * 0.3 + dist * 0.2, 0.0), 1.0)
    Metrics(ri, dist, overall, c.nSrc - c.common, c.nSrc)
  }

  case class Table(name: String, rows: Seq[Row])

  /** A lake whose distribution similarity depends on the order of the final
    * divisions: delta_sum / (tot_a·tot_b) / common and delta_sum / common /
    * (tot_a·tot_b) differ in the last bit here (14 / 20 / 3).
    */
  val OrderSensitive: (String, Seq[Table], Seq[(String, String, String, String)]) = {
    def ints(vs: Int*) = vs.map(v => Row(v, null, null, null, null))
    ("order-sensitive lake", Seq(Table("t0", ints(0, 1, 2, 2, 2)), Table("t1", ints(0, 1, 1, 2))),
      Seq(("t0", "i", "t1", "i")))
  }

  val NestedKey = "ref.k"
  private val Width = Map("i" -> "int", "l" -> "bigint", "s" -> "smallint", NestedKey -> "int")
  private val Integral = Width.keys.toSeq.sorted

  /** Every lake table has these columns: int, bigint and smallint keys, a
    * string key and an int key nested in a struct.
    */
  val LakeSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType), StructField("s", ShortType),
    StructField("str", StringType),
    StructField("ref", StructType(Seq(StructField("k", IntegerType), StructField("note", StringType))))))

  /** Non-null values of `column` (a dotted name reads a struct field),
    * canonicalized as the plan does (an integral value as its bigint
    * digits), with their row counts.
    */
  def frequencies(t: Table, column: String): Map[String, Long] =
    t.rows.flatMap { row =>
      val v = column.split('.') match {
        case Array(c) => row.get(LakeSchema.fieldIndex(c))
        case Array(c, f) =>
          val struct = LakeSchema(c).dataType.asInstanceOf[StructType]
          Option(row.getStruct(LakeSchema.fieldIndex(c))).map(_.get(struct.fieldIndex(f))).orNull
      }
      v match {
        case null => None
        case n: java.lang.Number => Some(n.longValue.toString)
        case s: String => Some(s)
      }
    }.groupMapReduce(identity)(_ => 1L)(_ + _)

  /** Two or three tables of 0-12 rows. Each column draws from a small pool
    * (sometimes shifted, so sides can miss each other) with its own null
    * rate, all-null included.
    */
  def randomLake(r: Random): Seq[Table] =
    (0 until 2 + r.nextInt(2)).map { t =>
      val n = if (r.nextInt(5) == 0) 0 else 1 + r.nextInt(12)
      def pool(): () => Option[Long] = {
        val (size, shift, nulls) = (1 + r.nextInt(6), if (r.nextInt(4) == 0) 100 else 0,
          Seq(0.0, 0.0, 0.3, 1.0)(r.nextInt(4)))
        () => if (r.nextDouble() < nulls) None else Some((shift + r.nextInt(size)).toLong)
      }
      val (i, l, s, str, k) = (pool(), pool(), pool(), pool(), pool())
      val structNulls = r.nextInt(3) == 0
      Table(s"t$t", (0 until n).map { _ =>
        def box(v: Option[Long])(f: Long => Any): Any = v.map(f).orNull
        val ref = if (structNulls && r.nextBoolean()) null
          else Row(box(k())(_.toInt), "n")
        Row(box(i())(_.toInt), box(l())(identity), box(s())(_.toShort),
          box(str())(v => if (v == 0) "" else s"v$v"), ref)
      })
    }

  /** Two to six distinct edges, integral to integral (any widths, nested
    * included) or string to string; a column may sit on both ends.
    */
  def randomEdges(r: Random, tables: Seq[Table]): Seq[(String, String, String, String)] = {
    def end(cols: Seq[String]) = (tables(r.nextInt(tables.size)).name, cols(r.nextInt(cols.size)))
    Seq.fill(2 + r.nextInt(5)) {
      val cols = if (r.nextInt(4) == 0) Seq("str") else Integral
      val ((st, sc), (tt, tc)) = (end(cols), end(cols))
      (st, sc, tt, tc)
    }.distinct
  }
}
