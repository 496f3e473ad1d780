package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

import scala.jdk.CollectionConverters._

class FuzzyJoinSpec extends SparkSpec {

  /** Reference edit distance for the brute-force oracle. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def brute(values: Seq[String], k: Int): Set[(String, String, Long)] = {
    val v = values.distinct
    (for {
      a <- v; b <- v
      if a.length < b.length || (a.length == b.length && a < b)
      d = lev(a, b) if d <= k
    } yield (a, b, d.toLong)).toSet
  }

  private def run(values: Seq[String], k: Int): Set[(String, String, Long)] = {
    import spark.implicits._
    FuzzyJoin.selfPairs(values.toDF("v"), "v", k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("matches brute force on a mixed fixture (k=2)") {
    val vs = Seq("red bolt", "old bolt", "red bolts", "blue bolt", "gear",
      "gears", "ger", "a", "ab", "abc", "zzzz", "small ring", "small rind",
      "", "xy", "completely different string here")
    assert(run(vs, 2) === brute(vs, 2))
  }

  test("matches brute force on short strings where segments are empty (k=3)") {
    val vs = Seq("", "a", "b", "ab", "ba", "abc", "abcd", "aaaa", "aaab")
    assert(run(vs, 3) === brute(vs, 3))
  }

  test("matches brute force on pseudo-random strings (k=1)") {
    val rnd = new scala.util.Random(42)
    val alpha = "ab"
    val vs = Seq.fill(60)((0 until (1 + rnd.nextInt(6))).map(_ =>
      alpha(rnd.nextInt(alpha.length))).mkString)
    assert(run(vs, 1) === brute(vs, 1))
  }

  test("duplicate input rows collapse; nulls ignored; pairs emitted once") {
    import spark.implicits._
    val df = Seq(Some("abc"), Some("abc"), Some("abd"), None).toDF("v")
    val out = FuzzyJoin.selfPairs(df, "v", 1).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "abc" && out.head.getString(1) === "abd")
    assert(out.head.getLong(2) === 1L)
  }

  private def bruteCross(
      ls: Seq[String], rs: Seq[String], k: Int): Set[(String, String, Long)] =
    (for {
      a <- ls.distinct; b <- rs.distinct
      d = lev(a, b) if d <= k
    } yield (a, b, d.toLong)).toSet

  private def runCross(
      ls: Seq[String], rs: Seq[String], k: Int): Set[(String, String, Long)] = {
    import spark.implicits._
    FuzzyJoin.crossPairs(ls.toDF("l"), rs.toDF("r"), "l", "r", k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("crossPairs matches brute force either orientation, incl. exact hits (k=2)") {
    val ls = Seq("red bolt", "gear", "small ring", "abc", "", "xy",
      "completely different string here")
    val rs = Seq("red bolts", "old bolt", "gears", "ger", "small rind",
      "abc", "a", "zzzz")
    assert(runCross(ls, rs, 2) === bruteCross(ls, rs, 2))
    assert(runCross(rs, ls, 2) === bruteCross(rs, ls, 2)) // asymmetric sides
  }

  test("crossPairs matches brute force on pseudo-random strings (k=1)") {
    val rnd = new scala.util.Random(7)
    def gen(n: Int) = Seq.fill(n)((0 until (1 + rnd.nextInt(6))).map(_ =>
      "ab" (rnd.nextInt(2))).mkString)
    val (ls, rs) = (gen(40), gen(40))
    assert(runCross(ls, rs, 1) === bruteCross(ls, rs, 1))
  }

  /** setSimJoin on the driver (asserted), then through the Spark plan. */
  private def setSimBothPaths(
      docs: DataFrame, tNum: Int, tDen: Int, shingleK: Int): Seq[DataFrame] = {
    val local = FuzzyJoin.setSimJoin(docs, tNum = tNum, tDen = tDen, shingleK = shingleK)
    assert(local.isLocal, "expected the driver path")
    Seq(local, onSpark(docs, tNum, tDen, shingleK))
  }

  private def onSpark(docs: DataFrame, tNum: Int, tDen: Int, shingleK: Int) =
    FuzzyJoin.setSimJoin(docs, "text", "doc_id", tNum, tDen, shingleK, -1, 0L)

  test("setSimJoin: prefix filter is lossless — equals brute-force Jaccard join") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val docs = (1 to 60).map { i =>
      val n = 4 + rnd.nextInt(8)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")

    val got = setSimBothPaths(docs, 3, 5, 0).map(_.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Long]("jac_fp")))).toMap)

    // brute force over the same token sets
    val sets = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).toLowerCase.split(" ").toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = sets(a).size + sets(b).size - inter
      if inter * 5 >= 3 * union
    } yield (a, b) -> ((inter.toLong, inter.toLong * 1048576L / union))).toMap
    got.foreach(g => assert(g === brute))
    assert(brute.nonEmpty, "fixture must actually produce similar pairs")
  }

  test("setSimJoin: identical and disjoint docs behave at the extremes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),     // identical → jac_fp = 2^20
      (3L, "epsilon zeta eta theta")      // disjoint → absent
    ).toDF("doc_id", "text")
    val out = FuzzyJoin.setSimJoin(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("id_a") === 1L && out.head.getAs[Long]("id_b") === 2L)
    assert(out.head.getAs[Long]("jac_fp") === 1048576L)
  }

  test("setSimJoin shingle mode equals brute force over shingle sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vocab = Vector.tabulate(12)(i => s"w$i")
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((1 to 30).map { i =>
      (i.toLong, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (101L, base), (102L, base),          // identical shingle sets
      (103L, base + " iota"),              // one appended word
      (104L, "prefix " + base)             // one prepended word
    )).toDF("doc_id", "text")
    val got = setSimBothPaths(docs, 1, 2, 3).map(_.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_fp"))
      .toMap)
    // brute force over the SAME deduped shingle sets
    val sets = docs.collect().map { r =>
      val toks = r.getString(1).split(" ").toSeq
      val sh =
        if (toks.length < 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      r.getLong(0) -> sh
    }.toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = sets(a).size + sets(b).size - inter
      if inter * 2 >= union
    } yield (a, b) -> inter.toLong * 1048576L / union).toMap
    got.foreach(g => assert(g === brute))
    assert(brute.nonEmpty, "fixture must produce similar pairs")
  }

  test("setSimJoin: the driver path equals the Spark plan on random corpora") {
    // a null id, null text, empty text, doubled spaces and upper case; ids
    // of both integral types; three vocabularies, the smallest closed (every
    // pair of its documents shares elements)
    def corpus(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(Seq(4, 12, 40)(seed % 3))(i => if (i % 5 == 0) s"W$i" else s"w$i")
      val n = 1 + rnd.nextInt(30)
      val ids = rnd.shuffle((0L until 200L).toList).take(n)
      val texts = Seq.fill(n)(rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some("")
        case 2 => Some("w1  w2 w3")
        case _ => Some(Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      })
      // copies of earlier documents, so that every threshold has pairs
      val copies = texts.map(t => if (rnd.nextInt(4) == 0) texts(rnd.nextInt(n)) else t)
      val intIds = seed % 2 == 0
      val rows = ids.zip(copies).zipWithIndex.map { case ((id, t), i) =>
        Row(if (i == 0 && seed % 3 == 0) null else if (intIds) id.toInt else id, t.orNull)
      }
      spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("doc_id", if (intIds) IntegerType else LongType, nullable = seed % 3 == 0 || seed % 4 == 1),
        StructField("text", StringType))))
    }
    def outcome(df: DataFrame) = (df.schema, df.collect().map(_.toString).sorted.toSeq)
    var pairs = 0
    for (seed <- 0 until 24) {
      val docs = corpus(seed)
      val shingleK = if (seed % 2 == 0) 0 else 3
      val (tNum, tDen) = Seq((1, 2), (3, 5), (1, 1))(seed / 2 % 3)
      var local: DataFrame = null
      val jobs = startedBy {
        local = FuzzyJoin.setSimJoin(docs, tNum = tNum, tDen = tDen, shingleK = shingleK)
      }.count(_._1 == "job")
      val case_ = s"corpus $seed (k $shingleK, t $tNum/$tDen): ${docs.collect().mkString(", ")}"
      assert(local.isLocal, case_)
      assert(jobs <= 1, case_)
      val got = outcome(local)
      assert(got === outcome(onSpark(docs, tNum, tDen, shingleK)), case_)
      pairs += got._2.length
    }
    assert(pairs > 24, "the corpora must produce pairs")
  }

  test("setSimJoin: duplicate ids, string ids and inputs over a cutoff run the Spark plan") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c"), (3L, "a b c d e"), (4L, "x y")).toDF("doc_id", "text")
    def run(df: DataFrame, maxDocs: Int = FuzzyJoin.DriverMaxDocs,
        maxMass: Long = FuzzyJoin.DriverMaxCandidateMass) =
      FuzzyJoin.setSimJoin(df, "text", "doc_id", 1, 2, 0, maxDocs, maxMass)
    val expected = onSpark(docs, 1, 2, 0).collect().map(_.toString).sorted.toSeq
    assert(expected.length === 3)
    val clean = run(docs)
    assert(clean.isLocal)
    assert(clean.collect().map(_.toString).sorted.toSeq === expected)
    val fallbacks = Seq(
      "duplicate id" -> run(docs.union(Seq((2L, "q r")).toDF("doc_id", "text"))),
      "string ids" -> run(docs.withColumn("doc_id", $"doc_id".cast("string"))),
      "more documents than the cutoff" -> run(docs, maxDocs = 3),
      "more candidate mass than the cutoff" -> run(docs, maxMass = 0L),
      "more partitions than cores" -> run(docs.repartition(spark.sparkContext.defaultParallelism + 1)))
    fallbacks.foreach { case (why, out) => assert(!out.isLocal, why) }
    assert(fallbacks(1)._2.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("1", "2"), ("1", "3"), ("2", "3")))
  }

  test("setSimJoin: the sf0.001 documents take one job, and collecting the pairs none") {
    val docs = graft.Tables.documents(spark, sf0001)
    var out: DataFrame = null
    val jobs = startedBy { out = FuzzyJoin.setSimJoin(docs, tNum = 1, tDen = 2, shingleK = 3) }
      .filter(_._1 == "job")
    assert(jobs.length <= 1, jobs.mkString("\n"))
    var rows = Array.empty[Row]
    val resultJobs = startedBy { rows = out.collect() }.filter(_._1 == "job")
    assert(resultJobs.isEmpty, resultJobs.mkString("\n"))
    assert(rows.nonEmpty)
    val planned = onSpark(docs, 1, 2, 3)
    assert((out.schema, rows.map(_.toString).sorted.toSeq) ===
      ((planned.schema, planned.collect().map(_.toString).sorted.toSeq)))
  }

  test("thresholdSensitivity: bins by exact jaccard, clamps 1.0, counts pairs and docs") {
    import spark.implicits._
    // (1,2): identical 4-token sets → jaccard 1 → bin clamps to 19.
    // Every other pair shares {alpha,beta,gamma} of 5 distinct tokens →
    // jaccard 3/5 → bin floor(0.6·20) = 12, five such pairs over 4 docs.
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon"),
      (4L, "alpha beta gamma zeta")
    ).toDF("doc_id", "text")
    val pairs = FuzzyJoin.setSimJoin(docs, tNum = 1, tDen = 2)
    val out = FuzzyJoin.thresholdSensitivity(pairs).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    // every bin of the sweep reports, empty bins as explicit zeros
    assert(out.keySet === (0L until 20L).toSet)
    assert(out.filter(_._2.getAs[Long]("n_pairs") > 0L).keySet === Set(12L, 19L))
    assert(out(0L).getAs[Long]("n_pairs") === 0L)
    assert(out(0L).getAs[Long]("n_docs") === 0L)
    assert(out(19L).getAs[Long]("n_pairs") === 1L)
    assert(out(19L).getAs[Long]("n_docs") === 2L)
    // thr_lo for bin 19 = floor(19·2^20/20)
    assert(out(19L).getAs[Long]("thr_lo_fp") === 19L * 1048576L / 20L)
    assert(out(12L).getAs[Long]("n_pairs") === 5L)
    assert(out(12L).getAs[Long]("n_docs") === 4L)
    val totalPairs = out.values.map(_.getAs[Long]("n_pairs")).sum
    assert(totalPairs === pairs.count())
  }
}
