package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

class DecontaminateSpec extends SparkSpec {

  /** [[Decontaminate.contamination]] through its Spark plan, whatever the input. */
  private def onSpark(cands: DataFrame, bench: DataFrame, n: Int = 3,
      threshold: Double = 0.2, seed: Int = 7) =
    Decontaminate.contamination(cands, bench, "doc_id", "text", n, threshold, seed, -1, -1)

  /** The default call, which must take the driver path, and the Spark plan. */
  private def bothPaths(cands: DataFrame, bench: DataFrame, n: Int = 3,
      threshold: Double = 0.2): Seq[DataFrame] = {
    val local = Decontaminate.contamination(cands, bench, n = n, threshold = threshold)
    assert(local.isLocal, "expected the driver path")
    Seq(local, onSpark(cands, bench, n, threshold))
  }

  test("gram overlap ratios, short-doc whole-text grams, flag threshold") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d"), (101L, "zz")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "a b c x"), // trigrams {a b c, b c x}: 1 of 2 hit → 0.5
      (2L, "p q r s"), // no overlap → 0.0
      (3L, "zz"), //       short doc, verbatim benchmark copy → 1.0
      (4L, "b c d a b c")) // {b c d, c d a, d a b, a b c}: 2 of 4 → 0.5
      .toDF("doc_id", "text")
    bothPaths(cands, bench, n = 3, threshold = 0.5).foreach { result =>
      val out = result.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      assert(out.toSeq === Seq(
        (1L, 2L, 1L, 0.5, true),
        (2L, 2L, 0L, 0.0, false),
        (3L, 1L, 1L, 1.0, true),
        (4L, 4L, 2L, 0.5, true)))
    }
  }

  test("a gram-less candidate (null text) stays in the report at zero grams") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val cands = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    bothPaths(cands, bench, n = 3).foreach { result =>
      val out = result.orderBy("doc_id").collect()
      assert(out.length === 2, "every candidate gets a row — none silently dropped")
      val nullDoc = out(1)
      assert(nullDoc.getAs[Long]("n_grams") === 0L)
      assert(nullDoc.getAs[Long]("n_contaminated") === 0L)
      assert(nullDoc.getAs[Double]("contamination") === 0.0)
      assert(!nullDoc.getAs[Boolean]("contaminated"))
    }
  }

  test("benchmark side broadcasts: corpus never shuffles for the probe") {
    import spark.implicits._
    val bench = Seq((1L, "a b c")).toDF("doc_id", "text")
    val cands = Seq((2L, "a b c")).toDF("doc_id", "text")
    val plan = onSpark(cands, bench).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("contamination: the driver path equals the Spark plan on random corpora") {
    // ids of both integral types, nullable and non-null id and text fields,
    // a null id, null and empty text on both sides, candidates copying
    // benchmark documents or parts of them, benchmark documents repeating
    // each other's grams
    def text(rnd: scala.util.Random, vocab: Vector[String]): Option[String] = rnd.nextInt(10) match {
      case 0 => None
      case 1 => Some("")
      case _ => Some(Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def corpus(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(Seq(5, 15, 60)(seed % 3))(i => s"w$i")
      val bench = Seq.fill(1 + rnd.nextInt(8))(text(rnd, vocab))
      val benchRows = bench.zipWithIndex.map { case (t, i) => Row(1000L + i, t.orNull) } ++
        bench.take(2).map(t => Row(2000L, t.orNull))
      val n = 1 + rnd.nextInt(30)
      val ids = rnd.shuffle((0L until 300L).toList).take(n)
      val texts = Seq.fill(n)(rnd.nextInt(4) match {
        case 0 => bench(rnd.nextInt(bench.length))
        case 1 => bench(rnd.nextInt(bench.length)).map(_ + " " + vocab(rnd.nextInt(vocab.size)))
        case _ => text(rnd, vocab)
      })
      val intIds = seed % 2 == 0
      val nullId = seed % 6 == 3
      val rows = ids.zip(texts).zipWithIndex.map { case ((id, t), i) =>
        Row(if (i == 0 && nullId) null else if (intIds) id.toInt else id,
          if (seed % 5 == 2) t.getOrElse("") else t.orNull)
      }
      val cands = spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("doc_id", if (intIds) IntegerType else LongType, nullable = nullId || seed % 4 == 1),
        StructField("text", StringType, nullable = seed % 5 != 2))))
      val benchDf = spark.createDataFrame(benchRows.asJava, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      (cands, benchDf, nullId)
    }
    def outcome(df: DataFrame) = (df.schema, df.collect().map(_.toString).sorted.toSeq)
    var flagged = 0
    for (seed <- 0 until 24) {
      val (cands, bench, nullId) = corpus(seed)
      val n = 1 + seed % 3
      val threshold = Seq(0.0, 0.2, 0.5)(seed / 3 % 3)
      var local: DataFrame = null
      val jobs = startedBy { local = Decontaminate.contamination(cands, bench, n = n, threshold = threshold) }
        .count(_._1 == "job")
      val case_ = s"corpus $seed (n $n, threshold $threshold): " +
        s"${cands.collect().mkString(", ")} against ${bench.collect().mkString(", ")}"
      // a null id is one Spark group, which the driver path does not build
      assert(local.isLocal === !nullId, case_)
      if (!nullId) assert(jobs <= 2, case_)
      val got = outcome(local)
      assert(got === outcome(onSpark(cands, bench, n, threshold)), case_)
      flagged += local.collect().count(r => r.getLong(2) > 0)
    }
    assert(flagged > 24, "the corpora must share grams with their benchmarks")
  }

  test("contamination: null, duplicate and string ids and inputs over a cutoff run the Spark plan") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d"), (101L, "zz")).toDF("doc_id", "text")
    val cands = Seq((1L, "a b c x"), (2L, "p q r s"), (3L, "zz")).toDF("doc_id", "text")
    def run(c: DataFrame, maxCandidates: Int = Decontaminate.DriverMaxCandidates,
        maxBenchmark: Int = Decontaminate.DriverMaxBenchmark) =
      Decontaminate.contamination(c, bench, "doc_id", "text", 3, 0.5, 7, maxCandidates, maxBenchmark)
    val expected = onSpark(cands, bench, threshold = 0.5).collect().map(_.toString).sorted.toSeq
    val clean = run(cands)
    assert(clean.isLocal)
    assert(clean.collect().map(_.toString).sorted.toSeq === expected)
    val fallbacks = Seq(
      "null id" -> run(cands.union(Seq((None: Option[Long], "q r")).toDF("doc_id", "text"))),
      "duplicate id" -> run(cands.union(Seq((2L, "q r")).toDF("doc_id", "text"))),
      "string ids" -> run(cands.withColumn("doc_id", $"doc_id".cast("string"))),
      "more candidates than the cutoff" -> run(cands, maxCandidates = 2),
      "more benchmark documents than the cutoff" -> run(cands, maxBenchmark = 1),
      "more partitions than cores" -> run(cands.repartition(spark.sparkContext.defaultParallelism + 1)))
    fallbacks.foreach { case (why, out) => assert(!out.isLocal, why) }
    assert(fallbacks(2)._2.collect().map(r => (r.getString(0), r.getBoolean(4))).toSet ===
      Set(("1", true), ("2", false), ("3", true)))
    assert(fallbacks(4)._2.collect().map(_.toString).sorted.toSeq === expected)
  }

  test("fuzzyContamination flags verbatim and near-dup leaks, not unrelated docs") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the old stone bridge"
    val para = leak.replace("lazy", "sleepy") // near-dup: most shingles shared
    val bench = Seq((100L, leak)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, leak), // verbatim copy → jaccard 1.0
      (2L, para), // paraphrase → high but < 1
      (3L, "completely different content about spark physical plans")
    ).toDF("doc_id", "text")
    val out = Decontaminate.fuzzyContamination(corpus, bench, minJaccard = 0.4)
      .orderBy("corpus_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getAs[Double]("jaccard") === 1.0)
    val j2 = out(1).getAs[Double]("jaccard")
    assert(j2 > 0.4 && j2 < 1.0)
  }

  test("fuzzy path broadcasts the benchmark on both the block and verify joins") {
    import spark.implicits._
    val bench = Seq((7L, "a b c d e f")).toDF("doc_id", "text")
    val corpus = Seq((2L, "a b c d e f")).toDF("doc_id", "text")
    val plan = Decontaminate.fuzzyContamination(corpus, bench)
      .queryExecution.executedPlan.toString
    // candidate join (bucket keys) + verify join (bench shingle arrays):
    // the corpus is never shuffled against itself
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2, plan)
  }

  test("fuzzy verify equals brute-force cross-set Jaccard on flagged pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 zz"),
      (7L, "w1 w2 w3 w4 w5 w6"), (9L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" % 7 === 0)
    val corpus = docs.filter($"doc_id" % 7 =!= 0)
    val fuzzy = Decontaminate.fuzzyContamination(corpus, bench, minJaccard = 0.3)
      .select($"corpus_id", $"bench_id", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute-force oracle: every cross pair via the exact shingle jaccard
    val brute = Dedup.ngramJaccard(docs, minJaccard = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .flatMap { case (a, b, j) =>
        Seq((a, b, j), (b, a, j)).collect {
          case (c, e, jj) if c % 7 != 0 && e % 7 == 0 => (c, e, jj)
        }
      }.toSet
    assert(fuzzy === brute) // LSH at 16/4 recalls everything ≥ 0.3 here
  }

  test("scorecard: exact vs fuzzy vs clean verdicts on engineered leakage") {
    import spark.implicits._
    val bench = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, bench),                                       // verbatim copy → exact
      (2L, bench + " okay"),                             // near-verbatim → exact
      (3L, "completely unrelated text about distributed query engines here now")
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, bench)).toDF("doc_id", "text")
    val out = Decontaminate.scorecard(corpus, benchmark).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("verdict") === "exact")
    assert(out(1L).getAs[Long]("n_contaminated") === out(1L).getAs[Long]("n_grams"))
    assert(out(1L).getAs[Long]("n_fuzzy") >= 1L)
    assert(out(2L).getAs[String]("verdict") === "exact")
    assert(out(3L).getAs[String]("verdict") === "clean")
    assert(out(3L).getAs[Long]("n_contaminated") === 0L)
    assert(out(3L).getAs[Long]("n_fuzzy") === 0L)
  }

  test("contaminatedSpans: islands, longest run, earliest-start tie, clean docs absent") {
    import spark.implicits._
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    // bench 3-grams: {a b c, b c d, c d e, d e f}
    val cands = Seq(
      // 13 tokens → 11 grams; hits at pos 3,4,5 (one pasted run) and 10
      (1L, "z z a b c d e z z a b c z"),
      (2L, "no overlap here at all today"),
      // two length-1 islands at pos 1 and 6 → tie broken to start 1
      (3L, "a b c z z b c d z z")).toDF("doc_id", "text")
    val out = Decontaminate.contaminatedSpans(cands, bench, n = 3)
      .orderBy("doc_id").collect()
    assert(out.length === 2, "doc 2 has no hits and must be absent")
    val d1 = out(0)
    assert(d1.getAs[Long]("doc_id") === 1L)
    assert(d1.getAs[Long]("n_grams") === 11L)
    assert(d1.getAs[Long]("n_hit") === 4L)
    assert(d1.getAs[Long]("n_islands") === 2L)
    assert(d1.getAs[Long]("longest_run") === 3L)
    assert(d1.getAs[Long]("longest_tokens") === 5L)
    assert(d1.getAs[Long]("longest_start") === 3L)
    val d3 = out(1)
    assert(d3.getAs[Long]("doc_id") === 3L)
    assert(d3.getAs[Long]("n_islands") === 2L)
    assert(d3.getAs[Long]("longest_run") === 1L)
    assert(d3.getAs[Long]("longest_start") === 1L, "equal runs tie to the earliest")
  }

  test("maskContaminatedSpans: one-for-one token masking, clean docs untouched") {
    import spark.implicits._
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    // hits at gram pos 2 (a b c) and 3 (b c d) → covered tokens 2..5
    val cands = Seq(
      (1L, "z a b c d z"),
      (2L, "totally clean text here")).toDF("doc_id", "text")
    val out = Decontaminate.maskContaminatedSpans(cands, bench, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_tokens") === 6L)
    assert(d1.getAs[Long]("n_masked") === 4L)
    assert(d1.getAs[String]("masked_md5") ===
      md5Of("z <masked> <masked> <masked> <masked> z"),
      "masking is positional and one-for-one — length preserved")
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_masked") === 0L)
    assert(d2.getAs[String]("masked_md5") === md5Of("totally clean text here"),
      "a clean document's rewrite is byte-identical to the original")
  }
}
