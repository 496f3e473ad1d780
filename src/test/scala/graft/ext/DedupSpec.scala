package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = "the quick brown fox jumps over the lazy dog and runs far away home today"
    val other = "completely different content about spark engines and catalyst optimizers instead"
    val other2 = "unrelated words describing parquet files and shuffle partitions in clusters"
    Seq((0L, base), (1L, nearDup), (2L, other), (3L, other2), (4L, base))
      .toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 4) // 0 and 4 collapse
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") === 0L)
  }

  test("minhash-LSH finds near-duplicates and skips unrelated docs") {
    val pairs = Dedup.nearDuplicates(docs, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // identical
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(2L) && Set(a, b).contains(3L) })
  }

  test("ngram jaccard is 1.0 for identical docs, 0 for disjoint") {
    val j = Dedup.ngramJaccard(docs)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 4L)) === 1.0)
    assert(!j.contains((2L, 3L))) // no shared shingles -> no joined row
  }

  test("containment catches a short doc swallowed by a long one where jaccard stays low") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val pair = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(pair).collect().head
    // every shingle of the short doc appears in the long one
    assert(c.getAs[Double]("contain_a") === 1.0)
    assert(c.getAs[Double]("contain_b") < 0.2)
    assert(c.getAs[Long]("contained_id") === 1L)
    // the same pair scores low on jaccard — the union denominator hides it
    val j = Dedup.ngramJaccard(pair).collect().head.getAs[Double]("jaccard")
    assert(j < 0.2, s"jaccard $j should miss the containment")
    // threshold filters by the BEST direction
    assert(Dedup.containmentPairs(pair, minContainment = 0.9).count() === 1)
    assert(Dedup.containmentPairs(pair, minContainment = 1.01).count() === 0)
  }

  test("dupSourceMatrix: pairs land on normalized source pairs, diagonal = within-source") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog every single day"
    val other = "completely unrelated content with distinct vocabulary here today"
    val df = Seq(
      (1L, t, "crawlA"), (2L, t, "crawlB"),   // cross-source dup
      (3L, t, "crawlB"),                      // B-internal dup with 2 (and cross with 1)
      (4L, other, "crawlA"))                  // no dup
      .toDF("doc_id", "text", "source")
    val m = Dedup.dupSourceMatrix(df, minJaccard = 0.9).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m === Map(
      ("crawlA", "crawlB") -> 2L, // 1-2 and 1-3
      ("crawlB", "crawlB") -> 1L)) // 2-3
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) === sig(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(1L)) < ham(sig(0L), sig(2L)))
  }

  test("dedup clusters: chain and isolated pair resolve to min reachable id") {
    import spark.implicits._
    // chain 1-2-3 (transitively one cluster) + isolated pair 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("dedup clusters: long chain converges via pointer jumping within maxIters") {
    import spark.implicits._
    // a 40-edge chain has diameter 40 — min-label propagation alone would
    // need 40 rounds; pointer jumping needs ~log2(40) ≈ 6
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // (forced onto the distributed path: a cutoff of 0 pairs is what every
    // pair graph above the driver cutoff sees)
    val out = Dedup.dedupClusters(chain, maxIters = 10, driverMaxPairs = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 41)
    assert(out.values.toSet === Set(0L))
  }

  test("dedup clusters: a small pair graph resolves on the driver in at most 2 jobs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    var out = Map.empty[Long, Long]
    val jobs = startedBy {
      out = Dedup.dedupClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }.filter(_._1 == "job")
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the pin (which counts the pairs) and one collect; the result is local
    assert(jobs.length <= 2, jobs.mkString("\n"))
  }

  test("dedup clusters: union-find labels equal the distributed loop's on random pair graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // ids from a small range, so duplicate edges, both orientations of an
    // edge, self-loops and shared nodes are common; a few null ends
    val end = Gen.frequency(12 -> Gen.choose(0L, 24L).map(Option(_)), 1 -> Gen.const(None))
    val graph = Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.zip(end, end)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq.sortBy(_.toString)
    (0 until 12).foreach { i =>
      val g = graph.apply(Gen.Parameters.default, Seed(i.toLong)).get
      // nullable ids with null ends, and the same edges as non-null ids
      val nullable = g.toDF("id_a", "id_b")
      val nonNull = g.collect { case (Some(a), Some(b)) => (a, b) }.toDF("id_a", "id_b")
      Seq(nullable, nonNull).foreach { pairs =>
        val local = Dedup.dedupClusters(pairs, 20, Dedup.DriverCcMaxPairs)
        val distributed = Dedup.dedupClusters(pairs, 20, driverMaxPairs = -1L)
        assert(local.schema === distributed.schema, s"graph $i: $g")
        assert(rows(local) === rows(distributed), s"graph $i: $g")
      }
    }
  }

  test("dedup clusters: integer ids resolve on the driver with integer columns") {
    import spark.implicits._
    val pairs = Seq((3, 1), (1, 2), (9, 9)).toDF("id_a", "id_b")
    val local = Dedup.dedupClusters(pairs)
    val distributed = Dedup.dedupClusters(pairs, 20, driverMaxPairs = -1L)
    assert(local.schema === distributed.schema)
    assert(local.collect().toSet === distributed.collect().toSet)
    assert(local.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
  }

  test("keepBest: quality argmax per cluster, id tiebreak, singletons kept") {
    import spark.implicits._
    val d = Seq(
      (1L, 0.9), (2L, 0.95), (3L, 0.95), // cluster {1,2,3}: 2 wins (tie 2<3)
      (7L, 0.5), (8L, 0.8), // cluster {7,8}: 8 wins
      (9L, 0.1)) // singleton
      .toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("id", "canonical_id")
    val out = Dedup.keepBest(d, clusters, col("q")).collect()
      .map(r => (r.getAs[Long]("cluster_id"),
        (r.getAs[Long]("kept_doc_id"), r.getAs[Long]("n_members")))).toMap
    assert(out === Map(1L -> (2L, 3L), 7L -> (8L, 2L), 9L -> (9L, 1L)))
  }

  test("minhash signature approximates jaccard (identical docs share all mins)") {
    val sigs = Dedup.minhashSignatures(docs, numHashes = 8).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
    assert(sigs(0L) === sigs(4L))
    val agree01 = sigs(0L).zip(sigs(1L)).count { case (a, b) => a == b }
    val agree02 = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree01 > agree02)
  }

  test("incrementalDedup: batch vs corpus and batch-internal dups; stored sigs equivalent") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val existing = Seq(
      (1L, base),
      (2L, "completely different content about spark shuffles and partitions here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                                        // dup of existing 1
      (11L, "fresh unique text that matches nothing else in any corpus at all"),
      (12L, "fresh unique text that matches nothing else in any corpus at all"),
      (13L, "another totally novel document with its own words and nothing shared")
    ).toDF("doc_id", "text") // 12 dups 11 (earlier incoming)
    val out = Dedup.incrementalDedup(incoming, existing, minJaccard = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_dup"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(out(10L) === ((true, Some(1L))))   // matched the corpus
    assert(out(11L) === ((false, None)))      // first copy in the batch survives
    assert(out(12L) === ((true, Some(11L))))  // later copy points at the earlier
    assert(out(13L) === ((false, None)))
    // serving the existing side from a persisted signature store changes nothing
    val sigs = Dedup.minhashSignatures(existing)
    val viaStore = Dedup.incrementalDedup(
        incoming, existing, minJaccard = 0.5, existingSigs = Some(sigs))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_dup"), Option(r.getAs[java.lang.Long]("dup_of")))).toMap
    assert(viaStore === out)
  }

  test("canonicalDedup groups case/punctuation/whitespace variants exact dedup misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD."),
      (4L, "hello world"),
      (5L, "goodbye world")).toDF("doc_id", "text")
    val out = Dedup.canonicalDedup(docs).collect()
      .map(r => r.getAs[Long]("keep_id") ->
        (r.getAs[Long]("n_copies"), r.getAs[Long]("n_raw_variants"))).toMap
    assert(out.size === 2)
    assert(out(1L) === ((4L, 4L))) // four raw variants, one canonical class
    assert(out(5L) === ((1L, 1L)))
    // exact dedup sees five distinct documents — the canonical pass is the
    // one that collapses them
    assert(Dedup.exact(docs).count() === 5L)
  }

  test("segmentRewrite: duplicated passages cut after first sight, order preserved") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")   // one exact segment
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val c = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $a"),      // first sight of boiler: keeps both segments
      (2L, s"$c $boiler"),      // boiler already seen: keeps only c
      (3L, boiler)              // fully boilerplate: rewrites to empty
    ).toDF("doc_id", "text")
    val out = Dedup.segmentRewrite(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
          r.getAs[String]("text_clean")))).toMap
    assert(out(1L) === ((2L, 2L, s"$boiler $a")))
    assert(out(2L) === ((2L, 1L, c))) // boiler segment cut, c survives in place
    assert(out(3L) === ((1L, 0L, "")))
  }

  test("sourceSimilarity: identical sources match every component, disjoint ones none") {
    import spark.implicits._
    val shared = (1 to 10).map(i =>
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa word$i")
    val docs = (
      shared.zipWithIndex.map { case (t, i) => (i.toLong, t, "srcA") } ++
      shared.zipWithIndex.map { case (t, i) => (100L + i, t, "srcB") } ++
      (1 to 10).map(i =>
        (200L + i, s"uno dos tres cuatro cinco seis siete ocho nueve diez v$i", "srcC"))
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceSimilarity(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_matching"), r.getAs[Double]("jaccard_est")))).toMap
    assert(out.size === 3) // unordered pairs, a < b orientation
    assert(out(("srcA", "srcB")) === ((16L, 1.0)), "same shingle union ⇒ same signature")
    assert(out(("srcA", "srcC"))._1 === 0L, "disjoint vocabularies ⇒ no matching component")
    assert(out(("srcB", "srcC"))._1 === 0L)
  }

  test("simhashNearDups: banding is complete — equals brute-force Hamming <= 3") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Vector.tabulate(25)(i => s"tok$i")
    val shared = Vector.tabulate(30)(i => s"base$i").mkString(" ")
    val docs = ((1 to 50).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (101L, shared),                 // identical token sets → hamming 0
      (102L, shared),
      (103L, shared + " base0"),      // duplicate token — same SET, hamming 0
      (104L, shared + " extraword")   // one extra token on a wide base → small hamming
    )).toDF("doc_id", "text")

    val got = Dedup.simhashNearDups(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("hamming"))
      .toMap

    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong
      if h <= 3
    } yield (a, b) -> h).toMap
    assert(got === brute)
    assert(brute.nonEmpty, "fixture must produce close signatures")
  }

  test("minhashOperatingCurve: t=0 is all-positive, curve trades precision for recall") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    val docs = Seq(
      (1L, base), (2L, base),                 // exact dup (est 16, jac 1)
      (3L, base + " nu"),                     // near dup of 1/2 (jac ≈ 0.91)
      (4L, other), (5L, other.replace("doce", "trece"))  // sub-threshold pair
    ).toDF("doc_id", "text")
    val out = Dedup.minhashOperatingCurve(docs).collect()
      .map(r => r.getAs[Long]("t") -> r).toMap
    assert(out.keySet === (0L to 16L).toSet)
    // t=0 predicts every candidate positive: fn = 0, recall = 1 (if any dup)
    assert(out(0L).getAs[Long]("fn") === 0L)
    assert(out(0L).getAs[Long]("recall_fp") === 1048576L)
    // monotonicity: raising t never increases tp or fp, never decreases fn
    (1L to 16L).foreach { t =>
      assert(out(t).getAs[Long]("tp") <= out(t - 1).getAs[Long]("tp"))
      assert(out(t).getAs[Long]("fp") <= out(t - 1).getAs[Long]("fp"))
      assert(out(t).getAs[Long]("fn") >= out(t - 1).getAs[Long]("fn"))
    }
    // the exact-dup pair survives every threshold: tp at t=16 ≥ 1
    assert(out(16L).getAs[Long]("tp") >= 1L)
    // tp + fn is the constant dup count across thresholds
    val dups = out(0L).getAs[Long]("tp")
    (0L to 16L).foreach { t =>
      assert(out(t).getAs[Long]("tp") + out(t).getAs[Long]("fn") === dups)
    }
  }

  test("pairTriage: containment strictly exceeds jaccard on a prefix-contained pair") {
    import spark.implicits._
    // LSH recall needs high-jaccard pairs (NOTES): doc 1's shingles are a
    // strict subset of doc 2's (one appended word), so containment_a is
    // exactly 1 while jaccard = 10/11 and the size ratio = 10/11
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base), (2L, base + " nu"),
      (3L, base), (4L, "unrelated words entirely different from the others")
    ).toDF("doc_id", "text")
    val out = Dedup.pairTriage(docs, tNum = 0, tDen = 1).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    // (1,3) identical: everything at 2^20
    assert(out((1L, 3L)).getAs[Long]("jac_fp") === 1048576L)
    assert(out((1L, 3L)).getAs[Long]("len_ratio_fp") === 1048576L)
    val r12 = out((1L, 2L))
    assert(r12.getAs[Long]("contain_a_fp") === 1048576L)
    assert(r12.getAs[Long]("jac_fp") === 10L * 1048576L / 11L)
    assert(r12.getAs[Long]("len_ratio_fp") === 10L * 1048576L / 11L)
    assert(r12.getAs[Long]("contain_b_fp") === r12.getAs[Long]("jac_fp"),
      "containment of the superset side equals jaccard for subset pairs")
    // doc 4 shares nothing: no candidate pair reaches it
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("clusterSizeProfile: cluster sizes plus singleton mass cover the corpus") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "uno dos tres cuatro cinco seis siete ocho nueve diez once doce"
    val docs = Seq(
      (1L, base), (2L, base + " nu"), (3L, base + " xi"),  // 3-cluster
      (4L, other), (5L, other + " trece"),                 // 2-cluster
      (6L, "en helt annen tekst uten likhet til de andre dokumentene her")
    ).toDF("doc_id", "text")
    val out = Dedup.clusterSizeProfile(docs).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r).toMap
    assert(out(3L).getAs[Long]("n_clusters") === 1L)
    assert(out(2L).getAs[Long]("n_clusters") === 1L)
    assert(out(1L).getAs[Long]("n_clusters") === 1L) // doc 6
    // n_docs column accounts for every document exactly once
    assert(out.values.map(_.getAs[Long]("n_docs")).sum === 6L)
  }

  test("redundancyMass: disjoint docs carry zero redundancy; duplicated docs carry all of it") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5 w6"
    val disjoint = Seq((1L, a), (2L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val r0 = Dedup.redundancyMass(disjoint).collect()(0)
    assert(r0.getAs[Long]("repeated_occurrences") === 0L)
    assert(r0.getAs[Long]("redundancy_fp") === 0L)
    assert(r0.getAs[Long]("excess_occurrences") === 0L)
    val dup = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val r1 = Dedup.redundancyMass(dup).collect()(0)
    // every shingle occurs twice: all 8 occurrences repeated, 4 excess
    assert(r1.getAs[Long]("n_occurrences") === 8L)
    assert(r1.getAs[Long]("n_distinct") === 4L)
    assert(r1.getAs[Long]("repeated_occurrences") === 8L)
    assert(r1.getAs[Long]("excess_occurrences") === 4L)
    assert(r1.getAs[Long]("redundancy_fp") === 1048576L)
    assert(r1.getAs[Long]("excess_fp") === 524288L)
  }

  test("simhashBitBias: shares bounded, exact against collected signatures") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(40)(i => s"tok$i")
    val docs = (1 to 60).map { i =>
      (i.toLong, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val out = Dedup.simhashBitBias(docs).collect()
      .map(r => r.getAs[Long]("bit") -> r).toMap
    assert(out.keySet === (0L to 59L).toSet)
    val sigs = Dedup.simhash(docs).collect().map(_.getAs[Long]("simhash"))
    (0 until 60).foreach { b =>
      val expected = sigs.count(s => ((s >> b) & 1L) == 1L).toLong
      assert(out(b.toLong).getAs[Long]("n_set") === expected, s"bit $b")
      assert(out(b.toLong).getAs[Long]("share_fp") === expected * 1048576L / 60L)
    }
  }

  test("minhashCalibration: identical docs land in the 16-match bucket at exact jaccard 1") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base), (2L, base),                  // identical → est 16, jac 1
      (3L, base + " nu"),                      // near-dup of 1/2
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs).collect()
      .map(r => r.getAs[Long]("est_matches") -> r).toMap
    val full = out(16L)
    // the (1,2) pair: every component agrees, exact jaccard = 2^20
    assert(full.getAs[Long]("n_pairs") >= 1L)
    assert(full.getAs[Long]("max_jac_fp") === 1048576L)
    // buckets are internally consistent: min <= mean <= max
    out.values.foreach { r =>
      assert(r.getAs[Long]("min_jac_fp") <= r.getAs[Long]("mean_jac_fp"))
      assert(r.getAs[Long]("mean_jac_fp") <= r.getAs[Long]("max_jac_fp"))
    }
    // doc 4 shares no shingles with 1-3: no candidate pair reaches it
    val pairsTouching4 = Dedup.minhashCandidates(docs).collect()
      .count(r => r.getAs[Long]("id_a") == 4L || r.getAs[Long]("id_b") == 4L)
    assert(pairsTouching4 === 0)
  }

  test("dedupRateBy: duplicated feed loses its non-canonical copies, clean feed loses none") {
    import spark.implicits._
    // srcA: 3 near-identical docs (appended-word edits recall reliably at
    // the 16/4 LSH layout — see NOTES on mid-text substitutions) → 2 removed.
    // srcB: distinct docs → 0 removed.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base, "srcA"),
      (2L, base + " nu", "srcA"),
      (3L, base + " xi", "srcA"),
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez once doce", "srcB"),
      (5L, "en to tre fire fem seks syv otte ni ti elleve tolv", "srcB")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupRateBy(docs, "source").collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    assert(out("srcA").getAs[Long]("n_docs") === 3L)
    assert(out("srcA").getAs[Long]("n_removed") === 2L)
    // 2/3 in 2^20 fixed point, floored
    assert(out("srcA").getAs[Long]("removed_fp") === 2L * 1048576L / 3L)
    assert(out("srcB").getAs[Long]("n_docs") === 2L)
    assert(out("srcB").getAs[Long]("n_removed") === 0L)
    assert(out("srcB").getAs[Long]("removed_fp") === 0L)
  }

  test("dedupYieldCurve: nested subsamples, monotone counts, full fraction sees all") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pairs = (1L to 40L).map(i => (i, i + 100L)).toDF("id_a", "id_b")
    val out = Dedup.dedupYieldCurve(pairs).collect()
      .map(r => r.getAs[Long]("pct") -> r).toMap
    assert(out.keySet === Set(25L, 50L, 75L, 100L))
    // p=100 keeps every pair and both endpoints of each
    assert(out(100L).getAs[Long]("n_pairs") === 40L)
    assert(out(100L).getAs[Long]("n_dup_docs") === 80L)
    // nested gates ⇒ monotone non-decreasing counts
    val byPct = Seq(25L, 50L, 75L, 100L).map(p => out(p).getAs[Long]("n_pairs"))
    assert(byPct === byPct.sorted)
    val docsByPct = Seq(25L, 50L, 75L, 100L).map(p => out(p).getAs[Long]("n_dup_docs"))
    assert(docsByPct === docsByPct.sorted)
    // a pair survives pct p iff BOTH endpoint hashes < p: replay the gate
    val ha = Dedup.stableHash(col("id_a").cast("string"), 7)
    val expected25 = pairs
      .filter(org.apache.spark.sql.functions.pmod(ha, org.apache.spark.sql.functions.lit(100L)) < 25 &&
        org.apache.spark.sql.functions.pmod(
          Dedup.stableHash(col("id_b").cast("string"), 7),
          org.apache.spark.sql.functions.lit(100L)) < 25)
      .count()
    assert(out(25L).getAs[Long]("n_pairs") === expected25)
    // a fraction with zero surviving pairs still reports (pct, 0, 0)
    val zero = Dedup.dedupYieldCurve(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect()
      .map(r => r.getAs[Long]("pct") -> r).toMap
    assert(zero.keySet === Set(25L, 50L, 75L, 100L))
    assert(zero.values.forall(r =>
      r.getAs[Long]("n_pairs") === 0L && r.getAs[Long]("n_dup_docs") === 0L))
  }

  test("boundaryChains: tail-head overlaps chain, short docs use whole text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "d e f g h"),
      (3L, "x y z"),
      (4L, "g h"),
      (5L, "z x a b c"))
      .toDF("doc_id", "text")
    val edges = Dedup.boundaryChains(docs, k = 3).collect()
      .map(r => (r.getAs[Long]("prev_id"), r.getAs[Long]("next_id"),
        r.getAs[String]("boundary"))).toSet
    // doc1 ends "d e f" = doc2's head; doc5 ends "a b c" = doc1's head
    assert(edges === Set((1L, 2L, "d e f"), (5L, 1L, "a b c")))
  }

  test("dedupYieldCurveSampled equals the exact curve point-for-point at its fractions") {
    import spark.implicits._
    // 200 exact-duplicate twin pairs with per-pair-private vocabularies, so
    // the only Jaccard ≥ 1/2 pairs are the twins themselves
    val docs = (0 until 200).flatMap { p =>
      val text = s"w${p}a w${p}b w${p}c w${p}d w${p}e w${p}f w${p}g w${p}h"
      Seq((2L * p, text), (2L * p + 1, text))
    }.toDF("doc_id", "text")
    val fracs = Seq(20, 40, 60)

    val exactPairs = FuzzyJoin.setSimJoin(docs, tNum = 1, tDen = 2, shingleK = 3)
      .select("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("pct") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dup_docs")))).toMap
    val exact = toMap(Dedup.dedupYieldCurve(exactPairs, fracs))
    val sampled = toMap(Dedup.dedupYieldCurveSampled(docs, fracs))

    // nested gates ⇒ the sampled curve is the exact curve at those
    // fractions, not an approximation of it
    assert(sampled === exact)
    assert(sampled.keySet === fracs.map(_.toLong).toSet)
    assert(sampled(60L)._1 > 0L, "fixture must keep pairs at the top fraction")

    // and therefore the fitted growth exponent matches the exact one
    def slope(curve: Map[Long, (Long, Long)]): Option[Double] = {
      val pts = fracs.map(_.toLong).filter(p => curve(p)._1 > 0L)
        .map(p => (math.log(p.toDouble), math.log(curve(p)._1.toDouble)))
      if (pts.size < 2) None
      else {
        val n = pts.size
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val sxx = pts.map(t => t._1 * t._1).sum
        val sxy = pts.map(t => t._1 * t._2).sum
        Some((n * sxy - sx * sy) / (n * sxx - sx * sx))
      }
    }
    assert(slope(sampled) === slope(exact))
  }

  test("sortedNeighborPairs: single bucket == brute-force window pairs in simhash order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different text about query engines and planners"),
      (4L, "completely different text about query engines and optimizers"),
      (5L, "mid range document with some shared words about engines"),
      (6L, "another unrelated blob of words entirely on its own")).toDF("doc_id", "text")
    val window = 2
    // expected: order all docs by (simhash, id) globally, pair each with its
    // `window` predecessors, keep hamming <= max
    val sigs = Dedup.simhash(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
      .sortBy { case (id, s) => (s, id) }
    val expected = (for {
      i <- sigs.indices; j <- 1 to window if i - j >= 0
      (ida, sa) = sigs(i - j); (idb, sb) = sigs(i)
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 30
    } yield (math.min(ida, idb), math.max(ida, idb), h.toLong)).toSet
    val got = Dedup.sortedNeighborPairs(docs, window = window,
        maxHamming = 30, bucketBits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // bucketed run only loses boundary pairs — never invents any
    val bucketed = Dedup.sortedNeighborPairs(docs, window = window,
        maxHamming = 30, bucketBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketed.subsetOf(expected))
  }

  test("winnowFingerprints: window guarantee, density bounds, rightmost-min ties") {
    import spark.implicits._
    val sharedRun = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens >= w+k-1
    val docs = Seq(
      (1L, s"unique one two three $sharedRun nine ten eleven twelve"),
      (2L, s"other prefix words here $sharedRun plus different tail tokens"),
      (3L, "a a a a a a"), // all-equal grams: rightmost tie per window
      (4L, "short doc only")) // 3 tokens < k → absent
      .toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(docs, k = 4, w = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!out.contains(4L), "doc under k tokens has no grams")
    // MOSS guarantee: a shared w+k-1 = 7-token run forces >= 1 shared fingerprint
    assert(out(1L).getAs[Long]("n_shared_fp") >= 1L)
    assert(out(2L).getAs[Long]("n_shared_fp") >= 1L)
    assert(out(1L).getAs[Long]("max_docs_sharing") >= 2L)
    Seq(1L, 2L, 3L).foreach { id =>
      val r = out(id)
      val g = r.getAs[Long]("n_grams")
      val nw = r.getAs[Long]("n_windows")
      val fp = r.getAs[Long]("n_fingerprints")
      assert(nw === math.max(g - 3, 1L))
      assert(fp <= nw, "one winner per window at most")
      assert(fp >= (nw + 3) / 4, "a selected gram covers at most w windows")
    }
    // all-identical grams: winner of window t is its rightmost position
    // 6 tokens, k=4 → 3 grams, windows t=1..1? G-w+1 = 0 → single window
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_grams") === 3L)
    assert(d3.getAs[Long]("n_windows") === 1L)
    assert(d3.getAs[Long]("n_fingerprints") === 1L, "equal hashes: one rightmost winner")
  }

  test("winnowSourceMatrix: span-sharing source pairs surface, disjoint ones don't") {
    import spark.implicits._
    val sharedRun = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "A", s"intro words before $sharedRun and a tail"),
      (2L, "A", "another original document from feed a entirely"),
      (3L, "B", s"feed b reporting begins $sharedRun closing words here"),
      (4L, "C", "feed c talks about something else wholly unrelated today"))
      .toDF("doc_id", "source", "text")
    val rows = Dedup.winnowSourceMatrix(docs, k = 4, w = 4)
      .collect().map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r)
      .toMap
    assert(rows.keySet === Set(("A", "B")),
      "only the pair sharing a >= w+k-1-token run has shared fingerprints")
    val ab = rows(("A", "B"))
    val shared = ab.getAs[Long]("n_shared_fp")
    assert(shared >= 1L)
    val (na, nb) = (ab.getAs[Long]("n_fp_a"), ab.getAs[Long]("n_fp_b"))
    assert(na >= shared && nb >= shared)
    assert(ab.getAs[Long]("jaccard_fp") ===
      shared * 1048576L / (na + nb - shared))
  }

  test("winnowSharedRuns: exact longest shared run, offset diagonals, exact starts") {
    import spark.implicits._
    // 8-token shared run (>= w+k-1 = 7 → the pair is GUARANTEED present)
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      // run at token positions 3..10
      (1L, s"one two $run tail1 tail2"),
      // same run at positions 3..10 → diagonal 0
      (2L, s"six seven $run other words"),
      // same run at positions 2..9 → vs doc 1 the diagonal is 1
      (3L, s"pre $run closing remark here"),
      (4L, "wholly unrelated text about nothing shared at all"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowSharedRuns(docs, k = 4, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    // every pair among {1,2,3} shares the run; doc 4 shares nothing
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // 8 shared tokens = 5 consecutive k=4 grams on one diagonal
    val p12 = out((1L, 2L))
    assert(p12.getAs[Long]("longest_run") === 5L)
    assert(p12.getAs[Long]("longest_tokens") === 8L)
    assert(p12.getAs[Long]("start_a") === 3L && p12.getAs[Long]("start_b") === 3L)
    assert(p12.getAs[Long]("n_runs") === 1L)
    assert(p12.getAs[Long]("n_gram_matches") === 5L)
    val p13 = out((1L, 3L))
    assert(p13.getAs[Long]("longest_tokens") === 8L)
    assert(p13.getAs[Long]("start_a") === 3L && p13.getAs[Long]("start_b") === 2L)
  }

  test("winnowPairCoverage: containment direction and exact covered-token counts") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, run),                              // the fragment itself
      (2L, s"pre1 pre2 $run post1 post2"),    // the containing page (12 tokens)
      (3L, run))                              // exact twin of 1
      .toDF("doc_id", "text")
    val out = Dedup.winnowPairCoverage(docs, k = 4, w = 4)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val frag = out((1L, 2L))
    assert(frag.getAs[Long]("cov_tokens_a") === 8L, "all of the fragment is covered")
    assert(frag.getAs[Long]("n_tokens_a") === 8L)
    assert(frag.getAs[Long]("cov_tokens_b") === 8L, "only the quoted span of b")
    assert(frag.getAs[Long]("n_tokens_b") === 12L)
    assert(frag.getAs[String]("verdict") === "a_in_b")
    assert(frag.getAs[Long]("cov_frac_a_fp") === 1048576L)
    assert(frag.getAs[Long]("cov_frac_b_fp") === 8L * 1048576L / 12L)
    assert(out((1L, 3L)).getAs[String]("verdict") === "mutual")
    assert(out((2L, 3L)).getAs[String]("verdict") === "b_in_a",
      "pair order flips: the fragment is now side b")
  }
}
