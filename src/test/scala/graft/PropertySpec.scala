package graft

import graft.core.{ColumnMeta, Relationship, TableMeta}
import graft.detect.RelationshipDetector
import graft.state.IncrementalState
import org.apache.spark.sql.Column
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5): order-independence of conflict resolution,
  * checksum stability/sensitivity, Cochran bounds. Uses ScalaCheck Gen
  * directly (deterministic seeds) — scalatestplus is not in the offline
  * cache.
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val relGen = for {
    src <- Gen.oneOf("a", "b", "c")
    col <- Gen.oneOf("x", "y")
    tgt <- Gen.oneOf("t1", "t2")
    conf <- Gen.choose(0.1, 1.0)
    method <- Gen.oneOf("exact_match", "foreign_key", "custom_rule")
  } yield Relationship(src, col, tgt, "id", "many_to_one", conf, method, method == "custom_rule")

  test("conflict resolution is order-independent (argmax, not first-wins)") {
    def resolve(rs: Seq[Relationship]) = RelationshipDetector.resolveConflicts(rs).toSet
    samples(Gen.listOfN(12, relGen), 10).foreach { rels =>
      val rng = new scala.util.Random(42)
      assert(resolve(rels) === resolve(rng.shuffle(rels)))
    }
  }

  test("schema checksum: stable under recomputation, sensitive to every field") {
    val base = TableMeta("t", "p", "TABLE", Seq(
      ColumnMeta("a", "bigint", nullable = true, isArray = false, 0),
      ColumnMeta("b", "string", nullable = false, isArray = false, 1)), 0, 0)
    val c0 = IncrementalState.canonicalSchema(base)
    assert(c0 === IncrementalState.canonicalSchema(base))
    val variants = Seq(
      base.copy(tableName = "t2"),
      base.copy(columns = base.columns.map(c =>
        if (c.name == "a") c.copy(dataType = "string") else c)),
      base.copy(columns = base.columns.map(c =>
        if (c.name == "b") c.copy(nullable = true) else c)),
      base.copy(columns = base.columns.map(c =>
        if (c.name == "a") c.copy(isArray = true) else c)),
      base.copy(columns = base.columns.reverse.zipWithIndex.map { case (c, i) =>
        c.copy(ordinal = i)
      }))
    variants.foreach(v => assert(IncrementalState.canonicalSchema(v) !== c0))
  }

  test("Cochran sample size never exceeds the population and shrinks with MoE") {
    samples(Gen.choose(1L, 10000000L), 50).foreach { pop =>
      val n = graft.datatest.DataTester.cochranSampleSize(pop)
      assert(n >= 1L && n <= math.max(pop, 385L))
    }
    assert(graft.datatest.DataTester.cochranSampleSize(1000000, marginOfError = 0.01) >
      graft.datatest.DataTester.cochranSampleSize(1000000, marginOfError = 0.05))
  }

  test("ExactMath.floorDiv equals BigInt floor division across magnitudes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cover the regime where naive decimal divide mis-floors: denominators
    // past 2e6 with numerators within 1 of an exact multiple
    val edge = for {
      b <- Gen.choose(2000000L, 4000000000L)
      q <- Gen.choose(0L, 1000000L)
      off <- Gen.oneOf(-1L, 0L, 1L)
    } yield (math.max(0L, b * q + off), b)
    val rand = for {
      a <- Gen.choose(0L, Long.MaxValue / 2)
      b <- Gen.choose(1L, Long.MaxValue / 2)
    } yield (a, b)
    val cases = (samples(edge, 60) ++ samples(rand, 60)).distinct
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.ext.ExactMath.floorDiv(col("a"), col("b")).as("q"))
      .collect()
    got.foreach { r =>
      val (a, b, q) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(q === (BigInt(a) / BigInt(b)).toLong, s"floorDiv($a, $b)")
    }
  }

  // random texts exercising the native-expression edge space: empty
  // strings, repeated/empty tokens (double spaces), docs below the
  // window size, heavy repetition
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba", "a", "", "xyz", "b"))
  } yield toks.mkString(" ")

  test("native text expressions match their HOF formulations on random text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ext.{Dedup, TextAnalysis}
    import graft.functions.TextNativeFunctions
    val texts = samples(textGen, 120).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

    // WordNGrams(n) == transform/slice/array_join HOF build
    for (n <- Seq(1, 2, 3)) {
      val toks = split(col("text"), " ")
      val hof =
        if (n == 1) toks
        else when(size(toks) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), size(toks) - n),
            i => array_join(slice(toks, i + 1, lit(n)), " ")))
      val rows = df.select(
        hof.as("hof"),
        TextNativeFunctions.ngrams(col("text"), n).as("native")).collect()
      rows.foreach(r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"ngrams n=$n"))
    }

    // WordShingles(k), reached through Dedup.shingles, == the HOF build
    // (incl. the whole-text case and null / empty text)
    def hofShingles(text: Column, k: Int): Column = {
      val toks = split(text, " ")
      array_distinct(
        when(size(toks) < k, array(array_join(toks, " ")))
          .otherwise(transform(
            sequence(lit(0), size(toks) - k),
            i => array_join(slice(toks, i + 1, lit(k)), " "))))
    }
    val withNull = df.select(col("text")).union(Seq(None, Some("")).toDF("text"))
    for (k <- Seq(2, 3)) {
      val rows = withNull.select(
        hofShingles(col("text"), k).as("hof"),
        Dedup.shingles(col("text"), k).as("native")).collect()
      assert(rows.count(_.isNullAt(0)) === 1, "the null row")
      rows.foreach(r =>
        assert(Option(r.getSeq[String](0)) === Option(r.getSeq[String](1)), s"shingles k=$k"))
    }

    // RepetitionStats == the size/maxRunCount/array_distinct formulation
    val uni = TextAnalysis.wordGrams(col("text"), 1)
    val tri = TextAnalysis.wordGrams(col("text"), 3)
    val rs = df.select(
      size(uni).cast("long").as("h_n"),
      TextAnalysis.maxRunCount(uni).as("h_top"),
      size(tri).cast("long").as("h_tri"),
      size(array_distinct(tri)).cast("long").as("h_dis"),
      TextNativeFunctions.repStats(lower(col("text"))).as("native")).collect()
    rs.foreach { r =>
      val n = r.getStruct(4)
      assert(r.getLong(0) === n.getLong(0), "n_tokens")
      assert(r.getLong(1) === n.getLong(1), "top_unigram_n")
      assert(r.getLong(2) === n.getLong(2), "n_trigrams")
      assert(r.getLong(3) === n.getLong(3), "n_distinct_trigrams")
    }

    // CharTrigramStats == the explode+count formulation. The reference
    // explode restricts to length >= 3: a bare sequence(1, length-2) on
    // shorter text is sequence(1, 0) — which Spark evaluates as the
    // DESCENDING sequence [1, 0], silently emitting two bogus windows
    // (the latent bug the native expression fixed; DuckDB's range(1, 1)
    // is empty there, so the oracle always had the native semantics)
    val g = df.where(length(col("text")) >= 3).select(col("id"),
      explode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))"))
        .as("gram"))
    val hofTri = g.groupBy("id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(sum("c").as("n"), count(lit(1)).as("d"),
        sum(col("c") * col("c")).as("s"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val natTri = df.select(col("id"),
      TextNativeFunctions.charTrigramStats(col("text")).as("t")).collect()
      .map { r =>
        val t = r.getStruct(1)
        r.getLong(0) -> ((t.getLong(0), t.getLong(1), t.getLong(2)))
      }.toMap
    natTri.foreach { case (id, (n, d, s)) =>
      if (n == 0L) assert(!hofTri.contains(id), s"id=$id: explode emitted grams for short text")
      else assert(hofTri(id) === ((n, d, s)), s"id=$id char trigram counts")
    }

    // StableHash, reached through Dedup.stableHash, == the md5 -> conv
    // chain it replaces (the DuckDB oracle's CAST('0x'||substr(md5(x),1,15)
    // AS BIGINT)) at several seeds, over text, non-ASCII text, the empty
    // string, null and long ids
    def md5Chain(c: Column, seed: Int): Column =
      conv(substr(md5(concat_ws("#", c, lit(seed))), lit(1), lit(15)), 16, 10).cast("long")
    val unicode: Gen[String] = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf("a", " ", "#", "\u00e9", "\u65e5\u672c", "\ud83d\ude00",
        "\u0000", "0", "-", "\u00df"))
    } yield cs.mkString
    val strs = (samples(textGen, 150) ++ samples(unicode, 150) ++
      Seq("", " ", "#", "#7", "7")).distinct
    val ids = (samples(Gen.choose(Long.MinValue, Long.MaxValue), 100) ++
      Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue)).distinct
    val hashDf = strs.map(Option(_)).:+(None).zipWithIndex
      .map { case (s, i) => (s, if (i < ids.size) Some(ids(i)) else None) }
      .toDF("s", "id")
    for (seed <- Seq(0, 7, -3, 123456)) {
      val rows = hashDf.select(
        Dedup.stableHash(col("s"), seed), md5Chain(col("s"), seed),
        Dedup.stableHash(col("id").cast("string"), seed), md5Chain(col("id"), seed),
        Dedup.stableHash(col("id"), seed),
        // interpreted evaluation: the hash inside a lambda
        transform(array(col("s")), x => Dedup.stableHash(x, seed))(0),
        transform(array(col("s")), x => md5Chain(x, seed))(0)).collect()
      assert(rows.length === strs.size + 1)
      rows.foreach { r =>
        assert(!r.isNullAt(0) && !r.isNullAt(2), s"seed=$seed: never null")
        assert(r.getLong(0) === r.getLong(1), s"seed=$seed string")
        assert(r.getLong(2) === r.getLong(3), s"seed=$seed long id")
        assert(r.getLong(4) === r.getLong(3), s"seed=$seed uncast long id")
        assert(r.getLong(5) === r.getLong(6), s"seed=$seed interpreted")
        assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60), s"seed=$seed 60 bits")
      }
    }
  }

  test("AVI containers round-trip for arbitrary payloads, widths, and frame sizes") {
    import graft.functions.{AviCodec, JpegDctCodec}
    val caseGen = for {
      width <- Gen.oneOf(8, 16, 24)
      rows <- Gen.choose(1, 3) // block rows per frame
      nBytes <- Gen.choose(0, 5000)
      bytes <- Gen.listOfN(nBytes, Gen.choose(-128, 127).map(_.toByte))
      audio <- Gen.oneOf(true, false)
    } yield (width, 8 * width * rows, bytes.toArray, audio)
    samples(caseGen, 30).foreach { case (width, frameBytes, payload, audio) =>
      val nFrames = payload.length / frameBytes
      val avi =
        if (audio) AviCodec.encodeAviAv(payload, width, frameBytes)
        else AviCodec.encodeMjpegAvi(payload, width, frameBytes)
      if (nFrames < 1) assert(avi === null, "sub-frame payloads must drop")
      else {
        val d = if (audio) AviCodec.decodeAviAv(avi)
          else AviCodec.decodeMjpegAvi(avi)
        assert(d.valid, s"w=$width fb=$frameBytes n=${payload.length}")
        assert(d.nFrames === nFrames.toLong)
        assert((d.width, d.frameHeight) === ((width.toLong, (frameBytes / width).toLong)))
        // whole-frame truncation: stats equal the per-block pipeline
        // replay over the first nFrames·frameBytes bytes. Each frame is
        // a ROW-MAJOR image of the given width, so blocks gather strided
        // samples (contiguous 64-byte slices only at width 8)
        var expect = 0L
        val rowsPerFrame = frameBytes / width
        for {
          f <- 0 until nFrames
          by <- 0 until rowsPerFrame / 8
          bx <- 0 until width / 8
        } {
          val base = f * frameBytes
          val s = Array.tabulate(64)(i =>
            payload(base + (by * 8 + i / 8) * width + bx * 8 + i % 8) & 0xff)
          expect += JpegDctCodec.dequantizeInverse(
            JpegDctCodec.forwardQuantize(s)).map(_.toLong).sum
        }
        assert(d.sumV === expect, s"w=$width fb=$frameBytes video sum")
        if (audio) {
          var sS = 0L
          for (i <- 0 until nFrames * frameBytes / 2) {
            val u = (payload(2 * i) & 0xff) | ((payload(2 * i + 1) & 0xff) << 8)
            sS += (if (u >= 32768) u - 65536 else u)
          }
          assert(d.nSamples === nFrames.toLong * frameBytes / 2)
          assert(d.sumS === sS, s"w=$width fb=$frameBytes audio sum")
        }
      }
    }
  }

  test("GIF streams round-trip across palettes, interlace, animation, LCTs") {
    import graft.functions.GifCodec
    val caseGen = for {
      width <- Gen.oneOf(8, 40, 100)
      palBits <- Gen.choose(1, 8)
      interlaced <- Gen.oneOf(true, false)
      frameH <- Gen.oneOf(0, 3, 7)
      lct <- Gen.oneOf(true, false)
      nBytes <- Gen.choose(0, 4000)
      bytes <- Gen.listOfN(nBytes, Gen.choose(-128, 127).map(_.toByte))
    } yield (width, palBits, interlaced, frameH, lct, bytes.toArray)
    samples(caseGen, 40).foreach {
      case (width, palBits, interlaced, frameH, lct, payload) =>
        val gif = GifCodec.encodeGif(payload, width, palBits, interlaced,
          frameH, lct)
        val unit = if (frameH > 0) width * frameH else width
        val frames =
          if (frameH > 0) payload.length / (width * frameH) else 1
        val usable =
          if (frameH > 0) frames * width * frameH
          else (payload.length / width) * width
        val tag = s"w=$width pb=$palBits il=$interlaced fh=$frameH lct=$lct " +
          s"n=${payload.length}"
        if (payload.length < unit) assert(gif === null, tag)
        else {
          val d = GifCodec.decodeGif(gif)
          assert(d.valid, tag)
          assert(d.nPixels === usable.toLong, tag)
          assert(d.nFrames === frames.toLong, tag)
          val mask = (1 << palBits) - 1
          var si = 0L; var sr = 0L; var sg = 0L; var sb = 0L; var srv = 0L
          val perFrame = if (frameH > 0) width * frameH else usable
          for (i <- 0 until usable) {
            val v = (payload(i) & 0xff) & mask
            val f = if (lct) i / perFrame else 0
            si += v
            sr += (if (lct) GifCodec.lctR(v, f) else GifCodec.paletteR(v))
            sg += (if (lct) GifCodec.lctG(v, f) else GifCodec.paletteG(v))
            sb += (if (lct) GifCodec.lctB(v, f) else GifCodec.paletteB(v))
            srv += (i / width).toLong * v
          }
          assert((d.sumIdx, d.sumR, d.sumG, d.sumB, d.sumRowV) ===
            ((si, sr, sg, sb, srv)), tag)
        }
    }
  }

  test("TIFF archives round-trip across byte orders, compressions, pages") {
    import graft.functions.TiffCodec
    val caseGen = for {
      width <- Gen.oneOf(8, 40, 200)
      big <- Gen.oneOf(true, false)
      comp <- Gen.oneOf("none", "packbits", "lzw")
      pageH <- Gen.oneOf(0, 3, 6)
      nBytes <- Gen.choose(0, 5000)
      bytes <- Gen.listOfN(nBytes, Gen.choose(-128, 127).map(_.toByte))
    } yield (width, big, comp, pageH, bytes.toArray)
    samples(caseGen, 40).foreach { case (width, big, comp, pageH, payload) =>
      val tiff = TiffCodec.encodeTiff(payload, width, big,
        packBits = comp == "packbits", lzw = comp == "lzw", pageHeight = pageH)
      val unit = if (pageH > 0) width * pageH else width
      val tag = s"w=$width big=$big comp=$comp ph=$pageH n=${payload.length}"
      if (payload.length < unit) assert(tiff === null, tag)
      else {
        val d = TiffCodec.decodeTiff(tiff)
        assert(d.valid, tag)
        val pages = if (pageH > 0) payload.length / unit else 1
        val h = if (pageH > 0) pageH else payload.length / width
        val usable = if (pageH > 0) pages * unit else h * width
        assert(d.nPages === pages.toLong, tag)
        assert((d.width, d.height, d.nPixels) ===
          ((width.toLong, h.toLong, usable.toLong)), tag)
        var sv = 0L; var srv = 0L
        for (i <- 0 until usable) {
          val v = payload(i) & 0xff
          sv += v
          srv += (i / width).toLong * v
        }
        assert((d.sumV, d.sumRowV) === ((sv, srv)), tag)
      }
    }
  }

  test("FLAC streams round-trip across mono/stereo and LPC orders") {
    import graft.functions.FlacCodec
    val caseGen = for {
      stereo <- Gen.oneOf(true, false)
      lpc <- Gen.oneOf(0, 2, 8)
      // mix random noise with smooth ramps so every subframe family
      // (constant/fixed/LPC/verbatim) gets chosen somewhere
      smooth <- Gen.oneOf(true, false)
      nBytes <- Gen.choose(0, 6000)
      bytes <- Gen.listOfN(nBytes, Gen.choose(-128, 127).map(_.toByte))
    } yield (stereo, lpc, smooth, bytes.toArray)
    samples(caseGen, 30).foreach { case (stereo, lpc, smooth, raw) =>
      val payload =
        if (!smooth) raw
        else Array.tabulate(raw.length) { i =>
          val v = (3000 * math.sin(i / 9.0)).toInt
          (if (i % 2 == 0) v & 0xff else (v >> 8) & 0xff).toByte
        }
      val flac =
        if (stereo) FlacCodec.encodeFlacStereo(payload, lpc)
        else FlacCodec.encodeFlac(payload, lpc)
      val unit = if (stereo) 4 else 2
      val nSamples =
        if (stereo) 2 * (payload.length / 4) else payload.length / 2
      val tag = s"st=$stereo lpc=$lpc sm=$smooth n=${payload.length}"
      if (payload.length < unit) assert(flac === null, tag)
      else {
        val d = FlacCodec.decodeFlac(flac)
        assert(d.valid, tag + " (MD5 identity would catch any lossy path)")
        assert(d.nSamples === nSamples.toLong, tag)
        var ss = 0L; var sa = 0L; var si = 0L
        for (j <- 0 until nSamples) {
          val s = ((payload(2 * j) & 0xff) |
            (payload(2 * j + 1) << 8)).toShort.toInt
          ss += s; sa += math.abs(s); si += j.toLong * s
        }
        assert((d.sumS, d.sumAbs, d.sumIs) === ((ss, sa, si)), tag)
      }
    }
  }

  test("rollingMadAnomalies matches a direct median/MAD computation on random series") {
    import spark.implicits._
    def bruteMedian2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length + 1) / 2 - 1) + s((s.length + 2) / 2 - 1)
    }
    val seriesGen = Gen.listOfN(40, Gen.choose(0L, 30L))
    samples(seriesGen, 8).foreach { vals =>
      val df = vals.zipWithIndex.map { case (v, t) => ("k", t.toLong, v) }.toDF("k", "t", "n")
      val out = graft.ext.Drift.rollingMadAnomalies(df, "k", "t", "n",
        window = 10, k = 2, minWindow = 4)
        .collect().map(r => r.getLong(1) ->
          ((r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
      vals.zipWithIndex.foreach { case (v, t) =>
        val win = vals.slice(math.max(0, t - 9), t + 1)
        val med2 = bruteMedian2(win)
        val mad4 = bruteMedian2(win.map(x => math.abs(2 * x - med2)))
        val expectFlag = win.length >= 4 && math.abs(2 * v - med2) * 2 > 2L * mad4
        val (m, md, f) = out(t.toLong)
        assert(m === med2 / 2.0, s"median at t=$t")
        assert(md === mad4 / 4.0, s"mad at t=$t")
        assert(f === expectFlag, s"flag at t=$t")
      }
    }
  }
}
