package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Edit-distance (fuzzy) self-join — the entity-resolution primitive a
  * curation pipeline needs to collapse near-identical names/titles that
  * exact dedup ([[Dedup.exact]]) and token-level Jaccard
  * ([[Dedup.ngramJaccard]]) both miss (single-character typos).
  *
  * Blocking follows the PassJoin discipline (Li, Deng, Feng, Wang:
  * "PASS-JOIN: a partition-based method for similarity joins", PVLDB 2012,
  * public): partition every string into `maxDist + 1` even segments — by
  * pigeonhole, any string within edit distance `maxDist` must contain at
  * least one segment VERBATIM (≤ `maxDist` edits cannot touch all
  * `maxDist + 1` segments), at a position shifted by at most `maxDist`.
  * Candidates are therefore an equi-join on (segment-index, partner-length,
  * segment-content); the verify is an exact `levenshtein` scoped to
  * candidates only.
  *
  * Scale: the join key carries segment CONTENT, so key cardinality grows
  * with the corpus — no fixed-bucket parallelism cap (the q22 lesson).
  * Index side is `(k+1)·n` rows, probe side ≤ `(k+1)²(2k+1)·n` rows before
  * its own distinct; both shuffle once on content keys. Blocking is
  * lossless (recall 1.0 by the pigeonhole argument — FuzzyJoinSpec proves
  * it against brute force), so the output is exactly the brute-force O(n²)
  * pair set without ever materializing it.
  */
object FuzzyJoin {

  /** All unordered pairs of DISTINCT non-null values of `colName` within
    * levenshtein distance ≤ `maxDist` (equal values are collapsed by the
    * distinct — dedup exact copies with [[Dedup.exact]] instead). `name_a`
    * is the shorter string (lexically smaller on equal length); `dist` is
    * the exact edit distance. Each qualifying pair is emitted exactly once.
    */
  def selfPairs(df: DataFrame, colName: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist

    // Even partition of a length-l string into k+1 segments: with
    // base = l div (k+1) and rem = l mod (k+1), the first k+1-rem segments
    // have length base and the last rem have base+1. Pure integer
    // arithmetic on (l, i) — index and probe sides compute identical
    // positions by construction. Positions are 0-based here; substr is
    // 1-based.
    // lengths are ints (< 2^31), so double floor-division is exact here
    def intDiv(a: Column, b: Int): Column = floor(a.cast("double") / b).cast("int")
    def segStart(l: Column, i: Column): Column =
      i * intDiv(l, k + 1) + greatest(lit(0), i - (lit(k + 1) - l % (k + 1)))
    def segLen(l: Column, i: Column): Column =
      intDiv(l, k + 1) + when(i >= lit(k + 1) - l % (k + 1), 1).otherwise(0)

    val names = df
      .select(col(colName).cast("string").as("name"))
      .filter(col("name").isNotNull)
      .distinct()
      .withColumn("len", length(col("name")))

    // Index side: each string contributes its k+1 segments keyed by
    // (segment index, own length, segment content).
    val index = names
      .select(col("name").as("name_s"), col("len").as("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("seg", col("name_s").substr(
        (segStart(col("l"), col("i")) + 1).cast("int"),
        segLen(col("l"), col("i")).cast("int")))

    // Probe side: each string of length m probes, for every candidate
    // partner length l in [m-k, m] and segment index i, the substrings of
    // itself at the segment's position shifted by δ ∈ [-k, k] (k edits
    // move a surviving segment by at most k positions). Out-of-bounds
    // starts cannot host a real match and are dropped; duplicate probe
    // keys (repeated content) collapse before the join.
    val probe = names
      .select(col("name").as("name_t"), col("len").as("m"),
        explode(sequence(greatest(col("len") - k, lit(0)), col("len"))).as("l"))
      .select(col("name_t"), col("m"), col("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("start_t",
        explode(sequence(segStart(col("l"), col("i")) - k,
          segStart(col("l"), col("i")) + k)))
      .filter(col("start_t") >= 0 &&
        col("start_t") + segLen(col("l"), col("i")) <= col("m"))
      .withColumn("sub", col("name_t").substr(
        (col("start_t") + 1).cast("int"), segLen(col("l"), col("i")).cast("int")))
      .select("name_t", "m", "l", "i", "sub")
      .distinct()

    // Pair-once discipline: the indexed string is the shorter one
    // (lexically smaller on ties), so every unordered pair meets through
    // exactly one orientation; the distinct collapses multi-segment hits.
    index
      .join(probe,
        index("l") === probe("l") && index("i") === probe("i") &&
          index("seg") === probe("sub") &&
          (index("l") < probe("m") ||
            (index("l") === probe("m") && index("name_s") < probe("name_t"))))
      .select(col("name_s").as("name_a"), col("name_t").as("name_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= k)
  }

  /** Cross-TABLE record linkage: all (left, right) pairs of distinct
    * non-null values within levenshtein distance ≤ `maxDist` — "match the
    * incoming batch against the master catalog allowing k typos". Same
    * PassJoin blocking as [[selfPairs]] with the left side indexed and the
    * right side probing, but WITHOUT the pair-once orientation predicate:
    * either side may be the shorter string, so the probe explodes partner
    * lengths over the full `[m-k, m+k]` band (a self-join can orient
    * index = shorter; a cross join cannot). Lossless by the same pigeonhole
    * argument; both sides shuffle once on content-bearing keys (cardinality
    * grows with data — no parallelism cap).
    */
  def crossPairs(
      left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    def intDiv(a: Column, b: Int): Column = floor(a.cast("double") / b).cast("int")
    def segStart(l: Column, i: Column): Column =
      i * intDiv(l, k + 1) + greatest(lit(0), i - (lit(k + 1) - l % (k + 1)))
    def segLen(l: Column, i: Column): Column =
      intDiv(l, k + 1) + when(i >= lit(k + 1) - l % (k + 1), 1).otherwise(0)

    def names(df: DataFrame, c: String, out: String) = df
      .select(col(c).cast("string").as(out))
      .filter(col(out).isNotNull)
      .distinct()
      .withColumn("len", length(col(out)))

    val index = names(left, leftCol, "name_l")
      .select(col("name_l"), col("len").as("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("seg", col("name_l").substr(
        (segStart(col("l"), col("i")) + 1).cast("int"),
        segLen(col("l"), col("i")).cast("int")))

    val probe = names(right, rightCol, "name_r")
      .select(col("name_r"), col("len").as("m"),
        explode(sequence(greatest(col("len") - k, lit(0)), col("len") + k)).as("l"))
      .select(col("name_r"), col("m"), col("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("start_t",
        explode(sequence(segStart(col("l"), col("i")) - k,
          segStart(col("l"), col("i")) + k)))
      .filter(col("start_t") >= 0 &&
        col("start_t") + segLen(col("l"), col("i")) <= col("m"))
      .withColumn("sub", col("name_r").substr(
        (col("start_t") + 1).cast("int"), segLen(col("l"), col("i")).cast("int")))
      .select("name_r", "m", "l", "i", "sub")
      .distinct()

    index
      .join(probe,
        index("l") === probe("l") && index("i") === probe("i") &&
          index("seg") === probe("sub"))
      .select(col("name_l"), col("name_r"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_l"), col("name_r")).cast("long"))
      .filter(col("dist") <= k)
  }

  /** EXACT set-similarity self-join (token-set Jaccard ≥ tNum/tDen) via
    * prefix filtering — the deterministic counterpart of MinHash-LSH
    * (Dedup.nearDuplicates finds *probably* similar pairs; this finds ALL
    * of them, guaranteed, the AllPairs/PPJoin family): order every
    * document's distinct tokens by global rarity (df asc, token asc);
    * a document of n tokens exposes only its first n − ⌈t·n⌉ + 1 tokens
    * as join keys — two sets with Jaccard ≥ t MUST share one of those
    * prefix tokens, so the equi-join loses nothing (spec-proved equal to
    * brute force) while rare-first ordering keeps candidate lists short.
    * Verification is candidate-scoped intersection counting with the
    * cross-multiplied threshold c·tDen ≥ tNum·(n_a + n_b − c) — no
    * division, no floats.
    *
    * Scale: the join key space is the element vocabulary (grows with data —
    * no parallelism cap); candidates are prefix-token-scoped, never
    * O(n²); the verify join touches candidate pairs only. CRITICAL: the
    * prefix filter only prunes when the vocabulary GROWS with the corpus.
    * On a closed word list (the synthetic testdata has 31 distinct
    * tokens), every "rare" token still hits thousands of docs and the
    * candidate mass degenerates toward all-pairs — set `shingleK` > 0 to
    * run the SAME exact join over k-word shingle sets instead, whose
    * vocabulary is combinatorial in the word space (the q38/minhash
    * element space); measured locally this turns a 129 s token-space join
    * into ~3 s at sf0.1 with exactness untouched.
    *
    * Small corpora run on the driver: at most [[DriverMaxDocs]] documents
    * with integral ids, read in at most as many partitions as the session
    * has cores. One job with no shuffle ([[BoundedCollect]]) evaluates the
    * same element Column inside Spark and collects each document's (id,
    * element array). The driver then runs the same join in plain Scala
    * over elements interned as Ints: the rarity order, the asymmetric
    * prefixes, the length and positional filters, and the cross-multiplied
    * verify. The result is a local frame with the Spark plan's schema and
    * rows, so collecting it starts no job. One job in all, instead of the
    * pin, the shuffles and their query-stage jobs, which at this size cost
    * planning and scheduling, not data work. As in the Spark plan, a null
    * id or a document with no elements (null text) joins nothing. The
    * Spark plan runs unchanged on more documents than the cutoff, a
    * non-integral id type, a duplicate id, a threshold whose terms could
    * overflow that plan's Int arithmetic, or a candidate mass above
    * [[DriverMaxCandidateMass]]. The candidate mass, Σ over tokens of
    * (documents indexing it) · (documents probing it), is what the
    * candidate step examines, and it is computed before that step.
    *
    * The cutoffs bound the driver's worst case, a closed vocabulary where
    * every pair is a candidate. Measured on 4 cores (one input partition,
    * τ=½, median of 3 warm calls including the result collect): 720
    * documents of 60 words from 31 (mass 4.2M, 259k pairs) take 0.87 s on
    * the driver against 5.7 s through the Spark plan; the first 4000 sf0.1
    * documents in 3-shingle space (mass 0.4M, 161 pairs) take 0.59 s
    * against 6.0 s. At mass 8.1M (1000 such documents, 499k pairs) the
    * driver takes 1.8 s, so the mass cutoff holds its worst case near one
    * second of one thread.
    */
  def setSimJoin(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      tNum: Int = 3, tDen: Int = 5, shingleK: Int = 0): DataFrame =
    setSimJoin(docs, textCol, idCol, tNum, tDen, shingleK, DriverMaxDocs, DriverMaxCandidateMass)

  /** Most documents [[setSimJoin]] joins on the driver. */
  private[ext] val DriverMaxDocs = 4000

  /** Most candidate mass [[setSimJoin]] joins on the driver. */
  private[ext] val DriverMaxCandidateMass = 1L << 22

  private[ext] def setSimJoin(
      docs: DataFrame, textCol: String, idCol: String, tNum: Int, tDen: Int, shingleK: Int,
      driverMaxDocs: Int, driverMaxMass: Long): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1, got $tNum/$tDen")
    // Both element spaces are case-insensitive (text lowercased first), so
    // `shingleK` changes ONLY the element space, never matching semantics.
    val elems =
      if (shingleK > 0)
        Dedup.shingles(lower(col(textCol)), shingleK)
      else array_distinct(split(lower(col(textCol)), " "))
    setSimJoinOnDriver(docs, elems, idCol, tNum, tDen, driverMaxDocs, driverMaxMass)
      .getOrElse(setSimJoinOnSpark(docs, elems, idCol, tNum, tDen))
  }

  private def setSimJoinOnDriver(
      docs: DataFrame, elems: Column, idCol: String, tNum: Int, tDen: Int,
      maxDocs: Int, maxMass: Long): Option[DataFrame] = {
    val id = docs.select(col(idCol)).schema.head
    if (maxDocs < 1 || !Dedup.isIntegral(id.dataType)) return None
    val rows = BoundedCollect(docs, maxDocs, Set.empty, col(idCol).cast("long"), elems)
      .getOrElse(return None)
    if (rows.length > maxDocs || !BoundedCollect.distinctLongs(rows, 0)) return None
    // a null or empty element array joins nothing; both element spaces are
    // distinct arrays of non-null strings
    val withElems = rows.filter(r => !r.isNullAt(1) && r.getArray(1).numElements() > 0)
    // elements interned as Ints, then renumbered in the Spark plan's rarity
    // order: document frequency (over every document, a null id's too)
    // ascending, then the element's bytes
    val (tokens, names) = BoundedCollect.intern(withElems, 1)
    val dfreq = new Array[Int](names.length)
    tokens.foreach(_.foreach(t => dfreq(t) += 1))
    val rank = new Array[Int](names.length)
    names.indices
      .sortWith((x, y) => dfreq(x) < dfreq(y) || (dfreq(x) == dfreq(y) && names(x).compareTo(names(y)) < 0))
      .zipWithIndex.foreach { case (t, r) => rank(t) = r }
    // the documents in the join's (n, id) orientation, each a set of ranks
    // in ascending (rarity) order
    val docsIn = withElems.indices.filterNot(withElems(_).isNullAt(0))
      .map(i => (withElems(i).getLong(0), tokens(i).map(rank).sorted))
      .sortBy { case (i, s) => (s.length, i) }
    val docId = docsIn.map(_._1).toArray
    val set = docsIn.map(_._2).toArray
    // the Spark plan's filters multiply set sizes by tNum + tDen in Int:
    // a threshold that could overflow there runs that plan
    val maxN = set.iterator.map(_.length).maxOption.getOrElse(0)
    if ((2L * maxN + 2) * (tNum.toLong + tDen) > Int.MaxValue) return None
    val probeLen = set.map(s => s.length - (tNum * s.length + tDen - 1) / tDen + 1)
    val indexLen = set.map(s => s.length - (2 * tNum * s.length + tNum + tDen - 1) / (tNum + tDen) + 1)
    val inIndex, inProbe = new Array[Int](names.length)
    set.indices.foreach { d =>
      (0 until indexLen(d)).foreach(p => inIndex(set(d)(p)) += 1)
      (0 until probeLen(d)).foreach(p => inProbe(set(d)(p)) += 1)
    }
    if (inIndex.indices.iterator.map(t => inIndex(t).toLong * inProbe(t)).sum > maxMass) return None
    // the index prefixes, grouped by token: token t's (document, position)
    // entries sit in [start(t), fill(t)), appended in orientation order, so
    // a probe sees exactly the documents before it
    val start = inIndex.scanLeft(0)(_ + _)
    val fill = start.clone()
    val entryDoc, entryPos = new Array[Int](start.last)
    val seen = Array.fill(set.length)(-1)
    val out = Dedup.fromLong(id.dataType)
    val pairs = Array.newBuilder[Row]
    set.indices.foreach { b =>
      val (sb, nb) = (set(b), set(b).length)
      val cands = new scala.collection.mutable.ArrayBuilder.ofInt
      (1 to probeLen(b)).foreach { pb =>
        val t = sb(pb - 1)
        var e = start(t)
        while (e < fill(t)) {
          val a = entryDoc(e)
          val pa = entryPos(e)
          val na = set(a).length
          if (seen(a) != b && nb * tNum <= na * tDen &&
              (math.min(pa, pb) + math.min(na - pa, nb - pb)) * (tNum + tDen) >= tNum * (na + nb)) {
            seen(a) = b
            cands += a
          }
          e += 1
        }
      }
      cands.result().foreach { a =>
        val na = set(a).length
        val inter = intersectionSize(set(a), sb)
        if (inter.toLong * tDen >= tNum.toLong * (na + nb - inter)) {
          val (lo, hi) = if (docId(a) < docId(b)) (a, b) else (b, a)
          pairs += Row(out(docId(lo)), out(docId(hi)), inter.toLong, set(lo).length.toLong,
            set(hi).length.toLong, inter * 1048576L / (na + nb - inter))
        }
      }
      (1 to indexLen(b)).foreach { pa =>
        val t = sb(pa - 1)
        entryDoc(fill(t)) = b
        entryPos(fill(t)) = pa
        fill(t) += 1
      }
    }
    Some(docs.sparkSession.createDataFrame(pairs.result().toSeq.asJava, StructType(
      Seq(id.copy(name = "id_a"), id.copy(name = "id_b")) ++
        Seq("inter", "n_a", "n_b", "jac_fp").map(StructField(_, LongType)))))
  }

  /** |a ∩ b| of two ascending arrays of distinct Ints. */
  private[ext] def intersectionSize(a: Array[Int], b: Array[Int]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  private def setSimJoinOnSpark(
      docs: DataFrame, elems: Column, idCol: String, tNum: Int, tDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One shingle-array table (guide §2.4 — remove repeated work) that the
    // downstream consumers (df counts, rarity ranking, the two verify
    // probes) read instead of each re-running the shingle subtree. On an
    // input read from a handful of file splits it is spread by id BEFORE
    // the expensive shingle pass, so tokenization runs on every core
    // instead of serially inside the single-split scan stage, and pinned
    // with a local checkpoint. An input with no file-scan leaf (a
    // checkpointed or local frame) is neither spread nor pinned: Spread's
    // guards probe the leaf scans, so there each consumer re-runs the
    // shingle subtree at the input's own width.
    // n (the doc's DISTINCT element count) is the array size: both element
    // spaces are distinct arrays (array_distinct / the native shingle
    // expression), so size(es) equals the per-id exploded row count the
    // old count-over-window computed — this also removes that second
    // window pass and the two trailing size joins.
    // pinLocal, not a bare localCheckpoint: at scale an executor-local pin
    // of one row per doc with its full shingle array is corpus-sized,
    // non-recomputable state — there the consumers re-run the (map-side)
    // tokenize subtree instead (see Spread.pinLocal)
    val arrays = Spread.pinLocal(
      Spread.byKey(docs, col(idCol))
        .select(col(idCol).as("id"), elems.as("es"))
        .select(col("id"), size(col("es")).as("n"), col("es")))
    val toks = arrays.select(col("id"), col("n"), explode(col("es")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // The rarity window's exchange is the LAST shuffle before the prefix
    // join (a broadcast join) — everything downstream (window, prefix
    // filters, the candidate BHJ, the distinct's map side and the
    // array_intersect verify) runs at ITS width. The shuffle is a few MB
    // of token rows, so in local-tiny mode AQE's small-shuffle coalescing
    // folds all of that CPU onto a handful of tasks; an explicit
    // width-pinned repartition by id SATISFIES the window's clustering
    // (same exchange count — it replaces the planner's own exchange) and
    // cannot be coalesced. At scale the guard never fires and AQE's
    // byte-based sizing stands.
    val rankedIn = Spread.byKeyPinned(docs, toks.join(dfreq, Seq("tok")), col("id"))
    val ranked = rankedIn
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("tok").asc)))
    // ASYMMETRIC prefixes (the PPJoin index/probe split, Xiao et al.,
    // TODS 2011): orient every pair so side a is the SHORTER set
    // ((n, id)-lexicographic — ids break size ties), then
    //  - probe prefix (side b, the longer): pos ≤ n − ⌈t·n⌉ + 1 — the
    //    classic prefix-filter length;
    //  - index prefix (side a, the shorter): pos ≤ n − ⌈2t/(1+t)·n⌉ + 1 —
    //    shorter, because the pair's required overlap o =
    //    ⌈t/(1+t)·(n_a+n_b)⌉ is at least ⌈2t/(1+t)·n_a⌉ when n_b ≥ n_a.
    // Completeness: the GLOBALLY RAREST common token c of a qualifying
    // pair has, in each doc, at least o−1 common tokens ranked after it,
    // so rank(c) ≤ n − o + 1 on BOTH sides; with o ≥ ⌈2t/(1+t)·n_a⌉ and
    // o ≥ ⌈t·n_b⌉ (the latter from the length filter t·n_b ≤ n_a), c sits
    // inside a's index prefix AND b's probe prefix — the asymmetric join
    // still meets every qualifying pair at least once. At t = 1/2 this
    // cuts the indexed side from n/2+1 to n/3+1 tokens (candidate mass
    // scales with the PRODUCT of the prefix lengths). Ceils are integer:
    // ⌈t·n⌉ = (tNum·n + tDen − 1) div tDen,
    // ⌈2t/(1+t)·n⌉ = (2·tNum·n + tNum + tDen − 1) div (tNum + tDen).
    // The candidate self-join consumes ranked on both sides and re-runs
    // the df join + rarity window twice — measured, pinning it too costs
    // MORE wall than it saves: the two copies run as independent stages in
    // parallel off the pinned arrays, while an eager checkpoint is a
    // serial barrier in front of them.
    val idxPrefix = ranked.filter(col("pos") <=
      col("n") - ExactMath.floorDiv(
        col("n") * (2 * tNum) + (tNum + tDen - 1), lit(tNum + tDen)) + 1L)
    val probePrefix = ranked.filter(col("pos") <=
      col("n") - ExactMath.floorDiv(col("n") * tNum + (tDen - 1), lit(tDen)) + 1L)
    // Two sound prunes AT the prefix join, before the distinct and the
    // intersection-count verify ever see a candidate:
    //  - AllPairs length filter: inter ≤ min(n_a, n_b) and Jaccard ≥ t
    //    force t·max(n_a, n_b) ≤ min(n_a, n_b); with the (n, id)
    //    orientation only t·n_b ≤ n_a is binding (the other direction is
    //    implied by n_a ≤ n_b);
    //  - positional filter: for a common token at sorted positions
    //    (pa, pb), overlap ≤ min(pa−1, pb−1) + 1 + min(n_a−pa, n_b−pb)
    //    (commons strictly before it, itself, commons after it — the
    //    rarity order is one GLOBAL total order, so "before" agrees
    //    across documents). Jaccard ≥ t needs overlap·(tNum+tDen) ≥
    //    tNum·(n_a+n_b); a pair that truly qualifies passes this bound at
    //    EVERY common prefix token (bound ≥ true overlap ≥ required), so
    //    per-match filtering + distinct drops no qualifying pair.
    val posBound =
      least(col("a.pos"), col("b.pos")) +
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
    // set sizes ride along on the candidate pairs (n is functionally
    // dependent on id, so the distinct and the groupBy keep identical
    // groups) — the old plan re-derived them with a groupBy over toks plus
    // TWO extra joins after the intersection count
    val cand = idxPrefix.as("a").join(probePrefix.as("b"),
        col("a.tok") === col("b.tok") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.id") < col("b.id"))) &&
          col("b.n") * tNum <= col("a.n") * tDen &&
          posBound * (tNum + tDen) >= lit(tNum) * (col("a.n") + col("b.n")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
    // Verify on the pinned ARRAYS: |A∩B| per candidate is one native
    // array_intersect over the two distinct element arrays — the previous
    // token-explode form pushed |cand|·|doc| joined rows through two joins
    // and a wide groupBy; this joins |cand| rows twice and aggregates
    // nothing (identical counts: the arrays are distinct, so
    // size(array_intersect) IS the common-token count).
    val inter = cand
      .join(arrays.select(col("id").as("id_a"), col("es").as("es_a")), Seq("id_a"))
      .join(arrays.select(col("id").as("id_b"), col("es").as("es_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("es_a"), col("es_b"))).cast("long").as("inter"))
    // the join oriented pairs by (n, id); the OUTPUT contract is id_a <
    // id_b (what every caller and the oracle consume), so swap ids (and
    // their n's with them) where the size orientation disagrees
    val sw = col("id_a") > col("id_b")
    inter
      .filter(col("inter") * tDen >= lit(tNum) * (col("n_a") + col("n_b") - col("inter")))
      .select(
        when(sw, col("id_b")).otherwise(col("id_a")).as("id_a"),
        when(sw, col("id_a")).otherwise(col("id_b")).as("id_b"),
        col("inter").cast("long").as("inter"),
        when(sw, col("n_b")).otherwise(col("n_a")).cast("long").as("n_a"),
        when(sw, col("n_a")).otherwise(col("n_b")).cast("long").as("n_b"),
        ExactMath.floorDiv(col("inter") * lit(1048576L),
          col("n_a") + col("n_b") - col("inter")).as("jac_fp"))
  }

  /** Dedup-threshold sensitivity report (E147): histogram the EXACT
    * similarity-pair set (a [[setSimJoin]] output, or anything with
    * (id_a, id_b, inter, n_a, n_b)) into `bins` equal-width Jaccard bins —
    * per bin, how many pairs and how many distinct documents sit there.
    * Read bottom-up, the cumulative tail answers "what does moving the
    * dedup threshold from 0.8 to 0.7 actually merge?" BEFORE a threshold
    * is committed — the sweep that replaces folklore constants with
    * evidence. Binning is cross-multiplied integer floor (bin =
    * ⌊inter·bins/union⌋, clamped), no float division.
    *
    * Scale: input is the candidate-scoped exact pair set (never O(n²));
    * ONE aggregation keyed by bin (≤ `bins` result rows) over the
    * endpoint-exploded pairs serves both counts, so a live (expensive)
    * pair plan upstream evaluates once, not once per output.
    */
  def thresholdSensitivity(pairs: DataFrame, bins: Int = 20): DataFrame = {
    require(bins > 0, "bins must be positive")
    val union = col("n_a") + col("n_b") - col("inter")
    val bin = least(
      ExactMath.floorDiv(col("inter") * bins, union), lit(bins - 1L)).cast("long")
    // each pair explodes to its two endpoint rows: n_pairs = rows/2
    // (exact — always even), n_docs = distinct ids, one pass
    val counts = pairs.withColumn("bin", bin)
      .select(col("bin"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("bin")
      .agg(shiftright(count(lit(1)), 1).as("n_pairs"),
        countDistinct(col("id")).as("n_docs"))
    // Drive from the full bin range: an empty bin must still report
    // (bin, 0, 0) — the sweep is read as a curve, and a silently absent
    // bin is indistinguishable from a bin that was never measured.
    val spark = pairs.sparkSession
    import spark.implicits._
    (0L until bins.toLong).toDF("bin")
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        ExactMath.floorDiv(col("bin") * lit(1048576L), lit(bins.toLong))
          .as("thr_lo_fp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }
}
