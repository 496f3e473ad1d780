package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions.{StableHash, WordShingles}

import scala.jdk.CollectionConverters._

/** Deduplication operators for training-data pipelines (north-star
  * extension): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.
  *
  * Scale design:
  *   - exact dedup shuffles a 16-byte digest, never the document text;
  *   - MinHash shuffles (doc, band) keys — H·|docs| small rows — and only
  *     brute-forces WITHIN an LSH bucket (shingle→minhash→band→bucket-join,
  *     the standard shuffle-light near-dup layout);
  *   - all hashing is md5-prefix based, so signatures are reproducible in
  *     any engine (portable oracle), at ~2-3× xxHash64's per-row cost: on
  *     one core of a 4-vCPU Xeon host, hashing 2M short strings from a
  *     cached frame took ~0.26-0.33 µs per row with [[stableHash]] and
  *     ~0.09-0.13 µs with xxHash64, scan included (the md5 → hex → conv
  *     chain it replaced took ~1.0-1.25 µs).
  */
object Dedup {

  /** 60-bit stable hash from the md5 hex prefix — engine-portable
    * (DuckDB: CAST('0x'||substr(md5(x),1,15) AS BIGINT)); one codegen'd
    * [[graft.functions.StableHash]] per value. A non-string `c` is cast to
    * string first, as concat_ws casts it (a no-op on strings).
    */
  def stableHash(c: Column, seed: Int): Column =
    ColumnBridge.column(StableHash(ColumnBridge.expression(c.cast("string")), seed))

  /** Exact dedup: group by content digest, keep the lowest id
    * (hash-groupBy; one shuffle of (digest, id) pairs only).
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Canonical text form for dedup: lowercase, non-alphanumerics → space,
    * whitespace collapsed, trimmed. The normalization pass web-corpus
    * pipelines run BEFORE hashing (casing/punctuation variants of the same
    * page hash identically); pattern kept in the Java∩RE2 subset and
    * replicated verbatim by DuckDB `regexp_replace(…, 'g')`.
    */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Canonicalization-aware dedup manifest: group documents by the digest
    * of their CANONICAL form. Per group: the keeper (lowest id), the copy
    * count, and how many RAW variants the canonical class collapsed
    * (`n_raw_variants > 1` ⇒ the group is invisible to [[exact]]).
    * Same single-shuffle hash-groupBy discipline as [[exact]]; the second
    * distinct count rides the same Expand pass, so the scan is still read
    * once.
    */
  def canonicalDedup(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(canonicalize(col(textCol))).as("canon_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(md5(col(textCol))).as("n_raw_variants"))

  /** Passage/segment-level dedup (the line-dedup shape of CCNet/RefinedWeb
    * corpora, with fixed `segWords`-word passages standing in for lines):
    * every document is cut into consecutive word segments, identical
    * segments are deduplicated CORPUS-WIDE, and the first occurrence — by
    * (doc id, segment index) — is the keeper. Output: per document, how
    * many of its segments survive.
    *
    * Scale: segments shuffle as (hash, doc, idx) longs only — never text.
    * The keeper is the per-hash MIN(struct(doc, idx)) via a partial-
    * aggregating groupBy (skew-safe: a boilerplate segment repeated 10⁹
    * times map-side-combines to one row per partition, where a windowed
    * row_number would funnel all copies through one reducer), joined back
    * on the hash — both shuffles keyed by the unbounded-cardinality hash.
    */
  def segmentDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      segWords: Int = 20): DataFrame = {
    val toks = split(col(textCol), " ")
    val nseg = floor((size(toks) + lit(segWords - 1)) / lit(segWords)).cast("int")
    val segs = docs.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
        .as(Seq("seg_idx", "seg")))
      .select(col(idCol), col("seg_idx"), stableHash(col("seg"), 11).as("gh"))
    val keepers = segs
      .groupBy("gh")
      .agg(min(struct(col(idCol), col("seg_idx"))).as("first"))
    segs
      .join(keepers, "gh")
      .select(col(idCol), col("seg_idx"),
        (col("first")(idCol) === col(idCol) &&
          col("first")("seg_idx") === col("seg_idx")).as("kept"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Act on [[segmentDedup]]: rebuild every document from its KEPT
    * segments only — globally-duplicated passages (licenses, navigation
    * chrome, syndicated paragraphs) are cut from every copy but the first,
    * and the surviving segments are stitched back in their original order.
    * A document whose every segment was seen earlier rewrites to the empty
    * string (fully boilerplate).
    *
    * Scale: same two shuffles as [[segmentDedup]] (hash-groupBy on the
    * segment digest, then per-doc reassembly); the reassembly carries
    * (doc, seg_idx, segment-text) — corpus-sized but never wider than the
    * input — and the ordered stitch is an in-group `array_sort`, not a
    * window over the corpus.
    */
  def segmentRewrite(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      segWords: Int = 20): DataFrame = {
    val toks = split(col(textCol), " ")
    val nseg = floor((size(toks) + lit(segWords - 1)) / lit(segWords)).cast("int")
    val segs = docs.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), nseg - 1),
        i => array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
        .as(Seq("seg_idx", "seg")))
      .withColumn("gh", stableHash(col("seg"), 11))
    val keepers = segs
      .groupBy("gh")
      .agg(min(struct(col(idCol), col("seg_idx"))).as("first"))
    segs.join(keepers, "gh")
      .withColumn("kept",
        col("first")(idCol) === col(idCol) &&
          col("first")("seg_idx") === col("seg_idx"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("seg_idx"), col("seg"))))),
            x => x("seg")), " ").as("text_clean"))
  }

  /** Word k-shingles of a document as a distinct array, in first-occurrence
    * order; the whole text is the one shingle of a doc under k tokens.
    */
  def shingles(text: Column, k: Int = 3): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), k))

  /** Universal-hash family over one base hash: h_i(x) = (a_i·(base(x) mod P)
    * + b_i) mod P. One md5 per shingle instead of `numHashes` md5s — the
    * standard minhash trick; at 100 TB the signature stage is hash-bound, so
    * this is a ~H× cut in per-shingle CPU. Coefficients are deterministic
    * functions of i, shared verbatim with the DuckDB oracle.
    */
  val HashP = 1000000007L
  def hashCoeffA(i: Int): Long = ((i + 1L) * 2654435761L) % HashP
  def hashCoeffB(i: Int): Long = ((i + 1L) * 40503L * 65537L) % HashP

  /** MinHash signatures: explode shingles, one base hash per shingle, H
    * derived universal hashes, one min-aggregate per hash index. One shuffle
    * keyed by doc id; H mins computed map-side first.
    */
  def minhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol), explode(shingles(col(textCol), shingleK)).as("shingle"))
      .select(col(idCol), pmod(stableHash(col("shingle"), 0), lit(HashP)).as("hb"))
    val mins = (0 until numHashes).map(i =>
      min(pmod(col("hb") * hashCoeffA(i) + hashCoeffB(i), lit(HashP))).as(s"mh$i"))
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: split the signature into bands of `rowsPerBand`, hash each
    * band, and emit (id, band_idx, band_hash) bucket keys.
    */
  def lshBuckets(sigs: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    val bandCols = (0 until bands).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b).as("band_idx"), md5(concat_ws("|", parts: _*)).as("band_hash"))
    }
    sigs
      .select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** MinHash+LSH near-duplicate candidate pairs: docs sharing ≥1 LSH bucket.
    * The self-join is on (band_idx, band_hash) — only same-bucket docs ever
    * meet, so the candidate space is bucket-local, not O(n²).
    */
  def minhashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      shingleK: Int = 3): DataFrame = {
    val buckets =
      lshBuckets(minhashSignatures(docs, textCol, idCol, numHashes, shingleK),
        idCol, numHashes, rowsPerBand)
    val a = buckets.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val b = buckets.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate (or all) pairs:
    * |A∩B| / (|A|+|B|−|A∩B|) computed by a shingle-key equi-join — the
    * shingle join is the hash-partitioned intersection, no cross product.
    */
  def ngramJaccard(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 3,
      minJaccard: Double = 0.0,
      candidates: Option[DataFrame] = None): DataFrame =
    pairOverlap(docs, textCol, idCol, shingleK, candidates)
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")

  /** Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| per direction —
    * catches a short document quoted wholesale inside a long one, which
    * Jaccard structurally cannot (the union in its denominator is dominated
    * by the long doc, so the score stays low no matter how completely the
    * short doc is swallowed). `contained_id` names the mostly-contained
    * side. Same overlap machinery and scale shape as [[ngramJaccard]] —
    * pass LSH `candidates` for the 100 TB path.
    */
  def containmentPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 3,
      minContainment: Double = 0.0,
      candidates: Option[DataFrame] = None): DataFrame =
    pairOverlap(docs, textCol, idCol, shingleK, candidates)
      .withColumn("contain_a", col("common").cast("double") / col("n_a"))
      .withColumn("contain_b", col("common").cast("double") / col("n_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= minContainment)
      .withColumn("contained_id",
        when(col("contain_a") >= col("contain_b"), col("id_a")).otherwise(col("id_b")))
      .select("id_a", "id_b", "common", "n_a", "n_b",
        "contain_a", "contain_b", "contained_id")

  /** (id_a, id_b, common, n_a, n_b) distinct-shingle overlap per pair —
    * the shared core of [[ngramJaccard]] and [[containmentPairs]].
    */
  private def pairOverlap(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int,
      candidates: Option[DataFrame]): DataFrame = candidates match {
    case Some(cand) =>
      // Candidate-verify path: join each candidate pair to the two docs'
      // shingle ARRAYS and intersect per pair. Cost is O(|candidates|·|doc
      // shingles|) — never the global pair space, so a hot shingle shared by
      // 10k docs costs nothing unless LSH already bucketed those docs
      // together. This is what makes verify affordable after LSH at 100 TB.
      // NOT pinned/spread: measured (q38/q118/q156/q172/q209), the two
      // verify sides' duplicated shingle passes overlap as independent
      // parallel stages, while an eager checkpoint is a serial barrier in
      // front of the join — the barrier lost on every consumer
      val arrays = docs.select(
        col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"))
      val a = arrays.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val b = arrays.select(col("id").as("id_b"), col("sh").as("sh_b"))
      cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
        .select(
          col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
          size(col("sh_a")).cast("long").as("n_a"),
          size(col("sh_b")).cast("long").as("n_b"))
    case None =>
      // All-pairs path (small scopes): the shingle equi-join IS the
      // hash-partitioned intersection — pairs sharing no shingle never meet.
      val sh = docs
        .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleK)).as("shingle"))
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
      val common = sh.select(col("id").as("id_a"), col("shingle"))
        .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
      common
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), Seq("id_a"))
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), Seq("id_b"))
        .select("id_a", "id_b", "common", "n_a", "n_b")
  }

  /** Incremental near-dup: flag each INCOMING document that duplicates the
    * EXISTING corpus or an EARLIER (lower-id) incoming document — the
    * daily-ingest path. Only the incoming batch is shingled and minhashed
    * fresh; the existing side can be served from a persisted signature
    * store (`existingSigs`), so per-batch cost scales with the batch, not
    * the corpus, and existing×existing pairs are never generated — the
    * property that makes rolling dedup affordable at 100 TB.
    *
    * Output: one row per incoming doc — match count, `dup_of` (the minimum
    * matched id, NULL when clean), and the `is_dup` verdict. Deterministic:
    * survivors are always the existing corpus and the lowest-id copy within
    * the batch.
    */
  def incrementalDedup(
      incoming: DataFrame,
      existing: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.7,
      existingSigs: Option[DataFrame] = None): DataFrame = {
    val sigsNew = minhashSignatures(incoming, textCol, idCol)
    val sigsOld = existingSigs.getOrElse(minhashSignatures(existing, textCol, idCol))
    val bNew = lshBuckets(sigsNew, idCol, 16, 4)
    val bOld = lshBuckets(sigsOld, idCol, 16, 4)
    val probe = bNew.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val vsOld = probe
      .join(bOld.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b")),
        Seq("band_idx", "band_hash"))
    val vsEarlier = probe
      .join(bNew.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b")),
        Seq("band_idx", "band_hash"))
      .filter(col("id_b") < col("id_a"))
    val cand = vsOld.select("id_a", "id_b")
      .unionByName(vsEarlier.select("id_a", "id_b")).distinct()
    val verified = ngramJaccard(
      incoming.unionByName(existing), textCol, idCol, 3, minJaccard, Some(cand))
    val matches = verified.groupBy(col("id_a").as("__id"))
      .agg(count(lit(1)).as("n_matches"), min(col("id_b")).as("dup_of"))
    incoming.select(col(idCol))
      .join(matches, incoming(idCol) === matches("__id"), "left")
      .select(
        col(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("dup_of"),
        (coalesce(col("n_matches"), lit(0L)) > 0).as("is_dup"))
  }

  /** MinHash near-dup end to end: LSH candidates verified by exact Jaccard.
    * At scale the verify join touches only candidate pairs.
    */
  def nearDuplicates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.7): DataFrame = {
    val cand = minhashCandidates(docs, textCol, idCol)
    ngramJaccard(docs, textCol, idCol, 3, minJaccard, Some(cand))
  }

  /** Cross-source duplication matrix: near-duplicate pair counts grouped by
    * the (unordered) source pair — "which feeds copy each other", the
    * report that decides which source to drop when two crawls overlap.
    * Sources are normalized least/greatest so each pair appears once;
    * within-source duplication shows on the diagonal.
    *
    * Scale: the pair set is the LSH-candidate-scoped near-dup output
    * (never O(n²)); the two source lookups join on doc id and the final
    * aggregate is |sources|²-bounded.
    */
  def dupSourceMatrix(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.7): DataFrame = {
    val pairs = nearDuplicates(docs, textCol, idCol, minJaccard)
      .select("id_a", "id_b")
    val src = docs.select(col(idCol).as("id"), col(sourceCol).as("src"))
    pairs
      .join(src.select(col("id").as("id_a"), col("src").as("src_a")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("src").as("src_b")), Seq("id_b"))
      .groupBy(
        least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Connected components over near-duplicate pairs: every document gets the
    * MINIMUM doc id reachable through the pair graph as its canonical id —
    * the "keep one per duplicate cluster" step after pair detection.
    *
    * The pair set is pinned first (one job, which also counts it). Then:
    *
    * Small pair graphs (at most [[DriverCcMaxPairs]] pairs, both ids of
    * one integral type — every near-dup graph a curation pass builds): one
    * more job collects the pinned pairs as primitive `Long` arrays, a
    * union-find on the driver labels the components, and the labels come
    * back as a local frame with the same columns, types and rows as the
    * distributed path. Two jobs in all, instead of one job per label
    * round: at this size the rounds cost job and plan overhead, not data
    * work. The cutoff bounds the driver's share: 100k pairs are 1.6 MB of
    * collected ids and ~5 MB of union-find arrays, and the local result
    * (at most 200k rows) holds ~110 bytes of heap per row. On 4 cores a
    * 100k-pair graph resolves in 0.4–0.7 s this way against 3.2–3.5 s
    * through the rounds.
    *
    * At scale (more pairs, or other id types): iterative min-label
    * propagation WITH pointer jumping. Each round takes, per node, the min
    * over (own label, neighbours' labels, label-of-own-label) — the
    * pointer-jumping hop halves the distance to the component minimum
    * every round, so convergence needs
    * O(log(diameter)) rounds, not O(diameter): a 1M-node chain converges in
    * ~20 rounds instead of 1M. Convergence is checked with one tiny
    * aggregate per round; if `maxIters` is ever exceeded the method THROWS
    * rather than silently returning partially-merged clusters (a wrong
    * canonical map is worse than a failed job). At cluster scale each round
    * is a constant number of shuffles keyed by node/label over the PAIR set
    * (≪ corpus — only docs with a near-dup enter), the standard
    * large-graph CC layout.
    *
    * Null endpoints get the same rows on both paths: a null id links
    * nothing, its partner is still a node, and one `(null, min partner)`
    * row stands for all null endpoints.
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    dedupClusters(pairs, maxIters, DriverCcMaxPairs)

  /** Largest pair count [[dedupClusters]] resolves on the driver. */
  private[ext] val DriverCcMaxPairs = 100000L

  private[ext] def dedupClusters(
      pairs: DataFrame, maxIters: Int, driverMaxPairs: Long): DataFrame = {
    // pin the pair set first: `pairs` is typically the output of the whole
    // near-dup pipeline, and every CC round references the edge set — an
    // unpinned plan re-runs shingling+LSH+verify once per round. The row
    // count rides the pin job as an Observation (no extra action).
    val pObs = org.apache.spark.sql.Observation()
    val p0 = pairs.observe(pObs, count(lit(1)).as("n")).localCheckpoint(true)
    val nPairs = pObs.get("n").asInstanceOf[Long]
    val (a, b) = (p0.schema("id_a"), p0.schema("id_b"))
    val integral = a.dataType == b.dataType && isIntegral(a.dataType)
    // one integral id type on both ends: the rounds' union of both
    // orientations has that type, nullable when either end is
    if (integral && nPairs <= driverMaxPairs)
      componentsOnDriver(p0, StructField("id", a.dataType, a.nullable || b.nullable))
    else pointerJumping(p0, nPairs, maxIters)
  }

  /** One partition's pairs as a flat (a, b, a, b, …) array. A pair with one
    * null end contributes its other end as a self-loop (a node with no
    * link), recorded in `nullPartnerMin`; `nullEnd` marks any null end.
    */
  private case class PairChunk(ends: Array[Long], nullEnd: Boolean, nullPartnerMin: Option[Long])

  private def componentsOnDriver(pinned: DataFrame, id: StructField): DataFrame = {
    val chunks = pinned.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val ends = new scala.collection.mutable.ArrayBuilder.ofLong
        var nullEnd = false
        var partnerMin = Option.empty[Long]
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) { ends += r.getLong(0); ends += r.getLong(1) }
          else {
            nullEnd = true
            if (!r.isNullAt(0) || !r.isNullAt(1)) {
              val x = if (r.isNullAt(0)) r.getLong(1) else r.getLong(0)
              ends += x; ends += x
              partnerMin = Some(partnerMin.fold(x)(math.min(_, x)))
            }
          }
        }
        Iterator(PairChunk(ends.result(), nullEnd, partnerMin))
      }
      .collect()
    val (ids, canonical) = unionFind(chunks.flatMap(_.ends))
    val out = fromLong(id.dataType)
    val rows = ids.indices.map(i => Row(out(ids(i)), out(canonical(i))))
    val nullRow =
      if (chunks.exists(_.nullEnd))
        Seq(Row(null, chunks.flatMap(_.nullPartnerMin).minOption.map(out).orNull))
      else Nil
    pinned.sparkSession.createDataFrame((rows ++ nullRow).asJava,
      StructType(Seq(id, id.copy(name = "canonical_id"))))
  }

  /** Connected components of the graph whose edges are `ends` read in pairs
    * (a, b, a, b, …): the distinct ids in ascending order and, at the same
    * index, the minimum id of each one's component. A pair (a, a) adds a
    * node with no link.
    */
  private[ext] def unionFind(ends: Array[Long]): (Array[Long], Array[Long]) = {
    // nodes in ascending id order, so the smallest index in a component is
    // its minimum id: linking every root under the smaller root keeps each
    // root its tree's minimum
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    ids.indices.foreach { i => if (i == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 } }
    val parent = Array.tabulate(n)(identity)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def node(x: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, x)
    var k = 0
    while (k < ends.length) {
      val a = find(node(ends(k)))
      val b = find(node(ends(k + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 2
    }
    (java.util.Arrays.copyOf(ids, n), Array.tabulate(n)(i => ids(find(i))))
  }

  /** Whether ids of this type are collected as `Long` by the driver paths. */
  private[ext] def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A `Long` id back in its column's integral type, for a driver result row. */
  private[ext] def fromLong(dt: DataType): Long => Any = dt match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case _ => identity
  }

  private def pointerJumping(p0: DataFrame, nPairs: Long, maxIters: Int): DataFrame = {
    // size the iteration frames to the DATA: the pair pin inherits the
    // candidate stage's partitioning (a 32-way spread holding a few hundred
    // rows each locally), and every round's map side re-reads it — dozens
    // of near-empty tasks per round whose scheduling overhead dominates the
    // loop. Coalesce (narrow, no shuffle) to ~500k edges per partition; a
    // cluster-scale pair set keeps its thousands of partitions.
    val nParts = math.max(1L, math.min(p0.rdd.getNumPartitions.toLong,
      nPairs / 500000L + 1L)).toInt
    val p = p0.coalesce(nParts)
    // undirected edges, both directions
    val edges = p.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(p.select(col("id_b").as("u"), col("id_a").as("v")))
    // Round 1 folded into initialization: with identity labels the loop
    // body reduces to least(own id, min neighbour id) — computing that
    // directly as the starting label set saves one full join+checkpoint
    // round (the result is exactly what the old identity-init round 1
    // produced, so the fixpoint is unchanged).
    var labels = edges.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u").as("id"), least(col("u"), col("mn")).as("canonical_id"))
      .localCheckpoint(true)
    var converged = false
    var i = 1
    while (!converged && i < maxIters) {
      // ONE label lookup serves both the neighbour-min and the pointer
      // jump (the label of my current label): key each reference by the
      // node whose label is wanted — (u ← v) from the edges, (id ←
      // canonical_id) from the labels themselves — and resolve the union
      // through a single join + min aggregate. The old shape ran two
      // separate joins plus two assembly joins per round; min over the
      // merged reference set is the same least(own, nbr_min, jump).
      val refs = edges
        .union(labels.select(col("id").as("u"), col("canonical_id").as("v")))
      val resolved = refs
        .join(labels.select(col("id").as("v_id"), col("canonical_id").as("cl")),
          col("v") === col("v_id"))
        .groupBy(col("u").as("id"))
        .agg(min(col("cl")).as("nbr_min"))
      // `prev` rides along into the checkpoint so the per-round change
      // count is a filter over the pinned rows, not another join.
      // (A/B'd and rejected: a SECOND pointer jump through the round's own
      // fresh labels — it cut q51's rounds only 7 → 6 while charging every
      // shallow-graph consumer an extra self-join per round, q201 +20%.)
      val next = labels
        .join(resolved, Seq("id"), "left")
        .select(col("id"), col("canonical_id").as("prev"),
          least(col("canonical_id"),
            coalesce(col("nbr_min"), col("canonical_id"))).as("canonical_id"))
      // truncate lineage each round (the classic iterative-algorithm trap:
      // an unbroken chain of N self-joins re-executes from the source every
      // round and the plan grows without bound); localCheckpoint keeps the
      // label set distributed on executors. The change count rides the
      // checkpoint job as an Observation (count(when) — never null), so a
      // round costs ONE job, not a checkpoint job plus a count job.
      val obs = org.apache.spark.sql.Observation()
      val pinned = next
        .observe(obs, count(when(col("canonical_id") < col("prev"), 1)).as("changed"))
        .localCheckpoint(true)
      val changed = obs.get("changed").asInstanceOf[Long]
      labels = pinned.select("id", "canonical_id")
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIters rounds — with pointer " +
          s"jumping this needs a component of diameter > 2^$maxIters; " +
          "raise maxIters or inspect the pair graph")
    labels
  }

  /** SimHash: 64-bit signature where bit b is the sign of Σ±1 over token
    * hashes' bit b. Computed as one explode + one aggregation of 64 integer
    * sums (map-side combined); near-dups are pairs within a Hamming radius.
    */
  def simhash(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // the tokenize + 60-bit-sum pass is the corpus-wide work and otherwise
    // rides the scan's few local splits serially (§2.5; no-op at scale)
    val toks = Spread.byKeyCapped(docs.select(col(idCol), col(textCol)),
        col(idCol))
      .select(
        col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("tok"))
    val h = stableHash(col("tok"), 0)
    val bitSums = (0 until 60).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sums = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60)
      .map(b => when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((a, c) => a.bitwiseOR(c))
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`, via banded LSH on the
    * 60-bit signature: 4 disjoint 15-bit bands; candidates share at least
    * one whole band; the exact Hamming check prunes the rest. For
    * maxHamming ≤ 3 the banding is COMPLETE by pigeonhole — ≤ 3 flipped
    * bits can corrupt at most 3 of the 4 bands, so one band always
    * survives intact — making this an exact join, not an approximation
    * (the structural twin of minhashCandidates' probabilistic bands).
    *
    * Scale: signatures are one aggregation ([[simhash]]); the candidate
    * join keys on (band_idx, band_val) — 2¹⁵ values per band and growing
    * occupancy with data, no parallelism cap; the verify computes one
    * XOR+popcount per candidate pair.
    */
  def simhashNearDups(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4x15-bit banding is only complete for maxHamming <= 3, got $maxHamming")
    val sig = simhash(docs, textCol, idCol)
    val bands0 = sig.select(col(idCol).as("id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 15).bitwiseAND(0x7FFFL)): _*))
        .as(Seq("band_idx", "band_val")))
    // The band self-join's exchange carries a few MB of signature rows, so
    // AQE's small-shuffle coalescing folds the join, pair distinct and
    // Hamming verify (the query's heaviest stage) onto ONE task in
    // local-tiny mode. A width-pinned repartition by the join keys
    // SATISFIES the join's clustering (both aliased sides share the one
    // exchange via ReuseExchange) and cannot be coalesced; at scale the
    // guard never fires (probe on the input docs frame — bands itself
    // hangs off the signature aggregation, not a file scan).
    val bands = Spread.byKeyPinned(docs, bands0, col("band_idx"), col("band_val"))
    // Hamming-filter BEFORE the pair distinct (§2.3 — filter before the
    // exchange): hamming is a function of the pair's signatures, so the
    // result set is identical, but the xor+popcount kills the ~all-false
    // band collisions in the join stage instead of shuffling every raw
    // candidate row into the distinct
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDist(col("a.simhash"), col("b.simhash")).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("id_a", "id_b", "hamming")
  }

  /** Sorted-neighborhood near-dup candidates (E208) — the classic
    * record-linkage blocking method (Hernández–Stolfo): order documents by
    * their 60-bit [[simhash]] signature and compare each doc only to its
    * `window` predecessors in that order. Similar documents have close
    * signatures, so they sort together; the exact XOR+popcount Hamming
    * check keeps pairs within `maxHamming`. A different recall/cost point
    * than [[simhashNearDups]]'s banding: cost is exactly `window·n` pairs
    * regardless of bucket skew, recall depends on sort locality rather
    * than band collisions.
    *
    * Scale: a GLOBAL sort window would serialize on one partition, so the
    * order is partitioned by the signature's top `bucketBits` bits — the
    * sort prefix — giving 2^bucketBits independent sorted runs (raise for
    * more parallelism). Neighbors straddling a bucket boundary are not
    * compared — the same boundary-miss contract as any blocking scheme,
    * and the windows within a bucket are exactly the global-sort windows
    * because the bucket IS the leading sort key.
    *
    * Output: one row per candidate pair (id_a < position-wise predecessor
    * order collapsed to id_lo/id_hi), with the exact Hamming distance.
    */
  def sortedNeighborPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      window: Int = 3,
      maxHamming: Int = 8,
      bucketBits: Int = 4): DataFrame = {
    require(window >= 1 && bucketBits >= 0 && bucketBits <= 20,
      s"need window >= 1 and 0 <= bucketBits <= 20, got $window/$bucketBits")
    import org.apache.spark.sql.expressions.Window
    val sig = simhash(docs, textCol, idCol)
      .select(col(idCol).as("id"), col("simhash"))
      .withColumn("bucket", shiftright(col("simhash"), 60 - bucketBits))
    val w = Window.partitionBy(col("bucket")).orderBy(col("simhash"), col("id"))
    // lag columns first (one Window node), explode in a separate projection —
    // generators can't host window expressions
    val lagged = sig.select(
      (col("id") +: col("simhash") +: (1 to window).flatMap(j => Seq(
        lag(col("id"), j).over(w).as(s"pid$j"),
        lag(col("simhash"), j).over(w).as(s"psig$j")))): _*)
    val withPrev = lagged.select(
      col("id"), col("simhash"),
      explode(array((1 to window).map(j =>
        struct(col(s"pid$j").as("pid"), col(s"psig$j").as("psig"))): _*)).as("prev"))
    // each unordered id pair arises from exactly one (position, offset) —
    // no dedup shuffle needed
    withPrev
      .filter(col("prev.pid").isNotNull)
      .select(
        least(col("id"), col("prev.pid")).as("id_lo"),
        greatest(col("id"), col("prev.pid")).as("id_hi"),
        hammingDist(col("simhash"), col("prev.psig")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** One row per positional word-k-gram: (idCol, pos, gh) with pos
    * 1-based in gram order and gh the seeded stable hash of the gram
    * text. The shared seam for every position-aware gram consumer
    * ([[winnowFingerprints]], Decontaminate.contaminatedSpans) — the
    * tokenization, 1-basing, and hash must not drift between them.
    * Docs with fewer than k tokens produce no rows (WordNGrams is empty).
    */
  private[ext] def posGramHashes(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, seed: Int): DataFrame =
    docs
      .select(col(idCol), posexplode(
          graft.functions.TextNativeFunctions.ngrams(col(textCol), k))
        .as(Seq("__p0", "__g")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        stableHash(col("__g"), seed).as("gh"))

  /** Winnowed document fingerprints (E210) — the MOSS fingerprint-selection
    * scheme (Schleimer–Wilkerson–Aiken): over each window of `w`
    * consecutive k-gram hashes, keep the minimal hash (ties → rightmost).
    * Guarantees any shared run of w+k-1 tokens yields at least one shared
    * fingerprint, while storing ~2/(w+1) of the gram hashes — the
    * density/recall contract exact-gram indexes can't give. Short docs
    * (fewer than w grams) winnow their single truncated window; docs with
    * no k-gram (under k tokens) are absent by contract.
    *
    * Returns one row per document: gram/window/fingerprint counts plus
    * cross-doc sharing (fingerprints seen in ≥2 docs, and the widest
    * sharing fan-out) — the copy-detection screening report.
    *
    * Scale: one positional-gram explode (corpus-sized), a w× window
    * fan-out shuffled by (doc, window) — bounded multiplication, no
    * all-pairs; the sharing join keys on the winnowed fingerprint space
    * (~2/(w+1) of gram mass). Nothing collects; selection is per-window
    * rank, not a global sort.
    */
  /** The winnowed fingerprint rows themselves: one (idCol, gh, pos,
    * n_grams, t_max) row per selected fingerprint — the shared derivation
    * under [[winnowFingerprints]]'s per-doc report and
    * [[winnowSourceMatrix]]'s cross-source copy matrix.
    */
  private def winnowedFpRows(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, seed: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got $k/$w")
    import org.apache.spark.sql.expressions.Window
    // n_grams is the gram-array size carried through the posexplode — the
    // previous count-over-window re-shuffled and re-sorted the whole gram
    // stream just to recount what the array already knows
    // spread the docs before the gram explode: the tokenize+hash pass is
    // the corpus-wide work, and on a small-split local scan it otherwise
    // runs on 1-2 cores (guide §2.5; structural no-op at scale). Keyed by
    // id, the repartition ALSO satisfies the sliding window's clustering
    // requirement below, so no second exchange of the exploded gram stream
    val spreadDocs = Spread.byKeyCapped(
      docs.select(col(idCol), col(textCol)), col(idCol))
    val grams = spreadDocs
      .select(col(idCol), graft.functions.TextNativeFunctions.ngrams(col(textCol), k).as("__gs"))
      .select(col(idCol), size(col("__gs")).cast("long").as("n_grams"),
        posexplode(col("__gs")).as(Seq("__p0", "__g")))
      .select(col(idCol), col("n_grams"), (col("__p0") + 1).as("pos"),
        stableHash(col("__g"), seed).as("gh"))
    val tMax = greatest(col("n_grams") - lit(w - 1), lit(1))
    // Window t covers gram positions [t, t+w-1]: the selected fingerprint
    // (min gh, ties -> rightmost pos) at window t is exactly the sliding
    // ROW-frame min of struct(gh, -pos) evaluated at row pos = t+w-1, so
    // ONE ordered pass per doc replaces the old w-way window-index explode
    // (w x the gram mass) + row_number sort. Rows below pos = w carry
    // truncated prefixes of window 1 — dropped, except the single
    // truncated window of a short doc (n_grams < w), which lives at its
    // last row (pos = n_grams); `pos >= least(w, n_grams)` keeps exactly
    // the t_max real windows either way.
    val slide = Window.partitionBy(col(idCol)).orderBy(col("pos").asc)
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("t_max", tMax)
      .withColumn("__sel",
        min(struct(col("gh"), (-col("pos")).as("np"))).over(slide))
      .filter(col("pos") >= least(lit(w), col("n_grams")))
      .select(col(idCol), col("__sel.gh").as("gh"), (-col("__sel.np")).as("pos"),
        col("n_grams"), col("t_max"))
      .dropDuplicates(idCol, "gh", "pos")
  }

  def winnowFingerprints(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 4,
      w: Int = 4,
      seed: Int = 11): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sharing fan-out via a window over gh, NOT a groupBy+join-back — the
    // latter re-evaluates the whole explode pipeline once per branch
    // (the double-branch recomputation trap)
    val fp = winnowedFpRows(docs, textCol, idCol, k, w, seed)
      .withColumn("n_docs",
        size(collect_set(col(idCol)).over(Window.partitionBy(col("gh")))).cast("long"))
    fp.groupBy(col(idCol))
      .agg(
        max(col("n_grams")).as("n_grams"),
        max(col("t_max")).as("n_windows"),
        count(lit(1)).as("n_fingerprints"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_fp"),
        max(col("n_docs")).as("max_docs_sharing"))
  }

  /** Cross-source span-copy matrix (E214): which source PAIRS share
    * winnowed fingerprints — span-granular "who copies whom". The
    * doc-level [[dupSourceMatrix]] sees only whole near-dup documents; a
    * feed that quotes another's paragraphs inside otherwise-original
    * pages shows up HERE, because any shared w+k-1-token run forces a
    * shared fingerprint (the MOSS guarantee). Per unordered source pair:
    * distinct shared fingerprints, each side's fingerprint vocabulary,
    * and the 2²⁰ fixed-point Jaccard of the two vocabularies.
    *
    * Scale: the (source, gh) projection collapses to the winnowed
    * vocabulary (~2/(w+1) of gram mass) before any join; the pair join
    * keys on gh with per-key fan-out bounded by |sources| (a taxonomy),
    * so the join output is ≤ |sources|²-bounded per fingerprint and the
    * final aggregation is |sources|² rows. Nothing doc-scale is ever
    * pairwise.
    */
  def winnowSourceMatrix(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 4,
      w: Int = 4,
      seed: Int = 11): DataFrame = {
    // pinned: three consumers (totals + both join sides) would otherwise
    // re-run the whole winnow pipeline per branch; the distinct
    // (source, fingerprint) projection is vocabulary-scale, not corpus-scale
    val srcFp = winnowedFpRows(docs, textCol, idCol, k, w, seed)
      .join(docs.select(col(idCol), col(sourceCol).as("__src")), Seq(idCol))
      .select(col("__src"), col("gh"))
      .distinct()
      .localCheckpoint()
    val totals = srcFp.groupBy(col("__src")).agg(count(lit(1)).as("n_fp"))
    val shared = srcFp.as("a")
      .join(srcFp.as("b"),
        col("a.gh") === col("b.gh") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
    shared
      .join(totals.select(col("__src").as("src_a"), col("n_fp").as("n_fp_a")), Seq("src_a"))
      .join(totals.select(col("__src").as("src_b"), col("n_fp").as("n_fp_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared_fp"),
        col("n_fp_a"), col("n_fp_b"),
        graft.ext.ExactMath.floorDiv(col("n_shared_fp") * lit(1048576L),
          col("n_fp_a") + col("n_fp_b") - col("n_shared_fp")).as("jaccard_fp"))
  }

  /** Exact longest-shared-run report per near-dup candidate pair (E216):
    * for every document pair that shares a winnowed fingerprint, the EXACT
    * longest verbatim token run they have in common — the Lee-et-al
    * exact-substring evidence column that containment-based triage (q209)
    * only approximates. Candidates come from shared winnowed fingerprints,
    * so any pair sharing a run of ≥ w+k−1 tokens is guaranteed present
    * (the MOSS recall contract); the exact run then falls out of the
    * pair's matching positional k-grams grouped by DIAGONAL (pa − pb):
    * m consecutive matching grams on one diagonal = a shared run of
    * m+k−1 tokens. Per pair: total gram matches, run count, and the
    * longest run with both 1-based start positions (ties → longest, then
    * earliest in a, then earliest in b).
    *
    * Scale: candidate pairs key on the winnowed fingerprint vocabulary
    * (~2/(w+1) of gram mass) — never all-pairs; the match join fans each
    * pair out to its gram-hash collisions only (id-keyed join to side a,
    * then (id, gh)-keyed to side b), so cost is the pairs' matched-gram
    * mass — the quantity the report measures. The diagonal windows
    * partition by (pair, diag) over those sparse matches. The fingerprint
    * frame is pinned (two join branches would re-run the winnow pipeline
    * per branch — the double-branch recompute trap).
    */
  /** The winnow-anchored pair match set shared by [[winnowSharedRuns]] and
    * [[winnowPairCoverage]]: one (id_a, id_b, pa, pb) row per matching
    * positional k-gram of each candidate pair (candidates = pairs sharing
    * a winnowed fingerprint). The fingerprint frame is pinned — two join
    * branches would re-run the winnow pipeline per branch.
    */
  private def winnowPairMatches(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, seed: Int): DataFrame = {
    val fp = winnowedFpRows(docs, textCol, idCol, k, w, seed)
      .select(col(idCol).as("__id"), col("gh"))
      .distinct()
      .localCheckpoint()
    val pairs = fp.as("a")
      .join(fp.as("b"), col("a.gh") === col("b.gh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
      .localCheckpoint() // three consumers below (candidate ids + both joins)
    // the gram stream is consumed by BOTH pair-join branches — re-derive it
    // only for CANDIDATE docs (semi-join on the pair ids) and pin that:
    // the full-corpus tokenize/explode must not run twice, and at scale
    // the candidate set is contamination-sized, not corpus-sized
    val ids = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
      .distinct()
    // spread the candidate docs before the positional-gram explode: the
    // per-doc tokenize+hash is the heavy part and otherwise rides the
    // (single-split) scan serially in local-tiny mode (§2.5; no-op at scale)
    val grams = posGramHashes(
      Spread.byKeyCapped(
        docs.join(ids, Seq(idCol), "left_semi"), col(idCol)),
      idCol, textCol, k, seed)
      .localCheckpoint()
    pairs
      .join(grams.select(col(idCol).as("id_a"), col("pos").as("pa"), col("gh")),
        Seq("id_a"))
      .join(grams.select(col(idCol).as("id_b"), col("pos").as("pb"), col("gh")),
        Seq("id_b", "gh"))
      .select(col("id_a"), col("id_b"),
        col("pa").cast("long").as("pa"), col("pb").cast("long").as("pb"))
  }

  def winnowSharedRuns(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 4,
      w: Int = 4,
      seed: Int = 11): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = winnowPairMatches(docs, textCol, idCol, k, w, seed)
    val wd = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pa"))
    val runs = m
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("__grp", col("pa") - row_number().over(wd))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__grp"))
      .agg(count(lit(1)).as("len"), min(col("pa")).as("sa"))
      .withColumn("sb", col("sa") - col("diag"))
    val rk = Window.partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("len").desc, col("sa").asc, col("sb").asc)
    runs
      .withColumn("__rn", row_number().over(rk))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        count(lit(1)).as("n_runs"),
        sum(col("len")).as("n_gram_matches"),
        max(when(col("__rn") === 1, col("len"))).as("longest_run"),
        max(when(col("__rn") === 1, col("sa"))).as("start_a"),
        max(when(col("__rn") === 1, col("sb"))).as("start_b"))
      .select(col("id_a"), col("id_b"), col("n_runs"), col("n_gram_matches"),
        col("longest_run"),
        (col("longest_run") + lit(k.toLong - 1)).as("longest_tokens"),
        col("start_a"), col("start_b"))
  }

  /** Per-pair verbatim-coverage report (E218): not just the LONGEST shared
    * run ([[winnowSharedRuns]]) but how much of EACH document the shared
    * material covers — the duplicated-mass and containment-direction
    * evidence. Per candidate pair: each side's token count, the distinct
    * token positions covered by any matching k-gram (union of all shared
    * islands, not only the longest), the 2²⁰ fixed-point coverage
    * fraction, and a verdict: `a_in_b` when ≥ 90% of a's tokens are
    * covered (a is a quote/fragment of b), `b_in_a` for the reverse,
    * `mutual` for near-identical twins, `partial` otherwise. The 90%
    * gate compares cross-multiplied integers (cov·10 ≥ n·9) — no float
    * threshold to drift between engines.
    *
    * Scale: one pass over the candidate-scoped match set — each match row
    * explodes to its 2k covered (side, position) entries, de-dups, and
    * aggregates per pair with a conditional count (one shuffle keyed by
    * pair; never a per-side re-join of the match build). Token counts
    * attach from a map-only per-doc projection.
    */
  def winnowPairCoverage(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 4,
      w: Int = 4,
      seed: Int = 11): DataFrame = {
    val m = winnowPairMatches(docs, textCol, idCol, k, w, seed)
    val covered = m
      .select(col("id_a"), col("id_b"),
        explode(array(
          struct(lit("a").as("side"), col("pa").as("p")),
          struct(lit("b").as("side"), col("pb").as("p")))).as("sp"))
      .select(col("id_a"), col("id_b"), col("sp.side").as("side"),
        explode(sequence(col("sp.p"), col("sp.p") + lit(k.toLong - 1))).as("t"))
      .distinct()
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        count(when(col("side") === "a", 1)).as("cov_tokens_a"),
        count(when(col("side") === "b", 1)).as("cov_tokens_b"))
    val toks = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("__n"))
    val wide = covered
      .join(toks.select(col(idCol).as("id_a"), col("__n").as("n_tokens_a")),
        Seq("id_a"))
      .join(toks.select(col(idCol).as("id_b"), col("__n").as("n_tokens_b")),
        Seq("id_b"))
    val aIn = col("cov_tokens_a") * 10L >= col("n_tokens_a") * 9L
    val bIn = col("cov_tokens_b") * 10L >= col("n_tokens_b") * 9L
    wide.select(col("id_a"), col("id_b"),
      col("n_tokens_a"), col("n_tokens_b"),
      col("cov_tokens_a"), col("cov_tokens_b"),
      graft.ext.ExactMath.floorDiv(col("cov_tokens_a") * lit(1048576L),
        col("n_tokens_a")).as("cov_frac_a_fp"),
      graft.ext.ExactMath.floorDiv(col("cov_tokens_b") * lit(1048576L),
        col("n_tokens_b")).as("cov_frac_b_fp"),
      when(aIn && bIn, "mutual").when(aIn, "a_in_b").when(bIn, "b_in_a")
        .otherwise("partial").as("verdict"))
  }

  /** Keep-best dedup — the training-pipeline step AFTER near-dup
    * clustering: one canonical document per cluster (highest `quality`,
    * smallest id as the deterministic tiebreak) plus the cluster size.
    * Documents outside any cluster are singleton clusters of themselves,
    * so the output is exactly the deduplicated corpus manifest.
    *
    * `clusters` is (id, canonical_id) as produced by [[dedupClusters]] —
    * pair-set-sized, so the left join broadcasts at scale; the only
    * corpus-wide shuffle is the per-cluster window, keyed by cluster id.
    */
  def keepBest(
      docs: DataFrame,
      clusters: DataFrame,
      quality: Column,
      idCol: String = "doc_id"): DataFrame = {
    val member = docs
      .withColumn("quality", quality)
      .select(col(idCol), col("quality"))
      .join(broadcast(clusters.withColumnRenamed("id", idCol)), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col(idCol)))
    val w = Window.partitionBy("cluster_id")
    member
      .withColumn("rk",
        row_number().over(w.orderBy(col("quality").desc, col(idCol).asc)))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("rk") === 1)
      .select(
        col("cluster_id"), col(idCol).as("kept_doc_id"),
        col("n_members"), col("quality").as("kept_quality"))
  }

  /** Source-level MinHash similarity matrix: one mergeable `numHashes`-
    * component signature per SOURCE (component-wise MIN over all the
    * source's shingle hashes — minhash's union semantics, so a source's
    * signature is exactly the signature of the union of its documents'
    * shingle sets), then a tiny |sources|² comparison where the Jaccard
    * estimate is the fraction of matching components.
    *
    * This answers "how much do these two FEEDS overlap" at the corpus
    * level — the keep-or-drop call when onboarding a new crawl — without
    * touching document pairs at all, where [[dupSourceMatrix]] counts
    * verified per-document duplicate pairs.
    *
    * Scale: one explode + one min-aggregate keyed by source (map-side
    * combined, shuffle carries |sources|·numHashes longs); the pairwise
    * stage is |sources|² rows of pure column math — sources number in the
    * hundreds even for a 100 TB crawl mix.
    */
  def sourceSimilarity(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text",
      numHashes: Int = 16,
      shingleK: Int = 3): DataFrame = {
    val sh = docs
      .select(col(sourceCol).as("src"),
        explode(shingles(col(textCol), shingleK)).as("shingle"))
      .select(col("src"), pmod(stableHash(col("shingle"), 0), lit(HashP)).as("hb"))
    val mins = (0 until numHashes).map(i =>
      min(pmod(col("hb") * hashCoeffA(i) + hashCoeffB(i), lit(HashP))).as(s"mh$i"))
    val sigs = sh.groupBy(col("src")).agg(mins.head, mins.tail: _*)
    val matching = (0 until numHashes)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    sigs.as("a").join(sigs.as("b"), col("a.src") < col("b.src"))
      .select(
        col("a.src").as("source_a"),
        col("b.src").as("source_b"),
        matching.as("n_matching"),
        (matching.cast("double") / numHashes).as("jaccard_est"))
  }

  /** Near-dup pair triage (E168): for every LSH-candidate pair above a low
    * cross-multiplied Jaccard floor, the numbers a threshold review reads —
    * exact Jaccard, BOTH containment directions (short-quoted-in-long shows
    * containment ≈ 1 while Jaccard stays low), and the size ratio — all in
    * 2²⁰ fixed point. The gray-zone table between "obviously duplicate"
    * and "obviously distinct" where dedup thresholds are actually decided.
    *
    * Scale: candidates are LSH-bucket-scoped; the overlap join is the q38
    * candidate-scoped shingle equi-join; output is the pair set itself.
    */
  def pairTriage(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      tNum: Int = 3,
      tDen: Int = 10): DataFrame = {
    require(tNum >= 0 && tDen > 0, "need a non-negative threshold fraction")
    val cand = minhashCandidates(docs, textCol, idCol)
    val union = col("n_a") + col("n_b") - col("common")
    val fp = lit(1048576L)
    ngramJaccard(docs, textCol, idCol, 3, 0.0, Some(cand))
      .filter(col("common") * tDen >= lit(tNum) * union)
      .select(col("id_a"), col("id_b"),
        col("common").cast("long").as("common"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        graft.ext.ExactMath.floorDiv(col("common") * fp, union).as("jac_fp"),
        graft.ext.ExactMath.floorDiv(col("common") * fp, col("n_a")).as("contain_a_fp"),
        graft.ext.ExactMath.floorDiv(col("common") * fp, col("n_b")).as("contain_b_fp"),
        graft.ext.ExactMath.floorDiv(
          least(col("n_a"), col("n_b")) * fp, greatest(col("n_a"), col("n_b")))
          .as("len_ratio_fp"))
  }

  /** MinHash operating curve (E170): for every signature-agreement
    * threshold t ∈ [0, numHashes], the exact precision/recall of
    * "est ≥ t" against the true label "exact Jaccard ≥ tauNum/tauDen",
    * over the LSH candidate pairs — the table that picks a signature
    * threshold with evidence instead of the (est/numHashes ≈ jaccard)
    * folklore. Recall is candidate-scoped (pairs the bands never propose
    * are invisible to ANY signature threshold — band recall is the q196 /
    * fuzzy-decon concern, not this one). Exact integers throughout;
    * degenerate denominators report 0.
    *
    * Scale: the candidate frame fans out numHashes+1 rows per pair
    * (constant), aggregated to ≤ numHashes+1 output rows.
    */
  def minhashOperatingCurve(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      tauNum: Int = 1,
      tauDen: Int = 2): DataFrame = {
    val fp = lit(1048576L)
    val labeled = pairsWithEst(docs, textCol, idCol, numHashes, rowsPerBand)
      .withColumn("is_dup",
        col("common") * tauDen >= lit(tauNum) * (col("n_a") + col("n_b") - col("common")))
    labeled
      .select(col("est_matches"), col("is_dup"),
        explode(sequence(lit(0), lit(numHashes))).as("t"))
      .groupBy("t")
      .agg(
        sum(when(col("is_dup") && col("est_matches") >= col("t"), 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(!col("is_dup") && col("est_matches") >= col("t"), 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(col("is_dup") && col("est_matches") < col("t"), 1L).otherwise(0L))
          .cast("long").as("fn"))
      .select(col("t").cast("long").as("t"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0L,
          graft.ext.ExactMath.floorDiv(col("tp") * fp, col("tp") + col("fp")))
          .otherwise(0L).cast("long").as("precision_fp"),
        when(col("tp") + col("fn") > 0L,
          graft.ext.ExactMath.floorDiv(col("tp") * fp, col("tp") + col("fn")))
          .otherwise(0L).cast("long").as("recall_fp"))
  }

  /** Cluster-size profile (E160): the near-dup cluster size distribution —
    * (cluster_size, n_clusters, n_docs) rows including the size-1 mass of
    * documents the dup graph never touched. The shape says which dedup
    * strategy pays: a heavy tail of giant clusters (template spam) wants
    * keep-best + provenance; a flat sea of pairs wants threshold review.
    *
    * Scale: clusters are graph-sized (LSH-scoped), the profile is two
    * hash aggregations over them; the corpus contributes one count.
    */
  def clusterSizeProfile(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = nearDuplicates(docs, textCol, idCol, minJaccard).select("id_a", "id_b")
    val cl = dedupClusters(pairs)
    val sizes = cl.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
    val profile = sizes.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    val totals = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(cl.agg(count(lit(1)).as("n_in_graph")))
    val singletons = totals.select(
      lit(1L).as("sz"), (col("n_total") - col("n_in_graph")).as("n_clusters"))
    profile.unionByName(singletons)
      .groupBy("sz")
      .agg(sum(col("n_clusters")).cast("long").as("n_clusters"))
      .select(col("sz").cast("long").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).cast("long").as("n_docs"))
      .filter(col("n_clusters") > 0)
  }

  /** Corpus redundancy mass (E161): how much of the corpus' shingle
    * occurrence mass belongs to shingles seen in MORE than one document —
    * the one-number "how much repeated text am I carrying" metric
    * (cross-doc boilerplate, quotes, templates), plus the excess mass
    * Σ(df−1) that exact shingle-level dedup would remove. Exact integers
    * over the deduped-per-doc shingle space (the near-dup element space).
    *
    * Scale: one shingle df aggregation (map-side combined — the q38 scan),
    * one 1-row reduce over the df histogram.
    */
  def redundancyMass(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(shingles(col(textCol), 3)).as("shingle"))
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    df.agg(
        sum(col("df")).cast("long").as("n_occurrences"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(when(col("df") > 1L, col("df")).otherwise(0L)).cast("long")
          .as("repeated_occurrences"),
        sum(col("df") - 1L).cast("long").as("excess_occurrences"))
      .select(
        col("n_occurrences"), col("n_distinct"),
        col("repeated_occurrences"), col("excess_occurrences"),
        graft.ext.ExactMath.floorDiv(
          col("repeated_occurrences") * lit(1048576L), col("n_occurrences"))
          .as("redundancy_fp"),
        graft.ext.ExactMath.floorDiv(
          col("excess_occurrences") * lit(1048576L), col("n_occurrences"))
          .as("excess_fp"))
  }

  /** SimHash bit-bias audit (E162): per-bit set fraction across the corpus'
    * signatures. A healthy hash sits near 1/2 everywhere; a biased bit
    * (share far from 2¹⁹) weakens Hamming distances and the banded join's
    * selectivity — the sketch-health twin of [[minhashCalibration]].
    *
    * Scale: one signature pass (map-side), a 60-row explode + aggregation.
    */
  def simhashBitBias(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sigs = simhash(docs, textCol, idCol)
    val n = sigs.agg(count(lit(1)).as("n_docs"))
    sigs
      .select(col("simhash"), explode(sequence(lit(0), lit(59))).as("bit"))
      .groupBy("bit")
      .agg(sum(expr("shiftright(simhash, bit) & 1")).cast("long").as("n_set"))
      .crossJoin(broadcast(n))
      .select(col("bit").cast("long").as("bit"), col("n_set"),
        col("n_docs").cast("long").as("n_docs"),
        graft.ext.ExactMath.floorDiv(col("n_set") * lit(1048576L), col("n_docs"))
          .as("share_fp"))
  }

  /** MinHash estimator calibration (E155): over the LSH candidate pairs,
    * bucket by the number of agreeing signature components (the sketch's
    * Jaccard estimate, est/numHashes) and report the EXACT Jaccard
    * distribution inside each bucket — the "is my sketch telling the
    * truth on MY corpus" audit. A well-behaved MinHash shows mean exact
    * Jaccard ≈ est/numHashes per bucket; shingle-length pathologies (tiny
    * docs, boilerplate-dominated shingle sets) show up as buckets whose
    * exact mean drifts from the estimate — the evidence for resizing
    * signatures before trusting LSH at 100 TB.
    *
    * Scale: candidates are LSH-bucket-scoped (never O(n²)); signatures
    * join back on id (numHashes small ints per row); the final aggregate
    * is ≤ numHashes+1 rows.
    */
  /** Candidate pairs with exact overlap AND signature-agreement count —
    * the shared frame behind [[minhashCalibration]] and
    * [[minhashOperatingCurve]].
    */
  private def pairsWithEst(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val cand = minhashCandidates(docs, textCol, idCol, numHashes, rowsPerBand)
    val exact = ngramJaccard(docs, textCol, idCol, 3, 0.0, Some(cand))
    val sigs = minhashSignatures(docs, textCol, idCol, numHashes)
    val sa = sigs.select(
      col(idCol).as("id_a") +: (0 until numHashes).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sb = sigs.select(
      col(idCol).as("id_b") +: (0 until numHashes).map(i => col(s"mh$i").as(s"b$i")): _*)
    val est = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    exact.join(sa, "id_a").join(sb, "id_b").withColumn("est_matches", est)
  }

  def minhashCalibration(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    pairsWithEst(docs, textCol, idCol, numHashes, rowsPerBand)
      .withColumn("jac_fp",
        graft.ext.ExactMath.floorDiv(col("common") * lit(1048576L),
          col("n_a") + col("n_b") - col("common")))
      .groupBy("est_matches")
      .agg(
        count(lit(1)).as("n_pairs"),
        graft.ext.ExactMath.floorDiv(sum(col("jac_fp")), count(lit(1)))
          .as("mean_jac_fp"),
        min(col("jac_fp")).cast("long").as("min_jac_fp"),
        max(col("jac_fp")).cast("long").as("max_jac_fp"))
  }

  /** Dedup yield curve (E150): how the duplicate-pair count grows with
    * corpus size. Documents gate into nested hash subsamples (doc ∈ sample
    * p ⟺ stableHash(id) mod 100 < p — the p=25 sample is a subset of
    * p=50, etc.), and each fraction counts the pairs whose BOTH endpoints
    * survive, plus the documents those pairs touch. Duplication grows
    * superlinearly in corpus size (crawl echo chambers collide more as
    * coverage widens); this curve measures that exponent on YOUR corpus —
    * the capacity-planning input for "what does dedup cost at 4× the
    * data", computed from one pair set, no re-clustering per fraction.
    *
    * Scale: input is the candidate-scoped exact pair set; each pair fans
    * out to ≤ |fractions| rows (a constant); aggregations are keyed by
    * fraction (≤ |fractions| result rows).
    */
  def dedupYieldCurve(
      pairs: DataFrame,
      fractions: Seq[Int] = Seq(25, 50, 75, 100),
      seed: Int = 7): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(p => p > 0 && p <= 100),
      "fractions must be percentages in (0, 100]")
    val gated = pairs.select(
        col("id_a"), col("id_b"),
        pmod(stableHash(col("id_a"), seed), lit(100L)).as("ha"),
        pmod(stableHash(col("id_b"), seed), lit(100L)).as("hb"))
      .select(explode(typedlit(fractions.map(_.toLong))).as("pct"),
        col("id_a"), col("id_b"), col("ha"), col("hb"))
      .filter(col("ha") < col("pct") && col("hb") < col("pct"))
    // ONE aggregation serves both outputs: each pair explodes to its two
    // endpoint rows, so n_pairs = rows/2 (exact — always even) and
    // n_dup_docs = distinct ids, in a single pass. Two separate groupBy
    // branches would recompute the ENTIRE upstream pair join twice —
    // measured as the bulk of q190's cost when the input is a live
    // setSimJoin plan.
    val counts = gated
      .select(col("pct"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("pct")
      .agg(shiftright(count(lit(1)), 1).as("n_pairs"),
        countDistinct(col("id")).as("n_dup_docs"))
    // Drive from the requested fractions list, not the surviving pairs: a
    // fraction whose subsample keeps zero pairs must still report
    // (pct, 0, 0) — a silently missing curve point reads as "not measured"
    // where the truth is "measured, no duplicates yet".
    val spark = pairs.sparkSession
    import spark.implicits._
    fractions.map(_.toLong).toDF("pct")
      .join(counts, Seq("pct"), "left")
      .select(col("pct").cast("long").as("pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
  }

  /** Sampled yield-curve estimator: the capacity-planning curve of
    * [[dedupYieldCurve]] WITHOUT materializing the full exact pair set.
    * The document corpus is gated FIRST to the largest requested fraction
    * (stableHash(id) mod 100 < max — the same nested gate family the exact
    * curve uses, same seed), the exact Jaccard join runs over that
    * subsample only, and the per-fraction curve is read off the subsample's
    * pair set. Because the gates nest and a pair survives fraction p iff
    * BOTH endpoints hash below p, every reported point is IDENTICAL to the
    * exact curve's point at that fraction — this is not an approximation
    * of the curve, it is the exact curve evaluated only at small fractions
    * (deterministic, hash-exact in any engine). The growth exponent is fit
    * from the small-fraction points; the full-τ pair set (near-quadratic
    * in duplicate density) never exists.
    *
    * Cost: the pair join's candidate mass scales ~(max/100)² of the full
    * corpus join — the default 20% ceiling is ~4% of q190's work. Use the
    * exact [[dedupYieldCurve]] as the audit oracle; use this for planning
    * sweeps at scale.
    */
  def dedupYieldCurveSampled(
      docs: DataFrame,
      fractions: Seq[Int] = Seq(5, 10, 15, 20),
      textCol: String = "text",
      idCol: String = "doc_id",
      tNum: Int = 1,
      tDen: Int = 2,
      shingleK: Int = 3,
      seed: Int = 7): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(p => p > 0 && p <= 100),
      "fractions must be percentages in (0, 100]")
    val sub = docs.filter(
      pmod(stableHash(col(idCol), seed), lit(100L)) < fractions.max)
    val pairs = FuzzyJoin
      .setSimJoin(sub, textCol, idCol, tNum, tDen, shingleK)
      .select("id_a", "id_b")
    dedupYieldCurve(pairs, fractions, seed)
  }

  /** Boundary-overlap chaining (E191): documents whose LAST k words equal
    * another document's FIRST k words — the crawl-pagination / chunk-split
    * signature (one logical page stored as consecutive docs). Near-dup
    * passes can't see these: consecutive fragments share only the
    * boundary, so their Jaccard is tiny. Emits one row per directed
    * continuation edge with the shared boundary text; feed the edges to
    * [[dedupClusters]] to group fragments into logical documents.
    *
    * Scale: one scan builds (head, tail) keys per doc; the edge join
    * shuffles on the boundary STRING (exact, no hash-collision risk), key
    * cardinality ~ corpus size. Short docs (≤ k words) use their whole
    * text as both boundaries.
    */
  def boundaryChains(
      docs: DataFrame,
      k: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be positive")
    val toks = split(lower(col(textCol)), " ")
    val keys = docs.select(
      col(idCol).as("id"),
      array_join(slice(toks, 1, k), " ").as("head"),
      array_join(
        when(size(toks) <= k, toks).otherwise(slice(toks, -k, k)), " ").as("tail"))
    keys.select(col("id").as("prev_id"), col("tail").as("boundary"))
      .join(keys.select(col("id").as("next_id"), col("head").as("boundary")),
        Seq("boundary"))
      .filter(col("prev_id") =!= col("next_id"))
      .select(col("prev_id"), col("next_id"), col("boundary"))
  }

  /** Per-group dedup-rate audit (E148): how much of each group (source
    * feed, language, label…) near-dup deduplication removes. Docs outside
    * the dup graph keep themselves; inside a cluster the min-id canonical
    * survives. A group losing far more than the corpus mean is either a
    * crawler echo chamber or collateral damage from an over-aggressive
    * threshold — either way, the fairness gate a release runs before
    * shipping "deduplicated" training data.
    *
    * Scale: the pair set is LSH-candidate-scoped, clusters are the
    * pointer-jumping CC (cluster-graph-sized, not corpus-sized); the
    * corpus itself is touched by one left join on id and one per-group
    * aggregation.
    */
  def dedupRateBy(
      docs: DataFrame,
      groupCol: String,
      minJaccard: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pairs = nearDuplicates(docs, textCol, idCol, minJaccard)
      .select("id_a", "id_b")
    val cl = dedupClusters(pairs).withColumnRenamed("id", idCol)
    docs.select(col(idCol), col(groupCol).as("grp"))
      .join(cl, Seq(idCol), "left")
      .withColumn("removed",
        col("canonical_id").isNotNull && col("canonical_id") =!= col(idCol))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L)).cast("long").as("n_removed"))
      .withColumn("removed_fp",
        graft.ext.ExactMath.floorDiv(col("n_removed") * lit(1048576L), col("n_docs")))
  }
}
