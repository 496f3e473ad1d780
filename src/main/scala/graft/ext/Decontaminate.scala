package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag training documents
  * that share word n-grams with a held-out benchmark/eval set — the standard
  * leakage check run before training (n-gram overlap against eval suites).
  *
  * Scale design: the benchmark side is distinct-hashed and BROADCAST — eval
  * suites are tiny (thousands of documents) next to a 100 TB corpus, so the
  * candidate side streams map-side through a broadcast hash join with no
  * shuffle of the corpus at all. Per-document gram arrays come from the
  * native `WordShingles` kernel and each gram is hashed by the codegen'd
  * `StableHash` (no UDFs, no lambdas); only (doc_id, gram_hash) longs ever
  * leave the scan, never text. If the benchmark outgrows broadcast,
  * drop `broadcast()` and the same plan degrades to a hash-partitioned
  * semi-join keyed by gram hash (unbounded key cardinality).
  */
object Decontaminate {

  /** Per-doc (id, gram_hash) rows: the native shingle array (the kernel
    * q230 and the minhash path share) EXPLODES first and the md5-prefix
    * hash runs per ROW (codegen) — hashing inside a `transform` lambda pays
    * interpreted per-ELEMENT dispatch, measured multiples slower on
    * corpus-scale gram streams. `explode_outer` + a
    * null-guarded hash keep a gram-less document (null text) PRESENT with
    * gh = null, so the per-doc report never silently drops it (count(gh)
    * sees zero grams; a null gh matches nothing in the benchmark join).
    */
  private def gramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, seed: Int): DataFrame =
    df.select(col(idCol), explode_outer(Dedup.shingles(col(textCol), n)).as("__g"))
      .select(col(idCol),
        when(col("__g").isNotNull, Dedup.stableHash(col("__g"), seed))
          .as("gh"))

  /** One row per candidate document: n_grams (distinct), n_contaminated
    * (grams also present anywhere in the benchmark), contamination ratio,
    * and a keep/drop flag at `threshold`.
    *
    * One gram pass over the corpus: every (doc, gram) row takes the
    * broadcast LEFT join against the benchmark gram set, and n_grams /
    * n_contaminated fall out of the same aggregation (count vs count of
    * the hit marker) — no second scan, no per-doc re-join.
    */
  def contamination(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.2,
      seed: Int = 7): DataFrame = {
    val bench = gramRows(benchmark, idCol, textCol, n, seed)
      .select(col("gh")).distinct()
      .withColumn("__hit", lit(1))
    // the corpus gram pass (shingle + explode + hash per doc) is the
    // dominant cost and rides the scan's few local splits — spread the
    // pruned candidate rows first (structural no-op at scale)
    val spreadCand = Spread.byKeyPinned(
      candidates.select(col(idCol), col(textCol)), col(idCol))
    val perDoc = gramRows(spreadCand, idCol, textCol, n, seed)
      .join(broadcast(bench), Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gh")).as("n_grams"), // null gh = gram-less doc kept at 0
        count(col("__hit")).as("n_contaminated"))
    val ratio = when(col("n_grams") === 0, lit(0.0))
      .otherwise(col("n_contaminated").cast("double") / col("n_grams").cast("double"))
    perDoc.select(col(idCol), col("n_grams"), col("n_contaminated"),
      ratio.as("contamination"),
      (ratio >= threshold).as("contaminated"))
  }

  /** Contamination scorecard (E167): [[contamination]]'s exact-gram ratio
    * and [[fuzzyContamination]]'s near-dup matches folded into one verdict
    * per corpus document — `exact` (gram ratio over threshold), `fuzzy`
    * (a benchmark near-dup exists but grams stayed under threshold — the
    * paraphrased-leak case), or `clean`. The one table an eval-integrity
    * review signs off on.
    *
    * Scale: both inputs broadcast the benchmark side; the fold is one
    * id-keyed left join over per-doc rows.
    */
  def scorecard(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      threshold: Double = 0.2,
      minJaccard: Double = 0.4): DataFrame = {
    val exact = contamination(corpus, benchmark, idCol, textCol, n, threshold)
    val fuzzy = fuzzyContamination(corpus, benchmark, textCol = textCol,
        idCol = idCol, minJaccard = minJaccard)
      .groupBy(col("corpus_id").as(idCol))
      .agg(count(lit(1)).as("n_fuzzy"))
    exact.join(fuzzy, Seq(idCol), "left")
      .withColumn("n_fuzzy", coalesce(col("n_fuzzy"), lit(0L)))
      .select(col(idCol), col("n_grams"), col("n_contaminated"), col("n_fuzzy"),
        when(col("contaminated"), "exact")
          .when(col("n_fuzzy") > 0L, "fuzzy")
          .otherwise("clean").as("verdict"))
  }

  /** Contaminated-span report (E207): not just HOW MANY benchmark grams a
    * training document shares ([[contamination]]'s ratio) but whether they
    * form one long verbatim run — the signature of a pasted eval item — or
    * scattered coincidental n-grams. Positions whose gram hits the
    * benchmark set are grouped into maximal consecutive islands
    * (pos − row_number is constant within a run); per contaminated doc:
    * total grams, hit grams, island count, and the longest run with its
    * 1-based start position (ties → earliest).
    *
    * Only documents with ≥ 1 hit are emitted — at corpus scale the report
    * is sized by contamination, not by the corpus.
    *
    * Scale: benchmark gram hashes BROADCAST (eval suites are tiny); the
    * corpus explodes POSITIONAL grams once and filters map-side, so the
    * only shuffled rows are the hit positions (contamination-sized). The
    * island window partitions by doc over those sparse hits. Total gram
    * counts come from a separate map-only `size(ngrams)` scan — no second
    * explode — joined only to the contaminated docs.
    */
  def contaminatedSpans(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      seed: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bench = gramRows(benchmark, idCol, textCol, n, seed)
      .select(col("gh")).distinct().withColumn("__hit", lit(1))
    val hits = Dedup.posGramHashes(candidates, idCol, textCol, n, seed)
      .join(broadcast(bench), Seq("gh"))
      .select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val runs = hits
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("len"), min(col("pos")).as("start"))
    val rk = Window.partitionBy(col(idCol))
      .orderBy(col("len").desc, col("start").asc)
    val perDoc = runs
      .withColumn("__rn", row_number().over(rk))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("len")).as("n_hit"),
        max(when(col("__rn") === 1, col("len"))).as("longest_run"),
        max(when(col("__rn") === 1, col("start"))).as("longest_start"))
    val totals = candidates.select(col(idCol),
      size(graft.functions.TextNativeFunctions.ngrams(col(textCol), n))
        .cast("long").as("n_grams"))
    totals.join(perDoc, Seq(idCol))
      .select(col(idCol), col("n_grams"), col("n_hit"), col("n_islands"),
        col("longest_run"), (col("longest_run") + lit(n.toLong - 1)).as("longest_tokens"),
        col("longest_start"))
  }

  /** Contamination masking rewrite (E215) — ACT on [[contaminatedSpans]]:
    * every token covered by a benchmark-matching n-gram is replaced with
    * `mask`, and the rewritten document is reported as an md5 manifest
    * row (token counts + digest) — the surgical alternative to dropping
    * a whole document over one quoted eval item. Tokens are masked
    * one-for-one, so document length and alignment are preserved.
    *
    * Scale: benchmark grams BROADCAST; the hit positions (contamination
    * -sized) fan out ×n into covered token positions; the rewrite is one
    * token explode + per-doc ordered reassembly (the q155 segmentRewrite
    * discipline: array_sort(collect_list(struct)) — per-doc bounded,
    * never a global sort).
    */
  def maskContaminatedSpans(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      seed: Int = 7,
      mask: String = "<masked>"): DataFrame = {
    val bench = gramRows(benchmark, idCol, textCol, n, seed)
      .select(col("gh")).distinct().withColumn("__hit", lit(1))
    val covered = Dedup.posGramHashes(candidates, idCol, textCol, n, seed)
      .join(broadcast(bench), Seq("gh"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + lit(n - 1)))
        .as("t"))
      .distinct()
      .withColumn("__m", lit(1))
    candidates
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).as("t"), col("tok"))
      .join(covered, Seq(idCol, "t"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__m") === 1, 1L).otherwise(0L)).as("n_masked"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("t"),
              when(col("__m") === 1, mask).otherwise(col("tok")).as("tok2")))),
            x => x.getField("tok2")),
          " ")).as("masked_md5"))
  }

  /** Fuzzy decontamination: near-duplicate matches between corpus and
    * benchmark, not just shared n-grams — catches lightly-paraphrased or
    * truncated eval leakage that [[contamination]]'s exact-gram ratio
    * underestimates. MinHash-LSH blocking (Dedup's 16-hash/4-band layout)
    * proposes corpus×benchmark bucket collisions; an exact shingle-Jaccard
    * verify scoped to those candidates keeps pairs ≥ `minJaccard`.
    *
    * Scale: the corpus side is never self-joined — candidates come from an
    * equi-join of corpus buckets against the BROADCAST benchmark buckets
    * (eval suites are tiny next to a 100 TB corpus), and the verify joins
    * shingle arrays only for candidate pairs. One corpus scan for
    * signatures, one for verify arrays; no all-pairs anywhere.
    */
  def fuzzyContamination(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      shingleK: Int = 3): DataFrame = {
    def buckets(df: DataFrame, as: String) = Dedup
      .lshBuckets(
        Dedup.minhashSignatures(df, textCol, idCol, numHashes, shingleK),
        idCol, numHashes, rowsPerBand)
      .select(col("band_idx"), col("band_hash"), col(idCol).as(as))
    def shingleArrays(df: DataFrame, as: String, sh: String) = df.select(
      col(idCol).as(as),
      Dedup.shingles(col(textCol), shingleK).as(sh))

    val pairs = buckets(candidates, "corpus_id")
      .join(broadcast(buckets(benchmark, "bench_id")), Seq("band_idx", "band_hash"))
      .select("corpus_id", "bench_id")
      .distinct()
    pairs
      .join(shingleArrays(candidates, "corpus_id", "sh_a"), Seq("corpus_id"))
      .join(broadcast(shingleArrays(benchmark, "bench_id", "sh_b")), Seq("bench_id"))
      .select(
        col("corpus_id"), col("bench_id"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select("corpus_id", "bench_id", "common", "n_a", "n_b", "jaccard")
  }
}
