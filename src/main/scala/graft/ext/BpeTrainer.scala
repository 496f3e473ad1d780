package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer TRAINING on a corpus (Sennrich et al., "Neural machine
  * translation of rare words with subword units", ACL 2016, public): start
  * from characters, repeatedly merge the most frequent adjacent symbol
  * pair. [[TextAnalysis.bpeMergePairs]] counts ONE iteration; this runs
  * the driver loop and emits the learned merge table — the artifact a
  * tokenizer ships.
  *
  * Classic trick that makes this corpus-scale: iterations run over the
  * WORD-FREQUENCY table (word, count) — the corpus is scanned once; every
  * merge pass touches only distinct words (vocab-scale). Each iteration is
  * one pair-count aggregate + a distributed top-1 (TakeOrdered) + a
  * map-side merge rewrite; `localCheckpoint` truncates the growing lineage
  * (the connected-components discipline).
  *
  * Merge rewriting is leftmost-non-overlapping via the doubled-separator
  * canonical form: every symbol owns one space on each side
  * (`"  h  e  y  "`), the pair pattern `" a  b "` consumes exactly the
  * owned spaces, and the replacement `" ab "` restores the invariant — so
  * plain all-occurrence `replace` implements BPE's merge semantics with no
  * regex (engine-portable by construction; BpeTrainerSpec pins a
  * hand-computed corpus, and the q124 oracle replays every iteration in
  * DuckDB with scalar-subquery replaces).
  */
object BpeTrainer {

  private def rep(c: Column, find: Column, repl: Column): Column =
    call_function("replace", c, find, repl)

  /** Learned merges as (iteration, pair, pair_count), most frequent pair
    * per iteration, ties broken by pair string ascending.
    */
  def train(
      docs: DataFrame, textCol: String = "text", merges: Int = 4): DataFrame = {
    require(merges >= 1, "merges must be >= 1")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("wf"))
    // canonical doubled form: '  h  e  y  '
    var vocab = words
      .select(concat(lit("  "), array_join(split(col("word"), ""), "  "), lit("  ")).as("sp"),
        col("wf"))
      .localCheckpoint(true)
    val learned = collection.mutable.ArrayBuffer[(Int, String, Long)]()
    var it = 1
    while (it <= merges) {
      val single = trim(rep(vocab("sp"), lit("  "), lit(" ")))
      val top = vocab
        .select(explode(
          graft.functions.TextNativeFunctions.ngrams(single, 2)).as("pair"),
          col("wf"))
        .groupBy(col("pair")).agg(sum(col("wf")).cast("long").as("c"))
        .orderBy(col("c").desc, col("pair").asc).limit(1)
        .collect()
      if (top.isEmpty) { it = merges + 1 }
      else {
        val pair = top.head.getString(0)
        learned += ((it, pair, top.head.getLong(1)))
        val pattern = " " + pair.replace(" ", "  ") + " "
        val replacement = " " + pair.replace(" ", "") + " "
        vocab = vocab
          .select(rep(col("sp"), lit(pattern), lit(replacement)).as("sp"), col("wf"))
          .localCheckpoint(true)
        it += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("iteration", "pair", "pair_count")
  }

  /** Apply a learned merge sequence (in training order) and count BPE
    * tokens per document — the inference side of [[train]]. All `merges`
    * replaces compose into ONE map-side projection (no joins, no loop
    * actions); merges never cross word boundaries because each word is
    * rewritten in its own canonical doubled form.
    */
  def tokenCounts(
      docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[String]): DataFrame = {
    val spaced = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col(idCol),
        concat(lit("  "), array_join(split(col("word"), ""), "  "), lit("  ")).as("sp"))
    val applied = merges.foldLeft(spaced) { (df, pair) =>
      df.withColumn("sp", rep(col("sp"),
        lit(" " + pair.replace(" ", "  ") + " "),
        lit(" " + pair.replace(" ", "") + " ")))
    }
    applied
      .select(col(idCol),
        size(split(trim(rep(col("sp"), lit("  "), lit(" "))), " ")).cast("long").as("wtoks"))
      .groupBy(col(idCol))
      .agg(sum(col("wtoks")).cast("long").as("n_bpe_tokens"),
        count(lit(1)).as("n_words"))
  }
}
