package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Byte-pair-encoding tokenizer TRAINING as a Spark pass — the biggest
  * missing LLM-pipeline primitive after the round-8 additions: every
  * pretraining corpus ships with a tokenizer trained ON it (Sennrich'16;
  * the GPT-2 tokenizer's training shape). The reference engine has no
  * text operators at all (`/root/reference/include/warpdb.hpp` —
  * scan/filter/agg only); this is extension surface.
  *
  * Scale design — the whole trick is WHERE the loop runs:
  *  - ONE corpus-sized shuffle total: the initial word-count aggregate
  *    (map-side combined; the shuffle carries one row per distinct word
  *    per partition). Everything after operates on the WORD VOCABULARY,
  *    which is Zipf-bounded (~10⁶–10⁷ rows at 100 TB, with counts), not
  *    corpus-sized.
  *  - Each merge iteration is one slim pair-count aggregate over the
  *    vocabulary (explode adjacent pairs, sum word counts — map-side
  *    combined) + a driver-side argmax of ONE row, then one in-row fold
  *    rewriting the symbol arrays. Bounded driver loop, the
  *    [[Dedup.connectedComponents]] discipline: numMerges iterations,
  *    each materialized via the cache scope so lineage never stacks.
  *  - Encoding never folds the corpus: the merge chain is applied to the
  *    DISTINCT vocabulary once, and a (word → token count) dictionary
  *    joins back — corpus text is scanned, split, and aggregated, never
  *    re-derived per merge.
  *
  * Determinism: the best pair per round is (max summed count, then
  * lexicographic left, then right) — binary string order, identical in
  * Spark and the DuckDB oracle, so training is reproducible and the
  * t26/t27 gates pin it end-to-end against unrolled SQL.
  *
  * The merge fold represents a symbol sequence as a U+001F-joined
  * string: merging adjacent (l, r) and "omit the boundary between them"
  * are the same operation because the merged symbol IS l+r. Words
  * containing the separator are excluded up front (none exist in text
  * corpora; the guard keeps the representation sound on hostile input).
  */
object Bpe {

  private val Sep = "\u001f" // unit separator

  /** (w, cnt) word counts — the ONE corpus-sized shuffle. */
  private def wordCounts(corpus: DataFrame, textCol: String): DataFrame =
    spread(corpus.select(col(textCol).cast("string").as("__t")))
      .select(explode(split(trim(col("__t")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains(Sep))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Adjacent (l, r) symbol pairs; empty for 1-symbol words. The
    * `size >= 2` guard matters: `sequence(1, 0)` would DESCEND. */
  // retained as the REFERENCE implementations — TextKernelsSpec pins the
  // codegen'd bpePairs/bpeMergeChain kernels against them value-for-value
  private[graft] def pairsOf(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        j => struct(element_at(syms, j).as("l"),
          element_at(syms, j + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** One merge applied leftmost-first, as an in-row fold: accumulate a
    * Sep-joined string, omitting the separator exactly where the
    * accumulator ends in `l` and the next symbol is `r`. Leftmost-first
    * falls out of the fold order (a freshly merged `l+r` no longer
    * EQUALS `l`, so overlapping occurrences like "aaa" under (a,a)
    * merge to ["aa","a"], the standard BPE convention). */
  private[graft] def applyMerge(syms: Column, l: String,
                                    r: String): Column =
    split(
      aggregate(
        slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
        element_at(syms, 1),
        (acc, x) =>
          when(element_at(split(acc, Sep), -1) === lit(l) &&
              (x === lit(r)),
            concat(acc, x))
          .otherwise(concat(acc, lit(Sep), x))),
      Sep)

  /** Train `numMerges` BPE merges over whitespace words of `textCol`.
    * Returns the merge table (rank, left, right, pair_count) — rank is
    * application order; pair_count the summed corpus frequency the pair
    * had when chosen. Stops early if the vocabulary runs out of pairs
    * (every word fully merged). */
  def train(corpus: DataFrame, textCol: String, numMerges: Int)
           (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    var vocab = scope.cache(wordCounts(corpus, textCol)
      .select(split(col("w"), "").as("syms"), col("cnt")))
    // The previous round's cache is unpersisted only after the CURRENT
    // round's argmax has materialized the current cache — so each round
    // runs ONE action (the argmax collect, which fills the cache as a
    // side effect) instead of the old argmax + eager count() pair, and
    // the rewrite lineage still never re-folds more than one level (a
    // recompute would read the parent's cached blocks, not re-scan the
    // corpus).
    var prev: Option[DataFrame] = None
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // slim map-side-combined agg over the vocabulary; argmax is ONE row
      val best = vocab
        .select(explode(graft.functions.TextKernels.bpePairs(col("syms")))
          .as("pr"), col("cnt"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      prev.foreach(_.unpersist())
      prev = None
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, c))
        if (rank < numMerges) {
          val next = scope.cache(
            vocab.select(graft.functions.TextKernels
              .bpeMergeChain(col("syms"), Seq((l, r))).as("syms"),
              col("cnt")))
          prev = Some(vocab)
          vocab = next
        }
        rank += 1
      }
    }
    prev.foreach(_.unpersist())
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  private val Layout = "bpe_v1"

  /** Persist a trained merge table — a tokenizer is a FROZEN artifact:
    * trained once on a representative corpus, then applied to every
    * later batch and stream (retraining mid-corpus would silently change
    * token counts and packing downstream). Layout-tagged params like
    * every other persisted family. */
  def saveMerges(merges: DataFrame, path: String): Unit = {
    Store.create(path, "merges",
        Seq("layout" -> Layout, "num_merges" -> merges.count())) {
      merges.coalesce(1).write.mode("overwrite").parquet(_)
    }
  }

  /** Load persisted merges in rank order. Driver-side by design: the
    * merge list IS the model (10³–10⁵ rows for real tokenizers — the
    * same bounded-materialization contract as the NB/DSIR model loads),
    * and [[encodeTokenCounts]] embeds it into the fold expression. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[(String, String)] = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"index at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    Store.read(spark, path, "merges")
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
      .toSeq
  }

  /** [[encodeTokenCounts]] against a persisted tokenizer. */
  def encodeTokenCountsFromIndex(corpus: DataFrame, textCol: String,
                                 idCol: String, path: String): DataFrame =
    encodeTokenCounts(corpus, textCol, idCol,
      loadMerges(corpus.sparkSession, path))

  /** Result of [[mergeDrift]]: how far a new corpus slice's merge table
    * diverges from the frozen tokenizer. `agreementPrefix` = merges that
    * match rank-for-rank from rank 1 (order matters — a rank-k flip
    * changes every later merge's input); `agreementSet` = stored merges
    * that appear ANYWHERE in the retrain (order-insensitive overlap);
    * both as fractions of the stored table. ~1.0 = same distribution;
    * a short prefix with high set overlap = frequency reordering; low
    * set overlap = vocabulary shift, retrain before the token counts
    * and packing boundaries silently change meaning. */
  final case class MergeDriftReport(stored: Int, prefix: Int,
                                    agreementPrefix: Double,
                                    agreementSet: Double)

  /** Drift check for a persisted tokenizer — the [[Similarity
    * .ivfDriftCheck]] shape for the BPE family: retrain the SAME number
    * of merges on a new corpus slice against the frozen artifact and
    * report prefix/set agreement. Retraining cost is the slice's word
    * count aggregate + numMerges bounded rounds — a monitoring job, not
    * a corpus pass over history. */
  def mergeDrift(batch: DataFrame, textCol: String, path: String)
                (implicit scope: CacheScope = CacheScope.global): MergeDriftReport = {
    val stored = loadMerges(batch.sparkSession, path)
    require(stored.nonEmpty, s"tokenizer at $path has no merges")
    val fresh = train(batch, textCol, stored.size)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val prefix = stored.zip(fresh).takeWhile { case (a, b) => a == b }.size
    val overlap = stored.toSet.intersect(fresh.toSet).size
    MergeDriftReport(stored.size, prefix,
      prefix.toDouble / stored.size, overlap.toDouble / stored.size)
  }

  /** Per-document token counts under a trained merge list: the merge
    * chain folds over the DISTINCT word vocabulary only; a (word →
    * token count) dictionary joins back to the exploded corpus words and
    * one aggregate re-groups per document. Merges must be passed in
    * RANK order (the order [[train]] returns). Documents with no words
    * produce no row — mirrored by the gate oracle's inner join. */
  def encodeTokenCounts(corpus: DataFrame, textCol: String, idCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val words = spread(corpus.select(col(idCol).as("__did"),
        col(textCol).cast("string").as("__t")))
      .select(col("__did"), explode(split(trim(col("__t")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains(Sep))
    val dict = wordDict(words, merges)
      .select(col("w"), size(col("__syms")).as("__n"))
    // dict is Zipf-bounded — broadcast when it fits, else this is a plain
    // equi-join on the word key; either way corpus text never re-folds
    words.join(dict, "w")
      .groupBy(col("__did").as(idCol))
      .agg(sum(col("__n")).as("n_bpe_tokens"))
  }

  /** (w, __syms) dictionary over the DISTINCT words of `words`: the
    * merge chain applied as one PROJECTION PER MERGE, never one nested
    * expression. [[applyMerge]] references its input three times, so
    * folding N merges into a single expression grows the tree ~3^N
    * (measured: 26 s of pure analysis/codegen at N=8 on a 31-word
    * dict); as separate aliased projections each level references the
    * previous by NAME, and CollapseProject's duplicate-reference guard
    * keeps them separate. */
  private def wordDict(words: DataFrame,
                       merges: Seq[(String, String)]): DataFrame =
    // round-16: the whole merge chain applies in ONE codegen'd kernel
    // projection (was one interpreted-fold projection PER MERGE, each
    // fold re-splitting its accumulator once per symbol — O(len²) per
    // word per merge; TextKernelsSpec pins value equality)
    spread(words.select("w").distinct())
      .select(col("w"), graft.functions.TextKernels
        .bpeMergeChain(split(col("w"), ""), merges).as("__syms"))

  /** Full per-document token SEQUENCES under a trained merge list —
    * the encode form a training pipeline feeds to packing/sharding.
    * Same scale shape as [[encodeTokenCounts]]: the merge chain folds
    * over the distinct vocabulary only; corpus words carry their
    * POSITION through the dictionary join and one aggregate reassembles
    * each document's tokens in word order (sort_array over
    * (pos, syms) structs — collect_list alone has no order contract).
    * Documents with no words produce no row. */
  def encodeTokens(corpus: DataFrame, textCol: String, idCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val words = spread(corpus.select(col(idCol).as("__did"),
        col(textCol).cast("string").as("__t")))
      .select(col("__did"),
        posexplode(split(trim(col("__t")), "\\s+")).as(Seq("__pos", "w")))
      .filter(length(col("w")) > 0 && !col("w").contains(Sep))
    words.join(wordDict(words, merges), "w")
      .groupBy(col("__did").as(idCol))
      .agg(flatten(transform(
          array_sort(collect_list(struct(col("__pos"), col("__syms")))),
          x => x.getField("__syms"))).as("tokens"))
  }
}
