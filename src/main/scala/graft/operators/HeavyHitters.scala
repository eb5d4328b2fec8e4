package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MisraGries, TextFunctions => TF}

/** EXACT frequent items at corpus scale — "which items appear in at
  * least a φ fraction of the stream" — via the classic two-pass
  * sketch-then-count composition:
  *
  *   pass 1: one scan folds into a Misra–Gries summary
  *     ([[graft.functions.MisraGriesSummary]]) — O(m) state per
  *     partition, ≤ m (item, count) pairs on the wire per partition,
  *     NEVER the full vocabulary (the exact `groupBy(item).count`
  *     shuffle that t19 pays grows with the vocabulary; this one is
  *     CONSTANT in it). The MG guarantee — every item with frequency
  *     > N/(m+1) survives — makes the summary a provable SUPERSET of
  *     the φ-frequent items whenever m ≥ margin/φ, margin > 1.
  *   pass 2: exact counts of the ≤ m candidates only (the corpus scan
  *     filters against a driver-bounded candidate set), then keep
  *     count ≥ ceil(φ·N).
  *
  * The output is therefore EXACTLY the φ-frequent item set with TRUE
  * counts — independent of partitioning and merge order, even though
  * the intermediate MG candidate set is not (that order-dependence is
  * why the raw summary alone could never be oracle-checked; the exact
  * second pass is what buys hash-match determinism, the d6/s11
  * calibrated-exactness discipline). Driver state is the candidate
  * list: ≤ m strings, bounded by construction (the DSIR-λ contract).
  *
  * At 100 TB: two scans, each shuffling only sketch partials / candidate
  * counts. The one-pass alternative (exact global count of everything,
  * t19) shuffles the whole (item, count) vocabulary — fine for n-grams
  * over a bounded vocab, unbounded for URLs/hosts/raw phrases, which is
  * the case this operator exists for.
  */
object HeavyHitters {

  /** Above this candidate-list size the recount switches from an InSet
    * predicate to a broadcast left-semi join: ANALYZING an `In` of ~10⁶
    * string literals stalls or OOMs the driver long before the
    * bounded-driver DATA contract (2^20 entries) is violated — the
    * expression tree, not the candidate bytes, is the ceiling. A few
    * thousand literals is where InSet still wins (no join machinery,
    * plan stays one fused filter). */
  private[graft] val InSetCap = 4096

  /** Restrict `df` to rows whose `itemCol` is in `cands`: InSet while
    * the list is expression-tree-small, broadcast left-semi join above
    * `inSetCap`. Same rows either way — the recount plans differ only
    * in how the driver ships the candidate set to the executors. */
  private[graft] def candidateFilter(df: DataFrame, itemCol: String,
                                     cands: Seq[String],
                                     inSetCap: Int = InSetCap): DataFrame =
    if (cands.size <= inSetCap) df.filter(col(itemCol).isin(cands: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(cands.toDF(itemCol)), Seq(itemCol), "left_semi")
    }

  /** The (item)-normalized projection both passes share. */
  private def normItems(df: DataFrame, itemCol: String): DataFrame =
    df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)

  /** Two-pass body over an already-cached (item) frame. */
  private def frequentItemsCore(items: DataFrame, phi: Double,
                                margin: Double, inSetCap: Int): DataFrame = {
    val m = math.ceil(margin / phi).toInt
    require(m <= (1 << 20),
      s"phi=$phi needs $m candidate counters — beyond the bounded-driver " +
        "contract; raise phi or lower margin")
    val head = items.agg(count(lit(1)),
      MisraGries.mgSummary(col("item"), m)).head()
    val n = head.getLong(0)
    val cands = head.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0))
    if (n == 0L || cands.isEmpty)
      return items.limit(0).groupBy("item")
        .agg(count(lit(1)).as("cnt"))
    val thr = math.ceil(phi * n).toLong
    candidateFilter(items, "item", cands, inSetCap)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(thr))
  }

  /** All items of `itemCol` with count ≥ ceil(phi·N), with exact counts.
    * `margin` (> 1) sizes the sketch at m = ceil(margin/phi): the MG
    * deficit bound N/(m+1) < φN/margin keeps every φ-frequent item in
    * the candidate set with slack. NULL items are ignored (they are
    * absent from both passes). */
  def frequentItems(df: DataFrame, itemCol: String, phi: Double,
                    margin: Double = 2.0, inSetCap: Int = InSetCap)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, "phi must be in (0, 1]")
    require(margin > 1.0, "margin must exceed 1 for the superset guarantee")
    frequentItemsCore(scope.cache(normItems(df, itemCol)), phi, margin,
      inSetCap)
  }

  /** EXACT global top-k items by occurrence count at sketch wire cost —
    * the boilerplate-DISCOVERY shape (p14): the exact top-k report
    * ([[TfIdf.topNgrams]], t19) shuffles the whole (item, count)
    * vocabulary, unbounded for raw web phrases; this one runs the
    * [[frequentItems]] two-pass and takes the top k of the recounted
    * φ-frequent set, which CONTAINS the global top k whenever ≥ k items
    * survive — every excluded item has count < ceil(φN) ≤ every
    * included item's count. Support adapts: starting at `phi0`, φ
    * quarters (m grows 4×) until ≥ k items survive or m hits the
    * bounded-driver cap; each retry is one sketch aggregate + one
    * bounded recount over the CACHED items, never a vocabulary shuffle.
    * Ordering: cnt DESC, item ASC (t19's deterministic tie-break), so
    * the k-boundary is engine-independent. Refuses loudly — rather than
    * returning a silently short list — if the cap is reached first: at
    * that point fewer than k items clear support margin/2^20 and the
    * exact top-k is the honest tool. Output: (item, cnt), k rows. */
  def topKItems(df: DataFrame, itemCol: String, k: Int,
                phi0: Double = 0.002, margin: Double = 2.0,
                inSetCap: Int = InSetCap)
               (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(k > 0, "k must be positive")
    require(phi0 > 0.0 && phi0 <= 1.0, "phi0 must be in (0, 1]")
    require(margin > 1.0, "margin must exceed 1 for the superset guarantee")
    val items = scope.cache(normItems(df, itemCol))
    var phi = phi0
    var res = frequentItemsCore(items, phi, margin, inSetCap)
    var n = res.count()
    while (n < k &&
        math.ceil(margin / (phi / 4.0)) <= (1 << 20).toDouble) {
      phi /= 4.0
      res = frequentItemsCore(items, phi, margin, inSetCap)
      n = res.count()
    }
    require(n >= k,
      s"only $n items reach support $phi at the bounded-driver cap — " +
        s"fewer than k=$k; use the exact top-k (TfIdf.topNgrams) for " +
        "thin-tailed vocabularies")
    res.orderBy(col("cnt").desc, col("item").asc).limit(k)
  }

  /** [[topKItems]] over word n-grams — the drop-in sketch-scale source
    * of [[TfIdf.topNgrams]]'s (gram, count-ordered) blocklist. */
  def topKNgrams(docs: DataFrame, textCol: String, n: Int, k: Int,
                 phi0: Double = 0.002, margin: Double = 2.0)
                (implicit scope: CacheScope = CacheScope.global): DataFrame =
    topKItems(ngramItems(docs, textCol, n), "gram", k, phi0, margin)
      .withColumnRenamed("item", "gram")

  /** φ-frequent word n-grams of a text corpus — the scale path of the
    * exact top-k n-gram report (t19): boilerplate phrases, license
    * headers, and template fragments surface as heavy hitters long
    * before any top-k budget decides how many to look at. One gram
    * construction pass feeds both passes through the shared cache;
    * `spread` before the shingle HOF (the repo's measured cliff). */
  def frequentNgrams(docs: DataFrame, textCol: String, n: Int,
                     phi: Double, margin: Double = 2.0)
                    (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(n > 0, "n must be positive")
    frequentItems(ngramItems(docs, textCol, n), "gram", phi, margin)
      .withColumnRenamed("item", "gram")
  }

  /** Per-GROUP exact φ-frequent items — "which phrases dominate each
    * language/source": pass 1 folds one MG summary PER GROUP in a
    * single map-side-combined agg (wire: ≤ m pairs per partition-group)
    * and collects the |groups|-row result — driver state is
    * groups × m entries, validated against the bounded-driver contract.
    * Pass 2 recounts the UNION of all groups' candidates exactly per
    * (group, item) and keeps count ≥ ceil(φ·N_group) — exact per group,
    * because each group's φ-frequent items are guaranteed inside its
    * own candidate set, and counting a candidate under extra groups can
    * only add true positives. The per-group threshold ships as a
    * when-chain literal while groups are few (one fused filter, no
    * join) and as a BROADCAST join on a distributed (group, thr)
    * aggregate above `whenChainCap` — a 10⁵-deep when-chain is a
    * 10⁵-node expression tree the driver must analyze and every task
    * must evaluate per row; the join is O(1) in plan size however many
    * groups exist. Output: (group, item, cnt). */
  def frequentItemsByGroup(df: DataFrame, groupCol: String,
                           itemCol: String, phi: Double,
                           margin: Double = 2.0,
                           inSetCap: Int = InSetCap,
                           whenChainCap: Int = 64)
                          (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, "phi must be in (0, 1]")
    require(margin > 1.0, "margin must exceed 1 for the superset guarantee")
    val m = math.ceil(margin / phi).toInt
    require(m <= (1 << 20),
      s"phi=$phi needs $m candidate counters per group — raise phi")
    val items = scope.cache(
      df.select(col(groupCol).as("group"),
          col(itemCol).cast("string").as("item"))
        .filter(col("item").isNotNull))
    val rows = items.groupBy("group")
      .agg(count(lit(1)).as("n"),
        MisraGries.mgSummary(col("item"), m).as("s"))
      .collect()
    val totalEntries = rows.map(
      _.getSeq[org.apache.spark.sql.Row](2).size.toLong).sum
    require(totalEntries <= (1L << 20),
      s"groups x m = $totalEntries candidate entries exceed the " +
        "bounded-driver contract — raise phi or reduce group cardinality")
    val cands = rows.flatMap(
      _.getSeq[org.apache.spark.sql.Row](2).map(_.getString(0)))
      .distinct.toSeq
    if (rows.isEmpty || cands.isEmpty)
      return items.limit(0).groupBy("group", "item")
        .agg(count(lit(1)).as("cnt"))
    val counted = candidateFilter(items, "item", cands, inSetCap)
      .groupBy("group", "item").agg(count(lit(1)).as("cnt"))
    if (rows.length <= whenChainCap) {
      val thrCol = rows.foldLeft(lit(Long.MaxValue): Column) {
        case (acc, r) =>
          when(col("group") === lit(r.get(0)),
            lit(math.ceil(phi * r.getLong(1)).toLong)).otherwise(acc)
      }
      counted.filter(col("cnt") >= thrCol)
    } else {
      // thresholds re-derive distributed from the cached items (one
      // map-side-combined count per group) and ride a broadcast —
      // ceil(φ·n) in Spark doubles is the identical arithmetic the
      // when-chain branch does on the driver
      val thr = items.groupBy("group")
        .agg(ceil(lit(phi) * count(lit(1))).cast("long").as("__thr"))
      counted.join(broadcast(thr), Seq("group"))
        .filter(col("cnt") >= col("__thr"))
        .select("group", "item", "cnt")
    }
  }

  /** The shared gram-construction projection (spread-before-HOF). */
  def ngramItems(docs: DataFrame, textCol: String, n: Int): DataFrame =
    spread(docs.select(col(textCol).as("__t")))
      .select(explode(TF.shingles(col("__t"), n)).as("gram"))

  /** One (group = "all", summary, n_items) row summarizing a corpus
    * slice's items — the ingest shape of the persisted store
    * ([[Sketches.saveMgSummaries]]/[[Sketches.appendMgSummaries]]):
    * daily slices summarize independently, append their row, and never
    * rescan each other. */
  def summarizeItems(df: DataFrame, itemCol: String, m: Int): DataFrame = {
    df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .agg(MisraGries.mgSummary(col("item"), m).as("summary"),
        count(lit(1)).as("n_items"))
      .select(lit("all").as("group"), col("summary"), col("n_items"))
  }

  /** Per-group slice summaries — [[summarizeItems]]'s grouped sibling,
    * the ingest shape of a GROUPED summary store: one MG summary and
    * item total per (slice, group), appended as |groups| rows. One
    * map-side-combined agg; wire ≤ m pairs per partition-group. */
  def summarizeItemsByGroup(df: DataFrame, groupCol: String,
                            itemCol: String, m: Int): DataFrame =
    df.select(col(groupCol).as("group"),
        col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
      .groupBy("group")
      .agg(MisraGries.mgSummary(col("item"), m).as("summary"),
        count(lit(1)).as("n_items"))

  /** Exact φ-frequent items served FROM a persisted summary store: the
    * candidate set and total N come from the store (whose appended
    * slices must partition `corpus` — the d13/d16 index-family
    * contract), the recount runs over `corpus`. Because the merged
    * summary is a guaranteed superset whenever the stored capacity
    * satisfies m + 1 > 1/φ, the output equals [[frequentItems]] run
    * one-shot over the union — however the slices were batched, and
    * whatever merge order the store's fold used (the merge-order-
    * dependent estimates never reach the output). Single-group ("all")
    * stores only; grouped stores serve through
    * [[frequentItemsByGroupFromStore]]. */
  def frequentItemsFromStore(corpus: DataFrame, itemCol: String,
                             path: String, phi: Double,
                             inSetCap: Int = InSetCap)
                            (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, "phi must be in (0, 1]")
    val spark = corpus.sparkSession
    val m = Sketches.mgCapacity(spark, path)
    require((m + 1).toDouble > 1.0 / phi,
      s"stored capacity m=$m cannot guarantee support phi=$phi — " +
        s"rebuild the store with m >= ${math.ceil(1.0 / phi).toInt}")
    val merged = Sketches.loadMgSummaries(spark, path).collect()
    require(merged.length == 1 && merged.head.getAs[String]("group") == "all",
      s"store at $path is not a single-group ('all') summary table")
    val head = merged.head
    val n = head.getAs[Long]("n_items")
    val cands = head.getSeq[org.apache.spark.sql.Row](
      head.fieldIndex("summary")).map(_.getString(0))
    val items = scope.cache(
      corpus.select(col(itemCol).cast("string").as("item"))
        .filter(col("item").isNotNull))
    if (n == 0L || cands.isEmpty)
      return items.limit(0).groupBy("item")
        .agg(count(lit(1)).as("cnt"))
    val thr = math.ceil(phi * n).toLong
    candidateFilter(items, "item", cands, inSetCap)
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(thr))
  }

  /** Per-group exact φ-frequent items served FROM a persisted GROUPED
    * summary store — [[frequentItemsByGroup]]'s store rung, completing
    * the grouped symmetry with the KMV table (slices append
    * (group, summary, n_items) rows via [[Sketches.appendMgSummaries]];
    * the load folds per group under Agarwal'12 mergeability). The
    * recount is exact per (group, item); per-group thresholds
    * ceil(φ·N_g) come from the STORED slice totals and ride a broadcast
    * join (no when-chain — a store has no small-group guarantee).
    * Exact per group because the folded deficit stays ≤ N_g/(m+1) < φN_g
    * whenever m + 1 > 1/φ — validated against params. Store slices
    * must partition `corpus`. Output: (group, item, cnt) ==
    * [[frequentItemsByGroup]] one-shot over the union. */
  def frequentItemsByGroupFromStore(corpus: DataFrame, groupCol: String,
                                    itemCol: String, path: String,
                                    phi: Double, inSetCap: Int = InSetCap)
                                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, "phi must be in (0, 1]")
    val spark = corpus.sparkSession
    val m = Sketches.mgCapacity(spark, path)
    require((m + 1).toDouble > 1.0 / phi,
      s"stored capacity m=$m cannot guarantee support phi=$phi — " +
        s"rebuild the store with m >= ${math.ceil(1.0 / phi).toInt}")
    val merged = Sketches.loadMgSummaries(spark, path).collect()
    val totalEntries = merged.map(r =>
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("summary"))
        .size.toLong).sum
    require(totalEntries <= (1L << 20),
      s"stored groups x m = $totalEntries candidate entries exceed the " +
        "bounded-driver contract — raise phi or split the store")
    val cands = merged.flatMap(r =>
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("summary"))
        .map(_.getString(0))).distinct.toSeq
    val items = scope.cache(
      corpus.select(col(groupCol).as("group"),
          col(itemCol).cast("string").as("item"))
        .filter(col("item").isNotNull))
    if (merged.isEmpty || cands.isEmpty)
      return items.limit(0).groupBy("group", "item")
        .agg(count(lit(1)).as("cnt"))
    val thr = Sketches.loadMgSummaries(spark, path)
      .select(col("group"),
        ceil(lit(phi) * col("n_items")).cast("long").as("__thr"))
    candidateFilter(items, "item", cands, inSetCap)
      .groupBy("group", "item").agg(count(lit(1)).as("cnt"))
      .join(broadcast(thr), Seq("group"))
      .filter(col("cnt") >= col("__thr"))
      .select("group", "item", "cnt")
  }
}
