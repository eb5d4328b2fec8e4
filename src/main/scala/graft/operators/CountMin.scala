package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{KmvSketch, TextFunctions => TF}
import graft.store.Store

/** Count-Min sketch (Cormode & Muthukrishnan'05) — point FREQUENCY
  * estimates over an unbounded item vocabulary, completing the repo's
  * sketch suite (KMV = distinct counts, Misra–Gries = frequent items,
  * CM = "how often did THIS item occur"). depth×width counters; item
  * increments one cell per row via independent hashes; estimate = min
  * over rows (always ≥ truth; over by ≤ 2N/width with prob 1−2⁻ᵈᵉᵖᵗʰ).
  *
  * Unlike MG, CM is a LINEAR sketch: the counter table is a sum of
  * per-item one-hot updates, so it is order-independent, exactly
  * mergeable by cell-wise addition, and — over the portable md5 hash —
  * bit-identical in any engine: the estimates themselves are
  * oracle-checkable, no exact-recount pass needed.
  *
  * Representation is deliberately RELATIONAL, not a custom aggregate:
  * the counter table is a (row, cell, cnt) DataFrame of ≤ depth·width
  * rows. Build is one explode(depth) + hash-agg pass — partial
  * aggregation caps the wire at partitions · depth · width counters,
  * CONSTANT in the vocabulary (the exact `groupBy(item)` alternative
  * shuffles the vocabulary itself). Estimation joins the BROADCAST
  * query batch to the counter table on (row, cell): the corpus is
  * never touched. Persistence is append-only rows with sum-at-read
  * (linearity), the t36 KMV-table discipline — no read-modify-write.
  */
object CountMin {

  // v2: counter rows carry the writer's slice_id (idempotent appends)
  private[operators] val Layout = "cm_v2"

  /** Cell index of `item` in hash row `i`: the portable 60-bit md5 hash
    * of "i:item", mod width — built-ins only, so DuckDB reproduces every
    * cell assignment (the [[KmvSketch.portableHash60]] argument). */
  private def cell(item: org.apache.spark.sql.Column, i: Int,
                   width: Int): org.apache.spark.sql.Column =
    KmvSketch.portableHash60(concat(lit(s"$i:"), item)) % width

  /** Build the counter table: (row, cell, cnt), ≤ depth·width rows
    * however many items stream through. NULL items are ignored. */
  def cmBuild(df: DataFrame, itemCol: String, depth: Int,
              width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be at least 2, got $width")
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    items.select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), cell(col("item"), i, width).as("cell"))): _*))
        .as("rc"))
      .select(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy("row", "cell").agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for a query batch: min over hash rows of the
    * matching cells (an absent cell is 0 — the estimate floor). The
    * COUNTER table broadcasts (≤ depth·width rows — metadata-sized by
    * construction, and the only side a left-outer probe join can build
    * from); the probe batch streams, so it may be arbitrarily large.
    * Output: (item, est). Duplicate query items are deduplicated. */
  def cmEstimate(queries: DataFrame, counters: DataFrame, itemCol: String,
                 depth: Int, width: Int): DataFrame = {
    require(depth >= 1, "depth must be positive")
    val q = queries.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull).distinct()
    val qc = q.select(col("item"),
      explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), cell(col("item"), i, width).as("cell"))): _*))
        .as("rc"))
      .select(col("item"), col("rc.row").as("row"), col("rc.cell").as("cell"))
    qc.join(broadcast(counters), Seq("row", "cell"), "left")
      .groupBy("item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Grouped counter tables: one CM sketch PER GROUP in the same single
    * explode + hash-agg pass — (group, row, cell, cnt), ≤ |groups| ·
    * depth · width rows on the wire however many items stream through.
    * Each group's table is an independent LINEAR sketch, so everything
    * [[cmBuild]] guarantees (order independence, cell-wise
    * mergeability, engine-portable md5 cells) holds per group — the
    * per-language/per-source frequency serving rung. */
  def cmBuildByGroup(df: DataFrame, groupCol: String, itemCol: String,
                     depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be at least 2, got $width")
    val items = df.select(col(groupCol).as("group"),
        col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    items.select(col("group"),
        explode(array((0 until depth).map(i =>
          struct(lit(i).as("row"),
            cell(col("item"), i, width).as("cell"))): _*)).as("rc"))
      .select(col("group"), col("rc.row").as("row"), col("rc.cell").as("cell"))
      .groupBy("group", "row", "cell").agg(count(lit(1)).as("cnt"))
  }

  /** Per-group point estimates: each (group, item) probe is scored
    * against ITS group's counters only — min over that group's hash
    * rows. The grouped counter table BROADCASTS by default (≤ |groups|
    * · depth · width rows — metadata-sized at language/source
    * cardinalities). At extreme group counts (~10⁶ groups × depth ·
    * width cells is past any executor broadcast budget) the probe join
    * flips to a SHUFFLE HASH join on (group, row, cell) — both sides
    * exchange on the same slim key, corpus rows still never move, and
    * the plan is O(1) in size however many groups exist (the
    * `whenChainCap` argument, join-shaped). Pass `broadcastGroupCap =
    * 0` to force the shuffle plan (the t45 pinning convention). The
    * flip is caller-declared here rather than probed because probing
    * an UNMATERIALIZED build would execute its corpus scan twice; the
    * store serve ([[cmEstimateByGroupFromStore]]) probes automatically
    * — its counter table sits in parquet, one count over it is cheap.
    * Output: (group, item, est), probes deduplicated. */
  def cmEstimateByGroup(queries: DataFrame, counters: DataFrame,
                        groupCol: String, itemCol: String,
                        depth: Int, width: Int,
                        broadcastGroupCap: Long = 1L << 16): DataFrame = {
    require(depth >= 1, "depth must be positive")
    val q = queries.select(col(groupCol).as("group"),
        col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull).distinct()
    val qc = q.select(col("group"), col("item"),
      explode(array((0 until depth).map(i =>
        struct(lit(i).as("row"), cell(col("item"), i, width).as("cell"))): _*))
        .as("rc"))
      .select(col("group"), col("item"),
        col("rc.row").as("row"), col("rc.cell").as("cell"))
    val counterSide =
      if (broadcastGroupCap > 0) broadcast(counters)
      // shuffle HASH (not sort-merge): the join is an equi-probe with
      // no ordering need, and each partition's counter slice is
      // groups/partitions · depth · width rows — a fine build side
      else counters.hint("shuffle_hash")
    qc.join(counterSide, Seq("group", "row", "cell"), "left")
      .groupBy("group", "item")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Per-group estimates straight from a persisted grouped store
    * ([[loadCmGroups]]), with the broadcast-vs-shuffle decision PROBED
    * from the store: the stored counter table is metadata-sized
    * relative to the corpus it summarizes, so one distinct-count over
    * it is cheap — above `broadcastGroupCap` groups the probe join
    * flips to the shuffle plan automatically. */
  def cmEstimateByGroupFromStore(queries: DataFrame, path: String,
                                 groupCol: String, itemCol: String,
                                 broadcastGroupCap: Long = 1L << 16)
      : DataFrame = {
    val spark = queries.sparkSession
    val (counters, d, w) = loadCmGroups(spark, path)
    val nGroups = counters.select("group").distinct().count()
    cmEstimateByGroup(queries, counters, groupCol, itemCol, d, w,
      if (broadcastGroupCap > 0 && nGroups > broadcastGroupCap) 0
      else broadcastGroupCap)
  }

  /** One-shot convenience: estimates of `queries` item frequencies in
    * `corpus`. */
  def cmFrequencies(corpus: DataFrame, queries: DataFrame, itemCol: String,
                    depth: Int = 4, width: Int = 1024)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame =
    cmEstimate(queries, scope.cache(cmBuild(corpus, itemCol, depth, width)),
      itemCol, depth, width)

  /** Word n-gram frequency estimates: the "how common is this exact
    * phrase" probe (blocklist candidates, contamination spot checks)
    * without ever shuffling the gram vocabulary. */
  def cmNgramFrequencies(docs: DataFrame, queries: DataFrame,
                         textCol: String, n: Int, phraseCol: String,
                         depth: Int = 4, width: Int = 1024)
                        (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val grams = spread(docs.select(col(textCol).as("__t")))
      .select(explode(TF.shingles(col("__t"), n)).as("gram"))
    cmEstimate(queries.select(col(phraseCol).as("gram")),
      scope.cache(cmBuild(grams, "gram", depth, width)),
      "gram", depth, width)
      .withColumnRenamed("item", "gram")
  }

  // ------------------------------------------------------------------
  // Persistence: linearity makes the store APPEND-ONLY — slices build
  // counter tables independently and append their rows; the reader sums
  // per (row, cell), which by linearity equals the one-shot build over
  // the union. depth/width validate on every append/load (different
  // geometries do not add meaningfully — refuse, the k/m discipline).
  // Every write carries the caller's SLICE ID and the reader keeps one
  // row per (slice, row, cell) before summing, which makes appends
  // IDEMPOTENT per slice: an at-least-once writer (streaming foreachBatch
  // replaying a batch after a crash, including a crash that committed
  // only part of the slice's files) re-appends byte-identical rows and
  // the dedup collapses them — sum-at-read still equals the one-shot
  // build. The caller's contract: one slice id names ONE slice's
  // counters (re-appending the same id is a no-op by design; reusing an
  // id for different data silently drops the second write).
  // ------------------------------------------------------------------

  /** Create a counter store at `path` from a [[cmBuild]] output. */
  def saveCm(counters: DataFrame, path: String, depth: Int,
             width: Int, sliceId: String = "s0"): Unit = {
    Store.create(path, "counters",
        Seq("layout" -> Layout, "depth" -> depth, "width" -> width)) {
      counters.select(lit(sliceId).as("slice_id"),
          col("row"), col("cell"), col("cnt"))
        .write.mode("overwrite").parquet(_)
    }
  }

  private def readGeometry(spark: SparkSession, path: String): (Int, Int) = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"counter store at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    (p.getAs[Int]("depth"), p.getAs[Int]("width"))
  }

  /** Append a slice's counter table — same geometry only. `sliceId` is
    * the idempotence key: re-appending the same id (an at-least-once
    * writer's replay) is collapsed at read, so it must uniquely name
    * this slice of the corpus. */
  def appendCm(counters: DataFrame, path: String, depth: Int,
               width: Int, sliceId: String): Unit = {
    val (d, w) = readGeometry(counters.sparkSession, path)
    require(d == depth && w == width,
      s"counter store at $path has geometry ${d}x$w, got ${depth}x$width" +
        " — different-geometry sketches do not merge")
    Store.append(counters.sparkSession, path, "counters") {
      counters.select(lit(sliceId).as("slice_id"),
          col("row"), col("cell"), col("cnt"))
        .write.mode("append").parquet(_)
    }
  }

  /** Load the store: keep one row per (slice, row, cell) — collapsing
    * any replayed appends, whose rows are byte-identical by the slice
    * contract — then sum per cell (= the one-shot sketch of the union,
    * by linearity). Output: counter table + geometry for
    * [[cmEstimate]]. */
  def loadCm(spark: SparkSession, path: String): (DataFrame, Int, Int) = {
    val (d, w) = readGeometry(spark, path)
    (Store.read(spark, path, "counters")
      .dropDuplicates("slice_id", "row", "cell")
      .groupBy("row", "cell").agg(sum("cnt").as("cnt")), d, w)
  }

  // ------------------------------------------------------------------
  // Grouped store — the [[cmBuildByGroup]] tables persisted with the
  // same discipline (append-only slices, slice-id idempotence,
  // sum-at-read): linearity holds PER GROUP, so however slices were
  // batched, the summed table equals the one-shot grouped build and
  // [[cmEstimateByGroup]]'s estimates are bit-identical. Completes the
  // grouped symmetry with the KMV and MG stores.
  // ------------------------------------------------------------------

  private[operators] val GroupLayout = "cmg_v1"

  /** Create a grouped counter store from a [[cmBuildByGroup]] output. */
  def saveCmGroups(counters: DataFrame, path: String, depth: Int,
                   width: Int, sliceId: String = "s0"): Unit = {
    Store.create(path, "counters",
        Seq("layout" -> GroupLayout, "depth" -> depth, "width" -> width)) {
      counters.select(lit(sliceId).as("slice_id"),
          col("group"), col("row"), col("cell"), col("cnt"))
        .write.mode("overwrite").parquet(_)
    }
  }

  private def readGroupGeometry(spark: SparkSession,
                                path: String): (Int, Int) = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == GroupLayout,
      s"counter store at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $GroupLayout")
    (p.getAs[Int]("depth"), p.getAs[Int]("width"))
  }

  /** Append a slice's grouped counter table — same geometry only;
    * `sliceId` is the idempotence key (the [[appendCm]] contract). */
  def appendCmGroups(counters: DataFrame, path: String, depth: Int,
                     width: Int, sliceId: String): Unit = {
    val (d, w) = readGroupGeometry(counters.sparkSession, path)
    require(d == depth && w == width,
      s"counter store at $path has geometry ${d}x$w, got ${depth}x$width" +
        " — different-geometry sketches do not merge")
    Store.append(counters.sparkSession, path, "counters") {
      counters.select(lit(sliceId).as("slice_id"),
          col("group"), col("row"), col("cell"), col("cnt"))
        .write.mode("append").parquet(_)
    }
  }

  /** Load the grouped store: per-slice dedup, then sum per
    * (group, row, cell). Output: grouped counter table + geometry for
    * [[cmEstimateByGroup]]. */
  def loadCmGroups(spark: SparkSession,
                   path: String): (DataFrame, Int, Int) = {
    val (d, w) = readGroupGeometry(spark, path)
    (Store.read(spark, path, "counters")
      .dropDuplicates("slice_id", "group", "row", "cell")
      .groupBy("group", "row", "cell").agg(sum("cnt").as("cnt")), d, w)
  }
}
