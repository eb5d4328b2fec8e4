package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch
import graft.store.Store

/** Persisted KMV sketch tables — the lifecycle rung for the
  * [[graft.functions.KmvSketch]] family (every other served artifact in
  * the repo has one: ANN indexes, BM25 postings, thresholds, tokenizers).
  *
  * Layout: `$path/sketches` = (group, sk: array<bigint>) rows,
  * params = (layout, k). The design exploits the property that
  * makes KMV worth persisting at all — CLOSURE UNDER UNION (pinned in
  * PipelineSpec): writes are APPEND-ONLY rows, never a rewrite, and the
  * reader merges per group by re-sketching the stored hash values
  * (k-min of a union of k-min sets IS the k-min of the union). So:
  *
  *   - ingest slices sketch independently anywhere, anytime, and append
  *     their |groups|-row tables — no read-modify-write, no generation
  *     swap, crash-safe by parquet file atomicity;
  *   - a load collapses however many appended rows exist per group into
  *     ONE exact sketch (cost: |rows|·k longs through one hash agg —
  *     metadata-scale however big the corpora behind them were);
  *   - two snapshots' stored sketches feed [[KmvSketch.estimateJaccard]]
  *     directly — cross-corpus overlap without touching either corpus.
  *
  * The k and layout persist in params and are validated on every
  * append/load (the index-family tag discipline): merging sketches built
  * at DIFFERENT k silently degrades the estimate floor, so it refuses.
  */
object Sketches {

  private[operators] val Layout = "kmv_v1"

  /** Create a sketch table at `path` from a (group, sk) frame — the
    * output shape of `groupBy(group).agg(kmvSketch(h, k))`. A re-save
    * is a rebuild ([[graft.store.Store.create]]). */
  def saveKmvSketches(sketches: DataFrame, groupCol: String, skCol: String,
                      path: String, k: Int): Unit = {
    require(k >= 2, s"k must be at least 2, got $k")
    Store.create(path, "sketches", Seq("layout" -> Layout, "k" -> k)) {
      sketches.select(col(groupCol).as("group"), col(skCol).as("sk"))
        .write.mode("overwrite").parquet(_)
    }
  }

  private def readK(spark: SparkSession, path: String): Int = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"sketch table at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    p.getAs[Int]("k")
  }

  /** Append a new slice's (group, sk) rows. The slice must be sketched
    * at the SAME k the table was created with — validated against
    * params, because a union of different-k sketches is only as good
    * as the smaller k and would silently degrade the estimate. */
  def appendKmvSketches(sketches: DataFrame, groupCol: String,
                        skCol: String, path: String, k: Int): Unit = {
    val stored = readK(sketches.sparkSession, path)
    require(stored == k,
      s"sketch table at $path was built at k=$stored, got k=$k — " +
        "sketches merge exactly only at equal k")
    Store.append(sketches.sparkSession, path, "sketches") {
      sketches.select(col(groupCol).as("group"), col(skCol).as("sk"))
        .write.mode("append").parquet(_)
    }
  }

  /** Load the table, merging every appended row per group into one exact
    * sketch: explode the stored hash values and re-aggregate — by union
    * closure this equals the one-shot sketch of everything the appended
    * slices ever saw. Output: (group, sk). */
  def loadKmvSketches(spark: SparkSession, path: String): DataFrame = {
    val k = readK(spark, path)
    Store.read(spark, path, "sketches")
      .select(col("group"), explode(col("sk")).as("h"))
      .groupBy("group")
      .agg(KmvSketch.kmvSketch(col("h"), k).as("sk"))
  }

  // ------------------------------------------------------------------
  // Persisted Misra–Gries summaries — the KMV table's frequent-items
  // sibling. Same append-only design: slices summarize independently
  // ([[graft.functions.MisraGries.mgSummary]]) and append their
  // (group, summary, n_items) rows; the reader folds stored rows per
  // group with [[graft.functions.MisraGries.mgMerge]] (Agarwal'12
  // mergeability: the combined deficit stays ≤ ΣN_i/(m+1)), so there is
  // no read-modify-write and no generation machinery to crash-proof.
  // n_items persists per slice because the GUARANTEE is stated against
  // total N — a reader needs Σn to turn a support fraction φ into a
  // count threshold. m validates on every append/load (a different-m
  // merge silently weakens the deficit bound — refuse, the KMV k
  // discipline). Unlike KMV, the merged ESTIMATES are merge-order
  // dependent — deterministic serving goes through the exact recount
  // ([[HeavyHitters.frequentItemsFromStore]]), never the raw estimates.
  // ------------------------------------------------------------------

  // v2: summary rows carry the writer's slice_id. Unlike KMV (whose
  // union closure makes a duplicated row literally harmless — the
  // k-min of a set unioned with itself is the set), the MG merge is
  // ADDITIVE: replaying an append without a key would double-count
  // both the estimates and n_items, and an inflated Σn_items RAISES
  // every serve threshold ceil(φ·N) — silently DROPPING genuinely
  // φ-frequent items, the worst failure mode the store has. The
  // slice id closes it: the reader keeps one row per (slice, group)
  // before folding, so at-least-once appends are idempotent (the
  // cm_v2/hist_v1 discipline).
  private[operators] val MgLayout = "mg_v2"

  /** Create a summary table at `path` from a (group, summary, n_items)
    * frame — summary in the [[graft.functions.MisraGries.mgSummary]]
    * output shape, n_items the slice's total (non-null) item count.
    * `sliceId` is the replay-idempotence key (one id names ONE slice's
    * summaries — the [[graft.operators.CountMin.appendCm]] contract). */
  def saveMgSummaries(summaries: DataFrame, groupCol: String,
                      summaryCol: String, nCol: String,
                      path: String, m: Int,
                      sliceId: String = "s0"): Unit = {
    require(m >= 1, s"m must be positive, got $m")
    Store.create(path, "summaries", Seq("layout" -> MgLayout, "m" -> m)) {
      summaries.select(lit(sliceId).as("slice_id"), col(groupCol).as("group"),
          col(summaryCol).as("summary"), col(nCol).cast("long").as("n_items"))
        .write.mode("overwrite").parquet(_)
    }
  }

  private def readM(spark: SparkSession, path: String): Int = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == MgLayout,
      s"summary table at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $MgLayout")
    p.getAs[Int]("m")
  }

  /** Append a new slice's (group, summary, n_items) rows — same-m
    * only; `sliceId` is the replay-idempotence key (a replayed append
    * re-writes byte-identical rows the load's per-slice dedup
    * collapses — without it, the ADDITIVE merge would double-count
    * n_items and inflate every serve threshold).
    *
    * `compactSliceThreshold` opts the append into the auto-compaction
    * cadence (the [[graft.streaming.Streaming]] store-backed writers'
    * discipline, for the BATCH append path): once the live table holds
    * that many distinct slices, the append folds the store itself via
    * [[SketchStore.compact]] — safe by construction here because
    * single-writer holds (the compactor IS the appender, running after
    * its own fenced append committed) and MG folds are invisible to
    * every serve (Agarwal'12 mergeability, pinned by t56). 0 disables
    * (the default). */
  def appendMgSummaries(summaries: DataFrame, groupCol: String,
                        summaryCol: String, nCol: String,
                        path: String, m: Int,
                        sliceId: String,
                        compactSliceThreshold: Int = 0): Unit = {
    val spark = summaries.sparkSession
    val stored = readM(spark, path)
    require(stored == m,
      s"summary table at $path was built at m=$stored, got m=$m — " +
        "summaries merge with the guaranteed bound only at equal m")
    Store.append(spark, path, "summaries") {
      summaries.select(lit(sliceId).as("slice_id"),
          col(groupCol).as("group"), col(summaryCol).as("summary"),
          col(nCol).cast("long").as("n_items"))
        .write.mode("append").parquet(_)
    }
    if (compactSliceThreshold > 0) {
      val n = Store.read(spark, path, "summaries").select("slice_id").distinct().count()
      if (n >= compactSliceThreshold) SketchStore.compact(spark, path)
    }
  }

  /** Load the table: per-(slice, group) dedup (replay idempotence),
    * then fold every slice's row per group into one summary over the
    * union stream. Output: (group, summary, n_items = Σ slice counts).
    * Candidate guarantee after the fold: every item with total
    * frequency > n_items/(m+1) is present. */
  def loadMgSummaries(spark: SparkSession, path: String): DataFrame = {
    val m = readM(spark, path)
    Store.read(spark, path, "summaries")
      .dropDuplicates("slice_id", "group")
      .groupBy("group")
      .agg(graft.functions.MisraGries.mgMerge(col("summary"), m)
          .as("summary"),
        sum(col("n_items")).as("n_items"))
  }

  /** The stored m knob (needed to restate the guarantee at serve time). */
  def mgCapacity(spark: SparkSession, path: String): Int = readM(spark, path)
}
