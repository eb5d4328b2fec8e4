package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Store

/** Compaction rung for the persisted sketch stores — the lifecycle
  * operator the append-only discipline was missing. Every sketch store
  * in the repo (KMV distinct sketches, Misra–Gries summaries, Count-Min
  * counters plain and grouped, quantile histograms) is APPEND-ONLY with
  * merge-at-read: slices land as rows, the reader folds them. That is
  * the right crash-safety story, but at production cadence (daily
  * appends × groups × bins) the RAW table grows without bound — every
  * serve pays |slices| × |groups| × bins rows of scan + the classic
  * small-file listing/footer tax, even though the FOLDED answer is
  * metadata-sized and constant. This operator folds all appended slices
  * into ONE slice committed as the next generation through
  * [[graft.store.Store.commitGeneration]] (whose crash-safety and
  * reader-grace rules apply unchanged) — after which the store reads
  * like a single fresh save, and appends continue on top.
  *
  * Correctness is free by construction: each family's merge is LINEAR
  * (KMV union closure, MG Agarwal'12 mergeability, CM cell-wise sums,
  * histogram bucket-wise sum/min/max), so fold ≡ merge-at-read and
  * re-merging the folded slice with later appends equals merging the
  * original slices — every serve oracle transfers verbatim across a
  * compaction (pinned by the t55–t58 gates and the many-slice soak).
  *
  * Ownership: compaction is a WRITER-side operation under the same
  * single-writer contract as appends — run it at a quiesce point. In
  * particular, slice-id replay idempotence only covers slices still
  * PRESENT in the live table: an at-least-once writer must not replay
  * a slice id that a compaction already folded. The streaming writers'
  * committed `last_batch` watermark covers replays of WATERMARKED
  * batches (they are skipped before the append) — but a writer that
  * crashed between its append and its watermark commit leaves a slice
  * that WILL be replayed, and folding it in that window would strip
  * the id the replay dedups against. [[compact]] therefore REFUSES
  * while such un-watermarked batch slices exist (the replay guard),
  * and its commit is fenced against any writer that slipped in between
  * (the epoch fence) — both violations fail loudly instead of
  * double-counting silently.
  */
object SketchStore {

  /** The slice id the fold writes under. Reserved: callers must not
    * append under it (the leading `__` keeps it out of any batchId- or
    * date-derived id scheme). At most one lives at a time — each
    * compaction folds the previous one into the next generation. */
  val CompactedSliceId = "__compacted"

  /** Compact the sketch store at `path`, whatever its family — the
    * layout tag in params dispatches. Refuses unknown layouts
    * rather than guessing at a fold that might not be linear.
    *
    * Two guards run before the pointer flip, each converting a silent
    * corruption into a loud refusal:
    *  - REPLAY guard: when the store carries a committed streaming
    *    watermark (`wm`, [[graft.streaming.Streaming]]'s store-backed
    *    writers), any batch-id slice ABOVE it is a crash window in
    *    flight — the writer appended but died before committing the
    *    watermark, so its batch WILL be replayed. Folding that slice
    *    would strip the id its replay dedups against, and the re-append
    *    would double-count. Compaction refuses until the restart
    *    re-delivers the batch and the watermark catches up.
    *  - WRITER fence: the commit verifies the store's fencing epoch
    *    ([[graft.store.Store.readEpoch]]) did not advance since this
    *    compaction opened — a concurrent append's slice cannot be
    *    silently folded away; the compaction loses and aborts. */
  def compact(spark: SparkSession, path: String): Unit = {
    val (layout, sub) = dispatch(spark, path)
    compactImpl(spark, path, layout, sub, Store.readEpoch(path, sub))
  }

  private def dispatch(spark: SparkSession,
                       path: String): (String, String) = {
    val layout =
      Store.params(spark, path).getAs[String]("layout")
    layout match {
      case Sketches.Layout => (layout, "sketches")
      case Sketches.MgLayout => (layout, "summaries")
      case CountMin.Layout | CountMin.GroupLayout => (layout, "counters")
      case Quantiles.Layout => (layout, "hist")
      case other =>
        throw new IllegalArgumentException(
          s"store at $path has layout '$other' — not a compactable " +
            "sketch store (ANN indexes compact via Store.compactIndex)")
    }
  }

  /** [[compact]] with the writer's OPEN epoch made explicit (the public
    * form reads it at entry) — the seam the fencing tests interleave
    * through. */
  private[graft] def compact(spark: SparkSession, path: String,
                             openEpoch: Long): Unit = {
    val (layout, sub) = dispatch(spark, path)
    compactImpl(spark, path, layout, sub, openEpoch)
  }

  private def compactImpl(spark: SparkSession, path: String,
                          layout: String, sub: String,
                          openEpoch: Long): Unit = {
    guardUnwatermarked(spark, path, sub, layout)
    layout match {
      case Sketches.Layout =>    // kmv_v1: (group, sk), no slice ids —
        // re-sketching the union of stored k-min sets IS the k-min of
        // the union (closure), and re-folding a single folded row is
        // the identity (k-min of k values)
        commit(path, sub, openEpoch)(Sketches.loadKmvSketches(spark, path)
          .select(col("group"), col("sk")))
      case Sketches.MgLayout =>  // mg_v2: (slice_id, group, summary, n)
        commit(path, sub, openEpoch)(withSlice(
          Sketches.loadMgSummaries(spark, path)
            .select(col("group"), col("summary"), col("n_items"))))
      case CountMin.Layout =>    // cm_v2: (slice_id, row, cell, cnt)
        commit(path, sub, openEpoch)(withSlice(
          CountMin.loadCm(spark, path)._1
            .select(col("row"), col("cell"), col("cnt"))))
      case CountMin.GroupLayout => // cmg_v1: + group
        commit(path, sub, openEpoch)(withSlice(
          CountMin.loadCmGroups(spark, path)._1
            .select(col("group"), col("row"), col("cell"), col("cnt"))))
      case Quantiles.Layout =>   // hist_v1: (slice_id, group, bucket, …)
        commit(path, sub, openEpoch)(withSlice(
          Quantiles.loadHistogram(spark, path)._1
            .select(col("group"), col("bucket"), col("cnt"),
              col("mn"), col("mx"))))
    }
  }

  /** The replay guard: refuse to fold batch-id slices (`b<N>`) the
    * committed streaming watermark has not covered — see [[compact]].
    * A store with NO `wm` table but a `b<N>` slice is the FIRST-batch
    * crash window of the same hazard: a streaming writer appended its
    * first batch and died before its first watermark commit (a
    * b-prefixed slice id itself proves a watermarking streaming writer
    * owns the store — the batch-id scheme is the streaming writers'),
    * so every batch slice is treated as in-flight and the fold refuses.
    * Stores without a `wm` table AND without batch slices
    * (non-streaming writers) are governed by the quiesce-point contract
    * alone; KMV stores carry no slice ids and their fold is
    * replay-idempotent by union closure. */
  private def guardUnwatermarked(spark: SparkSession, path: String,
                                 sub: String, layout: String): Unit = {
    if (layout == Sketches.Layout) return
    val wm = if (Store.exists(path, "wm"))
      Store.read(spark, path, "wm").head().getLong(0)
    else -1L // no watermark ever committed → every batch slice is in flight
    val batchRe = "^b(\\d+)$".r
    val inFlight = Store.read(spark, path, sub)
      .select(col("slice_id")).distinct().collect()
      .map(_.getString(0))
      .collect { case s @ batchRe(n) if n.toLong > wm => s }
    require(inFlight.isEmpty,
      s"store at $path has un-watermarked batch slices " +
        s"${inFlight.sorted.mkString("[", ", ", "]")} past the committed " +
        s"watermark $wm — the writer crashed between append and watermark " +
        "commit, and those batches WILL be replayed. Folding them now " +
        "would strip the slice ids the replay dedups against and " +
        "double-count. Restart the stream (the replay + watermark commit " +
        "clears this), then compact.")
  }

  private def withSlice(folded: DataFrame): DataFrame =
    folded.select(lit(CompactedSliceId).as("slice_id") +: folded.columns
      .map(col).toIndexedSeq: _*)

  /** Fold `folded` (a lazy read of the LIVE dir — the commit writes
    * the new generation first, so the read-while-write is between
    * different directories) into the next generation and flip. The
    * folded table is metadata-sized by construction (≤ groups × bins
    * rows, the same ceiling every serve already enforces), so one
    * output file keeps the store listing-cheap — the point. */
  private def commit(path: String, sub: String, openEpoch: Long)
                    (folded: DataFrame): Unit =
    Store.commitGeneration(path, sub, Some(openEpoch)) {
      folded.coalesce(1).write.mode("overwrite").parquet(_)
    }
}
