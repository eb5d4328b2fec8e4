package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Exact distributed quantiles by iterative histogram refinement — the
  * RANK rung of the sketch suite (KMV = distinct counts, Misra–Gries =
  * frequent items, Count-Min = point frequencies, this = order
  * statistics). Spark's built-in exact `percentile` buffers every value
  * of a group in executor memory (an ObjectHashAggregate over a growable
  * array) — fine at gigabytes, fatal at 100 TB. This operator computes
  * the EXACT discrete percentile (the value at rank ceil(q·n), DuckDB/
  * ANSI `percentile_disc` semantics) in O(log_bins(distinct)) full scans
  * with O(bins) driver state per (group, q):
  *
  *   pass 0:  per-group count/min/max             (one hash agg)
  *   pass k:  bucket the current [lo, hi] interval into `bins`
  *            equal-width buckets; per bucket keep count + actual
  *            min/max                              (one hash agg each)
  *   descend into the bucket containing the target rank until the
  *   bucket holds ONE distinct value — that value is the answer.
  *
  * Why this is EXACT and not approximate, down to FP edge cases:
  * `floor((x - lo) / w)` is a monotone nondecreasing function of x even
  * in IEEE arithmetic (constant subtraction, division by a positive
  * constant, and floor are each order-preserving), so the buckets
  * partition the interval's values IN VALUE ORDER — cumulative bucket
  * counts are exact rank prefixes, whatever rounding the boundaries
  * suffered. And the refined interval snaps to the chosen bucket's
  * actual min/max DATA VALUES (not the arithmetic bucket bounds), so
  * every subsequent range filter is anchored on points that exist in
  * the data — no value can leak across a boundary between passes.
  *
  * Scale shape: each pass is one scan + one hash agg whose wire is
  * ≤ partitions · states · bins summary rows (map-side combined —
  * CONSTANT in the data); the driver folds ≤ states · bins rows per
  * pass. Nothing row-sized is ever collected. Termination: the interval
  * snaps to a bucket's [min, max], so it shrinks strictly unless all
  * remaining values are equal (caught by min == max and answered), and
  * a two-way `x <= lo` split guards the subnormal case where the bucket
  * width underflows to 0 — every pass makes strict progress.
  */
object Quantiles {

  /** The value-admission policy, one predicate shared by every front:
    * NULL, NaN, and ±Infinity are all EXCLUDED. NaN has no place in a
    * total order two engines agree on; an infinite value makes the
    * group extent infinite, so the equal-width bucket arithmetic
    * degenerates ((x−lo)/w is NaN at x=±Inf — the bucket index would
    * silently go null and misorder the rank walk) — dropping is the
    * same stated policy as NaN, not a silent wrong answer. (Spark
    * orders NaN above +Inf, so the explicit isnan guard keeps the
    * range test honest.) */
  private def finite(c: Column): Column =
    c.isNotNull && !isnan(c) &&
      c > Double.NegativeInfinity && c < Double.PositiveInfinity

  /** Weight admission: weights must be non-negative INTEGER-VALUED
    * numbers (the LONG cumulative-sum exactness argument). A
    * fractional weight is refused PER ROW with a fused raise_error —
    * silently truncating 0.9 to 0 would drop the row instead of
    * erroring, the k-means dim-guard discipline. NULL weights pass
    * through as null (dropped by the wt > 0 filter, the documented
    * policy). */
  private def integralWeight(w: Column): Column =
    when(w.isNull, lit(null).cast("long"))
      .when(w.cast("double") === w.cast("long").cast("double"),
        w.cast("long"))
      .otherwise(raise_error(concat(
        lit("non-integer weight "), w.cast("string"),
        lit(" — weighted ranks are exact only over integer weights; " +
          "scale to an integer grid first"))).cast("long"))

  /** One refinement state: the target is the `r`-th smallest value of
    * group `g` overall, currently known to lie in [`lo`, `hi`] with
    * exactly `below` of the group's values strictly left of the
    * interval. `q` rides along for labeling the output. */
  private final case class St(g: String, q: Double, r: Long,
                              var below: Long, var lo: Double,
                              var hi: Double)

  /** Exact discrete quantiles of `valueCol`, `percentile_disc`
    * semantics (value at rank ceil(q·n), 1-indexed). NULL, NaN, and
    * ±Infinity values are excluded (a stated non-finite policy — see
    * [[finite]] — rather than inheriting two engines' disagreeing NaN
    * orderings or degenerating the bucket width). Output: (q, value), one
    * row per requested quantile, `value` in the column's double image —
    * exact for integer columns up to 2^53. */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     bins: Int = 256, maxPasses: Int = 64)
                    (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactQuantilesByGroupValues(
      df.select(lit("_").as("__g"), col(valueCol)), "__g", valueCol, qs,
      bins, maxPasses)
      .map { case (_, q, v) => (q, v) }.toDF("q", "value")
  }

  /** Exact per-group discrete quantile — one simultaneous refinement
    * across every group (each pass serves ALL still-active groups in a
    * single scan, so the pass count is the max refinement depth over
    * groups, not the sum). Output: (group, value), group in its string
    * image. Groups with no non-null values produce no row (GROUP BY
    * semantics). */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String,
                            valueCol: String, q: Double,
                            bins: Int = 256, maxPasses: Int = 64)
                           (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactQuantilesByGroupValues(df, groupCol, valueCol, Seq(q), bins,
      maxPasses)
      .map { case (g, _, v) => (g, v) }.toDF("group", "value")
  }

  /** Several exact per-group quantiles in ONE simultaneous refinement
    * (states = groups × qs, all served by the same passes). Output:
    * (group, q, value). */
  def exactQuantilesByGroupMulti(df: DataFrame, groupCol: String,
                                 valueCol: String, qs: Seq[Double],
                                 bins: Int = 256, maxPasses: Int = 64)
                                (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    exactQuantilesByGroupValues(df, groupCol, valueCol, qs, bins,
      maxPasses).toDF("group", "q", "value")
  }

  /** Exact per-group WEIGHTED quantile: the smallest value whose
    * cumulative weight reaches ceil(q · Σweight) — token-weighted
    * medians and thresholds ("the document length below which half the
    * TOKENS live", not half the documents). Weights must be
    * non-negative integers (cumulative LONG sums keep every rank
    * comparison exact and order-independent; a double weight sum would
    * make the answer depend on partition order at the boundary);
    * non-positive-weight rows are excluded — they can never satisfy
    * the threshold first, so semantics match the cumulative-sum
    * definition. Same pass structure, same exactness argument — the
    * per-bucket aggregate is sum(weight) instead of count. */
  def exactWeightedQuantilesByGroup(df: DataFrame, groupCol: String,
                                    valueCol: String, weightCol: String,
                                    q: Double, bins: Int = 256,
                                    maxPasses: Int = 64)
                                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    refineFromProjection(
      df.select(col(groupCol).cast("string").as("g"),
          col(valueCol).cast("double").as("x"),
          integralWeight(col(weightCol)).as("wt"))
        .filter(finite(col("x")) && col("wt") > 0),
      Seq(q), bins, maxPasses)
      .map { case (g, _, v) => (g, v) }.toDF("group", "value")
  }

  /** Driver-side result triples (group, q, value) — state init shared
    * by the global and grouped fronts, refinement in [[refine]]. */
  private def exactQuantilesByGroupValues(
      df: DataFrame, groupCol: String, valueCol: String, qs: Seq[Double],
      bins: Int, maxPasses: Int)
      (implicit scope: CacheScope): Seq[(String, Double, Double)] =
    refineFromProjection(
      df.select(col(groupCol).cast("string").as("g"),
          col(valueCol).cast("double").as("x"), lit(1L).as("wt"))
        .filter(finite(col("x"))),
      qs, bins, maxPasses)

  /** The (g, x, wt) core: rank space is cumulative WEIGHT (count = all
    * weights 1). */
  private def refineFromProjection(
      proj: DataFrame, qs: Seq[Double], bins: Int, maxPasses: Int)
      (implicit scope: CacheScope): Seq[(String, Double, Double)] = {
    require(bins >= 2, s"bins must be at least 2, got $bins")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")

    // Multiple bounded passes scan this projection — cache it (pure
    // optimization; the scope owner releases after the terminal action).
    val data = scope.cache(proj)

    // Pass 0: per-group extent. |groups| rows to the driver — the same
    // bounded-driver contract as every sketch serve. The ceiling is
    // checked BEFORE the collect (distributed count of the agg output —
    // a post-collect require cannot prevent the OOM it refuses).
    val grouped = data.groupBy("g")
      .agg(sum("wt").as("n"), min("x").as("mn"), max("x").as("mx"))
    val nGroups = grouped.count()
    require(nGroups * qs.size * bins <= (1L << 22),
      s"$nGroups groups x ${qs.size} quantiles x $bins bins " +
        "exceeds the bounded-driver pass ceiling (2^22 summary rows) — " +
        "batch the groups across calls or lower bins")
    val extent = grouped.collect()

    val states = scala.collection.mutable.ArrayBuffer.empty[St]
    val done = scala.collection.mutable.ArrayBuffer.empty[St]
    for (row <- extent; q <- qs) {
      val n = row.getAs[Long]("n")
      val mn = row.getAs[Double]("mn")
      val mx = row.getAs[Double]("mx")
      val r = math.ceil(q * n).toLong max 1L
      val s = St(row.getAs[String]("g"), q, r, 0L, mn, mx)
      if (mn == mx) done += s else states += s
    }
    (done.toSeq ++ refine(data, states, bins, maxPasses))
      .map(s => (s.g, s.q, s.lo))
  }

  /** The shared pass loop: drive every state to lo == hi == the exact
    * rank-r value. `data` must be the (g, x, wt) projection the states'
    * ranks were computed against (wt = 1 for unweighted ranks). Returns
    * the finished states (answer in `lo`/`hi`). */
  private def refine(data: DataFrame,
                     init: scala.collection.mutable.ArrayBuffer[St],
                     bins: Int, maxPasses: Int): Seq[St] = {
    val spark = data.sparkSession
    import spark.implicits._
    val states = init
    val done = scala.collection.mutable.ArrayBuffer.empty[St]
    var pass = 0
    while (states.nonEmpty) {
      pass += 1
      require(pass <= maxPasses,
        s"quantile refinement did not converge in $maxPasses passes — " +
          "pathological value distribution; raise maxPasses")
      // Broadcast the active states; a row fans out once per active
      // state of ITS group, lands in one bucket of each.
      val stDf = states.toSeq.zipWithIndex
        .map { case (s, i) => (i, s.g, s.lo, s.hi, (s.hi - s.lo) / bins) }
        .toDF("si", "sg", "lo", "hi", "w")
      val b: Column =
        when(col("w") > 0.0,
          least(floor((col("x") - col("lo")) / col("w")),
            lit(bins - 1.0)).cast("int"))
          // width underflowed (subnormal interval): two-way split on the
          // left endpoint, which is always a data value — still monotone,
          // still strict progress (lo itself occupies bucket 0).
          .otherwise(when(col("x") <= col("lo"), 0).otherwise(1))
      val hist = data
        .join(broadcast(stDf), data("g") === stDf("sg"))
        .filter(col("x") >= col("lo") && col("x") <= col("hi"))
        .groupBy(col("si"), b.as("b"))
        .agg(sum("wt").as("cnt"), min("x").as("mn"), max("x").as("mx"))
        .collect()
        .groupBy(_.getAs[Int]("si"))

      val still = scala.collection.mutable.ArrayBuffer.empty[St]
      for ((s, i) <- states.zipWithIndex) {
        val buckets = hist.getOrElse(i, Array.empty[Row])
          .sortBy(_.getAs[Int]("b")).toSeq
        // The interval always contains rank r by the loop invariant
        // (below < r <= below + interval count); a miss means the
        // invariant broke — refuse loudly rather than return garbage.
        val (bk, cum) = locateBucket(buckets, s.r, s.below).getOrElse(
          throw new IllegalArgumentException(
            s"rank ${s.r} not found in [${s.lo}, ${s.hi}] " +
              s"for group ${s.g} — refinement invariant violated"))
        val mn = bk.getAs[Double]("mn")
        val mx = bk.getAs[Double]("mx")
        s.below = cum; s.lo = mn; s.hi = mx
        if (mn == mx) done += s else still += s
      }
      states.clear(); states ++= still
    }
    done.toSeq
  }

  /** Walk `buckets` (already in ascending bucket order) for the first
    * whose cumulative count reaches rank `r`, starting the cumulation
    * at `below`. Returns (bucket, count strictly before it) — the ONE
    * rank-walk shared by the refinement loop and both store serves, so
    * a semantics fix cannot drift between them. */
  private def locateBucket(buckets: Seq[Row], r: Long,
                           below: Long): Option[(Row, Long)] = {
    var cum = below
    var i = 0
    while (i < buckets.length) {
      val cnt = buckets(i).getAs[Long]("cnt")
      if (cum + cnt >= r) return Some((buckets(i), cum))
      cum += cnt
      i += 1
    }
    None
  }

  /** Load a histogram store and fold it per group on the driver, with
    * the bounded-driver ceiling enforced BEFORE anything collects (a
    * post-collect require cannot prevent the OOM it exists to refuse —
    * `count()` on the merged frame is a distributed metadata-sized
    * job). Shared by both store serves. */
  private def loadMergedByGroup(spark: SparkSession, path: String)
      : (Map[String, Seq[Row]], Int) = {
    val (hist, _, _, storeBins) = loadHistogram(spark, path)
    val nRows = hist.count()
    require(nRows <= (1L << 22),
      s"merged histogram at $path holds $nRows (group, bucket) rows — " +
        "past the bounded-driver ceiling (2^22); batch the groups " +
        "across calls")
    (hist.collect().toSeq.groupBy(_.getAs[String]("group"))
      .map { case (g, rs) => g -> rs.sortBy(_.getAs[Int]("bucket")) },
      storeBins)
  }

  /** Median absolute deviation per group — the robust dispersion pair
    * (med, mad = median of |x − med|): two refinements composed, the
    * second over a derived column (|x − med| with med arriving by
    * broadcast — exact for integer-valued inputs, deterministic IEEE
    * otherwise). The MAD-fence outlier cut is the robust alternative
    * to stddev at heavy tails — stddev itself is dominated by the
    * outliers it is supposed to find. Output: (group, med, mad). */
  def madByGroup(df: DataFrame, groupCol: String, valueCol: String,
                 bins: Int = 256, maxPasses: Int = 64)
                (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val med = exactQuantilesByGroupValues(df, groupCol, valueCol,
      Seq(0.5), bins, maxPasses).map { case (g, _, v) => (g, v) }
    val medDf = med.toDF("__mg", "__med")
    val dev = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__x"))
      .join(broadcast(medDf), col("__g") === col("__mg"))
      .select(col("__g").as("g"), abs(col("__x") - col("__med")).as("d"))
    val mad = exactQuantilesByGroupValues(dev, "g", "d", Seq(0.5), bins,
      maxPasses).map { case (g, _, v) => (g, v) }.toMap
    med.map { case (g, m) => (g, m, mad(g)) }
      .toDF("group", "med", "mad")
  }

  // ------------------------------------------------------------------
  // Persisted mergeable histograms — the quantile family's store rung,
  // in the cm_v2 discipline: slices histogram independently against a
  // FIXED geometry (lo, hi, bins — stored in params, validated on
  // every append) and append (slice_id, group, bucket, cnt, mn, mx)
  // rows; the reader dedups per (slice, group, bucket) — making
  // at-least-once appends idempotent per slice — then merges per
  // (group, bucket) by (sum cnt, min mn, max mx), which is LINEAR, so
  // the merged table equals the one-shot histogram of the union
  // whatever the slice boundaries. Serving a quantile then costs ONE
  // metadata-sized store read to locate the target bucket (often
  // finishing outright when the bucket holds one distinct value) plus
  // the usual refinement passes over base data restricted to that
  // bucket's actual [mn, mx] — the first and widest refinement level
  // is prepaid at ingest, and the served answer is the EXACT one-shot
  // quantile (the one-shot oracle transfers verbatim).
  // ------------------------------------------------------------------

  private[operators] val Layout = "hist_v1"

  /** Bucket index against the STORE geometry: −1 below lo, `bins` above
    * hi, else the monotone equal-width floor (same exactness argument
    * as the refinement pass — monotone in x, so cumulative counts are
    * exact rank prefixes). */
  private def storeBucket(x: Column, lo: Double, hi: Double,
                          bins: Int): Column = {
    val w = (hi - lo) / bins
    when(x < lo, -1).when(x > hi, bins)
      .otherwise(
        if (w > 0) least(floor((x - lit(lo)) / lit(w)), lit(bins - 1.0))
          .cast("int")
        else when(x <= lo, 0).otherwise(1))
  }

  /** One slice's grouped histogram against a fixed geometry:
    * (group, bucket, cnt, mn, mx). One hash agg; wire ≤ partitions ·
    * |groups| · (bins + 2) summary rows however many values stream
    * through. Values OUTSIDE [lo, hi] are counted in the −1/bins
    * overflow buckets, so a geometry guessed from an early slice stays
    * correct (just less sharp) when later slices drift. */
  def histogramByGroup(df: DataFrame, groupCol: String, valueCol: String,
                       lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be at least 2, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    df.select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("double").as("x"))
      .filter(finite(col("x")))
      .groupBy(col("group"), storeBucket(col("x"), lo, hi, bins).as("bucket"))
      .agg(count(lit(1)).as("cnt"), min("x").as("mn"), max("x").as("mx"))
  }

  /** [[histogramByGroup]] in the WEIGHTED rank space: bucket counts are
    * Σweight (long — the [[exactWeightedQuantilesByGroup]] exactness
    * argument), so a store of these serves token-weighted quantiles.
    * Same layout, same linear merge, same slice-id idempotence —
    * weighted and unweighted stores differ only in what `cnt` means,
    * which the CALLER owns (mixing the two in one store is a data bug
    * the geometry tag cannot see; keep separate paths). */
  def weightedHistogramByGroup(df: DataFrame, groupCol: String,
                               valueCol: String, weightCol: String,
                               lo: Double, hi: Double,
                               bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be at least 2, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    df.select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("double").as("x"),
        integralWeight(col(weightCol)).as("wt"))
      .filter(finite(col("x")) && col("wt") > 0)
      .groupBy(col("group"), storeBucket(col("x"), lo, hi, bins).as("bucket"))
      .agg(sum("wt").as("cnt"), min("x").as("mn"), max("x").as("mx"))
  }

  /** Create a histogram store at `path` from a [[histogramByGroup]]
    * output built at the same geometry. */
  def saveHistogram(hist: DataFrame, path: String, lo: Double, hi: Double,
                    bins: Int, sliceId: String = "s0"): Unit = {
    require(bins >= 2 && lo < hi, s"bad geometry [$lo, $hi] x $bins")
    Store.create(path, "hist",
        Seq("layout" -> Layout, "lo" -> lo, "hi" -> hi, "bins" -> bins)) {
      hist.select(lit(sliceId).as("slice_id"), col("group"), col("bucket"),
          col("cnt"), col("mn"), col("mx"))
        .write.mode("overwrite").parquet(_)
    }
  }

  private def readGeometry(spark: SparkSession,
                           path: String): (Double, Double, Int) = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"histogram store at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    (p.getAs[Double]("lo"), p.getAs[Double]("hi"), p.getAs[Int]("bins"))
  }

  /** Append a slice's histogram — same geometry only (different
    * geometries' buckets do not align; refuse, the k/m/depth·width
    * discipline). `sliceId` is the idempotence key: a replayed append
    * (at-least-once writers) re-appends byte-identical rows that the
    * load's per-slice dedup collapses. */
  def appendHistogram(hist: DataFrame, path: String, lo: Double,
                      hi: Double, bins: Int, sliceId: String): Unit = {
    val (slo, shi, sb) = readGeometry(hist.sparkSession, path)
    require(slo == lo && shi == hi && sb == bins,
      s"histogram store at $path has geometry [$slo, $shi] x $sb, got " +
        s"[$lo, $hi] x $bins — different-geometry histograms do not merge")
    Store.append(hist.sparkSession, path, "hist") {
      hist.select(lit(sliceId).as("slice_id"), col("group"), col("bucket"),
          col("cnt"), col("mn"), col("mx"))
        .write.mode("append").parquet(_)
    }
  }

  /** Load the store: per-slice dedup (replay idempotence), then the
    * linear merge per (group, bucket). Output: merged histogram +
    * geometry. */
  def loadHistogram(spark: SparkSession,
                    path: String): (DataFrame, Double, Double, Int) = {
    val (lo, hi, bins) = readGeometry(spark, path)
    (Store.read(spark, path, "hist")
      .dropDuplicates("slice_id", "group", "bucket")
      .groupBy("group", "bucket")
      .agg(sum("cnt").as("cnt"), min("mn").as("mn"), max("mx").as("mx")),
      lo, hi, bins)
  }

  /** Exact per-group quantile served FROM the store: the merged
    * histogram (metadata-sized) locates each group's target bucket and
    * its exact rank prefix; buckets that hold one distinct value answer
    * outright, the rest continue the refinement over `base` restricted
    * to the bucket's actual [mn, mx] — so the result equals the
    * one-shot quantile over everything the appended slices ever saw,
    * and the one-shot oracle transfers verbatim. `base` must be the
    * union corpus the store ingested (the store carries counts, not
    * values); the prepaid histogram level is what it saves — at store
    * bins ≥ refinement bins, the serve does one refinement level fewer
    * than [[exactQuantilesByGroup]] from cold. */
  def quantileByGroupFromStore(base: DataFrame, groupCol: String,
                               valueCol: String, path: String, q: Double,
                               bins: Int = 256, maxPasses: Int = 64,
                               weightCol: Option[String] = None)
                              (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"quantile must lie in (0, 1], got $q")
    val spark = base.sparkSession
    import spark.implicits._
    val (merged, storeBins) = loadMergedByGroup(spark, path)
    // The continuation passes collect ≤ groups · bins rows each — hold
    // them to the same ceiling the store fold just passed.
    require(merged.size.toLong * (bins max storeBins) <= (1L << 22),
      s"${merged.size} groups x ${bins max storeBins} bins exceeds the " +
        "bounded-driver ceiling — batch the groups across calls")
    val finished = scala.collection.mutable.ArrayBuffer.empty[St]
    val open = scala.collection.mutable.ArrayBuffer.empty[St]
    for ((g, buckets) <- merged) {
      val n = buckets.map(_.getAs[Long]("cnt")).sum
      val r = math.ceil(q * n).toLong max 1L
      val (bk, cum) = locateBucket(buckets, r, 0L).getOrElse(
        throw new IllegalArgumentException(
          s"rank $r not found in stored histogram of group $g"))
      val mn = bk.getAs[Double]("mn")
      val mx = bk.getAs[Double]("mx")
      val s = St(g, q, r, cum, mn, mx)
      if (mn == mx) finished += s else open += s
    }
    val refined =
      if (open.isEmpty) Seq.empty[St]
      else {
        // The continuation ranks in whatever space the STORE counted:
        // pass the same weight column the slices were histogrammed with
        // (None for plain counts) — a mismatch is a caller data bug.
        val wt = weightCol.map(w => integralWeight(col(w)))
          .getOrElse(lit(1L)).as("wt")
        val data = scope.cache(base
          .select(col(groupCol).cast("string").as("g"),
            col(valueCol).cast("double").as("x"), wt)
          .filter(finite(col("x")) && col("wt") > 0))
        refine(data, open, bins, maxPasses)
      }
    (finished.toSeq ++ refined).map(s => (s.g, s.lo))
      .toDF("group", "value")
  }

  /** EXACT integer-factor coarsening of a grouped histogram frame
    * built at some (lo, hi, bins): fine bucket b folds to
    * floor(b / factor) (overflow rows −1 and `bins` map to −1 and
    * bins/factor), counts sum, data bounds min/max — a pure INTEGER
    * regrouping of stored rows, touching no value and re-bucketing
    * nothing. The folded histogram is therefore a valid coarser
    * partition of the same data in value order: cumulative counts stay
    * exact rank prefixes and every serve (quantile continuation,
    * bounds, drift) is exact over it. Cross-STORE caveat: the folded
    * partition's boundaries are the fine grid's every-factor-th
    * boundary, while a natively-built coarse histogram buckets by
    * floor((x−lo)/W) — provably identical when the widths are exactly
    * representable (power-of-two ranges, the usual geometry), and
    * otherwise able to disagree only for values within 1 ulp of a
    * boundary — a microscopic, documented tolerance for drift
    * comparison, never a serving-correctness issue (the fold is its
    * own valid partition). */
  def coarsenHistogram(hist: DataFrame, bins: Int, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be positive, got $factor")
    require(bins % factor == 0 && bins / factor >= 2,
      s"bins=$bins must be a multiple of factor=$factor with at least " +
        "2 coarse buckets — fractional folds do not align boundaries")
    val nb = bins / factor
    hist.groupBy(col("group"),
        when(col("bucket") < 0, -1)
          .when(col("bucket") >= bins, nb)
          .otherwise(floor(col("bucket") / factor).cast("int"))
          .as("bucket"))
      .agg(sum("cnt").as("cnt"), min("mn").as("mn"), max("mx").as("mx"))
  }

  /** Geometry MIGRATION for a histogram store: load + merge `srcPath`,
    * fold its buckets by `factor`, and save the result as a fresh store
    * at (lo, hi, bins/factor) under `dstPath` — after which the
    * re-binned snapshot merges/drift-compares against natively-coarse
    * stores (the refusal the un-migrated geometries correctly hit).
    * The source store is untouched. */
  def coarsenHistogramStore(spark: SparkSession, srcPath: String,
                            dstPath: String, factor: Int): Unit = {
    // the load below is LAZY and saveHistogram overwrite-writes dstPath
    // first: if dst aliased (or nested under) src, Spark would truncate
    // the input mid-read and the only copy of the store would be lost
    val srcC = java.nio.file.Paths.get(srcPath).toAbsolutePath.normalize
    val dstC = java.nio.file.Paths.get(dstPath).toAbsolutePath.normalize
    require(!dstC.startsWith(srcC) && !srcC.startsWith(dstC),
      s"coarsenHistogramStore needs disjoint paths: dst $dstC would " +
        s"overwrite-truncate src $srcC mid-read")
    val (hist, lo, hi, bins) = loadHistogram(spark, srcPath)
    saveHistogram(coarsenHistogram(hist, bins, factor), dstPath,
      lo, hi, bins / factor, sliceId = "coarsened")
  }

  /** Distribution DRIFT between two histogram stores — the t37
    * snapshot-drift posture for value distributions: per group, the
    * L1 distance between the two stores' bucket-mass vectors
    * (Σ|aᵢ/n_A − bᵢ/n_B| ∈ [0, 2]), computed from the sketches ALONE —
    * two corpora compare without either being rescanned or shipped.
    * Geometries must match (different bucketings do not align —
    * refuse, the append discipline); groups present in only one store
    * are omitted (no distribution to compare against). l1 rounds to
    * 6dp — the per-term doubles are engine-exact (long/long division),
    * only the summation order differs. Output: (group, l1, n_a, n_b). */
  def histogramDrift(spark: SparkSession, pathA: String,
                     pathB: String): DataFrame = {
    import spark.implicits._
    val ga = readGeometry(spark, pathA)
    val gb = readGeometry(spark, pathB)
    require(ga == gb,
      s"histogram stores have geometries $ga vs $gb — different " +
        "bucketings do not align")
    val (ma, _) = loadMergedByGroup(spark, pathA)
    val (mb, _) = loadMergedByGroup(spark, pathB)
    (ma.keySet intersect mb.keySet).toSeq.sorted.map { g =>
      val na = ma(g).map(_.getAs[Long]("cnt")).sum
      val nb = mb(g).map(_.getAs[Long]("cnt")).sum
      val ba = ma(g).map(r => r.getAs[Int]("bucket") ->
        r.getAs[Long]("cnt")).toMap
      val bb = mb(g).map(r => r.getAs[Int]("bucket") ->
        r.getAs[Long]("cnt")).toMap
      val l1 = (ba.keySet ++ bb.keySet).toSeq.sorted.map { b =>
        math.abs(ba.getOrElse(b, 0L).toDouble / na -
          bb.getOrElse(b, 0L).toDouble / nb) }.sum
      (g, BigDecimal(l1)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, na, nb)
    }.toDF("group", "l1", "n_a", "n_b")
  }

  /** Quantile BOUNDS from the store ALONE — no base corpus: the merged
    * histogram's target bucket brackets the exact quantile between its
    * stored actual min/max data values ([lo_bound, hi_bound] ∋ the
    * true rank-ceil(q·n) value, with n from the stored counts). This
    * is the pure-sketch serve — cross-corpus distribution monitoring
    * (drift dashboards, admission thresholds) by shipping histograms,
    * never values; error is bounded by the bucket's data spread, and
    * the bounds themselves are deterministic (the bucketing is plain
    * IEEE floor arithmetic, reproducible in any engine — oracled
    * relationally, the CM portable-hash argument without the hash).
    * Output: (group, lo_bound, hi_bound). */
  def quantileBoundsFromStore(spark: SparkSession, path: String,
                              q: Double): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"quantile must lie in (0, 1], got $q")
    import spark.implicits._
    val (merged, _) = loadMergedByGroup(spark, path)
    merged.toSeq.map { case (g, buckets) =>
      val n = buckets.map(_.getAs[Long]("cnt")).sum
      val r = math.ceil(q * n).toLong max 1L
      val (bk, _) = locateBucket(buckets, r, 0L).getOrElse(
        throw new IllegalArgumentException(
          s"rank $r not found in stored histogram of group $g"))
      (g, bk.getAs[Double]("mn"), bk.getAs[Double]("mx"))
    }.toDF("group", "lo_bound", "hi_bound")
  }
}
