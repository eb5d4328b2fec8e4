package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.store.Store

/** Adaptive (per-group) quality thresholds for corpus curation.
  *
  * A fixed global cutoff (e.g. "drop docs under 40 tokens") is wrong for a
  * multilingual/multi-domain corpus — the length and quality distributions
  * differ per language, so one constant over-prunes some slices and
  * under-prunes others. The standard fix (CCNet-style per-language
  * percentile buckets) is a per-group quantile cutoff: compute the q-th
  * percentile of the metric WITHIN each group, keep rows at or above their
  * own group's threshold.
  *
  * Exactness contract: the threshold is the DISCRETE percentile — the value
  * at rank `ceil(q·n)` in ascending order — computed with integer ranks, so
  * it is bit-identical across engines (no interpolation, whose formula
  * varies by implementation). `q·n` itself is exact for dyadic q (0.25,
  * 0.5, …) and deterministic regardless.
  *
  * Scale shape: quality metrics have BOUNDED cardinality (token counts,
  * rounded scores), so the threshold is computed over the (group, value,
  * count) HISTOGRAM, never over per-row ranks. The histogram agg is
  * map-side combined (the shuffle carries one row per (group, value) per
  * partition — at 100 TB a ~10¹¹-row language collapses to ~10⁵ distinct
  * counts), and the rank-`ceil(q·n)` cutoff falls out of the per-group
  * cumulative count via [[GlobalOrder.groupRunningTotal]], whose range
  * exchange lets a hot group SPAN partitions. The earlier
  * `row_number().over(Window.partitionBy(group))` spelling sorted each
  * group's FULL row set inside one task — a dominant language (English ≈
  * half a multilingual corpus) made the whole job one sorting thread; the
  * histogram + running-count shape has no such cliff. The threshold table
  * is one row per group → broadcast join back. Net cost at 100 TB: one
  * slim histogram shuffle + one metadata-sized range exchange + one
  * broadcast-join scan pass.
  *
  * The reference engine has no quantile support at all (SURVEY §2.4 — its
  * aggregates are SUM/AVG/COUNT/MIN/MAX, `/root/reference/src/warpdb.cpp`);
  * this is pipeline-extension surface.
  */
object Quality {

  /** One row per group combination: the requested discrete quantiles of
    * `valueCol`, ALL derived from ONE histogram +
    * [[GlobalOrder.groupRunningTotal]] pass. cum(v) = #rows with value ≤ v
    * within the group; the value at rank ceil(q·n) is the smallest v with
    * cum(v) ≥ ceil(q·n) — identical to the per-row row_number definition,
    * without sorting any group in a single task. The post-histogram frames
    * are group×distinct-value sized, so each quantile's reduction is a
    * metadata job. `qs` maps output column name → q.
    *
    * Multi-column groups ride the cumsum as one sentinel-joined string key
    * (\u0001 separator, \u0000 for NULL — (a, NULL) cannot collide with
    * ("a", "")); ordering AMONG groups is irrelevant, the range exchange
    * only needs each group's rows contiguous. */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[(String, Double)])
      (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(groupCols.nonEmpty, "groupQuantiles needs at least one group column")
    require(qs.nonEmpty, "groupQuantiles needs at least one quantile")
    qs.foreach { case (n, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile $n out of range: $q") }
    val gs = groupCols.map(col)
    val gKey = concat_ws("\u0001",
      groupCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    // histogram: one row per (group, distinct value) — map-side combined
    // (uncached since round-16: its only consumer is the running-total
    // pass, which caches its own range-sorted copy)
    val hist = df.select(gs :+ col(valueCol): _*)
      .groupBy(gs :+ col(valueCol): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__g", gKey)
    // round-16 (guide §2.4, one action): per-group totals ride the
    // running-total pass's driver-side partial sums (FREE — no separate
    // totals aggregate action), and ALL requested quantiles fold into
    // ONE conditional-min aggregate instead of one filter+agg per
    // quantile joined back together. min(when(cond, v)) over a group ≡
    // filter(cond) then min(v) — identical discrete quantile values.
    val (cum, tots) = GlobalOrder.groupRunningTotalWithTotals(
      hist, "__g", Seq(col(valueCol)), "__n", "__cum")
    val totals = GlobalOrder.totalsFrame(df.sparkSession,
      org.apache.spark.sql.types.StructField("__g",
        org.apache.spark.sql.types.StringType), tots, "__cnt")
    val withTot = cum.join(broadcast(totals), "__g")
    val aggs = qs.map { case (name, q) =>
      min(when(col("__cum") >= ceil(lit(q) * col("__cnt")), col(valueCol)))
        .as(name)
    }
    withTot.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** One row per group: (groupCol, thr) where thr is the discrete q-th
    * percentile of `valueCol` within the group. */
  def perGroupThreshold(df: DataFrame, groupCol: String, valueCol: String,
      q: Double, thrCol: String = "thr")
      (implicit scope: CacheScope = CacheScope.global): DataFrame =
    groupQuantiles(df, Seq(groupCol), valueCol, Seq(thrCol -> q))

  /** Append each row's percentile rank WITHIN its group — the CCNet-style
    * score normalization: a perplexity of 340 means nothing across
    * languages, but "worse than 80% of its language" compares; the
    * downstream head/middle/tail bucketing cuts on this value. The rank is
    * SQL's `cume_dist` — (#rows in the group with value ≤ this value) / n,
    * an exact integer ratio, engine-bit-identical.
    *
    * Scale shape: same histogram + [[GlobalOrder.groupRunningTotal]] pass
    * as [[groupQuantiles]]; each row then gets its percentile by a join on
    * (group, value) against the group×distinct-value cumulative table —
    * the broadcast/shuffle decision is left to Catalyst/AQE (size-based:
    * bounded-cardinality metrics broadcast, a high-cardinality metric
    * falls back to a co-partitioned hash join), and no per-row window
    * ever sorts a group in one task (`cume_dist().over
    * (Window.partitionBy(group))` would). */
  def withGroupPercentile(df: DataFrame, groupCol: String, valueCol: String,
      pctCol: String = "pct_rank")
      (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    // round-16: totals ride the running-total pass's driver-side partial
    // sums (one aggregate action fewer per call — guide §2.4); the hist
    // cache is gone for the same reason as groupQuantiles'
    val hist = df.select(col(groupCol), col(valueCol))
      .groupBy(groupCol, valueCol)
      .agg(count(lit(1)).as("__n"))
    val (cum, tots) = GlobalOrder.groupRunningTotalWithTotals(
      hist, groupCol, Seq(col(valueCol)), "__n", "__cum")
    val totals = GlobalOrder.totalsFrame(df.sparkSession,
      hist.schema(groupCol).copy(name = groupCol), tots, "__cnt")
    val ranks = cum.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol), col(valueCol),
        (col("__cum").cast("double") / col("__cnt").cast("double"))
          .as(pctCol))
    df.join(ranks, Seq(groupCol, valueCol))
  }

  /** Keep rows whose `valueCol` is ≥ their group's q-th percentile. The
    * result carries the threshold column so downstream audits can see what
    * cutoff each row cleared. */
  def filterByGroupQuantile(df: DataFrame, groupCol: String,
      valueCol: String, q: Double, thrCol: String = "thr")
      (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val thr = perGroupThreshold(df, groupCol, valueCol, q, thrCol)
    df.join(broadcast(thr), Seq(groupCol))
      .filter(col(valueCol) >= col(thrCol))
  }

  private val Layout = "thresholds_v1"

  /** Persist a threshold table (the curation CONFIG: |groups| rows) with a
    * params layout tag — the index-persistence discipline
    * ([[Similarity]] / [[graft.operators.Retrieval]]): thresholds are
    * computed offline over a reference corpus and FROZEN; a streaming
    * filter must apply the stored cutoffs, not re-derive them from each
    * micro-batch's skewed sample. */
  def saveThresholds(thr: DataFrame, path: String): Unit = {
    Store.create(path, "thresholds", Seq("layout" -> Layout)) {
      thr.coalesce(1).write.mode("overwrite").parquet(_)
    }
  }

  /** Load a persisted threshold table, validating the layout tag. */
  def loadThresholds(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"thresholds at $path have layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    Store.read(spark, path, "thresholds")
  }
}
