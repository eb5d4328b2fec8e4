package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

package object operators {
  /** Default row bound under which the iterative operators (BPE training,
    * connected components, exact quantiles) run their fixpoint on the
    * driver instead of one Spark job per round, and the bucket-join
    * detectors (`Dedup.ngramJaccard`, `Dedup.minHashLsh`) their posting
    * self-join: there it bounds both the collected postings and the
    * pairs the join would produce (Σ C(n_key, 2)). Each operator takes
    * it as a `localBound` parameter; 0 forces the Spark path. */
  val LocalRowBound: Int = 1 << 20

  /** The rows of `df` when it holds at most `bound` of them, else None.
    * The check and the fetch are ONE action, `limit(bound + 1).collect()`,
    * so a bounded driver-side path pays no separate count. `bound <= 0`
    * answers None without running anything. */
  private[graft] def collectAtMost(df: DataFrame,
                                   bound: Int): Option[Array[Row]] = {
    require(bound < Int.MaxValue, s"row bound $bound leaves no room for the overflow row")
    if (bound <= 0) None
    else Some(df.limit(bound + 1).collect()).filter(_.length <= bound)
  }

  /** Equal-element run folding IN-ROW (the guide's "aggregate before you
    * shuffle" taken to its limit for per-row keyed counts — term
    * frequency, per-doc bigram counts — where a `groupBy(id, item)` would
    * shuffle one row per distinct (row, item) with the item string on the
    * wire). Two-step by CONTRACT: callers must materialize the sorted
    * array and the run-start positions as ROW COLUMNS in separate
    * projections (CollapseProject's duplicate-reference guard keeps them
    * separate) and pass column REFERENCES here. Passing the expressions
    * inline is quadratic: HOF lambdas are interpreted, so a nested
    * `array_sort`/`filter` argument re-evaluates once PER ELEMENT —
    * measured 2.3 s → 77 s on the KN bigram gate before this contract
    * was split out. */
  private[graft] def runStarts(sorted: Column): Column =
    when(size(sorted) >= 1,
      filter(sequence(lit(1), size(sorted)),
        i => when(i === lit(1), lit(true))
          .otherwise(element_at(sorted, i) =!= element_at(sorted, i - 1))))
      .otherwise(array().cast("array<int>"))

  /** (item, cnt) run structs from a materialized sorted array + its
    * [[runStarts]] positions — see the contract above. Empty starts →
    * empty runs (transform needs no type-pinned otherwise branch). */
  private[graft] def runsFromStarts(sorted: Column, starts: Column): Column =
    transform(starts, (s, j0) => struct(
      element_at(sorted, s).as("item"),
      (coalesce(try_element_at(starts, j0 + lit(2)),
        size(sorted) + lit(1)) - s).cast("long").as("cnt")))
  /** Spread a DataFrame across the session's parallelism for CPU-bound
    * per-row stages (signatures, scoring, decode).
    *
    * Small single-file parquet inputs arrive as ONE partition (a file with
    * one row group cannot be split), which serializes compute-heavy
    * operators onto one core. At cluster scale inputs already have ≥
    * parallelism partitions and this is a no-op — the guard checks the
    * actual partition count so no gratuitous shuffle is added to big scans.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Catalyst size estimate — metadata only (file sizes), no job, no RDD
    // materialization. Inputs under ~1 GiB arrive in a handful of partitions
    // (a one-row-group file is unsplittable), so round-robin them across the
    // cluster; bigger inputs are already parallel.
    val sizeEstimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sizeEstimate < (1L << 30)) df.repartition(target) else df
  }
}
