package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Store

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry is one operator/capability from SURVEY.md §2, expressed
  * Spark-first, with a DuckDB oracle where SQL-expressible. Column names and
  * rounding are aligned on BOTH sides (the driver's compare sorts columns by
  * name and hashes values). Doubles that pass through accumulation (SUM/AVG)
  * are rounded — Spark's partial aggregation adds in a different order than
  * DuckDB's sequential scan, so the last ULPs differ; rounding to a coarser
  * grid than the ~1e-8 relative noise makes the hash stable.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** (doc_id, `out` = fixed 5-word windows of text) — the newline-free
    * test-corpus line convention shared by the line-dedup/clean gates.
    * Tokens materialize as a ROW COLUMN first so the window lambda
    * slices a bound array: an inline `split(...)` referenced inside the
    * transform lambda re-runs the whole tokenization once PER WINDOW
    * (the interpreted-HOF re-evaluation trap — see TF.slidingJoin). */
  private def withDocLines5(df: DataFrame, out: String): DataFrame =
    df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("__tk"))
      .select(col("doc_id"),
        graft.functions.TextKernels.wordChunks(col("__tk"), 5).as(out))

  /** Staged corpus for the substring-dedup gates (d14/d15): every even
    * doc gains a replica (id + 100000) of its full text plus a unique
    * tail, giving each replica one known duplicated prefix span whose
    * winner is the original. Mirrors the oracle SQL's corpus CTE. */
  private def stagedSpanCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" zzu"), col("doc_id").cast("string"))
          .as("text")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q("q1_agg")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // (name, query, optional oracle SQL) — kept adjacent so the two sides
  // cannot drift apart.
  // ------------------------------------------------------------------
  private type Q = (SparkSession, String) => DataFrame
  private val defs = scala.collection.mutable.LinkedHashMap[String, (Q, Option[String])]()
  private def define(name: String, oracle: String)(fn: Q): Unit =
    defs(name) = (fn, Some(oracle))
  private def defineNoOracle(name: String)(fn: Q): Unit =
    defs(name) = (fn, None)
  private def q(name: String): Q = defs(name)._1

  // Per-JVM persisted-index dirs for the s5/s9/s10 gates: the index build
  // job runs ONCE per (gate, sfDir) and repeated query constructions in
  // the same session (Verify, Bench warm-ups, the Plans EXPLAIN audit)
  // reuse it instead of leaking a fresh temp dir + paying a rebuild each
  // time. Dirs are removed by a JVM shutdown hook (best-effort — temp
  // space, not durable state). Keyed on sfDir too: Verify and sbt test
  // may touch different scale factors in one JVM.
  private val indexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sessionIndexDir(key: String)(build: String => Unit): String =
    indexDirs.computeIfAbsent(key, { _ =>
      val p = java.nio.file.Files.createTempDirectory(
        "graft_idx_" + key.replaceAll("[^A-Za-z0-9_]", "_") + "_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(p)
          val all = try walk.iterator().asScala.toSeq finally walk.close()
          all.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case scala.util.control.NonFatal(_) => () }
      }))
      build(p.toString)
      p.toString
    })

  // ==================================================================
  // §2.4 Aggregations
  // ==================================================================

  // A1+A3+A4: multi-key GROUP BY with all five aggregate functions in one
  // pass (partial+final hash agg; map-side combine means the shuffle carries
  // one row per (key × partition), not per input row — at 100 TB the shuffle
  // is O(groups), not O(rows)).
  define("q1_agg",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS cnt,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem GROUP BY l_returnflag, l_linestatus""") { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("cnt"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
  }

  // A7: global aggregate, no GROUP BY (intended-but-dead in the reference,
  // `/root/reference/src/warpdb.cpp:445-459`).
  define("q4_global_agg",
    """SELECT count(*) AS cnt,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem WHERE l_discount > 0.02""") { (s, d) =>
    t(s, d, "lineitem").filter(col("l_discount") > 0.02)
      .agg(
        count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
  }

  // A5: HAVING with aggregate arithmetic
  // (`/root/reference/src/warpdb.cpp:387-427`).
  define("q6_having",
    """SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem GROUP BY l_suppkey
       HAVING sum(l_quantity) > 14000 AND count(*) > 100""") { (s, d) =>
    t(s, d, "lineitem").groupBy("l_suppkey")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"),
        sum("l_quantity").as("__sq"))
      .filter(col("__sq") > 14000 && col("cnt") > 100)
      .drop("__sq")
  }

  // A6: DISTINCT dedup of the projected output
  // (`/root/reference/src/warpdb.cpp:463-468`).
  define("q7_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, d) =>
    t(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()
  }

  // Date-derived grouping key (timestamp handling; cast to INT on both sides
  // so schemas hash identically).
  define("q18_year_agg",
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       count(*) AS cnt, round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY 1""") { (s, d) =>
    t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
  }

  // Exact interpolated percentiles (both engines implement the same
  // continuous-quantile definition; quantities are integral so the
  // interpolated values are exactly representable).
  define("q30_percentiles",
    """SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
      percentile(col("l_quantity"), lit(0.9)).as("p90_qty"))
  }

  // Statistical aggregates (stddev/corr) — rounded below the accumulation-
  // order noise floor.
  define("q31_stats",
    """SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 6)
        .as("qty_price_corr"))
  }

  // ==================================================================
  // §2.2 Projections / filters (P2/P3/P4/P6: compacting WHERE + projection)
  // ==================================================================

  // No rounding on the per-row product: both engines compute the identical
  // IEEE double, and rounding a true 4-decimal value to 2 digits is unstable
  // at exact half-cents.
  define("q2_filter_project",
    """SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue
       FROM lineitem WHERE l_quantity > 45 AND l_discount > 0.05""") { (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  // P1/E1: masked map — WHERE guards, does NOT compact; length preserved,
  // unmatched rows null (`/root/reference/src/jit.cpp:55-61`).
  define("q3_masked_map",
    """SELECT CASE WHEN l_quantity > 25 THEN l_extendedprice * l_quantity END
       AS result FROM lineitem""") { (s, d) =>
    Engine.query(t(s, d, "lineitem"),
      "l_extendedprice * l_quantity WHERE l_quantity > 25", float32 = false)
  }

  // P5: multi-expression fusion — two expressions, one pass (the reference
  // fused this by hand in CUDA; whole-stage codegen does it automatically).
  define("e5_multi_expr",
    """SELECT l_extendedprice * l_quantity AS revenue,
       l_extendedprice - 10 AS adjusted
       FROM lineitem WHERE l_quantity > 45""") { (s, d) =>
    Engine.queryMulti(t(s, d, "lineitem"),
      Seq("l_extendedprice * l_quantity" -> "revenue",
          "l_extendedprice - 10" -> "adjusted"),
      where = Some("l_quantity > 45"), float32 = false)
  }

  // Salted two-stage aggregation (operators.Skew) — identical result to a
  // direct groupBy, hot keys spread over saltFactor reducers.
  define("a9_salted_agg",
    """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS cnt, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    import graft.operators.Skew
    Skew.saltedAgg(
      t(s, d, "lineitem").select("l_returnflag", "l_quantity"),
      keys = Seq("l_returnflag"), saltFactor = 16,
      aggs = Seq(
        ("__sum_qty", col("l_quantity"), Skew.SUM),
        ("cnt", col("l_quantity"), Skew.COUNT),
        ("min_qty", col("l_quantity"), Skew.MIN),
        ("max_qty", col("l_quantity"), Skew.MAX)))
      .withColumn("sum_qty", round(col("__sum_qty"), 2)).drop("__sum_qty")
  }

  // Salted JOIN — the static skew fix for a hot join key: probe side salts
  // positionally, the supplier dim replicates ×8, the join runs on
  // (key, salt) so one hot supplier's rows spread over 8 reducers. Result
  // is identical to the unsalted join (pinned by the plain-SQL oracle);
  // the post-join aggregate collapses it to a small verifiable frame.
  define("a13_salted_join",
    """SELECT s_name, round(sum(l_extendedprice), 2) AS revenue,
       count(*) AS cnt
       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       GROUP BY s_name""") { (s, d) =>
    import graft.operators.Skew
    Skew.saltedJoin(
      t(s, d, "lineitem").select("l_suppkey", "l_extendedprice"),
      t(s, d, "supplier").select(col("s_suppkey").as("l_suppkey"),
        col("s_name")),
      keys = Seq("l_suppkey"), saltFactor = 8)
      .groupBy("s_name")
      .agg(round(sum("l_extendedprice"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  // Per-domain token-budget selection — the "data mixing" pass: each
  // source keeps its highest-priority docs until its own budget (the
  // mixture weight) is spent; sources without a weight drop. The oracle
  // is the per-source windowed cumsum; the engine runs GlobalOrder's
  // grouped two-phase range-exchange cumsum, which a hot source SPANS
  // (the window spelling would sort each source inside one task).
  define("a14_domain_token_budget",
    """WITH t AS (
         SELECT doc_id, source, n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source
             ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         FROM t),
       b(source, budget) AS (
         VALUES ('src0', 800), ('src1', 400), ('src2', 200), ('src3', 100))
       SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM c JOIN b USING (source) WHERE cum_tokens <= budget""") { (s, d) =>
    graft.operators.GlobalOrder.mixBudgetSelect(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        col("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tokens")),
      "source", Seq(col("n_chars").desc, col("doc_id")), "n_tokens",
      budgets = Map("src0" -> 800L, "src1" -> 400L, "src2" -> 200L,
        "src3" -> 100L),
      cumCol = "cum_tokens")
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  // Stratified EXACT-count split: every language receives exactly
  // floor(cum·n_lang) boundary counts (t7/assign's per-row hash gives only
  // EXPECTED proportions — a 40-doc minority language can land 30/70).
  // Rank within stratum = md5 keyed-hash order via groupRunningTotal over
  // unit weights (range exchange; a hot stratum spans partitions — no
  // per-stratum single-task sort); the oracle spells the same rank as a
  // row_number window, two algorithms agreeing row-for-row.
  define("a15_stratified_split",
    """WITH r AS (
         SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(concat('s8', CAST(doc_id AS VARCHAR))), doc_id)
             AS rk,
           count(*) OVER (PARTITION BY lang) AS n
         FROM documents)
       SELECT doc_id, lang,
         CASE WHEN rk <= floor(0.8 * n) THEN 'train'
              WHEN rk <= floor(0.9 * n) THEN 'val'
              ELSE 'test' END AS split
       FROM r""") { (s, d) =>
    graft.operators.Splits.stratifiedSplit(
      t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s8")
      .select("doc_id", "lang", "split")
  }

  // ==================================================================
  // §2.3 Joins (J1 executed for real) + Spark-extended join types
  // ==================================================================

  // Inner equi-join chain with aggregation (TPC-H Q5 shape). nation/region
  // are bounded dims (25/5 rows at ANY scale) → explicit broadcast;
  // customer/orders are left to Catalyst/AQE, which broadcasts them at small
  // SF and shuffle-joins at cluster scale — the decision must be size-based,
  // not hardcoded, to survive 1000×.
  define("q5_join_agg",
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2)
       AS revenue, count(*) AS cnt
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""") { (s, d) =>
    val li = t(s, d, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    val o = t(s, d, "orders").select("o_orderkey", "o_custkey")
    val c = t(s, d, "customer").select("c_custkey", "c_nationkey")
    val n = t(s, d, "nation").select("n_nationkey", "n_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"), count(lit(1)).as("cnt"))
  }

  // left-semi: EXISTS. At scale: shuffle on the key, but only key columns of
  // the right side move — keep the right projection minimal.
  define("q13_semi_join",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderkey IN
         (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)""") { (s, d) =>
    val o = t(s, d, "orders").select("o_orderkey", "o_totalprice")
    val li = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
  }

  // left-anti: NOT EXISTS.
  define("q14_anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN
         (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""") { (s, d) =>
    val c = t(s, d, "customer").select("c_custkey", "c_name")
    val o = t(s, d, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
  }

  // ==================================================================
  // §2.7 Set operations (absent in the reference; Spark-extended surface)
  // ==================================================================

  define("q15_union",
    """SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 400000
       UNION
       SELECT l_orderkey FROM lineitem WHERE l_quantity > 49""") { (s, d) =>
    t(s, d, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("okey"))
      .union(t(s, d, "lineitem").filter(col("l_quantity") > 49)
        .select(col("l_orderkey")))
      .distinct()
  }

  define("q16_intersect",
    """SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 300000
       INTERSECT
       SELECT l_orderkey FROM lineitem WHERE l_quantity > 45""") { (s, d) =>
    t(s, d, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("okey"))
      .intersect(t(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey")))
  }

  define("q17_except",
    """SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 300000
       EXCEPT
       SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'""") { (s, d) =>
    t(s, d, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("okey"))
      .except(t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")))
  }

  // ==================================================================
  // §2.6 Sort / LIMIT / OFFSET (offset-then-limit,
  // `/root/reference/src/warpdb.cpp:485-495`). orderBy+limit is rewritten by
  // Catalyst to TakeOrderedAndProject — no global sort materialization.
  // ==================================================================

  define("q8_order_limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""") { (s, d) =>
    t(s, d, "orders").select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(5).limit(10)
  }

  // ==================================================================
  // §2.5 Window functions (declared-but-dead in the reference; realized:
  // AGG(expr) OVER (PARTITION BY k ORDER BY e)). Unique order key keeps the
  // default RANGE frame deterministic.
  // ==================================================================

  define("q9_window",
    """SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS running_total,
       count(*) OVER (PARTITION BY o_custkey) AS n_orders
       FROM orders""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy("o_custkey")
    t(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      round(sum("o_totalprice").over(byCust.orderBy("o_orderkey")), 2)
        .as("running_total"),
      count(lit(1)).over(byCust).as("n_orders"))
  }

  // Ranking/analytic window functions (Spark-extended beyond the
  // reference's SUM/AVG/COUNT/MIN/MAX-over surface).
  define("q22_rank_windows",
    """SELECT o_orderkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
       CAST(dense_rank() OVER (PARTITION BY o_custkey
         ORDER BY o_totalprice DESC) AS INT) AS drk,
       lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
         ORDER BY o_orderkey) AS next_key
       FROM orders""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy("o_custkey")
    t(s, d, "orders").select(col("o_orderkey"),
      row_number().over(byCust.orderBy(col("o_totalprice").desc,
        col("o_orderkey"))).as("rn"),
      dense_rank().over(byCust.orderBy(col("o_totalprice").desc)).as("drk"),
      lead("o_orderkey", 1).over(byCust.orderBy("o_orderkey")).as("next_key"))
  }

  // Top-N per group — the pattern Catalyst plans as a partial window sort;
  // no global shuffle of losers.
  define("q23_topn_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
       SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
       FROM orders) WHERE rn <= 3""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3).drop("rn")
  }

  // Top-k per group as an AGGREGATE (custom TypedImperativeAggregate,
  // functions/TopKAgg.scala) — q23's semantics with a fundamentally
  // better plan: the map side keeps a size-k heap per group and the
  // shuffle moves ≤ k pairs per (partition, group) instead of every row
  // of every group through a sort. The rank comes from posexplode over
  // the best-first array; same total order as the oracle's row_number
  // (value DESC, ties to the smaller id).
  define("q44_topk_agg",
    """SELECT o_custkey, CAST(rn AS INT) AS rank, o_orderkey,
         o_totalprice
       FROM (
       SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
       FROM orders) WHERE rn <= 3""") { (s, d) =>
    import graft.functions.TopKAgg
    t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(TopKAgg.topKByValue(col("o_totalprice"), col("o_orderkey"), 3)
        .as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("o_orderkey"), col("col.value").as("o_totalprice"))
  }

  // Timestamp predicate pushed to the parquet scan + join + agg.
  define("q24_date_filter_join",
    """SELECT o_orderpriority, count(*) AS cnt,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY o_orderpriority""") { (s, d) =>
    val li = t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
  }

  // Conditional aggregation (pivot-style CASE inside aggregates).
  define("q25_conditional_agg",
    """SELECT l_returnflag,
       round(sum(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0 END), 2)
         AS big_rev,
       round(sum(CASE WHEN l_quantity <= 25 THEN l_extendedprice ELSE 0 END), 2)
         AS small_rev,
       CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discounted
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      round(sum(when(col("l_quantity") > 25, col("l_extendedprice"))
        .otherwise(0)), 2).as("big_rev"),
      round(sum(when(col("l_quantity") <= 25, col("l_extendedprice"))
        .otherwise(0)), 2).as("small_rev"),
      sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_discounted"))
  }

  // COUNT(DISTINCT) — Spark plans a two-phase distinct aggregate (expand +
  // partial) rather than collecting values.
  define("q26_count_distinct",
    """SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS cnt
       FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag").agg(
      countDistinct("l_partkey").as("n_parts"),
      countDistinct("l_suppkey").as("n_supps"),
      count(lit(1)).as("cnt"))
  }

  // ROLLUP grouping sets (absent in the reference; native in Spark/DuckDB).
  define("q27_rollup",
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""") { (s, d) =>
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
  }

  // CUBE with GROUPING markers: all 2² grouping combinations in one pass
  // (Spark expands to a single Expand + hash agg — one shuffle, not four
  // queries); grouping() flags distinguish "NULL data" from "rolled up".
  define("q39_cube",
    """SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""") { (s, d) =>
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
  }

  // Explicit GROUPING SETS (the general form rollup/cube specialize):
  // arbitrary user-chosen aggregation levels in ONE pass over the fact
  // table — Spark expands the sets via a single Expand node feeding one
  // hash aggregate, so adding a level costs a projection, not a rescan.
  define("q45_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                               (l_returnflag), ())""") { (s, d) =>
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
  }

  // Pivot (long → wide): one output column per status value. The value
  // list is EXPLICIT (Seq("F","O","P")) — at 100 TB the implicit form's
  // extra distinct-values job over the fact table is a full scan you
  // didn't ask for, and explicit values keep the output schema stable.
  define("q40_pivot",
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS P
       FROM orders GROUP BY 1""") { (s, d) =>
    t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      // empty pivot cells are NULL in Spark but 0 under SQL's FILTER
      // counts — align on 0
      .na.fill(0L, Seq("F", "O", "P"))
  }

  // Unpivot (wide → long): the inverse reshape, one row per (key, metric).
  // Pure projection+explode under the hood — no shuffle beyond the
  // source aggregate.
  define("q41_unpivot",
    """WITH a AS (
         SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY 1)
       SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
       UNION ALL
       SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a""") { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "metric", "value")
  }

  // Bounded window frame (ROWS BETWEEN): per-customer 3-order moving
  // average — the sliding-frame spec none of the other window gates
  // exercise. One shuffle on the partition key; the frame itself is a
  // per-partition streaming pass.
  define("q42_moving_avg",
    """SELECT o_custkey, o_orderkey,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
       FROM orders""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(avg("o_totalprice").over(w), 4).as("mavg3"))
  }

  // ==================================================================
  // §2.9 E2: the WarpDB dialect end-to-end (tokenizer → parser → Catalyst)
  // ==================================================================

  define("q10_dialect_sql",
    """SELECT l_returnflag AS flag, sum(l_quantity) AS sum_qty, count(*) AS n
       FROM lineitem WHERE l_discount > 0.04 GROUP BY l_returnflag
       HAVING count(l_quantity) > 100 ORDER BY sum_qty DESC LIMIT 3""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT l_returnflag AS flag, SUM(l_quantity) AS sum_qty,
         COUNT(*) AS n FROM lineitem WHERE l_discount > 0.04
         GROUP BY l_returnflag HAVING COUNT(l_quantity) > 100
         ORDER BY sum_qty DESC LIMIT 3""", float32 = false)
  }

  // AVG of 2-decimal money can land exactly on a half-cent (sum/count), where
  // Spark and DuckDB round() disagree — so the mean is computed as
  // round(sum,2)/count: both engines then divide the same two exact values.
  define("q11_dialect_having",
    """SELECT o_custkey, round(sum(o_totalprice), 2) / count(o_totalprice)
       AS avg_price FROM orders
       GROUP BY o_custkey
       HAVING count(o_totalprice) > 12 AND sum(o_totalprice) > 100
       ORDER BY o_custkey""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT o_custkey, round(SUM(o_totalprice), 2) / COUNT(o_totalprice)
         AS avg_price FROM orders GROUP BY o_custkey
         HAVING COUNT(o_totalprice) > 12 AND SUM(o_totalprice) > 100
         ORDER BY o_custkey""", float32 = false)
  }

  // §2.8 U1: runtime function registry (the `custom.cu` analog) used from
  // the dialect; `discount` is the reference's shipped example.
  define("q12_dialect_udf",
    """SELECT l_returnflag AS flag,
       round(sum(l_extendedprice * 0.9), 2) AS disc_rev
       FROM lineitem GROUP BY l_returnflag ORDER BY flag""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT l_returnflag AS flag,
         round(SUM(discount(l_extendedprice, 0.9)), 2) AS disc_rev
         FROM lineitem GROUP BY l_returnflag ORDER BY flag""", float32 = false)
  }

  // §2.8 U1, file-drop half: the reference picks up ANY function dropped
  // into ./custom.cu at query JIT time (/root/reference/src/jit.cpp:65-73).
  // Analog: a definitions file loaded at session start
  // (FunctionRegistry.fromFile); bodies are dialect expressions compiled to
  // native Catalyst columns, so the loaded functions stay inside whole-stage
  // codegen — note the oracle is the inlined arithmetic, proving the
  // function boundary dissolves.
  define("q35_file_udf",
    """SELECT l_returnflag AS flag,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS net_rev,
       round(max(l_extendedprice * l_discount), 2) AS max_rebate
       FROM lineitem GROUP BY l_returnflag ORDER BY flag""") { (s, d) =>
    import java.nio.file.Files
    val defsFile = Files.createTempFile("graft_custom_", ".fns")
    Files.write(defsFile,
      """// custom.cu-style file drop: scalar fns over query columns
        |net_price(p, disc, tax) = p * (1 - disc) * (1 + tax)
        |rebate(p, disc) = p * disc
        |""".stripMargin.getBytes("UTF-8"))
    try {
      val r = graft.functions.FunctionRegistry.fromFile(defsFile.toString)
      Engine.sqlWith(r,
        """SELECT l_returnflag AS flag,
           round(SUM(net_price(l_extendedprice, l_discount, l_tax)), 2) AS net_rev,
           round(MAX(rebate(l_extendedprice, l_discount)), 2) AS max_rebate
           FROM lineitem GROUP BY l_returnflag ORDER BY flag""",
        Tables.catalog(s, d), float32 = false)
    } finally Files.deleteIfExists(defsFile)
  }

  // File-drop functions under the reference's ACTUAL numeric regime:
  // float32 mode (q35 exercises natural-type mode only). The loaded body
  // compiles with the invoking query's float32 setting, so literals are
  // float32 and arithmetic is float arithmetic — here chosen float32-EXACT
  // (integer-valued l_quantity, *2 and /4 are exact in binary), so the
  // DuckDB REAL oracle matches without rounding: per-row values are exact
  // in both float32 and double, the double-accumulated sums are exact, and
  // the single final cast-to-REAL is deterministic on both engines.
  define("q38_file_udf_f32",
    """SELECT CAST(l_linenumber AS REAL) AS lineno,
       CAST(sum(CAST(l_quantity AS REAL) * 2 + CAST(l_quantity AS REAL) / 4) AS REAL) AS boosted,
       count(*) AS n
       FROM lineitem GROUP BY l_linenumber ORDER BY lineno""") { (s, d) =>
    import java.nio.file.Files
    val defsFile = Files.createTempFile("graft_custom_f32_", ".fns")
    Files.write(defsFile, "boosted(q) = q * 2 + q / 4\n".getBytes("UTF-8"))
    try {
      val r = graft.functions.FunctionRegistry.fromFile(defsFile.toString)
      // all-float32 regime means the GROUP BY key is float32 too (string
      // keys don't exist in the reference's one-type world)
      Engine.sqlWith(r,
        """SELECT l_linenumber AS lineno, SUM(boosted(l_quantity)) AS boosted,
           COUNT(*) AS n
           FROM lineitem GROUP BY l_linenumber ORDER BY lineno""",
        Tables.catalog(s, d), float32 = true)
    } finally Files.deleteIfExists(defsFile)
  }

  // Dialect join: dotted identifiers resolve across tables
  // (`sales.id` is ONE identifier in the reference tokenizer,
  // `/root/reference/src/expression.cpp:44-54`; join executed for real).
  define("q19_dialect_join",
    """SELECT n_name, round(sum(c_acctbal), 2) AS total_bal, count(*) AS n
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT nation.n_name AS n_name,
         round(SUM(customer.c_acctbal), 2) AS total_bal, COUNT(*) AS n
         FROM customer JOIN nation ON customer.c_nationkey = nation.n_nationkey
         GROUP BY nation.n_name ORDER BY n_name""", float32 = false)
  }

  // Dialect window (§2.5 W1 via the dialect front-end).
  define("q20_dialect_window",
    """SELECT l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber), 2)
         AS run_qty
       FROM lineitem""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT l_orderkey, l_linenumber,
         round(SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber), 2)
           AS run_qty
         FROM lineitem""", float32 = false)
  }

  // Dialect DISTINCT + value-context comparison (0/1 numeric, float
  // truthiness semantics of `/root/reference/src/warpdb.cpp:143-155`).
  define("q21_dialect_distinct",
    """SELECT DISTINCT l_linenumber,
       CAST(CAST(l_quantity > 25 AS INT) AS DOUBLE) AS is_big
       FROM lineitem ORDER BY l_linenumber""") { (s, d) =>
    Engine.sql(s, d,
      """SELECT DISTINCT l_linenumber, l_quantity > 25 AS is_big
         FROM lineitem ORDER BY l_linenumber""", float32 = false)
  }

  // ==================================================================
  // Text analysis (training-data-pipeline surface; TextFunctions)
  // ==================================================================

  define("t1_token_count",
    """SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
         AS n_bpeish
       FROM documents""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    t(s, d, "documents").select(col("doc_id"),
      TF.tokenCount(col("text")).cast("long").as("n_tokens"),
      TF.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
  }

  // Quality features: every term is pure per-row double arithmetic mirrored
  // exactly (same associativity) in the oracle → bitwise-equal, no rounding.
  define("t2_quality",
    """SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT)
         AS n_punct,
       least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
         + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) > 0.1 THEN 0.0
            ELSE 1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                   / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0 END) * 0.3
         + least(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS DOUBLE)
             / greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
         AS quality
       FROM documents""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    val c = col("text")
    val nTok = TF.tokenCount(c).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val punct = TF.punctCount(c).cast("double")
    val punctRatio = punct / greatest(length(c), lit(1)).cast("double")
    val punctScore = when(punctRatio > 0.1, lit(0.0))
      .otherwise(lit(1.0) - punctRatio * lit(10.0))
    val stopRatio = TF.wordHits(c, TF.stopwords("en")).cast("double") /
      greatest(nTok, lit(1.0))
    val stopScore = least(stopRatio * lit(5.0), lit(1.0))
    t(s, d, "documents").select(col("doc_id"),
      length(c).cast("long").as("n_chars"),
      TF.punctCount(c).cast("long").as("n_punct"),
      (lenScore * lit(0.4) + punctScore * lit(0.3) + stopScore * lit(0.3))
        .as("quality"))
  }

  define("t3_langid",
    """WITH h AS (
       SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           w -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], w))) AS h_de,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS h_en,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           w -> list_contains(['el','la','los','y','es','una','que','no'], w))) AS h_es,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           w -> list_contains(['le','la','les','et','est','une','que','pas'], w))) AS h_fr,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
           w -> list_contains(['de','le','shi','bu','wo','ni','ta','zai'], w))) AS h_zh
       FROM documents)
       SELECT doc_id,
         CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'en'
              WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
              WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
              WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
              WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
              ELSE 'zh' END AS pred_lang,
         (CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'en'
              WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
              WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
              WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
              WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
              ELSE 'zh' END) = lang AS is_correct
       FROM h""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    TF.withLangId(graft.operators.spread(
        t(s, d, "documents").select("doc_id", "lang", "text")), "text")
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_correct"))
  }

  // Fingerprint check via the count-distinct identity: distinct 64-bit
  // fingerprints == distinct normalized texts (collision odds ~n²/2⁶⁵).
  define("t4_fingerprint",
    """SELECT count(*) AS n_docs,
       count(DISTINCT trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_distinct_fp
       FROM documents""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    t(s, d, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(TF.fingerprint(col("text"))).as("n_distinct_fp"))
  }

  // ==================================================================
  // Deduplication family (operators.Dedup)
  // ==================================================================

  define("d1_exact_dedup",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_dups FROM documents
       GROUP BY trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))""") { (s, d) =>
    graft.operators.Dedup.exact(t(s, d, "documents"), "text", "doc_id")
  }

  // MinHash+LSH with exact-Jaccard verification — the output equals the
  // exact cross-join answer (recall loss < 1e-14 at J≥0.9; the data's pairs
  // all sit at J≥0.9 with nothing in (0.15, 0.9)).
  define("d2_minhash_lsh",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh FROM w)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
       FROM sh a, sh b
       WHERE a.doc_id < b.doc_id
         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             >= 0.5""") { (s, d) =>
    graft.operators.Dedup.minHashLsh(t(s, d, "documents"), "text", "doc_id",
      threshold = 0.5)
  }

  // Incremental dedup: corpus docs (doc_id % 5 != 0) are indexed once;
  // the "ingest batch" (doc_id % 5 == 0) is scored against itself + the
  // index without re-sketching history. Oracle: d2's exact cross-join
  // answer restricted to pairs with at least one batch endpoint — the
  // operator's contract (history-history pairs were reported when their
  // batches arrived).
  define("d9_incremental_neardup",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh FROM w)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
       FROM sh a, sh b
       WHERE a.doc_id < b.doc_id
         AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             >= 0.5""") { (s, d) =>
    import graft.operators.Dedup
    val all = t(s, d, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx_").toString
    val old = all.filter(col("doc_id") % 5 =!= 0)
    Dedup.buildMinHashIndex(old, "text", "doc_id", dir)
    Dedup.nearDupAgainstIndex(all.filter(col("doc_id") % 5 === 0), old,
      dir, "text", "doc_id", threshold = 0.5)
  }

  // Exact n-gram (word-bigram) Jaccard via inverted-index join — no
  // sketching, so the oracle is the same computation done by cross join.
  define("d4_ngram_jaccard",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 1),
           i -> wds[i] || ' ' || wds[i+1])) AS sh FROM w)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
       FROM sh a, sh b
       WHERE a.doc_id < b.doc_id
         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             >= 0.5""") { (s, d) =>
    graft.operators.Dedup.ngramJaccard(t(s, d, "documents"), "text", "doc_id",
      threshold = 0.5, shingleSize = 2, maxDf = 1000000L)
  }

  // SimHash near-dup with the PORTABLE (md5-family, 60-bit) fingerprint:
  // md5 is bit-identical across engines, so DuckDB recomputes the exact
  // signatures and takes exact ALL-PAIRS hamming — a differential oracle
  // for the whole pipeline (tokenize → fingerprint → pigeonhole blocking →
  // hamming verify), since pigeonhole candidate recall is total by
  // construction (Manku'07). The FNV fast path stays the production
  // default; its pigeonhole exactness + guard are property-tested in
  // PipelineSpec.
  define("d3_simhash",
    """WITH nrm AS (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         FROM documents),
       tok AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(norm), '\s+')) AS tok
         FROM nrm),
       th AS (
         SELECT doc_id, CAST(list_sum(list_transform(range(1, 16),
           p -> (strpos('0123456789abcdef', md5(tok)[p]) - 1)
                * (1::BIGINT << (4*(15-p))))) AS BIGINT) AS h
         FROM tok),
       bits AS (
         SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM th, range(0, 60) t(i) GROUP BY doc_id, i),
       sig AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sig
         FROM bits GROUP BY doc_id)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       FROM sig a, sig b
       WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3""") { (s, d) =>
    graft.operators.Dedup.simHashPortable(t(s, d, "documents"), "text", "doc_id")
  }

  // Embedding near-dup, exact path (threshold 0.47 sits in a gap of the
  // cosine distribution, so DuckDB's float32-accumulated cosine agrees on
  // the pair SET even though raw similarity values differ at ~1e-8).
  define("d5_embedding_neardup",
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id
       FROM embeddings a, embeddings b
       WHERE a.vec_id < b.vec_id
         AND list_cosine_similarity(a.embedding, b.embedding) >= 0.47""") { (s, d) =>
    graft.operators.Dedup.embeddingNearDup(t(s, d, "embeddings"),
      "embedding", "vec_id", threshold = 0.47, bruteForce = true)
      .select("a_id", "b_id")
  }

  // LSH-blocked embedding near-dup — the 100 TB path. Exact-cosine
  // verification makes the output a SUBSET of the brute-force answer by
  // construction; on this (deterministic) data the banded-LSH recall is
  // 1.0, so the same cross-join oracle applies. PipelineSpec asserts the
  // subset + recall properties independently of the data.
  define("d6_embedding_neardup_lsh",
    """SELECT a.vec_id AS a_id, b.vec_id AS b_id
       FROM embeddings a, embeddings b
       WHERE a.vec_id < b.vec_id
         AND list_cosine_similarity(a.embedding, b.embedding) >= 0.47""") { (s, d) =>
    // 64 bits / 32 two-bit bands (vs the operator's 16/8 default): at this
    // gate's low threshold (0.47 → band-agreement prob ≈ 0.43) the default
    // misses an at-threshold pair with p ≈ 1.1% per pair — a visible loss
    // once the corpus is big enough to carry dozens of near-threshold
    // pairs (4/57 at sf0.1). At 32 bands the miss is ~1e-8: the
    // exact-cosine verify sees a full candidate superset at every test
    // SF. Production calls at τ ≥ 0.8 keep the leaner default — band
    // count is the recall/cost knob and low thresholds need more of it.
    // (Chasing this miss also exposed the biased uniform hyperplane
    // family — see RandomHyperplaneSignature.coeff — whose per-pair
    // agreement could sit far below 1 − θ/π; now Gaussian.)
    graft.operators.Dedup.embeddingNearDup(t(s, d, "embeddings"),
      "embedding", "vec_id", threshold = 0.47, bruteForce = false,
      bits = 64, bands = 32)
      .select("a_id", "b_id")
  }

  // Event-sequence funnel: users completing view → click → purchase in
  // order (each stage's earliest qualifying timestamp gates the next) —
  // three small per-user aggregates chained by inequality joins; at scale
  // each stage shuffles one row per user, not per event.
  define("q28_funnel",
    """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
         JOIN v ON e.user_id = v.user_id AND epoch_ns(e.ts) > v.t
         WHERE e.event_type = 'click' GROUP BY e.user_id),
       p AS (SELECT e.user_id FROM events e
         JOIN c ON e.user_id = c.user_id AND epoch_ns(e.ts) > c.t
         WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       SELECT count(*) AS n_converted FROM p""") { (s, d) =>
    val ev = t(s, d, "events").select("user_id", "event_type", "ts")
    def stageAfter(prev: DataFrame, eventType: String): DataFrame = {
      val e = ev.filter(col("event_type") === eventType)
        .select(col("user_id").as("u"), col("ts"))
      e.join(prev, e("u") === prev("user_id") && col("ts") > prev("t"))
        .groupBy("u").agg(min("ts").as("t"))
        .withColumnRenamed("u", "user_id")
    }
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t"))
    val p = stageAfter(stageAfter(v, "click"), "purchase")
    p.agg(count(lit(1)).as("n_converted"))
  }

  // Staged full-corpus dedup: exact collapse → MinHash+LSH on
  // representatives → greedy keep. 7.7× faster than sketching the raw
  // corpus on a 10×-duplicated soak (see NOTES.md).
  define("d7_dedup_corpus",
    """WITH fp AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm FROM documents),
       reps AS (SELECT norm, min(doc_id) AS rep FROM fp GROUP BY norm),
       m AS (SELECT f.doc_id AS id, r.rep FROM fp f JOIN reps r ON f.norm = r.norm),
       w AS (SELECT d.doc_id, regexp_split_to_array(trim(d.text), '\s+') AS wds
         FROM documents d JOIN reps r ON d.doc_id = r.rep),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh FROM w),
       pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a, sh b
         WHERE a.doc_id < b.doc_id
           AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               >= 0.5),
       dropped AS (SELECT DISTINCT b_id AS rep FROM pairs)
       SELECT m.id AS id, m.rep AS rep,
         (m.id = m.rep AND dropped.rep IS NULL) AS keep
       FROM m LEFT JOIN dropped ON m.rep = dropped.rep""") { (s, d) =>
    graft.operators.Dedup.dedupCorpus(t(s, d, "documents"), "text", "doc_id",
      threshold = 0.5)
  }

  // ==================================================================
  // Similarity search (operators.Similarity)
  // ==================================================================

  define("s1_ann_brute",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
      "embedding", "vec_id", k = 5)
      .select("q_id", "n_id", "rank")
  }

  // Multi-probe banded LSH: candidate recall is total on this data, and the
  // exact-cosine re-rank then reproduces the brute-force answer — so the
  // same window oracle applies. PipelineSpec asserts recall independently.
  define("s2_ann_lsh",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Similarity.lshTopK(
      emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
      "embedding", "vec_id", k = 5)
      .select("q_id", "n_id", "rank")
  }

  // Persisted-index ANN: the corpus signature pass is paid once into a
  // parquet (id, band, bucket) table + a params side table; the query
  // reads the index instead of recomputing signatures. Same exact-re-rank
  // argument as s2 → same brute-force window oracle.
  define("s5_ann_lsh_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s5_$d") { p =>
      Similarity.buildLshIndex(corpus, "embedding", "vec_id", p)
    }
    Similarity.lshTopKFromIndex(emb.filter(col("vec_id") < 5), corpus, idx,
      "embedding", "vec_id", k = 5)
      .select("q_id", "n_id", "rank")
  }

  // Product-quantization ANN (Jégou'11): corpus stored as 16×4-bit codes
  // (8 B/vector vs 256 B float32 — 32×), queries score codes via ADC
  // lookup tables, exact cosine re-ranks the top-192 candidates. Candidate
  // coverage of the true top-5 is total at these parameters (PipelineSpec
  // asserts it independently; NOTES.md records the recall curve), so
  // the exact re-rank reproduces the brute-force answer and the same
  // window oracle applies.
  define("s6_ann_pq",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val book = Similarity.pqTrain(corpus, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(corpus, book, "embedding", "vec_id",
      dim = 64, m = 16)
    // rerank = 1024 (was 192) across the five ADC gates: the re-rank
    // budget is the PQ recall knob, and a FIXED budget that blankets a
    // 500-vector corpus is only 4% of sf0.1's — the cross-SF sweep showed
    // ADC's top-192 dropping true top-5 neighbors there. 1024 covers
    // sf0.01 outright and 20% of sf0.1 (verified full-recall by sweep);
    // production sizes rerank to corpus count and recall target, not a
    // constant.
    Similarity.pqTopK(queries, corpus, codes, book, "embedding", "vec_id",
      dim = 64, m = 16, k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // Persisted PQ index: train+encode once to parquet (codebook + codes +
  // params), query from the stored codes — no per-batch train or encode.
  // Same parameters as s6, so the same candidate-coverage argument makes
  // the brute-force window oracle apply.
  define("s9_ann_pq_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s9_$d") { p =>
      Similarity.buildPqIndex(corpus, "embedding", "vec_id", p,
        dim = 64, m = 16, k = 16)
    }
    Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 5), corpus, idx,
      "embedding", "vec_id", k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // OPQ — eigenvalue-allocated rotation before the PQ split (Ge et al.
  // CVPR'13, parametric). Candidates come from rotated-space ADC; the
  // exact-cosine re-rank runs on the ORIGINAL vectors, so the s6 oracle
  // argument transfers unchanged: at rerank=192 the candidates cover the
  // true top-5 (cosine is rotation-invariant, and the rotation can only
  // improve ADC resolution — PipelineSpec asserts brute-force equality and
  // the MSE win on structured data).
  define("s8_ann_opq",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val rot = Similarity.opqRotation(corpus, "embedding", dim = 64, m = 16)
    val rc = Similarity.rotate(corpus, "embedding", rot)
    val book = Similarity.pqTrain(rc, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(rc, book, "embedding", "vec_id",
      dim = 64, m = 16)
    Similarity.opqTopK(queries, corpus, codes, book, rot, "embedding",
      "vec_id", dim = 64, m = 16, k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // Persisted OPQ index: rotation + codebook + rotated-space codes stored
  // once; queries rotate themselves and read stored codes. Same
  // parameters and re-rank as s8 (candidates from rotated ADC, exact
  // cosine on ORIGINAL vectors), so s8's oracle argument transfers.
  define("s10_ann_opq_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s10_$d") { p =>
      Similarity.buildOpqIndex(corpus, "embedding", "vec_id", p,
        dim = 64, m = 16, k = 16)
    }
    Similarity.opqTopKFromIndex(emb.filter(col("vec_id") < 5), corpus, idx,
      "embedding", "vec_id", k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // SQ8 scalar-quantized ANN — the 4×-compression middle rung between
  // raw float32 and PQ's 32×: one byte per dimension, scored by the
  // codegen'd byte-loop `sq8_dot` with the query batch broadcast (corpus
  // codes never shuffle), exact-cosine re-rank on the originals. rerank
  // = 1024 blankets the gate corpora (the s6 coverage argument), so the
  // brute-force window oracle applies; PipelineSpec asserts the
  // approximate ranking's own recall separately at tight budgets.
  define("s16_ann_sq8",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val bounds = Similarity.sq8Train(corpus, "embedding", dim = 64)
    val codes = Similarity.sq8Encode(corpus, bounds, "embedding", "vec_id")
    Similarity.sq8TopK(queries, corpus, codes, bounds, "embedding",
      "vec_id", k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // Persisted SQ8 index: bounds + byte codes stored once (compaction-
  // managed codes lineage), queries serve from the stored files — same
  // parameters as s16, so the same coverage argument applies.
  define("s17_ann_sq8_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s17_$d") { p =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", p, dim = 64)
    }
    Similarity.sq8TopKFromIndex(emb.filter(col("vec_id") < 5), corpus, idx,
      "embedding", "vec_id", k = 5, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // ANN recall as a HARD quality gate (round-14): the s-family serves
  // are oracled for DETERMINISM, and drift tripwires exist (s18/st27),
  // but neither catches an index-QUALITY regression — bad centroids, a
  // mis-tuned nprobe, or a garbage codebook stay perfectly
  // deterministic. This gate measures recall@5 of the three persisted
  // serving rungs (IVF, IVFPQ, SQ8 — REUSING s11/s12/s17's session
  // indexes, whose builds calibrate at recall target 1.0 on this very
  // query set) against the s1 brute ranking via Similarity.recallAtK,
  // enforces measured == 1.0 in-gate (round-15: the floor IS the
  // calibration target — a regression into [0.9, 1.0) must fail here
  // too, not only in oracled runs; Bench and the soaks run un-oracled),
  // and emits the measured values. The oracle does NOT recompute
  // recall (the served rankings aren't reproducible relationally
  // without replaying the index builds); it PINS the expected
  // calibrated constant 1.0 per family — the measured values
  // hash-compare against it, and the brute reference side is
  // independently oracled by s1. Sensitivity is pinned in
  // PipelineSpec: a deliberately degraded serve (nprobe = 1) measures
  // recall < 1 and is caught by the same computation.
  define("s22_ann_recall_floor",
    """SELECT family, CAST(1.0 AS DOUBLE) AS recall
       FROM (VALUES ('ivf'), ('ivfpq'), ('sq8')) AS f(family)
       ORDER BY family""") { (s, d) =>
    import graft.operators.Similarity
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    // the brute reference feeds three recall computations (two actions
    // each) — cache the slim (q_id, n_id, rank) frame, not the corpus
    val brute = graft.operators.CacheScope.global.cache(
      Similarity.bruteForceTopK(queries, corpus, "embedding",
        "vec_id", k = 5))
    val ivfIdx = sessionIndexDir(s"s11_$d") { p =>
      Similarity.buildIvfIndex(corpus, "embedding", "vec_id", p, cells = 10)
      Similarity.calibrateIvfIndex(queries, p, "embedding", "vec_id",
        k = 5, recallTarget = 1.0)
    }
    val ivfpqIdx = sessionIndexDir(s"s12_$d") { p =>
      Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id", p,
        dim = 64, m = 16, cells = 10, k = 16)
      Similarity.calibrateIvfPqIndex(queries, p, "embedding", "vec_id",
        k = 5, recallTarget = 1.0)
    }
    val sq8Idx = sessionIndexDir(s"s17_$d") { p =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", p, dim = 64)
    }
    // one batched recall computation: the three serves ride ONE tagged
    // union-join-aggregate action (recallAtKMany) instead of two actions
    // per family — same arithmetic, same measured values
    val measuredMap = Similarity.recallAtKMany(Seq(
      "ivf" -> Similarity.ivfTopKFromIndex(queries, ivfIdx, "embedding",
        "vec_id", k = 5),
      "ivfpq" -> Similarity.ivfPqTopKFromIndex(queries, ivfpqIdx, "embedding",
        "vec_id", k = 5),
      "sq8" -> Similarity.sq8TopKFromIndex(queries, corpus, sq8Idx,
        "embedding", "vec_id", k = 5, rerank = 1024)), brute)
    val measured = Seq("ivf", "ivfpq", "sq8").map(f => f -> measuredMap(f))
    measured.foreach { case (f, r) =>
      require(r == 1.0, s"ANN recall floor violated: $f recall@5 = $r " +
        "(calibration targets 1.0 on this query set — any drop is a " +
        "quality regression, oracled run or not)")
    }
    measured.toDF("family", "recall").orderBy("family")
  }

  // The LSH rung of the recall floor (round-15): s22 gates the
  // IVF/IVFPQ/SQ8 persisted serves, but the LSH family's `family` tag
  // guards hyperplane IDENTITY, not QUALITY — a banding mis-tune or a
  // degenerate seed stays deterministic and invisible to every other
  // tripwire. Same machinery: measured recall@5 of lshTopKFromIndex
  // (multi-probe — the production serving config, REUSING s5's session
  // index) against the s1 brute ranking. LSH recall < 1 by design in
  // general, so the floor is the CALIBRATED DESIGN recall on this
  // fixture — which is 1.0: s5's own oracle is the exact brute window
  // and is green at every SF, i.e. at (bits=16, bands=8, multi-probe)
  // the candidate sets provably cover the true top-5 here. The oracle
  // pins that calibrated constant (recall is not relationally
  // recomputable — see s22); sensitivity is pinned in PipelineSpec: a
  // deliberately degraded config (single-probe coarse bands on an
  // adversarial two-cluster fixture) measures < 1 and is caught by the
  // same computation.
  define("s24_lsh_recall_floor",
    """SELECT CAST('lsh_multiprobe' AS VARCHAR) AS family,
              CAST(1.0 AS DOUBLE) AS recall""") { (s, d) =>
    import graft.operators.Similarity
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val brute = graft.operators.CacheScope.global.cache(
      Similarity.bruteForceTopK(queries, corpus, "embedding",
        "vec_id", k = 5))
    val lshIdx = sessionIndexDir(s"s5_$d") { p =>
      Similarity.buildLshIndex(corpus, "embedding", "vec_id", p)
    }
    val r = Similarity.recallAtK(
      Similarity.lshTopKFromIndex(queries, corpus, lshIdx, "embedding",
        "vec_id", k = 5), brute)
    require(r == 1.0, s"LSH recall floor violated: recall@5 = $r " +
      "(bits=16/bands=8 multi-probe covers the true top-5 on this " +
      "fixture by calibration — any drop is a banding/seed regression)")
    Seq(("lsh_multiprobe", r)).toDF("family", "recall")
  }

  // Auto-compaction cadence on the ANN ingest path (round-15 — the
  // last append family without it): each IVF append lands one sliver
  // file per TOUCHED `cell=` dir, so at daily-ingest cadence a serving
  // batch's partition-pruned scan pays a listing/footer tax that grows
  // without bound until a fold. Here the appender folds its OWN index
  // at the part-file threshold (single-writer by identity: the
  // compactor IS the appender, and the fold opens at the epoch the
  // append just bumped — the st33 argument on the batch path). The
  // threshold listing is RECURSIVE because the part files live inside
  // `cell=` dirs — a top-level count would never fire. A fold rewrites
  // the same (n_id, vec, cell) rows into one file per cell, so the
  // serve is invariant: built on a PARTIAL corpus, appended to full in
  // two batches, served exact (nprobe = cells), the s11 brute-window
  // oracle transfers verbatim — appended vectors are provably visible
  // THROUGH the fold. The gate REQUIRES the fold to have fired (the
  // live data dir must be a pointer-resolved generation).
  define("s25_ivf_append_autocompact",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val idx = sessionIndexDir(s"s25_$d") { p =>
      Similarity.buildIvfIndex(
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 250),
        "embedding", "vec_id", p, cells = 10)
      Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0),
        "embedding", "vec_id", p, compactFileThreshold = 1)
      Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 1),
        "embedding", "vec_id", p, compactFileThreshold = 1)
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(p, "cells")).getFileName.toString
      require(live.startsWith("cells.g"),
        s"auto-compaction never fired on the ANN append path: live dir is $live")
    }
    Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 5), idx,
      "embedding", "vec_id", k = 5, nprobe = 10)
      .select("q_id", "n_id", "rank")
  }

  // SQ8 drift check — the ivfDriftCheck contract for scalar quantization:
  // appends encode against FROZEN per-dimension bounds (out-of-range
  // clamps), so a drifted batch's midpoint-reconstruction error grows
  // past the build corpus's own base_err and values start landing outside
  // the trained range. The gate probes the SAME persisted index as s17
  // with (a) the build corpus itself — ratio exactly 1, oob 0 — and (b) a
  // copy whose first dimension spikes to 10 (a new source with a hot
  // feature), whose post-normalization values escape the trained range
  // (a uniform +c shift does NOT drift — normalization folds it back
  // inside the envelope; measured ratio 0.997 — so the probe batch must
  // change SHAPE, not offset). The oracle replays the arithmetic relationally
  // (unit-normalize, per-dim min/max bounds, clamped floor codes,
  // midpoint reconstruction) in the identical operation order; only the
  // final means/ratios round (6dp), per the float-parity house rule.
  define("s18_sq8_drift",
    """WITH pos AS (SELECT unnest(generate_series(1, 64)) AS i),
       braw AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
       sh AS (SELECT vec_id, list_transform(embedding,
                (e, j) -> CASE WHEN j = 1 THEN CAST(10.0 AS REAL)
                          ELSE e END) AS embedding
              FROM braw),
       un AS (SELECT vec_id, CASE WHEN nrm = 0 THEN
                list_transform(embedding, e -> CAST(0.0 AS REAL))
                ELSE list_transform(embedding, e -> CAST(e / nrm AS REAL))
                END AS uv
              FROM (SELECT vec_id, embedding,
                      sqrt(list_reduce(list_transform(embedding,
                        e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm FROM braw)),
       us AS (SELECT vec_id, CASE WHEN nrm = 0 THEN
                list_transform(embedding, e -> CAST(0.0 AS REAL))
                ELSE list_transform(embedding, e -> CAST(e / nrm AS REAL))
                END AS uv
              FROM (SELECT vec_id, embedding,
                      sqrt(list_reduce(list_transform(embedding,
                        e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)),
                        (a, b) -> a + b)) AS nrm FROM sh)),
       b AS (SELECT i, CAST(min(uv[i]) AS DOUBLE) AS mn,
               (CAST(max(uv[i]) AS DOUBLE) - CAST(min(uv[i]) AS DOUBLE))
                 / 255.0 AS st
             FROM un CROSS JOIN pos GROUP BY i),
       ein AS (SELECT vec_id,
                 sum(CASE WHEN st > 0 THEN (x - rec) * (x - rec)
                      ELSE (x - mn) * (x - mn) END) AS e,
                 sum(CASE WHEN st > 0 THEN
                        (CASE WHEN rw < 0 OR rw > 255 THEN 1 ELSE 0 END)
                      ELSE (CASE WHEN x <> mn THEN 1 ELSE 0 END) END) AS o
               FROM (SELECT vec_id, x, mn, st, rw,
                       mn + (least(greatest(rw, 0), 255) + 0.5) * st AS rec
                     FROM (SELECT vec_id, CAST(uv[i] AS DOUBLE) AS x, mn,
                             st, CASE WHEN st > 0 THEN
                               floor((CAST(uv[i] AS DOUBLE) - mn) / st)
                             END AS rw
                           FROM un CROSS JOIN pos JOIN b USING (i)))
               GROUP BY vec_id),
       esh AS (SELECT vec_id,
                 sum(CASE WHEN st > 0 THEN (x - rec) * (x - rec)
                      ELSE (x - mn) * (x - mn) END) AS e,
                 sum(CASE WHEN st > 0 THEN
                        (CASE WHEN rw < 0 OR rw > 255 THEN 1 ELSE 0 END)
                      ELSE (CASE WHEN x <> mn THEN 1 ELSE 0 END) END) AS o
               FROM (SELECT vec_id, x, mn, st, rw,
                       mn + (least(greatest(rw, 0), 255) + 0.5) * st AS rec
                     FROM (SELECT vec_id, CAST(uv[i] AS DOUBLE) AS x, mn,
                             st, CASE WHEN st > 0 THEN
                               floor((CAST(uv[i] AS DOUBLE) - mn) / st)
                             END AS rw
                           FROM us CROSS JOIN pos JOIN b USING (i)))
               GROUP BY vec_id),
       ain AS (SELECT avg(e) AS be, sum(o) AS oo, count(*) AS n FROM ein),
       ash AS (SELECT avg(e) AS be, sum(o) AS oo, count(*) AS n FROM esh),
       base AS (SELECT be AS base_err FROM ain)
       SELECT 'in_dist' AS batch, round(base_err, 6) AS base_err,
         round(be, 6) AS batch_err,
         round(be / greatest(base_err, 1e-12), 6) AS ratio,
         round(CAST(oo AS DOUBLE) / (n * 64), 6) AS oob_frac
       FROM ain CROSS JOIN base
       UNION ALL
       SELECT 'shifted' AS batch, round(base_err, 6) AS base_err,
         round(be, 6) AS batch_err,
         round(be / greatest(base_err, 1e-12), 6) AS ratio,
         round(CAST(oo AS DOUBLE) / (n * 64), 6) AS oob_frac
       FROM ash CROSS JOIN base""") { (s, d) =>
    import s.implicits._
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s17_$d") { p =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", p, dim = 64)
    }
    val shifted = corpus.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, lit(10.0f)).otherwise(x)).as("embedding"))
    val rIn = Similarity.sq8DriftCheck(corpus, "embedding", idx)
    val rSh = Similarity.sq8DriftCheck(shifted, "embedding", idx)
    Seq(
      ("in_dist", rIn.baseErr, rIn.batchErr, rIn.ratio, rIn.outOfRangeFrac),
      ("shifted", rSh.baseErr, rSh.batchErr, rSh.ratio, rSh.outOfRangeFrac))
      .toDF("batch", "base_err", "batch_err", "ratio", "oob_frac")
      .select(col("batch"),
        round(col("base_err"), 6).as("base_err"),
        round(col("batch_err"), 6).as("batch_err"),
        round(col("ratio"), 6).as("ratio"),
        round(col("oob_frac"), 6).as("oob_frac"))
  }

  // Engine-portable Lloyd's k-means (2 iterations, k=4): the ORACLE-
  // CHECKED clustering rung — kmeansCells (MLlib, IVF training) and
  // pqTrain (in-memory k-means++) are seeded-deterministic but not
  // reproducible outside Spark; this one is: deterministic
  // FARTHEST-FIRST init (c0 = smallest-id vector, then argmin over the
  // max 6dp cosine to the chosen set, ties to the smallest id — each
  // selection step unrolled below as one slim cosine CTE + one ranked
  // pick), 6dp-rounded cosine argmax assignment (fused projection over
  // literal centroids — NO join, NO corpus shuffle), 6dp-rounded
  // component means, empty clusters keep their previous centroid. The
  // oracle unrolls init and both iterations relationally — every
  // intermediate (selection, assignment, means) is engine-exact by the
  // rounding discipline, so the final assignment matches bit for bit.
  private val kmeansOracleSql: String =
    """WITH grid AS (SELECT unnest(generate_series(0, 63)) AS pos),
       na AS (SELECT vec_id,
                sum(CAST(embedding[pos + 1] AS DOUBLE)
                  * CAST(embedding[pos + 1] AS DOUBLE)) AS na
              FROM embeddings, grid GROUP BY vec_id),
       i0 AS (SELECT min(vec_id) AS id FROM embeddings),
       d0i AS (SELECT a.vec_id AS a,
                 sum(CAST(a.embedding[pos + 1] AS DOUBLE)
                   * CAST(b.embedding[pos + 1] AS DOUBLE)) AS dot
               FROM embeddings a, embeddings b, grid, i0
               WHERE b.vec_id = i0.id GROUP BY a.vec_id),
       c0s AS (SELECT d0i.a,
                 round(d0i.dot / (sqrt(xa.na) * sqrt(xb.na)), 6) AS cos
               FROM d0i JOIN na xa ON xa.vec_id = d0i.a
               CROSS JOIN i0 JOIN na xb ON xb.vec_id = i0.id),
       i1 AS (SELECT a AS id FROM (
                SELECT c0s.a, row_number() OVER (ORDER BY c0s.cos ASC,
                    c0s.a ASC) AS rk
                FROM c0s, i0 WHERE c0s.a <> i0.id) WHERE rk = 1),
       d1i AS (SELECT a.vec_id AS a,
                 sum(CAST(a.embedding[pos + 1] AS DOUBLE)
                   * CAST(b.embedding[pos + 1] AS DOUBLE)) AS dot
               FROM embeddings a, embeddings b, grid, i1
               WHERE b.vec_id = i1.id GROUP BY a.vec_id),
       c1s AS (SELECT d1i.a,
                 round(d1i.dot / (sqrt(xa.na) * sqrt(xb.na)), 6) AS cos
               FROM d1i JOIN na xa ON xa.vec_id = d1i.a
               CROSS JOIN i1 JOIN na xb ON xb.vec_id = i1.id),
       i2 AS (SELECT a AS id FROM (
                SELECT c0s.a, row_number() OVER (
                    ORDER BY greatest(c0s.cos, c1s.cos) ASC,
                    c0s.a ASC) AS rk
                FROM c0s JOIN c1s ON c0s.a = c1s.a, i0, i1
                WHERE c0s.a NOT IN (i0.id, i1.id)) WHERE rk = 1),
       d2i AS (SELECT a.vec_id AS a,
                 sum(CAST(a.embedding[pos + 1] AS DOUBLE)
                   * CAST(b.embedding[pos + 1] AS DOUBLE)) AS dot
               FROM embeddings a, embeddings b, grid, i2
               WHERE b.vec_id = i2.id GROUP BY a.vec_id),
       c2s AS (SELECT d2i.a,
                 round(d2i.dot / (sqrt(xa.na) * sqrt(xb.na)), 6) AS cos
               FROM d2i JOIN na xa ON xa.vec_id = d2i.a
               CROSS JOIN i2 JOIN na xb ON xb.vec_id = i2.id),
       i3 AS (SELECT a AS id FROM (
                SELECT c0s.a, row_number() OVER (
                    ORDER BY greatest(c0s.cos, c1s.cos, c2s.cos) ASC,
                    c0s.a ASC) AS rk
                FROM c0s JOIN c1s ON c0s.a = c1s.a
                JOIN c2s ON c0s.a = c2s.a, i0, i1, i2
                WHERE c0s.a NOT IN (i0.id, i1.id, i2.id)) WHERE rk = 1),
       init AS (SELECT CAST(0 AS INT) AS cl, embedding
                  FROM embeddings, i0 WHERE vec_id = i0.id
                UNION ALL SELECT CAST(1 AS INT), embedding
                  FROM embeddings, i1 WHERE vec_id = i1.id
                UNION ALL SELECT CAST(2 AS INT), embedding
                  FROM embeddings, i2 WHERE vec_id = i2.id
                UNION ALL SELECT CAST(3 AS INT), embedding
                  FROM embeddings, i3 WHERE vec_id = i3.id),
       c0 AS (SELECT cl, pos, CAST(embedding[pos + 1] AS DOUBLE) AS c
              FROM init, grid),
       nb1 AS (SELECT cl, sum(c * c) AS nb FROM c0 GROUP BY cl),
       d1 AS (SELECT e.vec_id, c.cl,
                sum(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c) AS dot
              FROM embeddings e CROSS JOIN c0 c GROUP BY e.vec_id, c.cl),
       cos1 AS (SELECT d.vec_id, d.cl,
                  round(d.dot / (sqrt(na.na) * sqrt(nb1.nb)), 6) AS cos
                FROM d1 d JOIN na USING (vec_id) JOIN nb1 USING (cl)),
       a1 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cl) AS rk FROM cos1) WHERE rk = 1),
       m1 AS (SELECT a1.cl, pos,
                round(avg(CAST(e.embedding[pos + 1] AS DOUBLE)), 6) AS c
              FROM embeddings e JOIN a1 USING (vec_id), grid
              GROUP BY a1.cl, pos),
       c1 AS (SELECT c0.cl, c0.pos, coalesce(m1.c, c0.c) AS c
              FROM c0 LEFT JOIN m1 ON c0.cl = m1.cl AND c0.pos = m1.pos),
       nb2 AS (SELECT cl, sum(c * c) AS nb FROM c1 GROUP BY cl),
       d2 AS (SELECT e.vec_id, c.cl,
                sum(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c) AS dot
              FROM embeddings e CROSS JOIN c1 c GROUP BY e.vec_id, c.cl),
       cos2 AS (SELECT d.vec_id, d.cl,
                  round(d.dot / (sqrt(na.na) * sqrt(nb2.nb)), 6) AS cos
                FROM d2 d JOIN na USING (vec_id) JOIN nb2 USING (cl)),
       a2 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, cl) AS rk FROM cos2) WHERE rk = 1),
       m2 AS (SELECT a2.cl, pos,
                round(avg(CAST(e.embedding[pos + 1] AS DOUBLE)), 6) AS c
              FROM embeddings e JOIN a2 USING (vec_id), grid
              GROUP BY a2.cl, pos),
       c2 AS (SELECT c1.cl, c1.pos, coalesce(m2.c, c1.c) AS c
              FROM c1 LEFT JOIN m2 ON c1.cl = m2.cl AND c1.pos = m2.pos),
       nb3 AS (SELECT cl, sum(c * c) AS nb FROM c2 GROUP BY cl),
       d3 AS (SELECT e.vec_id, c.cl,
                sum(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c) AS dot
              FROM embeddings e CROSS JOIN c2 c GROUP BY e.vec_id, c.cl),
       cos3 AS (SELECT d.vec_id, d.cl,
                  round(d.dot / (sqrt(na.na) * sqrt(nb3.nb)), 6) AS cos
                FROM d3 d JOIN na USING (vec_id) JOIN nb3 USING (cl))
       SELECT vec_id, CAST(cl AS INT) AS cluster, cos FROM (
         SELECT vec_id, cl, cos, row_number() OVER (PARTITION BY vec_id
           ORDER BY cos DESC, cl) AS rk FROM cos3) WHERE rk = 1"""

  define("s19_kmeans", kmeansOracleSql) { (s, d) =>
    graft.operators.Similarity.kmeans(
      t(s, d, "embeddings"), "embedding", "vec_id", k = 4, iters = 2)
  }

  // Persisted k-means model (fit once, commit via generation + atomic
  // pointer, assign from the stored centroid table): per-vector
  // independence means assignment-under-the-model equals the one-shot
  // s19 final assignment — the oracle transfers verbatim. Completes
  // the fit/persist/serve triad for clustering.
  define("s20_kmeans_persisted", kmeansOracleSql) { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val dir = sessionIndexDir(s"km_$d") { p =>
      Similarity.saveKmeansModel(
        Similarity.kmeansFit(emb, "embedding", "vec_id", k = 4,
          iters = 2),
        s"$p/km", k = 4, dim = 64)
    }
    Similarity.assignToCentroids(emb,
        Similarity.loadKmeansModel(s, s"$dir/km"), "embedding", "vec_id")
      .select(col("vec_id"), col("topic").as("cluster"),
        col("topic_cos").as("cos"))
  }

  // Cluster-quality report — the k-selection telemetry (sizes, mean
  // and worst member cosine per cluster): one slim agg over the s19
  // assignment; the oracle nests the full unrolled k-means as a
  // subquery and aggregates identically (avg of rounded cosines is
  // re-rounded on both sides — accumulation order).
  define("s21_kmeans_quality",
    s"""SELECT cluster, CAST(count(*) AS BIGINT) AS n,
        round(avg(cos), 6) AS avg_cos, min(cos) AS min_cos
        FROM ($kmeansOracleSql) asg GROUP BY cluster""") { (s, d) =>
    graft.operators.Similarity.kmeans(
        t(s, d, "embeddings"), "embedding", "vec_id", k = 4, iters = 2)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg("cos"), 6).as("avg_cos"),
        min("cos").as("min_cos"))
  }

  // Streaming assignment against the same persisted model (the st16
  // serve shape for embeddings): micro-batch union == full batch by
  // per-vector independence — same oracle once more.
  define("st31_stream_kmeans", kmeansOracleSql) { (s, d) =>
    import graft.operators.Similarity
    val dir = sessionIndexDir(s"km_$d") { p =>
      Similarity.saveKmeansModel(
        Similarity.kmeansFit(t(s, d, "embeddings"), "embedding",
          "vec_id", k = 4, iters = 2),
        s"$p/km", k = 4, dim = 64)
    }
    graft.streaming.Streaming.streamingKmeansAssign(s, d, "st31",
      s"$dir/km")
  }

  // Unsupervised topic-balanced mix — p15 with the label crutch
  // removed: the topics come from the engine's own k-means clusters
  // (what the documents ARE in embedding space, no labels consulted),
  // then the a16 temperature-mix quota chain balances them. The
  // composition rides the portable-kmeans scale path end to end:
  // fused argmax assignment (no corpus shuffle), integer-exact quotas,
  // md5-ranked selection. Oracle = the unrolled k-means subquery
  // feeding p15's mix tail verbatim.
  define("p17_kmeans_topic_mix",
    s"""WITH asg AS (SELECT vec_id, cluster AS topic
          FROM ($kmeansOracleSql) k),
       mc AS (SELECT topic, count(*) AS n FROM asg GROUP BY topic),
       mw AS (SELECT topic, n, n * n AS w FROM mc),
       mt AS (SELECT sum(w) AS tw FROM mw),
       mq AS (SELECT topic,
                least(n, CAST((100 * w) // tw AS BIGINT)) AS quota
              FROM mw CROSS JOIN mt),
       mr AS (SELECT vec_id, topic,
                row_number() OVER (PARTITION BY topic
                  ORDER BY md5('p17' || CAST(vec_id AS VARCHAR)), vec_id)
                  AS rk
              FROM asg)
       SELECT vec_id, topic FROM mr JOIN mq USING (topic)
       WHERE rk <= quota""") { (s, d) =>
    import graft.operators.{Similarity, Splits}
    val asg = Similarity.kmeans(t(s, d, "embeddings"), "embedding",
        "vec_id", k = 4, iters = 2)
      .select(col("vec_id"), col("cluster").as("topic"))
    Splits.temperatureSample(asg, "topic", "vec_id",
      totalN = 100, temperature = 0.5, salt = "p17")
  }

  // Quality floor for the LARGE-k training rung (round-14 stretch):
  // kmeansCells (MLlib, seeded) trains every IVF coarse quantizer, but
  // no cross-engine oracle can recompute an MLlib fit — its gates were
  // determinism-only, so a silently degenerate fit (all mass in one
  // cell, centroids at the global mean) would pass everything. The
  // s21-report shape, hardened into a floor: the mean own-centroid
  // cosine must strictly beat the k=1 global-centroid baseline
  // (Similarity.cellQualityGain — two broadcast-join scan passes, no
  // corpus shuffle). The oracle pins the deterministic envelope
  // (k, corpus count, floor verdict); sensitivity is pinned in
  // KmeansSpec, where an arbitrary (id-modulo) assignment fails the
  // same check the real fit passes.
  define("s23_kmeans_cells_quality",
    """SELECT 8 AS k, CAST(count(*) AS BIGINT) AS n_vectors,
       true AS cells_beat_baseline FROM embeddings""") { (s, d) =>
    import graft.operators.Similarity
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val assigned = Similarity.kmeansCells(emb, "embedding", k = 8)
    val (q, b) = Similarity.cellQualityGain(assigned, "embedding",
      "vec_id", "cell")
    require(q > b,
      s"kmeansCells quality floor violated: mean own-centroid cosine " +
        s"$q does not beat the global-centroid baseline $b")
    Seq((8, emb.count(), q > b)).toDF("k", "n_vectors",
      "cells_beat_baseline")
  }

  // IVFPQ — coarse cells × PQ codes, the 10⁸⁺-vector layout. With nprobe
  // covering all 10 label cells the composition provably equals flat PQ
  // (PipelineSpec asserts it), whose candidates cover the true top-5 at
  // these parameters — so the brute-force window oracle applies. The
  // nprobe<cells recall trade is property-tested, mirroring s3.
  define("s7_ann_ivfpq",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val book = Similarity.pqTrain(corpus, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(corpus, book, "embedding", "vec_id",
      dim = 64, m = 16)
    Similarity.ivfPqTopK(queries, corpus, codes, book, "embedding", "vec_id",
      cellCol = "label", dim = 64, m = 16, k = 5, nprobe = 10, rerank = 1024)
      .select("q_id", "n_id", "rank")
  }

  // IVF over the given label cells. At nprobe = cells (all 10 labels)
  // every query probes every cell, so IVF degenerates to exact cosine over
  // the full corpus with the same (cosine DESC, n_id) tie-break as
  // bruteForceTopK — the s1 oracle therefore applies EXACTLY, no recall
  // argument needed. The nprobe < cells recall trade (the production
  // configuration) is property-tested in PipelineSpec, mirroring how
  // s7/s9/s10 pin their recall-traded variants.
  define("s3_ann_ivf",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Similarity.ivfTopK(
      emb.filter(col("vec_id") < 5), emb.filter(col("vec_id") >= 5),
      "embedding", "vec_id", cellCol = "label", k = 5, nprobe = 10)
      .select("q_id", "n_id", "rank")
  }

  // IVF with k-means-TRAINED cells (MLlib, seeded) instead of the given
  // label column — the end-to-end trained-index path. Same nprobe = cells
  // ≡ brute-force argument as s3: whichever cells k-means learns, probing
  // all of them scores the whole corpus exactly.
  define("s4_ann_ivf_kmeans",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = Similarity.kmeansCells(
      emb.filter(col("vec_id") >= 5), "embedding", k = 10)
    Similarity.ivfTopK(
      emb.filter(col("vec_id") < 5), corpus,
      "embedding", "vec_id", cellCol = "cell", k = 5, nprobe = 10)
      .select("q_id", "n_id", "rank")
  }

  // Persisted IVF index: k-means cells + slim (n_id, cell) inverted file
  // + member-mean centroids stored once; queries probe stored centroids
  // and touch only probed cells' rows. The build CALIBRATES the index
  // (calibrateIvfIndex, recall target 1.0 measured on the full query
  // set vs brute force) and stores cal_nprobe in params; the serve uses
  // the stored value by default — the knob is index metadata, not a
  // caller literal. Exactness transfer: the calibration sample IS this
  // gate's query set, so target-1.0 recall vs brute force on it makes
  // the served pairs (and, by identical exact-cosine tie-break
  // ordering, ranks) equal brute force — s1's oracle applies. Frozen
  // appends and the nprobe < cells recall trade are property-tested in
  // PipelineSpec.
  define("s11_ann_ivf_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s11_$d") { p =>
      Similarity.buildIvfIndex(corpus, "embedding", "vec_id", p, cells = 10)
      Similarity.calibrateIvfIndex(emb.filter(col("vec_id") < 5), p,
        "embedding", "vec_id", k = 5, recallTarget = 1.0)
    }
    Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 5), idx,
      "embedding", "vec_id", k = 5)
      .select("q_id", "n_id", "rank")
  }

  // Persisted IVFPQ index — the FAISS production layout as ONE stored
  // index: coarse cells + PQ codes + refinement vectors in a single
  // cell-partitioned table; a serving batch partition-prunes to probed
  // cells AND scores M-byte codes within them. The build CALIBRATES both
  // knobs (calibrateIvfPqIndex: smallest nprobe at the rerank ceiling,
  // then smallest rerank at that nprobe, recall target 1.0 measured on
  // the full query set vs brute force) into params; the serve defaults
  // to the stored values. Exactness transfer: the calibration sample IS
  // this gate's query set, so the stored knobs deliver the brute-force
  // pair set for it, and exact-cosine re-rank ordering makes the ranks
  // equal too — the brute-force window oracle applies.
  define("s12_ann_ivfpq_persisted",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idx = sessionIndexDir(s"s12_$d") { p =>
      Similarity.buildIvfPqIndex(corpus, "embedding", "vec_id", p,
        dim = 64, m = 16, cells = 10, k = 16)
      Similarity.calibrateIvfPqIndex(emb.filter(col("vec_id") < 5), p,
        "embedding", "vec_id", k = 5, recallTarget = 1.0)
    }
    Similarity.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 5), idx,
      "embedding", "vec_id", k = 5)
      .select("q_id", "n_id", "rank")
  }

  // Hard-negative mining (contrastive-training prep): for each of the
  // first 5 vectors, the top-5 most-similar vectors with a DIFFERENT
  // label. Brute exact form (the s1 shape + label exclusion); the rank
  // oracle sidesteps float cosines entirely. Self-id exclusion is pinned
  // in the oracle so the brute and index-served forms share it exactly
  // (here it is a no-op: a query's own row carries the same label).
  private val HardNegativesOracle =
    """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, label AS n_label, embedding AS nv
         FROM embeddings)
       SELECT q_id, n_id, n_label, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, n_label, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c WHERE q_label != n_label AND q_id != n_id)
       WHERE rank <= 5"""

  define("s15_hard_negatives", HardNegativesOracle) { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Similarity.hardNegatives(
      emb.filter(col("vec_id") < 5), emb, "embedding", "vec_id", "label",
      k = 5)
  }

  // The s15 SCALE path: the same hard-negative semantics served FROM the
  // persisted IVF index, with the label riding inside the index rows as
  // a meta column — the query side (the training set itself) never
  // broadcasts against the corpus and the corpus never cross-joins;
  // serving is the ivfTopKFromIndex shape (probe stored centroids,
  // partition-prune to probed cell= dirs — PlanSpec pins it) overfetched
  // ×4 label-blind, then the same-label drop and keep-k. nprobe = cells
  // here makes the overfetch list the TRUE label-blind top-20, so this
  // oracle transfers verbatim (the s11/s12 exactness-anchor discipline;
  // production serves at the calibrated nprobe). strict = true asserts
  // no query under-fills below k.
  define("s15b_hard_negatives_ann", HardNegativesOracle) { (s, d) =>
    import graft.operators.Similarity
    val emb = t(s, d, "embeddings")
    val idx = sessionIndexDir(s"s15b_$d") { p =>
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", p, cells = 10,
        metaCols = Seq("label"))
    }
    Similarity.hardNegativesFromIndex(emb.filter(col("vec_id") < 5), idx,
      "embedding", "vec_id", "label", k = 5, overfetch = 4, nprobe = 10,
      strict = true)
  }

  // Per-label embedding centroids (the SemDeDup cluster-summary
  // aggregate) in exploded (label, pos, c) form: one slim map-side-
  // combined hash agg; |labels|·dim output rows — metadata at any scale.
  // Components round to 6 (accumulated doubles).
  define("s13_label_centroids",
    """SELECT label, CAST(pos AS INT) AS pos,
         round(avg(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS c
       FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS pos)
       GROUP BY label, pos""") { (s, d) =>
    graft.operators.Similarity.labelCentroids(
      t(s, d, "embeddings"), "embedding", "label")
  }

  // Assignment quality: each vector's cosine to its own label centroid
  // (low = the summary doesn't represent it — the SemDeDup re-cluster/
  // prune signal). Centroids broadcast; the cosine is an in-row DOUBLE
  // fold over the zipped arrays — one scan pass, no corpus shuffle. Both
  // engines build the cosine from the ROUNDED centroid components, so
  // the only cross-engine noise is summation order, absorbed by the
  // 6dp round.
  define("s14_centroid_cosine",
    """WITH c AS (SELECT label, pos,
           round(avg(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS c
         FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS pos)
         GROUP BY label, pos),
       j AS (SELECT e.vec_id, e.label,
           sum(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c) AS dot,
           sum(CAST(e.embedding[c.pos + 1] AS DOUBLE)
             * CAST(e.embedding[c.pos + 1] AS DOUBLE)) AS na,
           sum(c.c * c.c) AS nb
         FROM embeddings e JOIN c USING (label) GROUP BY e.vec_id, e.label)
       SELECT vec_id, label, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
       FROM j""") { (s, d) =>
    graft.operators.Similarity.centroidCosines(
      t(s, d, "embeddings"), "embedding", "vec_id", "label")
  }

  // Topic-balanced training mix — the SemDeDup-style composition:
  // label centroids (s13) → nearest-centroid ASSIGNMENT (fused argmax,
  // cosines rounded 6dp before the argmax so summation-order noise
  // cannot flip near-ties; rounded ties break label-ASC on both
  // engines) → temperature-0.5 mix over the ASSIGNED topic (the a16
  // integer-exact quota chain). This is "balance the mix by what the
  // documents ARE (embedding cluster), not what their source tag says"
  // — the topic counts n, quotas, and kept set are all engine-exact.
  define("p15_topic_balanced_mix",
    """WITH c AS (SELECT label, pos,
           round(avg(CAST(embedding[pos + 1] AS DOUBLE)), 6) AS c
         FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS pos)
         GROUP BY label, pos),
       nb AS (SELECT label, sum(c * c) AS nb FROM c GROUP BY label),
       dots AS (SELECT e.vec_id, c.label,
           sum(CAST(e.embedding[c.pos + 1] AS DOUBLE) * c.c) AS dot
         FROM embeddings e CROSS JOIN c GROUP BY e.vec_id, c.label),
       na AS (SELECT vec_id,
           sum(CAST(embedding[pos + 1] AS DOUBLE)
             * CAST(embedding[pos + 1] AS DOUBLE)) AS na
         FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS pos)
         GROUP BY vec_id),
       cosv AS (SELECT d.vec_id, d.label,
           round(d.dot / (sqrt(na.na) * sqrt(nb.nb)), 6) AS cos
         FROM dots d JOIN na USING (vec_id) JOIN nb USING (label)),
       asg AS (SELECT vec_id, label AS topic FROM (
           SELECT vec_id, label,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, label) AS rk
           FROM cosv) WHERE rk = 1),
       mc AS (SELECT topic, count(*) AS n FROM asg GROUP BY topic),
       mw AS (SELECT topic, n, n * n AS w FROM mc),
       mt AS (SELECT sum(w) AS tw FROM mw),
       mq AS (SELECT topic,
                least(n, CAST((100 * w) // tw AS BIGINT)) AS quota
              FROM mw CROSS JOIN mt),
       mr AS (SELECT vec_id, topic,
                row_number() OVER (PARTITION BY topic
                  ORDER BY md5('p15' || CAST(vec_id AS VARCHAR)), vec_id)
                  AS rk
              FROM asg)
       SELECT vec_id, topic FROM mr JOIN mq USING (topic)
       WHERE rk <= quota""") { (s, d) =>
    import graft.operators.{Similarity, Splits}
    val emb = t(s, d, "embeddings")
    val assigned = Similarity.assignToCentroids(emb,
      Similarity.labelCentroids(emb, "embedding", "label"),
      "embedding", "vec_id").select("vec_id", "topic")
    Splits.temperatureSample(assigned, "topic", "vec_id",
      totalN = 100, temperature = 0.5, salt = "p15")
  }

  // ==================================================================
  // Multimodal columns (operators.Multimodal)
  // ==================================================================

  // Columnar decode path (binary payload → typed metadata, fused in codegen).
  define("m1_multimodal_decode",
    """SELECT doc_id, CAST(16 + strlen(text) % 64 AS INT) AS width,
       CAST(1 + floor(strlen(text) / 32.0) AS INT) AS n_frames
       FROM documents""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.decodeFeaturesColumnar(
      Multimodal.attachPayload(t(s, d, "documents"), "text", "image/fake"),
      "doc_id")
  }

  // Batched per-partition decode (the mapInPandas/mapInArrow shape) — same
  // metadata, via the RDD batch path, checked against the same SQL oracle.
  // Batched decode through the Arrow handoff (the mapInArrow shape): rows
  // reach the decoder as Arrow column buffers, not JVM Rows; the oracle
  // reproduces the decode-stub arithmetic, proving payload bytes survive
  // Spark's internal Arrow serialization intact.
  define("m3_multimodal_batched",
    """SELECT doc_id, CAST(16 + strlen(text) % 64 AS INT) AS width,
       CAST(1 + floor(strlen(text) / 32.0) AS INT) AS n_frames
       FROM documents""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.decodeFeaturesArrow(
      Multimodal.attachPayload(t(s, d, "documents"), "text", "image/fake"),
      "doc_id")
      .select("doc_id", "width", "n_frames")
  }

  define("m2_frame_sample",
    """SELECT doc_id,
       CAST(unnest(list_filter(generate_series(0,
         CAST(floor(strlen(text) / 32.0) AS INT)), f -> f % 4 = 0)) AS INT)
         AS frame_idx
       FROM documents""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.sampleFrames(
      Multimodal.decodeFeaturesColumnar(
        Multimodal.attachPayload(t(s, d, "documents"), "text", "image/fake"),
        "doc_id"),
      "doc_id", stride = 4)
      .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"))
  }

  // UDAF surface (§2.8 extension): TypedImperativeAggregate — deterministic
  // mergeable bottom-k-by-hash sampler; the sample is identical at any
  // partitioning, which is what makes it reproducible on a cluster.
  define("a8_bottomk_sample",
    """SELECT lang, doc_id, CAST(sample_rank AS INT) AS sample_rank FROM (
       SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS sample_rank
       FROM documents) WHERE sample_rank <= 5""") { (s, d) =>
    import graft.functions.BottomKSample.bottomKSample
    t(s, d, "documents").groupBy("lang")
      .agg(bottomKSample(col("doc_id"), 5).as("sample"))
      .select(col("lang"),
        posexplode(col("sample")).as(Seq("pos", "doc_id")))
      .select(col("lang"), col("doc_id"),
        (col("pos") + 1).cast("int").as("sample_rank"))
  }

  // Resize/thumbnail plumbing: binary in → truncated binary out + size
  // metadata (the shape of a thumbnailing pass).
  define("m4_resize",
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS orig_bytes,
       CAST(least(strlen(text), 96) AS BIGINT) AS new_bytes
       FROM documents""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.resizePayload(
      Multimodal.attachPayload(t(s, d, "documents"), "text", "image/fake"),
      "doc_id", maxBytes = 96)
      .select(col("doc_id"), col("orig_bytes").cast("long"),
        col("new_bytes").cast("long"))
  }

  // Binary-payload fuzzy near-dup (ssdeep-family, SimHash-realized):
  // 4-byte windows of the raw payload bytes, hex-encoded + md5-hashed
  // (the d3 portable fingerprint, so DuckDB reproduces the exact 60-bit
  // signatures), pigeonhole-blocked hamming ≤ 3 pairs. Near-dup for the
  // opaque-binary modality — no codec needed, which is precisely its
  // role next to the stubbed decode seam. Payload bytes never shuffle;
  // only (id, sig) rows do.
  define("m5_payload_neardup",
    """WITH hx AS (
         SELECT doc_id, upper(hex(encode(text))) AS hs FROM documents),
       win AS (
         SELECT doc_id, unnest(list_transform(
           range(0, CAST(ceil(strlen(hs) / 8.0) AS INT)),
           g -> substr(hs, g*8+1, 8))) AS tok
         FROM hx),
       th AS (
         SELECT doc_id, CAST(list_sum(list_transform(range(1, 16),
           p -> (strpos('0123456789abcdef', md5(tok)[p]) - 1)
                * (1::BIGINT << (4*(15-p))))) AS BIGINT) AS h
         FROM win),
       bits AS (
         SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM th, range(0, 60) t(i) GROUP BY doc_id, i),
       sig AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sig
         FROM bits GROUP BY doc_id)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       FROM sig a, sig b
       WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.payloadNearDup(
      Multimodal.attachPayload(t(s, d, "documents"), "text", "image/fake"),
      "doc_id")
  }

  // REAL pixel decode through the JVM's built-in javax.imageio codecs
  // (round-13: the former stub seam, closed for still images): each row
  // synthesizes an actual grayscale PNG whose pixel (x, y) carries
  // exactly (doc_id + x + y) mod 256, then decodes it back through
  // ImageIO and reports dimensions + the decoded-raster sample mean.
  // The oracle predicts every stat RELATIONALLY (PNG is lossless, so
  // the decoded samples must equal the synthesis rule bit for bit) —
  // if either the encoder or the decoder mis-handles a single pixel,
  // the mean diverges and the gate fails. avg_luma is an integer-sum /
  // count double division — exact in both engines, no rounding (the
  // float-parity rule: never round per-row arithmetic).
  define("m6_pixel_decode",
    """WITH g AS (SELECT doc_id,
           CAST(3 + doc_id % 5 AS INT) AS w,
           CAST(2 + doc_id % 4 AS INT) AS h
         FROM documents),
       px AS (SELECT g.doc_id, g.w, g.h, xs.x, ys.y
              FROM g, generate_series(0, 6) xs(x),
                   generate_series(0, 4) ys(y)
              WHERE xs.x < g.w AND ys.y < g.h)
       SELECT doc_id, w AS width, h AS height,
         CAST(sum((doc_id + x + y) % 256) AS DOUBLE) / (w * h) AS avg_luma
       FROM px GROUP BY doc_id, w, h""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.pixelFeatures(
      Multimodal.synthesizeGrayPng(t(s, d, "documents"), "doc_id"),
      "doc_id")
  }

  // REAL decode → transform → re-encode → decode through the codec
  // (round-13): the synthesized gradient PNGs are box-downsampled by 2
  // (each 2×2 block becomes floor(mean) — an EXACTLY SPECIFIED integer
  // filter, deliberately not the JDK's unspecified getScaledInstance
  // interpolation), re-encoded as PNG, and decoded AGAIN for stats.
  // The oracle predicts every output pixel from the synthesis rule
  // ((id + x + y) mod 256 box-averaged relationally) — four codec
  // operations deep, still bit-exact.
  define("m7_pixel_downsample",
    """WITH g AS (SELECT doc_id,
           CAST(floor((3 + doc_id % 5) / 2.0) AS INT) AS w,
           CAST(floor((2 + doc_id % 4) / 2.0) AS INT) AS h
         FROM documents),
       px AS (SELECT g.doc_id, g.w, g.h,
                CAST(floor((
                  (g.doc_id + 2*xs.bx     + 2*ys.by)     % 256 +
                  (g.doc_id + 2*xs.bx + 1 + 2*ys.by)     % 256 +
                  (g.doc_id + 2*xs.bx     + 2*ys.by + 1) % 256 +
                  (g.doc_id + 2*xs.bx + 1 + 2*ys.by + 1) % 256) / 4.0)
                  AS BIGINT) AS v
              FROM g, generate_series(0, 2) xs(bx),
                   generate_series(0, 1) ys(by)
              WHERE xs.bx < g.w AND ys.by < g.h)
       SELECT doc_id, w AS width, h AS height,
         CAST(sum(v) AS DOUBLE) / (w * h) AS avg_luma
       FROM px GROUP BY doc_id, w, h""") { (s, d) =>
    import graft.operators.Multimodal
    Multimodal.pixelFeatures(
      Multimodal.downsamplePayload(
        Multimodal.synthesizeGrayPng(t(s, d, "documents"), "doc_id"),
        "doc_id", factor = 2),
      "doc_id")
  }

  // ==================================================================
  // §2.1 Sources: CSV all-Float32 default, NDJSON with explicit schema
  // ==================================================================

  define("src_csv_f32",
    """SELECT count(*) AS cnt,
       round(sum(CAST(l_quantity AS REAL)), 1) AS sum_qty,
       min(CAST(l_discount AS REAL)) AS min_disc,
       max(CAST(l_tax AS REAL)) AS max_tax
       FROM lineitem""") { (s, d) =>
    import graft.sources.Sources
    // per-run unique dir: a fixed (sfDir)-derived path would race a
    // concurrent gate run's overwrite (Verify driver vs sbt test)
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv_").toString
    t(s, d, "lineitem").select("l_quantity", "l_discount", "l_tax")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    Sources.csv(s, tmp) // no schema → every column Float32 (reference default)
      .agg(count(lit(1)).as("cnt"),
        round(sum("l_quantity"), 1).as("sum_qty"),
        min("l_discount").as("min_disc"),
        max("l_tax").as("max_tax"))
  }

  define("src_ndjson",
    """SELECT count(*) AS cnt, round(sum(value), 2) AS total,
       min(event_id) AS min_id, max(event_id) AS max_id
       FROM events""") { (s, d) =>
    import graft.sources.Sources
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_json_").toString
    t(s, d, "events").select("event_id", "value")
      .write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("value", DoubleType)))
    Sources.open(s, s"$tmp/part-*.json", jsonSchema = Some(schema))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
  }

  // S7: ORC roundtrip (reference reads ORC via Arrow,
  // `/root/reference/src/arrow_loader.cpp:120-126`).
  // Whole-file binary ingest: one .bin per document (UTF-8 text bytes as
  // the stand-in payload), read back through the binaryFile source — the
  // multimodal arrival path. The oracle recomputes the byte totals from
  // the documents table (octet_length of the UTF-8 encoding), so the
  // round-trip certifies both the write fan-out and the binary read.
  define("src_binary",
    """SELECT count(*) AS cnt,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
       FROM documents WHERE doc_id < 100""") { (s, d) =>
    import java.nio.file.Files
    // per-run unique dir (no pre-clean needed): a fixed path raced
    // concurrent gate runs deleting each other's payload files
    val dir = Files.createTempDirectory("graft_binary_").toString
    // distributed fan-out: each task writes its partition's payload files
    t(s, d, "documents").filter(col("doc_id") < 100)
      .select("doc_id", "text")
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      }
    graft.sources.Sources.binaryFiles(s, dir, glob = Some("*.bin"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("content"))).as("total_bytes"))
  }

  define("src_orc",
    """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
       FROM orders""") { (s, d) =>
    import graft.sources.Sources
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_").toString
    t(s, d, "orders").select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").orc(tmp)
    Sources.orc(s, tmp)
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  // XML roundtrip (Spark 4's built-in XML source, the donated spark-xml):
  // write nation as XML, read back with an explicit schema, aggregate.
  // Rounds out the format-dispatch surface beyond the reference's
  // csv/json/parquet/orc list.
  define("src_xml",
    """SELECT count(*) AS cnt, CAST(min(n_nationkey) AS BIGINT) AS min_key,
       CAST(max(n_nationkey) AS BIGINT) AS max_key,
       count(DISTINCT n_regionkey) AS regions
       FROM nation""") { (s, d) =>
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_xml_").toString
    t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").option("rowTag", "row").format("xml").save(tmp)
    val schema = StructType(Seq(StructField("n_nationkey", LongType),
      StructField("n_name", StringType), StructField("n_regionkey", LongType)))
    graft.sources.Sources.xml(s, tmp, "row", schema)
      .agg(count(lit(1)).as("cnt"), min("n_nationkey").as("min_key"),
        max("n_nationkey").as("max_key"),
        countDistinct("n_regionkey").as("regions"))
  }

  // K2/E5/S6: Arrow IPC interchange roundtrip — distributed export (one IPC
  // file per partition, no driver collect), read back and aggregated.
  define("src_arrow_roundtrip",
    """SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS total
       FROM lineitem WHERE l_quantity > 40""") { (s, d) =>
    import graft.sources.ArrowInterchange
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_arrow_").toString
    val src = t(s, d, "lineitem").filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_extendedprice")
    ArrowInterchange.writeArrow(src, tmp)
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_extendedprice", DoubleType)))
    ArrowInterchange.readArrow(s, tmp, schema)
      .agg(count(lit(1)).as("cnt"),
        round(sum("l_extendedprice"), 2).as("total"))
  }

  // Capstone curation pipeline — the operators composed the way a real
  // training-data pass runs them, in ONE logical plan: quality score +
  // language ID (single shared scan), filter, exact-dedup keep-set,
  // per-doc output. The oracle re-derives every stage in SQL, so the
  // row-level hash match certifies the COMPOSITION, not just the parts.
  define("p1_curation_pipeline",
    """WITH q AS (
         SELECT doc_id, text,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
             + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) > 0.1 THEN 0.0
                ELSE 1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0 END) * 0.3
             + least(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS DOUBLE)
                 / greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
           AS quality
         FROM documents),
       h AS (
         SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], w))) AS h_de,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS h_en,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['el','la','los','y','es','una','que','no'], w))) AS h_es,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['le','la','les','et','est','une','que','pas'], w))) AS h_fr,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['de','le','shi','bu','wo','ni','ta','zai'], w))) AS h_zh
         FROM documents),
       l AS (
         SELECT doc_id,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'en'
                WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
                WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
                WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM h),
       f AS (SELECT q.doc_id, q.n_tokens, q.quality, q.text
             FROM q JOIN l ON q.doc_id = l.doc_id
             WHERE q.quality >= 0.5 AND l.pred_lang = 'en'),
       keep AS (SELECT min(doc_id) AS doc_id FROM f
                GROUP BY trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
       SELECT f.doc_id, f.n_tokens, f.quality
       FROM f JOIN keep ON f.doc_id = keep.doc_id
       ORDER BY f.doc_id""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Dedup
    val scored = TF.withLangId(graft.operators.spread(
        t(s, d, "documents").select("doc_id", "text")), "text")
      .withColumn("quality", TF.qualityScoreRaw(col("text")))
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
    val filtered = scored
      .filter(col("quality") >= 0.5 && col("pred_lang") === "en")
    val kept = Dedup.exact(filtered, "text", "doc_id").select("doc_id")
    filtered.join(kept, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .orderBy("doc_id")
  }

  // Capstone №2 — raw documents to packed training bins in ONE logical
  // plan: quality + language-ID on a shared scan, repetition gate, exact
  // dedup, deterministic train-split assignment, dense packing per
  // predicted language. The oracle re-derives every stage in SQL; a
  // row-level hash match on (lang, doc, bin, offset, len) certifies the
  // whole composition, not the parts.
  define("p4_training_corpus",
    """WITH q AS (
         SELECT doc_id, text,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
             + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) > 0.1 THEN 0.0
                ELSE 1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0 END) * 0.3
             + least(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS DOUBLE)
                 / greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
           AS quality
         FROM documents),
       h AS (
         SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], w))) AS h_de,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS h_en,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['el','la','los','y','es','una','que','no'], w))) AS h_es,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['le','la','les','et','est','une','que','pas'], w))) AS h_fr,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['de','le','shi','bu','wo','ni','ta','zai'], w))) AS h_zh
         FROM documents),
       l AS (
         SELECT doc_id,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'en'
                WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
                WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
                WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM h),
       w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
             FROM documents),
       rep AS (SELECT doc_id,
           CASE WHEN len(wds) < 3 THEN 0.0
                ELSE CAST(len(wds) - 2 - len(list_distinct(list_transform(
                    generate_series(1, len(wds) - 2),
                    i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])))
                  AS DOUBLE) / (len(wds) - 2)
           END AS rep_ratio
         FROM w),
       f AS (SELECT q.doc_id, q.n_tokens, q.text, l.pred_lang
             FROM q JOIN l ON q.doc_id = l.doc_id
                    JOIN rep ON q.doc_id = rep.doc_id
             WHERE q.quality >= 0.5 AND rep.rep_ratio <= 0.2),
       keep AS (SELECT min(doc_id) AS doc_id FROM f
                GROUP BY trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))),
       tr AS (SELECT f.doc_id, f.pred_lang, f.n_tokens
              FROM f JOIN keep ON f.doc_id = keep.doc_id
              WHERE ('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 4))::INT
                      % 10 < 8
                AND f.n_tokens > 0),
       p AS (SELECT pred_lang, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY pred_lang
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS s
         FROM tr),
       b AS (SELECT pred_lang, doc_id, n_tokens, s,
         unnest(generate_series(s // 256, (s + n_tokens - 1) // 256)) AS bin
         FROM p)
       SELECT pred_lang, doc_id, bin,
         greatest(s, bin * 256) - s AS offset,
         least(s + n_tokens, (bin + 1) * 256) - greatest(s, bin * 256) AS len
       FROM b""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{Dedup, Packing, Splits}
    val scored = TF.withLangId(graft.operators.spread(
        t(s, d, "documents").select("doc_id", "text")), "text")
      .withColumn("quality", TF.qualityScoreRaw(col("text")))
      .withColumn("rep_ratio", TF.repetitionRatio(col("text")))
      .withColumn("n_tokens", TF.tokenCount(col("text")).cast("long"))
    val filtered = scored
      .filter(col("quality") >= 0.5 && col("rep_ratio") <= 0.2)
    val kept = Dedup.exact(filtered, "text", "doc_id").select("doc_id")
    val train = Splits.assign(filtered.join(kept, "doc_id"), "doc_id")
      .filter(col("split") === "train")
    Packing.packSequencesDense(
      train.select("pred_lang", "doc_id", "n_tokens"),
      "pred_lang", "doc_id", "n_tokens", budget = 256L)
  }

  // Capstone №3 — the round-5 operators composed end-to-end: corpus-wide
  // keep-first LINE dedup (boilerplate removal) → token-count gate → LM
  // scoring where the model TRAINS ON THE CLEANED CORPUS it scores (the
  // perplexity-filter shape) → deterministic md5 shard assignment. Every
  // stage has real selectivity at sf0.01 (500 → 494 line-dedup survivors
  // → 375 past the token gate → 209 past the LM gate, spread over all 16
  // shards); the row-level oracle re-derives the whole composition in
  // SQL, certifying the pipeline, not the parts.
  define("p8_curation_v2",
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       l0 AS (
         SELECT doc_id, w,
           unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
         FROM toks),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM l0),
       ranked AS (
         SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         FROM lines),
       cleaned AS (
         SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text
         FROM ranked WHERE rn = 1 GROUP BY doc_id),
       tok2 AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS wd
         FROM cleaned),
       tf AS (SELECT doc_id, wd, count(*) AS tf FROM tok2 GROUP BY 1, 2),
       vocab AS (SELECT wd, sum(tf) AS c FROM tf GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab),
       scored AS (
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(sum(tf.tf * ln(CAST(vocab.c AS DOUBLE) / tot.n))
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS lm_logprob
         FROM tf JOIN vocab USING (wd) CROSS JOIN tot GROUP BY tf.doc_id)
       SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 16
           AS shard,
         n_tokens, lm_logprob
       FROM scored WHERE n_tokens >= 30 AND lm_logprob >= -3.402""") { (s, d) =>
    import graft.operators.{Dedup, LanguageModel, Splits}
    val cleaned = Dedup.keepFirstLines(
      withDocLines5(t(s, d, "documents"), "lines"),
      "lines", "doc_id")
      .select(col("doc_id"), array_join(col("lines"), " ").as("text"))
    val scored = LanguageModel.unigramLogProb(cleaned, "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(col("lm_logprob"), 6).as("lm_logprob"))
      .filter(col("n_tokens") >= 30 && col("lm_logprob") >= -3.402)
    Splits.shard(scored, "doc_id", 16)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("lm_logprob"))
  }

  // TF-IDF top-5 terms per document: tokenize → (doc,term) counts →
  // document frequency → ln(N/df) scoring → per-doc top-k via
  // row_number ≤ k (executes as WindowGroupLimit: per-partition partial
  // top-k before the shuffle). Score rounded to a 1e-6 grid: tf/df/N are
  // integers so the only engine divergence is the last-ulp of ln.
  define("t5_tfidf_topterms",
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
           '\s+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
              GROUP BY doc_id, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       scored AS (SELECT t.doc_id, t.term, t.tf * ln(n.n / df.df) AS score
         FROM tf t JOIN df ON t.term = df.term CROSS JOIN n),
       ranked AS (SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
             AS rn
         FROM scored)
       SELECT doc_id, term, round(score, 6) AS score
       FROM ranked WHERE rn <= 5 ORDER BY doc_id, term""") { (s, d) =>
    graft.operators.TfIdf.topTerms(t(s, d, "documents"), "text", "doc_id", k = 5)
      .select(col("doc_id"), col("term"), round(col("score"), 6).as("score"))
      .orderBy("doc_id", "term")
  }

  // Greedy sequence packing into 256-token bins, per language in doc_id
  // order. Spark runs the fold as a native `aggregate` HOF over each
  // group's (id, n) array; the oracle replays the identical recurrence as
  // a DuckDB RECURSIVE CTE — two different fixpoint engines agreeing
  // row-for-row certifies the packing recurrence itself.
  define("p2_sequence_packing",
    """WITH RECURSIVE
       t AS MATERIALIZED (SELECT lang, doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n
             FROM documents),
       o AS MATERIALIZED (SELECT lang, doc_id, n,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             FROM t),
       pack(lang, rn, doc_id, n, acc, bin) AS (
         SELECT lang, rn, doc_id, n, n, CAST(0 AS BIGINT) FROM o WHERE rn = 1
         UNION ALL
         SELECT o.lang, o.rn, o.doc_id, o.n,
           CASE WHEN p.acc + o.n > 256 AND p.acc > 0 THEN o.n
                ELSE p.acc + o.n END,
           CASE WHEN p.acc + o.n > 256 AND p.acc > 0 THEN p.bin + 1
                ELSE p.bin END
         FROM pack p JOIN o ON o.lang = p.lang AND o.rn = p.rn + 1)
       SELECT lang, doc_id, bin FROM pack""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    val withN = t(s, d, "documents")
      .select(col("lang"), col("doc_id"),
        size(TF.tokens(col("text"))).as("n_tokens"))
    graft.operators.Packing.packSequences(withN, "lang", "doc_id",
      "n_tokens", budget = 256L)
  }

  // Dense packing WITH document splitting (GPT-style concatenate-and-cut):
  // placement is a window cumsum + sequence explode — closed-form, no
  // recurrence — so both engines compute it declaratively.
  define("p3_sequence_packing_dense",
    """WITH t AS (SELECT lang, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n FROM documents),
       p AS (SELECT lang, doc_id, n,
         CAST(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS s
         FROM t WHERE n > 0),
       b AS (SELECT lang, doc_id, n, s,
         unnest(generate_series(s // 256, (s + n - 1) // 256)) AS bin FROM p)
       SELECT lang, doc_id, bin,
         greatest(s, bin * 256) - s AS offset,
         least(s + n, (bin + 1) * 256) - greatest(s, bin * 256) AS len
       FROM b""") { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    val withN = t(s, d, "documents")
      .select(col("lang"), col("doc_id"),
        size(TF.tokens(col("text"))).as("n_tokens"))
    graft.operators.Packing.packSequencesDense(withN, "lang", "doc_id",
      "n_tokens", budget = 256L)
  }

  // Sliding-window chunking (context-window prep): each doc splits into
  // ≤64-token windows overlapping by 8 — a ZERO-shuffle scan pass (tokens,
  // slices, chunk text all computed inside the row; posexplode emits the
  // output's intrinsic row count). stride = 56; chunk count =
  // max(1, ceil((n−8)/56)); the last chunk is the only short one.
  define("p11_chunk_docs",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
         FROM documents),
       k AS (SELECT doc_id, wds,
         greatest(1, CAST(ceil((len(wds) - 8) / 56.0) AS BIGINT)) AS k
         FROM t),
       c AS (SELECT doc_id, wds,
         unnest(generate_series(0, k - 1)) AS chunk_ix FROM k)
       SELECT doc_id, CAST(chunk_ix AS INT) AS chunk_ix,
         CAST(len(wds[(chunk_ix * 56 + 1):(chunk_ix * 56 + 64)]) AS INT)
           AS n_tokens,
         array_to_string(wds[(chunk_ix * 56 + 1):(chunk_ix * 56 + 64)], ' ')
           AS chunk
       FROM c""") { (s, d) =>
    graft.operators.Packing.chunkByTokens(
      t(s, d, "documents"), "text", "doc_id", maxTokens = 64, overlap = 8)
  }

  // Deterministic train/val/test split: bucket = first 16 md5 bits of the
  // key string mod 10 — a pure function of doc_id both engines (and any
  // language's md5) compute identically, unlike engine-private hashes.
  define("t7_hash_split",
    """SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10
           AS bucket,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10 < 9
              THEN 'val' ELSE 'test' END AS split
       FROM documents""") { (s, d) =>
    graft.operators.Splits.assign(
      t(s, d, "documents").select("doc_id"), "doc_id")
  }

  // Intra-document repetition gate (Gopher-style): fraction of trigram
  // occurrences that repeat an earlier one. Integer-count division —
  // deterministic, no rounding.
  define("t8_repetition",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
         FROM documents),
       sh AS (SELECT doc_id, CASE WHEN len(wds) >= 3 THEN list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])
         ELSE [] END AS sh FROM w)
       SELECT doc_id,
         CASE WHEN len(sh) = 0 THEN 0.0
              ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh)
         END AS rep_ratio
       FROM sh""") { (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.repetitionRatio(col("text")).as("rep_ratio"))
  }

  // PII redaction with lookaround-free patterns chosen to behave
  // identically under Java regex and RE2 — the scrub is reproducible by
  // any engine that re-processes the corpus (the oracle RUNS it in RE2).
  define("t9_redact_pii",
    """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
           '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '<PHONE>', 'g') AS clean
       FROM documents""") { (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.redactPii(col("text")).as("clean"))
  }

  // Deterministic 10% sample: membership is a pure function of the key
  // hash (not Spark's partition-seeded RNG), so the oracle selects the
  // SAME rows — which is the operator's whole point.
  define("a10_deterministic_sample",
    """SELECT doc_id, lang FROM documents
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 1000
         < 100""") { (s, d) =>
    graft.operators.Splits.sample(
      t(s, d, "documents").select("doc_id", "lang"), "doc_id", 0.1)
  }

  // Domain-mix sampling: per-source keep rates in one scan (keep all of
  // src0, half of src1, 10% of everything else) — the multi-source
  // re-weighting pass, deterministic by the same md5 rule as t7/a10.
  define("a11_domain_mix",
    """SELECT doc_id, source FROM documents
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 1000
         < CASE WHEN source = 'src0' THEN 1000
                WHEN source = 'src1' THEN 500
                ELSE 100 END""") { (s, d) =>
    graft.operators.Splits.domainMix(
      t(s, d, "documents").select("doc_id", "source"), "doc_id", "source",
      Map("src0" -> 1.0, "src1" -> 0.5), default = 0.1)
  }

  // Corpus-trained unigram LM score (the "perplexity gate"): both sides
  // estimate the same model from the same corpus inside the query, so the
  // oracle is exact up to summation order — the per-doc average is the one
  // accumulated double here, rounded to 6 (values are O(-10), noise O(1e-13)).
  define("t10_lm_logprob",
    """WITH tok AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       vocab AS (SELECT w, sum(tf) AS c FROM tf GROUP BY w),
       tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab)
       SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         round(sum(tf.tf * ln(CAST(vocab.c AS DOUBLE) / tot.n))
               / CAST(sum(tf.tf) AS DOUBLE), 6) AS lm_logprob
       FROM tf JOIN vocab USING (w) CROSS JOIN tot
       GROUP BY tf.doc_id""") { (s, d) =>
    graft.operators.LanguageModel.unigramLogProb(
      t(s, d, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(col("lm_logprob"), 6).as("lm_logprob"))
  }

  // Foreign-corpus LM scoring (train/serve split + OOV smoothing): the
  // model trains on one slice, scores a DIFFERENT corpus carrying tokens
  // the model never saw (the synthetic corpus's 31-token vocabulary covers
  // every doc, so the scored side appends a marker token — guaranteeing
  // every scored doc exercises the OOV path). Out-of-vocabulary counts
  // coalesce to the 0.5 pseudo-count floor via scoreWith's left join; OOV
  // tokens still count in the n_tokens denominator.
  define("t12_lm_foreign",
    """WITH ttok AS (
         SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents WHERE doc_id < 400),
       vocab AS (SELECT w, count(*) AS c FROM ttok GROUP BY w),
       tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab),
       stok AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text || ' zzqx')), '\s+')) AS w
         FROM documents WHERE doc_id >= 400),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM stok GROUP BY doc_id, w)
       SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         round(sum(tf.tf * ln(coalesce(CAST(vocab.c AS DOUBLE), 0.5) / tot.n))
               / CAST(sum(tf.tf) AS DOUBLE), 6) AS lm_logprob
       FROM tf LEFT JOIN vocab USING (w) CROSS JOIN tot
       GROUP BY tf.doc_id""") { (s, d) =>
    import graft.operators.LanguageModel
    val docs = t(s, d, "documents")
    val (vocab, n) = LanguageModel.trainUnigram(
      docs.filter(col("doc_id") < 400), "text")
    val foreign = docs.filter(col("doc_id") >= 400)
      .withColumn("text", concat(col("text"), lit(" zzqx")))
    LanguageModel.scoreWith(foreign, "text", "doc_id", vocab, n,
        oovFloor = Some(0.5))
      .select(col("doc_id"), col("n_tokens"),
        round(col("lm_logprob"), 6).as("lm_logprob"))
  }

  // Bigram conditional LM score — the t10 gate upgraded to context-aware
  // probabilities P(w2|w1) = c(w1,w2)/c(w1·), the shape real perplexity
  // filters use. Bigrams come from one zip_with over the token array on
  // the Spark side and list_transform(range) on the oracle side.
  define("t11_bigram_logprob",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
         FROM documents),
       bg AS (
         SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS b
         FROM t WHERE len(w) >= 2),
       tfb AS (SELECT doc_id, b, count(*) AS tf FROM bg GROUP BY doc_id, b),
       cb AS (SELECT b, sum(tf) AS c FROM tfb GROUP BY b),
       ctx AS (SELECT split_part(b, ' ', 1) AS w1, sum(c) AS cc
               FROM cb GROUP BY 1)
       SELECT tfb.doc_id,
         CAST(sum(tfb.tf) AS BIGINT) AS n_bigrams,
         round(sum(tfb.tf * ln(CAST(cb.c AS DOUBLE) / CAST(ctx.cc AS DOUBLE)))
               / CAST(sum(tfb.tf) AS DOUBLE), 6) AS lm2_logprob
       FROM tfb JOIN cb USING (b)
       JOIN ctx ON split_part(tfb.b, ' ', 1) = ctx.w1
       GROUP BY tfb.doc_id""") { (s, d) =>
    graft.operators.LanguageModel.bigramLogProb(
      t(s, d, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("lm2_logprob"), 6).as("lm2_logprob"))
  }

  // Interpolated Kneser–Ney bigram score (t11 upgraded with the
  // smoothing real perplexity filters ship): discount D=0.75 off every
  // observed bigram, held-out mass re-allocated via the CONTINUATION
  // unigram N1+(·w2)/N1+(··). All four statistics (bigram counts,
  // context totals, distinct successors, distinct contexts) are
  // aggregates over the bigram TYPE table, so the smoothing is fully
  // relational — both engines evaluate the same IEEE expression in the
  // same order (float-parity rule: round only the final average).
  /** Kneser–Ney per-doc score CTE chain ending in
    * `kncte(doc_id, n_bigrams, kn_logprob)` — shared by t28 and the v4
    * capstone. */
  private val KnCtes: Seq[String] = Seq(
    """knt AS (
       SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
       FROM documents)""",
    """knbg AS (
       SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS b
       FROM knt WHERE len(w) >= 2)""",
    """tfb AS (SELECT doc_id, b, count(*) AS tf FROM knbg
       GROUP BY doc_id, b)""",
    """parts AS (
       SELECT b, sum(tf) AS c, split_part(b, ' ', 1) AS w1,
         split_part(b, ' ', 2) AS w2
       FROM tfb GROUP BY b)""",
    """ctx AS (SELECT w1, sum(c) AS cc, count(*) AS n1f
       FROM parts GROUP BY w1)""",
    """cont AS (SELECT w2, count(*) AS nctx FROM parts GROUP BY w2)""",
    """nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM parts)""",
    """kncte AS (
       SELECT tfb.doc_id,
         CAST(sum(tfb.tf) AS BIGINT) AS n_bigrams,
         round(sum(tfb.tf * ln(
             (greatest(CAST(parts.c AS DOUBLE) - 0.75, 0.0)
                / CAST(ctx.cc AS DOUBLE))
           + ((0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.cc AS DOUBLE))
                * (CAST(cont.nctx AS DOUBLE) / nt.n))))
           / CAST(sum(tfb.tf) AS DOUBLE), 6) AS kn_logprob
       FROM tfb JOIN parts USING (b)
       JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN nt
       GROUP BY tfb.doc_id)""")

  define("t28_kn_bigram",
    "WITH " + KnCtes.mkString(",\n") +
      "\nSELECT doc_id, n_bigrams, kn_logprob FROM kncte") { (s, d) =>
    graft.operators.LanguageModel.kneserNeyBigramLogProb(
      t(s, d, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("kn_logprob"), 6).as("kn_logprob"))
  }

  // ==================================================================
  // DSIR importance resampling (operators.Dsir) — hashed-bigram
  // importance weights (target = the 'en' slice, raw = the full corpus)
  // with deterministic md5-Gumbel selection. Scoring is a ZERO-shuffle
  // fold against the λ map literal; the oracle recomputes the whole
  // chain (buckets → smoothed models → λ → per-doc sums) relationally —
  // a different algorithm, same doubles at the 6dp contract. Shared CTE
  // chain; t23 emits weights, t24 Gumbel-top-k from the PERSISTED model,
  // st20 streams the threshold form against the same frozen model.
  // ==================================================================

  private val dsirCtes: String =
    """WITH d AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS wds
         FROM documents),
       bg AS (SELECT doc_id, lang,
           list_transform(generate_series(1, len(wds) - 1),
             i -> ('0x' || substr(md5(wds[i] || ' ' || wds[i+1]), 1, 4))::INT % 4096)
             AS bks
         FROM d),
       occ AS (SELECT doc_id, lang, unnest(bks) AS bucket FROM bg),
       tc AS (SELECT bucket, count(*) AS c FROM occ WHERE lang = 'en'
              GROUP BY bucket),
       rc AS (SELECT bucket, count(*) AS c FROM occ GROUP BY bucket),
       tt AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM tc),
       rt AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM rc),
       lam AS (SELECT gs.bucket,
           ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE) / (tt.n + 4096))
         - ln(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE) / (rt.n + 4096)) AS lam
         FROM (SELECT unnest(generate_series(0, 4095)) AS bucket) gs
         LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
         CROSS JOIN tt CROSS JOIN rt),
       w AS (SELECT occ.doc_id, sum(lam.lam) AS lw FROM occ
             JOIN lam USING (bucket) GROUP BY occ.doc_id),
       sel AS (SELECT documents.doc_id,
           round(COALESCE(w.lw, 0.0)
             - ln(-ln((('0x' || substr(md5('dsir' || CAST(documents.doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                      / 4294967296.0)), 6) AS sel_key
         FROM documents LEFT JOIN w USING (doc_id))"""

  define("t23_dsir_weights", dsirCtes +
    """
       SELECT documents.doc_id, round(COALESCE(w.lw, 0.0), 6) AS log_w
       FROM documents LEFT JOIN w USING (doc_id)""") { (s, d) =>
    val docs = t(s, d, "documents")
    val lam = graft.operators.Dsir.trainLogRatio(
      docs.filter(col("lang") === "en"), docs, "text")
    graft.operators.Dsir.withLogWeight(
      docs, graft.operators.Dsir.modelFrom(lam), "text")
      .select(col("doc_id"), col("log_w"))
  }

  // Gumbel-top-k from the persisted λ model (k=100): importance sampling
  // without replacement as ONE ranking pass — orderBy+limit executes as
  // per-partition partial top-k. Keys round before the rank; the md5
  // noise is a pure function of the doc id, so both engines select the
  // identical k-set.
  define("t24_dsir_select", dsirCtes +
    """
       SELECT doc_id, sel_key FROM (
         SELECT doc_id, sel_key,
           row_number() OVER (ORDER BY sel_key DESC, doc_id) AS rn
         FROM sel)
       WHERE rn <= 100""") { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"dsir_$d") { p =>
      graft.operators.Dsir.saveModel(
        graft.operators.Dsir.trainLogRatio(
          docs.filter(col("lang") === "en"), docs, "text"),
        s"$p/dsir")
    }
    val m = graft.operators.Dsir.loadModel(s, s"$dir/dsir")
    graft.operators.Dsir.selectTopK(docs, m, "text", "doc_id", k = 100)
      .select(col("doc_id"), col("sel_key"))
  }

  // Multinomial Naive Bayes text classification — the fastText-style
  // "quality classifier" stage of a curation pipeline (label a slice,
  // train a linear model, score the corpus). Training is one counting
  // aggregate, serving one broadcast join; scores round to 6 decimals
  // BEFORE the argmax on both engines so the winner (and its
  // y-descending tie break) is decided on bit-identical inputs.
  define("t13_nb_classifier",
    """WITH tok AS (
         SELECT doc_id, lang,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       cond AS (SELECT lang AS y, w, count(*) AS c FROM tok GROUP BY lang, w),
       cls AS (SELECT lang AS y, count(*) AS n_docs FROM documents GROUP BY lang),
       ntok AS (SELECT y, sum(c) AS n_tok FROM cond GROUP BY y),
       v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM cond),
       tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nd FROM cls),
       scored AS (
         SELECT tf.doc_id, cls.y,
           round(ln(CAST(cls.n_docs AS DOUBLE) / tot.nd)
             + sum(tf.tf * ln((coalesce(CAST(cond.c AS DOUBLE), 0.0) + 1.0)
                              / (CAST(ntok.n_tok AS DOUBLE) + v.v))), 6) AS score
         FROM tf CROSS JOIN cls CROSS JOIN tot CROSS JOIN v
         JOIN ntok ON ntok.y = cls.y
         LEFT JOIN cond ON cond.y = cls.y AND cond.w = tf.w
         GROUP BY tf.doc_id, cls.y, cls.n_docs, tot.nd, ntok.n_tok, v.v)
       SELECT doc_id, y AS pred, score
       FROM (SELECT doc_id, y, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, y DESC) AS rn
             FROM scored)
       WHERE rn = 1""") { (s, d) =>
    import graft.operators.NaiveBayes
    val docs = t(s, d, "documents")
    NaiveBayes.classify(docs, "text", "doc_id",
      NaiveBayes.train(docs, "text", "lang"))
  }

  // The serve half: train on the first 400 docs, PERSIST the model
  // (classes + cond counts + params, the same layout discipline as the
  // ANN indexes — a classifier is serving state), then load and score the
  // held-out slice. Laplace smoothing makes OOV tokens total: a token the
  // model never saw contributes ln(alpha / (n_tok_y + alpha·V)) for every
  // class instead of exploding or silently dropping.
  define("t14_nb_classifier_serve",
    """WITH ttok AS (
         SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents WHERE doc_id < 400),
       cond AS (SELECT lang AS y, w, count(*) AS c FROM ttok GROUP BY lang, w),
       cls AS (SELECT lang AS y, count(*) AS n_docs FROM documents
               WHERE doc_id < 400 GROUP BY lang),
       ntok AS (SELECT y, sum(c) AS n_tok FROM cond GROUP BY y),
       v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM cond),
       tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nd FROM cls),
       stok AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents WHERE doc_id >= 400),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM stok GROUP BY doc_id, w),
       scored AS (
         SELECT tf.doc_id, cls.y,
           round(ln(CAST(cls.n_docs AS DOUBLE) / tot.nd)
             + sum(tf.tf * ln((coalesce(CAST(cond.c AS DOUBLE), 0.0) + 1.0)
                              / (CAST(ntok.n_tok AS DOUBLE) + v.v))), 6) AS score
         FROM tf CROSS JOIN cls CROSS JOIN tot CROSS JOIN v
         JOIN ntok ON ntok.y = cls.y
         LEFT JOIN cond ON cond.y = cls.y AND cond.w = tf.w
         GROUP BY tf.doc_id, cls.y, cls.n_docs, tot.nd, ntok.n_tok, v.v)
       SELECT doc_id, y AS pred, score
       FROM (SELECT doc_id, y, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, y DESC) AS rn
             FROM scored)
       WHERE rn = 1""") { (s, d) =>
    import graft.operators.NaiveBayes
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"nbmodel_$d") { p =>
      NaiveBayes.save(
        NaiveBayes.train(docs.filter(col("doc_id") < 400), "text", "lang"),
        s"$p/model")
    }
    NaiveBayes.classify(docs.filter(col("doc_id") >= 400), "text", "doc_id",
      NaiveBayes.load(s, s"$dir/model"))
  }

  // Gopher quality rules (Rae et al. 2021 appendix A1.1): the full
  // published rule set, one audit column per rule plus the composite keep
  // flag — at corpus scale the per-rule columns ARE the product (ablation
  // needs to know WHICH rule rejected each doc). Single scan pass, no
  // shuffle; every metric is a ratio of integer counts, so the doubles are
  // exact and the oracle compares unrounded.
  define("t15_gopher_rules",
    """WITH t AS (
         SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS w,
           string_split(text, chr(10)) AS l
         FROM documents),
       m AS (
         SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
             / greatest(CAST(len(w) AS DOUBLE), 1.0) AS mean_word_len,
           (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
            + (length(text) - length(replace(text, '...', ''))) / 3
            + (length(text) - length(replace(text, '…', ''))))
             / greatest(CAST(len(w) AS DOUBLE), 1.0) AS symbol_ratio,
           CAST(len(list_filter(l, x -> regexp_matches(x, '^\s*[-*•]\s')))
             AS DOUBLE) / greatest(CAST(len(l) AS DOUBLE), 1.0) AS bullet_frac,
           CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
             AS DOUBLE) / greatest(CAST(len(l) AS DOUBLE), 1.0) AS ellipsis_frac,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
             AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) AS alpha_frac,
           CAST(len(list_filter(w, x -> list_contains(
             ['the','a','and','of','to','in','is','that'], lower(x))))
             AS BIGINT) AS stop_hits
         FROM t)
       SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
         ellipsis_frac, alpha_frac, stop_hits,
         CAST(n_words BETWEEN 50 AND 100000
           AND mean_word_len BETWEEN 3.0 AND 10.0
           AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
           AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
           AND stop_hits >= 2 AS INT) AS keep
       FROM m""") { (s, d) =>
    graft.functions.TextFunctions.withGopherRules(
      t(s, d, "documents"), "text")
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_frac"), col("stop_hits"), col("keep").cast("int").as("keep"))
  }

  // Adaptive per-language threshold (CCNet-style percentile cut): keep docs
  // at or above their OWN language's 25th-percentile token count. The
  // threshold is the discrete percentile (value at rank ceil(q·n)) —
  // integer ranks, no interpolation, bit-identical across engines. Scale
  // shape: the rank pass shuffles only (lang, n_tokens); the thresholds
  // table is |langs| rows → broadcast join back.
  define("t16_adaptive_threshold",
    """WITH t AS (
         SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       r AS (
         SELECT lang, n_tokens,
           row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
           count(*) OVER (PARTITION BY lang) AS cnt
         FROM t),
       thr AS (
         SELECT lang, min(n_tokens) AS thr
         FROM r WHERE rn >= ceil(0.25 * cnt) GROUP BY lang)
       SELECT doc_id, lang, n_tokens, thr
       FROM t JOIN thr USING (lang) WHERE n_tokens >= thr""") { (s, d) =>
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    graft.operators.Quality.filterByGroupQuantile(docs, "lang", "n_tokens",
      q = 0.25)
      .select("doc_id", "lang", "n_tokens", "thr")
  }

  // The full Gopher repetition-removal suite (Rae et al.'21 Table A1),
  // complementing t15's rule set: top-{2,3,4}-gram char coverage,
  // duplicate-{5..10}-gram char coverage, duplicate-line occurrence and
  // char fractions (5-word chunks — the corpus has no newlines; same
  // convention as d11), plus the composite keep. Engine side is a pure
  // scan pass (per-doc sorted-run fold, zero shuffle); the oracle
  // recomputes every metric via unnest + GROUP BY — two different
  // algorithms agreeing on exact integer-ratio doubles, compared
  // unrounded. The keep comparisons use the SAME fraction-≤-threshold
  // spelling on both sides so boundary docs cannot diverge.
  // Shared by t17 and the p10 capstone: CTE chain computing every
  // repetition metric per doc (`fr`), and the composite keep predicate.
  private val repetitionCtes: String =
    """t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       base AS (
         SELECT doc_id,
           greatest(length(array_to_string(w, ' ')), 1) AS nchars,
           greatest(CAST(ceil(len(w) / 5.0) AS BIGINT), 1) AS nlines
         FROM t),
       g AS (
         SELECT t.doc_id, nt.n AS n,
           array_to_string(w[pt.pos : pt.pos + nt.n - 1], ' ') AS gram
         FROM t,
           unnest(generate_series(2, 10)) AS nt(n),
           unnest(generate_series(1, greatest(len(w) - nt.n + 1, 0)))
             AS pt(pos)),
       cnts AS (SELECT doc_id, n, gram, count(*) AS c FROM g
                GROUP BY doc_id, n, gram),
       ranked AS (SELECT doc_id, n, gram, c,
           row_number() OVER (PARTITION BY doc_id, n
             ORDER BY c DESC, gram) AS rn
         FROM cnts),
       top AS (SELECT doc_id, n, c * length(gram) AS topchars
               FROM ranked WHERE rn = 1),
       dupg AS (SELECT doc_id, n,
           coalesce(sum(c * length(gram)) FILTER (WHERE c >= 2), 0)
             AS dupchars
         FROM cnts GROUP BY doc_id, n),
       pern AS (
         SELECT doc_id, n, t2.topchars, d.dupchars
         FROM dupg d JOIN top t2 USING (doc_id, n)),
       gram_cols AS (
         SELECT doc_id,
           max(CASE WHEN n = 2 THEN topchars END) AS top2,
           max(CASE WHEN n = 3 THEN topchars END) AS top3,
           max(CASE WHEN n = 4 THEN topchars END) AS top4,
           max(CASE WHEN n = 5 THEN dupchars END) AS dup5,
           max(CASE WHEN n = 6 THEN dupchars END) AS dup6,
           max(CASE WHEN n = 7 THEN dupchars END) AS dup7,
           max(CASE WHEN n = 8 THEN dupchars END) AS dup8,
           max(CASE WHEN n = 9 THEN dupchars END) AS dup9,
           max(CASE WHEN n = 10 THEN dupchars END) AS dup10
         FROM pern GROUP BY doc_id),
       lns AS (
         SELECT doc_id,
           array_to_string(w[pos * 5 + 1 : pos * 5 + 5], ' ') AS line
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0,
                   CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS pos
               FROM t)),
       lcnt AS (SELECT doc_id, line, count(*) AS c FROM lns
                GROUP BY doc_id, line),
       lstats AS (
         SELECT doc_id,
           coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup_occ,
           coalesce(sum(c * length(line)) FILTER (WHERE c >= 2), 0)
             AS dup_chars,
           greatest(sum(c * length(line)), 1) AS line_chars
         FROM lcnt GROUP BY doc_id),
       fr AS (
         SELECT b.doc_id,
           CAST(coalesce(g2.top2, 0) AS DOUBLE) / b.nchars AS top_2gram_char_frac,
           CAST(coalesce(g2.top3, 0) AS DOUBLE) / b.nchars AS top_3gram_char_frac,
           CAST(coalesce(g2.top4, 0) AS DOUBLE) / b.nchars AS top_4gram_char_frac,
           CAST(coalesce(g2.dup5, 0) AS DOUBLE) / b.nchars AS dup_5gram_char_frac,
           CAST(coalesce(g2.dup6, 0) AS DOUBLE) / b.nchars AS dup_6gram_char_frac,
           CAST(coalesce(g2.dup7, 0) AS DOUBLE) / b.nchars AS dup_7gram_char_frac,
           CAST(coalesce(g2.dup8, 0) AS DOUBLE) / b.nchars AS dup_8gram_char_frac,
           CAST(coalesce(g2.dup9, 0) AS DOUBLE) / b.nchars AS dup_9gram_char_frac,
           CAST(coalesce(g2.dup10, 0) AS DOUBLE) / b.nchars AS dup_10gram_char_frac,
           CAST(coalesce(l.dup_occ, 0) AS DOUBLE) / b.nlines AS dup_line_frac,
           CAST(coalesce(l.dup_chars, 0) AS DOUBLE)
             / coalesce(l.line_chars, 1) AS dup_line_char_frac
         FROM base b
         LEFT JOIN gram_cols g2 USING (doc_id)
         LEFT JOIN lstats l USING (doc_id))"""

  private val repetitionKeepExpr: String =
    """top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
           AND top_4gram_char_frac <= 0.16 AND dup_5gram_char_frac <= 0.15
           AND dup_6gram_char_frac <= 0.14 AND dup_7gram_char_frac <= 0.13
           AND dup_8gram_char_frac <= 0.12 AND dup_9gram_char_frac <= 0.11
           AND dup_10gram_char_frac <= 0.10 AND dup_line_frac <= 0.30
           AND dup_line_char_frac <= 0.20"""

  define("t17_repetition_suite",
    s"""WITH $repetitionCtes
       SELECT *, CAST($repetitionKeepExpr AS INT) AS keep
       FROM fr""") { (s, d) =>
    // the chunker reads withRepetitionStats' materialized token column
    // (__w) through the codegen'd WordChunks kernel (round-16: the
    // transform/slice HOF spelling kept the whole projection out of
    // whole-stage codegen)
    val chunks = graft.functions.TextKernels.wordChunks(col("__w"), 5)
    graft.operators.Repetition.withRepetitionStats(
      t(s, d, "documents"), "text", linesOf = _ => chunks)
      .select(col("doc_id") +:
        graft.operators.Repetition.thresholds.map(t => col(t._1)) :+
        col("keep").cast("int").as("keep"): _*)
  }

  // Capstone №4 (round-8 ops composed end-to-end, ONE logical plan):
  // repetition-suite gate → per-language percentile of token count over
  // the SURVIVORS (population matters: the percentile is computed after
  // the filter) → drop the tail decile → stratified exact-count split of
  // what remains. The oracle replays the full composition row-for-row —
  // repetition CTEs shared verbatim with t17, cume_dist and row_number
  // windows for the stages the engine computes with histogram cumsums and
  // groupRunningTotal ranks.
  define("p10_curation_v3",
    s"""WITH $repetitionCtes,
       keepers AS (SELECT doc_id FROM fr WHERE $repetitionKeepExpr),
       tk AS (
         SELECT d.doc_id, d.lang,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
             AS n_tokens
         FROM documents d JOIN keepers USING (doc_id)),
       p AS (
         SELECT doc_id, lang, n_tokens,
           cume_dist() OVER (PARTITION BY lang ORDER BY n_tokens)
             AS pct_rank
         FROM tk),
       surv AS (SELECT * FROM p WHERE pct_rank > 0.1),
       r AS (
         SELECT doc_id, lang, n_tokens, pct_rank,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(concat('v3', CAST(doc_id AS VARCHAR))), doc_id)
             AS rk,
           count(*) OVER (PARTITION BY lang) AS n
         FROM surv)
       SELECT doc_id, lang, n_tokens, pct_rank,
         CASE WHEN rk <= floor(0.8 * n) THEN 'train'
              WHEN rk <= floor(0.9 * n) THEN 'val'
              ELSE 'test' END AS split
       FROM r""") { (s, d) =>
    // The fold output is cached BEFORE the keep-filter: predicate
    // pushdown substitutes projection aliases unconditionally, so an
    // uncached filter(keep) inlines all eleven frac expressions — each
    // carrying its own interpreted sort+fold — into ONE giant per-row
    // predicate below the projection (measured 46 s at sf0.1 vs ~8 s
    // for the fold itself). Behind the InMemoryRelation barrier the
    // filter reads the materialized keep boolean. The cache also pays
    // for itself twice over: the kept frame feeds BOTH the percentile
    // histogram pass (groupRunningTotal's driver-side phase is an
    // action) and the final plan.
    // token array materializes as a column first; the chunker is the
    // codegen'd WordChunks kernel (round-16)
    val chunks = graft.functions.TextKernels.wordChunks(col("__tk"), 5)
    // Slim the cached projection to what downstream reads (doc_id, lang,
    // n_tokens, keep): the old cache materialized the full text AND the
    // __chunks array alongside the stats — roughly 2× the corpus bytes
    // written to and read from block storage for columns no consumer
    // touches past the fold. tokenCount moves inside the cached
    // projection (same values; computed for all rows instead of kept
    // rows only, a cheap split vs. caching every document twice).
    val folded = graft.operators.CacheScope.global.cache(
      graft.operators.Repetition.withRepetitionStats(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            split(trim(col("text")), "\\s+").as("__tk"))
          .select(col("doc_id"), col("lang"), col("text"),
            chunks.as("__chunks")),
        "text", linesOf = _ => col("__chunks"))
        .select(col("doc_id"), col("lang"), col("keep"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens")))
    val kept = folded
      .filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val surv = graft.operators.Quality
      .withGroupPercentile(kept, "lang", "n_tokens")
      .filter(col("pct_rank") > 0.1)
    graft.operators.Splits.stratifiedSplit(surv, "lang", "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v3")
      .select("doc_id", "lang", "n_tokens", "pct_rank", "split")
  }

  // Corpus profile report: per-(lang, source) slice — doc count, token
  // totals/mean, discrete token-count quantiles (ALL from one histogram +
  // running-count pass, Quality.groupQuantiles — no per-row window),
  // vocabulary size and type-token ratio. The curation "report card" run
  // before and after a pipeline; every metric engine-exact (integer
  // counts, single rounded divisions, rank-ceil(q·n) quantiles).
  define("t18_corpus_profile",
    """WITH t AS (
         SELECT doc_id, lang, source,
           regexp_split_to_array(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '\s+')
             AS w
         FROM documents),
       d AS (SELECT doc_id, lang, source, CAST(len(w) AS BIGINT) AS n_tokens
             FROM t),
       r AS (
         SELECT lang, source, n_tokens,
           row_number() OVER (PARTITION BY lang, source ORDER BY n_tokens)
             AS rn,
           count(*) OVER (PARTITION BY lang, source) AS cnt
         FROM d),
       q AS (
         SELECT lang, source,
           min(CASE WHEN rn >= ceil(0.25 * cnt) THEN n_tokens END) AS p25_tokens,
           min(CASE WHEN rn >= ceil(0.50 * cnt) THEN n_tokens END) AS p50_tokens,
           min(CASE WHEN rn >= ceil(0.75 * cnt) THEN n_tokens END) AS p75_tokens
         FROM r GROUP BY lang, source),
       v AS (
         SELECT lang, source, count(DISTINCT term) AS vocab
         FROM (SELECT lang, source, unnest(w) AS term FROM t)
         WHERE term <> '' GROUP BY lang, source),
       agg AS (
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM d GROUP BY lang, source)
       SELECT a.lang, a.source, a.n_docs, a.total_tokens,
         round(CAST(a.total_tokens AS DOUBLE) / a.n_docs, 6) AS mean_tokens,
         q.p25_tokens, q.p50_tokens, q.p75_tokens, v.vocab,
         round(CAST(v.vocab AS DOUBLE) / a.total_tokens, 6) AS ttr
       FROM agg a JOIN q USING (lang, source)
       JOIN v USING (lang, source)""") { (s, d) =>
    graft.operators.Profile.corpusProfile(
      t(s, d, "documents"), Seq("lang", "source"), "text")
      .select("lang", "source", "n_docs", "total_tokens", "mean_tokens",
        "p25_tokens", "p50_tokens", "p75_tokens", "vocab", "ttr")
  }

  // Per-row group-percentile normalization (CCNet score buckets): each
  // doc's token count becomes its percentile WITHIN its language —
  // cross-language comparable — then the head/middle/tail bucket cut.
  // pct_rank ≡ SQL cume_dist (#values ≤ v / n — exact integer ratio); the
  // engine derives it from the histogram + groupRunningTotal cumulative
  // table and a (group, value) join back, never a per-row window; the
  // oracle IS the window spelling — two algorithms, one answer.
  define("t20_percentile_normalize",
    """WITH t AS (
         SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       r AS (
         SELECT doc_id, lang, n_tokens,
           cume_dist() OVER (PARTITION BY lang ORDER BY n_tokens)
             AS pct_rank
         FROM t)
       SELECT doc_id, lang, n_tokens, pct_rank,
         CASE WHEN pct_rank <= 0.1 THEN 'tail'
              WHEN pct_rank <= 0.4 THEN 'middle'
              ELSE 'head' END AS bucket
       FROM r""") { (s, d) =>
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    graft.operators.Quality.withGroupPercentile(docs, "lang", "n_tokens")
      .withColumn("bucket",
        when(col("pct_rank") <= 0.1, "tail")
          .when(col("pct_rank") <= 0.4, "middle")
          .otherwise("head"))
      .select("doc_id", "lang", "n_tokens", "pct_rank", "bucket")
  }

  // Corpus-wide top-k n-grams (boilerplate discovery): which exact
  // phrases dominate the corpus — feeds blocklists; complements d14's
  // span dedup (which removes repeats but doesn't NAME them). Global
  // top-k executes as TakeOrderedAndProject (per-partition k, driver
  // merges P·k rows — no global sort); the (occurrences DESC, gram ASC)
  // tie-break makes the k-boundary set deterministic across engines.
  define("t19_top_ngrams",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g AS (SELECT doc_id, array_to_string(wds[pos : pos + 2], ' ') AS gram
             FROM (SELECT doc_id, wds,
                     unnest(generate_series(1, greatest(len(wds) - 2, 0)))
                       AS pos
                   FROM w)),
       pg AS (SELECT doc_id, gram, count(*) AS c FROM g
              GROUP BY doc_id, gram)
       SELECT gram, CAST(sum(c) AS BIGINT) AS occurrences,
         count(*) AS n_docs
       FROM pg GROUP BY gram
       ORDER BY occurrences DESC, gram LIMIT 50""") { (s, d) =>
    graft.operators.TfIdf.topNgrams(t(s, d, "documents"), "text", "doc_id",
      n = 3, k = 50)
  }

  // Shared φ-frequent-2-gram oracle (t38 one-shot, t39 persisted store,
  // st25 streaming — three paths, one function by construction: the
  // exact recount makes each output the φ-frequent set with true
  // counts, independent of sketch internals).
  private val hhOracleSql: String =
    """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g AS (SELECT array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w)),
       tot AS (SELECT count(*) AS n FROM g)
       SELECT gram, CAST(count(*) AS BIGINT) AS cnt
       FROM g CROSS JOIN tot
       GROUP BY gram, n
       HAVING count(*) >= CAST(ceil(0.001 * n) AS BIGINT)"""

  // φ-frequent n-grams via Misra–Gries + exact recount — t19's SCALE
  // path: the exact top-k report shuffles the whole (gram, count)
  // vocabulary, which is unbounded for raw web phrases; the MG pass
  // bounds state and wire at O(m) per partition, its guaranteed-superset
  // candidates get ONE exact recount (InSet filter, no join), and the
  // output — every gram with count ≥ ceil(φ·N), true counts — is
  // provably identical to brute force whatever the partitioning (the
  // merge-order-dependent sketch internals never reach the output; the
  // exact second pass is what makes a sketch oracle-able, the d6/s11
  // discipline). φ = 0.001 on 2-grams puts the threshold mid-
  // distribution on this corpus: both HAVING branches live.
  define("t38_frequent_ngrams", hhOracleSql) { (s, d) =>
    graft.operators.HeavyHitters.frequentNgrams(
      t(s, d, "documents"), "text", n = 2, phi = 0.001)
  }

  // Persisted MG summary store (the KMV table's frequent-items sibling,
  // Sketches mg family): even/odd corpus slices summarize INDEPENDENTLY
  // and append their (group, summary, n_items) rows — no slice ever
  // rescans another; the serve folds stored summaries (Agarwal'12
  // mergeability keeps the deficit ≤ N/(m+1) over the union) and
  // recounts the folded candidates exactly, so the output equals the
  // one-shot t38 answer — the oracle transfers verbatim (the d13/d16
  // build-vs-append trick, third family to use it).
  define("t39_frequent_ngrams_store", hhOracleSql) { (s, d) =>
    import graft.operators.{HeavyHitters, Sketches}
    val docs = t(s, d, "documents")
    val m = 2000 // = ceil(margin/phi) at margin 2, phi 0.001
    val dir = sessionIndexDir(s"hh_$d") { p =>
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItems(
          HeavyHitters.ngramItems(
            docs.filter(col("doc_id") % 2 === 0), "text", 2), "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "even")
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItems(
          HeavyHitters.ngramItems(
            docs.filter(col("doc_id") % 2 =!= 0), "text", 2), "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "odd")
    }
    HeavyHitters.frequentItemsFromStore(
      HeavyHitters.ngramItems(docs, "text", 2), "gram", s"$dir/hh",
      phi = 0.001)
      .withColumnRenamed("item", "gram")
  }

  // Count-Min point-frequency estimates — the third sketch (KMV =
  // distinct, MG = frequent items, CM = "how often did THIS phrase
  // occur"). CM is a LINEAR sketch over the portable md5 hash: counter
  // tables are order-independent sums, so — unlike MG — the ESTIMATES
  // themselves are bit-identical in any engine and the oracle replays
  // the full sketch (4 hash rows × 1024 cells, same strpos/md5 hash
  // arithmetic as t34) rather than needing an exact-recount escape.
  // Probe set: the distinct 2-grams of every 97th document. Wire cost
  // of the build: partitions × depth × width counters — constant in the
  // vocabulary; serving joins the broadcast probe batch to the
  // metadata-sized counter table, the corpus untouched.
  // Shared per-lang φ-frequent-2-gram oracle (t41 one-shot grouped,
  // t44 grouped store, t45 forced-broadcast plan — three paths, one
  // exact answer; sharing the text verbatim also dedupes the DuckDB
  // memoization).
  private val hhByLangOracleSql: String =
    """WITH w AS (SELECT lang, regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g AS (SELECT lang, array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT lang, wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w)),
       tot AS (SELECT lang, count(*) AS n FROM g GROUP BY lang)
       SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
       FROM g JOIN tot USING (lang)
       GROUP BY lang, gram, n
       HAVING count(*) >= CAST(ceil(0.0013 * n) AS BIGINT)"""

  /** The (lang, gram) explode t41/t44/t45 share (spread-before-HOF). */
  private def langGrams(docs: DataFrame): DataFrame =
    graft.operators.spread(docs.select(col("lang"), col("text")))
      .select(col("lang"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 2))
          .as("gram"))

  // Per-GROUP φ-frequent n-grams: one MG summary per language in a
  // single map-side-combined agg, the union of candidates recounted
  // exactly per (lang, gram) against per-lang thresholds — exact per
  // group (each group's φ-frequent set is inside its own candidates).
  define("t41_frequent_ngrams_by_lang", hhByLangOracleSql) { (s, d) =>
    graft.operators.HeavyHitters.frequentItemsByGroup(
      langGrams(t(s, d, "documents")), "lang", "gram", phi = 0.0013)
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  // t41's SCALE-variant plan, same exact answer: the candidate recount
  // ships as a broadcast left-semi join instead of an InSet literal
  // (the expression-tree ceiling at ~10⁶ candidates) and the per-group
  // thresholds as a broadcast (group, thr) join instead of a when-chain
  // (the expression-tree ceiling at ~10⁵ groups). Caps forced to 0 so
  // the gate pins the high-cardinality plan the soak exercises at 10⁵
  // groups; the oracle is t41's verbatim — two plans, one answer.
  define("t45_frequent_by_lang_bcast", hhByLangOracleSql) { (s, d) =>
    graft.operators.HeavyHitters.frequentItemsByGroup(
      langGrams(t(s, d, "documents")), "lang", "gram", phi = 0.0013,
      inSetCap = 0, whenChainCap = 0)
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  // Grouped MG summary STORE (the t39↔t38 relationship, per group):
  // even/odd corpus slices summarize per lang independently and append
  // their (lang, summary, n_items) rows; the serve folds stored
  // summaries per lang (Agarwal'12 mergeability holds group-wise),
  // recounts the folded candidates exactly per (lang, gram), and
  // thresholds come from the STORED per-lang totals via a broadcast
  // join — so the output equals the one-shot t41 answer and the oracle
  // transfers verbatim (the d13/d16 build-vs-append trick, grouped).
  define("t44_frequent_by_lang_store", hhByLangOracleSql) { (s, d) =>
    import graft.operators.{HeavyHitters, Sketches}
    val docs = t(s, d, "documents")
    val m = 2000 // m + 1 > 1/phi at phi = 0.0013 (needs ≥ 770)
    val dir = sessionIndexDir(s"hhg_$d") { p =>
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 2 === 0)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "even")
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 2 =!= 0)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "odd")
    }
    HeavyHitters.frequentItemsByGroupFromStore(
      langGrams(docs), "lang", "gram", s"$dir/hh", phi = 0.0013)
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  // AUTO-compaction on the BATCH append path (round-15): t44 appends and
  // serves, st33 auto-compacts inside a stream's own trigger — this gate
  // closes the remaining corner: a non-streaming daily-append writer
  // whose appends fold the store THEMSELVES once the slice count reaches
  // the threshold (appendMgSummaries' compactSliceThreshold — same
  // single-writer-by-identity safety: the fold runs after the appender's
  // own fenced append committed). With three slices and threshold 2 the
  // fold fires on BOTH appends; MG fold invisibility (Agarwal'12,
  // pinned by t56) keeps the serve equal to the one-shot t41 answer, so
  // the oracle transfers verbatim — and the gate REQUIRES the cadence
  // to have actually fired (the live summaries table must be a
  // compaction generation, not the builder dir).
  define("t61_frequent_store_autocompact", hhByLangOracleSql) { (s, d) =>
    import graft.operators.{HeavyHitters, Similarity, Sketches}
    val docs = t(s, d, "documents")
    val m = 2000 // the t44 capacity: m + 1 > 1/phi at phi = 0.0013
    val dir = sessionIndexDir(s"hhga_$d") { p =>
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 3 === 0)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "m0")
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 3 === 1)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "m1",
        compactSliceThreshold = 2)
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 3 === 2)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "m2",
        compactSliceThreshold = 2)
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(s"$p/hh", "summaries"))
        .getFileName.toString
      require(live.startsWith("summaries.g"),
        s"auto-compaction never fired on append: live dir is $live")
    }
    HeavyHitters.frequentItemsByGroupFromStore(
      langGrams(docs), "lang", "gram", s"$dir/hh", phi = 0.0013)
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  // Shared CM oracle (t40 one-shot, st26 streaming — linearity makes
  // the per-batch-built, appended, summed-at-read counter table equal
  // the one-shot build bit for bit, so one oracle covers both).
  private val cmOracleSql: String =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g AS (SELECT array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w)),
       q AS (SELECT DISTINCT array_to_string(wds[pos : pos + 1], ' ')
               AS gram
             FROM (SELECT wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w WHERE doc_id % 97 = 0)),
       hr AS (SELECT unnest(generate_series(0, 3)) AS row),
       gc AS (SELECT row,
                CAST(list_sum(list_transform(range(1, 16),
                  p2 -> (strpos('0123456789abcdef',
                           md5(CAST(row AS VARCHAR) || ':' || gram)[p2]) - 1)
                       * (1::BIGINT << (4*(15-p2))))) AS BIGINT) % 1024
                  AS cell
              FROM g CROSS JOIN hr),
       counters AS (SELECT row, cell, CAST(count(*) AS BIGINT) AS cnt
                    FROM gc GROUP BY row, cell),
       qc AS (SELECT gram, row,
                CAST(list_sum(list_transform(range(1, 16),
                  p2 -> (strpos('0123456789abcdef',
                           md5(CAST(row AS VARCHAR) || ':' || gram)[p2]) - 1)
                       * (1::BIGINT << (4*(15-p2))))) AS BIGINT) % 1024
                  AS cell
              FROM q CROSS JOIN hr)
       SELECT gram, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
       FROM qc LEFT JOIN counters USING (row, cell)
       GROUP BY gram"""

  define("t40_countmin", cmOracleSql) { (s, d) =>
    import graft.functions.{TextFunctions => TFx}
    val docs = t(s, d, "documents")
    val probes = graft.operators.spread(
        docs.filter(col("doc_id") % 97 === 0).select(col("text").as("__t")))
      .select(explode(TFx.shingles(col("__t"), 2)).as("phrase"))
    graft.operators.CountMin.cmNgramFrequencies(docs, probes,
      "text", n = 2, phraseCol = "phrase", depth = 4, width = 1024)
  }

  // Shared grouped-CM oracle (t43 one-shot, t46 persisted grouped
  // store — per-group linearity makes the appended, summed-at-read
  // tables equal the one-shot grouped build bit for bit, so one oracle
  // covers both).
  private val cmByLangOracleSql: String =
    """WITH w AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       g AS (SELECT lang, array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT lang, wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w)),
       q AS (SELECT DISTINCT lang,
               array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT lang, wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w WHERE doc_id % 97 = 0)),
       hr AS (SELECT unnest(generate_series(0, 3)) AS row),
       gc AS (SELECT lang, row,
                CAST(list_sum(list_transform(range(1, 16),
                  p2 -> (strpos('0123456789abcdef',
                           md5(CAST(row AS VARCHAR) || ':' || gram)[p2]) - 1)
                       * (1::BIGINT << (4*(15-p2))))) AS BIGINT) % 1024
                  AS cell
              FROM g CROSS JOIN hr),
       counters AS (SELECT lang, row, cell, CAST(count(*) AS BIGINT) AS cnt
                    FROM gc GROUP BY lang, row, cell),
       qc AS (SELECT lang, gram, row,
                CAST(list_sum(list_transform(range(1, 16),
                  p2 -> (strpos('0123456789abcdef',
                           md5(CAST(row AS VARCHAR) || ':' || gram)[p2]) - 1)
                       * (1::BIGINT << (4*(15-p2))))) AS BIGINT) % 1024
                  AS cell
              FROM q CROSS JOIN hr)
       SELECT lang, gram, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
       FROM qc LEFT JOIN counters USING (lang, row, cell)
       GROUP BY lang, gram"""

  /** The (lang, gram) probe batch t43/t46 share: distinct 2-grams of
    * every 97th document, scored against their own language. */
  private def langProbes(docs: DataFrame): DataFrame =
    graft.operators.spread(
        docs.filter(col("doc_id") % 97 === 0).select(col("lang"), col("text")))
      .select(col("lang"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 2))
          .as("gram"))

  // Grouped Count-Min: one LINEAR sketch per language in the same
  // single explode + hash-agg pass (wire ≤ |langs|·depth·width
  // counters, constant in the vocabulary); each (lang, gram) probe is
  // scored against ITS language's counters only. Linearity per group
  // means the estimates are bit-identical cross-engine, so the oracle
  // replays the full grouped sketch — the t40 argument with a lang key.
  define("t43_countmin_by_lang", cmByLangOracleSql) { (s, d) =>
    import graft.operators.CountMin
    val docs = t(s, d, "documents")
    CountMin.cmEstimateByGroup(langProbes(docs),
      CountMin.cmBuildByGroup(langGrams(docs), "lang", "gram", 4, 1024),
      "lang", "gram", depth = 4, width = 1024)
      .select(col("group").as("lang"), col("item").as("gram"), col("est"))
  }

  // Persisted GROUPED counter store (the t39↔t38 / t44↔t41 store rung
  // for grouped CM, completing the grouped symmetry across all three
  // sketch families): even/odd corpus slices build their grouped
  // tables independently and append them under their own slice ids;
  // the reader dedups replays and sums per (lang, row, cell), which by
  // per-group linearity equals the one-shot t43 build bit for bit —
  // the oracle transfers verbatim, no recount step.
  define("t46_countmin_by_lang_store", cmByLangOracleSql) { (s, d) =>
    import graft.operators.CountMin
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"cmg_$d") { p =>
      CountMin.saveCmGroups(
        CountMin.cmBuildByGroup(
          langGrams(docs.filter(col("doc_id") % 2 === 0)),
          "lang", "gram", 4, 1024),
        s"$p/cm", 4, 1024, sliceId = "even")
      CountMin.appendCmGroups(
        CountMin.cmBuildByGroup(
          langGrams(docs.filter(col("doc_id") % 2 =!= 0)),
          "lang", "gram", 4, 1024),
        s"$p/cm", 4, 1024, sliceId = "odd")
    }
    // the store serve probes its own group count (cheap — the counter
    // table is parquet) and picks broadcast at language cardinality;
    // the digest pins that the probe never changes this plan
    CountMin.cmEstimateByGroupFromStore(langProbes(docs), s"$dir/cm",
      "lang", "gram")
      .select(col("group").as("lang"), col("item").as("gram"), col("est"))
  }

  // t43's SCALE-variant plan, same exact answer (the t45↔t41
  // relationship for CM): broadcastGroupCap = 0 forces the probe join
  // to SHUFFLE HASH on (group, row, cell) — the 10⁶-group regime where
  // the counter table outgrows any broadcast budget. Both sides
  // exchange the same slim keys; corpus rows never move; the oracle is
  // t43's verbatim — two plans, one bit-identical answer.
  define("t59_countmin_by_lang_shuffle", cmByLangOracleSql) { (s, d) =>
    import graft.operators.CountMin
    val docs = t(s, d, "documents")
    CountMin.cmEstimateByGroup(langProbes(docs),
      CountMin.cmBuildByGroup(langGrams(docs), "lang", "gram", 4, 1024),
      "lang", "gram", depth = 4, width = 1024, broadcastGroupCap = 0)
      .select(col("group").as("lang"), col("item").as("gram"), col("est"))
  }

  // ------------------------------------------------------------------
  // Exact distributed quantiles (operators.Quantiles) — the RANK rung
  // of the sketch suite. Spark's built-in exact `percentile` buffers
  // every group value in executor memory (dead at 100 TB); these gates
  // pin the scale path: iterative histogram refinement, O(log) scans,
  // O(bins) driver state, and an answer EXACT to percentile_disc
  // semantics (monotone FP bucketing + snap-to-data-values — see the
  // operator scaladoc for the exactness argument).
  // ------------------------------------------------------------------

  define("t47_exact_quantiles",
    """SELECT CAST(0.5 AS DOUBLE) AS q,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
           AS value FROM lineitem
       UNION ALL
       SELECT CAST(0.9 AS DOUBLE),
         percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
           FROM lineitem
       UNION ALL
       SELECT CAST(0.99 AS DOUBLE),
         percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
           FROM lineitem""") { (s, d) =>
    graft.operators.Quantiles.exactQuantiles(
      t(s, d, "lineitem"), "l_extendedprice", Seq(0.5, 0.9, 0.99))
  }

  // Shared grouped-quantile oracle (t48 one-shot, t49 persisted
  // histogram store, st30 streaming — the store serve continues the
  // refinement from the merged histogram's exact rank prefix, so all
  // three produce the identical exact value).
  private val quantileByLangSql: String =
    """SELECT lang, percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
         AS p50 FROM documents GROUP BY lang"""

  // Per-group exact median: ONE simultaneous refinement serves every
  // language (pass count = max depth over groups, not the sum).
  define("t48_quantile_by_lang", quantileByLangSql) { (s, d) =>
    graft.operators.Quantiles.exactQuantilesByGroup(
        t(s, d, "documents"), "lang", "n_chars", 0.5)
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
  }

  // Persisted mergeable histogram store (the t36/t44/t46 store rung for
  // quantiles): even/odd corpus slices histogram independently against
  // a fixed geometry and append under their own slice ids; the linear
  // merge (sum cnt, min/max bounds per bucket) equals the one-shot
  // histogram, and the serve continues refinement from the stored exact
  // rank prefix — so the served median equals t48's bit for bit and the
  // oracle transfers verbatim. The geometry is DELIBERATELY too narrow
  // ([0, 256) while n_chars runs higher) so the overflow bucket is
  // exercised: a store whose geometry drifted from the data still
  // serves exactly, just with one less prepaid refinement level.
  define("t49_quantile_by_lang_store", quantileByLangSql) { (s, d) =>
    import graft.operators.Quantiles
    val docs = t(s, d, "documents")
    val (lo, hi, bins) = (0.0, 256.0, 64)
    val dir = sessionIndexDir(s"hq_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "even")
      Quantiles.appendHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "odd")
    }
    Quantiles.quantileByGroupFromStore(docs, "lang", "n_chars",
        s"$dir/h", 0.5)
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
  }

  // Robust dispersion per language: (median, MAD) — two refinements
  // composed, the second over the broadcast-derived |x − med|. The
  // MAD-fence outlier cut survives the heavy tails that dominate a
  // stddev; exactness transfers because the derived values are
  // integer-valued (|bigint − bigint|) so both engines rank identical
  // numbers.
  define("t51_mad_by_lang",
    """WITH m AS (SELECT lang,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med
         FROM documents GROUP BY lang)
       SELECT d.lang, CAST(min(m.med) AS BIGINT) AS med,
         CAST(percentile_disc(0.5)
           WITHIN GROUP (ORDER BY abs(d.n_chars - m.med)) AS BIGINT)
           AS mad
       FROM documents d JOIN m ON d.lang = m.lang
       GROUP BY d.lang""") { (s, d) =>
    graft.operators.Quantiles.madByGroup(
        t(s, d, "documents"), "lang", "n_chars")
      .select(col("group").as("lang"), col("med").cast("long").as("med"),
        col("mad").cast("long").as("mad"))
  }

  // Quantile BOUNDS served from the histogram store ALONE — no base
  // corpus: the pure-sketch serve (ship histograms across snapshots,
  // never values; the t37 drift-report posture for distributions).
  // The target bucket's stored actual min/max bracket the true median
  // within the bucket's data spread (width-4 buckets here). The oracle
  // replays the ENTIRE sketch relationally — equal-width floor
  // bucketing is plain IEEE arithmetic, reproducible in any engine
  // (the CM portable-hash argument without the hash): build slices,
  // linear merge, rank walk, bucket bounds, bit for bit.
  define("t52_quantile_bounds_sketch",
    """WITH b AS (SELECT lang, n_chars,
           CASE WHEN n_chars < 0 THEN -1 WHEN n_chars > 1024 THEN 256
                ELSE least(CAST(floor((CAST(n_chars AS DOUBLE) - 0.0)
                       / 4.0) AS INT), 255) END AS bucket
         FROM documents),
       h AS (SELECT lang, bucket, count(*) AS cnt,
               min(CAST(n_chars AS DOUBLE)) AS mn,
               max(CAST(n_chars AS DOUBLE)) AS mx
             FROM b GROUP BY lang, bucket),
       c AS (SELECT lang, bucket, cnt, mn, mx,
               sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS tot
             FROM h)
       SELECT lang, mn AS lo_bound, mx AS hi_bound
       FROM c WHERE cum >= ceil(0.5 * tot)
         AND cum - cnt < ceil(0.5 * tot)""") { (s, d) =>
    import graft.operators.Quantiles
    val docs = t(s, d, "documents")
    val (lo, hi, bins) = (0.0, 1024.0, 256)
    val dir = sessionIndexDir(s"hqb_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "even")
      Quantiles.appendHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "odd")
    }
    Quantiles.quantileBoundsFromStore(s, s"$dir/h", 0.5)
      .select(col("group").as("lang"), col("lo_bound"), col("hi_bound"))
  }

  // Distribution drift between two snapshots' HISTOGRAM STORES — the
  // t37 cross-snapshot posture for value distributions: per-lang L1
  // distance between bucket-mass vectors, computed from the sketches
  // alone (neither corpus rescanned or shipped). The oracle replays
  // both halves' bucketings relationally (plain IEEE floor arithmetic)
  // and the same normalized L1, rounded 6dp against summation order.
  define("t54_histogram_drift",
    """WITH b AS (SELECT lang, doc_id % 2 AS half,
           CASE WHEN n_chars < 0 THEN -1 WHEN n_chars > 1024 THEN 256
                ELSE least(CAST(floor(CAST(n_chars AS DOUBLE) / 4.0)
                       AS INT), 255) END AS bucket
         FROM documents),
       h AS (SELECT lang, half, bucket, count(*) AS cnt
             FROM b GROUP BY lang, half, bucket),
       f AS (SELECT lang, bucket,
               coalesce(sum(CASE WHEN half = 0 THEN cnt END), 0) AS ca,
               coalesce(sum(CASE WHEN half = 1 THEN cnt END), 0) AS cb
             FROM h GROUP BY lang, bucket),
       nn AS (SELECT lang,
                sum(CASE WHEN half = 0 THEN cnt ELSE 0 END) AS na,
                sum(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS nb
              FROM h GROUP BY lang)
       SELECT lang,
         round(sum(abs(CAST(ca AS DOUBLE) / na
           - CAST(cb AS DOUBLE) / nb)), 6) AS l1,
         CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b
       FROM f JOIN nn USING (lang)
       WHERE na > 0 AND nb > 0
       GROUP BY lang""") { (s, d) =>
    import graft.operators.Quantiles
    val docs = t(s, d, "documents")
    val (lo, hi, bins) = (0.0, 1024.0, 256)
    val dir = sessionIndexDir(s"hqd_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/a", lo, hi, bins, sliceId = "even")
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/b", lo, hi, bins, sliceId = "odd")
    }
    Quantiles.histogramDrift(s, s"$dir/a", s"$dir/b")
      .select(col("group").as("lang"), col("l1"),
        col("n_a"), col("n_b"))
  }

  // Histogram GEOMETRY MIGRATION (round-13): two snapshots histogrammed
  // at different resolutions refuse to drift-compare (correct — their
  // buckets do not align); coarsenHistogramStore folds the finer store
  // by an integer factor into a fresh store at the coarse geometry, and
  // the comparison proceeds. The gate's [0, 256] range makes both
  // widths exact powers of two (4 and 16), so the fold's boundaries
  // provably equal the native coarse bucketing and the oracle — which
  // unrolls the FOLD itself (fine floor, then the integer bucket fold
  // floor(b/4)) against the native coarse build — is bit-exact.
  define("t60_histogram_coarsen_drift",
    """WITH b AS (SELECT lang, doc_id % 2 AS half, n_chars
         FROM documents),
       fa AS (SELECT lang,
                CASE WHEN n_chars < 0 THEN -1 WHEN n_chars > 256 THEN 64
                     ELSE least(CAST(floor(CAST(n_chars AS DOUBLE) / 4.0)
                            AS INT), 63) END AS bf
              FROM b WHERE half = 0),
       ha AS (SELECT lang,
                CASE WHEN bf < 0 THEN -1 WHEN bf >= 64 THEN 16
                     ELSE CAST(floor(bf / 4.0) AS INT) END AS bucket,
                count(*) AS cnt
              FROM fa GROUP BY 1, 2),
       hb AS (SELECT lang,
                CASE WHEN n_chars < 0 THEN -1 WHEN n_chars > 256 THEN 16
                     ELSE least(CAST(floor(CAST(n_chars AS DOUBLE) / 16.0)
                            AS INT), 15) END AS bucket,
                count(*) AS cnt
              FROM b WHERE half = 1 GROUP BY 1, 2),
       u AS (SELECT lang, bucket, cnt, 0 AS half FROM ha
             UNION ALL SELECT lang, bucket, cnt, 1 FROM hb),
       f AS (SELECT lang, bucket,
               coalesce(sum(CASE WHEN half = 0 THEN cnt END), 0) AS ca,
               coalesce(sum(CASE WHEN half = 1 THEN cnt END), 0) AS cb
             FROM u GROUP BY lang, bucket),
       nn AS (SELECT lang,
                sum(CASE WHEN half = 0 THEN cnt ELSE 0 END) AS na,
                sum(CASE WHEN half = 1 THEN cnt ELSE 0 END) AS nb
              FROM u GROUP BY lang)
       SELECT lang,
         round(sum(abs(CAST(ca AS DOUBLE) / na
           - CAST(cb AS DOUBLE) / nb)), 6) AS l1,
         CAST(min(na) AS BIGINT) AS n_a, CAST(min(nb) AS BIGINT) AS n_b
       FROM f JOIN nn USING (lang)
       WHERE na > 0 AND nb > 0
       GROUP BY lang""") { (s, d) =>
    import graft.operators.Quantiles
    val docs = t(s, d, "documents")
    val (lo, hi) = (0.0, 256.0)
    val dir = sessionIndexDir(s"hcd_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", lo, hi, 64),
        s"$p/a", lo, hi, 64, sliceId = "even")
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", lo, hi, 16),
        s"$p/b", lo, hi, 16, sliceId = "odd")
      Quantiles.coarsenHistogramStore(s, s"$p/a", s"$p/ac", factor = 4)
    }
    Quantiles.histogramDrift(s, s"$dir/ac", s"$dir/b")
      .select(col("group").as("lang"), col("l1"),
        col("n_a"), col("n_b"))
  }

  // Token-WEIGHTED median document length per language: the smallest
  // n_chars whose cumulative token weight reaches half the language's
  // tokens — "half the TOKENS live in docs this short", the quantity
  // mix/budget decisions actually need (an unweighted median over-
  // represents short docs). Rank space is cumulative LONG weight, so
  // every boundary comparison is exact and order-independent; the
  // oracle states the same definition relationally (cumulative weight
  // over value order, min value reaching ceil(q·Σw)).
  private val weightedQuantileSql: String =
    """WITH t AS (SELECT lang, n_chars AS v,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS w
         FROM documents),
       g AS (SELECT lang, v, sum(w) AS w FROM t GROUP BY lang, v),
       c AS (SELECT lang, v,
               sum(w) OVER (PARTITION BY lang ORDER BY v) AS cumw,
               sum(w) OVER (PARTITION BY lang) AS tot
             FROM g)
       SELECT lang, CAST(min(v) AS BIGINT) AS wp50
       FROM c WHERE cumw >= ceil(0.5 * tot) GROUP BY lang"""

  define("t50_weighted_quantile_by_lang", weightedQuantileSql) { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    val docs = t(s, d, "documents").select(col("lang"), col("n_chars"),
      TF.tokenCount(col("text")).cast("long").as("w"))
    graft.operators.Quantiles.exactWeightedQuantilesByGroup(
        docs, "lang", "n_chars", "w", 0.5)
      .select(col("group").as("lang"), col("value").cast("long").as("wp50"))
  }

  // The weighted store rung (t49's relationship to t48, in the
  // token-weighted rank space): slices histogram Σweight per bucket
  // against the fixed geometry, the linear merge equals the one-shot
  // weighted histogram, and the serve continues the WEIGHTED
  // refinement from the stored exact rank prefix — equal to t50's
  // answer, so its oracle transfers verbatim. Same deliberately-narrow
  // geometry as t49: the overflow bucket carries most of the weight
  // and the serve is still exact.
  define("t53_weighted_quantile_store", weightedQuantileSql) { (s, d) =>
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Quantiles
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
      col("n_chars"), TF.tokenCount(col("text")).cast("long").as("w"))
    val (lo, hi, bins) = (0.0, 256.0, 64)
    val dir = sessionIndexDir(s"hqw_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.weightedHistogramByGroup(
          docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", "w", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "even")
      Quantiles.appendHistogram(
        Quantiles.weightedHistogramByGroup(
          docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", "w", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "odd")
    }
    Quantiles.quantileByGroupFromStore(docs, "lang", "n_chars",
        s"$dir/h", 0.5, weightCol = Some("w"))
      .select(col("group").as("lang"), col("value").cast("long").as("wp50"))
  }

  // IQR outlier trim — exact quantiles wired INTO a curation stage (the
  // p14 lesson: compositions must ride their own scale paths): per-lang
  // p25/p75 via ONE simultaneous refinement (bounded driver action, the
  // only alternative at scale to Spark's buffer-everything percentile),
  // Tukey-style fences on the driver (|langs| rows), then one broadcast-join
  // filter pass and survivor stats. The fence arithmetic is exact in
  // both engines: the quantiles are integer-valued and 0.5·IQR is a
  // dyadic multiple, so every comparison is FP-identical. (0.5, not
  // Tukey's 1.5: the synthetic lengths have thin tails, and a fence
  // nothing crosses would make the gate vacuous — at 0.5 three of the
  // five languages genuinely lose docs.)
  define("p16_iqr_trim",
    """WITH q AS (SELECT lang,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
           percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
         FROM documents GROUP BY lang)
       SELECT d.lang, CAST(count(*) AS BIGINT) AS kept,
         round(avg(d.n_chars), 4) AS avg_chars
       FROM documents d JOIN q ON d.lang = q.lang
       WHERE d.n_chars >= p25 - 0.5 * (p75 - p25)
         AND d.n_chars <= p75 + 0.5 * (p75 - p25)
       GROUP BY d.lang""") { (s, d) =>
    import graft.operators.Quantiles
    val docs = t(s, d, "documents")
    val fences = Quantiles.exactQuantilesByGroupMulti(
        docs, "lang", "n_chars", Seq(0.25, 0.75))
      .collect().groupBy(_.getString(0)).map { case (g, rows) =>
        val byQ = rows.map(r => r.getDouble(1) -> r.getDouble(2)).toMap
        val iqr = byQ(0.75) - byQ(0.25)
        (g, byQ(0.25) - 0.5 * iqr, byQ(0.75) + 0.5 * iqr)
      }.toSeq
    import s.implicits._
    docs.join(broadcast(fences.toDF("lang", "lo", "hi")), Seq("lang"))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .groupBy("lang")
      .agg(count(lit(1)).as("kept"),
        round(avg("n_chars"), 4).as("avg_chars"))
  }

  // KMV (k-minimum-values) distinct sketch: per-language vocabulary
  // estimate — the REPRODUCIBLE approximate-distinct primitive
  // (approx_count_distinct/HLL is neither cross-engine nor cross-version
  // stable, so it can never be oracle-checked; KMV over the d3 portable
  // md5 hash is bit-exact on both engines). One scan pass, no distinct
  // stage: the map side keeps ≤ k=32 longs per (partition, lang) under
  // ObjectHashAggregate and the shuffle carries only those — at 100 TB
  // the exact t18 vocab counts shuffle (group, term) pairs; this
  // shuffles 256 bytes per partition-group. Estimate = 31·2⁶⁰/v₃₂ (one
  // multiply + one divide off the 32nd-smallest hash — deterministic
  // IEEE on both engines); under-full groups report their EXACT count.
  // Sketched unit: distinct 3-gram PHRASES per language (the t19 gram
  // spelling) — the fixture's 31-word vocabulary would leave a per-WORD
  // sketch under-full everywhere (exact path only, pinned by unit test
  // instead); per-lang phrase counts are 3k–9k at sf0.01, so the gate
  // exercises the real estimator branch.
  // Shared by t33 (batch) and st23 (streaming): KMV is closed under
  // union, so per-batch sketches merged across triggers equal the
  // one-shot batch sketch whatever the batch boundaries — one oracle
  // checks both.
  private val kmvVocabSql: String =
    """WITH w AS (SELECT lang, regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g AS (SELECT lang, array_to_string(wds[pos : pos + 2], ' ') AS gram
             FROM (SELECT lang, wds,
                     unnest(generate_series(1, greatest(len(wds) - 2, 0)))
                       AS pos
                   FROM w)),
       h AS (SELECT DISTINCT lang,
               CAST(list_sum(list_transform(range(1, 16),
                 p -> (strpos('0123456789abcdef', md5(gram)[p]) - 1)
                      * (1::BIGINT << (4*(15-p))))) AS BIGINT) AS h
             FROM g),
       r AS (SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
             FROM h),
       a AS (SELECT lang, count(*) AS nd,
               max(CASE WHEN rn = 32 THEN h END) AS v32
             FROM r GROUP BY lang)
       SELECT lang,
         CAST(CASE WHEN nd < 32 THEN nd ELSE 32 END AS BIGINT) AS n_kept,
         CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
              ELSE 31 * pow(2, 60) / CAST(v32 AS DOUBLE) END AS est_phrases
       FROM a"""

  define("t33_kmv_vocab", kmvVocabSql) { (s, d) =>
    import graft.functions.{KmvSketch, TextFunctions => TFx}
    import graft.operators.spread
    val k = 32
    // spread the RAW text FIRST, shingle after the exchange — building
    // the gram arrays inside the pre-spread projection runs the
    // interpreted HOF on the single parquet partition (the repo's
    // measured spread-before-HOF cliff: 5.3 s → 0.6 s at sf0.1).
    // TF.shingles also guards sub-n docs (Spark's sequence(1, 0)
    // DESCENDS where the oracle's generate_series(1, 0) is empty).
    spread(t(s, d, "documents").select(col("lang"), col("text")))
      .select(col("lang"), explode(TFx.shingles(col("text"), 3)).as("gram"))
      .select(col("lang"), KmvSketch.portableHash60(col("gram")).as("h"))
      .groupBy("lang")
      .agg(KmvSketch.kmvSketch(col("h"), k).as("sk"))
      .select(col("lang"),
        size(col("sk")).cast("long").as("n_kept"),
        KmvSketch.estimate(col("sk"), k).as("est_phrases"))
  }

  // KMV set operations: estimated phrase-set OVERLAP between two corpus
  // slices (even vs odd doc ids) per language — bottom-k sketches are
  // closed under union, so |A∪B| and Jaccard estimate from the two
  // per-slice sketches ALONE: no join between the corpora, no second
  // scan, each slice sketched independently (the shape that compares a
  // new crawl snapshot against last month's at 100 TB: ship two k-long
  // arrays, not two corpora). Among the k smallest union hashes, the
  // fraction present in BOTH sketches estimates Jaccard (Bar-Yossef'02
  // §4, the theta-sketch rule) — integer counts + one division, so the
  // oracle reproduces every bit.
  define("t34_kmv_overlap",
    """WITH w AS (SELECT lang, doc_id % 2 AS p,
           regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       g AS (SELECT lang, p, array_to_string(wds[pos : pos + 2], ' ') AS gram
             FROM (SELECT lang, p, wds,
                     unnest(generate_series(1, greatest(len(wds) - 2, 0)))
                       AS pos
                   FROM w)),
       h AS (SELECT DISTINCT lang, p,
               CAST(list_sum(list_transform(range(1, 16),
                 p2 -> (strpos('0123456789abcdef', md5(gram)[p2]) - 1)
                      * (1::BIGINT << (4*(15-p2))))) AS BIGINT) AS h
             FROM g),
       r AS (SELECT lang, p, h,
               row_number() OVER (PARTITION BY lang, p ORDER BY h) AS rn
             FROM h),
       sk AS (SELECT lang, p, list_sort(list(h)) AS sk
              FROM r WHERE rn <= 64 GROUP BY lang, p),
       j AS (SELECT a.lang, a.sk AS ska, b.sk AS skb
             FROM sk a JOIN sk b ON a.lang = b.lang
             WHERE a.p = 0 AND b.p = 1),
       u AS (SELECT lang, ska, skb,
               list_sort(list_distinct(list_concat(ska, skb)))[1:64] AS un
             FROM j)
       SELECT lang,
         CAST(len(list_intersect(list_intersect(un, ska), skb)) AS DOUBLE)
           / len(un) AS est_jaccard,
         CASE WHEN len(un) < 64 THEN CAST(len(un) AS DOUBLE)
              ELSE 63 * pow(2, 60) / CAST(un[64] AS DOUBLE)
         END AS est_union
       FROM u""") { (s, d) =>
    import graft.functions.{KmvSketch, TextFunctions => TFx}
    import graft.operators.{spread, CacheScope}
    val k = 64
    // one corpus scan (spread raw text BEFORE the shingle HOF — the t33
    // cliff note); the per-(lang, slice) sketch table is |langs|·2
    // rows — cache it so the self-join's two consumers don't rescan
    val sk = CacheScope.global.cache(
      spread(t(s, d, "documents")
        .select(col("lang"), (col("doc_id") % 2).as("p"), col("text")))
        .select(col("lang"), col("p"),
          explode(TFx.shingles(col("text"), 3)).as("gram"))
        .select(col("lang"), col("p"),
          KmvSketch.portableHash60(col("gram")).as("h"))
        .groupBy("lang", "p")
        .agg(KmvSketch.kmvSketch(col("h"), k).as("sk")))
    val a = sk.filter(col("p") === 0).select(col("lang"), col("sk").as("ska"))
    val b = sk.filter(col("p") === 1).select(col("lang"), col("sk").as("skb"))
    a.join(b, "lang").select(col("lang"),
      KmvSketch.estimateJaccard(col("ska"), col("skb"), k)
        .as("est_jaccard"),
      KmvSketch.estimate(KmvSketch.union(col("ska"), col("skb"), k), k)
        .as("est_union"))
  }

  // Cross-snapshot drift report (Profile.snapshotDrift): t34's sketch
  // overlap COMPOSED with exact per-group doc/token counts and deltas —
  // the "what changed since last month's crawl" report. Even/odd doc ids
  // play the two snapshots (the t34 split). Counts and deltas are exact
  // integers; vocabulary estimates and Jaccard are the t33/t34
  // integer-count + single-division forms — nothing rounds, the oracle
  // reproduces every bit. Neither corpus ever joins the other: only
  // |groups|-row agg outputs with k-long sketch arrays meet.
  define("t37_snapshot_drift",
    """WITH w AS (SELECT lang, doc_id % 2 AS p,
           regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       c AS (SELECT lang, p, count(*) AS docs,
               CAST(sum(len(wds)) AS BIGINT) AS toks
             FROM w GROUP BY lang, p),
       g AS (SELECT lang, p, array_to_string(wds[pos : pos + 2], ' ') AS gram
             FROM (SELECT lang, p, wds,
                     unnest(generate_series(1, greatest(len(wds) - 2, 0)))
                       AS pos
                   FROM w)),
       h AS (SELECT DISTINCT lang, p,
               CAST(list_sum(list_transform(range(1, 16),
                 p2 -> (strpos('0123456789abcdef', md5(gram)[p2]) - 1)
                      * (1::BIGINT << (4*(15-p2))))) AS BIGINT) AS h
             FROM g),
       r AS (SELECT lang, p, h,
               row_number() OVER (PARTITION BY lang, p ORDER BY h) AS rn
             FROM h),
       sk AS (SELECT lang, p, list_sort(list(h)) AS sk
              FROM r WHERE rn <= 64 GROUP BY lang, p),
       sides AS (SELECT c.lang, c.p, docs, toks,
                   coalesce(sk.sk, []) AS sk
                 FROM c LEFT JOIN sk USING (lang, p)),
       a AS (SELECT lang, docs AS docs_old, toks AS tokens_old, sk AS ska
             FROM sides WHERE p = 0),
       b AS (SELECT lang, docs AS docs_new, toks AS tokens_new, sk AS skb
             FROM sides WHERE p = 1),
       j AS (SELECT lang, docs_old, docs_new, tokens_old, tokens_new,
               ska, skb,
               list_sort(list_distinct(list_concat(ska, skb)))[1:64] AS un
             FROM a JOIN b USING (lang))
       SELECT lang, docs_old, docs_new,
         docs_new - docs_old AS docs_delta,
         tokens_old, tokens_new,
         tokens_new - tokens_old AS tokens_delta,
         CASE WHEN len(ska) < 64 THEN CAST(len(ska) AS DOUBLE)
              ELSE 63 * pow(2, 60) / CAST(ska[64] AS DOUBLE)
         END AS est_vocab_old,
         CASE WHEN len(skb) < 64 THEN CAST(len(skb) AS DOUBLE)
              ELSE 63 * pow(2, 60) / CAST(skb[64] AS DOUBLE)
         END AS est_vocab_new,
         CASE WHEN len(un) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(list_intersect(un, ska), skb))
                     AS DOUBLE) / len(un)
         END AS est_jaccard
       FROM j""") { (s, d) =>
    val docs = t(s, d, "documents")
    graft.operators.Profile.snapshotDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "lang", "text", n = 3, k = 64)
  }

  // ==================================================================
  // BM25 retrieval family (operators.Retrieval) — the lexical complement
  // of the s1–s12 dense-ANN family, same serve-from-index discipline.
  // ==================================================================

  // Okapi BM25 idf·tf CTE, shared verbatim by the one-shot r1 gate, the
  // serve-from-persisted-index r2 gate, and the streaming st17 gate (the
  // three paths compute the same function by construction: r2/st17 score
  // with the STORED build-time corpus stats, which equal the in-flight
  // stats because the index is built over the same corpus). Per-term
  // contributions are fixed expression trees; their SUM is rounded to 6dp
  // BEFORE the ranking window, ties break by n_id — the t13 discipline.
  // Queries = every 97th document (whole-doc queries, distinct terms).
  private val bm25OracleSql: String =
    """WITH tok AS (
         SELECT doc_id AS n_id,
           unnest(regexp_split_to_array(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '\s+'))
             AS term
         FROM documents),
       tf AS (SELECT n_id, term, count(*) AS tf FROM tok
              WHERE term <> '' GROUP BY n_id, term),
       dl AS (SELECT n_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY n_id),
       dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       qt AS (SELECT DISTINCT doc_id AS q_id, term FROM (
                SELECT doc_id,
                  unnest(regexp_split_to_array(trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g')), '\s+')) AS term
                FROM documents WHERE doc_id % 97 = 0)
              WHERE term <> ''),
       scored AS (
         SELECT qt.q_id, tf.n_id,
           round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6)
             AS score
         FROM qt JOIN tf USING (term)
         JOIN dfr USING (term)
         JOIN dl ON dl.n_id = tf.n_id
         CROSS JOIN stats
         GROUP BY qt.q_id, tf.n_id)
       SELECT q_id, n_id, rank, score FROM (
         SELECT q_id, n_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY score DESC, n_id) AS INT) AS rank
         FROM scored)
       WHERE rank <= 5"""

  // One-shot BM25 top-k: postings built in-flight (slim (term,n_id,tf,dl,df)
  // rows — the shuffle never carries text), query term set broadcast,
  // top-k via WindowGroupLimit.
  define("r1_bm25_topk", bm25OracleSql) { (s, d) =>
    val docs = t(s, d, "documents")
    graft.operators.Retrieval.bm25TopK(
      docs.filter(col("doc_id") % 97 === 0), docs, "text", "doc_id", k = 5)
  }

  // The serve half: build the inverted index ONCE per JVM (postings +
  // params corpus stats/knobs as index metadata — the calibrated-ANN
  // discipline), then score strictly from the persisted files. Serving
  // shuffles nothing corpus-sized: the query term set is broadcast against
  // the postings scan and only (q_id, n_id, score) rows reach the window.
  define("r2_bm25_serve", bm25OracleSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"bm25_$d") { p =>
      graft.operators.Retrieval.buildBm25Index(docs, "text", "doc_id",
        s"$p/bm25")
    }
    graft.operators.Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") % 97 === 0), s"$dir/bm25",
      "text", "doc_id", k = 5)
  }

  // The append rung of the BM25 lifecycle (the last persisted family to
  // get one): the index is built on a THIRD of the corpus and grown to
  // full coverage by two appends. Because the v2 layout stores no df
  // (it re-derives per serve from the slice the serve touches) and the
  // params stats update as integer sums, the served answer provably
  // equals a from-scratch build over everything ingested — so the r1/r2
  // full-corpus oracle applies verbatim to the appended index. Appends
  // never read the existing corpus, let alone rewrite it: O(batch
  // tokenization) + a parquet append under the compaction pointer.
  define("r5_bm25_append", bm25OracleSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"bm25app_$d") { p =>
      graft.operators.Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 3 === 0), "text", "doc_id", s"$p/bm25")
      graft.operators.Retrieval.appendToBm25Index(
        docs.filter(col("doc_id") % 3 === 1), "text", "doc_id", s"$p/bm25")
      graft.operators.Retrieval.appendToBm25Index(
        docs.filter(col("doc_id") % 3 === 2), "text", "doc_id", s"$p/bm25")
    }
    graft.operators.Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") % 97 === 0), s"$dir/bm25",
      "text", "doc_id", k = 5)
  }

  // AUTO-compaction on the BM25 append path (round-15): r5's lifecycle
  // with each append folding the index ITSELF once the live postings
  // table reaches the part-file threshold (appendToBm25Index's
  // compactFileThreshold; threshold 1 makes both appends fold, AFTER
  // their stats commit so the fold sees a consistent index). Folds
  // rewrite byte-equal rows and stats are untouched, so the served
  // scores equal r5's — the r1/r2 oracle verbatim — and the gate
  // REQUIRES the fold to have fired (live postings dir must be a
  // generation).
  define("r6_bm25_append_autocompact", bm25OracleSql) { (s, d) =>
    import graft.operators.{Retrieval, Similarity}
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"bm25ac_$d") { p =>
      Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 3 === 0), "text", "doc_id", s"$p/bm25")
      Retrieval.appendToBm25Index(
        docs.filter(col("doc_id") % 3 === 1), "text", "doc_id",
        s"$p/bm25", compactFileThreshold = 1)
      Retrieval.appendToBm25Index(
        docs.filter(col("doc_id") % 3 === 2), "text", "doc_id",
        s"$p/bm25", compactFileThreshold = 1)
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(s"$p/bm25", "index"))
        .getFileName.toString
      require(live.startsWith("index.g"),
        s"auto-compaction never fired on append: live dir is $live")
    }
    Retrieval.bm25TopKFromIndex(
      docs.filter(col("doc_id") % 97 === 0), s"$dir/bm25",
      "text", "doc_id", k = 5)
  }

  // Hybrid retrieval: BM25 top-20 over text ⊕ exact-cosine top-20 over the
  // aligned embeddings, reciprocal-rank-fused (1/(60+rank), no score
  // calibration across systems) to the final top-10. Queries are ids < 5
  // against the disjoint ≥ 5 corpus on BOTH modalities (the s1 split).
  // Fusion sums at most two exactly-computed double terms per pair —
  // commutative, engine-independent — and rounds to 6dp before the ranking
  // window; per-system ranks transfer their own r1/s1 determinism
  // arguments. The fuse layer touches only |Q|·depth·2 slim rows.
  // Shared by r3 (on-the-fly systems) and r4 (persisted-index serving):
  // both serve the same query/corpus split at the same depths, and each
  // side's persisted path provably equals its on-the-fly path (r2 ≡ r1,
  // s17 ≡ s16 at blanket rerank), so one fused oracle checks both.
  private val hybridRrfSql: String =
    """WITH tok AS (
         SELECT doc_id AS n_id,
           unnest(regexp_split_to_array(trim(regexp_replace(regexp_replace(
             lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '\s+'))
             AS term
         FROM documents WHERE doc_id >= 5),
       tf AS (SELECT n_id, term, count(*) AS tf FROM tok
              WHERE term <> '' GROUP BY n_id, term),
       dl AS (SELECT n_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY n_id),
       dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       qt AS (SELECT DISTINCT doc_id AS q_id, term FROM (
                SELECT doc_id,
                  unnest(regexp_split_to_array(trim(regexp_replace(
                    regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g')), '\s+')) AS term
                FROM documents WHERE doc_id < 5)
              WHERE term <> ''),
       lexscored AS (
         SELECT qt.q_id, tf.n_id,
           round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6)
             AS score
         FROM qt JOIN tf USING (term)
         JOIN dfr USING (term)
         JOIN dl ON dl.n_id = tf.n_id
         CROSS JOIN stats
         GROUP BY qt.q_id, tf.n_id),
       lex AS (SELECT q_id, n_id, rank FROM (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY score DESC, n_id) AS rank
           FROM lexscored) WHERE rank <= 20),
       qv AS (SELECT vec_id AS q_id, embedding AS v FROM embeddings
              WHERE vec_id < 5),
       cv AS (SELECT vec_id AS n_id, embedding AS v FROM embeddings
              WHERE vec_id >= 5),
       den AS (SELECT q_id, n_id, rank FROM (
           SELECT qv.q_id, cv.n_id,
             row_number() OVER (PARTITION BY qv.q_id
               ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, cv.n_id)
               AS rank
           FROM qv, cv) WHERE rank <= 20),
       u AS (SELECT q_id, n_id, 1.0 / (60 + rank) AS c FROM lex
             UNION ALL
             SELECT q_id, n_id, 1.0 / (60 + rank) AS c FROM den),
       fused AS (SELECT q_id, n_id, round(sum(c), 6) AS rrf
                 FROM u GROUP BY q_id, n_id)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank, rrf FROM (
         SELECT q_id, n_id, rrf,
           row_number() OVER (PARTITION BY q_id
             ORDER BY rrf DESC, n_id) AS rank
         FROM fused) WHERE rank <= 10"""

  define("r3_hybrid_rrf", hybridRrfSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    graft.operators.Retrieval.hybridTopK(
      docs.filter(col("doc_id") < 5), docs.filter(col("doc_id") >= 5),
      emb.filter(col("doc_id") < 5), emb.filter(col("doc_id") >= 5),
      "text", "embedding", "doc_id", k = 10, depth = 20)
  }

  // Hybrid retrieval SERVED FROM PERSISTED INDEXES — the deployment
  // shape: the BM25 postings index (r2's lifecycle) and the SQ8 code
  // index (s17's) are each built once; a query batch hits both stored
  // systems and the two rank lists RRF-fuse without either corpus being
  // rescanned. Each side's serve provably equals its on-the-fly form
  // (postings are a lossless factorization; SQ8's blanket re-rank covers
  // the corpus), so the r3 oracle applies verbatim. At 100 TB the fusion
  // still touches only |Q|·depth·2 slim rows — the corpus-sized work is
  // amortized into the two index builds.
  define("r4_hybrid_persisted", hybridRrfSql) { (s, d) =>
    import graft.operators.{Retrieval, Similarity}
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val corpusVec = emb.filter(col("doc_id") >= 5)
    val bmIdx = sessionIndexDir(s"r4bm_$d") { p =>
      Retrieval.buildBm25Index(docs.filter(col("doc_id") >= 5),
        "text", "doc_id", p)
    }
    val sqIdx = sessionIndexDir(s"r4sq_$d") { p =>
      Similarity.buildSq8Index(corpusVec, "embedding", "doc_id", p, dim = 64)
    }
    val lex = Retrieval.bm25TopKFromIndex(docs.filter(col("doc_id") < 5),
      bmIdx, "text", "doc_id", k = 20)
    val den = Similarity.sq8TopKFromIndex(emb.filter(col("doc_id") < 5),
      corpusVec, sqIdx, "embedding", "doc_id", k = 20, rerank = 1024)
    Retrieval.rrfFuse(Seq(lex, den), k = 10)
  }

  // Streaming hybrid retrieval: query micro-batches hit BOTH persisted
  // indexes (r4's build) and RRF-fuse per trigger. Per-query independence
  // of each system AND of the fusion makes the micro-batch union equal
  // the batch answer — r3/r4's oracle verbatim. Completes the hybrid
  // serving triad (one-shot / persisted / streaming).
  define("st24_stream_hybrid", hybridRrfSql) { (s, d) =>
    import graft.operators.{Retrieval, Similarity}
    val docs = t(s, d, "documents")
    val emb = t(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bmIdx = sessionIndexDir(s"r4bm_$d") { p =>
      Retrieval.buildBm25Index(docs.filter(col("doc_id") >= 5),
        "text", "doc_id", p)
    }
    val sqIdx = sessionIndexDir(s"r4sq_$d") { p =>
      Similarity.buildSq8Index(emb.filter(col("doc_id") >= 5),
        "embedding", "doc_id", p, dim = 64)
    }
    graft.streaming.Streaming.streamingHybrid(s, d, "st24",
      bmIdx, sqIdx, col("doc_id") < 5, k = 10)
  }

  // SemDeDup (cluster-scoped near-dup): duplicates are searched WITHIN
  // embedding clusters only — cross-cluster pairs are skipped by design,
  // which is what bounds candidates at corpus scale. The axis-sign
  // quantizer keeps the cluster assignment SQL-expressible so this gate is
  // exactly oracled; production swaps in k-means centroids (same operator,
  // different `clusterOf` column).
  define("d10_semantic_dedup",
    """WITH c AS (
         SELECT vec_id, embedding,
           CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END AS INT) AS cluster
         FROM embeddings)
       SELECT a.cluster AS cluster, a.vec_id AS a_id, b.vec_id AS b_id
       FROM c a JOIN c b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""") { (s, d) =>
    graft.operators.Dedup.semanticDedup(
      t(s, d, "embeddings"), "embedding", "vec_id", threshold = 0.4,
      clusterOf = graft.operators.Dedup.signBitCluster(_, 3))
      .select(col("cluster").cast("int").as("cluster"),
        col("a_id"), col("b_id"))
  }

  // Semantic dedup driven by a PERSISTED IVF index: one clustering pass
  // serves both ANN coarse search and SemDeDup — the gate builds the index
  // with the SQL-expressible axis-sign quantizer (production uses the
  // k-means default), then dedups strictly from the stored inverted file,
  // so the whole build → parquet → read-back → dedup path is exactly
  // oracle-checked against d10's direct-assignment SQL.
  define("d12_semantic_dedup_indexed",
    """WITH c AS (
         SELECT vec_id, embedding,
           CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END AS INT) AS cell
         FROM embeddings)
       SELECT a.cell AS cell, a.vec_id AS a_id, b.vec_id AS b_id
       FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""") { (s, d) =>
    import graft.operators.{Dedup, Similarity}
    val emb = t(s, d, "embeddings")
    val idx = sessionIndexDir(s"d12_$d") { p =>
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", p, cells = 8,
        assignExpr = Some(Dedup.signBitCluster(col("embedding"), 3)))
    }
    Dedup.semanticDedupFromIndex(emb, "embedding", "vec_id", idx,
      threshold = 0.4)
      .select(col("cell").cast("int").as("cell"), col("a_id"), col("b_id"))
  }

  // Corpus-wide keep-first line dedup (CCNet-style): documents are split
  // into fixed 5-word "lines" (the corpus has no newlines; the operator is
  // unit-agnostic — any array<string> of lines works) and every line that
  // repeats anywhere in the corpus survives only at its smallest
  // (doc_id, pos). The oracle ranks occurrences per line string; Spark
  // ranks per xxhash64 — identical output absent 64-bit collisions.
  define("d11_line_dedup",
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       l0 AS (
         SELECT doc_id, w,
           unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
         FROM toks),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM l0),
       ranked AS (
         SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         FROM lines)
       SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       FROM ranked WHERE rn = 1 GROUP BY doc_id""") { (s, d) =>
    graft.operators.Dedup.keepFirstLines(
      withDocLines5(t(s, d, "documents"), "lines"),
      "lines", "doc_id")
      .select(col("doc_id"), array_join(col("lines"), "\n").as("text"))
  }

  // Incremental line dedup against a PERSISTED hash index: docs < 250 are
  // history (their line hashes are the stored index — 8 B/row, the only
  // state the continuous pipeline carries); docs >= 250 are the ingest
  // batch, deduped against history AND keep-first within themselves. Six
  // history-saturated docs vanish entirely at sf0.01.
  define("d13_line_dedup_incremental",
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       l0 AS (
         SELECT doc_id, w,
           unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
         FROM toks),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM l0),
       h1 AS (SELECT DISTINCT line FROM lines WHERE doc_id < 250),
       r AS (
         SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         FROM lines WHERE doc_id >= 250)
       SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       FROM r WHERE rn = 1
         AND NOT EXISTS (SELECT 1 FROM h1 WHERE h1.line = r.line)
       GROUP BY doc_id""") { (s, d) =>
    import graft.operators.Dedup
    val prepped = withDocLines5(t(s, d, "documents"), "lines")
    val idx = sessionIndexDir(s"d13_$d") { p =>
      Dedup.buildLineIndex(prepped.filter(col("doc_id") < 250), "lines", p)
    }
    Dedup.dedupLinesAgainstIndex(prepped.filter(col("doc_id") >= 250),
      "lines", "doc_id", idx)
      .select(col("doc_id"), array_join(col("lines"), "\n").as("text"))
  }

  // Substring dedup (Lee et al.'22), detection half: maximal duplicated
  // >=8-token spans via sliding window hashing — the distributed stand-in
  // for their corpus-wide suffix array. Staged corpus: every even doc
  // gains a replica (id+100000) whose text is the original plus a unique
  // tail, so each replica carries one known full-prefix span and the
  // originals (global-order winners) carry none. The oracle groups by the
  // gram TEXT while the engine groups by xxhash64 of it — a hash
  // collision would surface as a gate mismatch, not hide.
  define("d14_duplicate_spans",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' zzu' || CAST(doc_id AS VARCHAR)
         FROM documents WHERE doc_id % 2 = 0),
       toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM corpus),
       wins AS (
         SELECT doc_id, pos, array_to_string(w[pos+1 : pos+8], chr(1)) AS gram
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0, len(w) - 8)) AS pos
               FROM toks)),
       dup AS (
         SELECT doc_id, pos FROM (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS c,
             min(doc_id * 1073741824 + pos) OVER (PARTITION BY gram) AS wmin
           FROM wins)
         WHERE c > 1 AND doc_id * 1073741824 + pos <> wmin),
       isl AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             -1) THEN 1 ELSE 0 END AS ni
         FROM dup),
       grp AS (
         SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         FROM isl)
       SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         CAST(max(pos) + 8 - min(pos) AS INT) AS span_len
       FROM grp GROUP BY doc_id, g""") { (s, d) =>
    graft.operators.Dedup.duplicateWindowSpans(
      stagedSpanCorpus(t(s, d, "documents")), "text", "doc_id",
      windowTokens = 8)
  }

  // Substring dedup, removal half: the spans cut out of their documents,
  // first occurrence kept (winners are never marked) — the full Lee et
  // al. pass as one operator. Surviving tokens single-space joined on
  // both engines, so untouched docs round-trip token-identically.
  define("d15_remove_spans",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' zzu' || CAST(doc_id AS VARCHAR)
         FROM documents WHERE doc_id % 2 = 0),
       toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM corpus),
       wins AS (
         SELECT doc_id, pos, array_to_string(w[pos+1 : pos+8], chr(1)) AS gram
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0, len(w) - 8)) AS pos
               FROM toks)),
       dup AS (
         SELECT doc_id, pos FROM (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS c,
             min(doc_id * 1073741824 + pos) OVER (PARTITION BY gram) AS wmin
           FROM wins)
         WHERE c > 1 AND doc_id * 1073741824 + pos <> wmin),
       isl AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             -1) THEN 1 ELSE 0 END AS ni
         FROM dup),
       grp AS (
         SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         FROM isl),
       spans AS (
         SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
         FROM grp GROUP BY doc_id, g),
       tokpos AS (
         SELECT doc_id, unnest(w) AS tok,
           unnest(generate_series(0, len(w) - 1)) AS pos
         FROM toks),
       dropped AS (
         SELECT DISTINCT t.doc_id, t.pos FROM tokpos t JOIN spans s
         ON t.doc_id = s.doc_id AND t.pos >= s.s AND t.pos < s.e)
       SELECT k.doc_id,
         coalesce(string_agg(k.tok, ' ' ORDER BY k.pos)
           FILTER (WHERE dp.pos IS NULL), '') AS text
       FROM tokpos k LEFT JOIN dropped dp
         ON k.doc_id = dp.doc_id AND k.pos = dp.pos
       GROUP BY k.doc_id""") { (s, d) =>
    graft.operators.Dedup.removeDuplicateSpans(
      stagedSpanCorpus(t(s, d, "documents")), "text", "doc_id",
      windowTokens = 8)
  }

  // Substring dedup, incremental half: the persisted window-hash index
  // (8 B/row) is the cross-batch state — history text is never re-read.
  // History = the original documents (indexed once); batch = the replicas.
  // A batch window claimed by the index marks EVERY batch occurrence
  // (history wins); an index-free window repeating within the batch marks
  // non-first. With every history id below every batch id this equals the
  // full-batch d14 spans restricted to batch docs, which is exactly what
  // the oracle computes (d14's SQL + a final batch-id filter).
  define("d16_spans_incremental",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' zzu' || CAST(doc_id AS VARCHAR)
         FROM documents WHERE doc_id % 2 = 0),
       toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM corpus),
       wins AS (
         SELECT doc_id, pos, array_to_string(w[pos+1 : pos+8], chr(1)) AS gram
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0, len(w) - 8)) AS pos
               FROM toks)),
       dup AS (
         SELECT doc_id, pos FROM (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS c,
             min(doc_id * 1073741824 + pos) OVER (PARTITION BY gram) AS wmin
           FROM wins)
         WHERE c > 1 AND doc_id * 1073741824 + pos <> wmin),
       isl AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             -1) THEN 1 ELSE 0 END AS ni
         FROM dup),
       grp AS (
         SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         FROM isl)
       SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         CAST(max(pos) + 8 - min(pos) AS INT) AS span_len
       FROM grp WHERE doc_id >= 100000 GROUP BY doc_id, g""") { (s, d) =>
    import graft.operators.Dedup
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val idx = sessionIndexDir(s"d16_$d") { p =>
      Dedup.buildWindowIndex(docs, "text", p, windowTokens = 8)
    }
    Dedup.duplicateWindowSpansAgainstIndex(
      stagedSpanCorpus(docs).filter(col("doc_id") >= 100000L),
      "text", "doc_id", idx)
  }

  // Deterministic shard manifest: per-shard doc/char/token totals under the
  // cross-engine md5 shard rule (the export-layout summary a training job
  // reads before claiming shards). The physical partitioned write + pruned
  // read-back of the same assignment is exercised in PipelineSpec.
  define("p5_shard_manifest",
    """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 16
           AS shard,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS sum_tokens
       FROM documents GROUP BY 1""") { (s, d) =>
    graft.operators.Splits.shard(t(s, d, "documents"), "doc_id", 16)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("sum_tokens"))
  }

  // Deterministic global training shuffle: each doc's position is its rank
  // under the cross-engine md5 hash order — the SAME permutation on every
  // engine, re-run, and cluster layout. The scale story is HOW the rank is
  // assigned: range-exchange + two linear jobs (GlobalOrder), never a
  // single-partition `row_number() OVER (ORDER BY …)`.
  define("p6_shuffle_order",
    """SELECT doc_id,
         CAST(row_number()
              OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
           AS BIGINT) AS pos
       FROM documents""") { (s, d) =>
    graft.operators.GlobalOrder.shuffleOrder(
      t(s, d, "documents").select("doc_id"), "doc_id")
  }

  // Token-budget selection: keep the highest-priority documents (longest
  // first here; any scoring column plugs in) until the running token total
  // spends the budget — a global cumulative sum, same two-phase scalable
  // shape as p6.
  define("p7_token_budget",
    """WITH t AS (
         SELECT doc_id, n_chars,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         FROM t)
       SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM c WHERE cum_tokens <= 10000""") { (s, d) =>
    graft.operators.GlobalOrder.budgetSelect(
      t(s, d, "documents").select(col("doc_id"), col("n_chars"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tokens")),
      Seq(col("n_chars").desc, col("doc_id")), "n_tokens",
      budget = 10000L, cumCol = "cum_tokens")
      .select("doc_id", "n_tokens", "cum_tokens")
  }

  // Z-order (Morton) clustering for multi-dimensional data skipping — the
  // lakehouse write-layout op (Delta OPTIMIZE ZORDER): quantize two
  // columns against stable stats-derived bounds, interleave their bits,
  // range-exchange + sort on the z-value so every output file's min/max
  // is narrow on BOTH dimensions. The oracle SQL is GENERATED from the
  // same ZOrder helpers that build the Column expression, so the two
  // spellings cannot drift. The clustering exchange doesn't change row
  // content, so the z-value compare certifies the full pipeline.
  define("p9_zorder", {
    import graft.operators.ZOrder
    s"""WITH q AS (
         SELECT o_orderkey,
           ${ZOrder.quantizeSql("o_totalprice", 0.0, 500000.0, 8)} AS qx,
           ${ZOrder.quantizeSql("epoch_us(o_orderdate)",
              788918400000000.0, 1009843200000000.0, 8)} AS qy
         FROM orders)
       SELECT o_orderkey,
         CAST(${ZOrder.interleave2Sql("qx", "qy", 8)} AS BIGINT) AS zkey
       FROM q"""
  }) { (s, d) =>
    import graft.operators.ZOrder
    ZOrder.cluster(
      t(s, d, "orders").select("o_orderkey", "o_totalprice", "o_orderdate"),
      (col("o_totalprice"), 0.0, 500000.0),
      (unix_micros(col("o_orderdate").cast("timestamp")).cast("double"),
        788918400000000.0, 1009843200000000.0),
      bits = 8, numFiles = 16)
      .select("o_orderkey", "zkey")
  }

  // Weighted deterministic sampling: keep probability computed per row
  // (length-damped here: weight = min(n_chars/400, 1)) under the same
  // cross-engine md5 rule as a10/a11 — the "upsample quality, damp
  // boilerplate" mix pass. The weight arithmetic is written in the SAME
  // operation order on both sides (float-parity rule: identical IEEE
  // sequences give bitwise-equal doubles, and both engines round half
  // away from zero), so the threshold is unambiguous.
  define("a12_weighted_sample",
    """SELECT doc_id, n_chars FROM documents
       WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 1000
         < CAST(round(least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) * 1000)
                AS INT)""") { (s, d) =>
    graft.operators.Splits.sampleByWeight(
      t(s, d, "documents").select("doc_id", "n_chars"), "doc_id",
      least(col("n_chars").cast("double") / lit(400.0), lit(1.0)))
  }

  // Temperature-scaled domain sampling (Gopher/PaLM mixing): quotas
  // ∝ n_d^(1/T) over the source domains, the kept set per domain is the
  // md5 keyed-hash prefix of its rank order. Gated at T = 0.5 (1/T = 2),
  // where the weight is the EXACT integer n², so the whole quota
  // arithmetic — integer sums, one int→double conversion, one divide,
  // one floor — is engine-independent (the exactness-anchor discipline;
  // fractional temperatures go through libm pow and are pipeline-only).
  define("a16_temperature_mix",
    """WITH c AS (SELECT source, count(*) AS n FROM documents
         GROUP BY source),
       w AS (SELECT source, n, n * n AS w FROM c),
       tot AS (SELECT sum(w) AS tw FROM w),
       q AS (SELECT source,
               least(n, CAST((200 * w) // tw AS BIGINT))
                 AS quota
             FROM w CROSS JOIN tot),
       r AS (SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('a16' || CAST(doc_id AS VARCHAR)), doc_id)
                 AS rk
             FROM documents)
       SELECT doc_id, source FROM r JOIN q USING (source)
       WHERE rk <= quota""") { (s, d) =>
    graft.operators.Splits.temperatureSample(
      t(s, d, "documents").select("doc_id", "source"), "source", "doc_id",
      totalN = 200, temperature = 0.5, salt = "a16")
  }

  // Budget water-filling (Muennighoff'23 data-constrained scaling): how
  // many tokens to draw from each domain under a global training budget
  // when no domain may repeat past maxEpochs — alloc_d = min(λ·w_d,
  // E·T_d) with ONE λ solving Σ alloc = budget. Closed form by sorting
  // domains on the saturation threshold θ_d = E·T_d/w_d: a domain
  // saturates iff the budget left after filling every smaller-θ cap
  // still overflows its own threshold (two integer prefix/suffix sums);
  // λ divides exactly on the unsaturated remainder. Weights here are
  // the exact integers T_d² (superlinear → big domains saturate: both
  // branches live at every SF; 2–6 of 20 sources cap out). The per-
  // domain stats frame is the OUTPUT of the corpus aggregate —
  // |domains| rows — so its window prefix sums are metadata-scale.
  define("a17_budget_waterfill",
    """WITH c AS (SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS t
           FROM documents GROUP BY source),
       w AS (SELECT source, t, t * t AS w FROM c),
       b AS (SELECT CAST(floor(0.95 * sum(t)) AS BIGINT) AS budget FROM w),
       s AS (SELECT source, t, w, 1 * t AS cap,
               CAST(1 * t AS DOUBLE) / w AS theta FROM w),
       o AS (SELECT s.*, budget,
               sum(cap) OVER (ORDER BY theta, source
                 ROWS UNBOUNDED PRECEDING) AS capPrefix,
               sum(w) OVER (ORDER BY theta, source
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wFrom
             FROM s CROSS JOIN b),
       m AS (SELECT *,
               CAST(budget - (capPrefix - cap) AS DOUBLE)
                 > theta * CAST(wFrom AS DOUBLE) AS saturated
             FROM o),
       k AS (SELECT coalesce(sum(CASE WHEN saturated THEN cap END), 0)
                 AS satCap,
               coalesce(sum(CASE WHEN NOT saturated THEN w END), 0)
                 AS unsatW,
               max(budget) AS budget FROM m),
       l AS (SELECT CASE WHEN unsatW = 0 THEN 0.0
                  ELSE CAST(budget - satCap AS DOUBLE) / unsatW
               END AS lambda FROM k),
       f AS (SELECT source, t, w, saturated,
               CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                    ELSE lambda * CAST(w AS DOUBLE) END AS alloc
             FROM m CROSS JOIN l)
       SELECT source, t AS tokens, CAST(w AS BIGINT) AS weight, saturated,
         alloc AS alloc_tokens, alloc / CAST(t AS DOUBLE) AS epochs
       FROM f""") { (s, d) =>
    import graft.functions.{TextFunctions => TFx}
    import graft.operators.CacheScope
    val stats = CacheScope.global.cache(
      t(s, d, "documents")
        .groupBy("source")
        .agg(sum(TFx.tokenCount(col("text"))).cast("long").as("tokens"))
        .withColumn("weight", col("tokens") * col("tokens")))
    val total = stats.agg(sum("tokens")).head().getLong(0)
    val budget = math.floor(0.95 * total.toDouble).toLong
    graft.operators.Splits.budgetWaterfill(stats, "source", "tokens",
      "weight", budget, maxEpochs = 1)
  }

  // Curation capstone v4 — composes the ROUND-10 operators in one gate:
  // Kneser–Ney perplexity scoring → per-language percentile gate (drop
  // the worst 10%, histogram path, no window) → temperature-0.5 domain
  // mix (exact integer quotas) → BPE token counts from the persisted
  // tokenizer. The oracle stitches the t26/t27/t28/a16 CTE chains into
  // one statement — every stage pinned end-to-end through the
  // composition, not just in isolation.
  define("p12_curation_v4",
    "WITH " + (bpeTrainCtes(BpeMerges) ++ bpeDictCtes(BpeMerges) ++
      KnCtes ++ Seq(
      """sc AS (SELECT d.doc_id, d.lang, d.source,
           kncte.kn_logprob AS kn
         FROM documents d JOIN kncte USING (doc_id))""",
      """pc AS (SELECT doc_id, lang, source, kn,
           cume_dist() OVER (PARTITION BY lang ORDER BY kn) AS pct_rank
         FROM sc)""",
      """surv AS (SELECT * FROM pc WHERE pct_rank > 0.1)""",
      """mc AS (SELECT source, count(*) AS n FROM surv GROUP BY source)""",
      """mw AS (SELECT source, n, n * n AS wt FROM mc)""",
      """mtot AS (SELECT sum(wt) AS tw FROM mw)""",
      """mq AS (SELECT source,
           least(n, CAST((150 * wt) // tw AS BIGINT))
             AS quota
         FROM mw CROSS JOIN mtot)""",
      """mr AS (SELECT surv.*, row_number() OVER (PARTITION BY source
           ORDER BY md5('v4' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM surv)""")).mkString(",\n") + """
       SELECT mr.doc_id, mr.lang, mr.source, mr.kn, mr.pct_rank,
         bt.n_bpe_tokens
       FROM mr JOIN mq USING (source) JOIN bt ON mr.doc_id = bt.doc_id
       WHERE rk <= quota""") { (s, d) =>
    import graft.operators.{Bpe, LanguageModel, Quality, Splits}
    val docs = t(s, d, "documents")
    // rounded BEFORE the percentile so both engines rank identical values
    val kn = LanguageModel.kneserNeyBigramLogProb(docs, "text", "doc_id")
      .select(col("doc_id"), round(col("kn_logprob"), 6).as("kn"))
    val scored = docs.select("doc_id", "lang", "source").join(kn, "doc_id")
    val surv = Quality.withGroupPercentile(scored, "lang", "kn")
      .filter(col("pct_rank") > 0.1)
    val mixed = Splits.temperatureSample(surv, "source", "doc_id",
      totalN = 150, temperature = 0.5, salt = "v4")
    mixed.join(
        Bpe.encodeTokenCountsFromIndex(docs, "text", "doc_id",
          bpeIndexDir(s, d)),
        "doc_id")
      .select("doc_id", "lang", "source", "kn", "pct_rank", "n_bpe_tokens")
  }

  // Curation capstone v5 — the DATA-CONSTRAINED mixing pipeline: per-
  // source token totals → budget water-filling (a17's closed form,
  // weights t², maxEpochs 1, budget = 90% of the corpus) → each source
  // keeps its deterministic-hash-priority documents until ITS allocated
  // token budget is spent (a14's mixBudgetSelect — range-exchange cumsum,
  // no per-source single-task sort). This is the Muennighoff'23 answer
  // to "which documents do we actually train on": saturated (small)
  // domains keep everything, oversized domains are cut to their
  // water-filled share. The waterfill's alloc doubles are bitwise
  // engine-identical (the a17 gate pins that), so floor(alloc) transfers
  // as an exact integer budget; the only driver-side state is the
  // |domains|-row budget map (the bounded-model contract).
  define("p13_curation_v5",
    """WITH c AS (SELECT doc_id, source,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       cs AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t
              FROM c GROUP BY source),
       w AS (SELECT source, t, t * t AS w FROM cs),
       bb AS (SELECT CAST(floor(0.9 * sum(t)) AS BIGINT) AS budget FROM w),
       s AS (SELECT source, t, w, 1 * t AS cap,
               CAST(1 * t AS DOUBLE) / w AS theta FROM w),
       o AS (SELECT s.*, budget,
               sum(cap) OVER (ORDER BY theta, source
                 ROWS UNBOUNDED PRECEDING) AS capPrefix,
               sum(w) OVER (ORDER BY theta, source
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wFrom
             FROM s CROSS JOIN bb),
       m AS (SELECT *,
               CAST(budget - (capPrefix - cap) AS DOUBLE)
                 > theta * CAST(wFrom AS DOUBLE) AS saturated
             FROM o),
       k AS (SELECT coalesce(sum(CASE WHEN saturated THEN cap END), 0)
                 AS satCap,
               coalesce(sum(CASE WHEN NOT saturated THEN w END), 0)
                 AS unsatW,
               max(budget) AS budget FROM m),
       l AS (SELECT CASE WHEN unsatW = 0 THEN 0.0
                  ELSE CAST(budget - satCap AS DOUBLE) / unsatW
               END AS lambda FROM k),
       q AS (SELECT source,
               CAST(floor(CASE WHEN saturated THEN CAST(cap AS DOUBLE)
                    ELSE lambda * CAST(w AS DOUBLE) END) AS BIGINT)
                 AS alloc
             FROM m CROSS JOIN l),
       r AS (SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source
                 ORDER BY md5('v5' || CAST(doc_id AS VARCHAR)), doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
             FROM c)
       SELECT doc_id, source, n_tokens,
         CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM r JOIN q USING (source) WHERE cum_tokens <= alloc""") { (s, d) =>
    import graft.operators.{CacheScope, GlobalOrder, Splits}
    import graft.functions.{TextFunctions => TFx}
    val docs = CacheScope.global.cache(
      t(s, d, "documents").select(col("doc_id"), col("source"),
        TFx.tokenCount(col("text")).cast("long").as("n_tokens")))
    val stats = CacheScope.global.cache(
      docs.groupBy("source").agg(sum("n_tokens").as("tokens"))
        .withColumn("weight", col("tokens") * col("tokens")))
    val total = stats.agg(sum("tokens")).head().getLong(0)
    val budget = math.floor(0.9 * total.toDouble).toLong
    val budgets = Splits.budgetWaterfill(stats, "source", "tokens",
      "weight", budget, maxEpochs = 1)
      .select(col("source"), floor(col("alloc_tokens")).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    GlobalOrder.mixBudgetSelect(
      docs.withColumn("__h",
        md5(concat(lit("v5"), col("doc_id").cast("string")))),
      "source", Seq(col("__h"), col("doc_id")), "n_tokens", budgets,
      cumCol = "cum_tokens")
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  // Boilerplate scrub — the discover→remove composition: the corpus's
  // own top-25 2-grams become the LINE blocklist, and cleanLines drops
  // every line containing one (d11's fixed 5-word segmentation). This
  // is the C4 pipeline's "discover boilerplate, then strip it" loop as
  // one gate. Discovery runs the SKETCH path (HeavyHitters.topKNgrams:
  // MG summary + bounded exact recount, wire O(m) per partition —
  // CONSTANT in the vocabulary), NOT the exact t19 report whose two
  // shuffles carry the (doc, gram) corpus and the (gram, count)
  // vocabulary — the hh soak measured that at 100.8 MB vs ~17 MB sketch
  // wire at a THIRTY-ONE-word vocabulary, unbounded at an open one.
  // Exactness is preserved (the adaptive-φ recounted set provably
  // contains the global top-25, same DESC/ASC tie-break), so the oracle
  // below is unchanged. Line removal is the zero-join projection pass.
  // Word/punct rules are off so the composition is isolated to the
  // discovered blocklist.
  define("p14_boilerplate_scrub",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
           AS wds FROM documents),
       g2 AS (SELECT doc_id, array_to_string(wds[pos : pos + 1], ' ')
                AS gram
              FROM (SELECT doc_id, wds,
                      unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                        AS pos
                    FROM w)),
       pg AS (SELECT doc_id, gram, count(*) AS c FROM g2
              GROUP BY doc_id, gram),
       blk AS (SELECT gram FROM (
                 SELECT gram, sum(c) AS occurrences FROM pg GROUP BY gram
                 ORDER BY occurrences DESC, gram LIMIT 25)),
       lines AS (SELECT doc_id, g AS pos,
                   array_to_string(wds[g*5+1 : g*5+5], ' ') AS line
                 FROM (SELECT doc_id, wds,
                         unnest(generate_series(0,
                           CAST(ceil(len(wds) / 5.0) AS INT) - 1)) AS g
                       FROM w)),
       kept AS (SELECT doc_id, pos, line FROM lines
                WHERE NOT EXISTS (SELECT 1 FROM blk
                  WHERE contains(lower(line), lower(gram)))),
       nl AS (SELECT doc_id, count(*) AS n_lines FROM lines
              GROUP BY doc_id),
       nk AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(line, chr(10) ORDER BY pos) AS text
              FROM kept GROUP BY doc_id)
       SELECT nl.doc_id,
         CAST(nl.n_lines AS BIGINT) AS n_lines,
         CAST(coalesce(nk.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(nk.n_kept, 0) >= 1 AS keep,
         coalesce(nk.text, '') AS text
       FROM nl LEFT JOIN nk ON nl.doc_id = nk.doc_id""") { (s, d) =>
    graft.operators.LineClean.scrubDiscoveredBoilerplate(
      t(s, d, "documents"), "text", "doc_id")
  }

  // HTML/markup extraction IN FRONT of the scrub stack (round-14): the
  // first operation every web-corpus pipeline runs, previously absent —
  // the text stack started at clean text. The gate wraps every document
  // in deterministic markup (tags, a comment hiding a tag, a script
  // whose CODE must vanish, an upper-case STYLE block, &nbsp;-encoded
  // spaces, and a double-escaped &amp;amp; exercising the decode-amp-
  // LAST rule), extracts with TextExtract.htmlToText (a pure
  // regexp_replace chain — scan-shaped, zero shuffle at any corpus
  // size), and then runs the p14 boilerplate scrub ON the extracted
  // text — where the discovery stage correctly identifies the wrapper's
  // own template 2-grams as the corpus boilerplate. The oracle rebuilds
  // the wrap relationally, extracts via TextExtract.htmlToTextSql
  // (generated from the SAME pattern list as the Column chain — the
  // ZOrder one-spelling rule), and replays the scrub in SQL.
  define("p18_html_extract_scrub",
    s"""WITH wrapped AS (SELECT doc_id,
           '<div class="doc"><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
           '</h1><!-- meta: skip <b>this</b> --><script type="text/javascript">var n = 1 &lt; 2;</script><p>' ||
           replace(text, ' ', '&nbsp;') ||
           '</p><STYLE>.x{color:red}</STYLE>&quot;fin&quot; &amp;amp; x &gt; y &#8220;NCR&#8221; &#8216;q&#x2019; a&#8212;b c&#x2013;d &#8230; A&#160;B &#38;#60;kept&#62;</div>'
             AS html
         FROM documents),
       x AS (SELECT doc_id,
               ${graft.operators.TextExtract.htmlToTextSql("html")} AS text
             FROM wrapped),
       w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')
           AS wds FROM x),
       g2 AS (SELECT doc_id, array_to_string(wds[pos : pos + 1], ' ')
                AS gram
              FROM (SELECT doc_id, wds,
                      unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                        AS pos
                    FROM w)),
       pg AS (SELECT doc_id, gram, count(*) AS c FROM g2
              GROUP BY doc_id, gram),
       blk AS (SELECT gram FROM (
                 SELECT gram, sum(c) AS occurrences FROM pg GROUP BY gram
                 ORDER BY occurrences DESC, gram LIMIT 25)),
       lines AS (SELECT doc_id, g AS pos,
                   array_to_string(wds[g*5+1 : g*5+5], ' ') AS line
                 FROM (SELECT doc_id, wds,
                         unnest(generate_series(0,
                           CAST(ceil(len(wds) / 5.0) AS INT) - 1)) AS g
                       FROM w)),
       kept AS (SELECT doc_id, pos, line FROM lines
                WHERE NOT EXISTS (SELECT 1 FROM blk
                  WHERE contains(lower(line), lower(gram)))),
       nl AS (SELECT doc_id, count(*) AS n_lines FROM lines
              GROUP BY doc_id),
       nk AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(line, chr(10) ORDER BY pos) AS text
              FROM kept GROUP BY doc_id)
       SELECT nl.doc_id,
         CAST(nl.n_lines AS BIGINT) AS n_lines,
         CAST(coalesce(nk.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(nk.n_kept, 0) >= 1 AS keep,
         coalesce(nk.text, '') AS text
       FROM nl LEFT JOIN nk ON nl.doc_id = nk.doc_id""") { (s, d) =>
    import graft.operators.{LineClean, TextExtract}
    val html = concat(
      lit("<div class=\"doc\"><h1>Doc "), col("doc_id").cast("string"),
      lit("</h1><!-- meta: skip <b>this</b> -->" +
        "<script type=\"text/javascript\">var n = 1 &lt; 2;</script><p>"),
      regexp_replace(col("text"), " ", "&nbsp;"),
      lit("</p><STYLE>.x{color:red}</STYLE>" +
        "&quot;fin&quot; &amp;amp; x &gt; y " +
        // NCR coverage (round-15): decimal + hex curly quotes, em/en
        // dash, ellipsis, nbsp-as-NCR, and the &#38;#60; double-escape
        // proving the amp-family decodes LAST (one level collapses:
        // the extracted text reads "&#60;kept>", not "<kept>")
        "&#8220;NCR&#8221; &#8216;q&#x2019; a&#8212;b c&#x2013;d " +
        "&#8230; A&#160;B &#38;#60;kept&#62;</div>"))
    // cache the extraction: the regex chain (the heaviest pure projection
    // in the repo) feeds THREE passes otherwise — the discovery sketch,
    // its exact recount, and the final scrub each re-ran the whole
    // htmlToText chain over every document
    val extracted = graft.operators.CacheScope.global.cache(
      t(s, d, "documents")
        .select(col("doc_id"), TextExtract.htmlToText(html).as("text")))
    LineClean.scrubDiscoveredBoilerplate(extracted, "text", "doc_id")
  }

  // The deterministic four-variant URL frontier p19/st36 derive from
  // doc_id (the corpus has no URL column; the p18 wrap discipline —
  // construction spelled once per engine, canonicalization generated
  // from ONE list): case-shifted host + :443 + tracking params +
  // trailing slash (v0), www. prefix + fragment (v1), doubled slashes
  // + fbclid (v2) — all three fold to ONE canonical URL per doc_id
  // group — and a kept-parameter singleton (v3) proving real query
  // params survive while utm_/gclid are dropped around them.
  private val urlFrontierSql: String =
    """CASE doc_id % 4
             WHEN 0 THEN 'HTTPS://Example.COM:443/Articles/' ||
               CAST(doc_id // 4 AS VARCHAR) ||
               '/?utm_source=feed&utm_campaign=x'
             WHEN 1 THEN 'https://www.example.com/Articles/' ||
               CAST(doc_id // 4 AS VARCHAR) || '#section-2'
             WHEN 2 THEN 'https://example.com//Articles//' ||
               CAST(doc_id // 4 AS VARCHAR) || '/?fbclid=IwAR0share'
             ELSE 'https://example.com/Articles/' ||
               CAST(doc_id // 4 AS VARCHAR) ||
               '?page=2&utm_medium=email&gclid=xyz'
           END"""

  private def urlFrontierCol: Column = {
    val base = floor(col("doc_id") / 4).cast("long").cast("string")
    when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Example.COM:443/Articles/"), base,
          lit("/?utm_source=feed&utm_campaign=x")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://www.example.com/Articles/"), base,
          lit("#section-2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://example.com//Articles//"), base,
          lit("/?fbclid=IwAR0share")))
      .otherwise(
        concat(lit("https://example.com/Articles/"), base,
          lit("?page=2&utm_medium=email&gclid=xyz")))
  }

  // URL canonicalization + keep-first URL dedup (round-15 — the other
  // first operation a web-corpus pipeline runs, beside p18's markup
  // extraction): crawl dumps carry the same page under many URL
  // spellings, and URL-level dedup is the cheapest rung there is — one
  // pure projection (scan-shaped, codegen'd, zero shuffle) plus a
  // groupBy on the slim canonical key, BEFORE any content family pays a
  // shingle. At 100 TB the shuffle carries one short string per group,
  // not documents. The corpus has no URL column, so the gate derives a
  // deterministic four-variant frontier from doc_id (the p18 wrap
  // discipline — construction spelled identically in both engines):
  // case-shifted host + :443 + tracking params + trailing slash (v0),
  // www. prefix + fragment (v1), doubled slashes + fbclid (v2) — all
  // three fold to ONE canonical URL per doc_id group — and a
  // kept-parameter singleton (v3) proving real query params survive
  // while utm_/gclid are dropped around them. The canonicalization
  // chain itself is generated from ONE pattern list
  // (UrlCanon.Steps) into both the Column chain and this oracle SQL.
  define("p19_url_canonical_dedup",
    s"""WITH urls AS (SELECT doc_id, $urlFrontierSql AS url
         FROM documents),
       c AS (SELECT doc_id,
               ${graft.operators.UrlCanon.canonicalizeUrlSql("url")}
                 AS canon_url
             FROM urls)
       SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dupes,
         min(doc_id) AS keep_id
       FROM c GROUP BY canon_url""") { (s, d) =>
    import graft.operators.UrlCanon
    t(s, d, "documents")
      .select(col("doc_id"),
        UrlCanon.canonicalizeUrl(urlFrontierCol).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_dupes"), min("doc_id").as("keep_id"))
  }

  // Train→eval benchmark-contamination check: asymmetric trigram
  // containment over a deterministic doc_id split (every 20th doc plays
  // the benchmark). The distribution is sharply bimodal on this corpus
  // (planted leaks ≥ 0.97, background ≤ 0.09), so threshold 0.5 flags
  // exactly the leaked items. Containment = inter / |sh(e)| is integer
  // counts under double division — deterministic in both engines, no
  // rounding (float-parity rule: never round per-row arithmetic).
  // Shared contamination-pair CTE chain: trigram shingles over the raw
  // whitespace tokenization, asymmetric containment, the %20 eval split.
  // Used verbatim by t6 (one-shot detector) and t22 (serve-from-persisted-
  // index — same function by construction: the index stores the same
  // distinct shingles, sizes, and width), and composed into the survivor
  // form for t21/st19 (removal).
  private val contamCtes: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
         FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh
         FROM d WHERE len(wds) >= 3),
       ev AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
       tr AS (SELECT * FROM sh WHERE doc_id % 20 != 0)"""

  private val contamPairsSql: String = contamCtes +
    """
       SELECT tr.doc_id AS t_id, ev.doc_id AS e_id,
         CAST(len(list_intersect(ev.sh, tr.sh)) AS DOUBLE) / len(ev.sh)
           AS containment
       FROM ev, tr
       WHERE CAST(len(list_intersect(ev.sh, tr.sh)) AS DOUBLE) / len(ev.sh)
         >= 0.5"""

  // Survivors: every train doc (the base table, NOT the ≥3-token `sh`
  // CTE — sub-trigram docs can never be flagged but must survive) minus
  // the flagged id set.
  private val contamSurvivorsSql: String = contamCtes +
    """,
       flagged AS (SELECT DISTINCT tr.doc_id AS t_id FROM ev, tr
         WHERE CAST(len(list_intersect(ev.sh, tr.sh)) AS DOUBLE) / len(ev.sh)
           >= 0.5)
       SELECT doc_id FROM documents
       WHERE doc_id % 20 != 0
         AND doc_id NOT IN (SELECT t_id FROM flagged)"""

  define("t6_contamination", contamPairsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    graft.operators.Dedup.contamination(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", threshold = 0.5)
  }

  // The removal half, one-shot: t6's flags anti-joined back. Output is the
  // surviving doc ids (the full-row frame projects here to keep the gate
  // compare slim).
  define("t21_decontaminate", contamSurvivorsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    graft.operators.Decontaminate.removeContaminated(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", threshold = 0.5)
      .select(col("doc_id"))
  }

  // Serve-from-persisted-index: the eval suite's shingle postings + sizes
  // + width are frozen index state (built ONCE per JVM, string postings so
  // the oracle reproduces the counts exactly); flagging scans the train
  // side, semi-joins the broadcast shingle set (the corpus never
  // shuffles), and aggregates only matched postings. Same answer as t6 by
  // construction.
  define("t22_decontaminate_serve", contamPairsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"contam_$d") { p =>
      graft.operators.Decontaminate.buildIndex(
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        s"$p/contam", shingleSize = 3, hashPostings = false)
    }
    graft.operators.Decontaminate.flagFromIndex(
      docs.filter(col("doc_id") % 20 =!= 0), s"$dir/contam",
      "text", "doc_id", threshold = 0.5)
  }

  // Incremental index growth: build on HALF the eval suite, APPEND the
  // other half (the generation/pointer lifecycle every persisted family
  // has), then serve — flags against base+appended must equal flags
  // against a from-scratch build over the full suite, which is exactly
  // the t22 oracle (the d13/d16 oracle-transfer trick). Appends are how
  // benchmarks actually arrive: new suites accrete; frozen ones never
  // re-shingle.
  define("t25_decontaminate_append", contamPairsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val evalSet = docs.filter(col("doc_id") % 20 === 0)
    val dir = sessionIndexDir(s"contam_app_$d") { p =>
      graft.operators.Decontaminate.buildIndex(
        evalSet.filter(col("doc_id") % 40 === 0), "text", "doc_id",
        s"$p/contam", shingleSize = 3, hashPostings = false)
      graft.operators.Decontaminate.appendToIndex(
        evalSet.filter(col("doc_id") % 40 =!= 0), "text", "doc_id",
        s"$p/contam")
    }
    graft.operators.Decontaminate.flagFromIndex(
      docs.filter(col("doc_id") % 20 =!= 0), s"$dir/contam",
      "text", "doc_id", threshold = 0.5)
  }

  // AUTO-compaction on the decontamination-index append path (round-15):
  // t25 appends and serves; at production cadence (a new benchmark
  // suite per release) every serve pays the accumulated posting-sliver
  // listing tax until a manual compactIndex — here each append folds
  // the index ITSELF once the live postings table reaches the part-file
  // threshold (appendToIndex's compactFileThreshold; threshold 1 makes
  // both appends fold). Compaction rewrites byte-equal rows, so flags
  // against the auto-folded index equal flags against a from-scratch
  // build — the t22/t25 oracle verbatim — and the gate REQUIRES the
  // fold to have fired (live postings dir must be a generation).
  define("t62_decontaminate_autocompact", contamPairsSql) { (s, d) =>
    import graft.operators.{Decontaminate, Similarity}
    val docs = t(s, d, "documents")
    val evalSet = docs.filter(col("doc_id") % 20 === 0)
    val dir = sessionIndexDir(s"contam_ac_$d") { p =>
      Decontaminate.buildIndex(
        evalSet.filter(col("doc_id") % 60 === 0), "text", "doc_id",
        s"$p/contam", shingleSize = 3, hashPostings = false)
      Decontaminate.appendToIndex(
        evalSet.filter(col("doc_id") % 60 === 20), "text", "doc_id",
        s"$p/contam", compactFileThreshold = 1)
      Decontaminate.appendToIndex(
        evalSet.filter(col("doc_id") % 60 === 40), "text", "doc_id",
        s"$p/contam", compactFileThreshold = 1)
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(s"$p/contam", "index"))
        .getFileName.toString
      require(live.startsWith("index.g"),
        s"auto-compaction never fired on append: live dir is $live")
    }
    Decontaminate.flagFromIndex(
      docs.filter(col("doc_id") % 20 =!= 0), s"$dir/contam",
      "text", "doc_id", threshold = 0.5)
  }

  // The broadcast-free serve regime: a Bloom filter of the stored eval
  // shingles (~1.2 B/element at 1% fpp vs the full string set's ~30 B)
  // prefilters the corpus postings locally; false positives die in the
  // exact postings join that follows, so the output is bit-identical to
  // t22 at ANY fpp and the same pair oracle applies. This is the shape
  // for eval suites too big to broadcast — the sketch is the only thing
  // shipped corpus-wide. PipelineSpec additionally pins exactness under
  // a pathological fpp.
  // Semantic decontamination — the EMBEDDING-space complement of the
  // n-gram pipeline (t6/t21/t22/t31 see exact shingle containment;
  // paraphrased/translated leakage only shows in embedding space).
  // Every 4th vector plays the benchmark; the bounded eval side
  // broadcasts whole and the corpus scans once against it — when the
  // probe set is small, brute force IS the scale path. τ = 0.42 keeps
  // planted near-dup pairs flagged at every SF (13/18/167 pairs).
  define("t42_semantic_decontaminate",
    """SELECT t.vec_id AS t_id, e.vec_id AS e_id
       FROM embeddings t, embeddings e
       WHERE t.vec_id % 4 <> 0 AND e.vec_id % 4 = 0
         AND list_cosine_similarity(t.embedding, e.embedding)
               >= 0.42""") { (s, d) =>
    val emb = t(s, d, "embeddings")
    graft.operators.Decontaminate.semanticFlags(
      emb.filter(col("vec_id") % 4 =!= 0),
      emb.filter(col("vec_id") % 4 === 0),
      "embedding", "vec_id", threshold = 0.42)
  }

  define("t31_bloom_decontaminate", contamPairsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"contam_$d") { p =>
      graft.operators.Decontaminate.buildIndex(
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        s"$p/contam", shingleSize = 3, hashPostings = false)
    }
    graft.operators.Decontaminate.flagFromIndexBloom(
      docs.filter(col("doc_id") % 20 =!= 0), s"$dir/contam",
      "text", "doc_id", threshold = 0.5)
  }

  // C4-style line-level cleaning (Raffel'20 §2.2): drop lines under 5
  // words or containing a blocklist phrase, keep documents with ≥ 3
  // surviving lines, re-join survivors. Lines are the d11 fixed 5-word
  // segmentation (the corpus has no newlines; the operator is
  // segmentation-agnostic). One projection pass, zero shuffles, zero
  // joins — per-doc array HOFs over spread partitions; every rule is a
  // pure string predicate so the oracle is exact. The terminal-punct
  // rule is off (punctuation-free corpus) but tested in PipelineSpec.
  define("t32_c4_line_filters",
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       l0 AS (
         SELECT doc_id, w,
           unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
         FROM toks),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM l0),
       kept AS (
         SELECT doc_id, pos, line FROM lines
         WHERE (CASE
                 WHEN regexp_replace(line, '^\s+|\s+$', '', 'g') = '' THEN 0
                 ELSE len(regexp_split_to_array(
                        regexp_replace(line, '^\s+|\s+$', '', 'g'), '\s+'))
                END) >= 5
           AND NOT contains(lower(line), 'slow')),
       nl AS (SELECT doc_id, count(*) AS n_lines FROM lines
              GROUP BY doc_id),
       nk AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(line, chr(10) ORDER BY pos) AS text
              FROM kept GROUP BY doc_id)
       SELECT nl.doc_id,
         CAST(nl.n_lines AS BIGINT) AS n_lines,
         CAST(coalesce(nk.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(nk.n_kept, 0) >= 3 AS keep,
         coalesce(nk.text, '') AS text
       FROM nl LEFT JOIN nk ON nl.doc_id = nk.doc_id""") { (s, d) =>
    graft.operators.LineClean.cleanLines(
      withDocLines5(t(s, d, "documents"), "lines"),
      "lines", "doc_id",
      minWordsPerLine = 5, requireTerminalPunct = false,
      blocklist = Seq("slow"), minKeptLines = 3)
  }

  // INTRA-document line dedup (RefinedWeb/C4 "repeated lines within a
  // page"): keep each line's first occurrence inside its own document —
  // the within-doc complement of d11's corpus-wide pass, and it needs
  // ZERO corpus state: one projection of array HOFs, no explode, no
  // shuffle, no join, one output row per document at any scale. Lines
  // are the d11/t32 fixed 5-word segmentation. The oracle runs the same
  // keep rule as a min-pos window over exploded lines — two different
  // algorithms, one answer.
  define("t35_intradoc_line_dedup",
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0,
                   CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
               FROM toks)),
       kept AS (
         SELECT doc_id, pos, line,
           min(pos) OVER (PARTITION BY doc_id, line) AS first_pos
         FROM lines)
       SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(count(*) FILTER (WHERE pos = first_pos) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos)
           FILTER (WHERE pos = first_pos) AS text
       FROM kept GROUP BY doc_id""") { (s, d) =>
    graft.operators.LineClean.dedupLinesWithinDoc(
      withDocLines5(t(s, d, "documents"), "lines"),
      "lines", "doc_id")
  }

  // ------------------------------------------------------------------
  // BPE tokenizer training (operators.Bpe). The oracle is UNROLLED SQL:
  // each merge round is three CTEs (pair counts, argmax with the
  // count-desc/lexicographic tie-break, fold-apply via list_reduce with
  // a U+001F accumulator — "merge" and "omit the boundary" are the same
  // operation because the merged symbol is l||r). Both engines compute
  // the identical iteration, so the merge table pins training end to
  // end — pair counting, tie-breaks, and leftmost-first application.
  // ------------------------------------------------------------------
  // final + literal = compile-time constant: safe to reference from
  // defines that appear textually earlier in this object's initializer
  private final val BpeMerges = 8

  /** Shared CTE chain: w0 = char-split word counts; per round i,
    * p_i = pair counts over w_{i-1}, b_i = the argmax pair, w_i = the
    * vocabulary rewritten under b_i. */
  private def bpeTrainCtes(n: Int): Seq[String] = {
    val w0 =
      """w0 AS (
        SELECT string_split(w, '') AS syms, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents)
        WHERE len(w) > 0 AND NOT contains(w, chr(31))
        GROUP BY w)"""
    w0 +: (1 to n).flatMap { i =>
      Seq(
        s"""p$i AS (
          SELECT pr[1] AS l, pr[2] AS r, sum(cnt) AS c FROM (
            SELECT unnest(list_transform(generate_series(1, len(syms)-1),
              j -> [syms[j], syms[j+1]])) AS pr, cnt
            FROM w${i - 1})
          GROUP BY 1, 2)""",
        s"""b$i AS (
          SELECT $i AS rank, l, r, c FROM p$i
          ORDER BY c DESC, l, r LIMIT 1)""",
        s"""w$i AS (
          SELECT string_split(
            list_reduce(syms, (acc, x) ->
              CASE WHEN list_extract(string_split(acc, chr(31)), -1) = b$i.l
                     AND x = b$i.r
                   THEN acc || x ELSE acc || chr(31) || x END),
            chr(31)) AS syms, cnt
          FROM w${i - 1}, b$i)""")
    }
  }

  define("t26_bpe_train",
    "WITH " + bpeTrainCtes(BpeMerges).mkString(",\n") + "\n" +
      (1 to BpeMerges).map(i =>
        s"""SELECT rank, l AS left, r AS right,
            CAST(c AS BIGINT) AS pair_count FROM b$i""")
        .mkString(" UNION ALL ")) { (s, d) =>
    graft.operators.Bpe.train(t(s, d, "documents"), "text", BpeMerges)
  }

  // Encoding under the trained merges: per-document BPE token counts.
  // The merge chain folds over the DISTINCT word vocabulary only (d0..dN
  // in the oracle), then a word→count dictionary joins back — corpus
  // text never re-folds. Inner-join semantics on both sides: documents
  // with no words produce no row.
  /** Word→final-symbols dictionary CTEs (d0…dN) under the trained
    * merges, plus `bt` = per-doc BPE token counts — shared by the
    * encode gates and the v4 capstone. */
  private def bpeDictCtes(n: Int): Seq[String] = {
    val dicts = """d0 AS (
        SELECT DISTINCT w, string_split(w, '') AS syms
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
              FROM documents)
        WHERE len(w) > 0 AND NOT contains(w, chr(31)))""" +:
      (1 to n).map { i =>
        s"""d$i AS (
          SELECT w, string_split(
            list_reduce(syms, (acc, x) ->
              CASE WHEN list_extract(string_split(acc, chr(31)), -1) = b$i.l
                     AND x = b$i.r
                   THEN acc || x ELSE acc || chr(31) || x END),
            chr(31)) AS syms
          FROM d${i - 1}, b$i)"""
      }
    dicts :+ s"""bt AS (
      SELECT doc_id, CAST(sum(len(d$n.syms)) AS BIGINT) AS n_bpe_tokens
      FROM (SELECT doc_id,
              unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents) tt
      JOIN d$n USING (w)
      GROUP BY doc_id)"""
  }

  private val BpeEncodeOracle: String =
    "WITH " + (bpeTrainCtes(BpeMerges) ++ bpeDictCtes(BpeMerges))
      .mkString(",\n") +
      "\nSELECT doc_id, n_bpe_tokens FROM bt"

  define("t27_bpe_encode", BpeEncodeOracle) { (s, d) =>
    import graft.operators.Bpe
    val docs = t(s, d, "documents")
    // the merge table is numMerges rows — a bounded driver materialization
    val merges = Bpe.train(docs, "text", BpeMerges)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.encodeTokenCounts(docs, "text", "doc_id", merges)
  }

  /** Train-once-per-JVM persisted tokenizer for the t29/st21 serves. */
  private def bpeIndexDir(s: SparkSession, d: String): String =
    sessionIndexDir(s"bpe_$d") { p =>
      graft.operators.Bpe.saveMerges(
        graft.operators.Bpe.train(t(s, d, "documents"), "text", BpeMerges),
        s"$p/bpe")
    } + "/bpe"

  // Persisted-tokenizer serve: train once, freeze the merge table on
  // disk (layout-tagged), encode from the stored artifact — the batch
  // half of the serving triad. Same oracle as t27 by construction.
  define("t29_bpe_encode_persisted", BpeEncodeOracle) { (s, d) =>
    graft.operators.Bpe.encodeTokenCountsFromIndex(
      t(s, d, "documents"), "text", "doc_id", bpeIndexDir(s, d))
  }

  // Streaming serve against the same frozen tokenizer: token counts are
  // per-document functions of the merge list, so micro-batch union ≡
  // full batch and the t27 oracle transfers verbatim.
  define("st21_stream_bpe", BpeEncodeOracle) { (s, d) =>
    graft.streaming.Streaming.streamingBpeEncode(s, d, "st21",
      bpeIndexDir(s, d))
  }

  // Full token SEQUENCES (the encode form packing/sharding consumes):
  // word positions ride through the dictionary join and one aggregate
  // reassembles each doc in order. Emitted space-joined (tokens carry
  // no spaces — they are word-substring concatenations), which keeps
  // the gate compare on a sortable scalar column.
  define("t30_bpe_tokens",
    "WITH " + (bpeTrainCtes(BpeMerges) ++ bpeDictCtes(BpeMerges))
      .mkString(",\n") + s""",
       tw AS (SELECT doc_id, w, pos FROM (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
           unnest(generate_series(1,
             len(regexp_split_to_array(trim(text), '\\s+')))) AS pos
         FROM documents) WHERE len(w) > 0)
       SELECT doc_id,
         string_agg(array_to_string(d$BpeMerges.syms, ' '), ' '
           ORDER BY pos) AS tokens_str
       FROM tw JOIN d$BpeMerges USING (w)
       GROUP BY doc_id""") { (s, d) =>
    import graft.operators.Bpe
    val docs = t(s, d, "documents")
    Bpe.encodeTokens(docs, "text", "doc_id",
      Bpe.loadMerges(s, bpeIndexDir(s, d)))
      .select(col("doc_id"), array_join(col("tokens"), " ").as("tokens_str"))
  }

  // Sequence packing on BPE token counts — the p2 first-fit-in-id-order
  // fold, sized by the TRAINED tokenizer instead of whitespace counts
  // (what a real pretraining run packs by). Composes the persisted
  // tokenizer with the packing scan; oracle = the p2 recursive CTE over
  // the unrolled BPE counts.
  define("p13_bpe_packing",
    "WITH RECURSIVE " + (bpeTrainCtes(BpeMerges) ++ bpeDictCtes(BpeMerges))
      .mkString(",\n") + """,
       pt AS MATERIALIZED (SELECT d.lang, d.doc_id, bt.n_bpe_tokens AS n
              FROM documents d JOIN bt USING (doc_id)),
       po AS MATERIALIZED (SELECT lang, doc_id, n,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             FROM pt),
       pack(lang, rn, doc_id, n, acc, bin) AS (
         SELECT lang, rn, doc_id, n, n, CAST(0 AS BIGINT) FROM po
         WHERE rn = 1
         UNION ALL
         SELECT po.lang, po.rn, po.doc_id, po.n,
           CASE WHEN p.acc + po.n > 256 AND p.acc > 0 THEN po.n
                ELSE p.acc + po.n END,
           CASE WHEN p.acc + po.n > 256 AND p.acc > 0 THEN p.bin + 1
                ELSE p.bin END
         FROM pack p JOIN po ON po.lang = p.lang AND po.rn = p.rn + 1)
       SELECT lang, doc_id, bin FROM pack""") { (s, d) =>
    import graft.operators.Bpe
    val docs = t(s, d, "documents")
    val withN = docs.select("doc_id", "lang")
      .join(Bpe.encodeTokenCountsFromIndex(docs, "text", "doc_id",
        bpeIndexDir(s, d)), "doc_id")
    graft.operators.Packing.packSequences(withN, "lang", "doc_id",
      "n_bpe_tokens", budget = 256L)
  }

  // Connected components over the near-dup graph: the transitive grouping
  // d7's one-hop greedy approximates, labeled min-id-per-component. Spark
  // side is min-label propagation (one edge⋈label join + min-agg per round,
  // O(diameter) rounds); the oracle is a DuckDB RECURSIVE CTE transitive
  // closure — two entirely different fixpoint computations agreeing
  // row-for-row on all 500 docs.
  define("d8_connected_components",
    """WITH RECURSIVE
       w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
             FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 1),
           i -> wds[i] || ' ' || wds[i+1])) AS sh FROM w),
       e0 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
              WHERE a.doc_id < b.doc_id
                AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                      AS DOUBLE) >= 0.5),
       edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
       )
       SELECT src AS doc_id, min(dst) AS component FROM reach
       GROUP BY src ORDER BY doc_id""") { (s, d) =>
    import graft.operators.Dedup
    val docs = t(s, d, "documents")
    val edges = Dedup.ngramJaccard(docs, "text", "doc_id",
      threshold = 0.5, shingleSize = 2, maxDf = 1000000L)
    Dedup.connectedComponents(docs.select("doc_id"), edges,
        "doc_id", "a_id", "b_id")
      .orderBy("doc_id")
  }

  // Quality-aware cluster collapse: each near-dup cluster keeps its
  // LONGEST member (ties → smaller id) instead of an arbitrary min-id one
  // — near-dup copies usually differ by truncation, so curation retains
  // the fullest. Engine argmax is min(struct(-score, id)) — a plain
  // map-side-combined aggregate, no per-cluster sort; the oracle ranks
  // with a row_number window over the same recursive-CTE components.
  // Shared verbatim by d17 (label-propagation CC) and d18 (star-
  // contraction CC): BOTH fixpoints converge to min-id component labels,
  // so the grouping — and therefore the best-of selection — is identical
  // by construction, and one transitive-closure oracle checks both.
  private val bestOfClusterSql: String =
    """WITH RECURSIVE
       w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds
             FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 1),
           i -> wds[i] || ' ' || wds[i+1])) AS sh FROM w),
       e0 AS (SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
              WHERE a.doc_id < b.doc_id
                AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                      AS DOUBLE) >= 0.5),
       edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       reach(src, dst) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
       ),
       comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach
                GROUP BY src),
       t AS (SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens
             FROM documents),
       m AS (SELECT c.component, t.doc_id, t.n_tokens,
               row_number() OVER (PARTITION BY c.component
                 ORDER BY t.n_tokens DESC, t.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.component) AS n_members
             FROM comp c JOIN t USING (doc_id))
       SELECT doc_id, n_tokens, component,
         CAST(n_members AS BIGINT) AS n_members
       FROM m WHERE rn = 1"""

  private def bestOfCluster(s: SparkSession, d: String, algorithm: String,
                            localBound: Int = graft.operators.LocalRowBound)
      : DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, d, "documents")
    val scored = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    val edges = Dedup.ngramJaccard(docs, "text", "doc_id",
      threshold = 0.5, shingleSize = 2, maxDf = 1000000L)
    Dedup.keepBestOfCluster(scored, "doc_id", "n_tokens", edges,
      "a_id", "b_id", algorithm = algorithm, localBound = localBound)
      .select("doc_id", "n_tokens", "component", "n_members")
  }

  define("d17_best_of_cluster", bestOfClusterSql) { (s, d) =>
    bestOfCluster(s, d, "label")
  }

  // The star-contraction serving form (Kiveris'14 two-phase star): the
  // O(log n)-round CC the crossover table (NOTES r10) recommends for
  // UNKNOWN graph topology — label propagation's O(diameter) rounds lose
  // 5.5× already at diameter 200, while near-dup clusters (tiny diameter)
  // favor label's smaller per-round shuffle. Benched alongside d17 so the
  // round-over-round numbers carry BOTH defaults. Bound 0: d17's graph
  // is answered on the driver, so this gate keeps star contraction
  // itself under the oracle.
  define("d18_best_of_cluster_star", bestOfClusterSql) { (s, d) =>
    bestOfCluster(s, d, "star", localBound = 0)
  }

  // AS-OF join: each click attached to the user's most recent
  // prior-or-simultaneous purchase — the point-in-time feature join. Spark
  // side is the union–sort operator (one shuffle, one Window pass); oracle
  // is DuckDB's NATIVE ASOF JOIN, so the two independent formulations must
  // agree row-for-row. Purchases are pre-aggregated to one row per
  // (user, ts) to make tie-breaks well-defined in both engines.
  define("q36_asof_join",
    """WITH purchases AS (
         SELECT user_id, ts, max(value) AS purchase_value
         FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
       ), clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
       )
       SELECT c.event_id, c.user_id,
              round(p.purchase_value, 2) AS last_purchase
       FROM clicks c ASOF JOIN purchases p
         ON c.user_id = p.user_id AND c.ts >= p.ts
       ORDER BY c.event_id""") { (s, d) =>
    import graft.operators.AsOf
    val ev = t(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
    AsOf.join(clicks, purchases, "user_id", "ts", Seq("purchase_value"))
      .filter(col("purchase_value").isNotNull) // inner ASOF semantics
      .select(col("event_id"), col("user_id"),
        round(col("purchase_value"), 2).as("last_purchase"))
      .orderBy("event_id")
  }

  // Bounded AS-OF: a purchase only counts while it is ≤ 1 hour old at click
  // time (expired snapshots → null, filtered here = bounded-inner). Spark
  // computes it as the same one-shuffle union–sort fill plus an age
  // null-out; the oracle is a correlated max-ts subquery with the age
  // predicate — again two independent formulations.
  define("q37_asof_bounded",
    """WITH purchases AS (
         SELECT user_id, ts, max(value) AS pv
         FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
       ), clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
       ), best AS (
         SELECT c.event_id, c.user_id,
           (SELECT max(p.ts) FROM purchases p
            WHERE p.user_id = c.user_id AND p.ts <= c.ts
              AND p.ts >= c.ts - INTERVAL 1 HOUR) AS pts
         FROM clicks c)
       SELECT b.event_id, b.user_id, round(p.pv, 2) AS recent_purchase
       FROM best b JOIN purchases p
         ON p.user_id = b.user_id AND p.ts = b.pts
       ORDER BY b.event_id""") { (s, d) =>
    import graft.operators.AsOf
    // normalize ts to epoch-nanos up front: joinWithin's freshness check
    // subtracts ts values and compares to maxAge, which needs a numeric ts
    // under either physical encoding (ns-long / µs-timestamp)
    val ev0 = t(s, d, "events")
    val ev = ev0.withColumn("ts", graft.Tables.tsNanos(ev0))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("pv"))
    AsOf.joinWithin(clicks, purchases, Seq("user_id"), "ts", Seq("pv"),
        maxAge = 3600L * 1000000000L) // 1 h in nanos (ts normalized above)
      .filter(col("pv").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("pv"), 2).as("recent_purchase"))
      .orderBy("event_id")
  }

  // Point-in-interval (range) join, bucketed: every click inside the
  // 30-minute attribution window preceding a same-user purchase. The SQL
  // oracle is the inequality theta join; the engine runs the bucketed
  // equi-join (IntervalJoin: intervals explode into ≤2 bucket replicas,
  // the join is a plain hash join on (user, bucket) AQE can broadcast or
  // skew-split, exact containment re-checked after) — the shape that
  // survives hot users at 100 TB where the theta join explodes
  // quadratically per key.
  define("q43_interval_join",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts""") { (s, d) =>
    import graft.operators.IntervalJoin
    val ev0 = t(s, d, "events")
    val ev = ev0.withColumn("ts", graft.Tables.tsNanos(ev0))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val windowNanos = 1800L * 1000000000L // 30 min
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (col("ts") - lit(windowNanos)).as("w_start"), col("ts").as("w_end"))
    IntervalJoin.pointInInterval(clicks, purchases, Seq("user_id"), "ts",
        "w_start", "w_end", bucketWidth = windowNanos)
      .select("click_id", "purchase_id")
  }

  // Saved-layout story: hive-partitioned parquet write → partition-pruned
  // read. At 100 TB the WHERE on the partition column resolves against
  // directory metadata — only the matching partition's files are listed and
  // scanned, the other ~4/5 of the data is never touched (pruning pinned in
  // PlanSpec). The reference has no layout concept (one file per table).
  define("src_partitioned_prune",
    """SELECT count(*) AS cnt, round(sum(value), 2) AS total,
       min(event_id) AS min_id
       FROM events WHERE event_type = 'click'""") { (s, d) =>
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_").toString
    t(s, d, "events").select("event_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    s.read.parquet(tmp).filter(col("event_type") === "click")
      .agg(count(lit(1)).as("cnt"),
        round(sum("value"), 2).as("total"),
        min("event_id").as("min_id"))
  }

  // K2 same-host half: capsule-style zero-copy handoff — Spark's internal
  // Arrow serializer feeds an in-task consumer whose VectorSchemaRoot wraps
  // the deserialized buffers directly (the distributed analog of the
  // reference's shm/capsule export, `/root/reference/src/arrow_utils.cpp:
  // 37-94`). The aggregate runs AFTER the round-trip, so the oracle match
  // proves the data survived the handoff intact.
  define("src_arrow_handoff",
    """SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
       min(o_orderstatus) AS min_status
       FROM orders WHERE o_totalprice > 50000""") { (s, d) =>
    import graft.sources.ArrowHandoff
    val src = t(s, d, "orders").filter(col("o_totalprice") > 50000)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    ArrowHandoff.roundTrip(s, src)
      .agg(count(lit(1)).as("cnt"),
        round(sum("o_totalprice"), 2).as("total"),
        min("o_orderstatus").as("min_status"))
  }

  // ==================================================================
  // Structured Streaming (§2.9 E4 / §3.3): chunked out-of-core shape
  // ==================================================================

  // S3/E4 faithfully: CHUNKED CSV streaming — CSV parts streamed one file
  // per micro-batch (the reference's rows_per_chunk loop,
  // `/root/reference/src/warpdb.cpp:544-590`), stateless per chunk, ordered
  // append, aggregated at the end for the oracle compare.
  define("st4_stream_csv",
    """SELECT count(*) AS cnt, round(sum(l_quantity), 1) AS sum_qty
       FROM lineitem WHERE l_quantity > 30""") { (s, d) =>
    graft.streaming.Streaming.chunkedCsv(s, d, "st4_out")
  }

  define("st1_stream_agg",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY event_type""") { (s, d) =>
    graft.streaming.Streaming.eventTypeAgg(s, d, "st1_out")
  }

  define("st2_stream_window",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2""") { (s, d) =>
    graft.streaming.Streaming.hourlyWindowAgg(s, d, "st2_out")
  }

  // Semi-structured JSON column: parse once with an explicit schema
  // (from_json — codegen'd, no UDF), then aggregate the typed field.
  define("q29_json_props",
    """SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       count(*) AS cnt,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         / CAST(count(*) AS DOUBLE) AS avg_k
       FROM events GROUP BY event_type""") { (s, d) =>
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))).getField("k")
    t(s, d, "events").select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), count(lit(1)).as("cnt"),
        (sum("k") / count(lit(1)).cast("double")).as("avg_k"))
  }

  // Batch sessionization (lag + cumulative flag — the window-function way);
  // 30-minute gap. ts is long nanos on the Spark side, TIMESTAMP_NS in
  // DuckDB → epoch_ns() aligns them.
  define("st5_sessionize",
    """SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
         SELECT user_id,
           CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
             > 1800000000000 OR lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL
           THEN 1 ELSE 0 END AS is_new
         FROM events)
       GROUP BY user_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = t(s, d, "events")
    // epoch-nanos view: the 30-min gap constant is in nanos, and the gate
    // must hold under either ts physical encoding (ns-long / µs-timestamp)
    ev.select(col("user_id"), col("event_id"),
        graft.Tables.tsNanos(ev).as("ts"))
      .withColumn("is_new",
        when(col("ts") - lag("ts", 1).over(w) > 1800000000000L ||
          lag("ts", 1).over(w).isNull, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("is_new").as("n_sessions"))
  }

  // Same sessionization through flatMapGroupsWithState (custom streaming
  // state). Its output is provably identical to the batch window-function
  // formulation (equivalence also asserted in PipelineSpec), so st5's SQL
  // oracle applies verbatim — session counts depend only on sorted per-user
  // gap structure, which both formulations share.
  define("st6_sessionize_stateful",
    """SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
         SELECT user_id,
           CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
             > 1800000000000 OR lag(epoch_ns(ts)) OVER
             (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) IS NULL
           THEN 1 ELSE 0 END AS is_new
         FROM events)
       GROUP BY user_id""") { (s, d) =>
    graft.streaming.Streaming.sessionizeStateful(s, d, "st6_out")
  }

  // Stream-stream time-range join (bounded state via dual watermarks).
  // Streaming exact-dedup: dropDuplicates state = one 8-byte fingerprint
  // per distinct content; append emits first-seen docs. The deterministic
  // check is the distinct-content count (equal to the batch d1 group count).
  define("st8_stream_dedup",
    """SELECT count(DISTINCT trim(regexp_replace(regexp_replace(lower(text),
       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_distinct
       FROM documents""") { (s, d) =>
    graft.streaming.Streaming.streamingDedup(s, d, "st8_out")
  }

  define("st7_stream_join",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c JOIN events p ON c.user_id = p.user_id
       WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) > epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000""") { (s, d) =>
    graft.streaming.Streaming.clickToPurchaseJoin(s, d, "st7_out")
  }

  define("st3_stream_filter",
    """SELECT event_id, user_id, value FROM events
       WHERE event_type = 'purchase' AND value > 50""") { (s, d) =>
    graft.streaming.Streaming.statelessFilter(s, d, "st3_out")
  }

  // Streaming near-dup: candidates generated ONLINE by the stateful
  // band-bucket stream (identical sketch kernel → identical candidate set
  // as d2's batch self-join), then exact-verified in batch — so the d2
  // oracle applies verbatim to an online pipeline.
  define("st10_stream_neardup",
    """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wds FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh FROM w)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
       FROM sh a, sh b
       WHERE a.doc_id < b.doc_id
         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             >= 0.5""") { (s, d) =>
    val cands = graft.streaming.Streaming
      .streamingNearDupCandidates(s, d, "st10_out")
    graft.operators.Dedup.verifyCandidates(t(s, d, "documents"), cands,
      "text", "doc_id", threshold = 0.5)
  }

  // Streaming curation: the BATCH curation Columns (quality, langid,
  // redaction) applied unchanged to a document stream — the oracle is the
  // same batch SQL as p1/t9's stages, so the hash match certifies
  // streaming ≡ batch semantics row for row.
  // Streaming LM scoring ≡ batch t10, certified by the SAME oracle SQL:
  // the unigram model trains once on the static corpus, each arriving
  // micro-batch scores its own documents via foreachBatch (per-doc token
  // aggregation is complete within a batch because a document IS one row)
  // with the vocab joined in as a broadcast static frame.
  define("st11_stream_lm",
    """WITH tok AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
       vocab AS (SELECT w, sum(tf) AS c FROM tf GROUP BY w),
       tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab)
       SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         round(sum(tf.tf * ln(CAST(vocab.c AS DOUBLE) / tot.n))
               / CAST(sum(tf.tf) AS DOUBLE), 6) AS lm_logprob
       FROM tf JOIN vocab USING (w) CROSS JOIN tot
       GROUP BY tf.doc_id""") { (s, d) =>
    graft.streaming.Streaming.streamingLmScore(s, d, "st11")
  }

  // Streaming ANN serving: query vectors arrive as a stream and each
  // micro-batch probes the SAME persisted IVF index (built once, before
  // the stream). Per-query independence makes the micro-batch union equal
  // the full-batch answer, so s11's brute-force-equality oracle transfers
  // verbatim (nprobe = cells covers every corpus row).
  define("st12_stream_ann",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    graft.streaming.Streaming.streamingAnnFromIndex(s, d, "st12")
  }

  // Streaming ANN with the index lifecycle interleaved per micro-batch
  // (serve-while-ingest): first corpus batch BUILDS the persisted IVF
  // index, later batches drift-check + frozen-centroid APPEND, and every
  // batch serves the fixed queries against all vectors ingested so far —
  // later batches retrieve earlier batches' vectors. Each serve
  // overwrites the output, so the surviving answer is the full-corpus
  // one regardless of batch order, and at nprobe = cells it provably
  // equals brute force whatever batch trained the centroids — s11's
  // oracle transfers exactly.
  define("st14_stream_ann_ingest",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    graft.streaming.Streaming.streamingAnnIngestServe(s, d, "st14")
  }

  // The st14 build/append/serve lifecycle over the SQ8 byte-code index:
  // batch 1 trains bounds + builds, later batches frozen-bounds append
  // (out-of-range clamps), every batch re-serves the fixed queries. The
  // surviving (last) serve covers the full corpus and the blanket exact
  // re-rank makes bounds/clamp history irrelevant — the s16 oracle
  // transfers with NO probe caveat at all.
  define("st22_stream_sq8",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    graft.streaming.Streaming.streamingSq8IngestServe(s, d, "st22")
  }

  // st22 under DISTRIBUTION DRIFT: a shape-shifted slice (dimension 0
  // spiked — s18's finding: drift probes must change vector SHAPE, a
  // uniform offset vanishes under unit norm) arrives via restart. The
  // drift-gated append must flag exactly that batch against the
  // threshold STORED at build (the gate requires the flag pattern —
  // silent drift fails loudly), and the frozen-bounds append must still
  // serve exactly: clamped codes only perturb approximate candidate
  // order, the blanket re-rank sees true vectors — so brute force over
  // the corpus WITH the spiked vectors is the oracle, verbatim.
  // Streaming per-lang φ-frequent n-grams — the grouped MG triad's
  // streaming rung (one-shot t41 / store t44 / this): per-trigger
  // per-group summaries fold into bounded durable driver state
  // (groups × m entries, generation-committed, last_batch-watermarked),
  // the serve recounts the candidate union exactly per (lang, gram)
  // against per-lang thresholds from the durable totals — batch
  // boundaries, merge order, and replays never reach the output, so
  // t41's oracle transfers verbatim.
  define("st28_stream_hh_by_lang", hhByLangOracleSql) { (s, d) =>
    graft.streaming.Streaming.streamingHeavyHittersByGroup(s, d, "st28")
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  // Streaming per-lang Count-Min — the grouped CM triad's streaming
  // rung (one-shot t43 / store t46 / this): per-trigger grouped counter
  // tables append under batch-id slice keys; per-group linearity makes
  // the deduped-and-summed store equal the one-shot grouped build bit
  // for bit, so t43's oracle transfers with no recount step.
  define("st29_stream_cm_by_lang", cmByLangOracleSql) { (s, d) =>
    graft.streaming.Streaming.streamingCountMinByGroup(s, d, "st29")
      .select(col("group").as("lang"), col("item").as("gram"), col("est"))
  }

  define("st27_stream_sq8_drift",
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id AS n_id,
               CASE WHEN vec_id % 4 = 1
                 THEN list_concat([CAST(6.0 AS FLOAT)], embedding[2:])
                 ELSE embedding END AS nv
             FROM embeddings WHERE vec_id >= 5)
       SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
         FROM q, c) WHERE rank <= 5""") { (s, d) =>
    graft.streaming.Streaming.streamingSq8DriftServe(s, d, "st27")
  }

  // Streaming KMV distinct sketching: per-trigger batch sketches merge
  // into a durable |groups|·k-long state table — KMV's closure under
  // union (PipelineSpec pin) makes the merged stream answer equal the
  // one-shot batch sketch whatever the batch boundaries, so t33's oracle
  // applies verbatim. Completes the KMV triad (batch / set-ops /
  // streaming).
  // Streaming φ-frequent n-grams: per-trigger MG summaries fold into
  // bounded durable driver state (Agarwal'12 mergeability), and the
  // final serve recounts the merged candidates exactly over the
  // ingested corpus — batch boundaries and merge order never reach the
  // output, so t38's oracle transfers verbatim. Completes the heavy-
  // hitters triad (one-shot t38 / persisted t39 / streaming).
  define("st25_stream_heavy_hitters", hhOracleSql) { (s, d) =>
    graft.streaming.Streaming.streamingHeavyHitters(s, d, "st25")
  }

  // Streaming Count-Min: per-trigger counter tables append to the
  // persisted store; linearity makes sum-at-read ≡ the one-shot build
  // bit for bit, so t40's oracle transfers with NO recount step. The
  // driver holds zero state — restart safety falls out of the store.
  define("st26_stream_countmin", cmOracleSql) { (s, d) =>
    graft.streaming.Streaming.streamingCountMin(s, d, "st26")
  }

  // Streaming exact quantile: per-batch histogram slices appended under
  // batch-id keys (linear merge ≡ one-shot histogram), serve continues
  // the refinement from the stored exact rank prefix — the answer IS
  // the one-shot exact median, so t48's oracle transfers verbatim.
  define("st30_stream_quantile", quantileByLangSql) { (s, d) =>
    graft.streaming.Streaming.streamingQuantile(s, d, "st30")
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
  }

  define("st23_stream_kmv", kmvVocabSql) { (s, d) =>
    graft.streaming.Streaming.streamingKmv(s, d, "st23", k = 32)
  }

  // COMPACTION inside the streaming lifecycle (round-13): session 1
  // streams the even half into the histogram store; at the quiesce
  // point between sessions the store is folded to one slice
  // (SketchStore.compact — the nightly-maintenance shape); session 2
  // restarts from the same checkpoint and streams the odd half ON TOP
  // of the fold. The committed per-batch watermark is what makes this
  // safe: a replay of a folded batch is skipped wholesale (its slice
  // id no longer exists for the dedup to collapse — pinned with real
  // replay debris in StreamingSpec). Linear merges make fold + new
  // slices ≡ one-shot histogram of the union, so the served median is
  // the exact full-corpus answer and t48's oracle transfers verbatim.
  define("st32_stream_quantile_compacted", quantileByLangSql) { (s, d) =>
    import graft.operators.SketchStore
    import graft.streaming.Streaming
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_st32_")
    val docs = t(s, d, "documents")
    docs.filter(col("doc_id") % 2 === 0).repartition(2)
      .write.parquet(base.resolve("ingest").toString)
    Streaming.streamingQuantile(s, d, "st32a",
      baseDir = Some(base.toString))
    SketchStore.compact(s, base.resolve("qstore").toString)
    docs.filter(col("doc_id") % 2 =!= 0).repartition(2)
      .write.mode("append").parquet(base.resolve("ingest").toString)
    Streaming.streamingQuantile(s, d, "st32b",
        baseDir = Some(base.toString))
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
  }

  // AUTO-compaction cadence (round-14): the store-backed writer folds
  // its OWN store mid-stream once the live slice count reaches the
  // threshold — compaction as part of the ingest lifecycle, not a
  // separate maintenance window. Safe by construction at this call
  // point: single-writer holds (the compactor IS the stream's writer)
  // and the batch's watermark was committed a moment earlier, so the
  // replay guard is trivially clean. With 4 ingest files and threshold
  // 2 the fold fires repeatedly DURING the stream; linear merges keep
  // every fold invisible, so t48's oracle transfers verbatim — and the
  // gate requires the cadence to have actually fired (the live hist
  // table must be a compaction generation, not the builder dir).
  define("st33_stream_quantile_autocompact", quantileByLangSql) { (s, d) =>
    import graft.operators.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_st33_")
    val out = graft.streaming.Streaming.streamingQuantile(s, d, "st33",
        baseDir = Some(base.toString), compactSliceThreshold = 2)
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
    val live = java.nio.file.Paths
      .get(Store.resolveDataDir(
        base.resolve("qstore").toString, "hist"))
      .getFileName.toString
    require(live.startsWith("hist.g"),
      s"auto-compaction never fired mid-stream: live dir is $live")
    out
  }

  // Persisted KMV sketches (operators.Sketches): build on the even-id
  // half, APPEND the odd half's independently-sketched rows (append-only
  // writes — closure under union means the reader merges per group by
  // re-sketching, no read-modify-write anywhere), load and estimate.
  // By closure the loaded sketch equals the one-shot whole-corpus
  // sketch, so t33's oracle applies verbatim once more.
  define("t36_kmv_persisted", kmvVocabSql) { (s, d) =>
    import graft.functions.{KmvSketch, TextFunctions => TFx}
    import graft.operators.{spread, Sketches}
    val k = 32
    def sk(docFilter: org.apache.spark.sql.Column) =
      spread(t(s, d, "documents").filter(docFilter)
        .select(col("lang"), col("text")))
        .select(col("lang"),
          explode(TFx.shingles(col("text"), 3)).as("gram"))
        .select(col("lang"), KmvSketch.portableHash60(col("gram")).as("h"))
        .groupBy("lang").agg(KmvSketch.kmvSketch(col("h"), k).as("sk"))
    val dir = sessionIndexDir(s"kmv_$d") { p =>
      Sketches.saveKmvSketches(sk(col("doc_id") % 2 === 0),
        "lang", "sk", s"$p/kmv", k)
      Sketches.appendKmvSketches(sk(col("doc_id") % 2 === 1),
        "lang", "sk", s"$p/kmv", k)
    }
    graft.operators.Sketches.loadKmvSketches(s, s"$dir/kmv")
      .select(col("group").as("lang"),
        size(col("sk")).cast("long").as("n_kept"),
        KmvSketch.estimate(col("sk"), k).as("est_phrases"))
  }

  // Streaming corpus-wide line dedup: the persisted line-hash index is
  // the cross-batch state (dedup-against-history, then append — 8 B per
  // distinct line on durable storage, not in the state store). Id-ordered
  // batch replay provably equals full-batch keepFirstLines (PipelineSpec
  // 3-batch replay), so d11's oracle transfers to the stream verbatim.
  // Shared by st13 and st34 (auto-compacted index — folds rewrite
  // byte-equal hash rows, so the dedup answer is untouched).
  private val streamLineDedupSql: String =
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       l0 AS (
         SELECT doc_id, w,
           unnest(generate_series(0,
             CAST(ceil(len(w) / 5.0) AS INT) - 1)) AS g
         FROM toks),
       lines AS (
         SELECT doc_id, g AS pos,
           array_to_string(w[g*5+1 : g*5+5], ' ') AS line
         FROM l0),
       ranked AS (
         SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         FROM lines)
       SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       FROM ranked WHERE rn = 1 GROUP BY doc_id"""

  define("st13_stream_line_dedup", streamLineDedupSql) { (s, d) =>
    graft.streaming.Streaming.streamingLineDedup(s, d, "st13")
  }

  // AUTO-compaction inside the line-dedup stream (round-15): st33 gave
  // the cadence to the SLICE stores; the line-hash index is the other
  // unbounded-growth streaming state — every trigger appends hash part
  // files, and at production cadence the per-trigger anti-join pays a
  // growing listing/footer tax. Here the appender folds its OWN index
  // inside its trigger once the live table reaches the part-file
  // threshold (single-writer by identity; hash rows are byte-equal
  // across a fold, and membership is join-checked, so folds are
  // invisible to the dedup answer — st13's oracle verbatim). The gate
  // REQUIRES the fold to have fired mid-stream.
  define("st34_stream_line_dedup_autocompact", streamLineDedupSql) { (s, d) =>
    import graft.operators.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_st34_")
    val out = graft.streaming.Streaming.streamingLineDedup(s, d, "st34",
      baseDir = Some(base.toString), compactFileThreshold = 2)
    val live = java.nio.file.Paths
      .get(Store.resolveDataDir(
        base.resolve("lineidx").toString, "lines"))
      .getFileName.toString
    require(live.startsWith("lines.g"),
      s"auto-compaction never fired mid-stream: live dir is $live")
    out
  }

  // Streaming substring dedup: the persisted window-hash index is the
  // cross-batch state (spans-against-history, then append). Id-ordered
  // batch replay provably equals full-batch duplicateWindowSpans
  // (PipelineSpec replay pin), so d14's oracle shape — here over the raw
  // corpus, natural repeats only — transfers to the stream verbatim.
  // Shared by st15 and st35 (auto-compacted window index — `wins`
  // joined compactIndex's sub list this round; folds rewrite byte-equal
  // hash rows, so the span answer is untouched).
  private val streamSpanDedupSql: String =
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
         FROM documents),
       wins AS (
         SELECT doc_id, pos, array_to_string(w[pos+1 : pos+8], chr(1)) AS gram
         FROM (SELECT doc_id, w,
                 unnest(generate_series(0, len(w) - 8)) AS pos
               FROM toks)),
       dup AS (
         SELECT doc_id, pos FROM (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gram) AS c,
             min(doc_id * 1073741824 + pos) OVER (PARTITION BY gram) AS wmin
           FROM wins)
         WHERE c > 1 AND doc_id * 1073741824 + pos <> wmin),
       isl AS (
         SELECT doc_id, pos,
           CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             -1) THEN 1 ELSE 0 END AS ni
         FROM dup),
       grp AS (
         SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         FROM isl)
       SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         CAST(max(pos) + 8 - min(pos) AS INT) AS span_len
       FROM grp GROUP BY doc_id, g"""

  define("st15_stream_span_dedup", streamSpanDedupSql) { (s, d) =>
    graft.streaming.Streaming.streamingSpanDedup(s, d, "st15")
  }

  // AUTO-compaction inside the span-dedup stream (round-15): the
  // st34 cadence for the WINDOW-hash index — which could not even be
  // compacted manually before this round (`wins` was missing from
  // compactIndex's sub list while the append's scaladoc claimed
  // otherwise). The appender folds its own index inside its trigger at
  // the part-file threshold; membership is join-checked over byte-equal
  // hash rows, so folds are invisible and st15's oracle transfers
  // verbatim. The gate REQUIRES the fold to have fired mid-stream.
  define("st35_stream_span_dedup_autocompact", streamSpanDedupSql) { (s, d) =>
    import graft.operators.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_st35_")
    val out = graft.streaming.Streaming.streamingSpanDedup(s, d, "st35",
      baseDir = Some(base.toString), compactFileThreshold = 2)
    val live = java.nio.file.Paths
      .get(Store.resolveDataDir(
        base.resolve("winidx").toString, "wins"))
      .getFileName.toString
    require(live.startsWith("wins.g"),
      s"auto-compaction never fired mid-stream: live dir is $live")
    out
  }

  // Streaming URL-frontier dedup (round-15): p19's canonical-URL
  // keep-first made incremental — the shape a real crawl runs (the
  // frontier arrives in batches; a page already fetched under SOME
  // spelling must never be kept again). Cross-batch state is the
  // persisted claim index (8-byte hashes, O(distinct pages) at any
  // corpus size; the corpus never shuffles), and the appender folds
  // its OWN index at the part-file threshold — the st33 cadence, gate-
  // required to have fired. Id-ordered batch replay provably equals
  // the full-batch min-per-canon form (keep-first is order-
  // deterministic; PipelineSpec pins the replay), so the p19-style
  // grouped oracle transfers verbatim.
  define("st36_stream_url_dedup",
    s"""WITH urls AS (SELECT doc_id, $urlFrontierSql AS url
         FROM documents),
       c AS (SELECT doc_id,
               ${graft.operators.UrlCanon.canonicalizeUrlSql("url")}
                 AS canon_url
             FROM urls)
       SELECT min(doc_id) AS doc_id, canon_url
       FROM c GROUP BY canon_url""") { (s, d) =>
    import graft.operators.Similarity
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_st36_")
    val out = graft.streaming.Streaming.streamingUrlDedup(s, d, "st36",
      urlFrontierCol, baseDir = Some(base.toString),
      compactFileThreshold = 2)
    val live = java.nio.file.Paths
      .get(Store.resolveDataDir(
        base.resolve("urlidx").toString, "urls"))
      .getFileName.toString
    require(live.startsWith("urls.g"),
      s"auto-compaction never fired mid-stream: live dir is $live")
    out
  }

  // Streaming classifier serving ≡ batch t14, certified by the SAME
  // oracle SQL: the NB model trains and persists once (shared with t14's
  // per-JVM model dir), the document stream scores each micro-batch
  // against the loaded model via foreachBatch. Per-document independence
  // makes the micro-batch union equal the full-batch answer.
  define("st16_stream_classify",
    """WITH ttok AS (
         SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents WHERE doc_id < 400),
       cond AS (SELECT lang AS y, w, count(*) AS c FROM ttok GROUP BY lang, w),
       cls AS (SELECT lang AS y, count(*) AS n_docs FROM documents
               WHERE doc_id < 400 GROUP BY lang),
       ntok AS (SELECT y, sum(c) AS n_tok FROM cond GROUP BY y),
       v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM cond),
       tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS nd FROM cls),
       stok AS (
         SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
         FROM documents WHERE doc_id >= 400),
       tf AS (SELECT doc_id, w, count(*) AS tf FROM stok GROUP BY doc_id, w),
       scored AS (
         SELECT tf.doc_id, cls.y,
           round(ln(CAST(cls.n_docs AS DOUBLE) / tot.nd)
             + sum(tf.tf * ln((coalesce(CAST(cond.c AS DOUBLE), 0.0) + 1.0)
                              / (CAST(ntok.n_tok AS DOUBLE) + v.v))), 6) AS score
         FROM tf CROSS JOIN cls CROSS JOIN tot CROSS JOIN v
         JOIN ntok ON ntok.y = cls.y
         LEFT JOIN cond ON cond.y = cls.y AND cond.w = tf.w
         GROUP BY tf.doc_id, cls.y, cls.n_docs, tot.nd, ntok.n_tok, v.v)
       SELECT doc_id, y AS pred, score
       FROM (SELECT doc_id, y, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, y DESC) AS rn
             FROM scored)
       WHERE rn = 1""") { (s, d) =>
    import graft.operators.NaiveBayes
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"nbmodel_$d") { p =>
      NaiveBayes.save(
        NaiveBayes.train(docs.filter(col("doc_id") < 400), "text", "lang"),
        s"$p/model")
    }
    graft.streaming.Streaming.streamingNbClassify(s, d, "st16",
      s"$dir/model", col("doc_id") >= 400)
  }

  // Streaming BM25 serving ≡ batch r2, certified by the SAME oracle SQL:
  // the inverted index builds and persists once (shared with r2's per-JVM
  // index dir), the query stream scores each micro-batch against the
  // loaded postings via foreachBatch. Per-query independence makes the
  // micro-batch union equal the full-batch answer.
  define("st17_stream_bm25", bm25OracleSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"bm25_$d") { p =>
      graft.operators.Retrieval.buildBm25Index(docs, "text", "doc_id",
        s"$p/bm25")
    }
    graft.streaming.Streaming.streamingBm25(s, d, "st17", s"$dir/bm25",
      col("doc_id") % 97 === 0, k = 5)
  }

  // Streaming adaptive-quality filter ≡ batch t16, certified by the SAME
  // oracle SQL: the per-language thresholds compute once over the full
  // corpus and PERSIST (Quality.saveThresholds — curation config is
  // serving state), the document stream filters each micro-batch against
  // the frozen broadcast table. Per-document independence makes the
  // micro-batch union equal the full-batch answer.
  define("st18_stream_quality_filter",
    """WITH t AS (
         SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents),
       r AS (
         SELECT lang, n_tokens,
           row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
           count(*) OVER (PARTITION BY lang) AS cnt
         FROM t),
       thr AS (
         SELECT lang, min(n_tokens) AS thr
         FROM r WHERE rn >= ceil(0.25 * cnt) GROUP BY lang)
       SELECT doc_id, lang, n_tokens, thr
       FROM t JOIN thr USING (lang) WHERE n_tokens >= thr""") { (s, d) =>
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    val dir = sessionIndexDir(s"thr_$d") { p =>
      graft.operators.Quality.saveThresholds(
        graft.operators.Quality.perGroupThreshold(docs, "lang", "n_tokens",
          q = 0.25),
        s"$p/thr")
    }
    graft.streaming.Streaming.streamingQualityFilter(s, d, "st18",
      s"$dir/thr")
      .select("doc_id", "lang", "n_tokens", "thr")
  }

  // Streaming decontamination ≡ batch t21, certified by the SAME survivor
  // oracle: the eval-suite shingle index is frozen serving state (shared
  // with t22's per-JVM build), each micro-batch of training docs is
  // stripped against the broadcast postings. The train-side df guard is
  // off in the stream (batch df ≠ corpus df; see Streaming scaladoc), and
  // without it per-doc independence makes the micro-batch union equal the
  // full-batch answer.
  define("st19_stream_decontaminate", contamSurvivorsSql) { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"contam_$d") { p =>
      graft.operators.Decontaminate.buildIndex(
        docs.filter(col("doc_id") % 20 === 0), "text", "doc_id",
        s"$p/contam", shingleSize = 3, hashPostings = false)
    }
    graft.streaming.Streaming.streamingDecontaminate(s, d, "st19",
      s"$dir/contam", col("doc_id") % 20 =!= 0, threshold = 0.5)
  }

  // Streaming DSIR selection ≡ the batch threshold form, certified by the
  // same CTE chain: the λ model trains once over the full corpus and
  // persists (shared with t24's per-JVM build); each micro-batch keeps
  // docs whose Gumbel selection key clears τ = −3 (≈ the top quarter on
  // this corpus) in one zero-shuffle scan pass. The threshold form is
  // per-doc independent — micro-batch union ≡ full batch.
  define("st20_stream_dsir", dsirCtes +
    """
       SELECT doc_id, sel_key FROM sel WHERE sel_key >= -3.0""") { (s, d) =>
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"dsir_$d") { p =>
      graft.operators.Dsir.saveModel(
        graft.operators.Dsir.trainLogRatio(
          docs.filter(col("lang") === "en"), docs, "text"),
        s"$p/dsir")
    }
    graft.streaming.Streaming.streamingDsirSelect(s, d, "st20",
      s"$dir/dsir", tau = -3.0)
  }

  define("st9_stream_curate",
    """WITH q AS (
         SELECT doc_id, text,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) * 0.4
             + (CASE WHEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) > 0.1 THEN 0.0
                ELSE 1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(greatest(length(text), 1) AS DOUBLE) * 10.0 END) * 0.3
             + least(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                 w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS DOUBLE)
                 / greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3
           AS quality
         FROM documents),
       h AS (
         SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], w))) AS h_de,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS h_en,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['el','la','los','y','es','una','que','no'], w))) AS h_es,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['le','la','les','et','est','une','que','pas'], w))) AS h_fr,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             w -> list_contains(['de','le','shi','bu','wo','ni','ta','zai'], w))) AS h_zh
         FROM documents),
       l AS (
         SELECT doc_id,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'en'
                WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
                WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
                WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM h)
       SELECT q.doc_id, l.pred_lang, q.n_tokens,
         regexp_replace(regexp_replace(regexp_replace(q.text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
           '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '<PHONE>', 'g') AS clean
       FROM q JOIN l ON q.doc_id = l.doc_id
       WHERE q.quality >= 0.5""") { (s, d) =>
    graft.streaming.Streaming.streamingCurate(s, d, "st9_out")
  }

  // ==================================================================
  // Full-SQL passthrough (Engine.fullSql): what the faithful dialect
  // can't express. Same SQL text runs on both engines — Spark parses it
  // with Catalyst, DuckDB with its own parser — so these three entries
  // are true end-to-end ANSI-SQL conformance checks, not translations.
  // ==================================================================

  // Correlated scalar subquery (TPC-H Q17/Q22 shape). Catalyst
  // decorrelates it into an aggregate + join — no per-row re-execution,
  // so the 100 TB plan is one grouped aggregate over customer plus a
  // broadcast join back. Raw doubles pass through unrounded (no
  // accumulation reaches the output).
  define("q32_sql_correlated",
    """SELECT c_custkey, c_name, c_acctbal
       FROM customer c
       WHERE c_acctbal > 1.5 * (SELECT avg(c2.c_acctbal) FROM customer c2
                                WHERE c2.c_nationkey = c.c_nationkey)""") { (s, d) =>
    Engine.fullSql(s, d,
      """SELECT c_custkey, c_name, c_acctbal
         FROM customer c
         WHERE c_acctbal > 1.5 * (SELECT avg(c2.c_acctbal) FROM customer c2
                                  WHERE c2.c_nationkey = c.c_nationkey)""")
  }

  // CTE + two joins + multi-key ORDER BY (the dialect allows one sort
  // key; ANSI allows many). Ordering is total (s_name is unique), so the
  // LIMIT cut is deterministic on both engines; revenue is rounded
  // before the sort so both engines rank identical values.
  define("q33_sql_cte",
    """WITH rev AS (
         SELECT l_suppkey AS suppkey,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                count(*) AS cnt
         FROM lineitem GROUP BY l_suppkey)
       SELECT n_name, s_name, revenue, cnt
       FROM rev JOIN supplier ON s_suppkey = suppkey
                JOIN nation ON n_nationkey = s_nationkey
       ORDER BY revenue DESC, n_name, s_name
       LIMIT 20""") { (s, d) =>
    Engine.fullSql(s, d,
      """WITH rev AS (
           SELECT l_suppkey AS suppkey,
                  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                  count(*) AS cnt
           FROM lineitem GROUP BY l_suppkey)
         SELECT n_name, s_name, revenue, cnt
         FROM rev JOIN supplier ON s_suppkey = suppkey
                  JOIN nation ON n_nationkey = s_nationkey
         ORDER BY revenue DESC, n_name, s_name
         LIMIT 20""")
  }

  // EXISTS subquery (TPC-H Q4 shape, adapted to this schema). Catalyst
  // plans it as a left-semi join on l_orderkey with the discount filter
  // pushed to the lineitem scan — at scale the semi-join shuffles only
  // matching orderkeys, never lineitem rows.
  define("q34_sql_exists",
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
       GROUP BY o_orderpriority""") { (s, d) =>
    Engine.fullSql(s, d,
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
         GROUP BY o_orderpriority""")
  }

  // ------------------------------------------------------------------
  // Sketch-store COMPACTION (operators.SketchStore) — the lifecycle
  // rung the append-only stores were missing: at production cadence
  // the raw slice table grows without bound (every serve pays
  // |slices| x |groups| x bins rows of scan plus the small-file tax)
  // even though the folded answer is constant-sized. compact() folds
  // all slices into ONE in a fresh generation committed by atomic
  // pointer flip (the compactIndex discipline). Linear merges make
  // fold ≡ merge-at-read, so each family's store gate re-served from
  // a COMPACTED store must be hash-equal to its uncompacted sibling —
  // the oracles transfer verbatim (t55↔t36, t56↔t44, t57↔t46,
  // t58↔t49: four families, eight paths, four exact answers).
  // ------------------------------------------------------------------

  define("t55_kmv_compacted", kmvVocabSql) { (s, d) =>
    import graft.functions.{KmvSketch, TextFunctions => TFx}
    import graft.operators.{spread, SketchStore, Sketches}
    val k = 32
    def sk(docFilter: org.apache.spark.sql.Column) =
      spread(t(s, d, "documents").filter(docFilter)
        .select(col("lang"), col("text")))
        .select(col("lang"),
          explode(TFx.shingles(col("text"), 3)).as("gram"))
        .select(col("lang"), KmvSketch.portableHash60(col("gram")).as("h"))
        .groupBy("lang").agg(KmvSketch.kmvSketch(col("h"), k).as("sk"))
    val dir = sessionIndexDir(s"kmvc_$d") { p =>
      Sketches.saveKmvSketches(sk(col("doc_id") % 2 === 0),
        "lang", "sk", s"$p/kmv", k)
      Sketches.appendKmvSketches(sk(col("doc_id") % 2 === 1),
        "lang", "sk", s"$p/kmv", k)
      SketchStore.compact(s, s"$p/kmv")
    }
    graft.operators.Sketches.loadKmvSketches(s, s"$dir/kmv")
      .select(col("group").as("lang"),
        size(col("sk")).cast("long").as("n_kept"),
        KmvSketch.estimate(col("sk"), k).as("est_phrases"))
  }

  define("t56_frequent_compacted", hhByLangOracleSql) { (s, d) =>
    import graft.operators.{HeavyHitters, SketchStore, Sketches}
    val docs = t(s, d, "documents")
    val m = 2000 // the t44 capacity: m + 1 > 1/phi at phi = 0.0013
    val dir = sessionIndexDir(s"hhgc_$d") { p =>
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 2 === 0)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "even")
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(
          langGrams(docs.filter(col("doc_id") % 2 =!= 0)),
          "lang", "gram", m),
        "group", "summary", "n_items", s"$p/hh", m, sliceId = "odd")
      // compaction folds the two summaries per lang into one; the
      // deficit bound composes (Σ Nᵢ/(m+1)), so the candidate set
      // still covers every φ-frequent gram and the exact recount
      // serves the identical answer
      SketchStore.compact(s, s"$p/hh")
    }
    HeavyHitters.frequentItemsByGroupFromStore(
      langGrams(docs), "lang", "gram", s"$dir/hh", phi = 0.0013)
      .select(col("group").as("lang"), col("item").as("gram"), col("cnt"))
  }

  define("t57_countmin_compacted", cmByLangOracleSql) { (s, d) =>
    import graft.operators.{CountMin, SketchStore}
    val docs = t(s, d, "documents")
    val dir = sessionIndexDir(s"cmgc_$d") { p =>
      CountMin.saveCmGroups(
        CountMin.cmBuildByGroup(
          langGrams(docs.filter(col("doc_id") % 2 === 0)),
          "lang", "gram", 4, 1024),
        s"$p/cm", 4, 1024, sliceId = "even")
      CountMin.appendCmGroups(
        CountMin.cmBuildByGroup(
          langGrams(docs.filter(col("doc_id") % 2 =!= 0)),
          "lang", "gram", 4, 1024),
        s"$p/cm", 4, 1024, sliceId = "odd")
      // cell-wise sums are linear: the folded counter table IS the
      // one-shot build, so the estimates stay bit-identical
      SketchStore.compact(s, s"$p/cm")
    }
    val (counters, dp, w) = CountMin.loadCmGroups(s, s"$dir/cm")
    CountMin.cmEstimateByGroup(langProbes(docs), counters,
      "lang", "gram", dp, w)
      .select(col("group").as("lang"), col("item").as("gram"), col("est"))
  }

  define("t58_quantile_compacted", quantileByLangSql) { (s, d) =>
    import graft.operators.{Quantiles, SketchStore}
    val docs = t(s, d, "documents")
    val (lo, hi, bins) = (0.0, 256.0, 64) // the t49 narrow geometry
    val dir = sessionIndexDir(s"hqc_$d") { p =>
      Quantiles.saveHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 === 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "even")
      Quantiles.appendHistogram(
        Quantiles.histogramByGroup(docs.filter(col("doc_id") % 2 =!= 0),
          "lang", "n_chars", lo, hi, bins),
        s"$p/h", lo, hi, bins, sliceId = "odd")
      SketchStore.compact(s, s"$p/h")
    }
    Quantiles.quantileByGroupFromStore(docs, "lang", "n_chars",
        s"$dir/h", 0.5)
      .select(col("group").as("lang"), col("value").cast("long").as("p50"))
  }

  // ------------------------------------------------------------------
  // Representative-vocabulary (Zipf) bench twins — round-8 verdict #4,
  // carried to round-11 #4: the driver documents table has ~31 distinct
  // words, which makes every retrieval / contamination / heavy-hitter
  // number a fan-out WORST-CASE ceiling (every term a stopword,
  // candidate sets ≈ |Q|×|corpus|) — a 2× serve-path regression hides
  // inside that noise. These z* gates run the same serve paths on a
  // deterministic Zipf-vocabulary twin of the documents table (same
  // rows/doc_ids, text re-synthesized), where candidate sets are small
  // corpus fractions — the REPRESENTATIVE numbers, benched
  // round-over-round beside the adversarial originals.
  //
  // Round-13: the twins are now FULLY ORACLED (the r12 verdict's
  // rows-only soft spot). The original synthesis used xxhash64 + pow,
  // neither of which DuckDB replays (pow is not correctly rounded —
  // floor(pow(...)) can flip a word across engines at an integer
  // boundary). The portable rebuild: the log-uniform rank map is
  // QUANTIZED to a 1024-entry table computed ONCE in Scala
  // (floor(30000^((k+0.5)/1024))) and embedded as a literal array on
  // BOTH sides — no cross-engine pow at all — and the per-position
  // index is the repo's portable-hash idiom (first 3 hex digits of
  // md5, the Splits/CM discipline), so DuckDB reproduces every token.
  // Every 100th-ish train doc (doc_id % 100 = 57) copies the text of
  // eval doc (doc_id − 37) — planted leaks that give the containment
  // serve real flags to find (z2's answer is no longer trivially 0).
  // ------------------------------------------------------------------

  /** The quantized Zipf rank table: rank(k) = floor(V^((k+0.5)/1024)),
    * V = 30000 — density ∝ 1/rank across the table (Zipf s=1), byte-
    * stable, and shared verbatim with the oracle SQL as a literal. */
  private val zipfRanks: Seq[Long] =
    (0 until 1024).map(k =>
      math.floor(math.pow(30000.0, (k + 0.5) / 1024.0)).toLong)

  /** Mid-frequency query pairs for z1, drawn FROM the rank-table image
    * (ranks ~120-730: hit many docs, nowhere near all) — a term not in
    * the table image would match nothing and void the gate's point. */
  private val zipfQueries: Seq[(Long, String)] =
    (1 to 10).map { i =>
      (i.toLong, s"w${zipfRanks(455 + i * 20)} w${zipfRanks(560 + i * 9)}")
    }

  /** Zipf twin of `documents`: 60 tokens/doc, token = "w" + rank-table
    * lookup at the md5-derived index; doc_id % 100 = 57 rows take eval
    * doc (doc_id − 37)'s seed — full-text planted leaks.
    * MATERIALIZED (localCheckpoint, like the soak): the synthesis is an
    * interpreted HOF projection, and downstream shingle HOFs reference
    * `text` once per window position — CollapseProject would inline the
    * 60-element hash fold into EVERY reference (the BPE blow-up),
    * turning a serve bench into a synthesis bench (measured: z2 at
    * 14 s un-checkpointed vs the real serve cost). */
  private def zipfDocs(docs: DataFrame): DataFrame = {
    val wordsPerDoc = 60
    val rt = typedLit(zipfRanks)
    val seed = when(col("doc_id") % 100 === 57, col("doc_id") - 37)
      .otherwise(col("doc_id"))
    val idx = (pos: Column) =>
      conv(substring(md5(concat(lit("z"), seed.cast("string"), lit(":"),
        pos.cast("string"))), 1, 3), 16, 10).cast("int") % 1024
    graft.operators.spread(docs.select(col("doc_id")))
      .select(col("doc_id"), array_join(
        transform(sequence(lit(0), lit(wordsPerDoc - 1)),
          p => concat(lit("w"),
            element_at(rt, idx(p) + lit(1)).cast("string"))),
        " ").as("text"))
      .localCheckpoint(true)
  }

  /** The synthesized corpus as a DuckDB CTE — the exact zipfDocs rule:
    * same rank literal, same md5 index, same leak seeds. */
  private val zipfCte: String =
    s"""WITH rt AS (SELECT ${zipfRanks.mkString("[", ", ", "]")} AS r),
       zdocs AS (
         SELECT doc_id, array_to_string(list_transform(range(0, 60),
             p -> 'w' || CAST(r[(('0x' || substr(md5('z' ||
                    CAST(seed AS VARCHAR) || ':' || CAST(p AS VARCHAR)),
                    1, 3))::INT % 1024) + 1] AS VARCHAR)), ' ') AS text
         FROM (SELECT doc_id,
                 CASE WHEN doc_id % 100 = 57 THEN doc_id - 37
                      ELSE doc_id END AS seed
               FROM documents) CROSS JOIN rt)"""

  // BM25 serving at realistic term selectivity: mid-frequency query
  // terms hit many docs but nowhere near all — the postings the serve
  // joins are small corpus fractions, unlike r2's every-term-matches-
  // everything ceiling. Oracle = the r2 BM25 derivation over the
  // synthesized CTE (clean synthetic text makes the normalization a
  // plain space split on both sides); 2-term scores are sums of two
  // doubles (commutative in IEEE), so the 6dp rounding is engine-exact.
  define("z1_bm25_serve_zipf", zipfCte + s""",
       tok AS (SELECT doc_id AS n_id,
           unnest(regexp_split_to_array(text, ' ')) AS term FROM zdocs),
       tf AS (SELECT n_id, term, count(*) AS tf FROM tok
              GROUP BY n_id, term),
       dl AS (SELECT n_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
              GROUP BY n_id),
       dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                 FROM dl),
       qt AS (SELECT DISTINCT CAST(q_id AS BIGINT) AS q_id, term
              FROM (VALUES ${zipfQueries.flatMap { case (qid, qtext) =>
                qtext.split(" ").map { tm =>
                  // terms interpolate into SQL literals: a quote (or any
                  // non-alphanumeric) in a future synthesis would corrupt
                  // the oracle text silently — refuse it loudly here
                  require(tm.matches("[a-z0-9]+"),
                    s"zipf query term '$tm' is not alphanumeric — it " +
                      "cannot be interpolated into the oracle SQL")
                  s"($qid, '$tm')"
                }
              }.mkString(", ")}) AS t(q_id, term)),
       scored AS (
         SELECT qt.q_id, tf.n_id,
           round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6)
             AS score
         FROM qt JOIN tf USING (term)
         JOIN dfr USING (term)
         JOIN dl ON dl.n_id = tf.n_id
         CROSS JOIN stats
         GROUP BY qt.q_id, tf.n_id)
       SELECT q_id, n_id, rank, score FROM (
         SELECT q_id, n_id, score,
           CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY score DESC, n_id) AS INT) AS rank
         FROM scored)
       WHERE rank <= 10""") { (s, d) =>
    import s.implicits._
    import graft.operators.Retrieval
    val z = zipfDocs(t(s, d, "documents"))
    val dir = sessionIndexDir(s"zbm_$d") { p =>
      Retrieval.buildBm25Index(z, "text", "doc_id", s"$p/bm")
    }
    val queries = zipfQueries.toDF("q_id", "q_text")
    Retrieval.bm25TopKFromIndex(queries, s"$dir/bm", "q_text", "q_id",
      k = 10)
  }

  // Decontamination serving with a real vocabulary: trigram postings
  // match sparsely (random Zipf docs never reach 0.5 containment), so
  // the measured cost is posting-intersection volume, not the 31-word
  // everything-matches fan-out — and the planted doc_id%100=57 leaks
  // give the serve real flags (containment 1.0 against their eval
  // twins). String postings (hashPostings=false, the t22 discipline)
  // so the oracle reproduces the intersection counts exactly. Output
  // is a 1-row audit summary — deterministic, rows ≥ 1 for the smoke
  // check, and 0/0 at SFs too small to contain a planted leak.
  define("z2_contam_serve_zipf", zipfCte + """,
       zd AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS wds
              FROM zdocs),
       sh AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(wds) - 2),
           i -> wds[i] || ' ' || wds[i+1] || ' ' || wds[i+2])) AS sh
         FROM zd WHERE len(wds) >= 3),
       ev AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
       tr AS (SELECT * FROM sh WHERE doc_id % 20 != 0),
       pairs AS (SELECT tr.doc_id AS t_id, ev.doc_id AS e_id
         FROM ev, tr
         WHERE CAST(len(list_intersect(ev.sh, tr.sh)) AS DOUBLE)
           / len(ev.sh) >= 0.5)
       SELECT CAST(count(*) AS BIGINT) AS n_flagged,
         CAST(count(DISTINCT t_id) AS BIGINT) AS n_docs FROM pairs""") {
    (s, d) =>
    import graft.operators.Decontaminate
    val z = zipfDocs(t(s, d, "documents"))
    val dir = sessionIndexDir(s"zct_$d") { p =>
      Decontaminate.buildIndex(z.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", s"$p/ct", shingleSize = 3, hashPostings = false)
    }
    Decontaminate.flagFromIndex(z.filter(col("doc_id") % 20 =!= 0),
      s"$dir/ct", "text", "doc_id", threshold = 0.5)
      .agg(count(lit(1)).as("n_flagged"),
        countDistinct(col("t_id")).as("n_docs"))
  }

  // Heavy hitters over an OPEN-ish vocabulary (the case the sketch
  // exists for): ~600k distinct 2-grams at sf0.1 instead of 961 — the
  // MG candidate set is a tiny vocabulary fraction and the recount's
  // InSet filter actually prunes (the 31-word corpus keeps every gram).
  // Oracle = the t38 φ-frequent derivation over the synthesized CTE.
  define("z3_hh_frequent_zipf", zipfCte + """,
       w AS (SELECT regexp_split_to_array(text, ' ') AS wds FROM zdocs),
       g AS (SELECT array_to_string(wds[pos : pos + 1], ' ') AS gram
             FROM (SELECT wds,
                     unnest(generate_series(1, greatest(len(wds) - 1, 0)))
                       AS pos
                   FROM w)),
       tot AS (SELECT count(*) AS n FROM g)
       SELECT gram, CAST(count(*) AS BIGINT) AS cnt
       FROM g CROSS JOIN tot
       GROUP BY gram, n
       HAVING count(*) >= CAST(ceil(0.001 * n) AS BIGINT)""") { (s, d) =>
    graft.operators.HeavyHitters.frequentNgrams(
      zipfDocs(t(s, d, "documents")), "text", n = 2, phi = 0.001)
  }

  // ------------------------------------------------------------------
  // Contract surface
  // ------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.view.mapValues(_._1).toMap

  def oracleSql: Map[String, String] =
    defs.collect { case (name, (_, Some(sql))) => name -> sql }.toMap
}
