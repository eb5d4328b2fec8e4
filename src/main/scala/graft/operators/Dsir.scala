package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.store.Store

/** DSIR-style data selection — importance resampling with hashed n-gram
  * features (Xie et al., NeurIPS 2023, "Data Selection for Language
  * Models via Importance Resampling"). Given a small TARGET slice (the
  * distribution you want more of — a trusted domain, a language, a
  * quality tier) and the RAW corpus, estimate bag-of-hashed-bigram
  * unigram models of each, score every raw document with its log
  * importance weight
  * {{{
  *   log w(x) = Σ_{g ∈ bigrams(x)} [ ln p_target(bucket(g)) − ln p_raw(bucket(g)) ]
  * }}}
  * and select by Gumbel-top-k (sampling without replacement in one
  * ranking pass) or by threshold. The reference engine has no text
  * surface at all (`/root/reference/include/warpdb.hpp`); this is
  * LLM-pipeline extension surface.
  *
  * Scale shape at 100 TB:
  *   - TRAIN is two scans: per-bucket occurrence counts are map-side-
  *     combined aggregates whose shuffle carries ≤ `b` slim rows per
  *     partition; the λ table is `b` rows — pure metadata.
  *   - SCORING is ZERO-shuffle: λ ships to every task as a map LITERAL
  *     (bounded at `b` entries by construction, the t17 repetition-suite
  *     discipline of folding per-doc stats inside the row), and each
  *     document's weight is one `aggregate` HOF fold over its bigram
  *     buckets. No explode, no join, no per-doc rows leave their
  *     partition. The explode→join spelling would shuffle ~|tokens|
  *     rows; this shuffles none.
  *   - SELECTION: top-k is `orderBy(key).limit(k)` — Spark executes
  *     per-partition partial top-k (`TakeOrderedAndProject`), never a
  *     global sort; the threshold form is a plain filter (per-doc
  *     independent, hence the streaming serve's spelling).
  *
  * Determinism discipline: feature buckets use the md5 keyed-hash rule
  * ([[Splits]] — cross-engine reproducible, no JVM-private hashing);
  * Gumbel noise derives from md5(salt ‖ id) mapped to (0,1), so
  * "sampling" is a pure function of the row key; weights and selection
  * keys round to 6dp BEFORE any ranking (ties break by id) — the
  * t10/t13 float-parity rule for accumulated doubles.
  */
object Dsir {

  private val Layout = "dsir_v1"

  /** Hashed bigram buckets (with multiplicity) of a text column:
    * bucket(g) = int(md5(g)[0:4]) mod b — the [[Splits]] md5 discipline,
    * over the raw-tokenization shingles ([[TF.shingles]], so the oracle
    * CTE chain is shared with the contamination family). */
  private[graft] def featureBuckets(c: Column, b: Int): Column =
    transform(TF.shingles(c, 2),
      g => (conv(substring(md5(g), 1, 4), 16, 10).cast("int") % b))

  /** Sparse per-bucket occurrence counts over a corpus slice. */
  private def bucketCounts(df: DataFrame, textCol: String, b: Int): DataFrame =
    spread(df.select(col(textCol)))
      .select(explode(featureBuckets(col(textCol), b)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))

  /** The λ table: (bucket, lam) for ALL `b` buckets, where
    * lam = ln((c_target+1)/(N_target+b)) − ln((c_raw+1)/(N_raw+b))
    * (add-one smoothing keeps unseen buckets total). Both totals are
    * scalar aggregates (driver-held doubles — exact: integer-valued). */
  def trainLogRatio(target: DataFrame, raw: DataFrame, textCol: String,
                    b: Int = 4096)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(b > 0 && b <= 65536, s"bucket count out of range: $b")
    val spark = target.sparkSession
    val ct = scope.cache(bucketCounts(target, textCol, b))
    val cr = scope.cache(bucketCounts(raw, textCol, b))
    val nT = ct.agg(sum("c")).head().getLong(0).toDouble
    val nR = cr.agg(sum("c")).head().getLong(0).toDouble
    spark.range(b).select(col("id").cast("int").as("bucket"))
      .join(ct.withColumnRenamed("c", "__ct"), Seq("bucket"), "left")
      .join(cr.withColumnRenamed("c", "__cr"), Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("__ct"), lit(0L)) + lit(1L)).cast("double") /
             lit(nT + b)) -
         log((coalesce(col("__cr"), lit(0L)) + lit(1L)).cast("double") /
             lit(nR + b))).as("lam"))
  }

  /** A loaded model: the λ map (b entries — metadata, ships as a column
    * literal) and the bucket count. */
  case class DsirModel(lam: Map[Int, Double], b: Int) {
    require(lam.size == b, s"λ table has ${lam.size} entries, expected $b")
    // dense λ for the codegen'd scoring kernel: keys are 0..b-1 by
    // construction (trained from range(b)), so the map IS an array
    private[Dsir] lazy val lamArr: Array[Double] = Array.tabulate(b)(lam)
  }

  /** Collect a λ frame into a serving model — bounded at b rows. */
  def modelFrom(lamDf: DataFrame): DsirModel = {
    val m = lamDf.select(col("bucket").cast("int"), col("lam"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    DsirModel(m, m.size)
  }

  /** Persist a λ table with the layout-tag discipline ([[Similarity]] /
    * [[Retrieval]]): the model is curation config, computed offline over
    * a reference corpus and FROZEN for serving. */
  def saveModel(lamDf: DataFrame, path: String): Unit = {
    val b = lamDf.count().toInt
    Store.create(path, "model", Seq("layout" -> Layout, "b" -> b)) {
      lamDf.coalesce(1).write.mode("overwrite").parquet(_)
    }
  }

  /** Load a persisted λ table, validating the layout tag. */
  def loadModel(spark: SparkSession, path: String): DsirModel = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"model at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    val m = modelFrom(Store.read(spark, path, "model"))
    require(m.b == p.getAs[Int]("b"),
      s"model at $path has ${m.b} buckets, params say ${p.getAs[Int]("b")}")
    m
  }

  /** Append the log importance weight — ONE zero-shuffle scan pass: a
    * per-row HOF fold over the bigram buckets against the λ literal.
    * Documents with < 2 tokens have no features and weigh 0 (the empty
    * sum). Rounded to 6dp (accumulated double — the t10 discipline). */
  def withLogWeight(docs: DataFrame, m: DsirModel, textCol: String,
                    wCol: String = "log_w"): DataFrame = {
    // round-16: the HOF fold (interpreted per element, with element_at
    // against a 4096-entry map LITERAL — a linear key scan per bigram)
    // is now the codegen'd DsirLogWeight kernel: same md5-prefix bucket
    // rule, same left-to-right double accumulation, λ as a dense array.
    // spread first: the scoring is CPU-bound, so a one-row-group input
    // would score on ONE core; a no-op at cluster scale
    spread(docs).withColumn(wCol, round(
      graft.functions.TextKernels.dsirLogWeight(
        TF.tokens(col(textCol)), m.lamArr), 6))
  }

  /** (0,1) uniform from md5(salt ‖ id) — pure function of the key, so
    * "random" selection is reproducible across engines and runs. */
  private def hashUniform(id: Column, salt: String): Column =
    (conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8),
      16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)

  /** The Gumbel-top-k selection key: log w + Gumbel(md5-uniform).
    * Ranking by this key samples k docs without replacement with
    * probability ∝ w (the Gumbel-max trick); deterministic because the
    * noise is keyed. Rounded BEFORE ranking; ties break by id. The
    * UNROUNDED weight feeds the key (rounding once, at the end). */
  def withSelectionKey(docs: DataFrame, m: DsirModel, textCol: String,
                       idCol: String, salt: String = "dsir",
                       keyCol: String = "sel_key"): DataFrame = {
    // same codegen'd kernel as withLogWeight (the UNROUNDED weight feeds
    // the key; one round at the end — unchanged)
    val rawW = graft.functions.TextKernels.dsirLogWeight(
      TF.tokens(col(textCol)), m.lamArr)
    val gumbel = -log(-log(hashUniform(col(idCol), salt)))
    // spread: same CPU-bound parallelism guard as withLogWeight
    spread(docs).withColumn(keyCol, round(rawW + gumbel, 6))
  }

  /** Select k documents by Gumbel-top-k — `orderBy.limit` so Spark runs
    * per-partition partial top-k, never a global sort. */
  def selectTopK(docs: DataFrame, m: DsirModel, textCol: String,
                 idCol: String, k: Int, salt: String = "dsir"): DataFrame = {
    require(k > 0, "k must be positive")
    withSelectionKey(docs, m, textCol, idCol, salt)
      .orderBy(col("sel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Threshold selection: keep docs whose selection key clears τ — a
    * plain filter, per-doc independent (the streaming serve's form: a
    * micro-batch union equals the full-batch answer). */
  def selectByThreshold(docs: DataFrame, m: DsirModel, textCol: String,
                        idCol: String, tau: Double,
                        salt: String = "dsir"): DataFrame =
    withSelectionKey(docs, m, textCol, idCol, salt)
      .filter(col("sel_key") >= tau)
}
