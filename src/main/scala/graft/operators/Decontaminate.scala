package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.store.Store

/** Benchmark decontamination as a SERVING family: persist the eval-suite
  * n-gram index once, then flag / strip contaminated training documents
  * from it — batch, incremental, or streaming.
  *
  * [[Dedup.contamination]] is the one-shot pair detector (the GPT-3
  * appendix-C scrub shape); this object adds the lifecycle a pipeline
  * actually runs: benchmarks are FROZEN artifacts that change rarely,
  * while training corpora arrive continuously, so the eval shingle
  * postings are index state (built offline, layout-tagged, compaction-
  * managed like the ANN/BM25/line-hash indexes) and every new corpus
  * slice is scored against the same stored postings. Semantics match
  * [[Dedup.contamination]] exactly: asymmetric containment
  * C(e,t) = |sh(e) ∩ sh(t)| / |sh(e)| over distinct word `n`-gram
  * shingles, flag at `threshold`. The reference engine has no text
  * operators at all (`/root/reference/include/warpdb.hpp` — scan/filter/
  * agg only); this is LLM-pipeline extension surface.
  *
  * Serve plan at 100 TB: eval suites are tiny (10³–10⁶ items) — the
  * stored postings and sizes BROADCAST. The train side is scanned,
  * shingled, and semi-joined against the broadcast shingle set BEFORE
  * anything else, so the corpus-sized postings never shuffle; only
  * matching postings (a minuscule corpus fraction on non-pathological
  * vocabularies) reach the per-pair aggregate. The train-side `maxDf`
  * stop-shingle guard is computed AFTER that semi-join — sound, because
  * the semi-join keeps every occurrence of any matching shingle, so the
  * post-join document frequency of a surviving shingle equals its
  * corpus-wide value; the guard's agg therefore runs over matched
  * postings only instead of forcing a corpus-wide shuffle the way the
  * one-shot detector's does. Pass `maxDf = Long.MaxValue` to skip the
  * guard entirely (micro-batch serving — see
  * [[graft.streaming.Streaming]]: per-batch df is not corpus df, and a
  * batch's fan-out is already bounded by batch size, so the streaming
  * path disables the guard to keep micro-batch union ≡ full-batch).
  *
  * `hashPostings` stores each shingle as its xxhash64 (8-byte join keys
  * instead of n-token strings — at the 8–13-gram sizes real scrubs use
  * this halves the posting shuffle and the broadcast). A collision can
  * only overcount one pair's intersection by 1 (P ≈ |shingles|²/2⁶⁴);
  * build with `hashPostings = false` where an external oracle must
  * reproduce the counts — the [[Dedup.contamination]] discipline.
  */
object Decontaminate {

  private val Layout = "contam_v1"

  private def key(c: Column, hashed: Boolean): Column =
    if (hashed) xxhash64(c) else c

  /** (id, distinct shingle array) — the [[Dedup.contamination]] spelling:
    * raw-text tokens (trim + whitespace split), n-token windows, docs
    * shorter than n yield the empty set. */
  private def shingled(df: DataFrame, textCol: String, idCol: String,
                       outId: String, n: Int): DataFrame =
    spread(df.select(col(idCol).as(outId), col(textCol)))
      .select(col(outId),
        array_distinct(TF.shingles(col(textCol), n)).as("sh"))

  /** Persist the eval-suite index: `index` = the (e_id, shingle) postings
    * (compactable), `sizes` = (e_id, n_e) full shingle counts — the
    * containment DENOMINATOR is always the full |sh(e)|, stored so a
    * pruned serve can never inflate a score — and params = (layout,
    * shingle_n, hashed): the shingle width and keying are INDEX metadata,
    * so serving cannot accidentally score with a different tokenization
    * than the build. */
  def buildIndex(eval: DataFrame, textCol: String, idCol: String,
                 path: String, shingleSize: Int = 3,
                 hashPostings: Boolean = true): Unit = {
    require(shingleSize > 0, "shingleSize must be positive")
    val ev = shingled(eval, textCol, idCol, "e_id", shingleSize)
    Store.create(path, "index", Seq("layout" -> Layout,
        "shingle_n" -> shingleSize, "hashed" -> hashPostings)) { dir =>
      ev.select(col("e_id"), explode(col("sh")).as("__s"))
        .select(col("e_id"), key(col("__s"), hashPostings).as("shingle"))
        .write.mode("overwrite").parquet(dir)
      ev.select(col("e_id"), size(col("sh")).as("n_e"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/sizes")
    }
  }

  /** Append NEW eval items to a persisted index — benchmarks accrete
    * over time (a new suite version, a new task), and a full rebuild
    * re-shingles every frozen suite for nothing. Posting slivers and
    * `sizes` rows each go through the fenced [[graft.store.Store.append]]
    * (`sizes` is eval-suite-sized, so it is never compacted). Shingle
    * width and keying come from the STORED params, so an append can
    * never mix tokenizations with the build.
    *
    * Ids must be NEW: a re-appended e_id would duplicate its `sizes` row
    * (multiplying its pairs through the serve-side join) and re-add its
    * postings, so overlap is rejected up front — the check is one
    * semi-join against the eval-suite-sized stored id set, not a corpus
    * job. Benchmarks are frozen artifacts; changing an existing item is
    * a rebuild.
    *
    * `compactFileThreshold` opts the append into the auto-compaction
    * cadence ([[graft.store.Store.append]]): once the live postings
    * table has that many part files, the append folds the index itself
    * — benchmarks accrete one suite at a time, and without a cadence
    * every serve pays the accumulated small-file listing tax until
    * someone remembers the maintenance job. */
  def appendToIndex(newEval: DataFrame, textCol: String, idCol: String,
                    path: String, compactFileThreshold: Int = 0): Unit = {
    val spark = newEval.sparkSession
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"index at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    val ev = shingled(newEval, textCol, idCol, "e_id",
      p.getAs[Int]("shingle_n"))
    val dup = ev.select("e_id").distinct()
      .join(Store.read(spark, path, "sizes").select("e_id"),
        Seq("e_id"), "left_semi")
      .limit(20).collect().map(_.get(0))
    require(dup.isEmpty,
      s"appendToIndex: e_id(s) already present in the index at $path " +
        s"(e.g. ${dup.take(5).mkString(", ")}) — benchmarks are frozen " +
        "artifacts; rebuild to change an existing item")
    val postings = ev.select(col("e_id"), explode(col("sh")).as("__s"))
      .select(col("e_id"),
        key(col("__s"), p.getAs[Boolean]("hashed")).as("shingle"))
    Store.append(spark, path, "index", compactFileThreshold) {
      postings.write.mode("append").parquet(_)
    }
    Store.append(spark, path, "sizes") {
      ev.select(col("e_id"), size(col("sh")).as("n_e"))
        .write.mode("append").parquet(_)
    }
  }

  /** A loaded serving handle. Streaming serves load once, cache both
    * frames, and score every micro-batch against the same handle. */
  case class ContamIndex(postings: DataFrame, sizes: DataFrame,
                         shingleSize: Int, hashed: Boolean)

  /** Load a persisted index: postings via the compaction-aware pointer,
    * shingle width / keying from params. */
  def loadIndex(spark: SparkSession, path: String): ContamIndex = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == Layout,
      s"index at $path has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout")
    ContamIndex(
      Store.read(spark, path, "index"),
      Store.read(spark, path, "sizes"),
      p.getAs[Int]("shingle_n"), p.getAs[Boolean]("hashed"))
  }

  /** Flag (t_id, e_id, containment) pairs at or above `threshold`
    * against a loaded handle — identical output to
    * [[Dedup.contamination]] over the same corpora by construction
    * (same shingles, same counts, same integer-ratio doubles with no
    * rounding). See the object doc for the serve plan shape. */
  def flagFromModel(train: DataFrame, idx: ContamIndex, textCol: String,
                    idCol: String, threshold: Double = 0.5,
                    maxDf: Long = 1000L)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val tInv = shingled(train, textCol, idCol, "t_id", idx.shingleSize)
      .select(col("t_id"), explode(col("sh")).as("__s"))
      .select(col("t_id"), key(col("__s"), idx.hashed).as("shingle"))
    // semi-join first: only postings whose shingle appears in the eval
    // suite survive — the corpus-sized frame never shuffles, and the df
    // guard below runs over this small matched set (df of a surviving
    // shingle is unchanged: the semi-join keeps ALL its occurrences)
    val evShingles = idx.postings.select("shingle").distinct()
    val matchedRaw = tInv.join(broadcast(evShingles), Seq("shingle"),
      "left_semi")
    val pruned =
      if (maxDf == Long.MaxValue) matchedRaw // guard off: single consumer,
      else {                                 // nothing worth caching
        // guard on: matched feeds BOTH the df agg and the pair join
        val matched = scope.cache(matchedRaw)
        val heavy = matched.groupBy("shingle")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf)
          .select("shingle")
        matched.join(broadcast(heavy), Seq("shingle"), "left_anti")
      }
    val shared = pruned.join(broadcast(idx.postings), "shingle")
      .groupBy("t_id", "e_id")
      .agg(count(lit(1)).as("inter"))
    shared.join(broadcast(idx.sizes), "e_id")
      .select(col("t_id"), col("e_id"),
        (col("inter").cast("double") / col("n_e").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Flag pairs from a persisted index path. */
  def flagFromIndex(train: DataFrame, indexPath: String, textCol: String,
                    idCol: String, threshold: Double = 0.5,
                    maxDf: Long = 1000L)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame =
    flagFromModel(train, loadIndex(train.sparkSession, indexPath),
      textCol, idCol, threshold, maxDf)

  /** [[flagFromModel]] with a BLOOM-FILTER prefilter in place of the
    * broadcast exact-set semi-join — the serve shape for when the eval
    * suite outgrows broadcast. [[flagFromModel]] ships the full distinct
    * shingle set to every executor; at 10⁶ eval items × ~10² shingles ×
    * ~30 B that is gigabytes of broadcast. A Bloom filter over the same
    * set is ~1.2 bytes/element at fpp 1% — two orders of magnitude
    * smaller — and its false-positive survivors are REMOVED by the exact
    * postings join that follows, so the output is bit-identical to the
    * exact path at ANY fpp: the bloom can only let extra corpus postings
    * through to the join, never drop a true match (no false negatives).
    * Because the surviving set no longer came from an exact semi-join,
    * the downstream joins drop their broadcast HINTS too and let AQE
    * size the (post-prefilter, minuscule) sides — the full
    * corpus-won't-broadcast regime end to end.
    *
    * The prefilter itself is one scalar UDF call per corpus posting —
    * off codegen, but it REPLACES a hash-join probe of comparable
    * per-row cost and pays for itself by never materializing the
    * gigabyte build side. df-guard contract matches [[flagFromModel]]
    * (post-prefilter df of a TRUE-matching shingle equals its corpus-wide
    * value; a false-positive shingle may be pruned early, which only
    * removes rows the exact join would discard anyway). */
  def flagFromModelBloom(train: DataFrame, idx: ContamIndex,
                         textCol: String, idCol: String,
                         threshold: Double = 0.5, maxDf: Long = 1000L,
                         fpp: Double = 0.01)
                        (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = train.sparkSession
    val tInv = shingled(train, textCol, idCol, "t_id", idx.shingleSize)
      .select(col("t_id"), explode(col("sh")).as("__s"))
      .select(col("t_id"), key(col("__s"), idx.hashed).as("shingle"))
    val evShingles = idx.postings.select("shingle").distinct()
    // posting-row count upper-bounds the distinct-shingle count — an
    // over-sized filter only wastes bits, never recall
    val bf = evShingles.stat.bloomFilter("shingle",
      math.max(idx.postings.count(), 1L), fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val keep =
      if (idx.hashed) udf((h: Long) => bfB.value.mightContainLong(h))
      else udf((s: String) => bfB.value.mightContainString(s))
    val matchedRaw = tInv.filter(keep(col("shingle")))
    val pruned =
      if (maxDf == Long.MaxValue) matchedRaw
      else {
        val matched = scope.cache(matchedRaw)
        val heavy = matched.groupBy("shingle")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf)
          .select("shingle")
        matched.join(heavy, Seq("shingle"), "left_anti")
      }
    // exact join: false positives die here (no posting row to meet)
    val shared = pruned.join(idx.postings, "shingle")
      .groupBy("t_id", "e_id")
      .agg(count(lit(1)).as("inter"))
    shared.join(idx.sizes, "e_id")
      .select(col("t_id"), col("e_id"),
        (col("inter").cast("double") / col("n_e").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Bloom-prefiltered flagging from a persisted index path. */
  def flagFromIndexBloom(train: DataFrame, indexPath: String,
                         textCol: String, idCol: String,
                         threshold: Double = 0.5, maxDf: Long = 1000L,
                         fpp: Double = 0.01)
                        (implicit scope: CacheScope = CacheScope.global): DataFrame =
    flagFromModelBloom(train, loadIndex(train.sparkSession, indexPath),
      textCol, idCol, threshold, maxDf, fpp)

  /** The removal half: training rows whose document is NOT flagged
    * against the handle. The flagged id set is |contaminated docs| —
    * broadcast-sized whenever decontamination is working (a corpus that
    * is mostly benchmark leakage has bigger problems) — so the anti-join
    * is one more scan pass over the corpus, no shuffle. */
  def decontaminateFromModel(train: DataFrame, idx: ContamIndex,
                             textCol: String, idCol: String,
                             threshold: Double = 0.5,
                             maxDf: Long = 1000L)
                            (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val flagged = flagFromModel(train, idx, textCol, idCol, threshold, maxDf)
      .select(col("t_id")).distinct()
    train.join(broadcast(flagged), train(idCol) === flagged("t_id"),
      "left_anti")
  }

  /** Removal from a persisted index path. */
  def decontaminateFromIndex(train: DataFrame, indexPath: String,
                             textCol: String, idCol: String,
                             threshold: Double = 0.5,
                             maxDf: Long = 1000L)
                            (implicit scope: CacheScope = CacheScope.global): DataFrame =
    decontaminateFromModel(train, loadIndex(train.sparkSession, indexPath),
      textCol, idCol, threshold, maxDf)

  /** One-shot removal (no index): [[Dedup.contamination]]'s flags,
    * anti-joined back — for ad-hoc scrubs; the index path is the serving
    * form. Note the one-shot detector computes its df guard corpus-wide
    * (a full slim shuffle) where the index path's runs post-semi-join. */
  def removeContaminated(train: DataFrame, eval: DataFrame,
                         textCol: String, idCol: String,
                         threshold: Double = 0.5, shingleSize: Int = 3,
                         maxDf: Long = 1000L)
                        (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val flagged = Dedup.contamination(train, eval, textCol, idCol,
      threshold, shingleSize, maxDf)
      .select(col("t_id")).distinct()
    train.join(broadcast(flagged), train(idCol) === flagged("t_id"),
      "left_anti")
  }

  /** SEMANTIC decontamination — flag training documents whose EMBEDDING
    * sits near an eval-set embedding (cosine ≥ `threshold`): catches
    * paraphrased/translated leakage the n-gram pipeline
    * ([[buildIndex]]/[[flagFromIndex]], exact shingle containment)
    * cannot see; run BOTH — they are complements, not alternatives
    * (GPT-4/Llama technical reports do exactly this pairing).
    *
    * Plan shape at 100 TB: the eval side is a benchmark suite — bounded
    * by construction — so it BROADCASTS whole and the corpus scans ONCE
    * against it (per-row fused cosine per eval vector), no shuffle of
    * anything corpus-sized, no index, no candidate generation: when the
    * probe set is small, brute-force IS the scale path (the s15/t21
    * broadcast-side argument). Output: (t_id, e_id) flagged pairs —
    * join fodder for [[removeContaminated]]-style anti-joins. */
  def semanticFlags(train: DataFrame, eval: DataFrame, vecCol: String,
                    idCol: String, threshold: Double): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val t = spread(train.select(col(idCol).as("t_id"),
      col(vecCol).as("__tv")))
    val e = eval.select(col(idCol).as("e_id"), col(vecCol).as("__ev"))
    t.crossJoin(broadcast(e))
      .filter(VF.cosineSimilarity(col("__tv"), col("__ev")) >= threshold)
      .select("t_id", "e_id")
  }
}
