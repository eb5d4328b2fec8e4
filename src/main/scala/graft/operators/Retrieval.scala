package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.store.Store

/** BM25 sparse retrieval — the lexical half of a training-data pipeline's
  * search stack (contamination lookup, quality-by-query probes, dedup
  * candidate mining), complementing the dense-vector ANN family in
  * [[Similarity]]. Beyond the reference, which has no text operators
  * (`/root/reference/include/warpdb.hpp` exposes only scan/filter/agg).
  *
  * Okapi BM25 (Robertson et al., TREC-3):
  * {{{
  *   score(q, d) = Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  * }}}
  * Query terms are DISTINCT (standard Okapi drops query-side tf; our
  * "queries" are whole documents, where repeating a term shouldn't
  * multiply its vote).
  *
  * Plan shape at 100 TB — term-at-a-time over an inverted index:
  *   1. Build: tokenize → per-(doc, term) count (partial+final hash agg;
  *      the shuffle carries (doc, term) pairs, never text) → doc length +
  *      document frequency as second map-side-combined aggregates. The
  *      one-shot postings frame is SLIM — (term, n_id, tf, dl, df) with
  *      dl/df denormalized in (the impact-file layout). The PERSISTED
  *      layout drops the df column (re-derived per serve from the slice
  *      the serve already touches) — that is what makes the stored index
  *      appendable; see [[buildBm25Index]].
  *   2. Serve: the query batch's distinct term set is small (|Q|·terms) —
  *      broadcast it against the postings table, aggregate partial scores
  *      per (q_id, n_id), top-k via `row_number ≤ k` which Spark executes
  *      as WindowGroupLimit (per-partition partial top-k BEFORE the
  *      shuffle). The corpus-sized postings table is never shuffled at
  *      serve time.
  *
  * Determinism: per-term contributions are fixed expression trees (both
  * engines evaluate them bit-identically); their SUM is order-dependent in
  * doubles, so scores round to 6dp BEFORE the ranking window and ties
  * break by n_id — the t13 classifier discipline.
  *
  * `maxDf` drops corpus-stopwords at the df stage — the same skew guard as
  * [[TfIdf.topTerms]] and [[Dedup.ngramJaccard]]: a term in half the
  * corpus contributes idf ≈ ln(1+1) everywhere (no ranking signal) but
  * dominates the posting-join fan-out. Stats contract under `maxDf`: N
  * and avgdl are computed over the POST-filter postings — a document
  * whose every term was dropped leaves the searchable corpus entirely
  * (it can never score, so counting it in N would deflate every idf for
  * a doc no query reaches), while dl still counts the dropped terms
  * (length normalization measures the real document). With the default
  * `maxDf` nothing is filtered and N is simply the count of docs with
  * ≥1 token. The stored params stats follow the same contract, and
  * both choices are pinned by tests.
  *
  * Query-batch contract: the serve entry points broadcast the batch's
  * DISTINCT term set against the postings — the whole point of the plan
  * shape (the corpus never shuffles). That assumes a serving-sized batch
  * (up to ~10⁶ distinct terms, single-digit MB broadcast). For a
  * corpus-scale "query" set (e.g. all-pairs contamination mining), pass
  * `broadcastTerms = false`: the hint is dropped and Catalyst/AQE pick
  * the join strategy from actual sizes.
  */
object Retrieval {

  /** Persisted-index layout. v2 (this layout) stores postings WITHOUT the
    * denormalized df column: df for the query's terms is re-derived at
    * serve time from the postings slice the serve already touches (one
    * map-side-combined agg over candidate rows — no second corpus scan,
    * the slice is cached). That single change is what makes the index
    * APPENDABLE: under v1, appending a batch silently invalidated the df
    * stored on every old posting row sharing the batch's vocabulary —
    * the one index family without the append rung. Under v2, df is
    * corpus-wide-correct across any number of appended generations by
    * construction, and the `maxDf` stopword guard moves to serve where
    * it tracks the GROWING corpus instead of freezing at build. N/avgdl
    * persist additively (`n_docs`, `sum_dl` integer sums in params),
    * so appended stats are exact, not drifted. v1 indexes refuse to load
    * with a rebuild message (the hash-family-tag discipline). */
  private val Layout = "bm25_v2"

  /** Tokenize to (id, term) pairs, lowercased alnum words — the repo-wide
    * spelling that matches the DuckDB oracle's regexp chain. */
  private def termPairs(df: DataFrame, textCol: String, idCol: String,
                        outId: String): DataFrame =
    spread(df.select(col(idCol).as(outId), col(textCol)))
      .select(col(outId),
        explode(TF.tokens(TF.normText(col(textCol)))).as("term"))
      .filter(col("term") =!= "")

  /** In-row (term, tf) aggregation: tokenize, sort the doc's own tokens,
    * and fold equal runs into (term, tf) structs INSIDE the row — the
    * guide's "aggregate before you shuffle" taken to its limit: tf and
    * dl need NO exchange at all. The old `groupBy(n_id, term)` shuffled
    * one row per distinct (doc, term) with the term STRING on the wire
    * (the largest exchange of the one-shot/build paths — 45 MB at sf0.1)
    * and the dl join re-shuffled it by doc; both are per-document
    * quantities, so they fold where the document already is. Returns one
    * row per doc with ≥ 1 term: (outId, __runs: array<(term, tf)>, dl).
    * Token spelling matches [[termPairs]] exactly (normText, whitespace
    * split, empty terms dropped). */
  private def docTermRuns(df: DataFrame, textCol: String, idCol: String,
                          outId: String): DataFrame = {
    // round-16: the interpreted filter → array_sort → runStarts →
    // runsFromStarts HOF chain is ONE codegen'd kernel (same empty-token
    // drop, same sorted run order — exploded row order, and with it every
    // downstream accumulation order, is bit-identical; TextKernelsSpec
    // pins it). total = post-drop token count = dl.
    spread(df.select(col(idCol).as(outId),
        TF.tokens(TF.normText(col(textCol))).as("__t0")))
      .select(col(outId), graft.functions.TextKernels
        .gramRuns(col("__t0"), 1, dropEmpty = true).as("__k"))
      .filter(col("__k").getField("total") >= 1)
      .select(col(outId),
        col("__k").getField("runs").as("__runs"),
        col("__k").getField("total").as("dl"))
  }

  /** The slim postings frame: one row per (corpus doc, term) with tf and
    * the denormalized dl/df — everything scoring needs. tf/dl fold
    * in-row ([[docTermRuns]] — zero exchanges); the only build shuffle
    * left is the vocabulary-sized df aggregate. */
  private def postingsFrame(corpus: DataFrame, textCol: String,
                            idCol: String, maxDf: Long)
                           (implicit scope: CacheScope): DataFrame = {
    val runs = scope.cache(docTermRuns(corpus, textCol, idCol, "n_id"))
    val tf = runs
      .select(col("n_id"), col("dl"), explode(col("__runs")).as("__r"))
      .select(col("n_id"), col("dl"),
        col("__r.item").as("term"), col("__r.cnt").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // df join is broadcast-able at moderate vocab (Zipf-bounded)
    tf.join(df, "term")
      .select(col("term"), col("n_id"), col("tf"), col("dl"), col("df"))
  }

  /** Per-(query, doc) BM25 scores from a postings frame + corpus stats.
    * dl stays integral until the ratio — integer sums in double are exact,
    * so avgdl is bit-identical across engines regardless of partial-agg
    * order. */
  private def score(queries: DataFrame, postings: DataFrame,
                    textCol: String, idCol: String, k: Int,
                    nDocs: Double, avgdl: Double,
                    k1: Double, b: Double,
                    broadcastTerms: Boolean): DataFrame = {
    val qt0 = termPairs(queries, textCol, idCol, "q_id").distinct()
    val qterms = if (broadcastTerms) broadcast(qt0) else qt0
    val contrib =
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
        col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    val scored = postings.join(qterms, "term")
      .groupBy("q_id", "n_id")
      .agg(round(sum(contrib), 6).as("score"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("score"))
  }

  /** One-shot BM25 top-k: builds the postings in-flight. The per-call
    * build cost is the reason the persisted-index path below exists —
    * this form is for ad-hoc batches, the index for serving. */
  /** Two scalar aggregates over the cached slim postings, driver-held.
    * Fails CLEARLY (not with an opaque NPE off a null avgdl) when the
    * corpus produced no postings — empty input, all-empty/null text, or a
    * `maxDf` that dropped every term. */
  private def corpusStats(postings: DataFrame): (Double, Double) = {
    val stats = postings.select(col("n_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("n"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      .head()
    require(stats.getDouble(0) > 0,
      "bm25: corpus produced no postings (empty corpus, all-empty/null " +
        "text, or maxDf dropped every term)")
    (stats.getDouble(0), stats.getDouble(1))
  }

  def bm25TopK(queries: DataFrame, corpus: DataFrame,
               textCol: String, idCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxDf: Long = Long.MaxValue,
               broadcastTerms: Boolean = true)
              (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(k > 0, "k must be positive")
    val postings = scope.cache(postingsFrame(corpus, textCol, idCol, maxDf))
    val (n, avgdl) = corpusStats(postings)
    score(queries, postings, textCol, idCol, k, n, avgdl, k1, b,
      broadcastTerms)
  }

  /** The df-free postings slice for the persisted layout: one row per
    * (doc, term) with tf and the denormalized dl — everything serve-time
    * scoring needs once df is re-derived from the slice itself. Also
    * returns the batch's (doc count, total length) for the additive
    * params stats. */
  private def tfDlFrame(docs: DataFrame, textCol: String, idCol: String)
                       (implicit scope: CacheScope): (DataFrame, Long, Long) = {
    // tf and dl fold in-row (docTermRuns) — the old groupBy(n_id, term)
    // exchange and the dl join-back are gone; the stats aggregate runs
    // over one slim cached row per doc
    val runs = scope.cache(docTermRuns(docs, textCol, idCol, "n_id"))
    val st = runs.agg(count(lit(1)).as("n"), sum("dl").as("s")).head()
    val n = st.getLong(0)
    (runs.select(col("n_id"), col("dl"), explode(col("__runs")).as("__r"))
      .select(col("__r.item").as("term"), col("n_id"),
        col("__r.cnt").as("tf"), col("dl")),
      n, if (n == 0) 0L else st.getLong(1))
  }

  /** Persist the inverted index: `index` = the slim df-FREE postings
    * table (term, n_id, tf, dl), params = (layout, n_docs, sum_dl,
    * avgdl, k1, b, max_df). Corpus stats and knobs are INDEX METADATA —
    * serving reads them instead of re-deriving or taking caller literals
    * (the calibrated-ANN discipline); `n_docs`/`sum_dl` are INTEGER sums
    * so [[appendToBm25Index]] updates them exactly. `maxDf` persists as
    * the serve-side stopword guard (see [[bm25TopKFromModel]]) — under
    * the appendable layout the guard is evaluated against the CURRENT
    * corpus at every serve, so a term that grows into a stopword after
    * appends is dropped the moment it crosses the line. The `index`
    * sub-dir name keys into [[graft.store.Store.compactIndex]]'s small-file
    * compaction lifecycle. */
  def buildBm25Index(corpus: DataFrame, textCol: String, idCol: String,
                     path: String, k1: Double = 1.2, b: Double = 0.75,
                     maxDf: Long = Long.MaxValue): Unit = {
    implicit val scope: CacheScope = new CacheScope
    try {
      val (postings, n, sumDl) = tfDlFrame(corpus, textCol, idCol)
      require(n > 0,
        "bm25: corpus produced no postings (empty corpus or " +
          "all-empty/null text)")
      Store.create(path, "index", Seq("layout" -> Layout, "n_docs" -> n,
          "sum_dl" -> sumDl, "avgdl" -> sumDl.toDouble / n, "k1" -> k1,
          "b" -> b, "max_df" -> maxDf)) {
        postings.write.mode("overwrite").parquet(_)
      }
    } finally scope.release()
  }

  /** Append a new document batch to a persisted BM25 index — the
    * daily-ingest rung every other persisted family already has. The
    * batch's df-free postings append as a slice, and params stats
    * update ADDITIVELY: n_docs/sum_dl are
    * integer sums, so the served N and avgdl are bit-identical to a
    * from-scratch build over the union — nothing is frozen stale,
    * because df was never stored (it re-derives per serve). Cost is
    * O(batch tokenization) + a vocabulary-free append — the existing
    * corpus is not read, let alone rewritten. Caller owns id uniqueness
    * across base + appends (the index-family contract); a duplicated id
    * would double-count df and N. Empty batches are a no-op.
    *
    * `compactFileThreshold` opts the append into the auto-compaction
    * cadence ([[graft.store.Store.append]]): once the live postings
    * table has that many part files, the append folds the index itself
    * — the daily-ingest small-file tax stops growing without a separate
    * maintenance job. The fold rewrites byte-equal postings, so it never
    * changes a served score. */
  def appendToBm25Index(newDocs: DataFrame, textCol: String, idCol: String,
                        path: String, compactFileThreshold: Int = 0): Unit = {
    implicit val scope: CacheScope = new CacheScope
    try {
      val spark = newDocs.sparkSession
      val p = Store.params(spark, path)
      requireBm25Layout(p, path)
      val (postings, n, sumDl) = tfDlFrame(newDocs, textCol, idCol)
      if (n > 0) {
        Store.append(spark, path, "index", compactFileThreshold) {
          postings.write.mode("append").parquet(_)
        }
        val nd = p.getAs[Long]("n_docs") + n
        val sd = p.getAs[Long]("sum_dl") + sumDl
        // a crash between the two commits leaves the PREVIOUS stats
        // live: the batch under-counts until re-committed (stale, never
        // corrupt — a truncated stats copy would score on wrong N/avgdl)
        Store.commitParams(path, Seq("layout" -> Layout,
          "n_docs" -> nd, "sum_dl" -> sd, "avgdl" -> sd.toDouble / nd,
          "k1" -> p.getAs[Double]("k1"), "b" -> p.getAs[Double]("b"),
          "max_df" -> p.getAs[Long]("max_df")))
      }
    } finally scope.release()
  }

  private def requireBm25Layout(p: org.apache.spark.sql.Row,
                                indexPath: String): Unit =
    require(p.getAs[String]("layout") == Layout,
      s"index at $indexPath has layout ${p.getAs[String]("layout")}, " +
        s"expected $Layout" +
        (if (p.getAs[String]("layout") == "bm25_v1")
           " — v1 denormalized-df indexes cannot be appended to and are " +
             "not readable by this version; rebuild with buildBm25Index"
         else ""))

  /** A loaded serving handle: the df-free postings frame plus the STORED
    * corpus stats/knobs. Streaming serves load once and score every
    * micro-batch against the same handle (cache `postings` for that —
    * the [[graft.streaming.Streaming]] NB-model discipline). */
  case class Bm25Model(postings: DataFrame, nDocs: Double, avgdl: Double,
                       k1: Double, b: Double, maxDf: Long)

  /** Load a persisted index: postings via the compaction-aware pointer
    * ([[graft.store.Store.resolveDataDir]]), stats/knobs from params. */
  def loadBm25(spark: SparkSession, indexPath: String): Bm25Model = {
    val p = Store.params(spark, indexPath)
    requireBm25Layout(p, indexPath)
    Bm25Model(
      Store.read(spark, indexPath, "index"),
      p.getAs[Long]("n_docs").toDouble, p.getAs[Double]("avgdl"),
      p.getAs[Double]("k1"), p.getAs[Double]("b"), p.getAs[Long]("max_df"))
  }

  /** Score a query batch against a loaded handle — the per-micro-batch
    * body of a streaming serve. The persisted layout stores no df, so
    * the serve derives it here: the postings scan is semi-joined to the
    * broadcast query term set (the corpus-sized side still never
    * shuffles), the surviving candidate slice is CACHED (it feeds two
    * consumers — without the cache the corpus scan would run twice, the
    * repo's two-consumer lesson), df per query term falls out of one
    * map-side-combined count over that slice (≤ |query vocabulary|
    * output rows), and terms over the stored `max_df` drop before any
    * scoring fan-out — the stopword guard evaluated against the CURRENT
    * post-append corpus. */
  def bm25TopKFromModel(queries: DataFrame, m: Bm25Model,
                        textCol: String, idCol: String, k: Int,
                        broadcastTerms: Boolean = true)
                       (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(k > 0, "k must be positive")
    // the (q_id, term) batch feeds BOTH the semi-join prefilter and the
    // scoring join — cache it so the query batch tokenizes once (left_semi
    // tolerates build-side duplicates, so no separate term-set distinct)
    val qt0 = scope.cache(termPairs(queries, textCol, idCol, "q_id")
      .distinct())
    val qterms = if (broadcastTerms) broadcast(qt0) else qt0
    val matched = scope.cache(
      m.postings.join(qterms, Seq("term"), "left_semi"))
    val dfq0 = matched.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= m.maxDf)
    val dfq = if (broadcastTerms) broadcast(dfq0) else dfq0
    val contrib =
      log(lit(1.0) + (lit(m.nDocs) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
        col("tf") * lit(m.k1 + 1.0) /
        (col("tf") + lit(m.k1) *
          (lit(1.0 - m.b) + lit(m.b) * col("dl") / lit(m.avgdl)))
    val scored = matched.join(dfq, "term").join(qterms, "term")
      .groupBy("q_id", "n_id")
      .agg(round(sum(contrib), 6).as("score"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("score"))
  }

  /** Serve a query batch from a persisted index. Reads the postings via
    * the compaction-aware pointer, broadcasts the query term set, and
    * scores with the STORED corpus stats — which [[appendToBm25Index]]
    * keeps exactly equal to the live corpus (additive integer sums), so
    * a served answer always matches a from-scratch build of everything
    * ingested so far. */
  def bm25TopKFromIndex(queries: DataFrame, indexPath: String,
                        textCol: String, idCol: String, k: Int,
                        broadcastTerms: Boolean = true)
                       (implicit scope: CacheScope = CacheScope.global): DataFrame =
    bm25TopKFromModel(queries, loadBm25(queries.sparkSession, indexPath),
      textCol, idCol, k, broadcastTerms)

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09) of
    * per-query ranked lists from independent retrieval systems — the
    * standard hybrid-retrieval combiner (BM25 ⊕ dense ANN) because it
    * needs NO score calibration across systems: only rank positions
    * enter, `rrf(d) = Σ_s 1/(rrfK + rank_s(d))`, documents missing from
    * a system's list simply contribute nothing.
    *
    * Each input frame carries (q_id, n_id, rank) — exactly what
    * [[bm25TopK]] and the [[Similarity]] top-k family emit, so any mix
    * of lexical/dense/serving paths fuses without adapters.
    *
    * Plan shape at 100 TB: the inputs are ALREADY per-query top-depth
    * lists — |Q|·depth rows each, corpus-independent — so the fuse is a
    * union + one hash agg + a per-query ranking window over
    * |Q|·depth·|systems| slim rows. The corpus-sized work happened inside
    * the upstream systems (each with its own serve-plan guarantees); the
    * fusion layer never touches corpus data.
    *
    * Determinism: each contribution 1/(rrfK+rank) is one double division
    * off integer ranks — bit-identical in any engine; the SUM is rounded
    * to 6dp before the ranking window and ties break by n_id (the
    * repo-wide discipline), so fused ranks are reproducible even where
    * distinct rank combinations collide after rounding. */
  def rrfFuse(systems: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(systems.nonEmpty, "rrfFuse: need at least one ranked input")
    require(k > 0, "k must be positive")
    require(rrfK >= 0, "rrfK must be non-negative")
    val slim = systems.map(_.select(col("q_id"), col("n_id"),
      (lit(1.0) / (lit(rrfK).cast("double") + col("rank").cast("double")))
        .as("__c")))
    val fused = slim.reduce(_ unionByName _)
      .groupBy("q_id", "n_id")
      .agg(round(sum(col("__c")), 6).as("rrf"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("n_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("rrf"))
  }

  /** Hybrid lexical ⊕ dense retrieval in one call: BM25 top-`depth` over
    * the text corpus and exact-cosine top-`depth` over the embedding
    * corpus, RRF-fused to the final top-`k`. `queriesText`/`queriesVec`
    * and the two corpora are joined implicitly by id through the fusion —
    * the caller guarantees the id spaces align (same documents, two
    * modalities). The dense side here is the exact brute baseline; at
    * corpus scale substitute any [[Similarity]] serving path (same output
    * contract) before fusing. */
  def hybridTopK(queriesText: DataFrame, corpusText: DataFrame,
                 queriesVec: DataFrame, corpusVec: DataFrame,
                 textCol: String, vecCol: String, idCol: String,
                 k: Int, depth: Int = 20, rrfK: Int = 60,
                 k1: Double = 1.2, b: Double = 0.75)
                (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(depth >= k, "depth must be at least k")
    val lex = bm25TopK(queriesText, corpusText, textCol, idCol, depth, k1, b)
    val den = Similarity.bruteForceTopK(queriesVec, corpusVec, vecCol,
      idCol, depth)
    rrfFuse(Seq(lex, den), k, rrfK)
  }
}
