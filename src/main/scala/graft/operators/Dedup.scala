package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.store.Store

/** Deduplication operators for large-scale corpus pipelines: exact,
  * MinHash+LSH, SimHash, exact n-gram Jaccard, and embedding-cosine
  * near-dup.
  *
  * NOTE on caching: operators whose plans feed a self-join persist the
  * shared projection (`MEMORY_AND_DISK`) through a [[CacheScope]] — pass
  * one implicitly and `release()` after the terminal action to drop the
  * caches deterministically; callers that don't pass one share
  * [[CacheScope.global]].
  *
  * Design for 100 TB (the reference has nothing comparable — its DISTINCT is
  * a host sort+unique of output floats, `/root/reference/src/warpdb.cpp:
  * 463-468`):
  *  - every pipeline is a pure DataFrame plan — shuffles only on
  *    content-derived keys (hash buckets / shingles / LSH bands), never a
  *    cross join on the full corpus;
  *  - candidate generation is always key-equality joins (partitionable,
  *    AQE-skew-handled); exact verification runs only on candidates;
  *  - hot keys (a shingle shared by millions of docs) are the classic skew
  *    hazard → `maxDf` drops them, which is also statistically sound: a
  *    shingle in half the corpus carries no similarity signal.
  */
object Dedup {

  /** Exact dedup on normalized text: one hash-shuffle on the 64-bit content
    * fingerprint (not the full text — at 100 TB the shuffle moves 8-byte
    * keys, not documents), keeping the lowest id per group.
    *
    * Output: one row per distinct content with the retained id and the
    * duplicate count.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(docs.select(col(idCol), TF.fingerprint(col(textCol)).as("__fp")))
      .groupBy("__fp")
      .agg(min(idCol).as(idCol), count(lit(1)).as("n_dups"))
      .drop("__fp")

  /** MinHash + LSH banding + exact-Jaccard verification.
    *
    * Pipeline (one shuffle on band buckets, one on candidate pairs):
    *   1. signature: `numHashes` minhashes per doc (single scan);
    *   2. banding: split into `bands` bands of r = numHashes/bands rows;
    *      band hash → bucket key; explode to (band, bucket, id);
    *   3. candidates: self-equi-join on (band, bucket) with id< id
    *      (equi-join ⇒ hash-partitioned, AQE handles skewed buckets);
    *   4. verification: exact word-shingle Jaccard on the candidates only,
    *      keep pairs ≥ threshold.
    *
    * With 128 hashes / 32 bands (r=4): P[miss | J=0.7] = (1-0.7⁴)³² ≈ 1.5e-4,
    * P[miss | J=0.9] ≈ 1.4e-15 — candidate recall is effectively total above
    * the threshold, and false positives are removed by step 4, so the output
    * equals the exact-Jaccard answer w.h.p. (verified against the DuckDB
    * cross-join oracle at sf0.01).
    *
    * `groupExact` (default on) prepends a stage 0 that collapses exact
    * duplicates BEFORE sketching: fingerprint groupBy → sketch only one
    * representative per distinct content → expand rep-level results back to
    * all member pairs (members of one group pair at Jaccard exactly 1.0;
    * cross-group pairs inherit the rep pair's Jaccard, since identical text
    * has identical shingle sets). The output is EXACTLY the ungrouped
    * answer — identical docs share every band bucket, so rep-level candidacy
    * is member-level candidacy — but on a duplicate-heavy corpus (the normal
    * web-crawl case) the sketch/verify stages shrink by the duplication
    * factor and their candidate pairs quadratically. Groups whose shingle
    * set is empty are excluded, matching the ungrouped path (0/0 Jaccard is
    * NaN, which fails every threshold).
    *
    * The grouping key is a hash of the RAW text — deliberately NOT the
    * normalized [[exact]]-dedup fingerprint: shingles are built from raw
    * tokens, so only byte-identical texts provably share a shingle set.
    * Case/punctuation variants fall through to the sketch stage, which
    * scores them as the near-dups they are (a normalized fingerprint here
    * would stamp Jaccard 1.0 onto pairs whose raw shingle sets differ,
    * silently changing the answer). The shuffle carries 8-byte keys — same
    * collision stance as [[exact]]. The proof assumes unique non-null ids:
    * a null-id member of a rep's group pairs with the OTHER side's member
    * as `least`/`greatest` skip the null.
    *
    * Driver path: with integral ids, ONE `limit(localBound + 1)` collect
    * fetches every document's distinct shingle strings and its
    * `MinHashBandHashes` band keys as one posting row each (default
    * [[LocalRowBound]], 2^20 postings — postings, not documents, so a few
    * huge documents cannot slip a large collect past it). The candidates
    * are the distinct id pairs sharing a (band, bucket) key
    * ([[sharedKeyCounts]]), each checked with the exact string-set
    * Jaccard that `verifyJaccard` computes, once per pair of their rows
    * as its join does — the ungrouped answer, which the argument above
    * shows equal to the `groupExact` one. It refuses, and the Spark plan
    * below runs, when the bucket self-join would produce more than
    * `localBound` posting pairs (Σ C(n_bucket, 2)), when a candidate's
    * union is empty (two shingle-less documents share every bucket;
    * Spark's ANSI division raises there), or under `groupExact` when an
    * id is null or repeated (the grouped answer then differs). Driver
    * bytes: ~170 B per collected posting (measured, 3-word shingles on
    * 60% of the rows), so ~170 MB at the bound. The result is a local
    * frame with the Spark plan's schema. String ids, more postings or
    * pairs, or `localBound = 0` run the Spark plan below.
    */
  def minHashLsh(docs: DataFrame, textCol: String, idCol: String,
                 threshold: Double, shingleSize: Int = 3,
                 numHashes: Int = 128, bands: Int = 32,
                 groupExact: Boolean = true,
                 localBound: Int = LocalRowBound)
                (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val byId = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    // one row per posting, tagged with its document row: a repeated id's
    // rows are verified separately, as the Spark join does
    val sh = array_distinct(TF.shingles(col("text"), shingleSize))
    val posting = ArrayType(new StructType()
      .add("s", StringType).add("band", IntegerType).add("bucket", LongType))
    val postings = byId
      .select(monotonically_increasing_id().as("doc"), col("id"), sh.as("sh"))
      .select(col("doc"), col("id"), explode(concat(
          transform(col("sh"),
            s => struct(s, lit(null), lit(null))).cast(posting),
          transform(VF.minhashBandHashes(col("sh"), numHashes, bands),
            (h, b) => struct(lit(null), b, h)).cast(posting))).as("p"))
      .select("doc", "id", "p.s", "p.band", "p.bucket")
    val idField = byId.schema.head
    collectIntegral(postings, idField, localBound)
      .flatMap(minHashLocal(_, threshold, groupExact, localBound))
      .map(pairFrame(byId.sparkSession, idField, _))
      .getOrElse(minHashLshSpark(byId, threshold, shingleSize, numHashes,
        bands, groupExact))
  }

  /** [[minHashLsh]] on the driver over its collected (doc, id, shingle,
    * band, bucket) postings; None where the Spark plan must answer. */
  private def minHashLocal(rows: Array[Row], threshold: Double,
                           groupExact: Boolean,
                           pairWorkBound: Long): Option[Seq[(Long, Long, Double)]] = {
    val (ids, idx) = denseIds(rows, 1)
    // each document row: (dense id index, distinct shingle set)
    val docRows = rows.indices.groupBy(p => rows(p).getLong(0)).values
      .map(ps => (idx(ps.head), ps.iterator.filter(!rows(_).isNullAt(2))
        .map(rows(_).getString(2)).toSet))
      .toSeq
    if (groupExact && (docRows.exists(_._1 < 0) || docRows.size > ids.length))
      return None
    val shOf = docRows.filter(_._1 >= 0).groupMap(_._1)(_._2)
    val bandKeys = rows.indices.iterator.collect {
      case p if idx(p) >= 0 && !rows(p).isNullAt(3) =>
        ((rows(p).getInt(3), rows(p).getLong(4)), idx(p))
    }
    sharedKeyCounts(bandKeys, ids.length, pairWorkBound).flatMap { cands =>
      keepJaccard(ids, threshold, for {
        (a, b, _) <- cands; sa <- shOf(a); sb <- shOf(b)
      } yield {
        val inter = if (sa.size <= sb.size) sa.count(sb) else sb.count(sa)
        (a, b, inter.toLong, (sa.size + sb.size - inter).toLong)
      })
    }
  }

  /** The Spark plan of [[minHashLsh]] over its (id, text) projection. */
  private def minHashLshSpark(byId: DataFrame, threshold: Double,
                              shingleSize: Int, numHashes: Int, bands: Int,
                              groupExact: Boolean)
                             (implicit scope: CacheScope): DataFrame = {
    val base = spread(byId)

    // stage 0 (optional): exact-dup collapse. The cached frames are tiny id
    // maps (16–24 bytes/row); the corpus text is deliberately NOT cached (it
    // re-scans once for the rep projection, cheap next to sketching
    // dup-factor× more docs). `idFp` is cached because BOTH the rep
    // aggregation and the member join consume it — without the cache the
    // regex-normalizing fingerprint pass would run twice over the corpus
    // (measured ~6 s/pass at the 100k-doc soak).
    val (sketchInput, members) =
      if (groupExact) {
        val idFp = scope.cache(
          base.select(col("id"), xxhash64(col("text")).as("fp")))
        val reps = idFp.groupBy("fp").agg(min("id").as("rep"))
        val m = scope.cache(
          idFp.join(reps, "fp").select(col("id"), col("rep")))
        val repDocs = base.join(
          m.filter(col("id") === col("rep")).select("id"), "id")
        (repDocs, Some(m))
      } else (base, None)

    // Staged projections, each materialized once per row (CollapseProject
    // keeps multi-referenced expensive columns separate): shingle set →
    // band bucket hashes (minhash signature + banding fused in ONE custom
    // codegen'd kernel, `MinHashBandHashes` — the HOF equivalent unrolls
    // into numHashes subtrees whose generated Java takes seconds to compile
    // per query). The (id, shingles, bands) projection is persisted because
    // BOTH sides of the bucket self-join and the verify join consume it —
    // without the cache Spark recomputes the pipeline once per consumer
    // (self-joins get no subplan reuse). Size is O(docs × (shingles +
    // bands)) — derived sketch data, far smaller than the corpus;
    // MEMORY_AND_DISK spills rather than OOMs.
    val withSig = scope.cache(
      sketchInput
        .withColumn("sh", array_distinct(TF.shingles(col("text"), shingleSize)))
        .withColumn("bands",
          VF.minhashBandHashes(col("sh"), numHashes, bands))
        .select("id", "sh", "bands"))

    val banded = withSig.select(
      col("id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))

    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()

    val repPairs =
      verifyJaccard(candidates, withSig.select(col("id"), col("sh")), threshold)

    members match {
      case None => repPairs
      case Some(m) =>
        val x = m.select(col("id").as("x_id"), col("rep").as("x_rep"))
        val y = m.select(col("id").as("y_id"), col("rep").as("y_rep"))
        // within-group: every member pair of a non-empty-shingle group is an
        // exact duplicate (Jaccard 1.0)
        val nonEmpty = withSig.filter(size(col("sh")) > 0)
          .select(col("id").as("x_rep"))
        val withinAll = x.join(y,
            col("x_rep") === col("y_rep") && col("x_id") < col("y_id"))
          .join(nonEmpty, "x_rep")
          .select(col("x_id").as("a_id"), col("y_id").as("b_id"),
            lit(1.0).as("jaccard"))
        // identical docs pair at exactly 1.0 — they clear any threshold ≤ 1
        val within =
          if (threshold <= 1.0) withinAll else withinAll.limit(0)
        // cross-group: expand each rep pair to its groups' cross product
        // (equi-joins on rep ids; output-proportional, as any pair list is)
        val cross = repPairs
          .join(x.select(col("x_id"), col("x_rep").as("a_id")), "a_id")
          .join(y.select(col("y_id"), col("y_rep").as("b_id")), "b_id")
          .select(least(col("x_id"), col("y_id")).as("a_id"),
            greatest(col("x_id"), col("y_id")).as("b_id"), col("jaccard"))
        within.unionByName(cross)
    }
  }

  // ------------------------------------------------------------------
  // Persisted dedup index — the daily-ingest path
  // ------------------------------------------------------------------

  /** The (id, band, bucket) MinHash band table of a corpus — the slim
    * candidate-generation state of [[minHashLsh]], factored out so it can be
    * persisted. One row per (doc, band): 8-byte id + ints, independent of
    * document length. */
  private def minhashBandTable(docs: DataFrame, textCol: String, idCol: String,
                               shingleSize: Int, numHashes: Int,
                               bands: Int): DataFrame =
    spread(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("sh", array_distinct(TF.shingles(col("text"), shingleSize)))
      .select(col("id"),
        posexplode(VF.minhashBandHashes(col("sh"), numHashes, bands))
          .as(Seq("band", "bucket")))

  /** Persist the MinHash band table of `docs` at `path` (parquet) — the
    * historical-corpus half of incremental dedup. The corpus-wide shingling
    * + sketching pass is paid ONCE; every later ingest batch joins its own
    * (tiny) band table against the stored one instead of re-sketching
    * 100 TB of history. A params side table records (shingle_size,
    * num_hashes, bands) so batch-side sketches are provably computed with
    * the same hash family. Same layout stance as
    * [[graft.operators.Similarity.buildLshIndex]]. */
  def buildMinHashIndex(docs: DataFrame, textCol: String, idCol: String,
                        path: String, shingleSize: Int = 3,
                        numHashes: Int = 128, bands: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Store.create(path, "index", Seq("shingle_size" -> shingleSize,
        "num_hashes" -> numHashes, "bands" -> bands)) {
      minhashBandTable(docs, textCol, idCol, shingleSize, numHashes, bands)
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Append a new batch's band rows to an existing [[buildMinHashIndex]]
    * index — run AFTER the batch has been deduped via
    * [[nearDupAgainstIndex]], so the next batch sees it as history. Only
    * the new documents pay the sketch pass (additional parquet part files;
    * the indexed corpus is untouched). Stored params are reused, so
    * appended rows come from the same hash family by construction. The
    * caller owns id uniqueness across appends. `compactFileThreshold`
    * opts into the auto-compaction cadence
    * ([[graft.store.Store.append]]): once the live band table has
    * that many part files the append folds the index itself. */
  def appendToMinHashIndex(docs: DataFrame, textCol: String, idCol: String,
                           path: String,
                           compactFileThreshold: Int = 0): Unit = {
    val spark = docs.sparkSession
    val p = Store.params(spark, path)
    val bandTable = minhashBandTable(docs, textCol, idCol,
      p.getAs[Int]("shingle_size"), p.getAs[Int]("num_hashes"),
      p.getAs[Int]("bands"))
    Store.append(spark, path, "index", compactFileThreshold) {
      bandTable.write.mode("append").parquet(_)
    }
  }

  /** Incremental near-dup: score a NEW ingest batch against itself AND the
    * already-indexed corpus, without re-sketching the corpus — the shape a
    * daily 100 TB pipeline actually runs (dedup the delta, then
    * [[appendToMinHashIndex]] it).
    *
    * Output: exactly the [[minHashLsh]] pairs of (corpus ∪ batch) in which
    * at least one endpoint is a batch document — (a_id, b_id, jaccard),
    * a_id < b_id, jaccard ≥ threshold (batch-batch pairs and batch-history
    * pairs; history-history pairs were reported when THEIR batches arrived).
    * Candidates come from two equi-joins on (band, bucket): batch×batch
    * self-join and batch×index join — the stored index is never
    * self-joined, so per-batch cost is O(batch × history/bucket), not
    * O(history²). Verification is exact Jaccard; only candidate ids' texts
    * are fetched from `corpus` (id equi-join — the full history is never
    * shingled again).
    *
    * Contract: `docs` must not already be in the index (dedup-then-append),
    * and ids are unique across corpus ∪ batch. `corpus` must cover every
    * indexed id (it supplies verification text by id).
    */
  def nearDupAgainstIndex(docs: DataFrame, corpus: DataFrame,
                          indexPath: String, textCol: String, idCol: String,
                          threshold: Double)
                         (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = docs.sparkSession
    val p = Store.params(spark, indexPath)
    val (shingleSize, numHashes, bands) = (p.getAs[Int]("shingle_size"),
      p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"))
    // the batch's shingle sets feed BOTH the sketch and the verify stage —
    // cache them (derived data, O(batch)) so the regex pass runs once
    val newSh = scope.cache(
      spread(docs.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"),
          array_distinct(TF.shingles(col("text"), shingleSize)).as("sh")))
    // batch band table: consumed by the self-join (both sides) and the
    // index join — three consumers, one tiny cached frame
    val newBand = scope.cache(
      newSh.select(col("id"),
        posexplode(VF.minhashBandHashes(col("sh"), numHashes, bands))
          .as(Seq("band", "bucket"))))
    val idx = Store.read(spark, indexPath, "index")
      .select(col("id").as("o_id"), col("band"), col("bucket"))
    val a = newBand.as("a")
    val b = newBand.as("b")
    val newSelf = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    val newOld = newBand.join(idx,
        newBand("band") === idx("band") && newBand("bucket") === idx("bucket"))
      .select(least(col("id"), col("o_id")).as("a_id"),
        greatest(col("id"), col("o_id")).as("b_id"))
    val candidates = newSelf.unionByName(newOld).distinct()
    // verification shingles: batch side from the cache; history side only
    // for ids that actually appear in a candidate pair
    val oldIds = candidates
      .select(explode(array(col("a_id"), col("b_id"))).as("id")).distinct()
      .join(newSh.select("id"), Seq("id"), "left_anti")
    val oldSh = spread(corpus.select(col(idCol).as("id"), col(textCol).as("text")))
      .join(oldIds, "id")
      .select(col("id"),
        array_distinct(TF.shingles(col("text"), shingleSize)).as("sh"))
    verifyJaccard(candidates, newSh.unionByName(oldSh), threshold)
  }

  /** Exact-Jaccard verification of EXTERNALLY generated candidate pairs —
    * the batch half of the streaming near-dup pipeline
    * ([[graft.streaming.Streaming.streamingNearDupCandidates]] emits
    * band-bucket candidates online; this scores them): recompute shingle
    * sets once and keep pairs at or above `threshold`. Same contract as
    * the verify stage inside [[minHashLsh]]. */
  def verifyCandidates(docs: DataFrame, pairs: DataFrame, textCol: String,
                       idCol: String, threshold: Double,
                       shingleSize: Int = 3)
                      (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    // cached: verifyJaccard joins the shingle frame TWICE (a_id and b_id
    // sides) and the regex shingling would otherwise run once per side —
    // the same double-scan the contamination cache eliminates (NOTES.md)
    val sh = scope.cache(
      spread(docs.select(col(idCol).as("id"), col(textCol)))
        .select(col("id"),
          array_distinct(TF.shingles(col(textCol), shingleSize)).as("sh")))
    verifyJaccard(pairs.select("a_id", "b_id"), sh, threshold)
  }

  /** Exact word-shingle Jaccard for candidate pairs (a_id, b_id), joined
    * back to precomputed shingle sets (id, sh). Intersect/union are native
    * expressions. */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    pairs
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "sh_b"), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup: 64-bit fingerprints + pigeonhole blocking.
    *
    * Fingerprints with hamming distance ≤ k must agree exactly on at least
    * one of k+1 disjoint bit-chunks (Manku/Jain/Sarma, WWW'07) — so the
    * chunk count is derived as `maxHamming + 1` (widths 64/(k+1), the first
    * 64 mod (k+1) chunks one bit wider) and candidates come from equi-joins
    * on the chunks, never a cross join. Exact candidate recall holds for
    * ANY `maxHamming` ≤ 63 by construction; larger k ⇒ narrower chunks ⇒
    * bigger candidate buckets (the usual precision/recall trade).
    * Output: pairs with their hamming distance (`bit_count` of the XOR —
    * native, codegen'd).
    *
    * Candidate-pair bound: with w-bit chunks a uniform corpus of n docs puts
    * n/2ʷ docs in a bucket, so candidates grow O(nChunks · n²/2ʷ) — at 10⁹
    * docs and 16-bit chunks that is ~10¹³ pairs. `maxBucket` is the skew/
    * scale guard (mirroring `ngramJaccard.maxDf`): chunk buckets holding
    * more than `maxBucket` docs are dropped before the self-join, capping
    * candidates at nChunks · #buckets · C(maxBucket, 2). Statistically a
    * chunk value shared by a huge fraction of the corpus (e.g. the all-zero
    * chunk from boilerplate) carries no near-dup signal — the same argument
    * as dropping stopword shingles. A pair is missed only if EVERY chunk it
    * agrees on is over-full; with the default no test-scale bucket comes
    * close, so pigeonhole exactness is preserved (asserted in PipelineSpec).
    */
  def simHash(docs: DataFrame, textCol: String, idCol: String,
              maxHamming: Int = 3, maxBucket: Long = 100000L)
             (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val withSig = spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), VF.simhash64(TF.tokens(TF.normText(col(textCol)))).as("sig"))
    chunkBlockPairs(withSig, bits = 64, maxHamming, maxBucket)
  }

  /** [[simHash]] with a PORTABLE fingerprint: the per-token hash is the
    * top 60 bits of `md5(token)` (via built-in `md5`/`conv` — no custom
    * expression), so the exact fingerprint — and therefore the exact pair
    * set — is reproducible in any engine that has md5, which is what lets
    * the d3 gate carry a hard DuckDB oracle (an independent engine
    * computes the same signatures and takes exact all-pairs hamming).
    * 60 bits keeps the value positive in a signed 64-bit integer on both
    * engines. Same pigeonhole blocking, guards, and scale shape as
    * [[simHash]]; the FNV fast path remains the production default (one
    * 64-bit hash per token vs an md5 per token here). */
  def simHashPortable(docs: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBucket: Long = 100000L)
                     (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val withSig = spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        portableSimhash60(TF.tokens(TF.normText(col(textCol)))).as("sig"))
    chunkBlockPairs(withSig, bits = 60, maxHamming, maxBucket)
  }

  /** [[simHashPortable]] over a caller-supplied TOKEN-ARRAY column
    * instead of normalized-text words — the seam that lets non-text
    * features (payload byte windows, [[graft.operators.Multimodal
    * .payloadNearDup]]; code identifiers; shingled n-grams) reuse the
    * portable fingerprint + pigeonhole blocking verbatim. Same plan
    * shape: one codegen'd projection for the signature, chunk-key
    * blocking, within-bucket hamming — corpus payloads never shuffle,
    * only (id, 8-byte sig) rows do. */
  def simHashPortableTokens(docs: DataFrame, tokensCol: String,
                            idCol: String, maxHamming: Int = 3,
                            maxBucket: Long = 100000L)
                           (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val withSig = spread(docs.select(col(idCol).as("id"), col(tokensCol)))
      .select(col("id"), portableSimhash60(col(tokensCol)).as("sig"))
    chunkBlockPairs(withSig, bits = 60, maxHamming, maxBucket)
  }

  /** 60-bit md5-family SimHash of a token array, composed entirely from
    * built-in higher-order functions (one md5 per token, then native array
    * folds — single codegen'd projection, no shuffle). */
  private def portableSimhash60(tokens: Column): Column = {
    val idx = sequence(lit(0), lit(59))
    // one md5 per token, materialized before the per-bit fold
    val hs = transform(tokens, t =>
      conv(substr(md5(t), lit(1), lit(15)), 16, 10).cast("long"))
    val counters = aggregate(hs, array_repeat(lit(0), 60),
      (acc, h) => zip_with(acc,
        transform(idx, i =>
          when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1, 1)
            .otherwise(-1)),
        (a, b) => a + b))
    aggregate(
      zip_with(counters, idx, (c, i) =>
        when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }

  /** Shared pigeonhole blocking over a (id, sig) fingerprint frame — the
    * Manku/Jain/Sarma chunk machinery of [[simHash]], parameterized by the
    * fingerprint width so the 64-bit FNV and 60-bit portable families use
    * identical candidate generation and guards. */
  private def chunkBlockPairs(withSig: DataFrame, bits: Int,
                              maxHamming: Int, maxBucket: Long)
                             (implicit scope: CacheScope): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, ${bits - 1}], got $maxHamming")
    val nChunks = maxHamming + 1
    val base = bits / nChunks
    val rem = bits % nChunks
    val widths = Seq.tabulate(nChunks)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkCols = offsets.zip(widths).map { case (off, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1
      shiftrightunsigned(col("sig"), off).bitwiseAND(lit(mask))
    }
    // both sides of the chunk self-join consume this — cache (24 bytes/row
    // × nChunks) so the normalize+tokenize+simhash pass runs once
    val chunked = scope.cache(withSig.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk_idx", "chunk"))))
    // bucket-size guard: one map-side-combined aggregate over the cached
    // chunk table finds over-full buckets (normally a tiny — often empty —
    // set, so the anti-join broadcasts)
    val heavy = chunked.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucket)
      .select("chunk_idx", "chunk")
    val pruned = chunked.join(heavy, Seq("chunk_idx", "chunk"), "left_anti")
    val a = pruned.as("a")
    val b = pruned.as("b")
    a.join(b,
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // filter BEFORE distinct: hamming is a pure function of the pair, so
      // the results agree — but filtering first keeps far candidates (the
      // bulk, at narrow chunks) out of the distinct's shuffle entirely
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard dedup via inverted-index join (no sketching):
    * explode distinct shingles, equi-join on the shingle, count shared
    * shingles per pair, Jaccard = |∩| / (|A| + |B| − |∩|).
    *
    * `maxDf` drops shingles present in more than that many documents —
    * the skew guard that keeps the shingle-join shuffle bounded at corpus
    * scale (a stopword shingle would otherwise produce a quadratic bucket).
    *
    * Driver path: with integral ids, ONE `limit(localBound + 1)` collect
    * of the (id, xxhash64(shingle)) postings is both the size check and
    * the fetch (default [[LocalRowBound]], 2^20 postings — postings, not
    * documents, so a few huge documents cannot slip a large collect past
    * it). The join then runs on the driver ([[sharedKeyCounts]]): the
    * same `maxDf` guard with df counted over every posting (null ids
    * included), |sh(doc)| as the doc's posting count, and the same
    * double division. It refuses, and the Spark plan below runs, when
    * the self-join would produce more than `localBound` posting pairs
    * (Σ C(n_shingle, 2)), or when a pair's denominator is zero (only a
    * repeated id can do that; Spark's ANSI division raises there). Driver
    * bytes: ~110 B per collected posting (measured), so ~110 MB at the
    * bound. The result is a local frame with the Spark plan's schema.
    * String ids, more postings or pairs, or `localBound = 0` run the
    * Spark plan below.
    */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double, shingleSize: Int = 2,
                   maxDf: Long = 1000L, localBound: Int = LocalRowBound)
                  (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val byId = docs.select(col(idCol).as("id"), col(textCol))
    // Postings carry xxhash64(shingle), not the gram text: an 8-byte key
    // roughly halves the posting row and the self-join's key compares.
    // Collisions could merge two distinct shingles' postings (overcount
    // one pair's intersection by 1, or pool df across two grams) with
    // P ≈ distinct-shingles²/2⁶⁵ — zero in practice at any corpus size;
    // the d4/d8/d17/d18 oracles group by the gram TEXT, so a collision
    // would surface as a gate mismatch (the duplicateWindowSpans
    // convention).
    def postings(df: DataFrame): DataFrame =
      df.select(col("id"),
          explode(array_distinct(TF.shingles(col(textCol), shingleSize)))
            .as("__s"))
        .select(col("id"), xxhash64(col("__s")).as("shingle"))
    val idField = byId.schema.head
    collectIntegral(postings(byId), idField, localBound)
      .flatMap(ngramJaccardLocal(_, threshold, maxDf, localBound))
      .map(pairFrame(byId.sparkSession, idField, _))
      .getOrElse(ngramJaccardSpark(postings(spread(byId)), threshold, maxDf))
  }

  /** [[ngramJaccard]] on the driver over its collected (id, shingle)
    * postings; None where the Spark plan must answer instead. */
  private def ngramJaccardLocal(rows: Array[Row], threshold: Double,
                                maxDf: Long,
                                pairWorkBound: Long): Option[Seq[(Long, Long, Double)]] = {
    val (ids, idx) = denseIds(rows, 0)
    val size = new Array[Long](ids.length)
    idx.foreach(i => if (i >= 0) size(i) += 1)
    val df = mutable.LongMap.empty[Int]
    rows.foreach(r => df(r.getLong(1)) = df.getOrElse(r.getLong(1), 0) + 1)
    val kept = rows.indices.iterator.collect {
      case p if idx(p) >= 0 && df(rows(p).getLong(1)) <= maxDf =>
        (rows(p).getLong(1), idx(p))
    }
    sharedKeyCounts(kept, ids.length, pairWorkBound).flatMap { shared =>
      keepJaccard(ids, threshold, shared.map { case (a, b, inter) =>
        (a, b, inter.toLong, size(a) + size(b) - inter) })
    }
  }

  /** The Spark plan of [[ngramJaccard]] over its (id, shingle) postings. */
  private def ngramJaccardSpark(postings: DataFrame, threshold: Double,
                                maxDf: Long)
                               (implicit scope: CacheScope): DataFrame = {
    // ONE scan + shingle explode, cached — the df guard, the anti-join,
    // BOTH self-join sides AND the per-doc set sizes all read it (the
    // previous shape re-ran the scan + regex shingling four times: once
    // for the guard, once into the cache, twice for the sizes joins).
    val inv = scope.cache(postings)
    // |sh(doc)| derived from the SAME cached postings (rows are distinct
    // per doc by construction) — docs with zero shingles have no rows,
    // which is fine: they can never appear in a candidate pair, and both
    // joins below are inner.
    val sizes = inv.groupBy("id").agg(count(lit(1)).as("n"))
    // document frequency via a map-side-combined aggregate (NOT a window,
    // which would sort+shuffle every posting): the over-frequent shingle
    // set is tiny, so the anti-join against it broadcasts.
    val heavy = inv.groupBy("shingle")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("shingle")
    val pruned = inv.join(broadcast(heavy), Seq("shingle"), "left_anti")
    val a = pruned.as("a")
    val b = pruned.as("b")
    val shared = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n", "n_b"), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // Driver half of the bucket-join detectors
  // ------------------------------------------------------------------

  private def isIntegral(t: DataType): Boolean =
    Seq(ByteType, ShortType, IntegerType, LongType).contains(t)

  /** The posting rows when the id type is integral and they fit
    * `bound` ([[collectAtMost]]); else None. */
  private def collectIntegral(postings: DataFrame, idField: StructField,
                              bound: Int): Option[Array[Row]] =
    if (isIntegral(idField.dataType)) collectAtMost(postings, bound) else None

  /** The distinct non-null integral ids of column `i`, ascending, and
    * each row's index into them (-1 for a null id): a smaller index IS a
    * smaller id. */
  private def denseIds(rows: Array[Row], i: Int): (Array[Long], Array[Int]) = {
    val ids = rows.iterator.filter(!_.isNullAt(i))
      .map(_.getAs[Number](i).longValue).toArray.distinct
    java.util.Arrays.sort(ids)
    (ids, rows.map(r =>
      if (r.isNullAt(i)) -1
      else java.util.Arrays.binarySearch(ids, r.getAs[Number](i).longValue)))
  }

  /** The driver spelling of the self-join both detectors run,
    * `a.key = b.key AND a.id < b.id` grouped by (a.id, b.id) and counted:
    * for every pair of dense id indices a < b sharing a key, how many
    * (posting of a, posting of b) pairs share one. `postings` are
    * (key, dense id index); a repeated id or key repeats its posting.
    * Before counting anything it refuses with None when that join would
    * produce more than `pairWorkBound` rows (Σ C(n_key, 2)), which
    * bounds both the driver time and the pairs it returns. Each id
    * accumulates its counts in one dense array over the keys it posts
    * to, so the work is that join's row count and nothing holds a pair
    * map. */
  private def sharedKeyCounts[K](postings: Iterator[(K, Int)], nIds: Int,
                                 pairWorkBound: Long): Option[Seq[(Int, Int, Int)]] = {
    val byKey = mutable.HashMap.empty[K, mutable.ArrayBuilder.ofInt]
    postings.foreach { case (k, i) =>
      byKey.getOrElseUpdate(k, new mutable.ArrayBuilder.ofInt) += i }
    val buckets = byKey.valuesIterator.map(_.result()).filter(_.length > 1).toArray
    if (buckets.iterator.map(b => b.length.toLong * (b.length - 1) / 2).sum >
        pairWorkBound) return None
    buckets.foreach(java.util.Arrays.sort(_))
    // CSR: the buckets each id posts to, one entry per posting
    val start = new Array[Int](nIds + 1)
    buckets.foreach(_.foreach(i => start(i + 1) += 1))
    for (i <- 0 until nIds) start(i + 1) += start(i)
    val next = start.clone()
    val bucketOf = new Array[Int](start(nIds))
    buckets.indices.foreach(k => buckets(k).foreach { i =>
      bucketOf(next(i)) = k; next(i) += 1 })
    val count = new Array[Int](nIds)
    val touched = new Array[Int](nIds)
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    for (a <- 0 until nIds) {
      var nTouched = 0
      for (p <- start(a) until start(a + 1)) {
        val bucket = buckets(bucketOf(p))
        // first entry above a: the bucket is sorted
        var lo = 0
        var hi = bucket.length
        while (lo < hi) {
          val m = (lo + hi) >>> 1
          if (bucket(m) <= a) lo = m + 1 else hi = m
        }
        while (lo < bucket.length) {
          val b = bucket(lo)
          if (count(b) == 0) { touched(nTouched) = b; nTouched += 1 }
          count(b) += 1
          lo += 1
        }
      }
      for (t <- 0 until nTouched) {
        out += ((a, touched(t), count(touched(t))))
        count(touched(t)) = 0
      }
    }
    Some(out.toSeq)
  }

  /** The id pairs whose Jaccard, intersection / denominator in double as
    * the Spark plans divide, is at least `threshold`; `scored` holds
    * (a, b, intersection, denominator) over dense id indices. None when a
    * denominator is zero: Spark's ANSI division raises there, so the
    * Spark plan must answer. */
  private def keepJaccard(ids: Array[Long], threshold: Double,
                          scored: Seq[(Int, Int, Long, Long)]): Option[Seq[(Long, Long, Double)]] =
    if (scored.exists(_._4 == 0)) None
    else Some(scored.iterator
      .map { case (a, b, inter, d) => (ids(a), ids(b), inter.toDouble / d.toDouble) }
      .filter(_._3 >= threshold).toSeq)

  /** A driver-computed (a_id, b_id, jaccard) result as a local frame
    * with the Spark plans' schema: both ids of the input id's type and
    * nullability, jaccard a nullable double. */
  private def pairFrame(spark: SparkSession, idField: StructField,
                        pairs: Seq[(Long, Long, Double)]): DataFrame = {
    def box(v: Long): Any = idField.dataType match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    val schema = new StructType()
      .add("a_id", idField.dataType, idField.nullable)
      .add("b_id", idField.dataType, idField.nullable)
      .add("jaccard", DoubleType)
    spark.createDataFrame(
      pairs.map { case (a, b, j) => Row(box(a), box(b), j) }.asJava, schema)
  }

  /** Train→eval n-gram contamination check — the "did benchmark data leak
    * into the training corpus" pass a training pipeline runs before any
    * job (cf. the 13-gram overlap scrub in GPT-3's appendix C).
    *
    * For each eval document, containment C(e,t) = |sh(e) ∩ sh(t)| / |sh(e)|
    * against each train document; pairs at or above `threshold` are
    * flagged. Containment is asymmetric by design: a short benchmark item
    * quoted verbatim inside a long train document is 100% contaminated even
    * though its symmetric Jaccard would be tiny.
    *
    * Scale shape is [[ngramJaccard]]'s inverted index made bipartite:
    * postings equi-join on the shingle (never a cross join), with the
    * `maxDf` stop-shingle guard computed on the TRAIN side (the 100 TB
    * side — boilerplate shingles carry no contamination signal and would
    * otherwise dominate the join). The guard prunes postings but the
    * denominator stays the FULL |sh(e)|, so a dropped shingle can only
    * lower a pair's containment, never inflate it. Eval sets are small;
    * the per-eval-doc aggregate shuffles one row per surviving pair. */
  def contamination(train: DataFrame, eval: DataFrame, textCol: String,
                    idCol: String, threshold: Double = 0.5,
                    shingleSize: Int = 3, maxDf: Long = 1000L,
                    hashPostings: Boolean = false)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    def shingled(df: DataFrame, id: String) =
      spread(df.select(col(idCol).as(id), col(textCol)))
        .select(col(id),
          array_distinct(TF.shingles(col(textCol), shingleSize)).as("sh"))
    // `hashPostings` replaces each posting's shingle string with its
    // xxhash64 — at the 8–13-gram sizes real contamination scrubs use,
    // raw strings dominate the posting shuffle and an 8-byte key halves
    // it. A collision can only overcount one pair's intersection by 1
    // (P ≈ distinct-shingles²/2⁶⁴); keep strings where an external oracle
    // must reproduce the counts.
    def key(c: Column) = if (hashPostings) xxhash64(c) else c
    val tr = shingled(train, "t_id")
    val ev = shingled(eval, "e_id")
    val evSizes = ev.select(col("e_id"), size(col("sh")).as("n_e"))
    // cache the train postings: consumed TWICE (heavy-shingle aggregate +
    // the candidate join), and without the cache each consumer re-runs the
    // regex shingling over the 100 TB side — measured 30 s → ~19 s on the
    // 100k-doc soak (NOTES.md)
    val tInv = scope.cache(
      tr.select(col("t_id"), explode(col("sh")).as("__s"))
        .select(col("t_id"), key(col("__s")).as("shingle")))
    val eInv = ev.select(col("e_id"), explode(col("sh")).as("__s"))
      .select(col("e_id"), key(col("__s")).as("shingle"))
    val heavy = tInv.groupBy("shingle")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("shingle")
    val shared = tInv.join(heavy, Seq("shingle"), "left_anti")
      .join(eInv, "shingle")
      .groupBy("t_id", "e_id")
      .agg(count(lit(1)).as("inter"))
    shared.join(evSizes, "e_id")
      .select(col("t_id"), col("e_id"),
        (col("inter").cast("double") / col("n_e").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Full corpus dedup, staged the way a 100 TB pipeline runs it:
    *
    *   1. EXACT pass first: fingerprint groupBy collapses identical content
    *      to one representative — on duplicate-heavy corpora this shrinks
    *      the expensive sketch stage by the duplication factor (and its
    *      candidate pairs quadratically);
    *   2. NEAR-DUP pass on representatives only (MinHash+LSH + exact
    *      verify);
    *   3. keep-set. Default: one-hop greedy — of each near-dup pair, the
    *      lower id survives (the standard cheap approximation; keeps every
    *      LOCAL-minimum id, so a component with several local minima — e.g.
    *      docs 1–10–2 chained through 10 — retains both 1 and 2).
    *      `transitive = true` runs [[connectedComponents]] over the pair
    *      graph instead and keeps exactly one doc (the min id) per
    *      transitive component, at the cost of the O(diameter) label
    *      propagation.
    *
    * Returns (id, rep, keep): every document, its exact-content
    * representative, and whether it survives dedup. Soak-measured 10×
    * faster than sketching the raw corpus on a 10×-duplicated 50k-doc
    * input. `localBound` goes to [[minHashLsh]] and, with `transitive`,
    * to [[connectedComponents]]: 0 runs both on Spark.
    */
  def dedupCorpus(docs: DataFrame, textCol: String, idCol: String,
                  threshold: Double, shingleSize: Int = 3,
                  transitive: Boolean = false,
                  localBound: Int = LocalRowBound)
                 (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val fp = spread(docs.select(col(idCol).as("id"), col(textCol).as("text")))
      .withColumn("fp", TF.fingerprint(col("text")))
    val reps = fp.groupBy("fp").agg(min("id").as("rep"))
    val withRep = scope.cache(
      fp.join(reps, "fp").select(col("id"), col("rep"), col("text")))
    val repDocs = withRep.filter(col("id") === col("rep"))
      .select(col("id"), col("text"))
    // groupExact=false: this input is already exact-deduped (stage 1), so
    // the sketch's own collapse stage would only re-fingerprint singletons
    val nearPairs = minHashLsh(repDocs, "text", "id", threshold, shingleSize,
      groupExact = false, localBound = localBound)
    if (transitive) {
      val comp = connectedComponents(repDocs.select("id"), nearPairs,
        "id", "a_id", "b_id", localBound = localBound)
        .select(col("id").as("rep"), col("component").as("__comp"))
      withRep.join(comp, Seq("rep"))
        .select(col("id"), col("rep"),
          (col("id") === col("rep") && col("rep") === col("__comp")).as("keep"))
    } else {
      // greedy: the higher-id representative of every near-dup pair is dropped
      val dropped = nearPairs.select(col("b_id").as("rep")).distinct()
      withRep.join(dropped.withColumn("__drop", lit(true)), Seq("rep"), "left")
        .select(col("id"), col("rep"),
          (col("id") === col("rep") && col("__drop").isNull).as("keep"))
    }
  }

  /** Connected components over a near-duplicate pair list: every document
    * labeled with the smallest id reachable through the edge set — the
    * transitive grouping [[dedupCorpus]]'s one-hop greedy approximates.
    * "Keep one doc per component" is then `id === component`.
    *
    * Algorithm: min-label propagation. Each round every node takes the min
    * of its own label and its neighbors' labels (one equi-join edge⋈label +
    * one map-side-combined min-aggregate per round); converged when no label
    * changes. Rounds needed = the component graph's diameter — near-dup
    * components are shallow (dozens of docs chained through mutual overlap),
    * so this converges in a handful of rounds; `maxIter` bounds the
    * pathological case and the operator THROWS if it hits the bound without
    * converging (a silently-partial grouping would corrupt a dedup
    * downstream).
    *
    * Scale notes: state per round is one (id, label) frame — 16 bytes/row —
    * `localCheckpoint`ed eagerly each round. The checkpoint is load-bearing,
    * not an optimization: every round references the previous labels TWICE
    * (neighbor join + fallback), so without lineage truncation the logical
    * plan doubles per round and analysis itself OOMs after ~12 rounds
    * (persist alone does not truncate the plan). On a cluster, reliable
    * `checkpoint()` to durable storage is the fault-tolerant variant (a lost
    * executor can't replay a truncated lineage). Edges are cached once,
    * symmetrized. The convergence test is a count over the joined old/new
    * labels — one action per round. For graphs with deep chains
    * (diameter ≫ 20) prefer the large-star/small-star contraction (Kiveris
    * et al.), which converges in O(log n) rounds; near-dup graphs don't
    * need it.
    *
    * Driver path: with integral ids and at most `localBound` edges
    * (default [[LocalRowBound]], 2^20), ONE `limit(bound + 1)` collect of
    * the cached oriented edges is both the size check and the fetch, and
    * a union-find whose roots are the minimum ids gives the labels —
    * propagation's fixpoint, which depends only on the edge set, so
    * `algorithm` does not matter. Orphan endpoints are refused by one
    * anti-join of those labels against `nodes`; the result is `nodes`
    * left-joined to the broadcast labels, with `CcStats("local", 0, Nil)`.
    * Driver bytes: ~100 B per collected edge (measured), so ~110 MB at
    * the bound. String ids, null endpoints, more edges, or
    * `localBound = 0` run the Spark fixpoints above, and `maxIter` bounds
    * only them.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          idCol: String, aCol: String, bCol: String,
                          maxIter: Int = 20, algorithm: String = "label",
                          localBound: Int = LocalRowBound)
                         (implicit scope: CacheScope = CacheScope.global): DataFrame =
    connectedComponentsWithStats(nodes, edges, idCol, aCol, bCol,
      maxIter, algorithm, localBound)._1

  /** Convergence telemetry for one [[connectedComponents]] run: `rounds`
    * executed and the per-round progress metric (label changes for
    * "label", edge symmetric-difference for "star"). This is the signal
    * a 100 TB pipeline watches: label-prop's round count tracks graph
    * DIAMETER — flat-lining non-zero tails mean a deep chain crept into
    * the near-dup graph and the run should move to "star" (O(log n)
    * rounds regardless of diameter, at ~2–3× the per-round cost). A run
    * answered on the driver reports `CcStats("local", 0, Nil)`. */
  case class CcStats(algorithm: String, rounds: Int,
                     changedPerRound: Seq[Long])

  /** [[connectedComponents]] plus its [[CcStats]] — same result frame. */
  def connectedComponentsWithStats(nodes: DataFrame, edges: DataFrame,
                                   idCol: String, aCol: String, bCol: String,
                                   maxIter: Int = 20,
                                   algorithm: String = "label",
                                   localBound: Int = LocalRowBound)
                                  (implicit scope: CacheScope = CacheScope.global): (DataFrame, CcStats) = {
    require(algorithm == "label" || algorithm == "star",
      s"unknown algorithm '$algorithm' (want 'label' or 'star')")
    // The symmetrizing self-union references `edges` twice, and Spark
    // gives a self-union no subplan reuse — when the edge list comes out
    // of an expensive detector (ngramJaccard's posting self-join), the
    // WHOLE detector plan used to execute twice inside one job. Cache the
    // oriented pairs first: the union's two branches read the cached rows.
    val oriented = scope.cache(
      edges.select(col(aCol).as("src"), col(bCol).as("dst")))
    val nodeIds = nodes.select(col(idCol).as("id"))
    val integral = Seq(nodeIds, oriented).flatMap(_.schema.fields)
      .forall(f => isIntegral(f.dataType))
    val local =
      if (!integral) None
      else collectAtMost(oriented, localBound)
        .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    local match {
      case Some(pairs) =>
        (localComponents(nodeIds, pairs, idCol), CcStats("local", 0, Nil))
      case None =>
        val (labels, changed) =
          distributedComponents(nodeIds, oriented, idCol, maxIter, algorithm)
        (labels, CcStats(algorithm, changed.size, changed))
    }
  }

  /** An edge endpoint missing from `nodes` would be SILENTLY ignored by
    * the propagation joins, under-merging components — both paths refuse
    * it up front with this check (`ids`: the distinct edge endpoints). */
  private def requireEndpointsInNodes(ids: DataFrame, nodeIds: DataFrame): Unit = {
    val orphans = ids.join(nodeIds, Seq("id"), "left_anti").count()
    require(orphans == 0,
      s"connectedComponents: $orphans edge endpoint(s) missing from nodes — " +
        "pass a node frame covering every pair endpoint")
  }

  /** Union-find over collected integral edges, every root the minimum id
    * of its component — the label-propagation fixpoint, which depends
    * only on the edge set. Nodes on no edge keep their own id. */
  private def localComponents(nodeIds: DataFrame, pairs: Array[Row],
                              idCol: String): DataFrame = {
    val spark = nodeIds.sparkSession
    import spark.implicits._
    def endpoint(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    // distinct endpoints in ascending order: a smaller index IS a smaller id
    val ids = pairs.flatMap(r => Array(endpoint(r, 0), endpoint(r, 1))).distinct
    java.util.Arrays.sort(ids)
    def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val parent = Array.range(0, ids.length)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    pairs.foreach { r =>
      val a = find(index(endpoint(r, 0)))
      val b = find(index(endpoint(r, 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = ids.indices.map(i => (ids(i), ids(find(i))))
      .toDF("id", "label")
    requireEndpointsInNodes(labels.select("id"), nodeIds)
    val idType = nodeIds.schema.head.dataType
    nodeIds.join(broadcast(labels), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label").cast(idType), col("id")).as("component"))
  }

  /** The Spark fixpoints: symmetrize the cached oriented edges, check
    * the endpoints, then label propagation or star contraction. */
  private def distributedComponents(nodeIds: DataFrame, oriented: DataFrame,
                                    idCol: String, maxIter: Int,
                                    algorithm: String)
                                   (implicit scope: CacheScope): (DataFrame, Seq[Long]) = {
    // hash-partitioned by dst at cache time: the label-propagation
    // neighbor join is keyed on dst every round, so pre-partitioning the
    // cached edges pays ONE exchange instead of one per round (§2.4
    // exchange sharing; the per-round shuffle was the CC loop's largest
    // wire cost — edges ≫ labels)
    val sym = scope.cache(
      oriented
        .unionByName(oriented.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")))
    // one anti-join over the cached edge list; `nodes` may be a superset
    requireEndpointsInNodes(sym.select(col("src").as("id")).distinct(), nodeIds)
    if (algorithm == "label") labelPropagation(nodeIds, sym, idCol, maxIter)
    else starContraction(nodeIds, sym, idCol, maxIter)
  }

  /** Quality-aware cluster collapse: keep the BEST member of each near-dup
    * cluster instead of an arbitrary (min-id) one — standard curation
    * practice is to retain the longest / highest-quality duplicate, since
    * near-dup copies often differ by truncation or boilerplate stripping.
    * Clusters come from [[connectedComponents]] over the near-dup edge
    * list; "best" = max `scoreCol`, ties to the smaller id (the
    * deterministic total order every keep-rule in the repo uses).
    *
    * Returns one row per cluster: the winning doc's `docs` columns plus
    * `component` (the cluster's min id label) and `n_members`. Singleton
    * docs are their own cluster and always survive.
    *
    * Scale shape: the argmax is `min(struct(-score, id))` — a plain
    * map-side-combined aggregate over (component, score, id), no window,
    * no per-cluster sort; the join back to `docs` hashes on the id. */
  def keepBestOfCluster(docs: DataFrame, idCol: String, scoreCol: String,
                        edges: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 20, algorithm: String = "label",
                        localBound: Int = LocalRowBound)
                       (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val comp = connectedComponents(docs.select(col(idCol)), edges,
      idCol, aCol, bCol, maxIter, algorithm, localBound)
    val best = docs.select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol))
      .groupBy("component")
      .agg(
        min(struct((-col(scoreCol)).as("__ns"), col(idCol).as("__id")))
          .as("__b"),
        count(lit(1)).as("n_members"))
      .select(col("__b.__id").as(idCol), col("component"),
        col("n_members"))
    docs.join(best, Seq(idCol))
  }

  private def labelPropagation(nodeIds: DataFrame, sym: DataFrame,
                               idCol: String,
                               maxIter: Int): (DataFrame, Seq[Long]) = {
    var checkpointed = nodeIds.select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var labels = checkpointed
    val perRound = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy("src").agg(min("label").as("nbr_label"))
      // eager checkpoint: materializes `next` AND truncates its plan, so the
      // previous round's blocks can be dropped immediately after. The
      // update carries its own change flag, so the convergence test is a
      // plain filter+count over the checkpointed blocks — the previous
      // old-vs-new label join was a second shuffle + action per round.
      val takeNbr =
        col("nbr_label").isNotNull && col("nbr_label") < col("label")
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          when(takeNbr, col("nbr_label")).otherwise(col("label")).as("label"),
          takeNbr.as("__changed"))
        .localCheckpoint(true)
      changed = next.filter(col("__changed")).count()
      perRound += changed
      checkpointed.unpersist()
      checkpointed = next
      labels = next.select("id", "label")
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds the bound; raise maxIter or use " +
        "algorithm = \"star\" (O(log n) rounds)")
    (labels.select(col("id").as(idCol), col("label").as("component")),
      perRound.toSeq)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each round rewires
    * every node's strictly-larger neighbors (large-star), then its
    * not-larger neighbors and itself (small-star), to the minimum of its
    * closed neighborhood. Converges in O(log n) rounds REGARDLESS of
    * diameter — the deep-chain path [[labelPropagation]]'s O(diameter)
    * can't serve. Edges come out of each phase center-oriented
    * (node > center), so the fixpoint test is an exact symmetric-difference
    * count on canonical pairs.
    */
  private def starContraction(nodeIds: DataFrame, sym: DataFrame,
                              idCol: String,
                              maxIter: Int): (DataFrame, Seq[Long]) = {
    def symmetrize(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // closed-neighborhood min per node: m(u) = min(N(u) ∪ {u})
    def withMin(s: DataFrame): DataFrame =
      s.join(
        s.groupBy("u").agg(min("v").as("mv"))
          .select(col("u"), least(col("mv"), col("u")).as("m")),
        "u")
    var e = sym.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .filter(col("u") > col("v")) // canonical orientation, deduped below
      .distinct()
      .localCheckpoint(true)
    val perRound = scala.collection.mutable.ArrayBuffer.empty[Long]
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val large = withMin(symmetrize(e))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // (larger nbr → min)
        .filter(col("u") =!= col("v"))
        .distinct()
      val smallIn = withMin(symmetrize(large))
      val small = smallIn.filter(col("v") < col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smallIn.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      val next = small.localCheckpoint(true)
      // symmetric-difference count in ONE full-outer join + action (both
      // sides are canonical distinct edge sets, so set difference ==
      // multiset difference; the previous two exceptAll passes shuffled
      // both frames twice and ran two jobs per round)
      changed = next.withColumn("__n", lit(1))
        .join(e.withColumn("__o", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("__n").isNull || col("__o").isNull)
        .count()
      perRound += changed
      e.unpersist()
      e = next
      iter += 1
    }
    require(changed == 0,
      s"star contraction did not converge in $maxIter rounds")
    // at the fixpoint every edge is (node, component-center)
    val lbl = symmetrize(e).groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("id"), least(col("mv"), col("u")).as("label"))
    (nodeIds.join(lbl, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("component")),
      perRound.toSeq)
  }

  /** Embedding-cosine near-duplicate pairs.
    *
    * `bruteForce = true`: all-pairs via range-partitioned self-join — exact,
    * O(n²/p) per partition; right at small n, wrong at corpus scale.
    * Default: RHP-LSH blocking (band the signature, equi-join buckets) then
    * exact cosine on candidates — the scale path; recall is governed by
    * bits/bands like any LSH (verified ≥ threshold at test scale).
    */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, bruteForce: Boolean = false,
                       bits: Int = 16, bands: Int = 8,
                       seed: Long = 7L): DataFrame = {
    val base = spread(emb.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val candidates =
      if (bruteForce) {
        val a = base.as("a")
        val b = base.as("b")
        a.join(b, col("a.id") < col("b.id"))
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
            col("a.vec").as("vec_a"), col("b.vec").as("vec_b"))
      } else {
        require(bits % bands == 0, "bands must divide bits")
        val r = bits / bands
        val sig = base.withColumn("sig", VF.rhpSignature(col("vec"), bits, seed))
        val banded = sig.select(col("id"), col("vec"),
          posexplode(array((0 until bands).map(bd =>
            shiftrightunsigned(col("sig"), bd * r)
              .bitwiseAND(lit((1L << r) - 1))): _*))
            .as(Seq("band", "bucket")))
        val a = banded.as("a")
        val b = banded.as("b")
        a.join(b,
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
            col("a.vec").as("vec_a"), col("b.vec").as("vec_b"))
          .dropDuplicates("a_id", "b_id")
      }
    candidates
      .select(col("a_id"), col("b_id"),
        VF.cosineSimilarity(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cluster-scoped semantic dedup (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into clusters, then find
    * near-duplicate pairs ONLY within each cluster. Cross-cluster pairs are
    * skipped *by design* — that is the scalability contract: candidate
    * pairs are Σ_c n_c² instead of n², and each cluster's comparison runs
    * independently after one shuffle on the cluster id. The paper clusters
    * with k-means over the embeddings; here the assigner is pluggable
    * (`clusterOf` is any deterministic Column over the vector — k-means
    * cell ids via [[Similarity]]'s trained centroids, an LSH signature, or
    * the axis-sign quantizer below), because the dedup semantics are
    * orthogonal to how clusters were produced.
    *
    * Returns (cluster, a_id, b_id, cosine) for every intra-cluster pair
    * with exact cosine ≥ threshold — exact verification, so within a
    * cluster the output equals brute-force restricted to that cluster.
    *
    * At 100 TB: one shuffle of (id, vec, cluster) on cluster; the self-join
    * is a sort-merge equi-join on the cluster id, so no all-pairs stage
    * ever materializes. A pathological giant cluster is the skew case —
    * cap it upstream (split clusters over `maxClusterSize` by a secondary
    * hash, or raise k in the k-means) exactly as `ngramJaccard.maxDf`
    * bounds hot shingles.
    */
  def semanticDedup(emb: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, clusterOf: Column => Column)
                   (implicit scope: CacheScope = CacheScope.global): DataFrame =
    semanticDedupAssigned(
      emb.select(col(idCol), col(vecCol))
        .withColumn("__cluster", clusterOf(col(vecCol))),
      vecCol, idCol, "__cluster", threshold)
      .withColumnRenamed("__cluster", "cluster")

  /** [[semanticDedup]] over a pre-assigned cluster column — the wiring for
    * model-based assigners that are not a single Column expression, e.g.
    * `Similarity.kmeansCells` (MLlib k-means `transform`, the paper's
    * clustering). Output keeps `clusterCol`'s name.
    *
    * `maxClusterSize` is the skew guard: a cluster of n_c members costs
    * n_c² comparisons, so one pathological mega-cluster (near-identical
    * boilerplate, empty documents) can dominate the whole job. Clusters
    * over the cap are SUBDIVIDED by a deterministic md5 hash of the id
    * into ⌈n_c / cap⌉ sub-clusters, and pairs are only searched within a
    * sub-cluster — bounded work per cluster, at a recall cost on exactly
    * the clusters that are pathologically over-merged anyway (the same
    * trade [[ngramJaccard]]'s `maxDf` makes for hot shingles). 0 = off.
    * The sub-split is a pure function of (cluster size, id), so re-runs
    * produce the same pairs. */
  def semanticDedupAssigned(emb: DataFrame, vecCol: String, idCol: String,
                            clusterCol: String, threshold: Double,
                            maxClusterSize: Long = 0L)
                           (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(clusterCol).as("cluster"))
    val assigned = scope.cache(spread(
      if (maxClusterSize <= 0) base.withColumn("sub", lit(0))
      else {
        // cluster sizes are O(#clusters) — a map-side-combined aggregate,
        // broadcast back (tiny at any corpus scale)
        val sizes = base.groupBy("cluster").agg(count(lit(1)).as("__n"))
        val splits = ceil(col("__n").cast("double") / lit(maxClusterSize.toDouble))
          .cast("int")
        base.join(broadcast(sizes), "cluster")
          .withColumn("sub",
            when(col("__n") <= maxClusterSize, lit(0))
              .otherwise(Splits.hashBucket(col("id"), 65536) % splits))
          .drop("__n")
      }))
    val a = assigned.as("a")
    val b = assigned.as("b")
    a.join(b, col("a.cluster") === col("b.cluster") &&
        col("a.sub") === col("b.sub") && col("a.id") < col("b.id"))
      .select(col("a.cluster").as(clusterCol),
        col("a.id").as("a_id"), col("b.id").as("b_id"),
        VF.cosineSimilarity(col("a.vec"), col("b.vec")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup over the cluster assignment a persisted IVF index already
    * paid for ([[Similarity.buildIvfIndex]]): the stored inverted file's
    * (n_id, cell) rows ARE the clusters, so one clustering pass serves
    * both ANN coarse search and semantic dedup — at 100 TB the k-means
    * train + full-corpus assignment is the expensive step, and this reads
    * it back instead of re-running it. Vectors ride in from `emb` by id
    * equi-join (the index stores only slim assignment rows); ids absent
    * from the index are ignored — append them first
    * ([[Similarity.appendToIvfIndex]]) for full coverage. */
  def semanticDedupFromIndex(emb: DataFrame, vecCol: String, idCol: String,
                             indexPath: String, threshold: Double,
                             maxClusterSize: Long = 0L)
                            (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    // only (n_id, cell) — the v2 layout also stores vectors in the index,
    // which this path gets from `emb`; selecting the slim pair keeps
    // parquet column pruning in charge of not reading them twice
    val cells = Store.read(emb.sparkSession, indexPath, "cells")
      .select("n_id", "cell")
    semanticDedupAssigned(
      emb.join(cells, emb(idCol) === cells("n_id")).drop("n_id"),
      vecCol, idCol, "cell", threshold, maxClusterSize)
  }

  /** Axis-sign quantizer: cluster id from the sign bits of the first `bits`
    * dimensions (an LSH family with axis-aligned hyperplanes). Deterministic
    * and expressible in plain SQL — which is what makes the semantic-dedup
    * gate exactly oracle-checkable; swap in k-means centroids for production
    * clustering quality. */
  def signBitCluster(vec: Column, bits: Int): Column = {
    require(bits > 0 && bits < 31, "bits must be in [1, 30]")
    (0 until bits).map(i =>
      when(element_at(vec, i + 1) > 0f, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
  }

  // ------------------------------------------------------------------
  // Line-level dedup (the CCNet / RefinedWeb "remove duplicated lines
  // across the corpus" stage — finer-grained than whole-document dedup,
  // coarser than shingles: boilerplate headers/footers/navigation repeat
  // per-line across millions of pages while the documents differ)
  // ------------------------------------------------------------------

  /** Identity default for the `normalize` hooks below: lines match on
    * their exact text. Swap in [[normalizeLine]] (or any Column
    * transform) to match case-/punctuation-insensitively while still
    * OUTPUTTING the original lines — the CCNet preprocessing rule.
    * Build/append/query of a shared line index must all use the same
    * normalizer (it is part of the hash family, like the params' seed). */
  val rawLine: Column => Column = identity

  /** CCNet-style line canonicalization for dedup matching: lowercase,
    * strip everything but letters/digits/whitespace, collapse runs of
    * whitespace, trim. Pure codegen'd Column expression. */
  def normalizeLine(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]+", ""), "\\s+", " "))

  /** Corpus-wide keep-first line dedup: every line that occurs more than
    * once across the whole corpus (matching under `normalize`) survives
    * ONLY at its first occurrence — the smallest (id, position) — and is
    * dropped everywhere else. Blank (whitespace-only) lines are document
    * structure, not content, and are always kept. `df(linesCol)` is an
    * `array<string>` of lines per document in whatever unit the caller
    * split by (newline, sentence, fixed word window); `idCol` must be
    * non-null and orderable. The output replaces `linesCol` with the
    * surviving lines (original order preserved, other columns
    * untouched); documents whose every line was dropped disappear.
    *
    * 100 TB design — document text never rides a shuffle:
    *  - occurrences explode to slim (xxhash64(line), id, pos) triples:
    *    ~24 B/line regardless of line length;
    *  - the per-line winner is a map-side-combined `min(struct(id, pos))`
    *    aggregate — the shuffle is O(distinct lines), not O(occurrences);
    *  - surviving positions re-aggregate per doc (O(kept) ints) and
    *    equi-join back to the ORIGINAL one-row-per-doc table, where a
    *    fused (element, index) array filter drops losing lines in place.
    *    The only full-text movement is the join relocating whole doc
    *    rows — the text itself is never exploded into a shuffle.
    * Two distinct lines sharing an xxhash64 would collapse to one winner
    * (expected collisions n²/2⁶⁵ — zero in practice at any corpus size
    * where line dedup is meaningful).
    */
  def keepFirstLines(df: DataFrame, linesCol: String, idCol: String,
                     normalize: Column => Column = rawLine)
                    (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val occ = lineOccurrences(df, linesCol, idCol, normalize)
    val winners = winnerMin(occ.filter(!col("__blank")),
      df.schema(idCol).dataType)
    keepByWinners(df, linesCol, idCol, occ, winners)
  }

  /** The per-hash winner `min (id, pos)` aggregate. Integral ids take
    * the [[occEnc]] encoded-long min and decode the winner back
    * (round-16): `min(struct(…))` plans as a SortAggregate — struct
    * buffers are not hash-able, so EVERY occurrence row sorts per
    * partition before even the partial agg — while the encoded min is
    * a plain HashAggregate. Same winner: (id, pos) lexicographic order
    * ≡ numeric order of id·2³⁰ + pos on [[occEnc]]'s checked domain
    * (|id| < 2³³), which the span operators share; an id outside it
    * fails the query instead of losing lines. Non-integral ids keep the
    * struct spelling. */
  private def winnerMin(nonBlank: DataFrame,
                        idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        nonBlank.groupBy("__h")
          .agg(min(occEnc(col("__kid"), col("__pos"))).as("__we"))
          .select(col("__h"), struct(
            shiftright(col("__we"), 30).cast(idType).as("__kid"),
            col("__we").bitwiseAND(lit((1L << 30) - 1)).cast("int")
              .as("__pos")).as("__w"))
      case _ =>
        nonBlank.groupBy("__h")
          .agg(min(struct(col("__kid"), col("__pos"))).as("__w"))
    }
  }

  /** Exploded (id, pos, xxhash64(normalize(line)), isBlank) triples —
    * persisted: both the winner aggregate and the keep-join consume them,
    * so the explode runs once (slim rows, ~24 B/line, MEMORY_AND_DISK: a
    * 100 TB corpus spills instead of re-scanning). Blankness is judged on
    * the RAW line (a line the normalizer empties still carries its
    * original content and competes under its normalized hash). */
  private def lineOccurrences(df: DataFrame, linesCol: String, idCol: String,
                              normalize: Column => Column)
                             (implicit scope: CacheScope): DataFrame =
    scope.cache(spread(
      df.select(col(idCol).as("__kid"),
          posexplode(col(linesCol)).as(Seq("__pos", "__line")))
        .select(col("__kid"), col("__pos"),
          xxhash64(normalize(col("__line"))).as("__h"),
          (trim(col("__line")) === "").as("__blank"))))

  /** Re-aggregate surviving positions per doc and filter each original
    * doc row's lines in place. The non-blank survivors are EXACTLY the
    * winner rows themselves — `__w` is the min (id, pos) struct of its
    * hash group, so "occurrences equal to their hash's winner" is just
    * the winner table unpacked — which removes the old occ⋈winners
    * join-back entirely (it re-shuffled every occurrence by __h to
    * decide membership the winner table already states; a winner is
    * never blank, so the union below cannot duplicate a position).
    * Blank positions always survive; a non-blank line with NO winner row
    * (claimed by history in the incremental path) drops everywhere. */
  private def keepByWinners(df: DataFrame, linesCol: String, idCol: String,
                            occ: DataFrame, winners: DataFrame): DataFrame = {
    val keptPos = winners
      .select(col("__w.__kid").as("__kid"), col("__w.__pos").as("__pos"))
      .unionByName(occ.filter(col("__blank"))
        .select(col("__kid"), col("__pos")))
      .groupBy("__kid")
      .agg(collect_list(col("__pos")).as("__keep"))
    df.join(keptPos, col(idCol) === col("__kid"))
      .withColumn(linesCol,
        filter(col(linesCol), (_, i) => array_contains(col("__keep"), i)))
      .drop("__kid", "__keep")
  }

  /** Persist a line-dedup index at `path` (parquet): the distinct
    * xxhash64 of every non-blank line the corpus has already claimed —
    * 8 B/row, the ONLY state continuous line dedup needs (at 100 TB of
    * text the index is ~1/1000th the corpus). The line unit is whatever
    * the caller split by; params pin the hash family. Blank lines are
    * never indexed (they are always kept, never claimable). The `lines`
    * table is compactable — a per-trigger appender (st13) accumulates one
    * part-set per batch, and compaction folds them without changing
    * membership. */
  def buildLineIndex(df: DataFrame, linesCol: String, path: String,
                     normalize: Column => Column = rawLine): Unit = {
    Store.create(path, "lines", Seq("family" -> "xxhash64", "seed" -> 42)) {
      df.select(posexplode(col(linesCol)).as(Seq("__pos", "__line")))
        .filter(trim(col("__line")) =!= "")
        .select(xxhash64(normalize(col("__line"))).as("h")).distinct()
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Append a new batch's distinct line hashes to a [[buildLineIndex]]
    * index — run AFTER the batch was deduped via
    * [[dedupLinesAgainstIndex]], so the next batch sees it as history.
    * Membership is checked by anti-join, so hash rows duplicated across
    * appends are harmless (append the batch's RAW lines for exactly-once
    * keep-first semantics: every line the batch carried, kept or dropped,
    * is claimed for all later batches). `compactFileThreshold` opts into
    * the auto-compaction cadence ([[graft.store.Store.append]]). */
  def appendToLineIndex(df: DataFrame, linesCol: String, path: String,
                        normalize: Column => Column = rawLine,
                        compactFileThreshold: Int = 0): Unit = {
    Store.append(df.sparkSession, path, "lines", compactFileThreshold) {
      df.select(posexplode(col(linesCol)).as(Seq("__pos", "__line")))
        .filter(trim(col("__line")) =!= "")
        .select(xxhash64(normalize(col("__line"))).as("h")).distinct()
        .write.mode("append").parquet(_)
    }
  }

  /** Incremental [[keepFirstLines]]: dedup a NEW ingest batch against
    * itself AND the already-indexed history, without touching history
    * text — the shape a continuous 100 TB pipeline runs (dedup the
    * delta, then [[appendToLineIndex]] it). Lines claimed by the index
    * drop everywhere in the batch; unclaimed lines keep-first within the
    * batch. Processing batches in id order this way yields EXACTLY the
    * full-batch [[keepFirstLines]] output (pinned by test). Per-batch
    * cost: one explode of the batch + an anti-join against the stored
    * hashes — O(batch lines + index), never O(history²) and never a
    * re-scan of history text. */
  def dedupLinesAgainstIndex(batch: DataFrame, linesCol: String,
                             idCol: String, indexPath: String,
                             normalize: Column => Column = rawLine)
                            (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = batch.sparkSession
    val hist = Store.read(spark, indexPath, "lines")
    val occ = lineOccurrences(batch, linesCol, idCol, normalize)
    val winners = winnerMin(
      occ.filter(!col("__blank"))
        .join(hist, occ("__h") === hist("h"), "left_anti"),
      batch.schema(idCol).dataType)
    keepByWinners(batch, linesCol, idCol, occ, winners)
  }

  /** Text-in/text-out wrapper over [[keepFirstLines]]: split `textCol` on
    * the literal `delim`, keep-first dedup across the corpus, rejoin
    * surviving lines with `delim`. */
  def dropDuplicateLines(docs: DataFrame, textCol: String, idCol: String,
                         delim: String = "\n",
                         normalize: Column => Column = rawLine): DataFrame =
    keepFirstLines(
      docs.withColumn(textCol,
        split(col(textCol), java.util.regex.Pattern.quote(delim))),
      textCol, idCol, normalize)
      .withColumn(textCol, array_join(col(textCol), delim))

  // ------------------------------------------------------------------
  // URL-level keep-first dedup — the [[UrlCanon]] frontier rung made
  // incremental: a crawl frontier arrives in daily batches, and a page
  // already fetched under SOME canonical spelling must never be kept
  // again. Same lifecycle as the line index: build → dedup-against →
  // claim-append (fenced) → auto-compact at the part-file threshold.
  // The index stores one xxhash64 per distinct canonical URL — at
  // 100 TB the state is O(distinct pages), 8 bytes each, and the
  // corpus itself never shuffles (the groupBy key and the history
  // join are both the slim hash).
  // ------------------------------------------------------------------

  /** Build a canonical-URL claim index over a corpus' URL column.
    * [[UrlCanon.canonicalizeUrl]] is applied HERE, so callers feed raw
    * URLs and the index can never disagree with the dedup about the
    * canonical form. */
  def buildUrlIndex(df: DataFrame, urlCol: String, path: String): Unit = {
    Store.create(path, "urls", Seq("family" -> "xxhash64", "seed" -> 42)) {
      df.select(xxhash64(UrlCanon.canonicalizeUrl(col(urlCol))).as("h"))
        .distinct()
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Keep-first URL dedup of a NEW ingest batch against itself AND the
    * claimed history: one output row per not-yet-claimed canonical URL,
    * carrying the batch's smallest `idCol` for it (the keep-first
    * winner) plus `canon_url`. Id-ordered batch replay provably equals
    * the full-batch min-per-canon form — keep-first is
    * order-deterministic (PipelineSpec pins the 3-batch replay). */
  def dedupUrlsAgainstIndex(batch: DataFrame, urlCol: String,
                            idCol: String, indexPath: String): DataFrame = {
    val spark = batch.sparkSession
    val hist = Store.read(spark, indexPath, "urls")
    val first = batch
      .select(col(idCol),
        UrlCanon.canonicalizeUrl(col(urlCol)).as("canon_url"))
      .groupBy("canon_url").agg(min(col(idCol)).as(idCol))
    first.join(hist, xxhash64(first("canon_url")) === hist("h"),
        "left_anti")
      .select(col(idCol), col("canon_url"))
  }

  /** Claim a batch's canonical URLs for all later batches — run AFTER
    * [[dedupUrlsAgainstIndex]], with the RAW batch (kept or dropped:
    * every canonical URL the batch carried is claimed, the line-index
    * exactly-once convention). Membership is anti-join-checked, so
    * hash rows duplicated across appends are harmless.
    * `compactFileThreshold` opts into the auto-compaction cadence
    * ([[graft.store.Store.append]]). */
  def appendToUrlIndex(df: DataFrame, urlCol: String, path: String,
                       compactFileThreshold: Int = 0): Unit = {
    Store.append(df.sparkSession, path, "urls", compactFileThreshold) {
      df.select(xxhash64(UrlCanon.canonicalizeUrl(col(urlCol))).as("h"))
        .distinct()
        .write.mode("append").parquet(_)
    }
  }

  // ------------------------------------------------------------------
  // Substring-level dedup (Lee et al.'22 "Deduplicating Training Data
  // Makes Language Models Better": remove every repeated substring of
  // >= L tokens, keeping one copy). Their single-machine construction
  // is a corpus-wide suffix array — which does not distribute; the
  // standard distributed form used here is sliding window hashing:
  // a substring of >= L tokens repeats iff ALL its length-L windows
  // repeat, so marking non-first occurrences of duplicated L-windows
  // and merging overlapping marked windows recovers exactly the
  // repeated regions (with boundary resolution L tokens coarse).
  // ------------------------------------------------------------------

  /** Global-order encoding of an occurrence (id, pos) as one long, so
    * the per-window winner is a plain `min` (map-side combinable)
    * rather than a struct compare. Order-preserving and decodable only
    * on the domain −2³³ ≤ id < 2³³, 0 ≤ pos < 2³⁰; outside it the
    * product wraps (or trips ANSI overflow) and the decoded winner would
    * match no real occurrence, silently dropping every copy of the line.
    * So the domain is checked inside the same projection — an
    * out-of-domain row fails the query loudly, with no extra job. */
  private def occEnc(id: Column, pos: Column): Column =
    when(id >= lit(-(1L << 33)) && id < lit(1L << 33) &&
        pos >= 0 && pos < lit(1 << 30), id * lit(1L << 30) + pos)
      .otherwise(raise_error(concat(lit("occurrence encoding needs " +
        "-2^33 <= id < 2^33 and 0 <= pos < 2^30; got id "),
        id.cast("string"), lit(" pos "), pos.cast("string"))))

  /** Maximal duplicated token spans: every L-token window of every doc
    * is hashed; windows whose hash occurs more than once corpus-wide
    * mark all NON-FIRST occurrences (first = least (id, pos) in global
    * order); overlapping/adjacent marked windows merge into maximal
    * spans per doc. Returns (idCol, span_start, span_len) in 0-based
    * token coordinates — the regions [[removeDuplicateSpans]] cuts.
    * Intra-document repeats count: a doc repeating its own passage
    * marks the later copy.
    *
    * 100 TB design — the corpus text never rides a shuffle:
    *  - windows explode to slim (xxhash64(window), id, pos) triples
    *    (~20 B/token) computed in ONE fused projection (`transform` over
    *    a per-doc position sequence, then posexplode) — no per-window
    *    re-tokenization;
    *  - the duplicated-window table is a map-side-combined groupBy on
    *    the hash: shuffle O(distinct windows), and only hashes with
    *    count > 1 survive into the mark join (at a typical 10-20% dup
    *    rate the join's build side is a small fraction of the corpus);
    *  - span merge is a per-doc sort of MARKED positions only
    *    (shuffle O(duplicated windows), gaps-and-islands via running
    *    max — no corpus-wide sort).
    * Window hashing joins on xxhash64 equality, not gram text: two
    * distinct L-grams colliding would merge winners (n²/2⁶⁵ — zero in
    * practice); the gate's oracle groups by the gram text itself, so a
    * collision would surface as a mismatch. */
  def duplicateWindowSpans(docs: DataFrame, textCol: String, idCol: String,
                           windowTokens: Int = 8)
                          (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val wins = windowOccurrences(docs, textCol, idCol, windowTokens)
    val dupWins = wins.groupBy("__h")
      .agg(count(lit(1)).as("__c"), min(occEnc(col("__kid"), col("__pos"))).as("__w"))
      .filter(col("__c") > 1)
      .select("__h", "__w")
    val marked = wins.join(dupWins, "__h")
      .filter(occEnc(col("__kid"), col("__pos")) =!= col("__w"))
      .select(col("__kid"), col("__pos"))
    mergeSpans(marked, idCol, windowTokens)
  }

  /** Exploded (id, pos, xxhash64(L-token window)) rows, one per window
    * start, computed in ONE fused projection (`transform` over a per-doc
    * position sequence, then posexplode — no per-window re-tokenization)
    * and persisted: the winner aggregate and the mark join both consume
    * them. Tokens joined on a U+0001 separator so boundaries can't alias
    * ("ab"+"c" vs "a"+"bc"). */
  private def windowOccurrences(docs: DataFrame, textCol: String,
                                idCol: String, windowTokens: Int)
                               (implicit scope: CacheScope): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    val toks = TF.tokens(col(textCol))
    val L = windowTokens
    // windows build in the codegen'd GramArray kernel over a
    // MATERIALIZED token column (round-16; was TF.slidingJoin's
    // interpreted zip_with chain), hashed after the posexplode — same
    // xxhash64 per window, and the whole projection stays codegen'd
    scope.cache(spread(
      docs.filter(size(toks) >= L)
        .select(col(idCol).as("__kid"), toks.as("__toks"))
        .select(col("__kid"),
          posexplode(graft.functions.TextKernels
            .gramArray(col("__toks"), L, "\u0001"))
            .as(Seq("__pos", "__w0")))
        .select(col("__kid"), col("__pos"),
          xxhash64(col("__w0")).as("__h"))))
  }

  /** Merge marked (id, pos) windows — each covering tokens [pos, pos+L)
    * — into maximal per-doc spans, gaps-and-islands style: a new span
    * starts where pos clears the running max end of all earlier marked
    * windows in the doc. Sorts MARKED positions only (shuffle
    * O(duplicated windows), never a corpus-wide sort). */
  private def mergeSpans(marked: DataFrame, idCol: String, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("__kid").orderBy("__pos")
    val prevEnd = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    marked
      .withColumn("__newSpan",
        when(col("__pos") > coalesce(
          max(col("__pos") + lit(L)).over(prevEnd), lit(-1L)), 1).otherwise(0))
      .withColumn("__span",
        sum("__newSpan").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("__kid", "__span")
      .agg(min("__pos").as("span_start"),
        (max(col("__pos") + lit(L)) - min("__pos")).cast("int").as("span_len"))
      .select(col("__kid").as(idCol),
        col("span_start").cast("int").as("span_start"), col("span_len"))
  }

  /** Cut every [[duplicateWindowSpans]] span out of its document,
    * keeping the first occurrence of each repeated region (winners are
    * never marked) — the whole Lee et al. pass as one operator. Output:
    * (idCol, textCol) with surviving tokens single-space joined (docs
    * shorter than the window, or with nothing repeated, pass through
    * token-identical). The spans table is O(duplicated regions) ≪
    * corpus, so the join back broadcasts under AQE and the cut itself
    * is one fused (token, index) array filter per doc row — the corpus
    * again never shuffles. */
  def removeDuplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                           windowTokens: Int = 8)
                          (implicit scope: CacheScope = CacheScope.global): DataFrame =
    cutSpans(docs, duplicateWindowSpans(docs, textCol, idCol, windowTokens),
      textCol, idCol)

  /** Cut a (idCol, span_start, span_len) table out of its documents:
    * spans collect per doc (tiny, broadcastable under AQE) and one fused
    * (token, index) array filter drops covered tokens in place —
    * the corpus never shuffles. Surviving tokens single-space joined. */
  private def cutSpans(docs: DataFrame, spans: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val perDoc = spans
      .groupBy(idCol)
      .agg(collect_list(struct(
        col("span_start").as("s"),
        (col("span_start") + col("span_len")).as("e"))).as("__spans"))
    val toks = TF.tokens(col(textCol))
    docs.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        // null __spans (nothing repeated) keeps every token: TRUE OR NULL
        // is TRUE, so the isNull arm decides before exists sees the null
        concat_ws(" ", filter(toks, (_, i) =>
          col("__spans").isNull ||
            !exists(col("__spans"), s =>
              i >= s.getField("s") && i < s.getField("e"))))
          .as(textCol))
  }

  /** Persist a window-hash index at `path` (parquet): the distinct
    * xxhash64 of every L-token window the corpus has claimed — 8 B/row,
    * the only state continuous substring dedup needs (distinct window
    * hashes are a small fraction of a 100 TB corpus). The params pin the
    * window size and hash family: querying with a different L would hash
    * different grams and silently match nothing, so readers validate
    * both. The `wins` table is compactable, like the line index. */
  def buildWindowIndex(df: DataFrame, textCol: String, path: String,
                       windowTokens: Int = 8)
                      (implicit scope: CacheScope = CacheScope.global): Unit = {
    Store.create(path, "wins", Seq("window_tokens" -> windowTokens,
        "family" -> "xxhash64-cat1")) {
      windowOccurrences(df.select(lit(0L).as("__id0"), col(textCol)),
          textCol, "__id0", windowTokens)
        .select(col("__h").as("h")).distinct()
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Read + validate a [[buildWindowIndex]] params table: the stored
    * hash family must match the code's; returns the stored window size. */
  private def windowIndexParams(spark: org.apache.spark.sql.SparkSession,
                                path: String): Int = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("family") == "xxhash64-cat1",
      s"window index at $path uses hash family '${p.getAs[String]("family")}'" +
        " but this build computes 'xxhash64-cat1' — rebuild the index")
    p.getAs[Int]("window_tokens")
  }

  /** Append a new batch's distinct window hashes to a
    * [[buildWindowIndex]] index — run AFTER the batch was processed
    * against it, so the next batch sees this one as history. Append the
    * batch's RAW text (pre-removal): every window the batch carried,
    * kept or cut, is claimed for all later batches — the same
    * exactly-once keep-first convention as [[appendToLineIndex]].
    * Membership is checked by joins, so hash rows duplicated across
    * appends are harmless; [[graft.store.Store.compactIndex]] folds sliver
    * files (round-15: `wins` is actually IN its sub list now — the
    * claim was aspirational before), and `compactFileThreshold` opts
    * into the auto-compaction cadence
    * ([[graft.store.Store.append]]). */
  def appendToWindowIndex(df: DataFrame, textCol: String, path: String,
                          compactFileThreshold: Int = 0)
                         (implicit scope: CacheScope = CacheScope.global): Unit = {
    val spark = df.sparkSession
    val l = windowIndexParams(spark, path)
    Store.append(spark, path, "wins", compactFileThreshold) {
      windowOccurrences(df.select(lit(0L).as("__id0"), col(textCol)),
          textCol, "__id0", l)
        .select(col("__h").as("h")).distinct()
        .write.mode("append").parquet(_)
    }
  }

  /** Incremental [[duplicateWindowSpans]]: spans for a NEW ingest batch
    * against itself AND the already-indexed history, without touching
    * history text. A batch window is marked when its hash is claimed by
    * the index (history always wins — EVERY batch occurrence marks,
    * including the batch-first) or when it repeats within the batch and
    * is not the batch-first occurrence. Processing batches in id order
    * this way yields exactly the full-batch spans restricted to each
    * batch's ids (pinned by test) — the replay-equivalence contract of
    * [[dedupLinesAgainstIndex]]. Per-batch cost: one window explode of
    * the batch + joins against the stored hashes — O(batch tokens +
    * index), never a re-scan of history text. */
  def duplicateWindowSpansAgainstIndex(batch: DataFrame, textCol: String,
                                       idCol: String, indexPath: String)
                                      (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = batch.sparkSession
    val l = windowIndexParams(spark, indexPath)
    val wins = windowOccurrences(batch, textCol, idCol, l)
    val hist = Store.read(spark, indexPath, "wins")
    val markedByHistory = wins.join(hist, wins("__h") === hist("h"),
      "left_semi").select("__kid", "__pos")
    val batchDup = wins.join(hist, wins("__h") === hist("h"), "left_anti")
      .groupBy("__h")
      .agg(count(lit(1)).as("__c"), min(occEnc(col("__kid"), col("__pos"))).as("__w"))
      .filter(col("__c") > 1)
      .select("__h", "__w")
    val markedInBatch = wins.join(batchDup, "__h")
      .filter(occEnc(col("__kid"), col("__pos")) =!= col("__w"))
      .select("__kid", "__pos")
    mergeSpans(markedByHistory.union(markedInBatch), idCol, l)
  }

  /** Incremental [[removeDuplicateSpans]]: cut a new batch's
    * [[duplicateWindowSpansAgainstIndex]] spans out of its documents.
    * Follow with [[appendToWindowIndex]] on the RAW batch so later
    * batches see it as history. */
  def removeDuplicateSpansAgainstIndex(batch: DataFrame, textCol: String,
                                       idCol: String, indexPath: String)
                                      (implicit scope: CacheScope = CacheScope.global): DataFrame =
    cutSpans(batch,
      duplicateWindowSpansAgainstIndex(batch, textCol, idCol, indexPath),
      textCol, idCol)
}
