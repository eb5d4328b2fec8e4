package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.store.Store

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard ANN playbook:
  *  - `bruteForceTopK`: the exact baseline. The (small) query set is
  *    broadcast against the corpus — the corpus NEVER shuffles; each
  *    partition scores its rows against every query (O(|corpus|·|queries|)
  *    work, embarrassingly parallel), then per-query top-k via window.
  *    Correct at any corpus size as long as |queries| is broadcastable.
  *  - `lshTopK`: the scale path when |queries| is large too — random-
  *    hyperplane signatures (Charikar'02) banded into buckets; candidates
  *    come from bucket equi-joins (shuffle on bucket keys only), exact
  *    cosine re-ranks candidates. Recall tuned by bits/bands.
  *
  * Cosine is the custom codegen'd `CosineSimilarity` expression — the inner
  * loop lives inside whole-stage codegen, not a UDF.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector. `queries` and `corpus`
    * both carry (idCol, vecCol); a query's own id is excluded when present
    * in the corpus. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = spread(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VF.cosineSimilarity(col("q_vec"), col("n_vec")).as("cosine"))
    // rank ties broken by neighbor id for full determinism
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Measured recall@k of a served ANN ranking against a reference
    * (normally [[bruteForceTopK]]): |served ∩ reference| / |reference|
    * over (q_id, n_id) pairs, rounded to 6dp. This is the INDEX-QUALITY
    * tripwire the determinism oracles cannot provide: the s-family
    * serves are hash-compared for exact reproducibility, but a
    * regression in index quality (bad centroids, mis-tuned nprobe, a
    * codebook trained on garbage) stays perfectly deterministic — only
    * a measured recall floor catches it. Both frames need (q_id, n_id)
    * columns; duplicates are deduplicated so a ranking with repeated
    * pairs cannot inflate its own recall. */
  def recallAtK(served: DataFrame, reference: DataFrame): Double = {
    val ref = reference.select(col("q_id"), col("n_id")).distinct()
    val total = ref.count()
    require(total > 0, "recallAtK needs a non-empty reference ranking")
    val hits = served.select(col("q_id"), col("n_id")).distinct()
      .join(ref, Seq("q_id", "n_id")).count()
    BigDecimal(hits.toDouble / total)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** [[recallAtK]] over SEVERAL served rankings against one reference,
    * in ONE reference count + ONE tagged union-join-aggregate action
    * (2 jobs total instead of 2 per family) — the independent serve
    * subplans also overlap inside the single job instead of running
    * back-to-back. Identical arithmetic per family: distinct (q_id,
    * n_id) pairs, |served ∩ reference| / |reference|, 6dp HALF_UP. */
  def recallAtKMany(served: Seq[(String, DataFrame)],
                    reference: DataFrame): Map[String, Double] = {
    require(served.nonEmpty, "recallAtKMany needs at least one ranking")
    val ref = reference.select(col("q_id"), col("n_id")).distinct()
    val total = ref.count()
    require(total > 0, "recallAtKMany needs a non-empty reference ranking")
    val hits = served.map { case (tag, df) =>
      df.select(col("q_id"), col("n_id")).distinct()
        .select(lit(tag).as("__tag"), col("q_id"), col("n_id"))
    }.reduce(_ unionByName _)
      .join(ref, Seq("q_id", "n_id"))
      .groupBy("__tag").agg(count(lit(1)).as("__hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    served.map { case (tag, _) =>
      tag -> BigDecimal(hits.getOrElse(tag, 0L).toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** Hard-negative mining for embedding-model training: for each query
    * vector, the k most cosine-similar corpus vectors with a DIFFERENT
    * label — the near-misses a contrastive objective learns the most
    * from (easy negatives are already far; same-label neighbors are
    * positives). Output schema matches [[bruteForceTopK]] plus the
    * negative's label.
    *
    * This is the brute exact form (cross join + `WindowGroupLimit`
    * top-k, the s1 shape) — correct at any size but O(|Q|·|corpus|); at
    * scale, generate candidates with any s-family ANN path OVERFETCHED
    * by the expected same-label fraction, filter the label, keep k — the
    * same composition as the ANN serving gates, so no separate index
    * machinery is needed here — [[hardNegativesFromIndex]] IS that
    * composition, gated to this function as its oracle.
    *
    * Semantics shared with the index path: a query's own id is excluded
    * (matters only if the two tables disagree on a shared id's label),
    * and NULL labels never certify as different — a null-label corpus
    * row is never emitted, a null-label query emits nothing (the
    * conservative policy: an unknown label might be a positive). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, vecCol: String,
                    idCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(labelCol).as("q_label"), col(vecCol).as("q_vec"))
    val c = spread(corpus.select(col(idCol).as("n_id"),
      col(labelCol).as("n_label"), col(vecCol).as("n_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .filter(col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("n_id"), col("n_label"),
        VF.cosineSimilarity(col("q_vec"), col("n_vec")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("n_label"), col("rank"))
  }

  /** LSH-bucketed ANN: candidates from banded random-hyperplane signatures,
    * exact cosine re-rank, per-query top-k. Same output schema as
    * `bruteForceTopK`; recall < 1 by design (tunable via bits/bands).
    *
    * `multiProbe` additionally probes, on the QUERY side only, every bucket
    * at hamming distance 1 within each band (Lv et al., VLDB'07): candidate
    * recall rises as if extra bands existed, but the corpus index stays the
    * same size — the standard recall/space trade for large corpora (query
    * fan-out grows r-fold; corpus-side storage and shuffle don't).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              vecCol: String, idCol: String, k: Int,
              bits: Int = 16, bands: Int = 8, seed: Long = 7L,
              multiProbe: Boolean = true): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val c = bandedSignatures(corpus, vecCol, idCol, "n_id", bits, bands, seed)
    lshTopKWithIndex(queries, corpus, c, vecCol, idCol, k,
      bits, bands, seed, multiProbe)
  }

  /** Banded random-hyperplane signatures of `df`: one (id, band, bucket)
    * row per band. Slim by design — (id, band, bucket) ONLY. Attaching
    * vectors here would duplicate the full corpus payload ×bands through
    * the bucket join's shuffle — measured 358 MB vs ~10 MB at a 50k×128-dim
    * corpus (soak, NOTES.md). Vectors re-attach by id-equi-join after
    * candidate dedup, so each is shuffled at most once and scored once. */
  def bandedSignatures(df: DataFrame, vecCol: String, idCol: String,
                       idAlias: String, bits: Int, bands: Int,
                       seed: Long): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    spread(df).select(col(idCol).as(idAlias),
        VF.rhpSignature(col(vecCol), bits, seed).as("sig"))
      .select(col(idAlias),
        posexplode(array((0 until bands).map(bd =>
          shiftrightunsigned(col("sig"), bd * r)
            .bitwiseAND(lit((1L << r) - 1))): _*))
          .as(Seq("band", "bucket")))
  }

  /** Persist the banded corpus index at `path` (parquet): the one
    * corpus-wide signature pass is paid ONCE, and every later query batch
    * joins against the stored (id, band, bucket) table instead of
    * recomputing signatures over 100 TB of vectors. A params side table
    * records (bits, bands, seed, family) so query-side signatures are
    * provably computed with the same hyperplanes — `family` names the
    * hash-function FAMILY, not just its parameters: stored signatures are
    * only comparable to query signatures drawn from the identical
    * coefficient family, so readers/appenders refuse an index whose
    * recorded family differs from the code's (a silent mismatch would not
    * fail — it would quietly collapse recall, every bucket probe landing
    * beside the stored buckets). */
  def buildLshIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    path: String, bits: Int = 16, bands: Int = 8,
                    seed: Long = 7L): Unit = {
    Store.create(path, "index", Seq("bits" -> bits, "bands" -> bands,
        "seed" -> seed,
        "family" -> graft.functions.RandomHyperplaneSignature.family)) {
      bandedSignatures(corpus, vecCol, idCol, "n_id", bits, bands, seed)
        .write.mode("overwrite").parquet(_)
    }
  }

  /** Read + validate a [[buildLshIndex]] params table: the recorded
    * hyperplane family must match the code's current family. An untagged
    * index (written before family tags) is by definition from a superseded
    * family — rebuilding is the only safe path. */
  private def lshParams(spark: org.apache.spark.sql.SparkSession,
                        path: String): (Int, Int, Long) = {
    val p = Store.params(spark, path)
    val fam =
      if (p.schema.fieldNames.contains("family")) p.getAs[String]("family")
      else "<untagged pre-family index>"
    val cur = graft.functions.RandomHyperplaneSignature.family
    require(fam == cur,
      s"LSH index at $path was built with hyperplane family '$fam' but " +
        s"this build computes '$cur' — querying or appending across " +
        "families silently collapses recall; rebuild the index with " +
        "buildLshIndex")
    (p.getAs[Int]("bits"), p.getAs[Int]("bands"), p.getAs[Long]("seed"))
  }

  /** Append a new corpus partition's signatures to an existing
    * [[buildLshIndex]] index without touching the already-indexed corpus —
    * the daily-ingest path: only the NEW vectors pay the signature pass,
    * written as additional parquet part files. The stored params
    * (bits, bands, seed) are read back and reused, so appended signatures
    * come from the same hyperplanes by construction. The caller owns id
    * uniqueness across appends (duplicate ids would double-report as
    * candidates, not corrupt results — candidates dedup on (q_id, n_id)).
    *
    * `compactFileThreshold` opts the append into the auto-compaction
    * cadence ([[Store.append]]): once the live signature table has
    * that many part files, the append folds the index itself — bounding
    * the small-file listing tax at production ingest cadence without a
    * separate maintenance job. Folds never change results (compaction
    * rewrites byte-equal rows). */
  def appendToLshIndex(newCorpus: DataFrame, vecCol: String, idCol: String,
                       path: String, compactFileThreshold: Int = 0): Unit = {
    val spark = newCorpus.sparkSession
    val (bits, bands, seed) = lshParams(spark, path)
    val sigs = bandedSignatures(newCorpus, vecCol, idCol, "n_id",
      bits, bands, seed)
    Store.append(spark, path, "index", compactFileThreshold) {
      sigs.write.mode("append").parquet(_)
    }
  }

  /** ANN against a [[buildLshIndex]]-persisted index: reads the stored
    * banded buckets (scan of a slim parquet table — no corpus-wide
    * signature recompute), validates the recorded (bits, bands, seed),
    * and runs the same candidate-join + exact re-rank as [[lshTopK]].
    * `corpus` supplies the vectors for the final re-rank by id equi-join;
    * only candidate ids' vectors are shuffled. */
  def lshTopKFromIndex(queries: DataFrame, corpus: DataFrame,
                       indexPath: String, vecCol: String, idCol: String,
                       k: Int, multiProbe: Boolean = true): DataFrame = {
    val spark = queries.sparkSession
    val (bits, bands, seed) = lshParams(spark, indexPath)
    val index = Store.read(spark, indexPath, "index")
    lshTopKWithIndex(queries, corpus, index, vecCol, idCol, k,
      bits, bands, seed, multiProbe)
  }

  private def lshTopKWithIndex(queries: DataFrame, corpus: DataFrame,
                               index: DataFrame, vecCol: String,
                               idCol: String, k: Int, bits: Int, bands: Int,
                               seed: Long, multiProbe: Boolean): DataFrame = {
    val r = bits / bands
    val q0 = bandedSignatures(queries, vecCol, idCol, "q_id", bits, bands, seed)
    val q =
      if (multiProbe) {
        val masks = 0L +: (0 until r).map(1L << _).toSeq
        q0.withColumn("bucket",
            explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)))
      } else q0
    val candIds = index.join(q,
        q("band") === index("band") && q("bucket") === index("bucket") &&
          q("q_id") =!= index("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val cv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = candIds.join(qv, "q_id").join(cv, "n_id")
      .select(col("q_id"), col("n_id"),
        VF.cosineSimilarity(col("q_vec"), col("n_vec")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** K-means-trained coarse cells for IVF (Spark MLlib KMeans — seeded,
    * deterministic): returns the corpus plus a `cell` prediction column.
    * Training cost is a handful of passes over (sampled) vectors; at 100 TB
    * you train on a sample and `transform` the full corpus in one map. */
  def kmeansCells(corpus: DataFrame, vecCol: String, k: Int,
                  seed: Long = 7L, maxIter: Int = 10): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val feat = spread(corpus)
      .withColumn("__features", array_to_vector(col(vecCol)))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("cell")
      .fit(feat)
    model.transform(feat).drop("__features")
  }

  /** Quality-vs-baseline signal for a cell/cluster assignment: mean
    * cosine of each vector to its OWN cell's centroid (quality), and
    * the same metric against the single GLOBAL centroid (the k=1
    * baseline any clustering must beat — a fit whose cells do no
    * better than the global mean has learned nothing, however
    * deterministic its output). Both legs ride [[centroidCosines]]
    * (one broadcast-join scan pass each, no corpus shuffle), so the
    * check costs two aggregates at any corpus size. This is the
    * quality tripwire for the MLlib [[kmeansCells]] training rung,
    * whose outputs no cross-engine oracle can recompute — determinism
    * gates alone would pass a silently degenerate fit. */
  def cellQualityGain(assigned: DataFrame, vecCol: String, idCol: String,
                      cellCol: String): (Double, Double) = {
    val quality = centroidCosines(assigned, vecCol, idCol, cellCol)
      .agg(avg("cos")).head().getDouble(0)
    val baseline = centroidCosines(
        assigned.withColumn("__global", lit(0)), vecCol, idCol, "__global")
      .agg(avg("cos")).head().getDouble(0)
    (quality, baseline)
  }

  // ================================================================
  // Product quantization (Jégou/Douze/Schmid, PAMI'11) — the memory-scale
  // path beyond ~10⁸ vectors: the corpus is stored as M small codes
  // (M bytes/vector at K≤256) instead of D floats — 64-dim float32 →
  // 4-byte codes is a 64× compression — and queries score codes via a
  // per-query lookup table (ADC), never touching the original vectors
  // except to re-rank a small candidate set.
  // ================================================================

  /** L2-normalize a float-array column. PQ approximates L2 distance, but
    * the engine's similarity metric is cosine; on unit vectors
    * ‖a−b‖² = 2−2·cos(a,b), so L2 ranking over normalized vectors IS the
    * cosine ranking — without this the ADC ordering silently optimizes a
    * different metric (measured: recall 0.6 raw vs 1.0 normalized on the
    * test corpus). */
  private def unit(vec: Column): Column = {
    val norm = sqrt(aggregate(vec, lit(0.0), (a, x) => a + x.cast("double") * x))
    transform(vec, x =>
      when(norm === 0.0, lit(0.0f)).otherwise((x / norm).cast("float")))
  }

  /** Train per-subspace codebooks: split `vecCol` (dim D) into `m` equal
    * subvectors and fit a seeded K-means (K=`k`) to each. Returns the
    * codebook as a tiny DataFrame (sub, code, centroid) of m·k rows —
    * broadcastable everywhere it is used.
    *
    * Training runs IN-MEMORY on a bounded sample (`trainSample` vectors,
    * collected after the normalization projection): PQ codebooks train on
    * a learning sample by design (Jégou PAMI'11 §V uses ~100k learning
    * vectors regardless of corpus size; FAISS trains the same way), so at
    * ANY corpus scale the collect is a few MB — `trainSample`·D floats —
    * and the m tiny (D/m)-dimensional fits are pure arithmetic. The
    * previous MLlib path spent its time on distributed-scheduler fixed
    * costs (~14 tiny jobs per fit × m fits), not math: measured 11.4 s →
    * 1.4 s for the s6 train+encode+query bench at sf0.1 (NOTES.md). The
    * fit itself is seeded k-means++ + Lloyd — deterministic for a given
    * (corpus, seed). */
  def pqTrain(corpus: DataFrame, vecCol: String, dim: Int,
              m: Int, k: Int, seed: Long = 7L,
              maxIter: Int = 10, trainSample: Int = 65536): DataFrame = {
    require(dim % m == 0, "m must divide the vector dimension")
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    // bounded, deterministic, UNBIASED learning sample: normalize in Spark
    // (one fused projection), then take the trainSample lowest-hash vectors
    // — hash order is a seeded pseudo-random permutation, so the sample is
    // representative even when the corpus is sorted/clustered by content
    // (a plain limit() takes the first parquet rows, which after dedup or
    // sharding are a biased slice and train biased codebooks). The sort is
    // TakeOrderedAndProject — per-partition partial top-N + driver merge,
    // never a full shuffle.
    val sample = spread(corpus)
      .select(unit(col(vecCol)).as("__nvec"))
      .orderBy(xxhash64(col("__nvec"), lit(seed)))
      .limit(trainSample).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqTrain on an empty corpus")
    val books = (0 until m).flatMap { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      // duplicate centroids (sample smaller than k, or converged-early
      // empties) are inert: the encode argmin's strict `<` tie-break
      // always prefers the lower code, so duplicated codes are never
      // assigned and their ADC entries never differ from the original's
      localKMeans(pts, k, seed + s, maxIter).zipWithIndex.map {
        case (ctr, code) => (s, code, ctr.toSeq)
      }
    }
    books.toDF("sub", "code", "centroid").coalesce(1)
  }

  /** Seeded in-memory k-means with multi-restart: `restarts` independent
    * k-means++ + Lloyd runs, keeping the lowest-inertia result — the
    * quality lever that replaces MLlib's k-means|| oversampled init
    * (measured: single-restart recall@rerank=16 0.48 vs ≥0.6 with 4; the
    * rerank=192 gate premise holds either way). Deterministic for a
    * given seed. */
  private def localKMeans(points: Array[Array[Float]], k: Int, seed: Long,
                          maxIter: Int, restarts: Int = 4): Array[Array[Float]] = {
    var best: Array[Array[Float]] = null
    var bestInertia = Double.MaxValue
    var r = 0
    while (r < restarts) {
      val centers = localKMeansOnce(points, k, seed + 7919L * r, maxIter)
      var inertia = 0.0
      var i = 0
      while (i < points.length) {
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0; var d = 0
          while (d < points(i).length) {
            val dd = points(i)(d).toDouble - centers(c)(d); s += dd * dd; d += 1
          }
          if (s < bd) bd = s
          c += 1
        }
        inertia += bd
        i += 1
      }
      if (inertia < bestInertia) { bestInertia = inertia; best = centers }
      r += 1
    }
    best
  }

  /** One seeded k-means++ + Lloyd run. Always returns exactly `k` centers
    * (possibly duplicated on degenerate samples — see [[pqTrain]]'s
    * tie-break note). */
  private def localKMeansOnce(points: Array[Array[Float]], k: Int, seed: Long,
                              maxIter: Int): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val n = points.length
    val dim = points(0).length
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: each next center drawn ∝ distance² to the
    // nearest already-chosen center
    val centers = new Array[Array[Float]](k)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var tot = 0.0
      var i = 0
      while (i < n) {
        val d = d2(points(i), centers(c - 1))
        if (d < minD(i)) minD(i) = d
        tot += minD(i)
        i += 1
      }
      centers(c) =
        if (tot == 0.0) points(rnd.nextInt(n)).clone() // all points covered
        else {
          var r = rnd.nextDouble() * tot
          var j = 0
          while (j < n - 1 && r > minD(j)) { r -= minD(j); j += 1 }
          points(j).clone()
        }
      c += 1
    }
    // Lloyd iterations; empty clusters keep their previous center
    val assign = Array.fill(n)(-1)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0
        var bd = d2(points(i), centers(0))
        var cc = 1
        while (cc < k) {
          val d = d2(points(i), centers(cc))
          if (d < bd) { bd = d; best = cc } // strict < : ties to lower code
          cc += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Int](k)
        var i2 = 0
        while (i2 < n) {
          val a = assign(i2)
          counts(a) += 1
          var d = 0
          while (d < dim) { sums(a)(d) += points(i2)(d); d += 1 }
          i2 += 1
        }
        var cc = 0
        while (cc < k) {
          if (counts(cc) > 0) {
            val ctr = new Array[Float](dim)
            var d = 0
            while (d < dim) { ctr(d) = (sums(cc)(d) / counts(cc)).toFloat; d += 1 }
            centers(cc) = ctr
          }
          cc += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** Encode each corpus vector as its per-subspace nearest-centroid codes:
    * ONE row per vector with a `codes` array (position = subspace) — at
    * rest this is what you persist instead of the vectors (M codes of
    * ≤8 bits vs D floats; 32× at the defaults). The codebook is tiny
    * (m·k·(dim/m) floats) and embeds as a LITERAL, so encoding is a
    * single fused projection over the corpus scan — no join, no shuffle,
    * no aggregation. (A first cut exploded (id, sub, subvec) through a
    * broadcast join and argmin-grouped |corpus|·m·k rows back together —
    * pure overhead relative to the closed-form per-row argmin.)
    * Ties break toward the smaller code, deterministically. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame,
               vecCol: String, idCol: String, dim: Int, m: Int): DataFrame =
    spread(corpus)
      .select(col(idCol).as("n_id"), unit(col(vecCol)).as("__nvec"))
      .select(col("n_id"),
        pqCodesColumn(codebook, col("__nvec"), dim, m).as("codes"))

  /** The fused PQ encode projection: codebook collected (m·k tiny rows)
    * and embedded as a nested LITERAL, per-subspace argmin as a native
    * `aggregate` — no join anywhere. `nvec` must already be normalized
    * (callers project [[unit]] once so codegen computes the norm once).
    * Factored out so composite builds ([[buildIvfPqIndex]]) can fuse the
    * encode with other per-row columns in ONE projection. */
  private def pqCodesColumn(codebook: DataFrame, nvec: Column,
                            dim: Int, m: Int): Column = {
    val sub = dim / m
    val book = codebook.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    val kCodes = book.map(_._2).max + 1
    // centroids[s][c] = centroid array, as a nested literal column
    val byPos: Seq[Seq[Seq[Float]]] = (0 until m).map(s =>
      (0 until kCodes).map(c =>
        book.find(b => b._1 == s && b._2 == c)
          .getOrElse(sys.error(s"codebook missing (sub=$s, code=$c)"))._3))
    val centroids = typedLit(byPos)
    val zero = struct(lit(-1).as("best"), lit(Double.MaxValue).as("bd"))
    transform(sequence(lit(0), lit(m - 1)), s => {
      val subvec = slice(nvec, s * sub + 1, lit(sub))
      aggregate(sequence(lit(0), lit(kCodes - 1)), zero,
        (acc, c) => {
          val d = VF.l2Squared(subvec,
            element_at(element_at(centroids, s + 1), c + 1))
          when(d < acc.getField("bd"),
            struct(c.as("best"), d.as("bd"))).otherwise(acc)
        },
        acc => acc.getField("best")).cast("int")
    })
  }

  /** ANN over PQ codes: per query, build the M×K table of subspace
    * distances to every centroid (ADC), score each corpus vector as the
    * sum of M table lookups, then exact-cosine re-rank the `rerank` best
    * candidates per query.
    *
    * The scoring join is vector-per-row, FAISS-style: each corpus vector's
    * codes pack into ONE array row, each query's table flattens into ONE
    * broadcast array indexed `sub·K + code`, and the ADC sum is a native
    * `zip_with`/`aggregate` over M lookups — |corpus|·|Q| slim rows total.
    * (A first cut joined long-form codes on (sub, code) and aggregated:
    * |corpus|·M·|Q| intermediate rows, 265 MB vs 25 MB shuffle at the
    * 50k×25 soak.) Corpus codes never shuffle (query tables broadcast);
    * the original vectors are touched only by the candidate re-rank.
    * Output schema matches [[bruteForceTopK]]: (q_id, n_id, cosine, rank).
    * Recall is tuned by (m, k, rerank); candidate generation is
    * O(|corpus|·M) lookups per query — independent of D. At ≥10⁸ vectors,
    * compose with a coarse partition ([[ivfTopK]]'s cells) so each query
    * scores one cell's codes — the IVFPQ layout. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
             codebook: DataFrame, vecCol: String, idCol: String,
             dim: Int, m: Int, k: Int, rerank: Int = 64): DataFrame = {
    val adc = codes
      .crossJoin(broadcast(qAdcTables(queries, codebook, vecCol, idCol, dim, m)))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), adcDist(m).as("adc_dist"))
    exactRerank(adcCandidates(adc, rerank), queries, corpus, vecCol, idCol, k)
  }

  /** Persist a PQ index at `path` (parquet): `codebook` (m·k rows),
    * `codes` (one slim row per vector), params (dim, m, k, seed). The
    * train+encode pass over the corpus is paid ONCE; every later query
    * batch reads the stored codes (M bytes/vector) instead of re-encoding
    * the vectors — the PQ counterpart of [[buildLshIndex]]. */
  def buildPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                   path: String, dim: Int, m: Int, k: Int,
                   seed: Long = 7L): Unit = {
    Store.create(path, "codes",
        Seq("dim" -> dim, "m" -> m, "k" -> k, "seed" -> seed)) { dir =>
      val book = pqTrain(corpus, vecCol, dim, m, k, seed)
      book.write.mode("overwrite").parquet(s"$path/codebook")
      pqEncode(corpus, book, vecCol, idCol, dim, m)
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** Encode a new corpus partition with the index's FROZEN codebook and
    * append its codes — the daily-ingest path. Freezing is standard PQ
    * practice: codebooks train once on a representative sample, encode
    * quality for in-distribution additions is unchanged, and retraining
    * is an explicit rebuild on drift. Only the NEW vectors pay the encode
    * pass; the stored params guarantee the same subspace split. The
    * caller owns id uniqueness across appends (like [[appendToLshIndex]]). */
  def appendToPqIndex(newCorpus: DataFrame, vecCol: String, idCol: String,
                      path: String,
                      compactFileThreshold: Int = 0): Unit = {
    val spark = newCorpus.sparkSession
    val p = Store.params(spark, path)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    val book = Store.read(spark, path, "codebook")
    val codes = pqEncode(newCorpus, book, vecCol, idCol, dim, m)
    Store.append(spark, path, "codes", compactFileThreshold) {
      codes.write.mode("append").parquet(_)
    }
  }

  /** ANN against a [[buildPqIndex]]-persisted index: reads the stored
    * codebook + codes (no train, no encode at query time) and runs
    * [[pqTopK]]'s ADC + exact re-rank. `corpus` supplies vectors for the
    * candidate re-rank only — candidate ids' vectors are the only vector
    * payload touched per query batch. */
  def pqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
                      indexPath: String, vecCol: String, idCol: String,
                      k: Int, rerank: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val p = Store.params(spark, indexPath)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    val book = Store.read(spark, indexPath, "codebook")
    pqTopK(queries, corpus,
      Store.read(spark, indexPath, "codes"), book,
      vecCol, idCol, dim, m, k, rerank)
  }

  /** IVFPQ (the FAISS large-corpus layout): coarse cells prune which
    * vectors a query touches, PQ codes make each touched vector 8 bytes —
    * the composition that holds at 10⁸⁺ vectors where neither half does
    * alone (flat PQ still scans every code; IVF over raw vectors still
    * reads D floats per row). Queries probe their `nprobe` nearest cell
    * centroids, ADC-score ONLY those cells' codes (the per-query lookup
    * tables broadcast against a cell equi-join — corpus codes never
    * shuffle), and exact-cosine re-rank the survivors. With `nprobe` =
    * all cells the output equals [[pqTopK]]'s exactly (asserted in
    * PipelineSpec), which is what lets the s7 oracle hash-match; tighter
    * probes trade recall for the per-query scan fraction. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
                codebook: DataFrame, vecCol: String, idCol: String,
                cellCol: String, dim: Int, m: Int, k: Int,
                nprobe: Int = 2, rerank: Int = 64): DataFrame = {
    val probes = probeCells(queries, cellCentroids(corpus, vecCol, cellCol),
      vecCol, idCol, nprobe).select("q_id", "cell")
    // (q_id, cell, tbl): |Q|·nprobe rows — still broadcastable
    val probedTbl = probes
      .join(qAdcTables(queries, codebook, vecCol, idCol, dim, m), "q_id")
    val cells = corpus.select(col(idCol).as("n_id"), col(cellCol).as("cell"))
    val adc = codes.join(cells, "n_id")
      .join(broadcast(probedTbl), "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), adcDist(m).as("adc_dist"))
    exactRerank(adcCandidates(adc, rerank), queries, corpus, vecCol, idCol, k)
  }

  // ================================================================
  // Optimized product quantization (Ge/He/Ke/Sun, CVPR'13 — the
  // parametric solution): learn an orthogonal rotation R before the
  // subspace split. Plain PQ quantizes whatever D/M-dim slices the
  // storage order happens to give it; when dimensions are correlated or
  // variance is concentrated, some subspaces waste their codebook on
  // near-constant data while others underfit. The parametric OPQ
  // rotation eigendecomposes the corpus second-moment and allocates
  // eigendirections to subspaces balancing the PRODUCT of eigenvalues
  // (= balancing per-subspace quantization difficulty, optimal under
  // the paper's Gaussian assumption) — recovering ADC resolution at
  // identical (m, k) budget. Rotation is orthogonal, so it preserves
  // norms and inner products: training/encoding/ADC run in rotated
  // space, while the final exact re-rank uses the ORIGINAL vectors —
  // output semantics identical to [[pqTopK]]'s.
  // ================================================================

  /** Learn the OPQ rotation from (a sample of) the corpus: rows of the
    * returned D×D matrix are eigenvectors of the normalized corpus's
    * second-moment matrix, ordered so subspace `s` takes rows
    * [s·D/M, (s+1)·D/M) under eigenvalue allocation. The Gramian is one
    * distributed pass (O(D²) accumulator per partition); the D×D
    * eigendecomposition runs on the driver — D is a few hundred at most,
    * negligible next to any corpus scan. At 100 TB, learn the rotation on
    * `corpus.sample(...)` — like the codebooks, it saturates long before
    * the full corpus is seen. */
  def opqRotation(corpus: DataFrame, vecCol: String, dim: Int,
                  m: Int): Seq[Seq[Float]] = {
    require(dim % m == 0, "m must divide the vector dimension")
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = spread(corpus).select(unit(col(vecCol)).as("__nvec")).rdd
      .map(r => OldVectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    // non-central second moment (AᵀA/n), not covariance: PQ quantizes the
    // vectors themselves, not their deviations from a mean that the encoder
    // never subtracts
    val n = rows.count().toDouble
    val gram = new RowMatrix(rows).computeGramianMatrix()
    val sigma = breeze.linalg.DenseMatrix.create(dim, dim,
      gram.toArray.map(_ / n))
    val es = breeze.linalg.eigSym(sigma)
    // Eigenvalue allocation: balance the per-subspace PRODUCT of
    // eigenvalues ⇔ balance sums of log λ. Every bucket receives exactly
    // D/M values, so shifting all logs by a constant shifts every bucket
    // sum equally — shift to non-negative and run the standard balanced
    // multiway-partition greedy (largest weight first into the currently
    // lightest non-full bucket). The paper's "min product, empty = 1"
    // greedy is this same idea but silently degenerates when every λ < 1
    // (always the case for unit-normalized vectors): the first assignment
    // drops a bucket's product below the empty buckets' 1, so ALL the
    // high-variance directions pile into one subspace.
    val sub = dim / m
    val logs = (0 until dim).map(i => math.log(math.max(es.eigenvalues(i), 1e-12)))
    val shift = logs.min
    val order = (0 until dim).sortBy(i => -logs(i))
    val weight = Array.fill(m)(0.0)
    val fill = Array.fill(m)(0)
    val alloc = Array.fill(m)(List.newBuilder[Int])
    order.foreach { i =>
      val s = (0 until m).filter(fill(_) < sub)
        .minBy(t => (weight(t), t)) // deterministic tie-break
      alloc(s) += i
      weight(s) += logs(i) - shift
      fill(s) += 1
    }
    (0 until m).flatMap(s => alloc(s).result()).map { i =>
      (0 until dim).map(j => es.eigenvectors(j, i).toFloat)
    }
  }

  /** Apply a [[opqRotation]] rotation to `vecCol`: x → Rx, as one
    * closed-form projection (the D×D matrix embeds as a literal; per-row
    * cost is D² multiply-adds in a native HOF loop — no join, no shuffle,
    * no UDF). Orthogonality preserves norms and cosines, so rotated
    * vectors feed the standard [[pqTrain]]/[[pqEncode]] unchanged. */
  def rotate(df: DataFrame, vecCol: String, rotation: Seq[Seq[Float]]): DataFrame = {
    val rot = typedLit(rotation)
    df.withColumn(vecCol,
      transform(rot, row =>
        aggregate(
          zip_with(row, col(vecCol), (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x).cast("float")))
  }

  /** ANN over OPQ codes: ADC candidate generation in ROTATED space
    * (`codes`/`codebook` from [[pqEncode]]/[[pqTrain]] over
    * [[rotate]]-transformed corpus), exact-cosine re-rank against the
    * ORIGINAL vectors — cosine is rotation-invariant, so the output is
    * directly the [[pqTopK]]/[[bruteForceTopK]] contract on the raw
    * corpus, with the rotation visible only as better ADC candidate
    * quality. Same scale shape as [[pqTopK]]: query tables broadcast,
    * corpus codes never shuffle, original vectors touched only by the
    * re-rank equi-join. */
  def opqTopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
              codebook: DataFrame, rotation: Seq[Seq[Float]],
              vecCol: String, idCol: String,
              dim: Int, m: Int, k: Int, rerank: Int = 64): DataFrame = {
    val rq = rotate(queries, vecCol, rotation)
    val adc = codes
      .crossJoin(broadcast(qAdcTables(rq, codebook, vecCol, idCol, dim, m)))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), adcDist(m).as("adc_dist"))
    exactRerank(adcCandidates(adc, rerank), queries, corpus, vecCol, idCol, k)
  }

  /** Persist an OPQ index at `path`: `rotation` (D rows of the orthogonal
    * matrix, index-keyed), plus the [[buildPqIndex]] layout (codebook,
    * codes, params) trained and encoded in ROTATED space. Rotation,
    * codebooks, and codes are all learned once at build time; query
    * batches pay only their own D² rotation + ADC. */
  def buildOpqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    path: String, dim: Int, m: Int, k: Int,
                    seed: Long = 7L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Store.create(path, "codes",
        Seq("dim" -> dim, "m" -> m, "k" -> k, "seed" -> seed)) { dir =>
      val rot = opqRotation(corpus, vecCol, dim, m)
      rot.zipWithIndex.map { case (r, i) => (i, r) }.toDF("i", "row")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
      val rotated = rotate(corpus.select(col(idCol), col(vecCol)), vecCol, rot)
      val book = pqTrain(rotated, vecCol, dim, m, k, seed)
      book.write.mode("overwrite").parquet(s"$path/codebook")
      pqEncode(rotated, book, vecCol, idCol, dim, m)
        .write.mode("overwrite").parquet(dir)
    }
  }

  private def readRotation(spark: org.apache.spark.sql.SparkSession,
                           path: String): Seq[Seq[Float]] =
    Store.read(spark, path, "rotation").orderBy("i").collect()
      .map(_.getSeq[Float](1).toSeq).toSeq

  /** Append new vectors to a [[buildOpqIndex]] index: rotate with the
    * stored matrix, encode with the frozen codebook, append the codes —
    * only the NEW vectors pay any work (same freeze contract as
    * [[appendToPqIndex]]). */
  def appendToOpqIndex(newCorpus: DataFrame, vecCol: String, idCol: String,
                       path: String,
                       compactFileThreshold: Int = 0): Unit = {
    val spark = newCorpus.sparkSession
    val p = Store.params(spark, path)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    val rotated = rotate(newCorpus.select(col(idCol), col(vecCol)), vecCol,
      readRotation(spark, path))
    val codes = pqEncode(rotated, Store.read(spark, path, "codebook"),
      vecCol, idCol, dim, m)
    Store.append(spark, path, "codes", compactFileThreshold) {
      codes.write.mode("append").parquet(_)
    }
  }

  /** ANN against a [[buildOpqIndex]]-persisted index: stored rotation +
    * codebook + codes feed [[opqTopK]] — rotated-space ADC candidates,
    * exact-cosine re-rank on the ORIGINAL vectors. */
  def opqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
                       indexPath: String, vecCol: String, idCol: String,
                       k: Int, rerank: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val p = Store.params(spark, indexPath)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    opqTopK(queries, corpus,
      Store.read(spark, indexPath, "codes"),
      Store.read(spark, indexPath, "codebook"),
      readRotation(spark, indexPath), vecCol, idCol, dim, m, k, rerank)
  }

  // ------------------------------------------------------------------
  // SQ8 — 8-bit scalar quantization (the FAISS `IndexScalarQuantizer`
  // layout). One byte per DIMENSION (vs PQ's one byte per ~4-dim
  // subspace): 4× compression with far better fidelity than PQ's 32×,
  // the standard middle rung of the memory/recall ladder. Codes score
  // via [[graft.functions.VectorFunctions.sq8Dot]] — one fused
  // multiply-add per corpus BYTE inside whole-stage codegen — and the
  // exact-cosine re-rank on original vectors finishes, so with a
  // candidate budget that covers the true top-k the brute-force oracle
  // transfers (the s6 PQ argument).
  // ------------------------------------------------------------------

  /** Per-dimension quantization bounds trained on the corpus. */
  case class Sq8Bounds(mins: Array[Double], steps: Array[Double]) {
    def dim: Int = mins.length
  }

  /** Train SQ8 bounds: per-dimension min/max over the UNIT-normalized
    * corpus (one posexplode → slim (i, x) rows → min/max hash agg — a
    * single order-independent pass; the agg output is `dim` rows however
    * large the corpus). step = (max − min)/255 so codes span the full
    * unsigned-byte range; a constant dimension gets step 0 and encodes
    * as 0. */
  def sq8Train(corpus: DataFrame, vecCol: String, dim: Int): Sq8Bounds = {
    val rows = corpus
      .select(posexplode(unit(col(vecCol))).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    require(rows.nonEmpty, "sq8Train: corpus has no vectors")
    require(rows.length == dim,
      s"sq8Train: corpus vectors have ${rows.length} dimensions, " +
        s"expected $dim")
    val mins = new Array[Double](dim)
    val steps = new Array[Double](dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      val mn = r.getFloat(1).toDouble
      mins(i) = mn
      steps(i) = (r.getFloat(2).toDouble - mn) / 255.0
    }
    Sq8Bounds(mins, steps)
  }

  /** Encode the corpus: (n_id, codes) with `codes` a BinaryType value of
    * exactly `dim` bytes — the whole searchable corpus at 1 byte per
    * dimension. Vectors are unit-normalized before quantization so the
    * approximate dot IS an approximate cosine. */
  def sq8Encode(corpus: DataFrame, bounds: Sq8Bounds, vecCol: String,
                idCol: String): DataFrame =
    spread(corpus.select(col(idCol).as("n_id"), col(vecCol)))
      .select(col("n_id"),
        VF.sq8Encode(unit(col(vecCol)), bounds.mins, bounds.steps)
          .as("codes"))

  /** ANN over SQ8 codes: per-query weight vector w_i = q_i·steps_i (the
    * reconstruction's per-query constant shifts every candidate equally —
    * see [[graft.functions.Sq8Dot]] — so it is dropped), codes scored by
    * the codegen'd byte loop with the query batch BROADCAST (corpus codes
    * never shuffle), top-`rerank` candidates per query via
    * WindowGroupLimit, exact-cosine re-rank on original vectors. Size
    * `rerank` to corpus count and recall target — [[calibrateRerank]]'s
    * contract; at the gate configuration the budget blankets the corpus,
    * so candidate coverage is total and the brute-force oracle applies. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, codes: DataFrame,
              bounds: Sq8Bounds, vecCol: String, idCol: String,
              k: Int, rerank: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    require(rerank >= k, "rerank must be at least k")
    val stepsLit = lit(bounds.steps)
    val q = queries.select(col(idCol).as("q_id"),
      zip_with(col(vecCol), stepsLit,
        (x, s) => x.cast("double") * s).as("w"))
    val scored = spread(codes).crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VF.sq8Dot(col("w"), col("codes")).as("approx"))
    val candW = Window.partitionBy("q_id")
      .orderBy(col("approx").desc, col("n_id").asc)
    val cands = scored.withColumn("cr", row_number().over(candW))
      .filter(col("cr") <= rerank).select("q_id", "n_id")
    exactRerank(cands, queries, corpus, vecCol, idCol, k)
  }

  /** Persist an SQ8 index: `codes` (compaction-managed lineage),
    * `bounds` (dim rows: i, mn, step), params (layout, dim). The
    * train+encode pass is paid once; serving reads 1 byte/dim. */
  def buildSq8Index(corpus: DataFrame, vecCol: String, idCol: String,
                    path: String, dim: Int,
                    maxRatio: Double = 4.0): Unit = {
    require(maxRatio > 1.0, "maxRatio must exceed 1 (ratio ~1 = in-dist)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val bounds = sq8Train(corpus, vecCol, dim)
    // base_err: the build corpus's own reconstruction error against the
    // just-trained bounds — the drift baseline ([[ivfDriftCheck]]'s
    // base_err contract, transplanted to scalar quantization). The
    // rebuild tripwire THRESHOLD persists beside it so every appender
    // applies the same policy the builder chose (maxRatio: how far a
    // batch's error may exceed base_err before the frozen-bounds
    // contract is considered violated — [[appendToSq8IndexChecked]]).
    Store.create(path, "codes", Seq("layout" -> "sq8_v1", "dim" -> dim,
        "base_err" -> sq8BatchError(corpus, vecCol, bounds)._1,
        "max_ratio" -> maxRatio)) { dir =>
      sq8Encode(corpus, bounds, vecCol, idCol)
        .write.mode("overwrite").parquet(dir)
      (0 until dim).map(i => (i, bounds.mins(i), bounds.steps(i)))
        .toDF("i", "mn", "step")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/bounds")
    }
  }

  private def readSq8Bounds(spark: org.apache.spark.sql.SparkSession,
                            path: String): Sq8Bounds = {
    val p = Store.params(spark, path)
    requireLayoutIn(p, path, "sq8_v1")
    val dim = p.getAs[Int]("dim")
    val mins = new Array[Double](dim)
    val steps = new Array[Double](dim)
    Store.read(spark, path, "bounds").collect().foreach { r =>
      val i = r.getAs[Int]("i")
      mins(i) = r.getAs[Double]("mn")
      steps(i) = r.getAs[Double]("step")
    }
    Sq8Bounds(mins, steps)
  }

  /** Encode a new corpus slice with the index's FROZEN bounds and append
    * its codes — the daily-ingest path ([[appendToPqIndex]]'s contract:
    * bounds train once on a representative sample; out-of-range values in
    * an appended batch CLAMP to the byte range, which only degrades that
    * batch's approximate scores, never correctness — the exact re-rank
    * still sees true vectors. Use [[ivfDriftCheck]]-style monitoring and
    * rebuild on distribution drift. Caller owns id uniqueness. */
  def appendToSq8Index(newCorpus: DataFrame, vecCol: String, idCol: String,
                       path: String,
                       compactFileThreshold: Int = 0): Unit = {
    val bounds = readSq8Bounds(newCorpus.sparkSession, path)
    val codes = sq8Encode(newCorpus, bounds, vecCol, idCol)
    Store.append(newCorpus.sparkSession, path, "codes",
        compactFileThreshold) {
      codes.write.mode("append").parquet(_)
    }
  }

  /** Drift-GATED frozen-bounds append — [[sq8DriftCheck]] wired into the
    * ingest lifecycle instead of left as standalone telemetry: the
    * batch's reconstruction error is checked against the index's STORED
    * `max_ratio` threshold (chosen at build, so every appender applies
    * the builder's policy), the report is appended as a row to the
    * index's `$path/drift` side log (the ivfDriftCheck report-parquet
    * convention — flagged rows are the rebuild tripwire a deployment
    * polls), and then either:
    *
    *  - `refuse = false` (default): the append proceeds EVEN WHEN
    *    flagged — correctness is never at stake (out-of-range values
    *    clamp in the codes, and the exact re-rank sees true vectors;
    *    only approximate candidate quality for the drifted batch
    *    degrades), so flag-and-continue is the serving-safe default;
    *  - `refuse = true`: a flagged batch throws BEFORE any codes are
    *    written — the strict mode for pipelines that would rather halt
    *    ingest than accumulate badly-quantized codes until the rebuild.
    *
    * Returns the report. Cost over the plain append: one fused
    * projection + one scalar aggregate over the batch. */
  def appendToSq8IndexChecked(newCorpus: DataFrame, vecCol: String,
                              idCol: String, path: String,
                              refuse: Boolean = false,
                              compactFileThreshold: Int = 0): Sq8DriftReport = {
    val spark = newCorpus.sparkSession
    import spark.implicits._
    val p = Store.params(spark, path)
    // pre-threshold indexes fall back to the build default rather than
    // refusing to append (the drift check itself requires base_err)
    val maxRatio =
      if (p.schema.fieldNames.contains("max_ratio"))
        p.getAs[Double]("max_ratio")
      else 4.0
    val r = sq8DriftCheck(newCorpus, vecCol, path)
    val flagged = r.ratio > maxRatio
    Seq((r.baseErr, r.batchErr, r.ratio, r.outOfRangeFrac, maxRatio,
        flagged))
      .toDF("base_err", "batch_err", "ratio", "oob_frac", "max_ratio",
        "flagged")
      .coalesce(1).write.mode("append").parquet(s"$path/drift")
    if (refuse)
      require(!flagged,
        f"sq8 drift ratio ${r.ratio}%.3f exceeds the stored threshold " +
          f"$maxRatio%.1f (batch_err ${r.batchErr}%.6g vs base_err " +
          f"${r.baseErr}%.6g, oob ${r.outOfRangeFrac}%.4f) — the batch " +
          "distribution no longer matches the frozen bounds; rebuild " +
          "the index or append with refuse = false")
    appendToSq8Index(newCorpus, vecCol, idCol, path, compactFileThreshold)
    r
  }

  /** Mean per-vector squared reconstruction error and out-of-range
    * fraction of a batch against FROZEN SQ8 bounds. Reconstruction is
    * the [[graft.functions.Sq8Dot]] midpoint x̂_i = mn_i + (c_i+0.5)·st_i
    * with c the clamped floor code [[graft.functions.Sq8Encode]] writes;
    * a constant (step-0) dimension reconstructs as mn. Plan shape: one
    * fused projection per row (unit-normalize, then a single fold over
    * the dim indices — bounds embed as array literals, no join, no
    * shuffle) and one scalar aggregate; `spread` first because the HOF
    * fold runs interpreted (the repo's one-partition cliff), and the
    * unit projection stays a separate aliased select so the fold's many
    * element_at references cannot inline 64 copies of it (the BPE
    * blow-up lesson — CollapseProject keeps multi-referenced non-cheap
    * aliases put). */
  private def sq8BatchError(df: DataFrame, vecCol: String,
                            bounds: Sq8Bounds): (Double, Double) = {
    val minsLit = typedLit(bounds.mins.toSeq)
    val stepsLit = typedLit(bounds.steps.toSeq)
    val zero = struct(lit(0.0).as("e"), lit(0L).as("o"))
    val prep = spread(df.select(col(vecCol).as("__v")))
      .select(unit(col("__v")).as("__u"))
    val folded = prep.select(
      aggregate(sequence(lit(0), lit(bounds.dim - 1)), zero, (acc, i) => {
        val x = element_at(col("__u"), i + 1).cast("double")
        val mn = element_at(minsLit, i + 1)
        val st = element_at(stepsLit, i + 1)
        val raw = floor((x - mn) / st)
        val code = least(greatest(raw, lit(0.0)), lit(255.0))
        val rec = mn + (code + lit(0.5)) * st
        val err = when(st > 0.0, (x - rec) * (x - rec))
          .otherwise((x - mn) * (x - mn))
        val oob = when(st > 0.0,
            when(raw < 0.0 || raw > 255.0, lit(1L)).otherwise(lit(0L)))
          .otherwise(when(x =!= mn, lit(1L)).otherwise(lit(0L)))
        struct((acc.getField("e") + err).as("e"),
          (acc.getField("o") + oob).as("o"))
      }).as("s"))
    val r = folded.agg(avg(col("s.e")), sum(col("s.o")),
      count(lit(1))).head()
    if (r.getLong(2) == 0L) (0.0, 0.0)
    else (r.getDouble(0),
      r.getLong(1).toDouble / (r.getLong(2).toDouble * bounds.dim))
  }

  /** Quantization-drift probe for a [[buildSq8Index]] index — the
    * [[ivfDriftCheck]] contract transplanted to scalar quantization.
    * Appends encode against FROZEN per-dimension bounds and out-of-range
    * values CLAMP, so as the data distribution drifts the batch's
    * reconstruction error grows past the build corpus's own (`base_err`
    * in params) and values start landing outside the trained range
    * entirely. `ratio` ≫ 1 sustained, or a materially non-zero
    * `outOfRangeFrac`, is the rebuild tripwire the freeze contract
    * defers to. Cost: one fused projection + one scalar aggregate over
    * the batch — run it on every ingest batch before
    * [[appendToSq8Index]]. */
  def sq8DriftCheck(batch: DataFrame, vecCol: String,
                    indexPath: String): Sq8DriftReport = {
    val spark = batch.sparkSession
    val p = Store.params(spark, indexPath)
    requireLayoutIn(p, indexPath, "sq8_v1")
    require(p.schema.fieldNames.contains("base_err"),
      s"index at $indexPath predates drift baselines — rebuild it with " +
        "buildSq8Index to record base_err")
    val baseErr = p.getAs[Double]("base_err")
    val bounds = readSq8Bounds(spark, indexPath)
    val (batchErr, oob) = sq8BatchError(batch, vecCol, bounds)
    Sq8DriftReport(baseErr, batchErr,
      batchErr / math.max(baseErr, 1e-12), oob)
  }

  /** Result of [[sq8DriftCheck]]: build-time reconstruction error, the
    * new batch's error against the same frozen bounds, their ratio
    * (~1 = same distribution; ≫1 = drifted, rebuild), and the fraction
    * of (row, dimension) values outside the trained range (these clamp
    * at encode — fidelity loss invisible to the error mean alone when
    * confined to few dimensions). */
  final case class Sq8DriftReport(baseErr: Double, batchErr: Double,
                                  ratio: Double, outOfRangeFrac: Double)

  /** ANN against a [[buildSq8Index]]-persisted index: stored bounds +
    * codes, no train or encode at query time; `corpus` supplies vectors
    * for the exact candidate re-rank only. */
  def sq8TopKFromIndex(queries: DataFrame, corpus: DataFrame,
                       indexPath: String, vecCol: String, idCol: String,
                       k: Int, rerank: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val bounds = readSq8Bounds(spark, indexPath)
    sq8TopK(queries, corpus,
      Store.read(spark, indexPath, "codes"),
      bounds, vecCol, idCol, k, rerank)
  }

  /** Forwarders to [[graft.store.Store]] for callers outside the
    * operator families. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = Store.compactIndex(spark, path)
  def readEpoch(path: String, sub: String): Long = Store.readEpoch(path, sub)
  def resolveDataDir(path: String, sub: String): String =
    Store.resolveDataDir(path, sub)

  /** Flat per-query ADC lookup table (q_id, tbl): subspace distances to
    * every centroid, (sub, code)-sorted so the entry for (s, c) sits at
    * index s·K + c (codes are dense 0..K-1). */
  private def qAdcTables(queries: DataFrame, codebook: DataFrame,
                         vecCol: String, idCol: String,
                         dim: Int, m: Int): DataFrame = {
    val sub = dim / m
    queries
      .select(col(idCol).as("q_id"), unit(col(vecCol)).as("__nvec"))
      .select(col("q_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("__nvec"), s * sub + 1, sub)): _*)).as(Seq("sub", "q_subvec")))
      .join(broadcast(codebook), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        VF.l2Squared(col("q_subvec"), col("centroid")).as("d"))
      .groupBy("q_id")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code"), col("d")))),
        p => p.getField("d")).as("tbl"))
  }

  /** ADC sum over `codes` against the flat `tbl`: M native lookups. */
  private def adcDist(m: Int): Column = {
    val kCodes = (size(col("tbl")) / lit(m)).cast("int")
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(col("tbl"), s * kCodes + c.cast("int") + 1)),
      lit(0.0), (a, x) => a + x)
  }

  /** Keep each query's `rerank` best ADC rows (partial top-N —
    * WindowGroupLimit prunes before the shuffle). */
  private def adcCandidates(adc: DataFrame, rerank: Int): DataFrame = {
    val candW = Window.partitionBy("q_id")
      .orderBy(col("adc_dist").asc, col("n_id").asc)
    adc.withColumn("cr", row_number().over(candW))
      .filter(col("cr") <= rerank).select("q_id", "n_id")
  }

  /** Exact-cosine re-rank of (q_id, n_id) candidates against the original
    * vectors; only candidates' vectors are joined. Output: the
    * [[bruteForceTopK]] schema. */
  private def exactRerank(cands: DataFrame, queries: DataFrame,
                          corpus: DataFrame, vecCol: String, idCol: String,
                          k: Int): DataFrame = {
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val cv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = cands.join(qv, "q_id").join(cv, "n_id")
      .select(col("q_id"), col("n_id"),
        VF.cosineSimilarity(col("q_vec"), col("n_vec")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN using a precomputed coarse partition (here: the corpus's
    * cluster/label column as the inverted-file cell): queries probe only
    * their `nprobe` nearest cells' rows. Centroids are computed by averaging
    * per cell (one small agg), broadcast back; the big corpus shuffles ONCE
    * at write time in a real deployment (bucketed/partitioned by cell). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              vecCol: String, idCol: String, cellCol: String,
              k: Int, nprobe: Int = 2): DataFrame = {
    val centroids = cellCentroids(corpus, vecCol, cellCol)
    val probes = probeCells(queries, centroids, vecCol, idCol, nprobe)
    // score only rows in probed cells
    val c = spread(corpus).select(col(cellCol).as("cell"), col(idCol).as("n_id"),
      col(vecCol).as("n_vec"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VF.cosineSimilarity(col("q_vec"), col("n_vec")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Layout tag for cell-partitioned persisted IVF indexes; recorded in
    * params and validated by every reader/appender (an old slim-layout
    * index has no vectors inside — probing it as v2 would not fail, it
    * would return nothing). */
  private[operators] val IvfLayoutV2 = "ivf-cells-partitioned-v2"

  /** Persist an IVF index at `path` (parquet): `cells` — the inverted
    * file, one (n_id, vec) row per vector, HIVE-PARTITIONED BY `cell` —
    * plus `centroids` (k rows) and params (cells, seed, base_err,
    * layout). The k-means train + full-corpus assignment + ONE shuffle
    * into cell-partitioned layout are paid at build time; every later
    * query batch probes the stored centroids and then READS ONLY the
    * probed cells' directories via parquet partition pruning — a serving
    * batch at nprobe=2 of 1024 cells lists 2 directories, not the corpus.
    * This is what makes the index an index at 10⁹ vectors: the previous
    * slim (n_id, cell) layout still joined the FULL corpus on n_id per
    * serving batch (nprobe pruned scoring, not IO/shuffle). The vectors
    * living inside the index is the FAISS inverted-list layout — the
    * index IS the serving copy of the corpus, laid out for probes.
    * Completes the build/append/query/compact lifecycle for the IVF
    * family (LSH: [[buildLshIndex]], PQ: [[buildPqIndex]], OPQ:
    * [[buildOpqIndex]]). */
  def buildIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
                    path: String, cells: Int = 16, seed: Long = 7L,
                    assignExpr: Option[Column] = None,
                    metaCols: Seq[String] = Nil): Unit = {
    validateMetaCols(metaCols, idCol, vecCol)
    // assignExpr overrides the k-means train with an explicit quantizer
    // (e.g. Dedup.signBitCluster) — same stored layout, caller-chosen
    // geometry; centroids are still the member means of the assignment
    val assigned = assignExpr match {
      case Some(e) => corpus.withColumn("cell", e.cast("int"))
      case None    => kmeansCells(corpus, vecCol, cells, seed)
    }
    // one shuffle on cell groups whole cells per task → one file per cell
    // (slivers from later appends fold back in via compactIndex).
    // metaCols ride inside the index rows (e.g. the label column a
    // hard-negative serve filters on) so serving never joins back to the
    // corpus — the index stays the only table a batch touches.
    // member-mean centroids of the stored assignment: self-consistent with
    // what queries probe and what appends assign against
    val cents = cellCentroids(assigned, vecCol, "cell")
    // baseline quantization error (mean 1 − cosine to the assigned cell's
    // centroid) — the reference point [[ivfDriftCheck]] compares new
    // batches against
    def baseErr = Option(
      assigned.join(broadcast(cents), "cell")
        .agg(avg(lit(1.0) - VF.cosineSimilarity(col(vecCol), col("centroid"))))
        .head.get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    Store.create(path, "cells", Seq("cells" -> cells, "seed" -> seed,
        "base_err" -> baseErr, "layout" -> IvfLayoutV2,
        "meta_cols" -> metaCols.mkString(","))) { dir =>
      assigned.select(col(idCol).as("n_id") +: col(vecCol).as("vec") +:
          guardedMetaCols(metaCols) :+ col("cell"): _*)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }
  }

  /** Meta columns recorded in a v2 IVF index's params (empty for
    * indexes built without them, including pre-meta indexes). */
  private def metaColsOf(p: org.apache.spark.sql.Row): Seq[String] =
    if (p.schema.fieldNames.contains("meta_cols"))
      p.getAs[String]("meta_cols").split(",").filter(_.nonEmpty).toSeq
    else Nil

  /** Column names a meta column may not take: `n_id`/`vec`/`cell` are the
    * stored index columns, `q_id`/`q_vec` the serve-side probe columns,
    * the rest serve-side derivations — a collision either duplicates an
    * index column at build or breaks the serving join/rename. */
  private val ReservedIndexCols = Set(
    "n_id", "vec", "cell", "q_id", "q_vec", "cosine", "rank",
    "n_label", "q_label", "c_sim", "pr", "centroid", "__cos")

  /** Fail fast on meta-column names that would corrupt the index or its
    * serving plans: reserved names, the id/vector columns themselves
    * (already stored as `n_id`/`vec`; a duplicate also makes
    * [[calibrateIvfIndex]]'s `n_id`→idCol rename ambiguous), commas
    * (`meta_cols` round-trips through a comma-joined params string),
    * and duplicates. */
  private def validateMetaCols(metaCols: Seq[String], idCol: String,
                               vecCol: String): Unit = {
    metaCols.foreach { mc =>
      require(!mc.contains(","),
        s"meta column '$mc' contains a comma — meta_cols is stored as a " +
          "comma-joined list in params")
      require(!ReservedIndexCols.contains(mc),
        s"meta column '$mc' collides with a reserved index/serving " +
          s"column (${ReservedIndexCols.toSeq.sorted.mkString(", ")})")
      require(mc != idCol && mc != vecCol,
        s"meta column '$mc' duplicates idCol/vecCol — the id and vector " +
          "are already stored as n_id/vec")
    }
    require(metaCols.distinct.size == metaCols.size,
      s"duplicate meta columns: ${metaCols.mkString(", ")}")
  }

  /** Meta columns projected into the index store, each guarded by an
    * in-row non-null assertion. A NULL stored value would silently drop
    * rows from every filter built on the column (`=!=` is null-hostile:
    * a null-label negative can never certify as different-label), so
    * build/append REJECT null meta values instead of storing rows that
    * can never serve. `assert_true` folds into the write projection —
    * zero extra passes over the corpus. */
  private def guardedMetaCols(metaCols: Seq[String]): Seq[Column] =
    metaCols.map(mc =>
      when(assert_true(col(mc).isNotNull,
          lit(s"null value in index meta column '$mc' — meta columns " +
            "must be non-null (serving filters treat NULL as " +
            "never-matching)")).isNull,
        col(mc)).as(mc))

  /** Validate that the index at `path` carries the expected `layout` tag
    * in params; untagged = pre-v2 slim layout, whose stored table has
    * no vectors — unusable by v2 readers/appenders. */
  private def requireLayout(spark: org.apache.spark.sql.SparkSession,
                            path: String, expected: String): Unit =
    requireLayoutIn(Store.params(spark, path), path, expected)

  /** [[requireLayout]] over an already-read params row — serving paths
    * read the side table once and validate + resolve knobs from the same
    * row instead of re-listing the directory per check. */
  private def requireLayoutIn(p: org.apache.spark.sql.Row, path: String,
                              expected: String): Unit = {
    val got =
      if (p.schema.fieldNames.contains("layout")) p.getAs[String]("layout")
      else "<untagged slim layout>"
    require(got == expected,
      s"index at $path has layout '$got' but this operation needs " +
        s"'$expected' — rebuild the index")
  }

  /** Resolve a serving knob: an explicit positive argument wins; the
    * sentinel 0 defers to the calibrated value stored in params (by
    * [[calibrateIvfIndex]] / [[calibrateIvfPqIndex]]), falling back to
    * `dflt` on an uncalibrated index. At scale the calibrated value IS
    * index metadata — the builder measured it against brute force, so
    * serving code passing literals is second-guessing the measurement. */
  private def resolveKnob(p: org.apache.spark.sql.Row, arg: Int,
                          stored: String, dflt: Int): Int =
    if (arg > 0) arg
    else if (p.schema.fieldNames.contains(stored)) p.getAs[Int](stored)
    else dflt

  /** Append new vectors to a [[buildIvfIndex]] index: assign each to its
    * max-cosine stored centroid (FROZEN centroids — the same freeze
    * contract as [[appendToPqIndex]]'s codebooks: cells train once on a
    * representative corpus, re-clustering is an explicit rebuild on
    * drift) and append (n_id, vec) rows into the cell-partitioned store.
    * The centroid argmax embeds the k×D centroid table as a LITERAL, so
    * assignment is one fused projection over the new vectors — no join,
    * no shuffle; the partitioned append adds one sliver file per touched
    * cell ([[Store.compactIndex]] folds them). */
  def appendToIvfIndex(newCorpus: DataFrame, vecCol: String, idCol: String,
                       path: String,
                       compactFileThreshold: Int = 0): Unit = {
    val p = Store.params(newCorpus.sparkSession, path)
    requireLayoutIn(p, path, IvfLayoutV2)
    // an index built with meta columns keeps them through appends — a
    // sliver missing the column would read back as NULL and silently
    // break the serve-side filter that depends on it
    val cells = nearestStoredCentroid(spread(newCorpus), vecCol, path)
      .select(col(idCol).as("n_id") +: col(vecCol).as("vec") +:
        guardedMetaCols(metaColsOf(p)) :+ col("cell"): _*)
    Store.append(newCorpus.sparkSession, path, "cells",
        compactFileThreshold) {
      cells.write.mode("append").partitionBy("cell").parquet(_)
    }
  }

  /** Nearest STORED centroid per row: the k×D centroid table embeds as a
    * LITERAL, so the argmax is one fused projection over the input — no
    * join, no shuffle. Output: the input columns plus `cell` (argmax
    * cell id) and `__cos` (its cosine). */
  private def nearestStoredCentroid(df: DataFrame, vecCol: String,
                                    path: String): DataFrame = {
    val spark = df.sparkSession
    val cents = Store.read(spark, path, "centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty,
      s"index at $path has no centroids (built from an empty corpus?) — " +
        "rebuild it before appending or probing")
    val cellIds = typedLit(cents.map(_._1).toSeq)
    val cvecs = typedLit(cents.map(_._2).toSeq)
    val zero = struct(lit(-1).as("best"), lit(Double.MinValue).as("bs"))
    val best = aggregate(sequence(lit(0), lit(cents.length - 1)), zero,
      (acc, i) => {
        val s = VF.cosineSimilarity(col(vecCol), element_at(cvecs, i + 1))
        when(s > acc.getField("bs"),
          struct(i.as("best"), s.as("bs"))).otherwise(acc)
      })
    df.withColumn("__best", best)
      .withColumn("cell", element_at(cellIds, col("__best").getField("best") + 1))
      .withColumn("__cos", col("__best").getField("bs"))
      .drop("__best")
  }

  /** Quantization-drift probe for a [[buildIvfIndex]] index: the mean
    * 1 − cosine of a new batch to its nearest STORED centroid, compared
    * to the error the index had over its own build corpus (`base_err` in
    * params). Appends assign against FROZEN centroids, so as the data
    * distribution drifts away from the build corpus this ratio grows —
    * treat a sustained ratio well above 1 as the rebuild tripwire the
    * freeze contract defers to. One fused projection + one scalar
    * aggregate over the batch (or a sample of it): cheap enough to run
    * on every ingest batch before [[appendToIvfIndex]]. */
  def ivfDriftCheck(batch: DataFrame, vecCol: String,
                    indexPath: String): DriftReport = {
    val spark = batch.sparkSession
    val params = Store.params(spark, indexPath)
    require(params.schema.fieldNames.contains("base_err"),
      s"index at $indexPath predates drift baselines — rebuild it with " +
        "buildIvfIndex to record base_err")
    val baseErr = params.getAs[Double]("base_err")
    val batchErr = Option(
      nearestStoredCentroid(spread(batch), vecCol, indexPath)
        .agg(avg(lit(1.0) - col("__cos"))).head.get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    DriftReport(baseErr, batchErr, batchErr / math.max(baseErr, 1e-12))
  }

  /** Result of [[ivfDriftCheck]]: build-time quantization error, the new
    * batch's error against the same frozen centroids, and their ratio
    * (~1 = same distribution; ≫1 = drifted, rebuild). */
  final case class DriftReport(baseErr: Double, batchErr: Double,
                               ratio: Double)

  /** ANN against a [[buildIvfIndex]]-persisted index. The serving batch
    * touches NO table but the index: stored centroids are probed (tiny,
    * broadcast), the scan LISTS AND READS ONLY the probed `cell=`
    * directories ([[probeIndex]]), and stored vectors score in place
    * against the broadcast query probes. No corpus-side argument, no corpus-wide join, no
    * shuffle of anything corpus-sized — per batch the IO is
    * Σ(probed cell sizes) and the only exchange is the per-query top-k
    * window over scored rows. With `nprobe` ≥ cells every partition is
    * probed and this provably equals [[bruteForceTopK]] (every row
    * scored, same tie-break) — the oracle argument the s11 gate uses.
    *
    * `nprobe = 0` (the default) serves with the nprobe the index was
    * CALIBRATED to ([[calibrateIvfIndex]] stored it in params);
    * a positive argument overrides, an uncalibrated index falls back
    * to 2. */
  def ivfTopKFromIndex(queries: DataFrame, indexPath: String,
                       vecCol: String, idCol: String,
                       k: Int, nprobe: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val p = Store.params(spark, indexPath)
    requireLayoutIn(p, indexPath, IvfLayoutV2)
    val (probes, stored) = probeIndex(queries, p, indexPath, "cells",
      vecCol, idCol, resolveKnob(p, nprobe, "cal_nprobe", dflt = 2))
    val scored = stored.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VF.cosineSimilarity(col("q_vec"), col("vec")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining served FROM a persisted IVF index — the form
    * that survives a non-broadcastable query side (the training set
    * itself): per serving batch, OVERFETCH the label-blind top-(k ×
    * `overfetch`) from the index (the exact [[ivfTopKFromIndex]] shape:
    * probe stored centroids, partition-prune the scan to probed `cell=`
    * dirs, score in place — the corpus NEVER cross-joins and never
    * shuffles), then drop same-label candidates and keep the k best.
    * The index must have been built with `metaCols` including
    * `labelCol`, so the negative's label rides in the pruned scan rows
    * and no corpus-side join is ever needed.
    *
    * Exactness: with `nprobe` ≥ cells the overfetch list is the TRUE
    * label-blind top-(k·overfetch); if it still contains ≥ k
    * different-label rows the output equals [[hardNegatives]] (same
    * ordering, same tie-break, same self-id exclusion, same NULL-label
    * policy) — the s15 oracle transfers, and the
    * `s15b_hard_negatives_ann` gate pins exactly that configuration.
    * A query emitting FEWER than k rows is the under-overfetch signal:
    * re-serve that query with a larger `overfetch` (same index, no
    * rebuild). Sizing rule: overfetch ≳ 1 / (1 − max same-label
    * neighbor fraction). `strict = true` makes the signal actionable
    * for pipelines that would otherwise silently train on fewer than k
    * negatives: one extra bounded action over the (broadcastable) query
    * batch, erroring with the under-filled query ids — including
    * null-label queries, which always emit zero rows. */
  def hardNegativesFromIndex(queries: DataFrame, indexPath: String,
                             vecCol: String, idCol: String,
                             labelCol: String, k: Int,
                             overfetch: Int = 4,
                             nprobe: Int = 0,
                             strict: Boolean = false): DataFrame = {
    require(overfetch >= 1, "overfetch must be >= 1")
    val spark = queries.sparkSession
    val p = Store.params(spark, indexPath)
    requireLayoutIn(p, indexPath, IvfLayoutV2)
    require(metaColsOf(p).contains(labelCol),
      s"index at $indexPath does not store meta column '$labelCol' — " +
        s"rebuild with buildIvfIndex(..., metaCols = Seq(\"$labelCol\"))")
    val (probes, stored) = probeIndex(queries, p, indexPath, "cells",
      vecCol, idCol, resolveKnob(p, nprobe, "cal_nprobe", dflt = 2))
    val scored = stored.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col(labelCol).as("n_label"),
        VF.cosineSimilarity(col("q_vec"), col("vec")).as("cosine"))
    // label-blind overfetch: the ANN serve's own top-k, widened ×overfetch
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id").asc)
    val cands = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k * overfetch)
      .drop("rank")
    // attach the query's label (a serving batch broadcasts; the full
    // training set streams through in such batches) and keep the k best
    // different-label survivors, re-ranked under the same ordering
    // query-side labels get the same in-row non-null guard the stored
    // side enforces at build/append: a NULL q_label would silently drop
    // the query's every candidate through the null-hostile =!= below
    // (with strict=false nothing would flag it)
    val ql = queries.select(col(idCol).as("q_id"),
      when(assert_true(col(labelCol).isNotNull,
          lit(s"null query label in '$labelCol' — hardNegativesFromIndex " +
            "requires non-null labels (a NULL can never certify as " +
            "different-label)")).isNull,
        col(labelCol)).as("q_label"))
    val out = cands.join(broadcast(ql), "q_id")
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("n_label"), col("rank"))
    if (strict) {
      // bounded: |query batch| rows at most, and the batch broadcasts by
      // contract. A left join keeps zero-row queries (null labels, empty
      // probes) visible — groupBy on the output alone would miss them.
      val short = ql.join(
          out.groupBy("q_id").agg(count(lit(1)).as("got")),
          Seq("q_id"), "left")
        .filter(coalesce(col("got"), lit(0L)) < k)
        .select("q_id").collect().map(_.get(0))
      require(short.isEmpty,
        s"hardNegativesFromIndex(strict): ${short.length} query(ies) " +
          s"under-filled (< $k negatives) — re-serve them with a larger " +
          s"overfetch (ids: ${short.take(20).mkString(", ")})")
    }
    out
  }

  /** Layout tag for cell-partitioned persisted IVFPQ indexes. */
  private[operators] val IvfPqLayoutV1 = "ivfpq-cells-partitioned-v1"

  /** Persist an IVFPQ index at `path` — the FAISS production layout as
    * ONE index: coarse cells AND PQ codes stored together, so a serving
    * batch both prunes IO (partition pruning to probed `cell=` dirs) and
    * scores M-byte codes instead of D-float vectors within them. Tables:
    * `codes` — one (n_id, vec, codes) row per vector, HIVE-PARTITIONED BY
    * `cell`; `centroids` (coarse, cells rows); `codebook` (m·k rows);
    * params. The stored `vec` is the refinement store for the exact
    * re-rank (FAISS's IVFPQR shape, riding in the same partitioned table
    * so re-rank IO is pruned identically); a deployment that re-ranks
    * against an external flat store would drop the column and keep pure
    * M-byte rows. s7's on-the-fly [[ivfPqTopK]] is the same composition
    * without the persistence; this pays coarse train + PQ train + encode
    * + the one partitioning shuffle ONCE. Lifecycle: build /
    * [[appendToIvfPqIndex]] frozen append / [[ivfPqTopKFromIndex]] query /
    * [[Store.compactIndex]] sliver fold (partition-preserving). */
  def buildIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
                      path: String, dim: Int, m: Int,
                      cells: Int = 16, k: Int = 256, seed: Long = 7L,
                      assignExpr: Option[Column] = None): Unit = {
    Store.create(path, "codes", Seq("cells" -> cells, "dim" -> dim,
        "m" -> m, "k" -> k, "seed" -> seed,
        "layout" -> IvfPqLayoutV1)) { dir =>
      val assigned = assignExpr match {
        case Some(e) => corpus.withColumn("cell", e.cast("int"))
        case None    => kmeansCells(corpus, vecCol, cells, seed)
      }
      val book = pqTrain(corpus, vecCol, dim, m, k, seed)
      book.write.mode("overwrite").parquet(s"$path/codebook")
      cellCentroids(assigned, vecCol, "cell")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // cell assignment + PQ encode fused in one projection over the
      // corpus, then the one shuffle into cell-partitioned layout
      assigned
        .select(col(idCol).as("n_id"), col(vecCol).as("vec"), col("cell"))
        .withColumn("__nvec", unit(col("vec")))
        .select(col("n_id"), col("vec"),
          pqCodesColumn(book, col("__nvec"), dim, m).as("codes"), col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }
  }

  /** Append new vectors to a [[buildIvfPqIndex]] index under the freeze
    * contract: coarse assignment against FROZEN stored centroids and PQ
    * encode against the FROZEN stored codebook, fused in one projection
    * (both embed as literals — no join, no shuffle), appended as sliver
    * files into the touched `cell=` dirs. [[ivfDriftCheck]] is the
    * rebuild tripwire for both frozen artifacts; [[Store.compactIndex]] folds
    * the slivers. */
  def appendToIvfPqIndex(newCorpus: DataFrame, vecCol: String,
                         idCol: String, path: String,
                         compactFileThreshold: Int = 0): Unit = {
    val spark = newCorpus.sparkSession
    requireLayout(spark, path, IvfPqLayoutV1)
    val p = Store.params(spark, path)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    val book = Store.read(spark, path, "codebook")
    val codes = nearestStoredCentroid(spread(newCorpus), vecCol, path)
      .withColumn("__nvec", unit(col(vecCol)))
      .select(col(idCol).as("n_id"), col(vecCol).as("vec"),
        pqCodesColumn(book, col("__nvec"), dim, m).as("codes"), col("cell"))
    Store.append(spark, path, "codes", compactFileThreshold) {
      codes.write.mode("append").partitionBy("cell").parquet(_)
    }
  }

  /** ANN against a [[buildIvfPqIndex]] index. Per serving batch: probe
    * the stored coarse centroids (broadcast), partition-prune the scan to
    * the probed `cell=` dirs ([[probeIndex]]), ADC-score ONLY those
    * cells' codes against the broadcast per-query lookup tables, and
    * exact-cosine re-rank the `rerank` best against the stored refinement
    * vectors — read from the SAME pruned partitions. No argument but the
    * queries touches data; nothing corpus-sized shuffles. With `nprobe` ≥
    * cells and `rerank` covering the true top-k's ADC positions this
    * equals [[bruteForceTopK]] — the same exactness transfer s7/s9/s10
    * use, which is how the s12 gate oracles it.
    *
    * `nprobe = 0` / `rerank = 0` (the defaults) serve with the values
    * the index was CALIBRATED to ([[calibrateIvfPqIndex]] stored them in
    * params); positive arguments override, an uncalibrated index
    * falls back to nprobe 2 / rerank 64. */
  def ivfPqTopKFromIndex(queries: DataFrame, indexPath: String,
                         vecCol: String, idCol: String, k: Int,
                         nprobe: Int = 0, rerank: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val p = Store.params(spark, indexPath)
    requireLayoutIn(p, indexPath, IvfPqLayoutV1)
    val rr = resolveKnob(p, rerank, "cal_rerank", dflt = 64)
    val (dim, m) = (p.getAs[Int]("dim"), p.getAs[Int]("m"))
    val book = Store.read(spark, indexPath, "codebook")
    val (probes, stored) = probeIndex(queries, p, indexPath, "codes",
      vecCol, idCol, resolveKnob(p, nprobe, "cal_nprobe", dflt = 2))
    // (q_id, cell, tbl): |Q|·nprobe rows — broadcastable; the ADC-table
    // side is |Q| rows, so hint it broadcast too (both sides are
    // query-sized — without the hint Catalyst's size-unknown default is a
    // sort-merge join inside this tiny query-side subtree)
    val probedTbl = probes.select("q_id", "cell")
      .join(broadcast(qAdcTables(queries, book, vecCol, idCol, dim, m)), "q_id")
    val adc = stored.join(broadcast(probedTbl), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), adcDist(m).as("adc_dist"))
    exactRerank(adcCandidates(adc, rr), queries,
      stored.select(col("n_id").as(idCol), col("vec").as(vecCol)),
      vecCol, idCol, k)
  }

  /** Calibrate the ADC re-rank budget by measurement: the smallest
    * rerank on a doubling ladder (`start`, 2·start, … `maxRerank`) whose
    * recall@k on a SAMPLE of queries, measured against exact brute
    * force, meets `recallTarget`. The budget is the PQ recall knob the
    * cross-SF sweep showed must scale with the corpus — a constant that
    * blankets a small corpus silently under-covers a big one. Same cost
    * shape as [[calibrateNprobe]]: one brute pass over the sample plus
    * ≤ log₂(maxRerank/start) ADC passes, paid once at deploy time.
    * Returns `maxRerank` when the target is unreachable below it (raise
    * the ceiling, or the codebooks are too coarse — retrain). */
  def calibrateRerank(queries: DataFrame, corpus: DataFrame,
                      codes: DataFrame, codebook: DataFrame,
                      vecCol: String, idCol: String,
                      dim: Int, m: Int, k: Int, recallTarget: Double,
                      sampleSize: Int = 32, start: Int = 64,
                      maxRerank: Int = 4096): Int = {
    require(recallTarget > 0 && recallTarget <= 1, "recallTarget in (0, 1]")
    require(start >= k && start <= maxRerank, "need k <= start <= maxRerank")
    val sample = queries.limit(sampleSize).cache()
    try {
      def pairs(df: DataFrame): Set[(Any, Any)] =
        df.select("q_id", "n_id").collect()
          .map(r => (r.get(0), r.get(1))).toSet
      val brute = pairs(bruteForceTopK(sample, corpus, vecCol, idCol, k))
      if (brute.isEmpty) start
      else {
        var budget = start
        var found = -1
        while (found < 0 && budget < maxRerank) {
          val got = pairs(pqTopK(sample, corpus, codes, codebook,
            vecCol, idCol, dim, m, k, budget))
          if ((got & brute).size.toDouble / brute.size >= recallTarget)
            found = budget
          else budget = math.min(maxRerank, budget * 2)
        }
        if (found > 0) found else maxRerank
      }
    } finally sample.unpersist()
  }

  /** Calibrate the IVF recall/cost knob by measurement: the smallest
    * nprobe on a doubling ladder (1, 2, 4, … cells) whose recall@k on a
    * SAMPLE of queries, measured against exact brute force, meets
    * `recallTarget`. The production trade nprobe controls is real work
    * skipped — probing 3 of 16 cells scores ~3/16 of the corpus — so the
    * right value is an empirical property of the data's clusterability,
    * not something to guess. Calibration cost: one brute-force pass over
    * sampleSize queries plus ≤ log₂(cells) IVF passes — paid once at
    * deploy time, never per serving batch. Returns `cells` (exact
    * coverage) when the target is unreachable below it. */
  def calibrateNprobe(queries: DataFrame, corpus: DataFrame,
                      indexPath: String, vecCol: String, idCol: String,
                      k: Int, recallTarget: Double,
                      sampleSize: Int = 32): Int = {
    require(recallTarget > 0 && recallTarget <= 1, "recallTarget in (0, 1]")
    val spark = queries.sparkSession
    val cells = Store.read(spark, indexPath, "centroids").count().toInt
    val sample = queries.limit(sampleSize).cache()
    try {
      def pairs(df: DataFrame): Set[(Any, Any)] =
        df.select("q_id", "n_id").collect()
          .map(r => (r.get(0), r.get(1))).toSet
      val brute = pairs(bruteForceTopK(sample, corpus, vecCol, idCol, k))
      if (brute.isEmpty) 1
      else {
        var np = 1
        var found = -1
        while (found < 0 && np < cells) {
          val got = pairs(ivfTopKFromIndex(sample, indexPath,
            vecCol, idCol, k, np))
          if ((got & brute).size.toDouble / brute.size >= recallTarget)
            found = np
          else np = math.min(cells, np * 2)
        }
        if (found > 0) found else cells
      }
    } finally sample.unpersist()
  }

  /** Merge `extra` (name → value) into an index's one-row params side
    * table: existing columns are preserved (base_err feeds the drift
    * probe, dim/m feed appenders), same-named columns are replaced — so
    * re-calibration overwrites prior calibration without touching the
    * build-time record. */
  private def upsertParams(spark: org.apache.spark.sql.SparkSession,
                           path: String, extra: Seq[(String, Any)]): Unit = {
    val row = Store.params(spark, path)
    val kept = row.schema.fieldNames.toSeq
      .filterNot(n => extra.exists(_._1 == n)).map(n => n -> row.getAs[Any](n))
    Store.commitParams(path, kept ++ extra)
  }

  /** Calibrate a [[buildIvfIndex]] index IN PLACE: measure the smallest
    * nprobe meeting `recallTarget` ([[calibrateNprobe]], against brute
    * force over the index's OWN stored vectors — no external corpus
    * argument, the index is the serving copy) and store it in params
    * (`cal_nprobe`, with the k and target it was measured at).
    * [[ivfTopKFromIndex]] then serves with the stored value by default:
    * at 100 TB the calibrated knob is index METADATA, set once by
    * measurement at build/deploy time, not a literal each caller guesses.
    * Returns the stored nprobe. */
  def calibrateIvfIndex(queries: DataFrame, indexPath: String,
                        vecCol: String, idCol: String, k: Int,
                        recallTarget: Double, sampleSize: Int = 32): Int = {
    val spark = queries.sparkSession
    requireLayout(spark, indexPath, IvfLayoutV2)
    val corpus = Store.read(spark, indexPath, "cells")
      .select(col("n_id").as(idCol), col("vec").as(vecCol))
    val np = calibrateNprobe(queries, corpus, indexPath, vecCol, idCol,
      k, recallTarget, sampleSize)
    upsertParams(spark, indexPath, Seq(
      "cal_nprobe" -> np, "cal_k" -> k, "cal_recall" -> recallTarget))
    np
  }

  /** Calibrate a [[buildIvfPqIndex]] index IN PLACE, both knobs: the
    * smallest nprobe meeting `recallTarget` at the rerank CEILING (coarse
    * coverage first — no rerank budget recovers a neighbor whose cell was
    * never probed), then the smallest rerank at that nprobe (ADC-ordering
    * slack second). Both measured on a query sample against brute force
    * over the index's stored refinement vectors, stored in params
    * (`cal_nprobe`, `cal_rerank`), and served as [[ivfPqTopKFromIndex]]'s
    * defaults. Returns (nprobe, rerank); when the target is unreachable
    * the ceilings (cells, maxRerank) are stored — exact coverage. */
  def calibrateIvfPqIndex(queries: DataFrame, indexPath: String,
                          vecCol: String, idCol: String, k: Int,
                          recallTarget: Double, sampleSize: Int = 32,
                          rerankStart: Int = 64,
                          maxRerank: Int = 4096): (Int, Int) = {
    require(recallTarget > 0 && recallTarget <= 1, "recallTarget in (0, 1]")
    require(rerankStart >= k && rerankStart <= maxRerank,
      "need k <= rerankStart <= maxRerank")
    val spark = queries.sparkSession
    requireLayout(spark, indexPath, IvfPqLayoutV1)
    val cells = Store.read(spark, indexPath, "centroids").count().toInt
    val corpus = Store.read(spark, indexPath, "codes")
      .select(col("n_id").as(idCol), col("vec").as(vecCol))
    val sample = queries.limit(sampleSize).cache()
    try {
      def pairs(df: DataFrame): Set[(Any, Any)] =
        df.select("q_id", "n_id").collect()
          .map(r => (r.get(0), r.get(1))).toSet
      val brute = pairs(bruteForceTopK(sample, corpus, vecCol, idCol, k))
      def recallAt(np: Int, rr: Int): Double = {
        val got = pairs(ivfPqTopKFromIndex(sample, indexPath,
          vecCol, idCol, k, np, rr))
        (got & brute).size.toDouble / brute.size
      }
      val (np, rr) =
        if (brute.isEmpty) (1, rerankStart)
        else {
          var np = 1
          while (np < cells && recallAt(np, maxRerank) < recallTarget)
            np = math.min(cells, np * 2)
          var rr = rerankStart
          while (rr < maxRerank && recallAt(np, rr) < recallTarget)
            rr = math.min(maxRerank, rr * 2)
          (np, rr)
        }
      upsertParams(spark, indexPath, Seq(
        "cal_nprobe" -> np, "cal_rerank" -> rr,
        "cal_k" -> k, "cal_recall" -> recallTarget))
      (np, rr)
    } finally sample.unpersist()
  }

  /** Per-cell centroid (cell, centroid): elementwise mean via posexplode +
    * groupBy (cell, dim) — map-side-combined, shuffle O(cells·dims). */
  private def cellCentroids(corpus: DataFrame, vecCol: String,
                            cellCol: String): DataFrame =
    corpus.select(col(cellCol).as("cell"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("cell", "dim").agg(avg("v").as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("cv")))).as("pairs"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("cv").cast("float")).as("centroid"))

  /** Per-group embedding centroids in EXPLODED (label, pos, c) form —
    * the cluster-summary aggregate a SemDeDup-style pipeline maintains
    * (cluster means for assignment, drift checks, diversity audits).
    * One slim (label, pos) hash aggregate, map-side combined: the
    * shuffle carries ≤ |labels|·dim rows per partition and the result is
    * |labels|·dim rows — metadata at any corpus size. Components round
    * to 6dp (accumulated doubles, the t10 discipline) so downstream
    * consumers on any engine agree on the exact centroid. */
  def labelCentroids(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v").cast("double")), 6).as("c"))

  /** Assign every vector to its NEAREST label centroid (cosine argmax
    * over the [[labelCentroids]] table) — the SemDeDup cluster-
    * assignment step as a pure projection: the |labels|·dim centroid
    * table collects driver-side (bounded by construction), embeds as
    * literals, and each row computes its |labels| cosines in one fused
    * pass — no join, no explode, no corpus shuffle. Cosines round to
    * 6dp BEFORE the argmax on BOTH engines, so summation-order noise
    * (~1e-16) cannot flip a near-tie; exact rounded ties break toward
    * the SMALLEST label (strict > keeps the first candidate in
    * ascending label order — the oracle's ORDER BY cos DESC, label).
    * Per-label ‖c‖² is a driver-side constant; ‖x‖² is computed once
    * per row in a separate aliased column so the |labels| references
    * cannot inline copies of the fold (the BPE blow-up lesson).
    * Output: (idCol, topic, topic_cos). */
  def assignToCentroids(df: DataFrame, centroids: DataFrame,
                        vecCol: String, idCol: String): DataFrame = {
    val rows = centroids.collect() // |labels|·dim rows — bounded
    require(rows.nonEmpty, "assignToCentroids: empty centroid table")
    val byLabel = rows.groupBy(_.getInt(0)).toSeq
      .map { case (l, rs) =>
        (l, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq) }
      .sortBy(_._1)
    val dims = byLabel.map(_._2.length).distinct
    require(dims.size == 1, s"assignToCentroids: centroid table mixes " +
      s"dimensions $dims — one truncated/ragged centroid row set")
    // Dimension guard fused into the per-row ‖x‖² (the one expression
    // every cosine consumes, so pruning can't drop it): zip_with would
    // otherwise NULL-pad a mismatched vector and the argmax would
    // silently emit cluster −1 for every row — garbage, not an error.
    val xsqRaw = aggregate(col(vecCol), lit(0.0),
      (a, x) => a + x.cast("double") * x)
    val xsq = when(size(col(vecCol)) === lit(dims.head), xsqRaw)
      .otherwise(raise_error(concat(
        lit("assignToCentroids: vector dim "),
        size(col(vecCol)).cast("string"),
        lit(s" != centroid dim ${dims.head}"))))
    val prep = spread(df.select(col(idCol), col(vecCol)))
      .withColumn("__xsq", xsq)
    prep.withColumn("__best", nearestCentroid(vecCol, byLabel))
      .select(col(idCol), col("__best.topic").as("topic"),
        col("__best.cos").as("topic_cos"))
  }

  /** The fused nearest-centroid argmax over literal centroids: one
    * struct per centroid (6dp-rounded cosine + its id), folded with a
    * strict > so rounded ties break toward the SMALLEST id (matching
    * the oracle's ORDER BY cos DESC, id). Requires an `__xsq` column
    * (per-row ‖x‖², aliased once so the |centroids| references cannot
    * inline copies of the fold — the BPE blow-up lesson). */
  private def nearestCentroid(vecCol: String,
                              byLabel: Seq[(Int, Seq[Double])]): Column = {
    val scored = byLabel.map { case (lbl, comps) =>
      val cLit = typedLit(comps)
      val dot = aggregate(
        zip_with(col(vecCol), cLit, (a, b) => a.cast("double") * b),
        lit(0.0), (a, x) => a + x)
      val nb = comps.map(c => c * c).sum
      struct(
        round(dot / (sqrt(col("__xsq")) * sqrt(lit(nb))), 6).as("cos"),
        lit(lbl).as("topic"))
    }
    val zero = struct(lit(-2.0).as("cos"), lit(-1).as("topic"))
    aggregate(array(scored: _*), zero,
      (acc, s) => when(s.getField("cos") > acc.getField("cos"), s)
        .otherwise(acc))
  }

  /** Engine-portable distributed Lloyd's k-means — the ORACLE-CHECKABLE
    * clustering rung (kmeansCells' MLlib fit and pqTrain's in-memory
    * k-means++ are seeded and deterministic per-JVM, but neither is
    * reproducible outside Spark; this one is deterministic END TO END
    * across engines): init = deterministic farthest-first (c0 = the
    * smallest-id vector, then argmin over max 6dp cosine to the chosen
    * set, ties to the smallest id; cluster id = selection order); each
    * iteration assigns by the 6dp-rounded
    * cosine argmax (the [[assignToCentroids]] fused projection —
    * centroids embed as literals, NO join, NO corpus shuffle) and
    * recomputes 6dp-rounded component means (one (cluster, pos) hash
    * agg; wire ≤ partitions·k·dim, driver folds k·dim rows). Empty
    * clusters keep their previous centroid. Rounding before every
    * argmax and after every mean is what makes the fixture exact:
    * summation-order noise (~1e-16) cannot flip a near-tie, and both
    * engines iterate from the identical decimal centroids.
    *
    * At 100 TB: per iteration one cached-scan projection + one slim
    * agg; corpus rows never shuffle and never collect. For large k
    * prefer [[kmeansCells]] (this path's per-row cost is O(k·dim)
    * literal arithmetic — right for the tens-of-topics regime).
    * Output: (idCol, cluster, cos) at the final centroids. */
  def kmeans(df: DataFrame, vecCol: String, idCol: String, k: Int,
             iters: Int = 2)
            (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val (data, cents) = lloyd(df, vecCol, idCol, k, iters)
    data.withColumn("__best", nearestCentroid("__v", cents))
      .select(col("__id").as(idCol), col("__best.topic").as("cluster"),
        col("__best.cos").as("cos"))
  }

  /** The trained centroid TABLE from the same Lloyd loop — (cluster,
    * pos, c) exploded rows, the [[labelCentroids]] shape, directly
    * consumable by [[assignToCentroids]]. This is the k-means "model"
    * a serving pipeline persists: assignment of ANY batch against it
    * (one fused projection) equals [[kmeans]]'s final assignment on
    * rows it trained on — per-row independence, so one-shot oracles
    * transfer to persisted and streaming serves verbatim. */
  def kmeansFit(df: DataFrame, vecCol: String, idCol: String, k: Int,
                iters: Int = 2)
               (implicit scope: CacheScope = CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (_, cents) = lloyd(df, vecCol, idCol, k, iters)
    cents.flatMap { case (cl, comps) =>
      comps.zipWithIndex.map { case (c, pos) => (cl, pos, c) } }
      .toDF("cluster", "pos", "c")
  }

  private def lloyd(df: DataFrame, vecCol: String, idCol: String, k: Int,
                    iters: Int)
                   (implicit scope: CacheScope): (DataFrame, Seq[(Int, Seq[Double])]) = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    val xsq = aggregate(col("__v"), lit(0.0),
      (a, x) => a + x.cast("double") * x)
    val data = scope.cache(
      spread(df.select(col(idCol).as("__id"), col(vecCol).as("__v")))
        .withColumn("__xsq", xsq))
    // Init: deterministic FARTHEST-FIRST (a portable k-means++): c0 is
    // the smallest-id vector; each next center is the vector whose
    // maximum 6dp-rounded cosine to the already-chosen set is SMALLEST
    // (ties break to the smallest id) — the same rounding discipline
    // as the iterations, so any engine replays the selection exactly
    // (the oracle unrolls each step relationally). This replaces the
    // k-smallest-id init, which wasted clusters on adjacent same-topic
    // ids; cost is k−1 extra scans of the cached projection, each one
    // global min_by agg — a row never leaves the executors except the
    // single winner. Selection order IS the cluster id.
    // PRACTICAL k BOUND: each selection step embeds every chosen
    // centroid as expression literals (O(step·dim) per plan, O(k²·dim)
    // total) and runs its own scan of the cached projection — right for
    // the small-k exact-oracle regime this fit serves (k ≲ 64), far
    // past its sweet spot near the 2^20 k·dim ceiling below. Large-k
    // coarse quantizers (IVF cell training) belong on [[kmeansCells]],
    // whose MLlib init does not unroll plans per center.
    val first = data.select(col("__id"), col("__v"))
      .orderBy(col("__id")).limit(1).collect()
    require(first.nonEmpty, "kmeans needs at least one vector")
    val dim = first.head.getSeq[Float](1).length
    require(k.toLong * dim <= (1L << 20),
      s"k=$k x dim=$dim exceeds the bounded-driver centroid ceiling " +
        "(2^20) — use kmeansCells for large k")
    val chosenIds = scala.collection.mutable.ArrayBuffer[Any](first.head.get(0))
    val chosenVecs = scala.collection.mutable.ArrayBuffer(
      first.head.getSeq[Float](1).map(_.toDouble).toSeq)
    while (chosenVecs.size < k) {
      val score = nearestCentroid("__v",
        chosenVecs.toSeq.zipWithIndex.map(_.swap)).getField("cos")
      val picked = data.filter(!col("__id").isin(chosenIds.toSeq: _*))
        .agg(min_by(struct(col("__id").as("id"), col("__v").as("v")),
          struct(score.as("s"), col("__id").as("id"))).as("p"))
        .select(col("p.id"), col("p.v")).collect().head
      require(!picked.isNullAt(0),
        s"kmeans needs at least k=$k vectors, found ${chosenVecs.size}")
      chosenIds += picked.get(0)
      chosenVecs += picked.getSeq[Float](1).map(_.toDouble).toSeq
    }
    var cents: Seq[(Int, Seq[Double])] =
      chosenVecs.toSeq.zipWithIndex.map(_.swap)
    for (_ <- 1 to iters) {
      val assigned = data.withColumn("__cl",
        nearestCentroid("__v", cents).getField("topic"))
      val byCl = assigned
        .select(col("__cl"), posexplode(col("__v")).as(Seq("pos", "v")))
        .groupBy("__cl", "pos")
        .agg(round(avg(col("v").cast("double")), 6).as("c"))
        .collect()
        .groupBy(_.getInt(0)).map { case (cl, rs) =>
          cl -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      cents = cents.map { case (cl, prev) =>
        (cl, byCl.getOrElse(cl, prev)) } // empty cluster: keep previous
    }
    (data, cents)
  }

  /** Persist a [[kmeansFit]] centroid table as a served model. REFITS
    * are whole-table replacements (centroids are not mergeable — this
    * is a versioned artifact, not an append-merge store), so both the
    * table and the params — (layout, k, dim), validated at load — go
    * through [[Store.commitGeneration]]: a crash at any point leaves the
    * previously committed model live. */
  def saveKmeansModel(cents: DataFrame, path: String, k: Int,
                      dim: Int): Unit = {
    val n = cents.count()
    require(n == k.toLong * dim,
      s"centroid table has $n rows, expected k x dim = ${k.toLong * dim}" +
        " — the declared geometry does not describe this fit")
    Store.commitGeneration(path, "centroids") { dir =>
      cents.select(col("cluster"), col("pos"), col("c"))
        .coalesce(1).write.parquet(dir)
    }
    Store.commitParams(path,
      Seq("layout" -> "kmeans_v1", "k" -> k, "dim" -> dim))
  }

  /** Load a persisted k-means model's centroid table — layout tag AND
    * geometry validated against the stored rows (a model whose table
    * lost rows to a partial copy must refuse here, not emit null
    * cosines downstream). */
  def loadKmeansModel(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val p = Store.params(spark, path)
    require(p.getAs[String]("layout") == "kmeans_v1",
      s"model at $path has layout ${p.getAs[String]("layout")}, " +
        "expected kmeans_v1")
    val cents = Store.read(spark, path, "centroids")
    val expected = p.getAs[Int]("k").toLong * p.getAs[Int]("dim")
    val n = cents.count()
    require(n == expected,
      s"model at $path stores $n centroid rows, params declare " +
        s"k x dim = $expected — refusing a torn/foreign table")
    cents
  }

  /** Each vector's cosine to its own label centroid — the assignment-
    * quality / outlier signal (a low score marks a vector the cluster
    * summary does not represent; SemDeDup prunes or re-clusters those).
    * The centroid table reassembles to |labels| array rows and BROADCASTS;
    * the per-vector cosine is an in-row zip_with/aggregate fold in DOUBLE
    * — one scan pass over the corpus, no shuffle beyond the slim centroid
    * aggregate. Scores round to 6dp before any downstream ranking. */
  def centroidCosines(df: DataFrame, vecCol: String, idCol: String,
                      labelCol: String): DataFrame = {
    val cent = labelCentroids(df, vecCol, labelCol)
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("ps"))
      .select(col("label"),
        transform(col("ps"), p => p.getField("c")).as("cent"))
    val vd = transform(col("__v"), x => x.cast("double"))
    val dot = aggregate(zip_with(vd, col("cent"), (a, b) => a * b),
      lit(0.0), (s, x) => s + x)
    val na = aggregate(vd, lit(0.0), (s, x) => s + x * x)
    val nb = aggregate(col("cent"), lit(0.0), (s, x) => s + x * x)
    df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        col(vecCol).as("__v"))
      .join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        round(dot / (sqrt(na) * sqrt(nb)), 6).as("cos"))
  }

  /** One probe of a cell-partitioned index (`sub` = IVF `cells` or
    * IVFPQ `codes`): the query probes ([[probeCells]] against the stored
    * centroids) and the stored rows they can reach. Below full coverage
    * the distinct probed cell ids (≤ min(|Q|·nprobe, cells) ints — a
    * deliberate, bounded driver collect) become an `IN` predicate on the
    * partition column, so the scan lists and reads only the probed
    * `cell=` dirs (PlanSpec pins the prune). At `nprobe` ≥ the stored
    * `cells` every cell is probed (k-means stores at most `cells`
    * centroids), so the collect — a whole extra query — and the filter
    * are skipped. The answer never depends on the filter: the serve's
    * join on `cell` restricts scoring to probed cells, the filter only
    * prunes IO. */
  private def probeIndex(queries: DataFrame, p: org.apache.spark.sql.Row,
                         indexPath: String, sub: String, vecCol: String,
                         idCol: String, nprobe: Int): (DataFrame, DataFrame) = {
    val spark = queries.sparkSession
    val probes = probeCells(queries, Store.read(spark, indexPath, "centroids"),
      vecCol, idCol, nprobe)
    val stored = Store.read(spark, indexPath, sub)
    if (nprobe >= p.getAs[Int]("cells")) (probes, stored)
    else {
      val probed = probes.select("cell").distinct()
        .collect().map(_.getInt(0)).toSeq
      (probes, stored.filter(col("cell").isin(probed: _*)))
    }
  }

  /** Each query scores all centroids (tiny, broadcast) and keeps its
    * `nprobe` nearest cells: (q_id, q_vec, cell). */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
                         vecCol: String, idCol: String,
                         nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("c_sim").desc, col("cell").asc)
    q.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("cell"),
        VF.cosineSimilarity(col("q_vec"), col("centroid")).as("c_sim"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("cell"))
  }
}
