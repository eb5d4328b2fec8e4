package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Dedup, LocalRowBound, Multimodal, Similarity}
import graft.store.Store

/** Property tests for the training-data-pipeline operators: soundness of the
  * sketch-based paths against their exact counterparts, determinism of the
  * custom expressions, and plumbing invariants the DuckDB oracle can't
  * express. */
class PipelineSpec extends AnyFunSuite {
  import SparkSpec.{spark, sf}

  private lazy val docs = Tables.load(spark, sf, "documents").cache()
  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  /** Temp dir that is always removed, pass or fail. Every store the
    * test left in it must read the same params on the driver as through
    * Spark. */
  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val out = f(dir.toString)
      SparkSpec.assertParamsMatchReference(dir.toString)
      out
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("keepFirstLines: keep-first across corpus, blanks kept, empty docs vanish, order preserved") {
    import spark.implicits._
    val in = Seq(
      (1L, Seq("alpha", "boiler", "  ", "alpha", "tail1")),   // intra-doc dup of alpha
      (2L, Seq("boiler", "beta", "", "beta")),                // boiler loses to doc 1
      (3L, Seq("boiler", "alpha")))                           // every line loses
      .toDF("doc_id", "lines")
    val out = Dedup.keepFirstLines(in, "lines", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // doc 1: first "alpha" and "boiler" win; blank kept; second "alpha" dropped
    assert(out(1L) == Seq("alpha", "boiler", "  ", "tail1"))
    // doc 2: "boiler" lost to doc 1; first "beta" wins, second drops; blank kept
    assert(out(2L) == Seq("beta", ""))
    // doc 3 lost every line and has no blanks → gone
    assert(!out.contains(3L))
    // wrapper: text in / text out on a delimiter
    val txt = Dedup.dropDuplicateLines(
      Seq((10L, "x\ny\nx"), (11L, "y\nz")).toDF("doc_id", "text"),
      "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(txt(10L) == "x\ny")
    assert(txt(11L) == "z")
  }

  test("keepFirstLines normalization: case/punct-insensitive matching, original lines survive") {
    import spark.implicits._
    val in = Seq(
      (1L, Seq("Hello, World!", "unique-one")),
      (2L, Seq("hello   world", "Unique two")),
      (3L, Seq("HELLO WORLD.")))
      .toDF("doc_id", "lines")
    val out = Dedup.keepFirstLines(in, "lines", "doc_id",
        normalize = Dedup.normalizeLine)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // all three spellings normalize to "hello world" → doc 1's ORIGINAL
    // spelling survives, the others drop; doc 3 vanishes entirely
    assert(out(1L) == Seq("Hello, World!", "unique-one"))
    assert(out(2L) == Seq("Unique two"))
    assert(!out.contains(3L))
    // the index path honors the same normalizer
    withTempDir("graft_norm_idx") { dir =>
      Dedup.buildLineIndex(in.filter(col("doc_id") === 1), "lines", dir,
        normalize = Dedup.normalizeLine)
      val b = Seq((9L, Seq("  HELLO -- world  ", "fresh line"))).toDF("doc_id", "lines")
      val kept = Dedup.dedupLinesAgainstIndex(b, "lines", "doc_id", dir,
          normalize = Dedup.normalizeLine)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(kept(9L) == Seq("fresh line"))
    }
  }

  test("line index: batch-at-a-time dedup+append reproduces full-batch keepFirstLines exactly") {
    import spark.implicits._
    withTempDir("graft_line_idx") { dir =>
      // synthetic corpus with cross-batch, intra-batch, and intra-doc dups
      val corpus = Seq(
        (1L, Seq("a", "b", "x1")), (2L, Seq("b", "c", "", "c")),
        (3L, Seq("a", "c", "x3")), (4L, Seq("d", "d", "x4")),
        (5L, Seq("x1", "d", "e")), (6L, Seq("e", "  ", "a", "x6")))
        .toDF("doc_id", "lines")
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val full = m(Dedup.keepFirstLines(corpus, "lines", "doc_id"))
      // replay as three id-ordered batches through the index
      val batches = Seq(corpus.filter(col("doc_id") <= 2),
        corpus.filter(col("doc_id") === 3 || col("doc_id") === 4),
        corpus.filter(col("doc_id") >= 5))
      Dedup.buildLineIndex(batches.head.limit(0), "lines", dir) // empty history
      val incr = batches.map { b =>
        val kept = m(Dedup.dedupLinesAgainstIndex(b, "lines", "doc_id", dir))
        Dedup.appendToLineIndex(b, "lines", dir) // claim RAW lines
        kept
      }.reduce(_ ++ _)
      assert(incr == full)
      // the blank-only survivors and full-drop docs behaved identically too
      assert(full.keySet == incr.keySet)
      // per-batch appends leave part-slivers; compaction folds them into a
      // new generation without changing membership (a fresh batch that
      // repeats already-claimed lines still loses everything non-unique)
      Store.compactIndex(spark, dir, partitions = 1)
      assert(Store.resolveDataDir(dir, "lines") == s"$dir/lines.g0001")
      val b4 = Seq((7L, Seq("a", "e", "x7"))).toDF("doc_id", "lines")
      val kept4 = m(Dedup.dedupLinesAgainstIndex(b4, "lines", "doc_id", dir))
      assert(kept4(7L) == Seq("x7"))
    }
  }

  test("semanticDedupFromIndex: equals an independent within-cell oracle; append extends coverage") {
    withTempDir("graft_semdedup_idx") { dir =>
      // build on one half, frozen-centroid append the other: the dedup
      // must cover the union exactly as the stored assignment dictates
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", dir, cells = 6)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 250),
        "embedding", "vec_id", dir)
      val got = Dedup.semanticDedupFromIndex(emb, "embedding", "vec_id",
        dir, threshold = 0.3)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // independent oracle: stored cells + driver-side exact cosine
      val cells = spark.read.parquet(Store.resolveDataDir(dir, "cells"))
        .select("n_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val vecs = emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
      }
      val ids = vecs.keys.toSeq.sorted
      val want = (for {
        i <- ids; j <- ids if i < j
        if cells(i) == cells(j) && cos(vecs(i), vecs(j)) >= 0.3
      } yield (i, j)).toSet
      assert(got == want)
      assert(got.nonEmpty)
    }
  }

  // ---- custom expressions ----

  test("CosineSimilarity: correct value, interpreted and codegen agree") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 1.0f, 2.0f)))
      .toDF("a", "b")
    val v = df.select(VF.cosineSimilarity(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(v - 8.0 / 9.0) < 1e-12)
    // zero-norm guard
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(VF.cosineSimilarity(col("a"), col("b"))).head.getDouble(0)
    assert(z == 0.0)
  }

  test("SimHash64: deterministic; similar token sets → close fingerprints") {
    import spark.implicits._
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy cat again and again"),
      ("c", "completely different words entirely unrelated content here now"))
      .toDF("id", "text")
    val sigs = df.select(col("id"), VF.simhash64(TF.tokens(col("text"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val near = java.lang.Long.bitCount(sigs("a") ^ sigs("b"))
    val far = java.lang.Long.bitCount(sigs("a") ^ sigs("c"))
    assert(near < far)
    // determinism across evaluations
    val again = df.select(VF.simhash64(TF.tokens(col("text")))).collect()
      .map(_.getLong(0))
    assert(again.toSeq == Seq("a", "b", "c").map(sigs))
  }

  // ---- dedup family ----

  test("exact dedup groups equal count-distinct of normalized text") {
    val nGroups = Dedup.exact(docs, "text", "doc_id").count()
    val nDistinct = docs.select(TF.normText(col("text"))).distinct().count()
    assert(nGroups == nDistinct)
  }

  test("minhash LSH output equals exact jaccard pairs (soundness + recall)") {
    val lsh = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact answer from the inverted-index path with identical shingling
    val exact = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.5,
        shingleSize = 3, maxDf = Long.MaxValue)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // LSH recall ≈ 1 at J≥0.5 with 128 hashes / 32 bands
    assert(exact.nonEmpty)
  }

  test("incremental neardup against a persisted index equals the batch answer on the union") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx_").toString
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.buildMinHashIndex(old, "text", "doc_id", dir)
    SparkSpec.assertParamsMatchReference(dir)
    val inc = Dedup.nearDupAgainstIndex(batch, old, dir, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: full-batch answer on the union, restricted to pairs
    // with at least one batch endpoint
    val full = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .filter(col("a_id") % 5 === 0 || col("b_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full)
    assert(inc.nonEmpty)
    // append the batch; a later batch must see it as history: dedup a
    // byte-identical copy of one batch doc (fresh id) → J=1.0 pair
    Dedup.appendToMinHashIndex(batch, "text", "doc_id", dir)
    val probe = batch.limit(1)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    val probeId = probe.collect().head.getLong(0)
    val rep = Dedup.nearDupAgainstIndex(probe, docs, dir, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep.exists(p => p._2 == probeId && p._3 == 1.0))
    // the minhash index is compactable like every "index" sub-table:
    // the fold must be invisible to the serve, appends must land in the
    // RESOLVED generation (a plain-path append here would be deleted by
    // the next sweep — the bug this pin guards against), and a second
    // compaction reclaims the superseded plain dir without changing
    // anything
    def serve(): Set[(Long, Long)] =
      Dedup.nearDupAgainstIndex(probe, docs, dir, "text", "doc_id",
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = serve()
    Store.compactIndex(spark, dir, partitions = 2)
    assert(Store.resolveDataDir(dir, "index") == s"$dir/index.g0001")
    assert(serve() == before, "compaction changed the minhash serve")
    // an append AFTER compaction must be visible (it lands in g0001,
    // not the doomed plain dir): a fresh doc appended then probed with
    // its own copy must surface as a J=1.0 pair
    val extra = probe.select((col("doc_id") + 1000).as("doc_id"),
      col("text"))
    Dedup.appendToMinHashIndex(extra, "text", "doc_id", dir)
    val extraId = extra.collect().head.getLong(0)
    val corpus2 = docs.select("doc_id", "text").unionByName(extra)
    val rep2 = Dedup.nearDupAgainstIndex(probe, corpus2, dir, "text",
        "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep2.exists(p => p._2 == extraId && p._3 == 1.0),
      "post-compaction append invisible to the serve")
    Store.compactIndex(spark, dir, partitions = 2)
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "index")),
      "superseded plain index dir leaked past its grace cycle")
    val rep3 = Dedup.nearDupAgainstIndex(probe, corpus2, dir, "text",
        "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rep3.exists(p => p._2 == extraId && p._3 == 1.0))
  }

  test("minhash exact-dup collapse (groupExact) returns the ungrouped answer on a duplicated corpus") {
    // 2×-duplicated corpus: ids 100k+ carry identical text to ids below —
    // exercises within-group (J=1.0) AND cross-group expansion paths. Ids
    // 200k+ add CASE variants: byte-different, normalization-equal — they
    // must NOT be collapsed by stage 0 (raw shingle sets differ), which is
    // exactly what a normalized grouping fingerprint would get wrong.
    val baseDocs = docs.select("doc_id", "text").limit(120)
    val dupped = baseDocs.unionByName(
      baseDocs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(baseDocs.limit(30).select(
        (col("doc_id") + 200000).as("doc_id"), upper(col("text")).as("text")))
    def pairs(groupExact: Boolean) =
      Dedup.minHashLsh(dupped, "text", "doc_id", threshold = 0.5,
          groupExact = groupExact)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grouped = pairs(groupExact = true)
    val ungrouped = pairs(groupExact = false)
    assert(grouped == ungrouped)
    // sanity: the duplication itself must have produced J=1.0 pairs
    assert(grouped.exists(_._3 == 1.0))
  }

  test("simhash near-dup: pigeonhole blocking is EXACT for hamming ≤ 3") {
    // ground truth: hamming distance over all signature pairs
    val sigs = docs.select(col("doc_id"),
        VF.simhash64(TF.tokens(TF.normText(col("text")))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val truth = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) if h <= 3
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    val found = Dedup.simHash(docs, "text", "doc_id")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 4-chunk pigeonhole argument is exact, not probabilistic:
    // hamming ≤ 3 ⇒ some 16-bit chunk matches ⇒ the pair is produced
    assert(found == truth)
    assert(found.nonEmpty)
    // and the found pairs overlap the planted near-dups
    val planted = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.9,
        shingleSize = 3, maxDf = Long.MaxValue)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((planted & found).nonEmpty)
  }

  test("simhash blocking stays exact when maxHamming > 3 (derived chunks)") {
    // maxHamming=5 → 6 chunks (widths 11,11,11,11,10,10); pigeonhole holds
    val sigs = docs.select(col("doc_id"),
        VF.simhash64(TF.tokens(TF.normText(col("text")))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val truth = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) if h <= 5
    } yield (sigs(i)._1, sigs(j)._1)).toSet
    val found = Dedup.simHash(docs, "text", "doc_id", maxHamming = 5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth)
    intercept[IllegalArgumentException] {
      Dedup.simHash(docs, "text", "doc_id", maxHamming = 64)
    }
  }

  test("portable simhash (md5 family) equals exact all-pairs hamming") {
    // differential check: the blocked pipeline must reproduce the exact
    // all-pairs answer over its own 60-bit signatures (same pigeonhole
    // argument as the FNV family — 4 chunks of 15 bits at maxHamming=3),
    // and the signatures must be < 2^60 (sign-safe in any 64-bit engine)
    val sigFrame = Dedup.simHashPortable(docs, "text", "doc_id")
    val found = sigFrame.select("a_id", "b_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // independent exact path: compute signatures via the same public
    // column expression route only ONCE removed — md5 per token in plain
    // Scala against collected docs
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def sig60(text: String): Long = {
      val norm = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim
      val toks = norm.trim.split("\\s+")
      val counters = new Array[Int](60)
      val md = java.security.MessageDigest.getInstance("MD5")
      toks.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16)
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) counters(i) += 1 else counters(i) -= 1
          i += 1
        }
      }
      (0 until 60).foldLeft(0L)((s, i) => if (counters(i) > 0) s | (1L << i) else s)
    }
    val ref = texts.map { case (id, t) => id -> sig60(t) }.sortBy(_._1)
    val truth = (for {
      i <- ref.indices; j <- (i + 1) until ref.length
      h = java.lang.Long.bitCount(ref(i)._2 ^ ref(j)._2) if h <= 3
    } yield (ref(i)._1, ref(j)._1, h)).toSet
    assert(found == truth)
    assert(found.nonEmpty)
    assert(ref.forall { case (_, s) => s >= 0L && s < (1L << 60) })
  }

  test("simhash maxBucket guard drops over-full chunk buckets") {
    // every candidate pair needs a shared chunk bucket of size ≥ 2, so
    // maxBucket = 1 must prune ALL buckets that could produce a pair
    val none = Dedup.simHash(docs, "text", "doc_id", maxBucket = 1L)
    assert(none.count() == 0)
    // and the default guard is loose enough to stay exact at test scale
    // (exactness itself is asserted in the pigeonhole tests above)
    val all = Dedup.simHash(docs, "text", "doc_id")
    assert(all.count() > 0)
  }

  test("CacheScope releases operator caches deterministically") {
    import org.apache.spark.sql.functions.{col => c}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    implicit val scope: graft.operators.CacheScope = new graft.operators.CacheScope
    Dedup.minHashLsh(docs.limit(50), "text", "doc_id", threshold = 0.5).count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    scope.release()
    scope.release() // idempotent
    // unpersist is non-blocking — poll briefly for the blocks to drop
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty &&
           System.nanoTime() < deadline) Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("embedding near-dup LSH ⊆ brute force; recall ≥ 0.8") {
    val brute = Dedup.embeddingNearDup(emb, "embedding", "vec_id", 0.47,
        bruteForce = true)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDup(emb, "embedding", "vec_id", 0.47)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // exact verify on candidates → no false positives
    assert(brute.nonEmpty && lsh.size.toDouble / brute.size >= 0.8)
  }

  test("contamination: containment is asymmetric; maxDf drops boilerplate shingles") {
    import spark.implicits._
    // eval doc fully quoted inside a much longer train doc: containment 1.0
    // even though symmetric Jaccard would be ~3/22
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon " +
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"),
      (2L, "totally unrelated content about something else entirely here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, eval, "text", "doc_id",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.toSeq == Seq((1L, 100L, 1.0)))
    // boilerplate guard: a shingle present in > maxDf train docs is dropped
    // from the postings, so boilerplate-only overlap cannot flag — but the
    // denominator stays |sh(e)|, so pruning only ever LOWERS containment
    val boiler = (1L to 5L).map(i => (i, "click here to subscribe now"))
      .toDF("doc_id", "text")
    val evalB = Seq((200L, "click here to subscribe now")).toDF("doc_id", "text")
    assert(Dedup.contamination(boiler, evalB, "text", "doc_id",
      threshold = 0.1, maxDf = 4L).count() == 0)
    assert(Dedup.contamination(boiler, evalB, "text", "doc_id",
      threshold = 0.99, maxDf = 5L).count() == 5)
    // hashed postings (the big-n-gram shuffle diet) flag the same pairs
    val viaHash = Dedup.contamination(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", threshold = 0.5, hashPostings = true)
    val viaString = Dedup.contamination(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0),
      "text", "doc_id", threshold = 0.5)
    assert(viaHash.exceptAll(viaString).count() == 0 &&
      viaString.exceptAll(viaHash).count() == 0)
  }

  test("hash split: pure function of key, stable under repartition; salt decorrelates") {
    import graft.operators.Splits
    val ids = docs.select("doc_id")
    val a = Splits.assign(ids, "doc_id").select("doc_id", "bucket", "split")
    val b = Splits.assign(ids.repartition(7), "doc_id")
      .select("doc_id", "bucket", "split")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // 8/1/1 weights land near 80/10/10 on 500 docs
    val bySplit = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train") > 350 && bySplit("train") < 450, s"got $bySplit")
    assert(bySplit.values.sum == 500)
    // a different salt reassigns a nontrivial fraction of keys
    val salted = Splits.assign(ids, "doc_id", salt = "v2")
      .select("doc_id", "bucket", "split")
    assert(a.exceptAll(salted).count() > 50)
  }

  test("sequence packing: bins bounded by budget, oversized docs isolated, order-stable") {
    import spark.implicits._
    import graft.operators.Packing
    val items = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 60L), // 100+100 fits, 60 spills
      ("a", 4L, 300L),                                  // oversized: own bin
      ("a", 5L, 10L),
      ("b", 6L, 256L), ("b", 7L, 1L))
      .toDF("grp", "id", "n")
    val packed = Packing.packSequences(items, "grp", "id", "n", budget = 256L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(packed == Set(
      ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("a", 4L, 2L),
      ("a", 5L, 3L), ("b", 6L, 0L), ("b", 7L, 1L)), s"got $packed")
    // invariant over the real corpus: every bin is within budget unless it
    // holds a single oversized doc; bin numbering is dense per group
    import graft.functions.{TextFunctions => TF}
    val withN = docs.select(col("lang"), col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n"))
    val corpus = Packing.packSequences(withN, "lang", "doc_id", "n", 256L)
      .join(withN, Seq("lang", "doc_id"))
    val bins = corpus.groupBy("lang", "bin")
      .agg(sum("n").as("total"), count(lit(1)).as("docs"))
    assert(bins.filter(col("total") > 256 && col("docs") > 1).count() == 0)
    val perLang = bins.groupBy("lang")
      .agg(countDistinct("bin").as("nbins"), (max("bin") + 1).as("maxb"))
    assert(perLang.filter(col("nbins") =!= col("maxb")).count() == 0)
    // partitioning invariance
    val re = Packing.packSequences(withN.repartition(11), "lang", "doc_id", "n", 256L)
    assert(Packing.packSequences(withN, "lang", "doc_id", "n", 256L)
      .exceptAll(re).count() == 0)
  }

  test("dense packing: every non-final bin exactly full; documents fully covered") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Packing
    val withN = docs.select(col("lang"), col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n"))
    val dense = Packing.packSequencesDense(withN, "lang", "doc_id", "n", 256L)
      .cache()
    try {
      // coverage: each doc's pieces sum to its size, offsets start at 0
      val perDoc = dense.groupBy("lang", "doc_id")
        .agg(sum("len").as("covered"), min("offset").as("off0"))
        .join(withN, Seq("lang", "doc_id"))
      assert(perDoc.filter(col("covered") =!= col("n") || col("off0") =!= 0)
        .count() == 0)
      // density: every bin except each group's last holds exactly 256 units
      val binTotals = dense.groupBy("lang", "bin").agg(sum("len").as("total"))
      val lastBin = dense.groupBy("lang").agg(max("bin").as("last"))
      assert(binTotals.join(lastBin, "lang")
        .filter(col("bin") =!= col("last") && col("total") =!= 256).count() == 0)
      // pieces of a split doc sit in consecutive bins
      val pieces = dense.groupBy("lang", "doc_id")
        .agg(count(lit(1)).as("k"), (max("bin") - min("bin") + 1).as("span"))
      assert(pieces.filter(col("k") =!= col("span")).count() == 0)
    } finally dense.unpersist()
  }

  test("repetition ratio: repeats score high, unique text scores 0, short text 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),    // one distinct trigram
      (2L, "each word here appears exactly once total"),  // all distinct
      (3L, "ab"))                                          // too short to shingle
      .toDF("doc_id", "text")
    val r = df.select(col("doc_id"), TF.repetitionRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 5.0 / 6.0) // 6 trigrams, 1 distinct
    assert(r(2L) == 0.0 && r(3L) == 0.0)
  }

  test("PII redaction replaces emails, IPs, dashed phones with placeholders") {
    import spark.implicits._
    val df = Seq((1L,
      "contact bob.smith+x@corp.example.com or 10.0.255.1 or 555-123-4567 ok"))
      .toDF("doc_id", "text")
    val out = df.select(TF.redactPii(col("text"))).head.getString(0)
    assert(out == "contact <EMAIL> or <IP> or <PHONE> ok", out)
  }

  test("deterministic sample: same rows every run and under repartition; ~fraction kept") {
    import graft.operators.Splits
    val ids = docs.select("doc_id")
    val s1 = Splits.sample(ids, "doc_id", 0.1).collect().map(_.getLong(0)).toSet
    val s2 = Splits.sample(ids.repartition(13), "doc_id", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(s1.size > 20 && s1.size < 90, s"got ${s1.size} of 500") // ~50 expected
    // different salt → different (independent) selection
    val salted = Splits.sample(ids, "doc_id", 0.1, salt = "v2")
      .collect().map(_.getLong(0)).toSet
    assert(salted != s1)
    // domain mix: nested-sample property — every row kept at a lower
    // fraction is kept at a higher one (same hash rule, larger threshold)
    val keyed = docs.select("doc_id", "source")
    val low = Splits.domainMix(keyed, "doc_id", "source",
      Map("src0" -> 0.2), default = 0.1).collect().map(_.getLong(0)).toSet
    val high = Splits.domainMix(keyed, "doc_id", "source",
      Map("src0" -> 0.6), default = 0.3).collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high), s"nested-sample violated: ${low -- high}")
    // fraction 1.0 keeps a stratum completely; default 0 drops the rest
    val onlySrc0 = Splits.domainMix(keyed, "doc_id", "source",
      Map("src0" -> 1.0))
    assert(onlySrc0.select("source").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("src0"))
    assert(onlySrc0.count() == docs.filter(col("source") === "src0").count())
  }

  test("typed facade: Dataset[Document] agrees with the untyped path; Column filters still push down") {
    import spark.implicits._
    val ds = Tables.documents(spark, sf)
    // typed lambda semantics == untyped Column semantics
    val typedCount = ds.filter(_.lang == "en").count()
    val untypedCount = docs.filter(col("lang") === "en").count()
    assert(typedCount == untypedCount && typedCount > 0)
    // Column-based filters on the typed view keep scan pushdown (typed
    // LAMBDAS would not — they deserialize; that trade is the documented
    // contract)
    // (the suite caches `docs`, so the cache manager may substitute the
    // in-memory relation — the predicate must reach the scan either way)
    val p = ds.filter(col("lang") === "en").queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)") ||
      p.matches("(?s).*InMemoryTableScan.*\\(lang#\\d+ = en\\).*"),
      s"pushdown lost through as[Document]:\n$p")
    // typed embeddings round-trip the float vectors intact
    val e = Tables.embeddings(spark, sf).head()
    assert(e.embedding.length == 64)
  }

  // ---- similarity search ----

  test("ANN: LSH and IVF recall vs brute-force top-5") {
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
    assert(brute.size == 25)
    val lsh = pairs(Similarity.lshTopK(q, c, "embedding", "vec_id", 5))
    val ivf = pairs(Similarity.ivfTopK(q, c, "embedding", "vec_id", "label", 5, nprobe = 3))
    assert((brute & lsh).size.toDouble / brute.size >= 0.8)
    // IVF with nprobe=3 of 10 cells is a coverage/recall trade — the corpus
    // clusters don't align with any single query's top-5, so recall is
    // modest by construction (0.28 on this data); assert the floor plus
    // structural validity (exactly k per query).
    assert((brute & ivf).size.toDouble / brute.size >= 0.2)
    assert(ivf.size == 25)
  }

  test("ANN: persisted LSH index reproduces the on-the-fly result") {
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    withTempDir("graft_lsh_idx_") { dir =>
      Similarity.buildLshIndex(c, "embedding", "vec_id", dir,
        bits = 16, bands = 8, seed = 7L)
      // params side table records the signature configuration
      val p = spark.read.parquet(s"$dir/_params").head()
      assert(p.getAs[Int]("bits") == 16 && p.getAs[Int]("bands") == 8 &&
        p.getAs[Long]("seed") == 7L)
      val fromIdx = Similarity.lshTopKFromIndex(q, c, dir, "embedding", "vec_id", 5)
      val onTheFly = Similarity.lshTopK(q, c, "embedding", "vec_id", 5)
      assert(fromIdx.select("q_id", "n_id", "rank")
        .exceptAll(onTheFly.select("q_id", "n_id", "rank")).count() == 0)
      assert(fromIdx.count() == 25)
    }
    // incremental build: index half the corpus, append the rest — queries
    // against the appended index reproduce the full-build answer (the
    // stored _params guarantee the same hyperplanes)
    withTempDir("graft_lsh_inc_") { dir =>
      Similarity.buildLshIndex(c.filter(col("vec_id") < 250), "embedding",
        "vec_id", dir)
      Similarity.appendToLshIndex(c.filter(col("vec_id") >= 250), "embedding",
        "vec_id", dir)
      val inc = Similarity.lshTopKFromIndex(q, c, dir, "embedding", "vec_id", 5)
      val full = Similarity.lshTopK(q, c, "embedding", "vec_id", 5)
      assert(inc.select("q_id", "n_id", "rank")
        .exceptAll(full.select("q_id", "n_id", "rank")).count() == 0)
      assert(inc.count() == 25)
    }
  }

  test("LSH append auto-compaction: the threshold folds the index mid-append; results and epoch lifecycle intact") {
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    withTempDir("graft_lsh_ac_") { dir =>
      Similarity.buildLshIndex(c.filter(col("vec_id") < 250), "embedding",
        "vec_id", dir)
      // threshold 1: the append itself folds the index once its fenced
      // slice lands (single-writer by identity — the compactor IS the
      // appender), so the caller never schedules a maintenance pass
      Similarity.appendToLshIndex(c.filter(col("vec_id") >= 250),
        "embedding", "vec_id", dir, compactFileThreshold = 1)
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(dir, "index"))
        .getFileName.toString
      assert(live.startsWith("index.g"),
        s"auto-compaction never fired on append: live dir is $live")
      val inc = Similarity.lshTopKFromIndex(q, c, dir, "embedding",
        "vec_id", 5)
      val full = Similarity.lshTopK(q, c, "embedding", "vec_id", 5)
      assert(inc.select("q_id", "n_id", "rank")
        .exceptAll(full.select("q_id", "n_id", "rank")).count() == 0)
      assert(inc.count() == 25)
      // appends continue on top of the fold (the designed lifecycle)
      Similarity.appendToLshIndex(
        emb.filter(col("vec_id") < 5), "embedding", "vec_id", dir,
        compactFileThreshold = 1)
      assert(java.nio.file.Paths
        .get(Store.resolveDataDir(dir, "index"))
        .getFileName.toString > live, "second fold did not advance the generation")
    }
  }

  test("LSH recall floor catches a deliberately degraded banding (the s24 quality-floor tripwire)") {
    import spark.implicits._
    // two tight orthogonal clusters + one query BETWEEN them (the s22
    // sensitivity fixture): the true top-4 provably spans both
    // clusters, so a banding that can only probe near-identical
    // signatures must miss part of it
    def unit(v: Seq[Double]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val corpus = ((1 to 10).map(i =>
        (i.toLong, unit(Seq(1.0, 0.01 * i, 0.0, 0.0)))) ++
      (1 to 10).map(i =>
        (100L + i, unit(Seq(0.01 * i, 1.0, 0.0, 0.0)))))
      .toDF("vec_id", "embedding")
    val queries = Seq((500L, unit(Seq(0.7, 0.7, 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(queries, corpus, "embedding",
      "vec_id", k = 4)
    // healthy config (the s24 serving shape: banded + multi-probe)
    // recalls everything on this fixture …
    val healthy = Similarity.recallAtK(
      Similarity.lshTopK(queries, corpus, "embedding", "vec_id", k = 4,
        bits = 16, bands = 8, multiProbe = true), brute)
    assert(healthy == 1.0, s"healthy banding should be exact here, got $healthy")
    // … and a degenerate banding (ONE 16-bit band, no probing: only
    // exact-signature collisions become candidates — the mis-tune the
    // family tag cannot see because the hyperplanes are identical)
    // measures recall < 1 and is caught by the same computation
    val degraded = Similarity.recallAtK(
      Similarity.lshTopK(queries, corpus, "embedding", "vec_id", k = 4,
        bits = 16, bands = 1, multiProbe = false), brute)
    assert(degraded < 1.0, s"degraded banding not caught: $degraded")
  }

  test("persisted IVF index: nprobe=all equals brute force; frozen-centroid append; cells compact") {
    withTempDir("graft_ivf_idx") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
      // build on one half, append the other: the stored inverted file
      // covers the union, and probing all cells reproduces brute force
      Similarity.buildIvfIndex(c.filter(col("vec_id") < 250), "embedding",
        "vec_id", dir, cells = 8)
      Similarity.appendToIvfIndex(c.filter(col("vec_id") >= 250), "embedding",
        "vec_id", dir)
      val full = pairs(Similarity.ivfTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 8))
      assert(full == brute)
      // probing past the stored cell count is still every cell
      assert(pairs(Similarity.ivfTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 20)) == brute)
      // tighter probes: a subset with a recall floor (the production trade)
      val tight = Similarity.ivfTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 3).select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteIds = brute.map(t => (t._1, t._2))
      assert(tight.subsetOf(bruteIds) ||
        (tight & bruteIds).size.toDouble / bruteIds.size >= 0.5)
      assert((tight & bruteIds).size.toDouble / bruteIds.size >= 0.5)
      // the cells table compacts through the same generation machinery
      Store.compactIndex(spark, dir, partitions = 2)
      assert(Store.resolveDataDir(dir, "cells") == s"$dir/cells.g0001")
      assert(pairs(Similarity.ivfTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 8)) == brute)
    }
  }

  test("recallAtK catches a deliberately degraded serve (the s22 quality-floor tripwire)") {
    import spark.implicits._
    withTempDir("graft_recall_floor") { dir =>
      // two tight orthogonal clusters + one query BETWEEN them: the
      // true top-4 provably spans both clusters (symmetric cosines,
      // id tie-break), so a one-cell probe can never recall it fully
      def unit(v: Seq[Double]): Seq[Float] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / n).toFloat)
      }
      val corpus = ((1 to 10).map(i =>
          (i.toLong, unit(Seq(1.0, 0.01 * i, 0.0, 0.0)))) ++
        (1 to 10).map(i =>
          (100L + i, unit(Seq(0.01 * i, 1.0, 0.0, 0.0)))))
        .toDF("vec_id", "embedding")
      val queries = Seq((500L, unit(Seq(0.7, 0.7, 0.0, 0.0))))
        .toDF("vec_id", "embedding")
      Similarity.buildIvfIndex(corpus, "embedding", "vec_id", dir,
        cells = 2)
      val brute = Similarity.bruteForceTopK(queries, corpus, "embedding",
        "vec_id", k = 4)
      // a healthy (full-probe) serve recalls everything …
      val healthy = Similarity.recallAtK(
        Similarity.ivfTopKFromIndex(queries, dir, "embedding", "vec_id",
          k = 4, nprobe = 2), brute)
      assert(healthy == 1.0, s"full probe should be exact, got $healthy")
      // … and the degraded serve (nprobe = 1: the quality regression
      // the determinism oracles cannot see) trips the 0.9 floor
      val degraded = Similarity.recallAtK(
        Similarity.ivfTopKFromIndex(queries, dir, "embedding", "vec_id",
          k = 4, nprobe = 1), brute)
      assert(degraded < 0.9, s"degraded serve not caught: $degraded")
      assert(degraded > 0.0, "degraded serve should still find its own cell")
    }
  }

  test("persisted IVFPQ index: nprobe=all + covering rerank equals brute; frozen append; partitioned compaction") {
    withTempDir("graft_ivfpq_idx") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
      // build on one half (coarse cells + codebook train there), append
      // the other under BOTH freeze contracts at once (frozen centroids +
      // frozen codebook); probing all cells with a corpus-covering rerank
      // must reproduce brute force over the union
      Similarity.buildIvfPqIndex(c.filter(col("vec_id") < 250), "embedding",
        "vec_id", dir, dim = 64, m = 16, cells = 8, k = 16)
      Similarity.appendToIvfPqIndex(c.filter(col("vec_id") >= 250),
        "embedding", "vec_id", dir)
      val full = pairs(Similarity.ivfPqTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 8, rerank = 1024))
      assert(full == brute)
      // tighter probes + budget: the production trade, still mostly right
      val tight = Similarity.ivfPqTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 3, rerank = 64)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteIds = brute.map(t => (t._1, t._2))
      assert((tight & bruteIds).size.toDouble / bruteIds.size >= 0.3)
      // compaction folds append slivers while PRESERVING the hive cell
      // dirs (partition pruning must survive compaction)
      Store.compactIndex(spark, dir, partitions = 2)
      assert(Store.resolveDataDir(dir, "codes") == s"$dir/codes.g0001")
      val gen = new java.io.File(s"$dir/codes.g0001")
      assert(gen.listFiles().exists(_.getName.startsWith("cell=")),
        "compaction lost the cell partitioning")
      assert(pairs(Similarity.ivfPqTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = 8, rerank = 1024)) == brute)
    }
  }

  test("index guards fail loudly: cross-family LSH probe/append, pre-v2 IVF layout") {
    import spark.implicits._
    withTempDir("graft_idx_guards") { dir =>
      val lsh = s"$dir/lsh"
      Similarity.buildLshIndex(emb, "embedding", "vec_id", lsh)
      // sanity: same-family read works
      Similarity.lshTopKFromIndex(emb.filter(col("vec_id") < 3), emb, lsh,
        "embedding", "vec_id", k = 3).count()
      // simulate an index persisted by a build with a different hyperplane
      // family (e.g. the pre-Gaussian uniform coefficients)
      val p = spark.read.parquet(s"$lsh/_params").head()
      Seq((p.getAs[Int]("bits"), p.getAs[Int]("bands"), p.getAs[Long]("seed"),
        "rhp-uniform-v1"))
        .toDF("bits", "bands", "seed", "family")
        .write.mode("overwrite").parquet(s"$lsh/_params")
      val e1 = intercept[IllegalArgumentException] {
        Similarity.lshTopKFromIndex(emb.filter(col("vec_id") < 3), emb, lsh,
          "embedding", "vec_id", k = 3)
      }
      assert(e1.getMessage.contains("family"))
      val e2 = intercept[IllegalArgumentException] {
        Similarity.appendToLshIndex(emb.limit(1), "embedding", "vec_id", lsh)
      }
      assert(e2.getMessage.contains("family"))
      // an UNTAGGED _params (pre-family index) is equally refused
      Seq((p.getAs[Int]("bits"), p.getAs[Int]("bands"), p.getAs[Long]("seed")))
        .toDF("bits", "bands", "seed")
        .write.mode("overwrite").parquet(s"$lsh/_params")
      assert(intercept[IllegalArgumentException] {
        Similarity.appendToLshIndex(emb.limit(1), "embedding", "vec_id", lsh)
      }.getMessage.contains("family"))
      // a pre-v2 slim IVF index (no layout tag, no vectors inside) must be
      // refused by the v2 reader/appender, not silently return nothing
      val ivf = s"$dir/ivf"
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", ivf, cells = 4)
      val ip = Store.readParams(spark, ivf).head()
      Seq((ip.getAs[Int]("cells"), ip.getAs[Long]("seed"),
        ip.getAs[Double]("base_err")))
        .toDF("cells", "seed", "base_err")
        .write.mode("overwrite").parquet(s"$ivf/_params")
      assert(intercept[IllegalArgumentException] {
        Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 3), ivf,
          "embedding", "vec_id", k = 3, nprobe = 4)
      }.getMessage.contains("layout"))
      assert(intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(emb.limit(1), "embedding", "vec_id", ivf)
      }.getMessage.contains("layout"))
    }
  }

  test("duplicateWindowSpans/removeDuplicateSpans: winners kept, overlaps merge, map-side combine") {
    import spark.implicits._
    // A (12 tokens) is the winner; B repeats A's tokens 0-11 inside its own
    // text (one merged span, not several windows); C is unique; D repeats
    // A twice (two disjoint spans in one doc); E is shorter than the window
    val a = (1 to 12).map(i => s"w$i").mkString(" ")
    val in = Seq(
      (1L, a),                                      // winner
      (2L, s"pre1 pre2 $a post1 post2"),            // span [2, 14)
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),           // unique, no spans
      (4L, s"$a mid1 mid2 mid3 $a"),                // spans [0,12) + [15,27)
      (5L, "s1 s2 s3")                              // < L tokens
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateWindowSpans(in, "text", "doc_id",
      windowTokens = 8)
    val got = spans.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((2L, 2, 12), (4L, 0, 12), (4L, 15, 12)))
    // winner agg must partial-aggregate before the shuffle (the d-family
    // invariant: shuffle O(distinct windows), not O(occurrences))
    val plan = spans.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"window-winner aggregate lost its map-side combine:\n$plan")
    // removal: spans cut, winner + unique + short docs token-identical
    val cleaned = Dedup.removeDuplicateSpans(in, "text", "doc_id",
      windowTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == a)
    assert(cleaned(2L) == "pre1 pre2 post1 post2")
    assert(cleaned(3L) == "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    assert(cleaned(4L) == "mid1 mid2 mid3")
    assert(cleaned(5L) == "s1 s2 s3")
  }

  test("window index: batch replay in id order equals full-batch spans; family guard; removal composes") {
    import spark.implicits._
    withTempDir("graft_win_idx") { dir =>
      val a = (1 to 12).map(i => s"w$i").mkString(" ")
      val in = Seq(
        (1L, a),
        (2L, s"pre1 pre2 $a post1 post2"),
        (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        (4L, s"$a mid1 mid2 mid3 $a"),
        (5L, "s1 s2 s3"),
        (6L, s"lead1 $a"),                         // marked via history
        (7L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v1 v2 v3 v4 v5 v6 v7 v8 v9")
      ).toDF("doc_id", "text")
      def spanSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val full = spanSet(Dedup.duplicateWindowSpans(in, "text", "doc_id", 8))
      // replay in three id-ordered batches against the persisted index
      Dedup.buildWindowIndex(in.limit(0), "text", dir, windowTokens = 8)
      val batches = Seq(in.filter(col("doc_id") <= 2),
        in.filter(col("doc_id") > 2 && col("doc_id") <= 5),
        in.filter(col("doc_id") > 5))
      val replayed = batches.flatMap { b =>
        val spans = spanSet(
          Dedup.duplicateWindowSpansAgainstIndex(b, "text", "doc_id", dir))
        Dedup.appendToWindowIndex(b, "text", dir)
        spans
      }.toSet
      assert(replayed == full,
        s"replay diverged: extra=${replayed -- full} missing=${full -- replayed}")
      SparkSpec.assertParamsMatchReference(dir)
      // incremental removal on a fresh batch claimed entirely by history
      val cut = Dedup.removeDuplicateSpansAgainstIndex(
        Seq((8L, s"$a tail1")).toDF("doc_id", "text"), "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(cut(8L) == "tail1")
      // a mismatched hash family is refused, not silently recall-collapsed
      Seq((8, "other-family")).toDF("window_tokens", "family")
        .write.mode("overwrite").parquet(s"$dir/_params")
      assert(intercept[IllegalArgumentException] {
        Dedup.duplicateWindowSpansAgainstIndex(in, "text", "doc_id", dir)
      }.getMessage.contains("family"))
    }
  }

  test("keepFirstLines under a pathologically hot line: correct, and the winner agg stays map-side combined") {
    import spark.implicits._
    // one boilerplate line repeated in EVERY doc (the 10⁹-copies shape at
    // test scale) + a unique line per doc: the hot hash must not break
    // correctness, and the plan must partial-aggregate before the shuffle
    // so the reducer owning the hot key receives one row per map
    // partition, not one per occurrence
    val n = 20000
    val in = spark.range(n)
      .select(col("id").as("doc_id"),
        array(lit("all rights reserved"),
          concat(lit("u"), col("id").cast("string"))).as("lines"))
    val out = Dedup.keepFirstLines(in, "lines", "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"winner aggregate lost its map-side combine:\n$plan")
    val got = out.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // doc 0 keeps both lines; every other doc keeps only its unique line
    assert(got(0L) == Seq("all rights reserved", "u0"))
    assert(got(1L) == Seq("u1") && got(n - 1L) == Seq(s"u${n - 1}"))
    assert(got.size == n)
  }

  test("keepFirstLines: LongType ids outside the occurrence encoding's domain fail loudly, in-domain extremes stay exact") {
    import spark.implicits._
    // hash-derived doc ids reach |id| >= 2^33, where id * 2^30 + pos
    // wraps: the decoded winner would match no occurrence and every copy
    // of the shared line would drop without an error (with ANSI on, an
    // arithmetic overflow naming no cause)
    val big = 1L << 33
    val out = Seq((big, Seq("shared", "a")), (big + 1, Seq("shared", "b")))
      .toDF("doc_id", "lines")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { mode =>
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val e = intercept[Exception] {
        Dedup.keepFirstLines(out, "lines", "doc_id").collect()
      }
      assert(e.getMessage.contains("occurrence encoding needs"),
        s"ansi=$mode: ${e.getMessage}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    val edge = Seq((-big, Seq("x", "y")), (big - 1, Seq("x", "z")))
      .toDF("doc_id", "lines")
    val got = Dedup.keepFirstLines(edge, "lines", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == Map(-big -> Seq("x", "y"), (big - 1) -> Seq("z")))
    graft.operators.CacheScope.global.release()
  }

  test("calibrateNprobe: measured recall meets the target; looser targets need no more probes") {
    withTempDir("graft_nprobe_cal") { dir =>
      val q = emb.filter(col("vec_id") < 8)
      val c = emb.filter(col("vec_id") >= 8)
      Similarity.buildIvfIndex(c, "embedding", "vec_id", dir, cells = 8)
      val npExact = Similarity.calibrateNprobe(q, c, dir, "embedding",
        "vec_id", k = 5, recallTarget = 1.0)
      val npLoose = Similarity.calibrateNprobe(q, c, dir, "embedding",
        "vec_id", k = 5, recallTarget = 0.3)
      assert(npExact >= 1 && npExact <= 8)
      assert(npLoose <= npExact)
      // independent check: the calibrated nprobe really delivers the target
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
      val got = pairs(Similarity.ivfTopKFromIndex(q, dir, "embedding",
        "vec_id", k = 5, nprobe = npExact))
      assert((got & brute).size.toDouble / brute.size >= 1.0)
    }
  }

  test("calibrateRerank: calibrated budget delivers the recall target; looser targets need no more") {
    val q = emb.filter(col("vec_id") < 8)
    val c = emb.filter(col("vec_id") >= 8)
    val book = Similarity.pqTrain(c, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(c, book, "embedding", "vec_id",
      dim = 64, m = 16).cache()
    try {
      val exact = Similarity.calibrateRerank(q, c, codes, book, "embedding",
        "vec_id", dim = 64, m = 16, k = 5, recallTarget = 1.0)
      val loose = Similarity.calibrateRerank(q, c, codes, book, "embedding",
        "vec_id", dim = 64, m = 16, k = 5, recallTarget = 0.5)
      assert(loose <= exact && exact <= 4096)
      // independent check: the calibrated budget really reproduces brute force
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
      val got = pairs(Similarity.pqTopK(q, c, codes, book, "embedding",
        "vec_id", dim = 64, m = 16, k = 5, rerank = exact))
      assert(got == brute)
    } finally codes.unpersist()
  }

  test("calibrated persisted indexes: knobs stored in _params, served as defaults, build record preserved") {
    withTempDir("graft_cal_idx") { dir =>
      val q = emb.filter(col("vec_id") < 8)
      val c = emb.filter(col("vec_id") >= 8)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
      // IVF: calibrate writes cal_nprobe into _params; the no-knob serve
      // uses it; the build-time record survives the _params rewrite
      val ivf = s"$dir/ivf"
      Similarity.buildIvfIndex(c, "embedding", "vec_id", ivf, cells = 8)
      val np = Similarity.calibrateIvfIndex(q, ivf, "embedding", "vec_id",
        k = 5, recallTarget = 1.0)
      val ip = Store.readParams(spark, ivf).head()
      assert(ip.getAs[Int]("cal_nprobe") == np)
      assert(ip.getAs[Int]("cal_k") == 5 && ip.getAs[Double]("cal_recall") == 1.0)
      assert(pairs(Similarity.ivfTopKFromIndex(q, ivf, "embedding", "vec_id",
        k = 5)) == brute) // default knob = stored value, calibrated to 1.0
      // base_err survived the rewrite: the drift probe still works
      assert(Similarity.ivfDriftCheck(c, "embedding", ivf).ratio <= 1.0 + 1e-9)
      // IVFPQ: both knobs stored and served as defaults; appender params
      // (dim, m) preserved
      val ivfpq = s"$dir/ivfpq"
      Similarity.buildIvfPqIndex(c, "embedding", "vec_id", ivfpq,
        dim = 64, m = 16, cells = 8, k = 16)
      val (np2, rr2) = Similarity.calibrateIvfPqIndex(q, ivfpq, "embedding",
        "vec_id", k = 5, recallTarget = 1.0)
      val pp = Store.readParams(spark, ivfpq).head()
      assert(pp.getAs[Int]("cal_nprobe") == np2 &&
        pp.getAs[Int]("cal_rerank") == rr2)
      assert(pp.getAs[Int]("dim") == 64 && pp.getAs[Int]("m") == 16)
      assert(pairs(Similarity.ivfPqTopKFromIndex(q, ivfpq, "embedding",
        "vec_id", k = 5)) == brute)
      // re-calibration REPLACES the stored knobs (still one _params row,
      // no duplicate columns); a looser target never needs more probes
      val (np3, rr3) = Similarity.calibrateIvfPqIndex(q, ivfpq, "embedding",
        "vec_id", k = 5, recallTarget = 0.3)
      val pp2 = Store.readParams(spark, ivfpq)
      assert(pp2.count() == 1)
      assert(pp2.head.getAs[Int]("cal_nprobe") == np3 &&
        pp2.head.getAs[Int]("cal_rerank") == rr3)
      assert(np3 <= np2)
    }
  }

  test("ivfDriftCheck: same-corpus ratio ≤ 1, centroid batch near zero, shifted batch degrades") {
    withTempDir("graft_drift") { dir =>
      Similarity.buildIvfIndex(emb, "embedding", "vec_id", dir, cells = 8)
      val same = Similarity.ivfDriftCheck(emb, "embedding", dir)
      assert(same.baseErr > 0)
      // nearest-centroid-by-cosine can only improve on the stored k-means
      // (Euclidean) assignment, so the same corpus lands at or just below 1
      assert(same.ratio > 0.5 && same.ratio <= 1.01)
      // a batch of the stored centroids themselves: ~zero quantization error
      val cents = spark.read.parquet(s"$dir/centroids")
        .withColumnRenamed("centroid", "embedding")
      assert(Similarity.ivfDriftCheck(cents, "embedding", dir).ratio < 0.5)
      // distribution shift: reflect alternating dimensions — vectors
      // decorrelate from the frozen centroids and the error ratio grows
      val shifted = emb.withColumn("embedding",
        transform(col("embedding"),
          (x, i) => when(i % 2 === 0, -x).otherwise(x)))
      val drifted = Similarity.ivfDriftCheck(shifted, "embedding", dir)
      // margin is relative: this corpus clusters weakly (baseErr close to
      // the 1.0 ceiling), so even full decorrelation caps the ratio near
      // 1/baseErr — what matters is the ordering and a clear gap
      assert(drifted.ratio > 1.0 && drifted.ratio > same.ratio * 1.05)
      assert(drifted.batchErr > same.batchErr)
    }
  }

  test("ANN: PQ codes compress to m small codes; ADC+rerank reproduces brute force") {
    // m=16 of 64 dims, k=16 codes: 16×4-bit codes = 8 B/vector vs 256 B
    // float32 — 32× compression. Recall@rerank (NOTES.md, PQ ANN curves):
    // m=16 rerank=192 → 1.00 on this corpus (64 → 0.84; m=4 is coarser still).
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    val book = Similarity.pqTrain(c, "embedding", dim = 64, m = 16, k = 16)
    assert(book.count() == 256) // m·k codebook rows
    val codes = Similarity.pqEncode(c, book, "embedding", "vec_id", dim = 64, m = 16)
    // one codes-array row per vector, m entries each, every code in [0, k)
    assert(codes.count() == c.count())
    assert(codes.filter(size(col("codes")) =!= 16).count() == 0)
    assert(codes.filter(exists(col("codes"),
      cd => cd < 0 || cd >= 16)).count() == 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
    // ADC candidates at rerank=192 cover the true top-5, so the exact-cosine
    // re-rank reproduces brute force bit-for-bit (the s6 oracle's premise)
    val pq = pairs(Similarity.pqTopK(q, c, codes, book, "embedding", "vec_id",
      dim = 64, m = 16, k = 5, rerank = 192))
    assert(pq == brute, s"missing=${brute -- pq} extra=${pq -- brute}")
    // tight rerank budget still holds a recall floor (measured 0.56 with
    // the hash-ordered training sample — the sample IS the whole corpus at
    // this scale, but its order seeds k-means++ init, so the floor moved
    // from the pre-randomization 0.6; the rerank=192 exactness above is
    // the load-bearing property and is order-independent)
    val tight = pairs(Similarity.pqTopK(q, c, codes, book, "embedding", "vec_id",
      dim = 64, m = 16, k = 5, rerank = 16))
    assert((brute & tight).size.toDouble / brute.size >= 0.5,
      s"recall=${(brute & tight).size.toDouble / brute.size}")
  }

  test("ANN: OPQ rotation is orthogonal; rotated ADC+rerank reproduces brute force") {
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    val rot = Similarity.opqRotation(c, "embedding", dim = 64, m = 16)
    // R is orthogonal: RᵀR = I (norms/cosines preserved — the premise that
    // lets rotated-space ADC feed an original-space exact re-rank)
    assert(rot.length == 64 && rot.forall(_.length == 64))
    for (i <- 0 until 64; j <- i until 64) {
      val dot = (0 until 64).map(t => rot(i)(t).toDouble * rot(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-4, s"RRᵀ[$i,$j] = $dot")
    }
    val rc = Similarity.rotate(c, "embedding", rot)
    val book = Similarity.pqTrain(rc, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(rc, book, "embedding", "vec_id", dim = 64, m = 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
    val opq = pairs(Similarity.opqTopK(q, c, codes, book, rot, "embedding",
      "vec_id", dim = 64, m = 16, k = 5, rerank = 192))
    assert(opq == brute, s"missing=${brute -- opq} extra=${opq -- brute}")
  }

  test("OPQ beats plain PQ on variance-concentrated data (eigenvalue allocation)") {
    import spark.implicits._
    // Corpus where nearly all variance lives in the FIRST subspace's two
    // coords: plain PQ gives that subspace the same k codes as the
    // near-constant ones (16 (a,b) combos, k=4 codes → forced error), while
    // OPQ's eigenvalue allocation splits the two high-variance directions
    // across different subspaces (4 levels each, k=4 → representable).
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val a = (rnd.nextInt(4) * 2 - 3).toFloat * 5 // ±5, ±15
      val b = (rnd.nextInt(4) * 2 - 3).toFloat * 5
      val noise = Array.fill(6)((rnd.nextFloat() - 0.5f) * 0.01f)
      (i.toLong, Array(a, b) ++ noise)
    }
    val c = rows.toDF("vec_id", "embedding")
    def reconMse(rotation: Option[Seq[Seq[Float]]]): Double = {
      val base = rotation.map(Similarity.rotate(c, "embedding", _)).getOrElse(c)
      val book = Similarity.pqTrain(base, "embedding", dim = 8, m = 4, k = 4)
      val codes = Similarity.pqEncode(base, book, "embedding", "vec_id",
        dim = 8, m = 4)
      val bk = book.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
      // normalized vectors, as pqTrain/pqEncode see them
      val vecs = base.select(col("vec_id"), col("embedding")).collect()
        .map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble)
          val n = math.sqrt(v.map(x => x * x).sum)
          r.getLong(0) -> v.map(_ / n)
        }.toMap
      val errs = codes.collect().map { r =>
        val v = vecs(r.getLong(0))
        r.getSeq[Int](1).zipWithIndex.map { case (code, s) =>
          val ctr = bk((s, code))
          (0 until 2).map(t => math.pow(v(s * 2 + t) - ctr(t), 2)).sum
        }.sum
      }
      errs.sum / errs.length
    }
    val pqMse = reconMse(None)
    val opqMse = reconMse(Some(Similarity.opqRotation(c, "embedding", dim = 8, m = 4)))
    assert(opqMse < pqMse * 0.5,
      s"opq=$opqMse pq=$pqMse — rotation recovered no resolution")
  }

  test("ANN: IVFPQ equals flat PQ at nprobe=all; tighter probes hold a recall floor") {
    val q = emb.filter(col("vec_id") < 5)
    val c = emb.filter(col("vec_id") >= 5)
    val book = Similarity.pqTrain(c, "embedding", dim = 64, m = 16, k = 16)
    val codes = Similarity.pqEncode(c, book, "embedding", "vec_id", dim = 64, m = 16)
    def run(nprobe: Int) =
      Similarity.ivfPqTopK(q, c, codes, book, "embedding", "vec_id",
        cellCol = "label", dim = 64, m = 16, k = 5, nprobe = nprobe,
        rerank = 192)
    val flat = Similarity.pqTopK(q, c, codes, book, "embedding", "vec_id",
      dim = 64, m = 16, k = 5, rerank = 192)
    // probing every cell makes the cell pruning a no-op: identical output
    val all = run(10).select("q_id", "n_id", "rank")
    assert(all.exceptAll(flat.select("q_id", "n_id", "rank")).count() == 0 &&
      flat.select("q_id", "n_id", "rank").exceptAll(all).count() == 0)
    // nprobe=3 of 10 cells: same coverage/recall trade as IVF-flat (s3) —
    // assert the floor plus structural validity
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, "embedding", "vec_id", 5))
    val probed = pairs(run(3))
    assert(probed.size == 25)
    assert((brute & probed).size.toDouble / brute.size >= 0.2,
      s"recall=${(brute & probed).size.toDouble / brute.size}")
  }

  test("persisted PQ index reproduces on-the-fly PQ; frozen-codebook append") {
    withTempDir("graft_pq_idx") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      val full = s"$dir/full"
      Similarity.buildPqIndex(c, "embedding", "vec_id", full,
        dim = 64, m = 4, k = 4)
      val fromIdx = Similarity.pqTopKFromIndex(q, c, full,
        "embedding", "vec_id", k = 5, rerank = 16)
        .select("q_id", "n_id", "rank")
      val book = Similarity.pqTrain(c, "embedding", dim = 64, m = 4, k = 4)
      val codes = Similarity.pqEncode(c, book, "embedding", "vec_id",
        dim = 64, m = 4)
      val direct = Similarity.pqTopK(q, c, codes, book, "embedding",
        "vec_id", dim = 64, m = 4, k = 5, rerank = 16)
        .select("q_id", "n_id", "rank")
      assert(fromIdx.exceptAll(direct).count() == 0 &&
        direct.exceptAll(fromIdx).count() == 0)
      // append path: build on half, append the rest — equals encoding the
      // whole corpus with the half-trained (frozen) codebook
      val cA = c.filter(col("vec_id") % 2 === 0)
      val cB = c.filter(col("vec_id") % 2 === 1)
      val half = s"$dir/half"
      Similarity.buildPqIndex(cA, "embedding", "vec_id", half,
        dim = 64, m = 4, k = 4)
      Similarity.appendToPqIndex(cB, "embedding", "vec_id", half)
      val appended = Similarity.pqTopKFromIndex(q, c, half,
        "embedding", "vec_id", k = 5, rerank = 16)
        .select("q_id", "n_id", "rank")
      val bookA = Similarity.pqTrain(cA, "embedding", dim = 64, m = 4, k = 4)
      val codesAll = Similarity.pqEncode(c, bookA, "embedding", "vec_id",
        dim = 64, m = 4)
      val expect = Similarity.pqTopK(q, c, codesAll, bookA, "embedding",
        "vec_id", dim = 64, m = 4, k = 5, rerank = 16)
        .select("q_id", "n_id", "rank")
      assert(appended.exceptAll(expect).count() == 0 &&
        expect.exceptAll(appended).count() == 0)
    }
  }

  test("persisted OPQ index reproduces on-the-fly OPQ; rotated append") {
    withTempDir("graft_opq_idx") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      Similarity.buildOpqIndex(c, "embedding", "vec_id", dir,
        dim = 64, m = 4, k = 4)
      val fromIdx = Similarity.opqTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5, rerank = 16)
        .select("q_id", "n_id", "rank").cache()
      try {
        val rot = Similarity.opqRotation(c, "embedding", dim = 64, m = 4)
        val rc = Similarity.rotate(c.select(col("vec_id"), col("embedding")),
          "embedding", rot)
        val book = Similarity.pqTrain(rc, "embedding", dim = 64, m = 4, k = 4)
        val codes = Similarity.pqEncode(rc, book, "embedding", "vec_id",
          dim = 64, m = 4)
        val direct = Similarity.opqTopK(q, c, codes, book, rot, "embedding",
          "vec_id", dim = 64, m = 4, k = 5, rerank = 16)
          .select("q_id", "n_id", "rank")
        assert(fromIdx.exceptAll(direct).count() == 0 &&
          direct.exceptAll(fromIdx).count() == 0)
        // append: codes for the appended half come from the stored
        // rotation+codebook, so the merged index answers like a full
        // build over the same frozen artifacts
        val cA = c.filter(col("vec_id") % 2 === 0)
        val cB = c.filter(col("vec_id") % 2 === 1)
        val half = s"$dir/half"
        Similarity.buildOpqIndex(cA, "embedding", "vec_id", half,
          dim = 64, m = 4, k = 4)
        Similarity.appendToOpqIndex(cB, "embedding", "vec_id", half)
        val appended = Similarity.opqTopKFromIndex(q, c, half,
          "embedding", "vec_id", k = 5, rerank = 16)
          .select("q_id", "n_id", "rank")
        val rotA = Similarity.opqRotation(cA, "embedding", dim = 64, m = 4)
        val rcAll = Similarity.rotate(c.select(col("vec_id"), col("embedding")),
          "embedding", rotA)
        val bookA = Similarity.pqTrain(
          Similarity.rotate(cA.select(col("vec_id"), col("embedding")),
            "embedding", rotA), "embedding", dim = 64, m = 4, k = 4)
        val codesAll = Similarity.pqEncode(rcAll, bookA, "embedding",
          "vec_id", dim = 64, m = 4)
        val expect = Similarity.opqTopK(q, c, codesAll, bookA, rotA,
          "embedding", "vec_id", dim = 64, m = 4, k = 5, rerank = 16)
          .select("q_id", "n_id", "rank")
        assert(appended.exceptAll(expect).count() == 0 &&
          expect.exceptAll(appended).count() == 0)
      } finally fromIdx.unpersist()
    }
  }

  test("index compaction: fewer files, identical answers, params untouched") {
    withTempDir("graft_compact") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      // LSH index with several appends → many small part files
      val third = (id: Int) => c.filter(col("vec_id") % 3 === id)
      Similarity.buildLshIndex(third(0), "embedding", "vec_id", dir)
      Similarity.appendToLshIndex(third(1), "embedding", "vec_id", dir)
      Similarity.appendToLshIndex(third(2), "embedding", "vec_id", dir)
      def parts() =
        new java.io.File(Store.resolveDataDir(dir, "index")).listFiles()
          .count(_.getName.endsWith(".parquet"))
      val before = parts()
      val answerBefore = Similarity.lshTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5).select("q_id", "n_id", "rank").collect().toSet
      Store.compactIndex(spark, dir, partitions = 2)
      // the live dir is now a generation dir committed via the pointer;
      // the superseded dir is NOT deleted yet — in-flight readers that
      // resolved it before the flip get one full compaction cycle of
      // grace before the next sweep reclaims it
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index.g0001")
      assert(new java.io.File(s"$dir/index").exists())
      assert(parts() == 2 && parts() < before)
      val answerAfter = Similarity.lshTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5).select("q_id", "n_id", "rank").collect().toSet
      assert(answerAfter == answerBefore)
      // params survive (compaction only touches the data table)
      assert(spark.read.parquet(s"$dir/_params").count() == 1)
      // appends land in the live generation; a second compaction advances
      // it, sweeps the twice-superseded plain dir, and leaves g0001 for
      // the NEXT sweep (same one-cycle grace)
      Similarity.appendToLshIndex(third(1), "embedding", "vec_id", dir)
      Store.compactIndex(spark, dir, partitions = 2)
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index.g0002")
      assert(!new java.io.File(s"$dir/index").exists())
      assert(new java.io.File(s"$dir/index.g0001").exists())
      // third compaction: g0001's grace period is over
      Store.compactIndex(spark, dir, partitions = 2)
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index.g0003")
      assert(!new java.io.File(s"$dir/index.g0001").exists())
      // PQ index codes compact the same way
      val pq = s"$dir/pq"
      Similarity.buildPqIndex(third(0), "embedding", "vec_id", pq,
        dim = 64, m = 4, k = 4)
      Similarity.appendToPqIndex(third(1), "embedding", "vec_id", pq)
      Similarity.appendToPqIndex(third(2), "embedding", "vec_id", pq)
      val pqBefore = Similarity.pqTopKFromIndex(q, c, pq, "embedding",
        "vec_id", k = 5, rerank = 16).select("q_id", "n_id", "rank").collect().toSet
      Store.compactIndex(spark, pq, partitions = 2)
      assert(new java.io.File(Store.resolveDataDir(pq, "codes")).listFiles()
        .count(_.getName.endsWith(".parquet")) == 2)
      val pqAfter = Similarity.pqTopKFromIndex(q, c, pq, "embedding",
        "vec_id", k = 5, rerank = 16).select("q_id", "n_id", "rank").collect().toSet
      assert(pqAfter == pqBefore)
    }
  }

  test("ANN append auto-compaction folds at the threshold without changing the serve") {
    withTempDir("graft_annauto") { dir =>
      import java.nio.file.{Files, Paths}
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      val base = c.filter(col("vec_id") < 250)
      val bA = c.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0)
      val bB = c.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 1)
      val manual = s"$dir/manual"
      Similarity.buildPqIndex(base, "embedding", "vec_id", manual,
        dim = 64, m = 4, k = 4)
      // byte-identical twin of the built index, so the frozen codebook is
      // shared by construction and only the compaction cadence differs
      val auto = s"$dir/auto"
      val walk = Files.walk(Paths.get(manual))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.foreach { p =>
          val t = Paths.get(auto).resolve(Paths.get(manual).relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else Files.copy(p, t)
        }
      } finally walk.close()
      Similarity.appendToPqIndex(bA, "embedding", "vec_id", manual)
      Similarity.appendToPqIndex(bB, "embedding", "vec_id", manual)
      Similarity.appendToPqIndex(bA, "embedding", "vec_id", auto,
        compactFileThreshold = 1)
      // first append folded: live codes dir is a pointer-resolved
      // generation (the plain dir would mean the cadence never fired)
      val gen1 = Paths.get(Store.resolveDataDir(auto, "codes"))
        .getFileName.toString
      assert(gen1.startsWith("codes.g"), s"fold never fired: $gen1")
      Similarity.appendToPqIndex(bB, "embedding", "vec_id", auto,
        compactFileThreshold = 1)
      val gen2 = Paths.get(Store.resolveDataDir(auto, "codes"))
        .getFileName.toString
      assert(gen2.startsWith("codes.g") && gen2 > gen1,
        s"second append did not advance the fold: $gen1 -> $gen2")
      // serve invariance: the folded lineage answers exactly like the
      // unfolded one — both batches visible THROUGH two folds
      val serve = (p: String) => Similarity.pqTopKFromIndex(q, c, p,
        "embedding", "vec_id", k = 5, rerank = 16)
        .select("q_id", "n_id", "rank").collect().toSet
      assert(serve(auto) == serve(manual))
    }
  }

  test("compaction crash-safety: uncommitted generation leaves the index readable") {
    withTempDir("graft_crash") { dir =>
      val q = emb.filter(col("vec_id") < 5)
      val c = emb.filter(col("vec_id") >= 5)
      Similarity.buildLshIndex(c, "embedding", "vec_id", dir)
      val expected = Similarity.lshTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5).select("q_id", "n_id", "rank").collect().toSet
      // simulate a compaction that died mid-write: a half-written
      // generation dir exists but the pointer was NEVER flipped
      val orphan = java.nio.file.Paths.get(dir, "index.g0001")
      java.nio.file.Files.createDirectories(orphan)
      java.nio.file.Files.write(orphan.resolve("part-garbage.parquet"),
        Array[Byte](1, 2, 3))
      // readers still resolve the old live dir — answers unchanged
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index")
      val got = Similarity.lshTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5).select("q_id", "n_id", "rank").collect().toSet
      assert(got == expected)
      // the next compaction sweeps the orphan and commits cleanly
      Store.compactIndex(spark, dir, partitions = 2)
      val live = Store.resolveDataDir(dir, "index")
      assert(new java.io.File(live).isDirectory)
      assert(!java.nio.file.Files.exists(orphan.resolve("part-garbage.parquet"))
        || live == orphan.toString) // orphan either swept or replaced by a real gen
      val after = Similarity.lshTopKFromIndex(q, c, dir,
        "embedding", "vec_id", k = 5).select("q_id", "n_id", "rank").collect().toSet
      assert(after == expected)
      // a rebuild at the same path drops the stale pointer
      Similarity.buildLshIndex(c, "embedding", "vec_id", dir)
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index")
    }
  }

  test("binary ingest feeds multimodal decode: files → payload rows → features") {
    import graft.sources.Sources
    withTempDir("graft_bin_ingest_") { dir =>
      docs.limit(20).select("doc_id", "text").collect().foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"${r.getLong(0)}.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
      val ingested = Sources.binaryFiles(spark, dir, glob = Some("*.bin"))
        .select(regexp_extract(col("path"), "(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
          col("content").as("payload"))
      assert(ingested.count() == 20)
      val features = Multimodal.decodeFeaturesColumnar(ingested, "doc_id")
      // same deterministic features as the attachPayload path on the
      // same 20 docs — the ingest route plugs into the pipeline unchanged
      val viaAttach = Multimodal.decodeFeaturesColumnar(
        Multimodal.attachPayload(docs.limit(20), "text", "image/fake"), "doc_id")
        .select("doc_id", "width", "n_frames")
      assert(features.select("doc_id", "width", "n_frames")
        .exceptAll(viaAttach).count() == 0)
    }
  }

  // ---- multimodal plumbing ----

  test("batched decode matches columnar decode; height deterministic") {
    val withPayload = Multimodal.attachPayload(docs, "text", "image/fake")
    val batched = Multimodal.decodeFeatures(withPayload, "doc_id")
    val columnar = Multimodal.decodeFeaturesColumnar(withPayload, "doc_id")
    assert(batched.select("doc_id", "width", "n_frames").exceptAll(
      columnar.select("doc_id", "width", "n_frames")).count() == 0)
    val h1 = batched.select("doc_id", "height").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val h2 = Multimodal.decodeFeatures(withPayload, "doc_id")
      .select("doc_id", "height").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(h1 == h2)
  }

  test("arrow-native batched decode equals the row-based batched decode") {
    val withPayload = Multimodal.attachPayload(docs.limit(200), "text", "image/fake")
    val viaRows = Multimodal.decodeFeatures(withPayload, "doc_id")
    val viaArrow = Multimodal.decodeFeaturesArrow(withPayload, "doc_id")
    assert(viaArrow.schema == viaRows.schema)
    assert(viaArrow.exceptAll(viaRows).count() == 0 &&
      viaRows.exceptAll(viaArrow).count() == 0)
    // the decoder seam is pluggable: a custom implementation flows through
    val custom = Multimodal.decodeFeaturesArrow(withPayload, "doc_id",
      new Multimodal.PayloadDecoder {
        def decode(b: Array[Byte]): (Int, Int, Int) = (1, 2, b.length)
      })
    assert(custom.select("width", "height").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 2)))
  }

  test("ImageHeaderDecoder reads real PNG and JPEG bytes; unknown falls back") {
    import Multimodal.ImageHeaderDecoder
    // REAL bytes: the JDK's ImageIO writes actual PNG/JPEG files
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xff8800)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = imageBytes("png", 37, 21)
    val jpg = imageBytes("jpg", 64, 48)
    assert(ImageHeaderDecoder.decode(png) == ((37, 21, 1)))
    assert(ImageHeaderDecoder.decode(jpg) == ((64, 48, 1)))
    // non-image payloads fall back to the stub, not an exception
    val text = "not an image".getBytes("UTF-8")
    assert(ImageHeaderDecoder.decode(text) == Multimodal.fakeDecode(text))
    // truncated PNG signature → fallback, truncated JPEG chain → fallback
    assert(ImageHeaderDecoder.decode(png.take(10)) ==
      Multimodal.fakeDecode(png.take(10)))
    assert(ImageHeaderDecoder.decode(jpg.take(3)) ==
      Multimodal.fakeDecode(jpg.take(3)))
    // and the decoder flows through BOTH distributed decode paths
    import spark.implicits._
    val frame = Seq((1L, png), (2L, jpg)).toDF("doc_id", "payload")
    for (decoded <- Seq(
        Multimodal.decodeFeatures(frame, "doc_id", decoder = ImageHeaderDecoder),
        Multimodal.decodeFeaturesArrow(frame, "doc_id", ImageHeaderDecoder))) {
      val got = decoded.collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
      assert(got == Map(1L -> ((37, 21, 1)), 2L -> ((64, 48, 1))))
    }
  }

  test("ImageIoDecoder: real pixel decode agrees with the header parser; stats exact; garbage falls back") {
    import Multimodal.{ImageHeaderDecoder, ImageIoDecoder}
    def gray(fmt: String, w: Int, h: Int, v: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, v)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = gray("png", 19, 11, 137)
    val jpg = gray("jpg", 33, 7, 64)
    // two INDEPENDENT implementations must agree on dimensions: the
    // hand-written IHDR/SOFn parser and the JDK's full pixel decode
    assert(ImageIoDecoder.decode(png) == ImageHeaderDecoder.decode(png))
    assert(ImageIoDecoder.decode(jpg) == ImageHeaderDecoder.decode(jpg))
    // pixel stats: PNG is lossless — a constant-137 raster decodes to
    // mean exactly 137.0 (a header could never tell)
    assert(ImageIoDecoder.pixelStats(png).contains((19, 11, 137.0)))
    // non-image bytes: stats absent, decode falls through the header
    // parser to the stub — never an exception
    val junk = "definitely not an image".getBytes("UTF-8")
    assert(ImageIoDecoder.pixelStats(junk).isEmpty)
    assert(ImageIoDecoder.decode(junk) == Multimodal.fakeDecode(junk))
    // the distributed path: synthesized PNGs round-trip to the exact
    // relational rule (the m6 gate's contract, pinned here in-JVM)
    import spark.implicits._
    val ids = Seq(0L, 7L, 254L, 1003L).toDF("doc_id")
    val got = Multimodal.pixelFeatures(
        Multimodal.synthesizeGrayPng(ids, "doc_id"), "doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3))))
      .toMap
    for (id <- Seq(0L, 7L, 254L, 1003L)) {
      val (w, h) = ((3 + id % 5).toInt, (2 + id % 4).toInt)
      val exp = (for (x <- 0 until w; y <- 0 until h)
        yield ((id + x + y) % 256).toDouble).sum / (w * h)
      assert(got(id) == ((w, h, exp)), s"id $id: ${got(id)} vs ($w,$h,$exp)")
    }
  }

  test("TextExtract.htmlToText: blocks removed whole, tags stripped, entities decoded, double-escape kept") {
    import spark.implicits._
    import graft.operators.TextExtract
    val cases = Seq(
      ("<p>Hello <b>world</b></p>", "Hello world"),
      // script/style CONTENT vanishes (it is code, not prose), any case
      ("<SCRIPT>var x = '<p>not text</p>';</SCRIPT>after", "after"),
      ("<script\ntype=\"module\">\nlet a = 1 < 2;\n</script >x", "x"),
      ("<style type=\"a\">.c { color: red }</style>kept", "kept"),
      // comments go before the tag strip, so a tag inside one is inert
      ("<!-- a <b>comment</b> spanning --> tail", "tail"),
      // entities decode AFTER the strip — decoded '<' is text, not a tag
      ("a&nbsp;b &lt;tag&gt; &quot;q&quot; &#39;s&apos; &amp; done",
        "a b <tag> \"q\" 's' & done"),
      // the double-escape rule: amp decodes LAST, exactly once
      ("&amp;lt; stays encoded once", "&lt; stays encoded once"),
      ("&amp;amp; collapses one level", "&amp; collapses one level"),
      // numeric character references (round-15): decimal and hex
      // spellings of the named set and the web-punctuation set decode
      // to their literal codepoints; hex digits are case-insensitive
      ("a&#160;b &#60;t&#62; &#34;q&#34; &#x27;s&#X27; &#38; done",
        "a b <t> \"q\" 's' & done"),
      ("&#8216;a&#8217; &#8220;b&#8221; c&#8211;d e&#8212;f g&#8230;",
        "‘a’ “b” c–d e—f g…"),
      ("&#x2018;a&#x2019; &#x201C;b&#x201d; c&#x2013;d e&#x2014;f g&#x2026;",
        "‘a’ “b” c–d e—f g…"),
      // NCR double-escape: the amp FAMILY (&amp;/&#38;/&#x26;) decodes
      // last, so an NCR-escaped entity collapses exactly one level
      ("&#38;lt; stays once", "&lt; stays once"),
      ("&#x26;#60; stays once", "&#60; stays once"),
      // outside the literal map: stays as-is (stated contract — a
      // general chr(capture) decode is not a portable regex replacement)
      ("&#9731; snowman undecoded", "&#9731; snowman undecoded"),
      ("multi\n  line <br/>\t text", "multi line text"),
      // documented out-of-scope: a quoted '>' inside an attribute ends
      // the tag early (regex, not a parser) — pinned so the policy is
      // a stated contract, not an accident
      ("<a href=\"x>y\">edge", "y\">edge"))
    val got = cases.map(_._1).toDF("h")
      .select(TextExtract.htmlToText(col("h")).as("t"))
      .as[String].collect().toSeq
    cases.zip(got).foreach { case ((in, exp), g) =>
      assert(g == exp, s"extract(<$in>) = <$g>, expected <$exp>")
    }
  }

  test("UrlCanon.canonicalizeUrl: contract per step, passthrough, idempotence") {
    import spark.implicits._
    import graft.operators.UrlCanon
    val cases = Seq(
      // scheme + host case-fold; path/query case is semantic and kept
      ("HTTPS://Example.COM/Articles/Art-12", "https://example.com/Articles/Art-12"),
      // default ports drop; non-default ports are semantic and kept
      ("http://example.com:80/a", "http://example.com/a"),
      ("https://example.com:443", "https://example.com"),
      ("https://example.com:8443/a", "https://example.com:8443/a"),
      ("http://example.com:8080/", "http://example.com:8080"),
      // www. prefix drops; a www-ish subdomain does not
      ("https://www.example.com/a", "https://example.com/a"),
      ("https://www2.example.com/a", "https://www2.example.com/a"),
      // fragment drops
      ("https://example.com/a#sec-2", "https://example.com/a"),
      ("https://example.com/#top", "https://example.com"),
      // tracking params drop wherever they sit (case-insensitive keys);
      // real params survive, including around removed ones
      ("https://example.com/a?utm_source=f&utm_campaign=x", "https://example.com/a"),
      ("https://example.com/a?UTM_Source=f", "https://example.com/a"),
      ("https://example.com/a?page=2&utm_medium=m&gclid=g", "https://example.com/a?page=2"),
      ("https://example.com/a?fbclid=z&page=2", "https://example.com/a?page=2"),
      ("https://example.com/a?utm_a=1&utm_b=2&c=3", "https://example.com/a?c=3"),
      // doubled slashes collapse in the path, never in scheme://
      ("https://example.com//a//b///c", "https://example.com/a/b/c"),
      // trailing slash and dangling ?/& drop
      ("https://example.com/a/", "https://example.com/a"),
      ("https://example.com/a?", "https://example.com/a"),
      ("https://example.com/", "https://example.com"),
      // generic schemes canonicalize too; scheme is never folded
      ("FTP://Host//p/", "ftp://host/p"),
      ("http://example.com/a", "http://example.com/a"),
      // non-hierarchical / schemeless inputs pass through UNCHANGED
      ("mailto:a@b.c", "mailto:a@b.c"),
      ("not a url", "not a url"),
      ("/relative/path?utm_source=x", "/relative/path?utm_source=x"),
      ("", ""))
    val got = cases.map(_._1).toDF("u")
      .select(UrlCanon.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    cases.zip(got).foreach { case ((in, exp), g) =>
      assert(g == exp, s"canon(<$in>) = <$g>, expected <$exp>")
    }
    // idempotence: a canonical URL is its own canonical form (the
    // dedup key is stable under re-processing by any later pipeline)
    val twice = cases.map(_._2).toDF("u")
      .select(UrlCanon.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    cases.map(_._2).zip(twice).foreach { case (c1, c2) =>
      assert(c2 == c1, s"not idempotent: canon(<$c1>) = <$c2>")
    }
  }

  test("URL keep-first dedup: id-ordered batch replay through the index equals the full batch; claims persist through the fold") {
    withTempDir("graft_urlidx") { dir =>
      import spark.implicits._
      import graft.operators.UrlCanon
      val urls = Seq(
        (0L, "https://example.com/a?utm_source=x"),
        (1L, "https://www.example.com/a"), // dup of 0 under canon
        (2L, "https://example.com/b"),
        (3L, "HTTPS://EXAMPLE.com/a/"), // dup of 0 under canon
        (4L, "https://example.com/b?page=2"), // kept param: distinct
        (5L, "https://example.com/c"),
        (6L, "https://example.com/b"), // dup of 2
        (7L, "https://example.com/c#frag") // dup of 5
      ).toDF("doc_id", "url")
      val full = urls.select(
          UrlCanon.canonicalizeUrl(col("url")).as("c"), col("doc_id"))
        .groupBy("c").agg(min("doc_id").as("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(full.size == 4 && full.map(_._2) == Set(0L, 2L, 4L, 5L))
      val batches = Seq(urls.filter(col("doc_id") <= 2),
        urls.filter(col("doc_id") >= 3 && col("doc_id") <= 5),
        urls.filter(col("doc_id") >= 6))
      Dedup.buildUrlIndex(batches.head.limit(0), "url", dir)
      val incr = batches.flatMap { b =>
        val kept = Dedup.dedupUrlsAgainstIndex(b, "url", "doc_id", dir)
          .collect().map(r => (r.getString(1), r.getLong(0)))
        // claim the RAW batch, folding at the threshold (every append
        // crosses it, so the claims must survive repeated folds)
        Dedup.appendToUrlIndex(b, "url", dir, compactFileThreshold = 1)
        kept
      }.toSet
      assert(incr == full, s"$incr vs $full")
      // the fold fired and the live table is a pointer-resolved generation
      assert(java.nio.file.Paths
        .get(Store.resolveDataDir(dir, "urls"))
        .getFileName.toString.startsWith("urls.g"))
      // a post-fold batch repeating only claimed spellings keeps nothing
      val replayed = Dedup.dedupUrlsAgainstIndex(
        Seq((8L, "https://example.com/a"), (9L, "https://example.com/c/"))
          .toDF("doc_id", "url"), "url", "doc_id", dir)
      assert(replayed.isEmpty)
    }
  }

  test("pixel operators reduce RGB to BT.601 luma, not the red channel (mixed-RGB fixture)") {
    import Multimodal.ImageIoDecoder
    // a 4×2 RGB PNG whose channels disagree hard: the red channel alone
    // would average 255·(even pixels)/n while true luma is per-formula
    def rgb(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos), "no png writer")
      bos.toByteArray
    }
    def luma(r: Int, g: Int, b: Int): Int =
      ((299L * r + 587L * g + 114L * b + 500L) / 1000L).toInt
    val px = (x: Int, y: Int) =>
      if ((x + y) % 2 == 0) (255, 0, 0) else (0, 200, 40)
    val bytes = rgb(4, 2)(px)
    val expMean = (for (x <- 0 until 4; y <- 0 until 2) yield {
      val (r, g, b) = px(x, y); luma(r, g, b).toDouble
    }).sum / 8
    val got = ImageIoDecoder.pixelStats(bytes).get
    assert(got == ((4, 2, expMean)), s"$got vs (4,2,$expMean)")
    // the red-channel reading would have been wrong by construction
    val redMean = (for (x <- 0 until 4; y <- 0 until 2)
      yield px(x, y)._1.toDouble).sum / 8
    assert(expMean != redMean, "fixture must separate luma from band-0")
    // downsample honors the same convention: one 2×2 block = floor of
    // the block's luma mean, re-encoded grayscale and decoded back
    import spark.implicits._
    val frame = Seq((1L, bytes)).toDF("doc_id", "payload")
    val down = Multimodal.downsamplePayload(frame, "doc_id", factor = 2)
      .collect().head
    assert((down.getInt(2), down.getInt(3)) == ((2, 1)))
    val outPng = down.getAs[Array[Byte]](1)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(outPng))
    val blockMean = (x0: Int) => (for (dx <- 0 to 1; dy <- 0 to 1) yield {
      val (r, g, b) = px(x0 * 2 + dx, dy); luma(r, g, b).toLong
    }).sum / 4
    assert(img.getRaster.getSample(0, 0, 0) == blockMean(0).toInt)
    assert(img.getRaster.getSample(1, 0, 0) == blockMean(1).toInt)
  }

  test("ImageHeaderDecoder parses MP4 (ISO-BMFF) headers: dims, frame count, prefix tolerance") {
    import Multimodal.ImageHeaderDecoder
    // Build a REAL minimal MP4 by the ISO/IEC 14496-12 box layout —
    // faststart ordering (moov before mdat), an audio trak FIRST (zero
    // tkhd dims, must be skipped), then the video trak with 16.16-fixed
    // 640×360 dims and an stsz sample count of 120.
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, content: Array[Byte]*): Array[Byte] = {
      val body = content.flatten.toArray
      be32(8 + body.length) ++ tpe.getBytes("ISO-8859-1") ++ body
    }
    def tkhd(w: Int, h: Int): Array[Byte] =
      box("tkhd", Array.fill[Byte](4)(0), // version 0 + flags
        Array.fill[Byte](72)(0),          // v0 fixed fields through matrix
        be32(w << 16), be32(h << 16))     // 16.16 fixed dims
    def stszBox(n: Int): Array[Byte] =
      box("stsz", Array.fill[Byte](4)(0), be32(0), be32(n))
    val audioTrak = box("trak", tkhd(0, 0))
    // stsd: version+flags(4), entry_count(4), then one avc1 sample entry
    // (its own size(4) + fourcc(4) header suffices for codec extraction)
    def stsdBox(fourcc: String): Array[Byte] =
      box("stsd", Array.fill[Byte](4)(0), be32(1),
        box(fourcc, Array.fill[Byte](8)(0)))
    val videoTrak = box("trak", tkhd(640, 360),
      box("mdia", box("minf", box("stbl", stsdBox("avc1"), stszBox(120)))))
    val mvhd = box("mvhd", Array.fill[Byte](4)(0), be32(0), be32(0),
      be32(1000), be32(42000)) // timescale 1000, duration 42 s
    val moov = box("moov", mvhd, audioTrak, videoTrak)
    val ftyp = box("ftyp", "isom".getBytes, be32(512), "isomiso2".getBytes)
    val mdat = box("mdat", Array.fill[Byte](256)(7))
    val mp4 = ftyp ++ moov ++ mdat
    assert(ImageHeaderDecoder.decode(mp4) == ((640, 360, 120)))
    // stsd sample-entry fourcc: the codec identity, from the same walk
    assert(ImageHeaderDecoder.videoCodec(mp4) == Some("avc1"))
    // the first-N-bytes ingest shape: moov complete, mdat truncated
    val prefix = mp4.take(ftyp.length + moov.length + 12)
    assert(ImageHeaderDecoder.decode(prefix) == ((640, 360, 120)))
    assert(ImageHeaderDecoder.videoCodec(prefix) == Some("avc1"))
    // a prefix cut INSIDE moov cannot resolve a video track → fallback
    val torn = mp4.take(ftyp.length + 20)
    assert(ImageHeaderDecoder.decode(torn) == Multimodal.fakeDecode(torn))
    assert(ImageHeaderDecoder.videoCodec(torn).isEmpty)
    // audio-only container (no nonzero-dim trak) → fallback, no throw
    val audioOnly = ftyp ++ box("moov", mvhd, audioTrak)
    assert(ImageHeaderDecoder.decode(audioOnly) ==
      Multimodal.fakeDecode(audioOnly))
    assert(ImageHeaderDecoder.videoCodec(audioOnly).isEmpty)
    // non-MP4 payloads: None, no throw
    assert(ImageHeaderDecoder.videoCodec("not a video".getBytes).isEmpty)
  }

  test("frame sampling keeps every stride-th frame") {
    val decoded = Multimodal.decodeFeaturesColumnar(
      Multimodal.attachPayload(docs, "text", "image/fake"), "doc_id")
    val sampled = Multimodal.sampleFrames(decoded, "doc_id", stride = 4)
    val perDoc = sampled.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .join(decoded, "doc_id")
      .filter(col("n") =!= (floor((col("n_frames") - 1) / 4) + 1))
    assert(perDoc.count() == 0)
  }

  // ---- sources ----

  test("CSV all-Float32 default and explicit-schema mismatch error") {
    import graft.sources.Sources
    withTempDir("graft_csv_spec") { tmp =>
      docs.select("doc_id", "n_chars").limit(10)
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val df = Sources.csv(spark, tmp)
      assert(df.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.FloatType))
      assert(df.count() == 10)
      intercept[IllegalArgumentException] {
        Sources.csv(spark, tmp, Some(Seq(org.apache.spark.sql.types.FloatType)))
      }
      intercept[IllegalArgumentException] {
        Sources.open(spark, "whatever.xyz")
      }
    }
  }

  test("writeArrow overwrites stale part files from a wider prior run") {
    import graft.sources.ArrowInterchange
    withTempDir("graft_arrow_ow") { tmp =>
      val wide = docs.select("doc_id").limit(40).repartition(4)
      ArrowInterchange.writeArrow(wide, tmp)
      val narrow = docs.select("doc_id").limit(7).repartition(1)
      ArrowInterchange.writeArrow(narrow, tmp)
      val back = ArrowInterchange.readArrow(spark, tmp, narrow.schema)
      // without the overwrite fix, parts 1..3 of the first run would survive
      // and inflate the read to up to 37 rows
      assert(back.count() == 7)
    }
  }

  test("readArrow streams a multi-batch file lazily (roundtrip + early stop)") {
    import graft.sources.ArrowInterchange
    withTempDir("graft_arrow_mb") { tmp =>
      // batchSize=8 over 100 single-partition rows → 13 record batches in
      // one file; the reader must roundtrip them through the lazy iterator
      val src = docs.select("doc_id", "n_chars").orderBy("doc_id").limit(100)
        .repartition(1)
      ArrowInterchange.writeArrow(src, tmp, batchSize = 8)
      val back = ArrowInterchange.readArrow(spark, tmp, src.schema)
      assert(back.count() == 100)
      assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
      // early termination: a LIMIT kills the task mid-file — the completion
      // listener must close the reader without error
      assert(back.limit(3).collect().length == 3)
    }
  }

  test("arrow handoff: capsule round-trip preserves data across multiple batches") {
    import graft.sources.ArrowHandoff
    val prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try {
      // mixed-type projection over several partitions, forced into many
      // small record batches so the per-batch root reuse is exercised
      val src = docs.select(col("doc_id"), col("n_chars"),
          col("lang"), (col("n_chars") > 500).as("long_doc"))
        .limit(200).repartition(3)
      val back = ArrowHandoff.roundTrip(spark, src)
      assert(back.schema == src.schema)
      assert(back.count() == 200)
      assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
    } finally spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
  }

  test("arrow handoff: consumer sees Arrow buffers directly (per-batch aggregation)") {
    import graft.sources.ArrowHandoff
    // an Arrow-native consumer computing straight off the column buffers —
    // no Spark Rows exist inside the consumer
    val src = docs.select(col("n_chars").cast("long").as("n")).repartition(2)
    val partials = ArrowHandoff.handoff(src) { root =>
      val v = root.getVector(0).asInstanceOf[org.apache.arrow.vector.BigIntVector]
      var s = 0L
      (0 until root.getRowCount).foreach(i => if (!v.isNull(i)) s += v.get(i))
      Iterator.single(s)
    }.collect().sum
    val expected = docs.agg(sum(col("n_chars").cast("long"))).collect()(0).getLong(0)
    assert(partials == expected)
  }

  test("arrow zero-copy move semantics: TransferPair hands buffers over without copying") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.Float4Vector
    // the JVM analog of the reference's capsule export (arrow_utils.cpp:
    // 37-94): ownership of the SAME memory moves producer → consumer
    val allocator = new RootAllocator(Long.MaxValue)
    val producer = new Float4Vector("result", allocator)
    try {
      producer.allocateNew(1024)
      (0 until 1024).foreach(i => producer.setSafe(i, i * 0.5f))
      producer.setValueCount(1024)
      val addrBefore = producer.getDataBuffer.memoryAddress()
      val tp = producer.getTransferPair(allocator)
      tp.transfer() // move, not copy
      val consumer = tp.getTo.asInstanceOf[Float4Vector]
      try {
        assert(consumer.getDataBuffer.memoryAddress() == addrBefore)
        assert(consumer.getValueCount == 1024 && consumer.get(7) == 3.5f)
        assert(producer.getValueCount == 0) // producer relinquished ownership
      } finally consumer.close()
    } finally { producer.close(); allocator.close() }
  }

  test("star-contraction CC equals label propagation; converges on deep chains where label cannot") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 150
    val nodes = (0L until n.toLong).toDF("id")
    val edges = Seq.fill(200)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    // localBound = 0: the Spark fixpoints, not the driver's union-find
    val viaLabel = Dedup.connectedComponents(nodes, edges, "id", "a", "b",
      maxIter = 50, localBound = 0)
    val viaStar = Dedup.connectedComponents(nodes, edges, "id", "a", "b",
      maxIter = 50, algorithm = "star", localBound = 0)
    assert(viaStar.exceptAll(viaLabel).count() == 0 &&
      viaLabel.exceptAll(viaStar).count() == 0)
    // 60-node chain, diameter 59: label propagation needs ~59 rounds and
    // must throw at maxIter=10; star contraction converges in O(log n)
    val chainN = (1L to 60L).toDF("id")
    val chainE = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chainN, chainE, "id", "a", "b", maxIter = 10,
        localBound = 0)
    }
    val star = Dedup.connectedComponents(chainN, chainE, "id", "a", "b",
      maxIter = 10, algorithm = "star", localBound = 0)
    assert(star.filter(col("component") === 1L).count() == 60)
    // on the driver maxIter bounds nothing: the chain is one component
    val local = Dedup.connectedComponents(chainN, chainE, "id", "a", "b",
      maxIter = 10)
    assert(local.filter(col("component") === 1L).count() == 60)
  }

  test("connected components on the driver equal the Spark fixpoints: negative, Long.MinValue and String ids; fallback over the bound") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val ids = Seq(Long.MinValue, Long.MinValue + 1, -7L, -1L, 0L, 3L,
      Long.MaxValue) ++ Seq.fill(40)(rnd.nextInt(200).toLong - 100)
    val edges = Seq.fill(50)((ids(rnd.nextInt(ids.size)),
      ids(rnd.nextInt(ids.size)))).toDF("a", "b")
    val nodes = (ids :+ 1000L).distinct.toDF("id")
    def cc(n: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame,
           bound: Int, algorithm: String = "label") = {
      val (df, stats) = Dedup.connectedComponentsWithStats(n, e, "id", "a",
        "b", algorithm = algorithm, localBound = bound)
      (df.collect().map(r => r.get(0) -> r.get(1)).toMap,
        df.schema.map(f => f.name -> f.dataType), stats)
    }
    val (local, localSchema, localStats) = cc(nodes, edges, LocalRowBound)
    assert(localStats == Dedup.CcStats("local", 0, Nil))
    for (algorithm <- Seq("label", "star")) {
      val (dist, distSchema, stats) = cc(nodes, edges, 0, algorithm)
      assert(stats.algorithm == algorithm && dist == local &&
        distSchema == localSchema, (algorithm, distSchema, localSchema))
    }
    assert(local(1000L) == 1000L && local(Long.MinValue) == Long.MinValue)
    // Int ids keep their type on the driver path
    val (intLocal, intSchema, _) = cc(Seq(5, -3, 9, 11).toDF("id"),
      Seq((9, -3), (5, 9)).toDF("a", "b"), LocalRowBound)
    assert(intLocal == Map(5 -> -3, -3 -> -3, 9 -> -3, 11 -> 11) &&
      intSchema == cc(Seq(5, -3, 9, 11).toDF("id"),
        Seq((9, -3), (5, 9)).toDF("a", "b"), 0)._2, intSchema)
    // String ids take the Spark rounds and agree with them
    val (strOut, _, strStats) = cc(Seq("b", "a", "c", "d").toDF("id"),
      Seq(("b", "c"), ("c", "a")).toDF("a", "b"), LocalRowBound)
    assert(strStats.algorithm == "label" &&
      strOut == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
    // 4 edges: bound 3 falls back to label propagation, bound 4 does not
    val four = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 3L)).toDF("a", "b")
    val six = (1L to 7L).toDF("id")
    assert(cc(six, four, 3)._3.algorithm == "label" &&
      cc(six, four, 4)._3.algorithm == "local" &&
      cc(six, four, 3)._1 == cc(six, four, 4)._1)
    // both paths refuse orphan endpoints with the same message, and null
    // endpoints take the Spark path's refusal
    val orphan = Seq((1L, 99L)).toDF("a", "b")
    val msgs = Seq(LocalRowBound, 0).map { b =>
      intercept[IllegalArgumentException](cc(six, orphan, b)).getMessage }
    assert(msgs.distinct.size == 1 && msgs.head.contains("1 edge endpoint"),
      msgs)
    val withNull = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
    intercept[IllegalArgumentException](cc(six, withNull, LocalRowBound))
    graft.operators.CacheScope.global.release()
  }

  test("tfidf top terms: k per doc, corpus-wide terms score zero, maxDf prunes them") {
    import graft.operators.TfIdf
    import spark.implicits._
    val corpus = Seq(
      (1L, "shared shared apple apple apple"),
      (2L, "shared banana banana"),
      (3L, "shared cherry")).toDF("doc_id", "text")
    val out = TfIdf.topTerms(corpus, "text", "doc_id", k = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // ≤ k rows per doc
    assert(rows.groupBy(_._1).values.forall(_.length <= 2))
    // 'shared' appears in every doc → idf = ln(3/3) = 0 exactly
    assert(rows.filter(_._2 == "shared").forall(_._3 == 0.0))
    // the distinctive term dominates: apple = 3·ln(3) for doc 1
    val apple = rows.find(r => r._1 == 1L && r._2 == "apple").get._3
    assert(math.abs(apple - 3 * math.log(3.0)) < 1e-12)
    // maxDf=2 drops the corpus-wide term entirely
    val pruned = TfIdf.topTerms(corpus, "text", "doc_id", k = 2, maxDf = 2L)
    assert(pruned.filter(col("term") === "shared").count() == 0)
    // WindowGroupLimit partial top-k appears in the plan (the q23 shape)
    assert(out.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("connected components: chains merge transitively, singletons keep their id") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain — NOT a clique, so one-hop greedy would
    // mislabel), {10,11}, {20} isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(nodes, edges, "id", "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // non-convergence within the bound must throw, not return partial labels
    val longChain = (1L to 12L).toDF("id")
    val chainEdges = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(longChain, chainEdges, "id", "a", "b",
        maxIter = 2, localBound = 0)
    }
    // and the same graph converges with an adequate bound
    val ok = Dedup.connectedComponents(longChain, chainEdges, "id", "a", "b")
    assert(ok.filter(col("component") === 1L).count() == 12)
  }

  test("asof join matches the brute-force max-prior-ts formulation (incl. ties and no-match rows)") {
    import graft.operators.AsOf
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts").limit(400)
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("pv"))
    val asof = AsOf.join(clicks, purch, "user_id", "ts", Seq("pv"))
    // brute force: all prior pairs → arg-max ts per click → fetch value
    val pairs = clicks.join(purch.withColumnRenamed("ts", "p_ts"), "user_id")
      .filter(col("p_ts") <= col("ts"))
    val best = pairs.groupBy("event_id").agg(max("p_ts").as("p_ts"))
    val brute = clicks.join(best, Seq("event_id"), "left")
      .join(purch.withColumnRenamed("ts", "p_ts"), Seq("user_id", "p_ts"), "left")
      .select(col("event_id"), col("user_id"), col("ts"), col("pv"))
    assert(asof.exceptAll(brute).count() == 0 && brute.exceptAll(asof).count() == 0)
    // left semantics: every click survives, matched or not
    assert(asof.count() == clicks.count())
    // and at this data there are both matched and unmatched clicks
    assert(asof.filter(col("pv").isNull).count() > 0)
    assert(asof.filter(col("pv").isNotNull).count() > 0)
  }

  test("dedupCorpus transitive keep collapses multi-local-min components greedy leaves split") {
    import spark.implicits._
    // near-dup graph 1–10–2: doc 10 overlaps both 1 and 2, but 1 and 2 share
    // nothing. Greedy drops only pair b-sides (10), keeping BOTH local
    // minima 1 and 2; transitive keeps exactly the component min (1).
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi"),
      (10L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi"),
      (30L, "totally unrelated content standing alone")
    ).toDF("doc_id", "text")
    def keeps(transitive: Boolean) =
      Dedup.dedupCorpus(corpus, "text", "doc_id", threshold = 0.4,
          shingleSize = 1, transitive = transitive)
        .filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet
    assert(keeps(transitive = false) == Set(1L, 2L, 30L))
    assert(keeps(transitive = true) == Set(1L, 30L))
  }

  test("bounded asof: matches older than maxAge expire to null") {
    import graft.operators.AsOf
    import spark.implicits._
    val left = Seq((1L, 100L, "fresh"), (1L, 200L, "stale"), (2L, 100L, "never"))
      .toDF("k", "ts", "ev")
    val right = Seq((1L, 95L, 7.0)).toDF("k", "ts", "v")
    val out = AsOf.joinWithin(left, right, Seq("k"), "ts", Seq("v"), maxAge = 50L)
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    // age 5 ≤ 50 → kept; age 105 > 50 → expired; no history → null
    assert(out == Map("fresh" -> Some(7.0), "stale" -> None, "never" -> None))
    // boundary: age exactly maxAge is still fresh
    val edge = AsOf.joinWithin(
      Seq((1L, 145L, "edge")).toDF("k", "ts", "ev"), right,
      Seq("k"), "ts", Seq("v"), maxAge = 50L)
      .collect().map(r => Option(r.get(3))).head
    assert(edge.contains(7.0))
  }

  test("asof join NULL keys: match nothing, like SQL equality (and the DuckDB oracle)") {
    import graft.operators.AsOf
    import spark.implicits._
    // window partitioning groups NULLs together, so without the right-side
    // null-key filter the NULL-keyed right payload would leak into the
    // NULL-keyed left row — SQL equality (and DuckDB ASOF JOIN) never
    // matches NULL keys
    val left = Seq(
      (Option(1L), 10L, "keyed"), (Option.empty[Long], 10L, "nullkey"))
      .toDF("k", "ts", "ev")
    val right = Seq(
      (Option(1L), 5L, 1.0), (Option.empty[Long], 5L, 99.0))
      .toDF("k", "ts", "v")
    val out = AsOf.join(left, right, Seq("k"), "ts", Seq("v"))
      .collect().map(r => r.getString(2) -> Option(r.get(3))).toMap
    assert(out == Map("keyed" -> Some(1.0), "nullkey" -> None))
    // composite key: ANY null component disqualifies the right row
    val out2 = AsOf.join(
      Seq((Option(1L), "x", 10L, "e")).toDF("k1", "k2", "ts", "ev"),
      Seq((Option(1L), null.asInstanceOf[String], 5L, 7.0),
        (Option.empty[Long], "x", 5L, 8.0)).toDF("k1", "k2", "ts", "v"),
      Seq("k1", "k2"), "ts", Seq("v"))
      .collect().map(r => Option(r.get(4))).head
    assert(out2.isEmpty)
  }

  test("asof join composite key: both key columns must match") {
    import graft.operators.AsOf
    import spark.implicits._
    val left = Seq((1L, "x", 10L, "e1"), (1L, "y", 10L, "e2"), (2L, "x", 10L, "e3"))
      .toDF("k1", "k2", "ts", "ev")
    val right = Seq((1L, "x", 5L, 1.0), (1L, "y", 7L, 2.0), (1L, "x", 20L, 9.0))
      .toDF("k1", "k2", "ts", "v")
    val out = AsOf.join(left, right, Seq("k1", "k2"), "ts", Seq("v"))
      .collect().map(r => r.getString(3) -> Option(r.get(4))).toMap
    // e1 matches (1,x,5); e2 matches (1,y,7); e3 has no (2,x) history at all
    assert(out == Map("e1" -> Some(1.0), "e2" -> Some(2.0), "e3" -> None))
    // a payload name colliding with a left column would yield an ambiguous
    // duplicate — rejected up front
    intercept[IllegalArgumentException] {
      AsOf.join(left.withColumnRenamed("ev", "v"), right, Seq("k1"), "ts", Seq("v"))
    }
  }

  // ---- skew ----

  test("salted aggregation equals direct groupBy") {
    import graft.operators.Skew
    val li = Tables.load(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    val direct = li.groupBy("l_suppkey")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("c"),
        min("l_quantity").as("mn"), max("l_quantity").as("mx"))
    val salted = Skew.saltedAgg(li, Seq("l_suppkey"), saltFactor = 8,
      aggs = Seq(("s", col("l_quantity"), Skew.SUM),
        ("c", col("l_quantity"), Skew.COUNT),
        ("mn", col("l_quantity"), Skew.MIN),
        ("mx", col("l_quantity"), Skew.MAX)))
    assert(direct.exceptAll(salted).count() == 0 &&
      salted.exceptAll(direct).count() == 0)
  }

  test("salted join equals plain join") {
    import graft.operators.Skew
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_suppkey", "l_extendedprice")
    val sup = Tables.load(spark, sf, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    val direct = li.join(sup, "l_suppkey")
    val salted = Skew.saltedJoin(li, sup, Seq("l_suppkey"), saltFactor = 8)
      .select(direct.columns.map(col).toSeq: _*)
    assert(direct.exceptAll(salted).count() == 0 &&
      salted.exceptAll(direct).count() == 0)
  }

  // ---- interval join ----

  test("pointInInterval equals the theta join; malformed intervals drop; multi-bucket spans work") {
    import graft.operators.IntervalJoin
    import spark.implicits._
    // buckets of width 10; intervals spanning 1–4 buckets, boundary points,
    // a malformed (end < start) interval, and a key with no intervals
    val pts = Seq((1L, 0L, "p0"), (1L, 9L, "p9"), (1L, 10L, "p10"),
      (1L, 35L, "p35"), (2L, 5L, "q5"), (3L, 7L, "r7"))
      .toDF("k", "t", "pid")
    val ivs = Seq((1L, 0L, 9L, "i0"), (1L, 5L, 35L, "i1"),
      (1L, 36L, 12L, "bad"), (2L, 5L, 5L, "i2"))
      .toDF("k", "s", "e", "iid")
    val got = IntervalJoin.pointInInterval(pts, ivs, Seq("k"), "t", "s", "e",
        bucketWidth = 10L)
      .select("pid", "iid").as[(String, String)].collect().toSet
    val want = Set(("p0", "i0"), ("p9", "i0"), ("p9", "i1"), ("p10", "i1"),
      ("p35", "i1"), ("q5", "i2"))
    assert(got == want)
    // against the theta join on real data (the q43 shape, small slice)
    val ev0 = Tables.load(spark, sf, "events")
    val ev = ev0.withColumn("ts", Tables.tsNanos(ev0))
      .filter(col("user_id") < 200)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id"), col("ts"))
    val wNanos = 1800L * 1000000000L
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid2"), col("user_id").as("u2"),
        (col("ts") - lit(wNanos)).as("ws"), col("ts").as("we"))
    val theta = clicks.join(purch,
        col("user_id") === col("u2") &&
          col("ts") >= col("ws") && col("ts") <= col("we"))
      .select("cid", "pid2")
    val bucketed = IntervalJoin.pointInInterval(clicks,
        purch.withColumnRenamed("u2", "user_id"), Seq("user_id"), "ts",
        "ws", "we", bucketWidth = wNanos)
      .select("cid", "pid2")
    assert(theta.exceptAll(bucketed).count() == 0 &&
      bucketed.exceptAll(theta).count() == 0)
  }

  // ---- grouped running total / mix budget ----

  test("groupRunningTotal equals the per-group window cumsum; null carry across partitions") {
    import graft.operators.GlobalOrder
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val withN = docs.select(col("doc_id"), col("source"), col("n_chars"),
      TF.tokenCount(col("text")).cast("long").as("n"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = withN.withColumn("cum", sum("n").over(w))
    val viaTwoPhase = GlobalOrder.groupRunningTotal(withN, "source",
      Seq(col("n_chars").desc, col("doc_id")), "n")
      .select(viaWindow.columns.map(col).toSeq: _*)
    assert(viaWindow.exceptAll(viaTwoPhase).count() == 0 &&
      viaTwoPhase.exceptAll(viaWindow).count() == 0)
    // nulls count 0 and CARRY the prefix (the 6-row frame spreads over
    // 32 range partitions, so the all-null middle row sits alone in a
    // partition — the reset bug this pins would zero the rows after it)
    val tiny = Seq(("g", 1L, Option(10L)), ("g", 2L, Option.empty[Long]),
      ("g", 3L, Option(5L)), ("h", 1L, Option(7L)))
      .toDF("grp", "ord", "v")
    val cums = GlobalOrder.groupRunningTotal(tiny, "grp", Seq(col("ord")), "v")
      .select("grp", "ord", "cum").as[(String, Long, Long)]
      .collect().toSet
    assert(cums == Set(("g", 1L, 10L), ("g", 2L, 10L), ("g", 3L, 15L),
      ("h", 1L, 7L)))
  }

  // ---- top-k aggregate ----

  test("topKByValue aggregate equals the window top-N; ties, small groups, nulls") {
    import graft.functions.TopKAgg
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val orders = Tables.load(spark, sf, "orders")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders.select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"), row_number().over(w).as("rank"))
      .filter(col("rank") <= 3)
    val viaAgg = orders.groupBy("o_custkey")
      .agg(TopKAgg.topKByValue(col("o_totalprice"), col("o_orderkey"), 3)
        .as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("o_orderkey"), col("col.value").as("o_totalprice"))
      .select(viaWindow.columns.map(col).toSeq: _*)
    assert(viaWindow.exceptAll(viaAgg).count() == 0 &&
      viaAgg.exceptAll(viaWindow).count() == 0)
    // hand-checked edges: ties break to smaller id, groups under k emit
    // what they have, null value/id rows are ignored
    val tiny = Seq(("g1", 5.0, 10L), ("g1", 5.0, 9L), ("g1", 7.0, 20L),
      ("g2", 1.0, 1L)).toDF("g", "v", "id")
      .unionByName(Seq(("g2", Option.empty[Double], Option(2L)),
        ("g2", Option(3.0), Option.empty[Long]))
        .toDF("g", "v", "id"))
    val got = tiny.groupBy("g")
      .agg(TopKAgg.topKByValue(col("v"), col("id"), 2).as("top"))
      .select(col("g"), col("top"))
      .as[(String, Seq[(Long, Double)])].collect().toMap
    assert(got("g1") == Seq((20L, 7.0), (9L, 5.0))) // tie 5.0: id 9 beats 10
    assert(got("g2") == Seq((1L, 1.0)))             // nulls ignored
  }

  // ---- z-order clustering ----

  test("zorder: known morton codes, clamping, disjoint partition ranges after cluster") {
    import graft.operators.ZOrder
    import spark.implicits._
    // interleave2(5=0b101, 3=0b011, 3 bits): even bits from x, odd from y
    // → 0b011011 = 27
    val codes = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.interleave2(col("x"), col("y"), 3).as("z"))
      .as[Long].collect()
    assert(codes.toSeq == Seq(27L))
    // quantize: linear buckets, out-of-bounds clamps to edge buckets
    val q = Seq(-5.0, 0.0, 99.9, 100.0, 250.0, 999.0, 2000.0)
      .toDF("v")
      .select(ZOrder.quantize(col("v"), 0.0, 1000.0, 2).as("b"))
      .as[Long].collect().toSeq
    assert(q == Seq(0L, 0L, 0L, 0L, 1L, 3L, 3L))
    // cluster: files tile the curve — per-partition z ranges are disjoint
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
    val clustered = ZOrder.cluster(orders,
      (col("o_totalprice"), 0.0, 500000.0),
      (unix_micros(col("o_orderdate").cast("timestamp")).cast("double"),
        788918400000000.0, 1009843200000000.0),
      bits = 8, numFiles = 8)
    val ranges = clustered.select("zkey").as[Long]
      .mapPartitions(it => if (it.isEmpty) Iterator.empty
        else { val s = it.toSeq; Iterator.single((s.min, s.max)) })
      .collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo,
        s"partition z ranges overlap: $hi > $lo")
      case _ => ()
    }
    // row content untouched by the exchange
    assert(clustered.drop("zkey").exceptAll(orders).count() == 0 &&
      orders.exceptAll(clustered.drop("zkey")).count() == 0)
  }

  // ---- naive bayes classifier ----

  test("naive bayes: hand-computed scores on a tiny corpus; save/load roundtrip; OOV total") {
    import graft.operators.NaiveBayes
    import spark.implicits._
    val train = Seq((1L, "a", "x x"), (2L, "a", "x y"), (3L, "b", "y y"))
      .toDF("doc_id", "lab", "text")
    val m = NaiveBayes.train(train, "text", "lab")
    assert(m.vocabSize == 2)
    // doc "x": P(a) = ln(2/3) + ln((3+1)/(4+2)); P(b) = ln(1/3) + ln((0+1)/(2+2))
    val scoreA = math.log(2.0 / 3) + math.log(4.0 / 6)
    val scoreB = math.log(1.0 / 3) + math.log(1.0 / 4)
    assert(scoreA > scoreB)
    val got = NaiveBayes.classify(Seq((10L, "x")).toDF("doc_id", "text"),
        "text", "doc_id", m)
      .as[(Long, String, Double)].collect().toSeq
    assert(got.map(g => (g._1, g._2)) == Seq((10L, "a")))
    assert(math.abs(got.head._3 -
      BigDecimal(scoreA).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
    // OOV token: totally unseen word still scores every class (smoothing
    // floor), never NaN/null — doc "z z" gets 2·ln(alpha/(n_tok+alpha·V))
    val oov = NaiveBayes.classify(Seq((11L, "z z")).toDF("doc_id", "text"),
        "text", "doc_id", m)
      .as[(Long, String, Double)].collect().head
    val oovB = math.log(1.0 / 3) + 2 * math.log(1.0 / 4)
    assert(oov._2 == "b" && !oov._3.isNaN) // b: fewer seen tokens → higher floor
    assert(math.abs(oov._3 -
      BigDecimal(oovB).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
    // persistence: save → load → identical classifications; foreign dir fails
    withTempDir("graft_nb_") { dir =>
      NaiveBayes.save(m, s"$dir/model")
      val m2 = NaiveBayes.load(spark, s"$dir/model")
      assert(m2.vocabSize == m.vocabSize)
      val before = NaiveBayes.classify(docs, "text", "doc_id", m)
      val after = NaiveBayes.classify(docs, "text", "doc_id", m2)
      assert(before.exceptAll(after).count() == 0 &&
        after.exceptAll(before).count() == 0)
    }
  }

  // ---- streaming ----

  test("stateful sessionization equals batch window sessionization") {
    val stateful = graft.streaming.Streaming
      .sessionizeStateful(spark, sf, "spec_sess")
      .select("user_id", "n_sessions", "n_events")
    val batch = SparkEntry.queries("st5_sessionize")(spark, sf)
      .select("user_id", "n_sessions", "n_events")
    assert(batch.exceptAll(stateful).count() == 0 &&
      stateful.exceptAll(batch).count() == 0)
  }

  test("stateless streaming filter equals batch filter") {
    val streamed = graft.streaming.Streaming.statelessFilter(spark, sf, "spec_st")
    val batch = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase" && col("value") > 50)
    assert(streamed.count() == batch.count())
  }

  // ---- language-model scoring ----

  test("unigram LM logprob matches the hand-computed distribution on a tiny corpus") {
    import spark.implicits._
    val tiny = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = graft.operators.LanguageModel
      .unigramLogProb(tiny, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus counts: x=2, y=2, z=1, N=5
    val (na, la) = out(1L)
    val (nb, lb) = out(2L)
    assert(na == 3 && nb == 2)
    assert(math.abs(la - math.log(2.0 / 5.0)) < 1e-12)
    assert(math.abs(lb - (math.log(2.0 / 5.0) + math.log(1.0 / 5.0)) / 2.0) < 1e-12)
  }

  test("bigram LM logprob matches hand-computed conditional probabilities") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a c"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val out = graft.operators.LanguageModel.bigramLogProb(tiny, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // bigram counts: "a b"=2, "b a"=1, "a c"=1; contexts: a·=3, b·=1
    assert(!out.contains(3L)) // single-token doc has no bigrams
    val (n1, l1) = out(1L)
    val (n2, l2) = out(2L)
    assert(n1 == 3 && n2 == 1)
    assert(math.abs(l1 - (math.log(2.0 / 3.0) + math.log(1.0 / 3.0)) / 3.0) < 1e-12)
    assert(math.abs(l2 - math.log(2.0 / 3.0)) < 1e-12)
  }

  test("LM logprob on the corpus: scores negative, token counts line up with t1") {
    val out = graft.operators.LanguageModel.unigramLogProb(docs, "text", "doc_id")
    val t1 = docs.select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("n"))
    val joined = out.join(t1, "doc_id").cache()
    try {
      assert(joined.count() == docs.count())
      // every token has corpus count < N, so ln(c/N) < 0 for every token
      assert(joined.filter(col("lm_logprob") >= 0).count() == 0)
      // lowercasing does not change whitespace tokenization
      assert(joined.filter(col("n_tokens") =!= col("n")).count() == 0)
    } finally joined.unpersist()
  }

  test("scoreWith: OOV floor smoothing and empty-corpus guard") {
    import spark.implicits._
    import graft.operators.LanguageModel
    val train = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val (vocab, n) = LanguageModel.trainUnigram(train, "text")
    assert(n == 5.0) // x=2, y=2, z=1
    // foreign doc: one in-vocab token, one OOV token
    val foreign = Seq((9L, "x qqq")).toDF("doc_id", "text")
    // default (inner join): OOV token drops from numerator AND denominator
    val strict = LanguageModel.scoreWith(foreign, "text", "doc_id", vocab, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(strict.head == ((9L, 1L, math.log(2.0 / 5.0))))
    // oovFloor: left join, missing count -> 0.5, denominator counts both
    val smoothed = LanguageModel.scoreWith(foreign, "text", "doc_id", vocab, n,
        oovFloor = Some(0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (math.log(2.0 / 5.0) + math.log(0.5 / 5.0)) / 2.0
    assert(smoothed.head._1 == 9L && smoothed.head._2 == 2L)
    assert(math.abs(smoothed.head._3 - expected) < 1e-12)
    // empty corpus: empty result frames, no NPE (sum over zero rows is NULL)
    val empty = train.filter(col("doc_id") < 0)
    val (ev, en) = LanguageModel.trainUnigram(empty, "text")
    assert(ev.count() == 0 && en == 0.0)
    assert(LanguageModel.unigramLogProb(empty, "text", "doc_id").count() == 0)
  }

  // ---- semantic dedup ----

  test("semantic dedup equals brute-force near-dup restricted to intra-cluster pairs") {
    val th = 0.3
    val clusters = emb.select(col("vec_id"),
      Dedup.signBitCluster(col("embedding"), 3).as("cluster"))
    val brute = Dedup
      .embeddingNearDup(emb, "embedding", "vec_id", th, bruteForce = true)
      .select("a_id", "b_id").cache()
    val expected = brute
      .join(clusters.withColumnRenamed("vec_id", "a_id"), "a_id")
      .join(clusters.withColumnRenamed("vec_id", "b_id")
        .withColumnRenamed("cluster", "cluster_b"), "b_id")
      .filter(col("cluster") === col("cluster_b"))
      .select("a_id", "b_id")
    val got = Dedup.semanticDedup(emb, "embedding", "vec_id", th,
      Dedup.signBitCluster(_, 3)).select("a_id", "b_id")
    try {
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0)
      // never more than the global answer (cross-cluster pairs are skipped)
      assert(got.count() <= brute.count())
    } finally brute.unpersist()
  }

  test("semantic dedup over k-means cells: subset of brute force; intra-cluster exact") {
    val th = 0.3
    val clustered = Similarity.kmeansCells(emb, "embedding", k = 4)
    val got = Dedup
      .semanticDedupAssigned(clustered, "embedding", "vec_id", "cell", th)
      .select("a_id", "b_id").cache()
    val brute = Dedup
      .embeddingNearDup(emb, "embedding", "vec_id", th, bruteForce = true)
      .select("a_id", "b_id").cache()
    try {
      // never invents a pair the global answer lacks
      assert(got.exceptAll(brute).count() == 0)
      // equals brute force restricted to co-clustered pairs
      val cells = clustered.select(col("vec_id"), col("cell"))
      val expected = brute
        .join(cells.withColumnRenamed("vec_id", "a_id"), "a_id")
        .join(cells.withColumnRenamed("vec_id", "b_id")
          .withColumnRenamed("cell", "cell_b"), "b_id")
        .filter(col("cell") === col("cell_b"))
        .select("a_id", "b_id")
      assert(got.exceptAll(expected).count() == 0 &&
        expected.exceptAll(got).count() == 0)
    } finally { got.unpersist(); brute.unpersist() }
  }

  test("one kmeansCells pass serves BOTH ivfTopK and semanticDedupAssigned") {
    // the composition a daily pipeline wants: pay the k-means train+assign
    // ONCE, reuse the (vec_id, cell) frame as the IVF coarse partition AND
    // the SemDeDup cluster scope — both must equal the results computed
    // from their own independent clustering pass (seeded k-means is
    // deterministic, so equality is exact, not approximate)
    val th = 0.3
    val shared = Similarity.kmeansCells(emb, "embedding", k = 4).cache()
    try {
      val q = shared.filter(col("vec_id") < 5)
      val c = shared.filter(col("vec_id") >= 5)
      val annShared = Similarity.ivfTopK(q, c, "embedding", "vec_id",
        cellCol = "cell", k = 5, nprobe = 2).select("q_id", "n_id", "rank")
      val dedupShared = Dedup.semanticDedupAssigned(shared, "embedding",
        "vec_id", "cell", th).select("a_id", "b_id")
      // independent path: cluster again from scratch for each operator
      val fresh = Similarity.kmeansCells(emb, "embedding", k = 4)
      val annFresh = Similarity.ivfTopK(
        fresh.filter(col("vec_id") < 5), fresh.filter(col("vec_id") >= 5),
        "embedding", "vec_id", cellCol = "cell", k = 5, nprobe = 2)
        .select("q_id", "n_id", "rank")
      val dedupFresh = Dedup.semanticDedupAssigned(fresh, "embedding",
        "vec_id", "cell", th).select("a_id", "b_id")
      assert(annShared.exceptAll(annFresh).count() == 0 &&
        annFresh.exceptAll(annShared).count() == 0)
      assert(dedupShared.exceptAll(dedupFresh).count() == 0 &&
        dedupFresh.exceptAll(dedupShared).count() == 0)
      // and the dedup half actually found something at this threshold
      assert(dedupShared.count() > 0)
    } finally shared.unpersist()
  }

  test("semantic dedup maxClusterSize: no-op above the sizes, subset + deterministic below") {
    val th = 0.3
    val clustered = emb.select(col("vec_id"), col("embedding"),
      Dedup.signBitCluster(col("embedding"), 2).as("cl"))
    val full = Dedup
      .semanticDedupAssigned(clustered, "embedding", "vec_id", "cl", th)
      .select("a_id", "b_id").cache()
    try {
      // a cap larger than any cluster changes nothing
      val capped = Dedup.semanticDedupAssigned(clustered, "embedding",
        "vec_id", "cl", th, maxClusterSize = 1000000L)
        .select("a_id", "b_id")
      assert(full.exceptAll(capped).count() == 0 &&
        capped.exceptAll(full).count() == 0)
      // a tight cap yields a subset, and the same subset on every run
      val tight1 = Dedup.semanticDedupAssigned(clustered, "embedding",
        "vec_id", "cl", th, maxClusterSize = 5L).select("a_id", "b_id")
      val tight2 = Dedup.semanticDedupAssigned(clustered, "embedding",
        "vec_id", "cl", th, maxClusterSize = 5L).select("a_id", "b_id")
      assert(tight1.exceptAll(full).count() == 0)
      assert(tight1.exceptAll(tight2).count() == 0 &&
        tight2.exceptAll(tight1).count() == 0)
    } finally full.unpersist()
  }

  test("signBitCluster: 3 bits span [0,8); deterministic across evaluations") {
    val c = Dedup.signBitCluster(col("embedding"), 3)
    val stats = emb.select(c.as("cluster"))
      .agg(min("cluster"), max("cluster"), countDistinct("cluster")).head
    assert(stats.getInt(0) >= 0 && stats.getInt(1) <= 7)
    val again = emb.select(col("vec_id"), c.as("c1"))
      .join(emb.select(col("vec_id"), c.as("c2")), "vec_id")
      .filter(col("c1") =!= col("c2"))
    assert(again.count() == 0)
  }

  test("weighted sample: monotone in weight per row; constant weight equals sample()") {
    val s = graft.operators.Splits
    // per-row: raising every weight can only add rows (nested samples)
    val low = s.sampleByWeight(docs.select("doc_id", "n_chars"), "doc_id",
      least(col("n_chars").cast("double") / lit(800.0), lit(1.0)))
    val high = s.sampleByWeight(docs.select("doc_id", "n_chars"), "doc_id",
      least(col("n_chars").cast("double") / lit(400.0), lit(1.0)))
    assert(low.select("doc_id").exceptAll(high.select("doc_id")).count() == 0)
    // a constant weight IS the unweighted deterministic sample
    val const = s.sampleByWeight(docs.select("doc_id"), "doc_id", lit(0.1))
    val plain = s.sample(docs.select("doc_id"), "doc_id", 0.1)
    assert(const.exceptAll(plain).count() == 0 &&
      plain.exceptAll(const).count() == 0)
  }

  // ---- global order ----

  test("global shuffle order: exact permutation, stable under repartitioning") {
    val out = graft.operators.GlobalOrder.shuffleOrder(
      docs.select("doc_id"), "doc_id").cache()
    try {
      val n = docs.count()
      assert(out.count() == n)
      // positions are exactly 0..n-1, each used once
      val stats = out.agg(min("pos"), max("pos"), countDistinct("pos")).head
      assert(stats.getLong(0) == 0L && stats.getLong(1) == n - 1 &&
        stats.getLong(2) == n)
      // layout-independent: the same permutation from a different input
      // partitioning (the operator's whole point)
      val again = graft.operators.GlobalOrder.shuffleOrder(
        docs.select("doc_id").repartition(7), "doc_id")
        .withColumnRenamed("pos", "pos2")
      assert(out.join(again, "doc_id")
        .filter(col("pos") =!= col("pos2")).count() == 0)
    } finally out.unpersist()
  }

  test("runningTotal equals the single-partition window cumsum") {
    val withN = docs.select(col("doc_id"), col("n_chars"),
      TF.tokenCount(col("text")).cast("long").as("n_tokens"))
    val got = graft.operators.GlobalOrder.runningTotal(
      withN, Seq(col("n_chars").desc, col("doc_id")), "n_tokens")
    // the naive spelling is fine at test scale — that is exactly the
    // operator's claim: same numbers, scalable plan
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = withN.withColumn("cum2", sum("n_tokens").over(w))
      .select("doc_id", "cum2")
    assert(got.join(exp, "doc_id").filter(col("cum") =!= col("cum2"))
      .count() == 0)
  }

  test("GlobalOrder edge cases: empty input, zero and unlimited budgets") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id", "n")
    assert(graft.operators.GlobalOrder
      .withPosition(empty, Seq(col("id"))).count() == 0)
    assert(graft.operators.GlobalOrder
      .runningTotal(empty, Seq(col("id")), "n").count() == 0)
    val three = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "n")
    // budget below the first row keeps nothing
    assert(graft.operators.GlobalOrder
      .budgetSelect(three, Seq(col("id")), "n", budget = 9L).count() == 0)
    // budget at/above the total keeps everything
    assert(graft.operators.GlobalOrder
      .budgetSelect(three, Seq(col("id")), "n", budget = 60L).count() == 3)
    // runningTotal rejects non-long value columns loudly
    intercept[IllegalArgumentException] {
      graft.operators.GlobalOrder.runningTotal(
        three.withColumn("d", col("n").cast("double")), Seq(col("id")), "d")
    }
    // NULL values count as 0 (SQL SUM() OVER semantics), never NPE
    val withNull = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "n")
    val cums = graft.operators.GlobalOrder
      .runningTotal(withNull, Seq(col("id")), "n")
      .orderBy("id").select("cum").collect().map(_.getLong(0)).toSeq
    assert(cums == Seq(10L, 10L, 40L))
  }

  test("schema evolution: mergeSchema unions old and new part files; old rows null-fill") {
    withTempDir("graft_evolve") { dir =>
      val path = s"$dir/t"
      // v1 writer: two columns
      docs.select("doc_id", "text").limit(10)
        .write.mode("append").parquet(path)
      // v2 writer: adds a column (the normal corpus-lifecycle drift)
      docs.select("doc_id", "text", "lang")
        .filter(col("doc_id") >= 10).limit(10)
        .write.mode("append").parquet(path)
      val merged = spark.read.option("mergeSchema", "true").parquet(path)
      assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
      assert(merged.count() == 20)
      // v1 rows surface with lang = NULL — downstream gates must coalesce
      assert(merged.filter(col("lang").isNull).count() == 10)
    }
  }

  // ---- sharded export ----

  test("sharded export: pure-hash layout, pruned read-back, stable re-export") {
    withTempDir("graft_shards") { dir =>
      val path = s"$dir/corpus"
      graft.operators.Splits.writeSharded(docs, "doc_id", 8, path)
      val back = spark.read.parquet(path)
      assert(back.count() == docs.count())
      val shardDirs = new java.io.File(path).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(shardDirs.nonEmpty && shardDirs.forall(_.startsWith("shard=")))
      // membership is the pure md5 rule — recomputable without the manifest
      val expected3 = docs
        .filter(graft.operators.Splits.hashBucket(col("doc_id"), 8) === 3)
        .select("doc_id")
      val got3 = back.filter(col("shard") === 3).select("doc_id")
      assert(got3.exceptAll(expected3).count() == 0 &&
        expected3.exceptAll(got3).count() == 0)
      // shard filter prunes directories at plan time (no full-corpus scan)
      val p = back.filter(col("shard") === 3)
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") && p.contains("shard"), p)
    }
  }

  test("gopher rules: each rule fires on its crafted violator; clean doc keeps") {
    import spark.implicits._
    val good = (("the quick brown fox and the lazy dog of time is that " * 5)
      + "end").trim                                     // 51 words, stopwords
    val tiny = "the a of short"                          // < 50 words
    val longWords = Seq.fill(60)("absolutely the a supercalifragilisticexpialidocious")
      .mkString(" ")                                     // mean word len = 12 > 10
    val symbols = ("the a " + "# # # # # # # # " * 8).trim // symbol ratio > 0.1
    val bullets = (1 to 10).map(i => s"- the item $i and of to in is that more pad "
      + ("w " * 4)).mkString("\n")                       // all lines bulleted
    val dots = (1 to 10).map(i => s"the item $i and of to that trailing words here... ")
      .mkString("\n")                                    // all lines ellipsis
    val numbers = ("the a " + "123 456 " * 30).trim      // alpha frac < 0.8
    val noStops = Seq.fill(60)("zirconium").mkString(" ") // stop hits < 2
    val in = Seq((1L, good), (2L, tiny), (3L, longWords), (4L, symbols),
      (5L, bullets), (6L, dots), (7L, numbers), (8L, noStops))
      .toDF("doc_id", "text")
    val out = TF.withGopherRules(in, "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_frac", "stop_hits", "keep")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(8), out(1L).toString)
    assert(out(2L).getLong(1) < 50 && !out(2L).getBoolean(8))
    assert(out(3L).getDouble(2) > 10.0 && !out(3L).getBoolean(8))
    assert(out(4L).getDouble(3) > 0.1 && !out(4L).getBoolean(8))
    assert(out(5L).getDouble(4) > 0.9 && !out(5L).getBoolean(8))
    assert(out(6L).getDouble(5) > 0.3 && !out(6L).getBoolean(8))
    assert(out(7L).getDouble(6) < 0.8 && !out(7L).getBoolean(8))
    assert(out(8L).getLong(7) < 2 && !out(8L).getBoolean(8))
  }

  test("per-group quantile: discrete rank-ceil(qn) threshold; broadcast join back") {
    import spark.implicits._
    // group a: values 1..8 → p25 rank = ceil(0.25·8) = 2 → thr 2
    // group b: values 10,10,10,40 → rank ceil(1)=1 at q=0.25 → thr 10
    val in = ((1 to 8).map(v => ("a", v.toLong)) ++
      Seq(("b", 10L), ("b", 10L), ("b", 10L), ("b", 40L))).toDF("g", "v")
    val thr = graft.operators.Quality.perGroupThreshold(in, "g", "v", 0.25)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thr == Map("a" -> 2L, "b" -> 10L))
    // median of 1..8: rank ceil(4)=4 → value 4
    val med = graft.operators.Quality.perGroupThreshold(
      in.filter($"g" === "a"), "g", "v", 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(med == Map("a" -> 4L))
    val kept = graft.operators.Quality.filterByGroupQuantile(in, "g", "v", 0.25)
    assert(kept.filter($"g" === "a").agg(min("v")).head().getLong(0) == 2L)
    assert(kept.count() == 7 + 4) // a drops v=1 only; b keeps all (≥10)
    // threshold table joins back as a broadcast — one scan pass over the data
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // scale pin: the threshold comes from the (group, value, count)
    // histogram + groupRunningTotal, NEVER a per-row window — a window
    // partitioned by group sorts each group's full row set in ONE task
    // (the hot-group cliff for a dominant language at corpus scale)
    val thrPlan = graft.operators.Quality.perGroupThreshold(in, "g", "v", 0.25)
      .queryExecution.executedPlan.toString
    assert(!thrPlan.contains("Window"),
      s"per-row window sort crept back into perGroupThreshold:\n$thrPlan")
  }

  test("groupQuantiles: multi-quantile equals the rank definition; multi-col groups; null vs empty group keys") {
    import spark.implicits._
    val in = ((1 to 8).map(v => ("a", "x", v.toLong)) ++
      Seq(("b", "x", 10L), ("b", "x", 10L), ("b", "x", 10L), ("b", "x", 40L)) ++
      (1 to 4).map(v => ("a", "y", v * 100L)))
      .toDF("g1", "g2", "v")
    val out = graft.operators.Quality.groupQuantiles(in, Seq("g1", "g2"), "v",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("p25"), r.getAs[Long]("p50"), r.getAs[Long]("p75"))))
      .toMap
    // ranks: ceil(q·n) over ascending values
    assert(out(("a", "x")) == ((2L, 4L, 6L)))
    assert(out(("b", "x")) == ((10L, 10L, 10L)))
    assert(out(("a", "y")) == ((100L, 200L, 300L)))
    // NULL group values get the sentinel — distinct from the empty string
    val withNull = Seq((Option.empty[String], 1L), (Option.empty[String], 3L),
      (Some(""), 5L)).toDF("g", "v")
    val nq = graft.operators.Quality.groupQuantiles(withNull, Seq("g"), "v",
      Seq("p50" -> 0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Long]("p50")).toMap
    assert(nq(None) == 1L && nq(Some("")) == 5L)
  }

  test("corpus profile: hand-checked slice metrics") {
    import spark.implicits._
    val in = Seq(
      (1L, "en", "s1", "the cat sat"),   // 3 tokens
      (2L, "en", "s1", "the the dog"),   // 3 tokens
      (3L, "en", "s1", "a b c d e f g"), // 7 tokens
      (4L, "de", "s1", "der hund"))      // 2 tokens
      .toDF("doc_id", "lang", "source", "text")
    val out = graft.operators.Profile
      .corpusProfile(in, Seq("lang", "source"), "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 3L)
    assert(en.getAs[Long]("total_tokens") == 13L)
    assert(en.getAs[Long]("p25_tokens") == 3L) // rank ceil(0.75)=1 → 3
    assert(en.getAs[Long]("p50_tokens") == 3L) // rank ceil(1.5)=2 → 3
    assert(en.getAs[Long]("p75_tokens") == 7L) // rank ceil(2.25)=3 → 7
    // vocab: the, cat, sat, dog + a..g = 11 distinct
    assert(en.getAs[Long]("vocab") == 11L)
    assert(en.getAs[Double]("mean_tokens") ==
      BigDecimal(13.0 / 3.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(en.getAs[Double]("ttr") ==
      BigDecimal(11.0 / 13.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    val de = out("de")
    assert(de.getAs[Long]("n_docs") == 1L && de.getAs[Long]("vocab") == 2L)
    assert(de.getAs[Long]("p50_tokens") == 2L)
  }

  test("snapshotDrift: exact deltas, underfull sketches are exact, empty-vocab and one-sided groups report zeros") {
    import spark.implicits._
    import graft.operators.Profile
    val oldS = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma"),
      (3L, "xx", "hi"), // under 3 tokens: no grams at all
      (4L, "de", "eins zwei drei vier"))
      .toDF("doc_id", "lang", "text")
    val newS = Seq(
      (5L, "en", "alpha beta gamma delta epsilon"),
      (6L, "fr", "un deux trois")) // fr exists only in the new snapshot
      .toDF("doc_id", "lang", "text")
    val out = Profile.snapshotDrift(oldS, newS, "lang", "text", n = 3, k = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getAs[Long]("docs_old") == 2 && en.getAs[Long]("docs_new") == 1
      && en.getAs[Long]("docs_delta") == -1)
    assert(en.getAs[Long]("tokens_old") == 7 && en.getAs[Long]("tokens_new") == 5
      && en.getAs[Long]("tokens_delta") == -2)
    // underfull sketches hold every distinct gram → estimates are EXACT:
    // old {abg, bgd} = 2, new {abg, bgd, gde} = 3, overlap 2 of union 3
    assert(en.getAs[Double]("est_vocab_old") == 2.0)
    assert(en.getAs[Double]("est_vocab_new") == 3.0)
    assert(math.abs(en.getAs[Double]("est_jaccard") - 2.0 / 3.0) < 1e-12)
    // a group whose docs are all sub-n: empty sketch, zero estimates
    val xx = out("xx")
    assert(xx.getAs[Long]("docs_old") == 1 && xx.getAs[Long]("docs_new") == 0)
    assert(xx.getAs[Double]("est_vocab_old") == 0.0
      && xx.getAs[Double]("est_jaccard") == 0.0)
    // one-sided groups: zeros on the absent side, jaccard 0
    val fr = out("fr")
    assert(fr.getAs[Long]("docs_old") == 0 && fr.getAs[Long]("tokens_old") == 0)
    assert(fr.getAs[Long]("docs_new") == 1
      && fr.getAs[Double]("est_vocab_new") == 1.0)
    assert(fr.getAs[Double]("est_jaccard") == 0.0)
    val de = out("de")
    assert(de.getAs[Long]("docs_new") == 0
      && de.getAs[Double]("est_vocab_old") == 2.0)
    assert(de.getAs[Double]("est_jaccard") == 0.0)
  }

  test("thresholds persist: save/load roundtrip, layout tag validated") {
    import spark.implicits._
    import graft.operators.Quality
    val in = ((1 to 8).map(v => ("a", v.toLong)) ++
      Seq(("b", 10L), ("b", 40L))).toDF("g", "v")
    val thr = Quality.perGroupThreshold(in, "g", "v", 0.25)
    withTempDir("graft_thr_") { dir =>
      Quality.saveThresholds(thr, dir)
      SparkSpec.assertParamsMatchReference(dir)
      val back = Quality.loadThresholds(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(back == Map("a" -> 2L, "b" -> 10L))
      // a foreign layout must be rejected, not silently misread
      Seq("bm25_v1").toDF("layout")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Quality.loadThresholds(spark, dir)
      }
      assert(e.getMessage.contains("layout"))
    }
  }

  test("withGroupPercentile: cume_dist semantics, duplicate values share the rank, no window in plan") {
    import spark.implicits._
    val in = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 5L),
      ("b", 7L)).toDF("g", "v")
    val out = graft.operators.Quality.withGroupPercentile(in, "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("pct_rank")).toMap
    // group a (n=4): cum ≤1 → 1/4; cum ≤2 → 3/4 (both dup rows); ≤5 → 1
    assert(out(("a", 1L)) == 0.25)
    assert(out(("a", 2L)) == 0.75)
    assert(out(("a", 5L)) == 1.0)
    assert(out(("b", 7L)) == 1.0)
    val plan = graft.operators.Quality.withGroupPercentile(in, "g", "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("keepBestOfCluster: longest member wins, ties to smaller id, singletons survive") {
    import spark.implicits._
    val docs = Seq((1L, 3L), (2L, 9L), (3L, 9L), (4L, 5L)).toDF("id", "score")
    // cluster {1,2,3}: 2 and 3 tie on score 9 → 2 wins; 4 is a singleton
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.keepBestOfCluster(docs, "id", "score", edges, "a", "b")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("n_members")))).toMap
    assert(out == Map(2L -> ((1L, 3L)), 4L -> ((4L, 1L))))
  }

  test("stratifiedSplit: exact per-stratum counts; layout-invariant; salt decorrelates") {
    import spark.implicits._
    import graft.operators.Splits
    // 10-row and 7-row strata: exact counts are floor-boundary diffs, not
    // Bernoulli expectations
    val in = ((1 to 10).map(i => (i.toLong, "big")) ++
      (11 to 17).map(i => (i.toLong, "small"))).toDF("id", "g")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def counts(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap.withDefaultValue(0L)
    val c = counts(Splits.stratifiedSplit(in, "g", "id", fr, salt = "t"))
    // big(10): floor(8)=8 train, floor(9)-8=1 val, 1 test
    assert(c(("big", "train")) == 8L && c(("big", "val")) == 1L &&
      c(("big", "test")) == 1L)
    // small(7): floor(5.6)=5 train, floor(6.3)-5=1 val, 1 test
    assert(c(("small", "train")) == 5L && c(("small", "val")) == 1L &&
      c(("small", "test")) == 1L)
    // pure function of (keys, salt): any partition layout gives the SAME
    // assignment row-for-row
    def assign(df: org.apache.spark.sql.DataFrame) =
      Splits.stratifiedSplit(df, "g", "id", fr, salt = "t")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split"))
        .toMap
    assert(assign(in.repartition(7)) == assign(in.coalesce(1)))
    // a different salt produces a different permutation (statistically
    // certain at 17 rows; equality would mean the salt is ignored)
    assert(assign(in) != Splits.stratifiedSplit(in, "g", "id", fr, salt = "u")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("split"))
      .toMap)
    // degenerate single split assigns everything
    val one = Splits.stratifiedSplit(in, "g", "id", Seq("all" -> 1.0))
    assert(one.filter(col("split") === "all").count() == 17L)
  }

  test("topNgrams: hand-checked counts; tie-break; TakeOrderedAndProject plan") {
    import spark.implicits._
    val in = Seq((1L, "a b c a b c"), (2L, "a b x")).toDF("doc_id", "text")
    // 2-grams doc1: [a b, b c, c a, a b, b c]; doc2: [a b, b x]
    val q = graft.operators.TfIdf.topNgrams(in, "text", "doc_id", n = 2, k = 3)
    val out = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // rank 3 is a tie on occurrences=1 → gram ASC picks "b x" over "c a"
    assert(out.toSeq == Seq(("a b", 3L, 2L), ("b c", 2L, 1L), ("b x", 1L, 1L)))
    // global top-k must not materialize a global sort
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("repetition suite: run-fold matches hand computation; each rule fires on its violator") {
    import spark.implicits._
    import graft.operators.Repetition
    // hand-checkable: "a b a b c" → 2-grams [a b, b a, a b, b c] →
    // top ("a b", 2), dup_occ 2, dup_chars 6; nchars 9
    val tiny = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val t0 = Repetition.withRepetitionStats(tiny, "text").collect().head
    assert(t0.getAs[Double]("top_2gram_char_frac") == 6.0 / 9.0)
    assert(t0.getAs[Double]("dup_5gram_char_frac") == 0.0)
    // long enough that a count-1 top gram is a small char fraction (the
    // published thresholds assume real documents, not snippets)
    val clean = (1 to 60).map(i => s"word$i").mkString(" ")
    val loop2 = Seq.fill(20)("spam ham").mkString(" ")
    val dup5 = ("one two three four five " * 3) +
      "unique1 unique2 unique3 unique4 unique5 unique6 unique7 unique8"
    val dupLines = "line one two\nline one two\nline one two\nunique tail here"
    val in = Seq((1L, clean), (2L, loop2), (3L, dup5), (4L, dupLines))
      .toDF("doc_id", "text")
    val out = Repetition.withRepetitionStats(in, "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // clean doc: nothing repeats → all dup fracs 0, keep
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(1L).getAs[Double]("dup_5gram_char_frac") == 0.0)
    assert(out(1L).getAs[Double]("dup_line_frac") == 0.0)
    // 2-gram loop: "spam ham" covers most of the text → top-2 fires (and
    // the longer-gram dup rules with it)
    assert(out(2L).getAs[Double]("top_2gram_char_frac") > 0.2)
    assert(!out(2L).getAs[Boolean]("keep"))
    // repeated 5-token phrase amid unique filler → duplicate-5-gram mass
    assert(out(3L).getAs[Double]("dup_5gram_char_frac") > 0.15)
    assert(!out(3L).getAs[Boolean]("keep"))
    // repeated newline-lines: 3 of 4 lines are the same → line rules fire
    assert(out(4L).getAs[Double]("dup_line_frac") == 0.75)
    assert(!out(4L).getAs[Boolean]("keep"))
    // zero-shuffle pin: per-doc stats must never leave the row — the only
    // exchange allowed is spread()'s deliberate small-input round-robin
    // (REPARTITION_BY_NUM, a no-op at cluster scale); no data-dependent
    // shuffle may appear
    val plan = Repetition.withRepetitionStats(in, "text")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange (\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.forall(_ == "RoundRobinPartitioning"),
      s"unexpected exchange kinds $exchanges in:\n$plan")
  }

  // --- BM25 retrieval (operators.Retrieval) -------------------------

  /** Okapi BM25 recomputed longhand for the tiny corpus below. */
  private def okapi(idfN: Double, df: Double, tf: Double, dl: Double,
                    avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Double =
    math.log(1.0 + (idfN - df + 0.5) / (df + 0.5)) *
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  test("bm25: hand-computed okapi scores; no row for zero-overlap docs; rank order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "cat sat"),       // dl 2
      (2L, "cat cat dog"),   // dl 3
      (3L, "fish"))          // dl 1 — no overlap with the query
      .toDF("doc_id", "text")
    val queries = Seq((10L, "cat dog")).toDF("doc_id", "text")
    val out = graft.operators.Retrieval
      .bm25TopK(queries, corpus, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._2)
    // N=3, avgdl=2; df: cat=2, dog=1
    val s2 = BigDecimal(okapi(3, 2, 2, 3, 2) + okapi(3, 1, 1, 3, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = BigDecimal(okapi(3, 2, 1, 2, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1).toSeq == Seq(2L, 1L), out.toSeq)      // d2 outranks d1
    assert(out.map(_._2).toSeq == Seq(1, 2))
    assert(out.map(_._3).toSeq == Seq(s2, s1), out.toSeq)      // exact to 6dp
    // query-side tf is dropped: repeating a term must not change scores
    val rep = graft.operators.Retrieval.bm25TopK(
      Seq((10L, "cat cat dog")).toDF("doc_id", "text"),
      corpus, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).sortBy(_._1)
    assert(rep.toSeq == out.map(r => (r._1, r._3)).sortBy(_._1).toSeq)
  }

  test("bm25 index: build/serve parity, _params stats, compaction roundtrip") {
    import graft.operators.Retrieval
    val queries = docs.filter(col("doc_id") % 97 === 0)
    val direct = Retrieval.bm25TopK(queries, docs, "text", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3))
    withTempDir("graft_bm25_idx_") { dir =>
      Retrieval.buildBm25Index(docs, "text", "doc_id", dir)
      // stored corpus stats equal the in-flight ones (they drive scoring)
      val p = Store.readParams(spark, dir).head()
      assert(p.getAs[String]("layout") == "bm25_v2")
      val nDocs = docs
        .select(col("doc_id"),
          explode(TF.tokens(TF.normText(col("text")))).as("term"))
        .filter(col("term") =!= "")
        .select("doc_id").distinct().count()
      assert(p.getAs[Long]("n_docs") == nDocs)
      // the stored postings carry NO df column (the appendable layout);
      // avgdl is exactly sum_dl / n_docs off the integer sums
      val stored = spark.read.parquet(Store.resolveDataDir(dir, "index"))
      assert(stored.columns.sorted.toSeq == Seq("dl", "n_id", "term", "tf"))
      assert(p.getAs[Double]("avgdl") ==
        p.getAs[Long]("sum_dl").toDouble / nDocs)
      assert(p.getAs[Double]("k1") == 1.2 && p.getAs[Double]("b") == 0.75)
      def served = Retrieval
        .bm25TopKFromIndex(queries, dir, "text", "doc_id", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).sortBy(t => (t._1, t._3))
      assert(served.toSeq == direct.toSeq)
      // compaction rewrites the postings generation; results are byte-equal
      Store.compactIndex(spark, dir, partitions = 2)
      assert(Store.resolveDataDir(dir, "index").endsWith("index.g0001"))
      assert(served.toSeq == direct.toSeq)
    }
  }

  test("bm25 append: incremental index equals from-scratch build; stats additive; empty no-op") {
    import graft.operators.Retrieval
    val queries = docs.filter(col("doc_id") % 97 === 0)
    val direct = Retrieval.bm25TopK(queries, docs, "text", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
    withTempDir("graft_bm25_app_") { dir =>
      Retrieval.buildBm25Index(docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", dir)
      Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 3 === 1),
        "text", "doc_id", dir)
      Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 3 === 2),
        "text", "doc_id", dir)
      // appended stats are EXACTLY the from-scratch build's (integer sums)
      withTempDir("graft_bm25_full_") { full =>
        Retrieval.buildBm25Index(docs, "text", "doc_id", full)
        val pa = Store.readParams(spark, dir).head()
        val pf = Store.readParams(spark, full).head()
        assert(pa.getAs[Long]("n_docs") == pf.getAs[Long]("n_docs"))
        assert(pa.getAs[Long]("sum_dl") == pf.getAs[Long]("sum_dl"))
        assert(pa.getAs[Double]("avgdl") == pf.getAs[Double]("avgdl"))
      }
      // served answer ≡ one-shot over the whole corpus: df re-derives at
      // serve, stats are additive — nothing in the index is stale
      val served = Retrieval
        .bm25TopKFromIndex(queries, dir, "text", "doc_id", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
      assert(served == direct)
      // an all-empty batch appends nothing and leaves stats untouched
      import spark.implicits._
      val before = Store.readParams(spark, dir).head()
      Retrieval.appendToBm25Index(
        Seq((9999L, ""), (10000L, "  ")).toDF("doc_id", "text"),
        "text", "doc_id", dir)
      val after = Store.readParams(spark, dir).head()
      assert(after.getAs[Long]("n_docs") == before.getAs[Long]("n_docs"))
      assert(after.getAs[Long]("sum_dl") == before.getAs[Long]("sum_dl"))
    }
  }

  test("bm25 append commits _params as atomic pointer generations; crash debris never corrupts; sweep past grace") {
    import spark.implicits._
    import graft.operators.Retrieval
    import java.nio.file.{Files, Paths}
    withTempDir("graft_bm25_gen_") { dir =>
      Retrieval.buildBm25Index(
        Seq((1L, "cat dog"), (2L, "dog fish")).toDF("doc_id", "text"),
        "text", "doc_id", dir)
      // build: the plain _params dir is live, no pointer
      assert(Store.resolveDataDir(dir, "_params")
        == Paths.get(dir, "_params").toString)
      // append: stats commit as a NEW generation + atomic pointer flip —
      // never an in-place truncate of the only copy
      Retrieval.appendToBm25Index(
        Seq((3L, "cat")).toDF("doc_id", "text"), "text", "doc_id", dir)
      assert(Store.resolveDataDir(dir, "_params")
        .endsWith("_params.g0001"))
      val p1 = Store.readParams(spark, dir).head()
      assert(p1.getAs[Long]("n_docs") == 3L &&
        p1.getAs[Long]("sum_dl") == 5L)
      // a crashed commit = a written generation with NO pointer flip:
      // readers keep serving the live generation untouched
      val orphan = Paths.get(dir, "_params.g0002")
      Files.createDirectories(orphan)
      Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
      val p1b = Store.readParams(spark, dir).head()
      assert(p1b.getAs[Long]("n_docs") == 3L)
      // the next append reclaims the orphan's slot (fresh full write)
      Retrieval.appendToBm25Index(
        Seq((4L, "dog")).toDF("doc_id", "text"), "text", "doc_id", dir)
      assert(Store.resolveDataDir(dir, "_params")
        .endsWith("_params.g0002"))
      assert(Store.readParams(spark, dir).head()
        .getAs[Long]("n_docs") == 4L)
      // generations older than the one-cycle reader grace are swept
      Retrieval.appendToBm25Index(
        Seq((5L, "fish cat")).toDF("doc_id", "text"), "text", "doc_id",
        dir)
      assert(Store.resolveDataDir(dir, "_params")
        .endsWith("_params.g0003"))
      val p3 = Store.readParams(spark, dir).head()
      assert(p3.getAs[Long]("n_docs") == 5L &&
        p3.getAs[Long]("sum_dl") == 8L)
      assert(!Files.exists(Paths.get(dir, "_params.g0001"))) // swept
      assert(Files.exists(Paths.get(dir, "_params.g0002")))  // grace
      // a full rebuild resets the lineage to the plain builder dir
      Retrieval.buildBm25Index(
        Seq((9L, "owl")).toDF("doc_id", "text"), "text", "doc_id", dir)
      assert(Store.resolveDataDir(dir, "_params")
        == Paths.get(dir, "_params").toString)
      assert(Store.readParams(spark, dir).head()
        .getAs[Long]("n_docs") == 1L)
    }
  }

  test("bm25 serve-side maxDf: a term that grows into a stopword after appends is dropped") {
    import spark.implicits._
    import graft.operators.Retrieval
    val base = Seq((1L, "the cat"), (2L, "dog ran")).toDF("doc_id", "text")
    val queries = Seq((10L, "the cat")).toDF("doc_id", "text")
    withTempDir("graft_bm25_mdf_") { dir =>
      Retrieval.buildBm25Index(base, "text", "doc_id", dir, maxDf = 1L)
      // at build, df(the)=1 ≤ 1: "the" scores
      val withThe = Retrieval
        .bm25TopKFromIndex(queries, dir, "text", "doc_id", k = 3)
        .collect().map(_.getLong(1)).toSet
      assert(withThe == Set(1L))
      // append a doc containing "the": corpus-wide df(the)=2 > 1 — the
      // serve-side guard drops it NOW, not at the next rebuild. "cat"
      // still scores doc 1; doc 3 matches only via "the" so it vanishes.
      Retrieval.appendToBm25Index(
        Seq((3L, "the fish")).toDF("doc_id", "text"), "text", "doc_id", dir)
      val out = Retrieval
        .bm25TopKFromIndex(queries, dir, "text", "doc_id", k = 3)
        .collect().map(_.getLong(1)).toSet
      assert(out == Set(1L), out)
    }
  }

  test("bm25 layout guard: a v1 denormalized index refuses to load with a rebuild message") {
    import spark.implicits._
    import graft.operators.Retrieval
    withTempDir("graft_bm25_v1_") { dir =>
      Retrieval.buildBm25Index(
        Seq((1L, "cat dog")).toDF("doc_id", "text"), "text", "doc_id", dir)
      Seq(("bm25_v1", 1L, 2L, 2.0, 1.2, 0.75, Long.MaxValue))
        .toDF("layout", "n_docs", "sum_dl", "avgdl", "k1", "b", "max_df")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Retrieval.loadBm25(spark, dir)
      }
      assert(e.getMessage.contains("rebuild"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Retrieval.appendToBm25Index(
          Seq((2L, "fish")).toDF("doc_id", "text"), "text", "doc_id", dir)
      }
      assert(e2.getMessage.contains("layout"), e2.getMessage)
    }
  }

  test("bm25 maxDf: corpus-stopword terms drop from postings and scoring") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat"), (2L, "the dog"), (3L, "the"))
      .toDF("doc_id", "text")
    val queries = Seq((10L, "the cat")).toDF("doc_id", "text")
    // df(the)=3 > maxDf=2 → dropped. Doc 3 had ONLY "the": it vanishes
    // from the postings, so N=2 and avgdl averages the SURVIVING docs'
    // FULL lengths (dl counts dropped terms — length normalization keeps
    // measuring the real document).
    val out = graft.operators.Retrieval
      .bm25TopK(queries, corpus, "text", "doc_id", k = 3, maxDf = 2L)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    val exp = BigDecimal(okapi(2, 1, 1, 2, 2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq((1L, exp)), out.toSeq)
  }

  test("bm25 guards: empty postings fail clearly; shuffle-join path matches broadcast") {
    import spark.implicits._
    val queries = Seq((10L, "cat dog")).toDF("doc_id", "text")
    // empty corpus / all-empty text / maxDf-kills-everything → a clear
    // require message, not an NPE off the null avgdl aggregate
    for (corpus <- Seq(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text"))) {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Retrieval.bm25TopK(queries, corpus,
          "text", "doc_id", k = 3)
      }
      assert(e.getMessage.contains("no postings"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException] {
      graft.operators.Retrieval.bm25TopK(queries,
        Seq((1L, "the the"), (2L, "the")).toDF("doc_id", "text"),
        "text", "doc_id", k = 3, maxDf = 1L) // df(the)=2 > 1: all dropped
    }
    assert(e.getMessage.contains("no postings"), e.getMessage)
    // broadcastTerms=false (corpus-scale query sets) — same answer, the
    // join strategy is just left to Catalyst/AQE
    val corpus = Seq((1L, "cat sat"), (2L, "cat cat dog"), (3L, "fish"))
      .toDF("doc_id", "text")
    def run(bcast: Boolean) = graft.operators.Retrieval
      .bm25TopK(queries, corpus, "text", "doc_id", k = 3,
        broadcastTerms = bcast)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._2).toSeq
    assert(run(bcast = false) == run(bcast = true))
  }

  // --- Decontamination serving (operators.Decontaminate) ------------

  test("decontaminate: hand-computed containment, removal, hashed/string parity") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text") // sh: {a b c, b c d}
    val train = Seq(
      (1L, "x a b c d y"),  // both eval trigrams → containment 1.0
      (2L, "a b c x y z"),  // one → 0.5
      (3L, "p q r s"),      // none
      (4L, "u v"))          // < 3 tokens: no shingles, must survive
      .toDF("doc_id", "text")
    withTempDir("graft_contam_idx_") { dir =>
      Decontaminate.buildIndex(eval, "text", "doc_id", dir,
        shingleSize = 3, hashPostings = false)
      val idx = Decontaminate.loadIndex(spark, dir)
      assert(idx.shingleSize == 3 && !idx.hashed)
      val flags = Decontaminate.flagFromIndex(train, dir, "text", "doc_id",
        threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(flags.toSeq == Seq((1L, 100L, 1.0), (2L, 100L, 0.5)), flags.toSeq)
      val kept = Decontaminate.decontaminateFromIndex(train, dir,
        "text", "doc_id", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(kept.toSeq == Seq(3L, 4L))
      // one-shot removal (no index) agrees
      val kept2 = Decontaminate.removeContaminated(train, eval,
        "text", "doc_id", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(kept2.toSeq == kept.toSeq)
      // raising the threshold un-flags the partial match
      val keptHi = Decontaminate.decontaminateFromIndex(train, dir,
        "text", "doc_id", threshold = 0.75)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(keptHi.toSeq == Seq(2L, 3L, 4L))
    }
    // hashed postings (the production 8-byte-key path) give the same flags
    withTempDir("graft_contam_hidx_") { dir =>
      Decontaminate.buildIndex(eval, "text", "doc_id", dir,
        shingleSize = 3, hashPostings = true)
      assert(Decontaminate.loadIndex(spark, dir).hashed)
      val flags = Decontaminate.flagFromIndex(train, dir, "text", "doc_id",
        threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(flags.toSeq == Seq((1L, 100L, 1.0), (2L, 100L, 0.5)), flags.toSeq)
    }
  }

  test("decontaminate appendToIndex: build+append ≡ from-scratch, compaction invariant, guards") {
    import spark.implicits._
    import graft.operators.{Decontaminate, Similarity}
    val eval1 = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val eval2 = Seq((200L, "p q r s"), (201L, "x y"))  // 201: sub-trigram,
      .toDF("doc_id", "text")                          // zero shingles
    val train = Seq(
      (1L, "x a b c d y"),   // eval 100 → 1.0
      (2L, "o p q r s t"),   // eval 200 → 0.5 (has {p q r, q r s}? both →
      (3L, "zz"))            //   inter 2 of 2 = 1.0; recompute below)
      .toDF("doc_id", "text")
    def flags(dir: String) = Decontaminate.flagFromIndex(
        train, dir, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val full = withTempDir("graft_contam_full_") { dir =>
      Decontaminate.buildIndex(eval1.union(eval2), "text", "doc_id", dir,
        shingleSize = 3, hashPostings = false)
      flags(dir)
    }
    withTempDir("graft_contam_app_") { dir =>
      Decontaminate.buildIndex(eval1, "text", "doc_id", dir,
        shingleSize = 3, hashPostings = false)
      Decontaminate.appendToIndex(eval2, "text", "doc_id", dir)
      assert(flags(dir) == full) // incremental ≡ from-scratch
      // compaction folds the append slivers without changing a flag, and
      // a post-compaction append lands in the live generation
      Store.compactIndex(spark, dir, partitions = 1)
      assert(Store.resolveDataDir(dir, "index") == s"$dir/index.g0001")
      assert(flags(dir) == full)
      Decontaminate.appendToIndex(
        Seq((300L, "q r s t")).toDF("doc_id", "text"), "text", "doc_id", dir)
      // 300's shingles {q r s, r s t} both sit in train doc 2 → one new
      // fully-contained pair; everything pre-append is untouched
      assert(flags(dir) == (full :+ (2L, 300L, 1.0)).sortBy(t => (t._1, t._2)))
      // a re-appended e_id is rejected: duplicated sizes rows would
      // multiply its pairs through the serve join
      val e = intercept[IllegalArgumentException] {
        Decontaminate.appendToIndex(eval1, "text", "doc_id", dir)
      }
      assert(e.getMessage.contains("already present"), e.getMessage)
    }
  }

  test("decontaminate index: layout guard, maxDf guard only lowers, no-guard serve") {
    import spark.implicits._
    import graft.operators.Decontaminate
    // a foreign layout tag must be rejected at load
    withTempDir("graft_contam_bad_") { dir =>
      Seq(("other_v9", 3, false)).toDF("layout", "shingle_n", "hashed")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Decontaminate.loadIndex(spark, dir)
      }
      assert(e.getMessage.contains("layout"), e.getMessage)
    }
    // df guard: "a b c" appears in BOTH train docs (df 2 > maxDf 1) → its
    // postings drop, containment can only fall (1.0 → 0.5, 0.5 → gone);
    // the denominator stays the full |sh(e)|
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq((1L, "x a b c d y"), (2L, "a b c x y z"))
      .toDF("doc_id", "text")
    withTempDir("graft_contam_df_") { dir =>
      Decontaminate.buildIndex(eval, "text", "doc_id", dir,
        shingleSize = 3, hashPostings = false)
      val guarded = Decontaminate.flagFromIndex(train, dir, "text", "doc_id",
        threshold = 0.5, maxDf = 1L)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
      assert(guarded.toSeq == Seq((1L, 0.5)), guarded.toSeq)
      // maxDf = MaxValue (the streaming-serve setting) skips the guard
      val open = Decontaminate.flagFromIndex(train, dir, "text", "doc_id",
        threshold = 0.5, maxDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
      assert(open.toSeq == Seq((1L, 1.0), (2L, 0.5)), open.toSeq)
    }
  }

  // --- Label centroids / assignment quality (Similarity) ------------

  test("labelCentroids + centroidCosines: hand-computed means and cosines") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, 0, Seq(1f, 0f)),
      (2L, 0, Seq(0f, 1f)),   // label 0 centroid: (0.5, 0.5)
      (3L, 1, Seq(2f, 0f)))   // label 1 centroid: (2, 0)
      .toDF("vec_id", "label", "embedding")
    val cent = Similarity.labelCentroids(emb, "embedding", "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cent == Map((0, 0) -> 0.5, (0, 1) -> 0.5,
      (1, 0) -> 2.0, (1, 1) -> 0.0), cent)
    val cos = Similarity.centroidCosines(emb, "embedding", "vec_id", "label")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // cos((1,0),(0.5,0.5)) = 0.5 / (1 · √0.5) = √0.5 → 0.707107 @6dp
    assert(cos(1L) == 0.707107 && cos(2L) == 0.707107, cos)
    assert(cos(3L) == 1.0) // a vector equal to its centroid scores 1
  }

  test("hardNegatives: same-label neighbors excluded, rank by cosine") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Seq(
      (1L, 0, Seq(1f, 0f)),
      (2L, 0, Seq(1f, 0f)),    // identical but SAME label: never a negative
      (3L, 1, Seq(0.9f, 0.1f)),
      (4L, 1, Seq(0f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(
      emb.filter(col("vec_id") === 1), emb, "embedding", "vec_id", "label",
      k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._3)
    assert(out.toSeq == Seq((3L, 1, 1), (4L, 1, 2)), out.toSeq)
  }

  test("hardNegativesFromIndex: build+append roundtrip equals the brute oracle; no-meta index refuses") {
    import graft.operators.Similarity
    withTempDir("graft_hardneg_idx") { dir =>
      // the label rides as an index meta column through BOTH lifecycle
      // halves — build on one part of the corpus, append the rest
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", dir, cells = 6, metaCols = Seq("label"))
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 250),
        "embedding", "vec_id", dir)
      val q = emb.filter(col("vec_id") < 5)
      // nprobe >= cells makes the overfetch list the TRUE label-blind
      // top-(k·overfetch), so the brute form is the oracle verbatim
      val got = Similarity.hardNegativesFromIndex(q, dir, "embedding",
        "vec_id", "label", k = 5, overfetch = 8, nprobe = 6, strict = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .toSet
      val want = Similarity.hardNegatives(q, emb, "embedding", "vec_id",
        "label", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .toSet
      assert(got == want)
    }
    // an index built WITHOUT the label meta column must refuse to serve
    // instead of silently emitting nulls
    withTempDir("graft_hardneg_nometa") { dir =>
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 50),
        "embedding", "vec_id", dir, cells = 2)
      val e = intercept[IllegalArgumentException] {
        Similarity.hardNegativesFromIndex(emb.filter(col("vec_id") < 3),
          dir, "embedding", "vec_id", "label", k = 2)
      }
      assert(e.getMessage.contains("meta column"), e.getMessage)
    }
  }

  test("buildIvfIndex metaCols guards: reserved/comma/duplicate names rejected, null values refuse to store") {
    import spark.implicits._
    import graft.operators.Similarity
    val df = Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    // every bad name fails BEFORE anything is written
    for (bad <- Seq(Seq("cell"), Seq("q_vec"), Seq("n_id"), Seq("a,b"),
        Seq("vec_id"), Seq("label", "label"))) {
      val e = intercept[IllegalArgumentException] {
        Similarity.buildIvfIndex(df, "embedding", "vec_id",
          "/tmp/graft_never_written", cells = 2, metaCols = bad)
      }
      assert(e.getMessage.contains("meta column"), s"$bad: ${e.getMessage}")
    }
    // a NULL meta value is rejected at write time — a stored null label
    // could never certify as a different-label negative, so the row
    // would be dead weight that silently shrinks every serve
    withTempDir("graft_nullmeta") { dir =>
      val withNull = Seq((1L, Seq(1f, 0f), Option(0)),
        (2L, Seq(0f, 1f), Option.empty[Int]))
        .toDF("vec_id", "embedding", "label")
      val e = intercept[Exception] {
        Similarity.buildIvfIndex(withNull, "embedding", "vec_id", dir,
          cells = 2, metaCols = Seq("label"))
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("null value in index meta column"), chain)
    }
  }

  test("hardNegativesFromIndex strict: under-filled and null-label queries error; lax returns the shortfall") {
    import spark.implicits._
    import graft.operators.Similarity
    // label 0 dominates query 1's neighborhood: with overfetch = 1 the
    // label-blind top-k is all same-label → zero negatives survive
    val c = Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(1f, 0.01f)),
      (3L, 0, Seq(1f, -0.01f)),
      (4L, 1, Seq(0f, 1f)), (5L, 1, Seq(0.1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    withTempDir("graft_strict_idx") { dir =>
      Similarity.buildIvfIndex(c, "embedding", "vec_id", dir, cells = 2,
        metaCols = Seq("label"))
      val q = c.filter(col("vec_id") === 1)
      val lax = Similarity.hardNegativesFromIndex(q, dir, "embedding",
        "vec_id", "label", k = 2, overfetch = 1, nprobe = 2)
      assert(lax.count() < 2) // the silent shortfall strict exists for
      val e = intercept[IllegalArgumentException] {
        Similarity.hardNegativesFromIndex(q, dir, "embedding", "vec_id",
          "label", k = 2, overfetch = 1, nprobe = 2, strict = true)
      }
      assert(e.getMessage.contains("under-filled"), e.getMessage)
      // sufficient overfetch fills to k — and strict passes
      val ok = Similarity.hardNegativesFromIndex(q, dir, "embedding",
        "vec_id", "label", k = 2, overfetch = 3, nprobe = 2,
        strict = true)
      assert(ok.collect().map(_.getLong(1)).toSet == Set(4L, 5L))
      // a null-label query can never certify a negative — the query side
      // now carries the same in-row non-null guard the stored side
      // enforces at build/append: a LOUD error in any mode, not a silent
      // empty result (or, pre-guard, a strict-only under-filled signal)
      val qNull = Seq((9L, Option.empty[Int], Seq(1f, 0f)))
        .toDF("vec_id", "label", "embedding")
      val e2 = intercept[Exception] {
        Similarity.hardNegativesFromIndex(qNull, dir, "embedding",
          "vec_id", "label", k = 1, overfetch = 4, nprobe = 2).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(e2).exists(_.contains("null query label")),
        messages(e2).mkString(" | "))
    }
  }

  test("temperatureSample: integer-exact quotas, flattening, caps, determinism") {
    import spark.implicits._
    import graft.operators.Splits
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "b"))
      .toDF("doc_id", "source")
    def cnt(totalN: Long, t: Double) =
      Splits.temperatureSample(df, "source", "doc_id", totalN, t, "s")
        .groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=0.5 → w=n²: a=16, b=1, W=17 → quotas floor(48/17)=2, floor(3/17)=0
    assert(cnt(3, 0.5) == Map("a" -> 2))
    // T=1 → proportional: floor(16/5)=3, floor(4/5)=0
    assert(cnt(4, 1.0) == Map("a" -> 3))
    // T→∞ flattens: each domain's share → even; b capped at its size
    assert(cnt(4, 1e9) == Map("a" -> 2, "b" -> 1))
    // deterministic: same salt picks the same rows
    def ids() = Splits.temperatureSample(df, "source", "doc_id", 3, 0.5, "s")
      .collect().map(_.getLong(0)).toSet
    assert(ids() == ids())
    intercept[IllegalArgumentException] {
      Splits.temperatureSample(df, "source", "doc_id", 0, 1.0)
    }
  }

  test("temperatureSample: exact quotas survive counts whose n^k overflows Long") {
    import spark.implicits._
    import graft.operators.Splits
    // k = 6, n = 1500: n^6 ≈ 1.14e19 > Long.MaxValue — a fixed-width
    // exact path would produce negative weights and silently empty
    // domains; the BigInt path keeps the true floor quotas
    val df = ((1 to 1500).map(i => (i.toLong, "big")) ++
      (10001 to 10750).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    val cnt = Splits.temperatureSample(df, "source", "doc_id",
      totalN = 100, temperature = 1.0 / 6.0, salt = "ovf")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // w_big/w_small = 2^6 = 64 → quota_big = floor(100·64/65) = 98,
    // quota_small = floor(100·1/65) = 1
    assert(cnt == Map("big" -> 98L, "small" -> 1L), cnt.toString)
  }

  test("kneserNeyBigramLogProb: hand-computed discount and continuation mass") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // type table: "a b" (c=2), "b a" (c=2); ctx a/b: cc=2, n1f=1;
    // cont a/b: nctx=1; N1+(··)=2 →
    // P(b|a) = max(2−.75,0)/2 + (.75·1/2)·(1/2) = 0.8125 = P(a|b)
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyBigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val want = math.log(0.8125)
    assert(out.keySet == Set(1L, 2L)) // <2 tokens → absent
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - want) < 1e-12, out)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - want) < 1e-12, out)
    intercept[IllegalArgumentException] {
      LanguageModel.kneserNeyBigramLogProb(docs, "text", "doc_id",
        discount = 1.5)
    }
  }

  test("Bpe train/encode: hand-computed merges, lexicographic ties, leftmost-first overlap, early stop") {
    import spark.implicits._
    import graft.operators.Bpe
    // words: aa×2, ab×2 → pairs (a,a):2 and (a,b):2 tie; lexicographic
    // tie-break picks (a,a) first; vocabulary exhausts after 2 merges
    val docs = Seq((1L, "aa ab aa"), (2L, "ab")).toDF("doc_id", "text")
    val m = Bpe.train(docs, "text", numMerges = 5)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(m.toSeq == Seq((1, "a", "a", 2L), (2, "a", "b", 2L)), m.toSeq)
    val enc = Bpe.encodeTokenCounts(docs, "text", "doc_id",
      m.map(x => (x._2, x._3)).toSeq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(enc == Map(1L -> 3L, 2L -> 1L), enc)
    // overlapping occurrences merge leftmost-first: aaa → [aa, a] under
    // (a,a), then [aaa] under (aa, a)
    val tri = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = Bpe.train(tri, "text", numMerges = 5)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(m2.toSeq == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)), m2.toSeq)
    val enc2 = Bpe.encodeTokenCounts(tri, "text", "doc_id",
      m2.map(x => (x._2, x._3)).toSeq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(enc2 == Map(1L -> 2L), enc2) // two words, each a single token
    // persisted roundtrip preserves rank order; foreign layouts refuse
    withTempDir("graft_bpe_idx") { dir =>
      Bpe.saveMerges(Bpe.train(docs, "text", numMerges = 5), s"$dir/bpe")
      assert(Bpe.loadMerges(spark, s"$dir/bpe") ==
        m.map(x => (x._2, x._3)).toSeq)
      val fromIdx = Bpe.encodeTokenCountsFromIndex(docs, "text", "doc_id",
        s"$dir/bpe")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fromIdx == enc, fromIdx)
      Seq(("other_v9", 2L)).toDF("layout", "num_merges")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bad/_params")
      val e = intercept[IllegalArgumentException] {
        Bpe.loadMerges(spark, s"$dir/bad")
      }
      assert(e.getMessage.contains("layout"), e.getMessage)
      // drift: the same corpus retrains to the identical table (both
      // agreements 1.0); a disjoint-vocabulary slice shares nothing
      val same = Bpe.mergeDrift(docs, "text", s"$dir/bpe")
      assert(same.agreementPrefix == 1.0 && same.agreementSet == 1.0, same)
      val shifted = Bpe.mergeDrift(
        Seq((1L, "xy xy zw zw")).toDF("doc_id", "text"), "text",
        s"$dir/bpe")
      assert(shifted.agreementPrefix == 0.0 && shifted.agreementSet == 0.0,
        shifted)
    }
  }

  // --- Sliding-window chunking (Packing.chunkByTokens) --------------

  test("chunkByTokens: overlap windows, single-chunk short docs, arg guards") {
    import spark.implicits._
    import graft.operators.Packing
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // fits in one chunk
      (3L, ""))                    // empty: tokens("") = [""], one chunk
      .toDF("doc_id", "text")
    val out = Packing.chunkByTokens(docs, "text", "doc_id",
      maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).sortBy(t => (t._1, t._2))
    // stride 3, k = ceil((10-1)/3) = 3: consecutive chunks share 1 token
    assert(out.toSeq == Seq(
      (1L, 0, 4, "a b c d"), (1L, 1, 4, "d e f g"), (1L, 2, 4, "g h i j"),
      (2L, 0, 2, "x y"), (3L, 0, 1, "")), out.toSeq)
    // zero overlap partitions exactly
    val disjoint = Packing.chunkByTokens(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "text", "doc_id",
      maxTokens = 2)
      .collect().map(r => (r.getInt(1), r.getString(3))).sortBy(_._1)
    assert(disjoint.toSeq == Seq((0, "a b"), (1, "c d"), (2, "e")))
    intercept[IllegalArgumentException] {
      Packing.chunkByTokens(docs, "text", "doc_id", maxTokens = 4,
        overlap = 4)
    }
  }

  test("chunkByTokens reconstruction: dropping each chunk's overlap prefix rebuilds the doc") {
    import spark.implicits._
    import graft.operators.Packing
    // texts of assorted lengths around the window boundaries
    val docs = (1L to 12L).map { i =>
      (i, (1L to (i * 7 % 23 + 1)).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val maxT = 6; val ov = 2; val stride = maxT - ov
    val chunks = Packing.chunkByTokens(docs, "text", "doc_id", maxT, ov)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val toks = text.trim.split("\\s+").toSeq
      val cs = chunks(id)
      // every chunk except the last is exactly maxT tokens
      cs.init.foreach(c => assert(c.split(" ").length == maxT, s"doc $id"))
      // consecutive chunks agree on the overlap region
      cs.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.split(" ").takeRight(ov).sameElements(
            b.split(" ").take(ov)), s"doc $id overlap mismatch")
        case _ => ()
      }
      // dropping each later chunk's overlap prefix reconstructs the doc
      val rebuilt = cs.head.split(" ").toSeq ++
        cs.tail.flatMap(_.split(" ").drop(ov))
      assert(rebuilt == toks, s"doc $id: $rebuilt vs $toks")
    }
  }

  test("decontaminate idempotence: re-flagging the cleaned corpus finds nothing") {
    import spark.implicits._
    import graft.operators.Decontaminate
    val eval = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x a b c d e y"), (2L, "a b c z w q r"), (3L, "p q r s t"),
      (4L, "c d e a b x y z")).toDF("doc_id", "text")
    withTempDir("graft_contam_idem_") { dir =>
      Decontaminate.buildIndex(eval, "text", "doc_id", dir,
        shingleSize = 3, hashPostings = false)
      val cleaned = Decontaminate.decontaminateFromIndex(train, dir,
        "text", "doc_id", threshold = 0.4)
      val reflag = Decontaminate.flagFromIndex(cleaned, dir,
        "text", "doc_id", threshold = 0.4)
      assert(reflag.count() == 0)
      // and the cleaned set + flagged set partition the train set
      val flagged = Decontaminate.flagFromIndex(train, dir,
        "text", "doc_id", threshold = 0.4)
        .select("t_id").distinct().count()
      assert(flagged + cleaned.count() == train.count())
    }
  }

  test("dsir prefix property: top-k selection is a prefix of top-(k+m)") {
    import spark.implicits._
    import graft.operators.Dsir
    val corpus = (1L to 30L).map { i =>
      (i, if (i % 3 == 0) "en" else "de",
        (1L to (i % 7 + 2)).map(j => s"tok${(i + j) % 11}").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val m = Dsir.modelFrom(Dsir.trainLogRatio(
      corpus.filter(col("lang") === "en"), corpus, "text", b = 128))
    def ids(k: Int) = Dsir.selectTopK(corpus, m, "text", "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val k5 = ids(5); val k12 = ids(12)
    assert(k12.take(5) == k5, s"$k5 not a prefix of $k12")
    assert(k12.distinct.size == 12)
  }

  // --- DSIR importance resampling (operators.Dsir) ------------------

  test("dsir: λ sanity, zero-shuffle fold equals relational spelling, short docs weigh 0") {
    import spark.implicits._
    import graft.operators.Dsir
    val corpus = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the cat ate the fish"),
      (3L, "de", "der hund und die katze"),
      (4L, "de", "die fische sind gut"),
      (5L, "fr", "le chat et le chien"),
      (6L, "en", "one")) // < 2 tokens: no features
      .toDF("doc_id", "lang", "text")
    val b = 64
    val lamDf = Dsir.trainLogRatio(
      corpus.filter(col("lang") === "en"), corpus, "text", b)
    assert(lamDf.count() == b)
    // buckets unseen in BOTH slices carry the constant smoothing ratio
    // ln((N_raw+b)/(N_target+b))
    val occ = corpus.select(col("doc_id"), col("lang"),
      explode(Dsir.featureBuckets(col("text"), b)).as("bucket"))
    val nT = occ.filter(col("lang") === "en").count().toDouble
    val nR = occ.count().toDouble
    val seen = occ.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val unseenLam = lamDf.filter(!col("bucket").isin(seen.toSeq: _*))
      .select("lam").distinct().collect().map(_.getDouble(0))
    assert(unseenLam.length == 1, unseenLam.toSeq)
    assert(math.abs(unseenLam.head - math.log((nR + b) / (nT + b))) < 1e-12)
    // the per-row HOF fold computes the same weights as the
    // explode→join→sum spelling (different algorithm, same doubles @6dp)
    val m = Dsir.modelFrom(lamDf)
    val viaFold = Dsir.withLogWeight(corpus, m, "text")
      .select("doc_id", "log_w")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val viaJoin = occ.join(lamDf, "bucket").groupBy("doc_id")
      .agg(round(sum("lam"), 6).as("log_w"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    viaFold.foreach { case (id, w) =>
      assert(w == viaJoin.getOrElse(id, 0.0), s"doc $id: $w vs join spelling")
    }
    assert(viaFold.find(_._1 == 6L).get._2 == 0.0) // featureless doc
    // en docs outrank the non-en slice on average (the model works)
    val byLang = Dsir.withLogWeight(corpus, m, "text")
      .groupBy("lang").agg(avg("log_w").as("a"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(byLang("en") > byLang("de") && byLang("en") > byLang("fr"), byLang)
  }

  test("dsir model: persisted roundtrip, layout guard, deterministic gumbel top-k") {
    import spark.implicits._
    import graft.operators.Dsir
    val corpus = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the cat ate the fish"),
      (3L, "de", "der hund und die katze"),
      (4L, "fr", "le chat et le chien"))
      .toDF("doc_id", "lang", "text")
    val lamDf = Dsir.trainLogRatio(
      corpus.filter(col("lang") === "en"), corpus, "text", b = 64)
    withTempDir("graft_dsir_idx_") { dir =>
      Dsir.saveModel(lamDf, dir)
      val m = Dsir.loadModel(spark, dir)
      assert(m.b == 64)
      assert(m.lam == Dsir.modelFrom(lamDf).lam) // doubles survive parquet
      // top-k selection: equals the manual rank over the selection keys,
      // and is identical across invocations (md5 noise is keyed)
      def ids(k: Int) = Dsir.selectTopK(corpus, m, "text", "doc_id", k)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val manual = Dsir.withSelectionKey(corpus, m, "text", "doc_id")
        .select("doc_id", "sel_key")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (id, key) => (-key, id) }.map(_._1).take(2).toSeq
      assert(ids(2) == manual, s"${ids(2)} vs $manual")
      assert(ids(2) == ids(2))
      // threshold form keeps exactly the keys clearing τ
      val tau = Dsir.withSelectionKey(corpus, m, "text", "doc_id")
        .agg(min("sel_key")).head().getDouble(0)
      assert(Dsir.selectByThreshold(corpus, m, "text", "doc_id", tau)
        .count() == 4)
    }
    withTempDir("graft_dsir_bad_") { dir =>
      Seq(("other_v1", 64)).toDF("layout", "b")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Dsir.loadModel(spark, dir)
      }
      assert(e.getMessage.contains("layout"), e.getMessage)
    }
  }

  test("xml source: roundtrip with explicit schema via write+dispatch") {
    import spark.implicits._
    withTempDir("graft_xml_test") { dir =>
      val path = s"$dir/out"
      val in = Seq((1L, "alpha", 10L), (2L, "beta", 20L), (3L, "gamma", 10L))
        .toDF("id", "name", "grp")
      in.write.option("rowTag", "row").format("xml").save(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.LongType)))
      val back = graft.sources.Sources.xml(spark, path, "row", schema)
      assert(back.schema == schema)
      assert(back.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq((1L, "alpha", 10L), (2L, "beta", 20L), (3L, "gamma", 10L)))
    }
  }

  // ------------------------------------------------------------------
  // Hybrid retrieval (RRF fusion)
  // ------------------------------------------------------------------

  test("rrfFuse: hand-computed fusion, missing-from-one-list handling, tie-break, guards") {
    import spark.implicits._
    import graft.operators.Retrieval
    // system A ranks docs 1,2,3; system B ranks 3,2,4
    val a = Seq((0L, 1L, 1), (0L, 2L, 2), (0L, 3L, 3)).toDF("q_id", "n_id", "rank")
    val b = Seq((0L, 3L, 1), (0L, 2L, 2), (0L, 4L, 3)).toDF("q_id", "n_id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("n_id"), r.getAs[Int]("rank"), r.getAs[Double]("rrf")))
    def rrf(rs: Int*): Double =
      BigDecimal(rs.map(r => 1.0 / (60 + r)).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc3: 1/63+1/61 > doc2: 1/62+1/62 (convexity of 1/x) > doc1 > doc4
    assert(got.map(_._1).toSeq == Seq(3L, 2L, 1L, 4L))
    assert(got.map(_._3).toSeq ==
      Seq(rrf(3, 1), rrf(2, 2), rrf(1), rrf(3)))
    // exact rrf ties break by n_id: two docs each only in one system at rank 1
    val t1 = Seq((0L, 9L, 1)).toDF("q_id", "n_id", "rank")
    val t2 = Seq((0L, 7L, 1)).toDF("q_id", "n_id", "rank")
    val tie = Retrieval.rrfFuse(Seq(t1, t2), k = 2).orderBy("rank")
      .collect().map(_.getAs[Long]("n_id")).toSeq
    assert(tie == Seq(7L, 9L))
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq.empty, 5) }
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq(a), 0) }
  }

  test("hybridTopK: fused list beats-or-matches each system's overlap and is deterministic") {
    import graft.operators.Retrieval
    val qd = docs.filter(col("doc_id") < 3)
    val cd = docs.filter(col("doc_id") >= 3)
    val qe = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val ce = emb.filter(col("vec_id") >= 3)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val fused = Retrieval.hybridTopK(qd, cd, qe, ce,
      "text", "embedding", "doc_id", k = 5, depth = 10)
    val rows = fused.collect()
    // every query yields exactly k rows with ranks 1..k
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
    }
    // determinism: a second run is identical
    val again = Retrieval.hybridTopK(qd, cd, qe, ce,
      "text", "embedding", "doc_id", k = 5, depth = 10).collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
    // each fused member came from at least one per-system top-10 list
    val lex = Retrieval.bm25TopK(qd, cd, "text", "doc_id", 10)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val den = Similarity.bruteForceTopK(qe, ce, "embedding", "doc_id", 10)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    rows.foreach { r =>
      val p = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
      assert(lex.contains(p) || den.contains(p), s"$p in neither list")
    }
    intercept[IllegalArgumentException] {
      Retrieval.hybridTopK(qd, cd, qe, ce, "text", "embedding", "doc_id",
        k = 10, depth = 5)
    }
  }

  // ------------------------------------------------------------------
  // SQ8 scalar quantization
  // ------------------------------------------------------------------

  test("sq8: codes are dim bytes, reconstruction error within a step, topK equals brute at blanket rerank") {
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val bounds = Similarity.sq8Train(corpus, "embedding", dim = 64)
    assert(bounds.mins.length == 64 && bounds.steps.length == 64)
    assert(bounds.steps.forall(_ >= 0.0))
    val codes = Similarity.sq8Encode(corpus, bounds, "embedding", "vec_id")
    val rows = codes.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Array[Byte]]("codes").length == 64))
    // blanket rerank → exact equality with the brute baseline
    val got = Similarity.sq8TopK(queries, corpus, codes, bounds,
      "embedding", "vec_id", k = 5, rerank = 10000)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rank"))).toSet
    val brute = Similarity.bruteForceTopK(queries, corpus,
      "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rank"))).toSet
    assert(got == brute)
    intercept[IllegalArgumentException] {
      Similarity.sq8TopK(queries, corpus, codes, bounds, "embedding",
        "vec_id", k = 5, rerank = 3)
    }
  }

  test("sq8: tight rerank budget still recalls the true top-k (8-bit fidelity)") {
    // the point of SQ8 over PQ: at 1 byte/dim the approximate ranking is
    // nearly exact, so a rerank barely above k already recovers top-k
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val bounds = Similarity.sq8Train(corpus, "embedding", dim = 64)
    val codes = Similarity.sq8Encode(corpus, bounds, "embedding", "vec_id")
    val got = Similarity.sq8TopK(queries, corpus, codes, bounds,
      "embedding", "vec_id", k = 5, rerank = 16)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val brute = Similarity.bruteForceTopK(queries, corpus,
      "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"recall $recall at rerank=16")
  }

  test("sq8 persisted index: serve equals on-the-fly, append joins the lineage, layout guarded") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    withTempDir("graft_sq8_idx_") { dir =>
      val half = corpus.filter(col("vec_id") % 2 === 1)
      Similarity.buildSq8Index(half, "embedding", "vec_id", dir, dim = 64)
      Similarity.appendToSq8Index(corpus.filter(col("vec_id") % 2 === 0),
        "embedding", "vec_id", dir)
      val served = Similarity.sq8TopKFromIndex(queries, corpus, dir,
        "embedding", "vec_id", k = 5, rerank = 10000)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
          r.getAs[Int]("rank"))).toSet
      val brute = Similarity.bruteForceTopK(queries, corpus,
        "embedding", "vec_id", k = 5)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
          r.getAs[Int]("rank"))).toSet
      // NOTE: bounds were trained on half the corpus; appended vectors
      // clamp into that range, and the exact re-rank still reproduces
      // brute — the frozen-bounds contract
      assert(served == brute)
    }
    withTempDir("graft_sq8_bad_") { dir =>
      Seq(("other_v1", 64)).toDF("layout", "dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Similarity.sq8TopKFromIndex(queries, corpus, dir,
          "embedding", "vec_id", k = 5)
      }
      assert(e.getMessage.contains("layout"), e.getMessage)
    }
  }

  test("sq8DriftCheck: in-distribution ratio exactly 1, shifted batch drifts with out-of-range mass, pre-baseline index refuses") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") >= 5)
    withTempDir("graft_sq8_drift_") { dir =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", dir, dim = 64)
      // the build corpus against its own bounds reproduces base_err bit
      // for bit: ratio exactly 1, nothing out of range
      val rIn = Similarity.sq8DriftCheck(corpus, "embedding", dir)
      assert(rIn.ratio == 1.0 && rIn.batchErr == rIn.baseErr, rIn.toString)
      assert(rIn.outOfRangeFrac == 0.0, rIn.toString)
      assert(rIn.baseErr > 0.0) // 8-bit quantization is lossy
      // a drifted distribution (one dimension spikes — a new data source
      // with a hot feature) escapes the frozen per-dim range: error
      // grows and out-of-range values appear — the rebuild tripwire.
      // NOTE a uniform +c shift does NOT drift: unit normalization maps
      // it back inside the trained envelope (measured ratio 0.997)
      val spiked = corpus.select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, lit(10.0f)).otherwise(x))
          .as("embedding"))
      val rSh = Similarity.sq8DriftCheck(spiked, "embedding", dir)
      assert(rSh.ratio > 1.5, rSh.toString)
      assert(rSh.outOfRangeFrac > 0.0, rSh.toString)
    }
    // an index persisted before drift baselines refuses with the rebuild
    // hint rather than inventing a baseline
    withTempDir("graft_sq8_old_") { dir =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", dir, dim = 64)
      Seq(("sq8_v1", 64)).toDF("layout", "dim")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val e = intercept[IllegalArgumentException] {
        Similarity.sq8DriftCheck(corpus, "embedding", dir)
      }
      assert(e.getMessage.contains("rebuild"), e.getMessage)
    }
  }

  test("appendToSq8IndexChecked: flag mode appends + logs, refuse mode throws BEFORE writing codes, both log the report") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") >= 5)
    val spiked = corpus.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, lit(10.0f)).otherwise(x)).as("embedding"))
    withTempDir("graft_sq8_gate_") { dir =>
      Similarity.buildSq8Index(corpus, "embedding", "vec_id", dir,
        dim = 64, maxRatio = 2.0)
      val codes0 = spark.read.parquet(s"$dir/codes").count()
      // in-distribution append: unflagged, codes written, report logged
      val rOk = Similarity.appendToSq8IndexChecked(
        corpus.limit(20), "embedding", "vec_id", dir)
      assert(rOk.ratio <= 2.0, rOk.toString)
      assert(spark.read.parquet(s"$dir/codes").count() == codes0 + 20)
      // drifted append in FLAG mode: logged as flagged, still appended
      val rFlag = Similarity.appendToSq8IndexChecked(
        spiked.limit(10), "embedding", "vec_id", dir)
      assert(rFlag.ratio > 2.0, rFlag.toString)
      assert(spark.read.parquet(s"$dir/codes").count() == codes0 + 30)
      // drifted append in REFUSE mode: throws with the stored threshold
      // in the message and writes NO codes — but the report row lands
      val e = intercept[IllegalArgumentException] {
        Similarity.appendToSq8IndexChecked(
          spiked.limit(10), "embedding", "vec_id", dir, refuse = true)
      }
      assert(e.getMessage.contains("rebuild"), e.getMessage)
      assert(spark.read.parquet(s"$dir/codes").count() == codes0 + 30,
        "refused append wrote codes")
      val rep = spark.read.parquet(s"$dir/drift")
      assert(rep.count() == 3L)
      assert(rep.filter(col("flagged")).count() == 2L)
      // threshold is the STORED one (2.0), not the 4.0 default
      assert(rep.select("max_ratio").distinct().head().getDouble(0) == 2.0)
    }
  }

  // ------------------------------------------------------------------
  // Bloom-prefiltered decontamination
  // ------------------------------------------------------------------

  test("flagFromModelBloom: equals the exact serve path, including under a pathological fpp and hashed postings") {
    import graft.operators.Decontaminate
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 20 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("t_id"), r.getAs[Long]("e_id"),
        r.getAs[Double]("containment"))).toSet
    for (hashed <- Seq(false, true)) {
      withTempDir("graft_bloom_contam_") { dir =>
        Decontaminate.buildIndex(evalSet, "text", "doc_id", dir,
          shingleSize = 3, hashPostings = hashed)
        val exact = pairs(Decontaminate.flagFromIndex(train, dir,
          "text", "doc_id", threshold = 0.5))
        assert(exact.nonEmpty)
        // 1% fpp and a 50% fpp that floods the prefilter with false
        // positives — the exact join must kill them all either way
        for (fpp <- Seq(0.01, 0.5)) {
          val bloom = pairs(Decontaminate.flagFromIndexBloom(train, dir,
            "text", "doc_id", threshold = 0.5, fpp = fpp))
          assert(bloom == exact, s"hashed=$hashed fpp=$fpp")
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // C4 line-level cleaning
  // ------------------------------------------------------------------

  test("cleanLines: word-count, terminal-punct, and blocklist rules; doc-level keep; empty survivors") {
    import spark.implicits._
    import graft.operators.LineClean
    val in = Seq(
      (1L, Seq("A full sentence here.", "too short.", "Lorem Ipsum filler text.",
        "Another good line stands!", "menu { display: none }")),
      (2L, Seq("no terminal punctuation at all", "also not ending right")),
      (3L, Seq.empty[String]))
      .toDF("doc_id", "lines")
    val out = LineClean.cleanLines(in, "lines", "doc_id",
      minWordsPerLine = 3, requireTerminalPunct = true,
      blocklist = Seq("lorem ipsum", "{"), minKeptLines = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[Boolean]("keep"), r.getAs[String]("text"))).toMap
    // doc 1: "too short." fails word count; lorem-ipsum and brace lines
    // fail the blocklist; two survivors → kept
    assert(out(1L) == ((5L, 2L,
      true, "A full sentence here.\nAnother good line stands!")))
    // doc 2: no line ends in terminal punctuation → zero kept, dropped
    assert(out(2L) == ((2L, 0L, false, "")))
    // doc 3: empty doc → zero lines, dropped, empty text
    assert(out(3L) == ((0L, 0L, false, "")))
    // punctuation rule off: doc 2's lines survive (≥3 words, no blocks)
    val lax = LineClean.cleanLines(in, "lines", "doc_id",
      minWordsPerLine = 3, requireTerminalPunct = false,
      blocklist = Seq("lorem ipsum", "{"), minKeptLines = 2)
      .filter(col("doc_id") === 2L).head()
    assert(lax.getAs[Long]("n_kept") == 2L && lax.getAs[Boolean]("keep"))
  }

  test("cleanLines: trimmed word counts (no phantom leading token), whitespace-only lines, null lines array") {
    import spark.implicits._
    import graft.operators.LineClean
    val in = Seq(
      (1L, Seq(" one two.", "three real words.", "   ", "")),
      (2L, null.asInstanceOf[Seq[String]]))
      .toDF("doc_id", "lines")
    val out = LineClean.cleanLines(in, "lines", "doc_id",
      minWordsPerLine = 3, requireTerminalPunct = false,
      blocklist = Nil, minKeptLines = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[Boolean]("keep"), r.getAs[String]("text"))).toMap
    // " one two." is TWO words — the leading whitespace must not mint a
    // phantom empty token that sneaks it past minWordsPerLine; the
    // whitespace-only and empty lines count 0 words, not 1
    assert(out(1L) == ((4L, 1L, true, "three real words.")),
      out(1L).toString)
    // TAB whitespace (round-11 ADVICE): trim() strips only ASCII
    // spaces, so a tab-only line minted a phantom token (1 word) and a
    // tab-indented line a phantom leading token — the \s-class strip
    // must catch both
    val tabs = Seq((1L, Seq("\t\t", "\tone two.", "\tthree real words.")))
      .toDF("doc_id", "lines")
    val tout = LineClean.cleanLines(tabs, "lines", "doc_id",
      minWordsPerLine = 3, requireTerminalPunct = false,
      blocklist = Nil, minKeptLines = 1).head()
    assert(tout.getAs[Long]("n_kept") == 1L &&
      tout.getAs[String]("text") == "\tthree real words.",
      tout.toString)
    // a null lines array is an empty document, not a −1-line one
    assert(out(2L) == ((0L, 0L, false, "")), out(2L).toString)
    val dd = LineClean.dedupLinesWithinDoc(in, "lines", "doc_id")
      .filter(col("doc_id") === 2L).head()
    assert(dd.getAs[Long]("n_lines") == 0L &&
      dd.getAs[String]("text") == "")
  }

  test("payloadNearDup: exact copy at hamming 0, light corruption within radius, unrelated blob far, empty inert") {
    import spark.implicits._
    val base = (1 to 100).map(i => s"chunk$i").mkString(" ")
    // corrupt ONE 4-byte window's worth of content out of ~700 bytes
    val corrupt = base.replace("chunk50", "CHUNK50")
    val other = (1 to 100).map(i => s"other$i ${i * 7919}").mkString(" ")
    val in = Seq((1L, base), (2L, base), (3L, corrupt), (4L, other),
      (5L, "")).toDF("doc_id", "text")
    val withPayload = Multimodal.attachPayload(in, "text", "image/fake")
    // maxHamming=59 → every pair surfaces with its true distance
    val all = Multimodal.payloadNearDup(withPayload, "doc_id",
      maxHamming = 59)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Int]("hamming")).toMap
    // identical payloads: hamming exactly 0
    assert(all((1L, 2L)) == 0)
    // identical payloads have identical signatures: same distance to 3
    assert(all((1L, 3L)) == all((2L, 3L)))
    // one corrupted window: far closer than the unrelated blob (~half
    // the 60 bits apart) — with 2 of ~175 windows changed the majority
    // votes barely move (here not a single bit flips)
    assert(all((1L, 3L)) < all((1L, 4L)))
    assert(all((1L, 3L)) <= 3, "corrupted copy should stay in radius")
    val pairs = Multimodal.payloadNearDup(withPayload, "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Int]("hamming")).toMap
    // default radius: the exact copy is found...
    assert(pairs.get((1L, 2L)).contains(0))
    // ...and the unrelated blob pairs with nothing
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    // empty payload: empty token array is inert, never errors
    assert(!pairs.keys.exists { case (a, b) => a == 5L || b == 5L })
    // window seam matters: identical-content check again at another width
    val wide = Multimodal.payloadNearDup(
      Multimodal.attachPayload(in, "text", "image/fake"), "doc_id",
      windowBytes = 8)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(wide.contains((1L, 2L)))
  }

  test("simHashPortableTokens: word tokens reproduce simHashPortable exactly") {
    val sample = docs.limit(50)
    val viaTokens = Dedup.simHashPortableTokens(
      sample.select(col("doc_id"),
        TF.tokens(TF.normText(col("text"))).as("toks")),
      "toks", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = Dedup.simHashPortable(sample, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaTokens == direct)
  }

  // --- KMV distinct sketch (functions.KmvSketch) ---------------------

  test("kmv sketch: k smallest distinct hashes, duplicates collapse, under-full exact") {
    import spark.implicits._
    import graft.functions.KmvSketch
    // raw long "hashes" fed straight in — the sketch sees values, not text
    val vals = Seq(50L, 10L, 30L, 10L, 20L, 40L, 30L, 60L)
    val in = vals.map(v => ("g", v)).toDF("g", "h").repartition(4)
    val sk = in.groupBy("g")
      .agg(KmvSketch.kmvSketch(col("h"), 4).as("sk"))
      .select("sk").head().getSeq[Long](0)
    // 4 smallest DISTINCT of {10,20,30,40,50,60}, ascending
    assert(sk == Seq(10L, 20L, 30L, 40L))
    // 3x-replicated input yields the identical sketch (dedup by value)
    val rep = (vals ++ vals ++ vals).map(v => ("g", v)).toDF("g", "h")
      .repartition(5)
      .groupBy("g").agg(KmvSketch.kmvSketch(col("h"), 4).as("sk"))
      .select("sk").head().getSeq[Long](0)
    assert(rep == sk)
    // under-full group: every distinct value kept, estimate EXACT
    val small = Seq(("g", 7L), ("g", 7L), ("g", 9L)).toDF("g", "h")
    val est = small.groupBy("g")
      .agg(KmvSketch.kmvSketch(col("h"), 4).as("sk"))
      .select(KmvSketch.estimate(col("sk"), 4)).head().getDouble(0)
    assert(est == 2.0)
  }

  test("kmv estimate: hand-computed overfull formula; sf accuracy within estimator bounds") {
    import spark.implicits._
    import graft.functions.KmvSketch
    val in = Seq(100L, 200L, 300L, 400L, 500L).map(("g", _)).toDF("g", "h")
    val est = in.groupBy("g")
      .agg(KmvSketch.kmvSketch(col("h"), 4).as("sk"))
      .select(KmvSketch.estimate(col("sk"), 4)).head().getDouble(0)
    assert(est == 3.0 * math.pow(2, 60) / 400.0)
    // real corpus: per-lang vocab estimate vs exact distinct — k=32 gives
    // ~18% expected relative error; assert a loose 2.5σ band per group
    val toks = docs.select(col("lang"),
        explode(TF.tokens(TF.normText(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val exact = toks.groupBy("lang")
      .agg(countDistinct("term").as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ests = toks
      .select(col("lang"), KmvSketch.portableHash60(col("term")).as("h"))
      .groupBy("lang").agg(KmvSketch.kmvSketch(col("h"), 32).as("sk"))
      .select(col("lang"), KmvSketch.estimate(col("sk"), 32).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    ests.foreach { case (lang, est) =>
      val ex = exact(lang).toDouble
      assert(est > ex * 0.5 && est < ex * 1.8,
        s"lang=$lang est=$est exact=$ex")
    }
  }

  test("kmv set ops: union closure, hand-computed jaccard, union estimate") {
    import spark.implicits._
    import graft.functions.KmvSketch
    // closure: sketch(A ∪ B rows) == union(sketch(A), sketch(B), k)
    val aVals = (1 to 40).map(i => i.toLong * 7919)
    val bVals = (15 to 60).map(i => i.toLong * 7919)
    def sk(vs: Seq[Long]) = vs.map(("g", _)).toDF("g", "h").repartition(3)
      .groupBy("g").agg(KmvSketch.kmvSketch(col("h"), 8).as("sk"))
    val merged = sk(aVals).select(col("sk").as("ska"))
      .crossJoin(sk(bVals).select(col("sk").as("skb")))
      .select(KmvSketch.union(col("ska"), col("skb"), 8))
      .head().getSeq[Long](0)
    val direct = sk(aVals ++ bVals).select("sk").head().getSeq[Long](0)
    assert(merged == direct)
    // hand case, k=4: a={1,2,3}, b={2,3} → union=[1,2,3] (still
    // under-full → exact count 3), in-both={2,3} → jaccard 2/3
    val a = Seq(1L, 2L, 3L).map(("g", _)).toDF("g", "h")
      .groupBy("g").agg(KmvSketch.kmvSketch(col("h"), 4).as("ska"))
    val b = Seq(2L, 3L).map(("g", _)).toDF("g", "h")
      .groupBy("g").agg(KmvSketch.kmvSketch(col("h"), 4).as("skb"))
    val out = a.join(b, "g").select(
      KmvSketch.estimateJaccard(col("ska"), col("skb"), 4),
      KmvSketch.estimate(KmvSketch.union(col("ska"), col("skb"), 4), 4))
      .head()
    assert(out.getDouble(0) == 2.0 / 3.0)
    assert(out.getDouble(1) == 3.0)
    // a FULL union (exactly k distinct values) cannot know it is exact —
    // the estimator branch fires, the same `len < k` rule the oracle uses
    val b4 = Seq(2L, 3L, 4L).map(("g", _)).toDF("g", "h")
      .groupBy("g").agg(KmvSketch.kmvSketch(col("h"), 4).as("skb"))
    val est = a.join(b4, "g").select(
      KmvSketch.estimate(KmvSketch.union(col("ska"), col("skb"), 4), 4))
      .head().getDouble(0)
    assert(est == 3.0 * math.pow(2, 60) / 4.0)
  }

  test("dedupLinesWithinDoc: first occurrence survives in order; unique docs unchanged; zero shuffle beyond spread") {
    import spark.implicits._
    import graft.operators.LineClean
    val in = Seq(
      (1L, Seq("nav menu", "real content a", "nav menu", "real content b",
        "real content a")),
      (2L, Seq("only line")),
      (3L, Seq.empty[String])).toDF("doc_id", "lines")
    val out = LineClean.dedupLinesWithinDoc(in, "lines", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // repeats drop, FIRST occurrence keeps its position in the order
    assert(out(1L) == (5L, 3L, "nav menu\nreal content a\nreal content b"))
    assert(out(2L) == (1L, 1L, "only line"))
    assert(out(3L) == (0L, 0L, ""))
    // one projection pass: the only exchange is spread's round-robin
    val plan = LineClean.dedupLinesWithinDoc(in, "lines", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("SortMergeJoin") && !plan.contains("Generate"), plan)
  }

  test("budgetWaterfill: saturation, redistribution, all-saturated leftover, no-saturation proportional") {
    import spark.implicits._
    import graft.operators.Splits
    // A: huge weight, tiny cap → saturates; B absorbs the excess
    val stats = Seq(("A", 10L, 100L), ("B", 10L, 1L))
      .toDF("dom", "tokens", "weight")
    def run(budget: Long) = Splits.budgetWaterfill(
      stats, "dom", "tokens", "weight", budget, maxEpochs = 1)
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(3), r.getDouble(4), r.getDouble(5))).toMap
    val mixed = run(15L)
    assert(mixed("A") == ((true, 10.0, 1.0)))   // capped at 1 epoch
    assert(mixed("B") == ((false, 5.0, 0.5)))   // λ = (15−10)/1 = 5
    // budget past every cap: all saturate, leftover goes unallocated
    val over = run(100L)
    assert(over("A") == ((true, 10.0, 1.0)) && over("B") == ((true, 10.0, 1.0)))
    // small budget: nobody saturates, allocation ∝ weight exactly
    val under = run(5L)
    assert(!under("A")._1 && !under("B")._1)
    assert(under("A")._2 == 500.0 / 101.0 && under("B")._2 == 5.0 / 101.0)
    assert(math.abs(under("A")._2 + under("B")._2 - 5.0) < 1e-9)
  }

  test("budgetWaterfill range contract: non-positive inputs and Long overflow refuse loudly; scaling rescue is invariant") {
    import spark.implicits._
    import graft.operators.Splits
    def run(rows: Seq[(String, Long, Long)], maxEpochs: Int = 1) =
      Splits.budgetWaterfill(rows.toDF("dom", "tokens", "weight"),
        "dom", "tokens", "weight", budget = 10L, maxEpochs = maxEpochs)
        .collect()
    val eW = intercept[IllegalArgumentException] {
      run(Seq(("A", 10L, 0L), ("B", 10L, 1L)))
    }
    assert(eW.getMessage.contains("weights"), eW.getMessage)
    val eT = intercept[IllegalArgumentException] {
      run(Seq(("A", 0L, 1L)))
    }
    assert(eT.getMessage.contains("tokens"), eT.getMessage)
    // maxEpochs·tokens past Long.MaxValue: a silently wrapped cap would
    // corrupt the θ ordering and λ — now a loud error
    val eC = intercept[IllegalArgumentException] {
      run(Seq(("A", Long.MaxValue / 2, 4L)), maxEpochs = 3)
    }
    assert(eC.getMessage.contains("overflows"), eC.getMessage)
    // Σ weight past Long.MaxValue (the squared-token convention at
    // 100 TB): refuse, pointing at the scaling rescue
    val eS = intercept[IllegalArgumentException] {
      run(Seq(("A", 1L, Long.MaxValue / 2), ("B", 1L, Long.MaxValue / 2),
        ("C", 1L, Long.MaxValue / 2)))
    }
    assert(eS.getMessage.contains("pre-divide"), eS.getMessage)
    // the documented rescue holds: allocations are invariant under
    // uniform weight scaling (θ order, saturation predicate, and λ·w
    // all cancel the common factor) up to float rounding
    def allocs(rows: Seq[(String, Long, Long)]) =
      run(rows).map(r => r.getString(0) ->
        (r.getBoolean(3), r.getDouble(4))).toMap
    val a = allocs(Seq(("A", 10L, 100L), ("B", 10L, 4L)))
    val b = allocs(Seq(("A", 10L, 25L), ("B", 10L, 1L)))
    for (d <- Seq("A", "B")) {
      assert(a(d)._1 == b(d)._1)
      assert(math.abs(a(d)._2 - b(d)._2) < 1e-9, s"$d: ${a(d)} vs ${b(d)}")
    }
  }

  test("kmv persisted: append-only roundtrip equals one-shot; k and layout guards refuse") {
    import spark.implicits._
    import graft.functions.KmvSketch
    import graft.operators.Sketches
    val aVals = (1 to 40).map(i => ("g", i.toLong * 7919)) ++
      (1 to 10).map(i => ("h", i.toLong * 104729))
    val bVals = (25 to 70).map(i => ("g", i.toLong * 7919))
    def sk(vs: Seq[(String, Long)]) = vs.toDF("grp", "h").repartition(3)
      .groupBy("grp").agg(KmvSketch.kmvSketch(col("h"), 8).as("sk"))
    withTempDir("graft_kmv_idx_") { dir =>
      Sketches.saveKmvSketches(sk(aVals), "grp", "sk", dir, 8)
      Sketches.appendKmvSketches(sk(bVals), "grp", "sk", dir, 8)
      val loaded = Sketches.loadKmvSketches(spark, dir)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val oneShot = sk(aVals ++ bVals)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(loaded == oneShot) // union closure through the store
      // a different k refuses rather than silently degrading the floor
      val eK = intercept[IllegalArgumentException] {
        Sketches.appendKmvSketches(sk(bVals), "grp", "sk", dir, 16)
      }
      assert(eK.getMessage.contains("k="), eK.getMessage)
      // a foreign layout refuses
      Seq(("bm25_v2", 8)).toDF("layout", "k")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val eL = intercept[IllegalArgumentException] {
        Sketches.loadKmvSketches(spark, dir)
      }
      assert(eL.getMessage.contains("layout"), eL.getMessage)
    }
  }

  test("heavy hitters: two-pass equals brute counts under pruning, invariant to partitioning, threshold boundary inclusive") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    // N = 840, phi = 0.05 → thr = ceil(42) = 42: hot and warm qualify,
    // edge (40) misses; m = ceil(2/0.05) = 40 < 203 distinct items, so
    // MG pruning genuinely engages
    val rows = Seq.fill(500)("hot") ++ Seq.fill(100)("warm") ++
      (1 to 200).map(i => s"cold$i") ++ Seq.fill(40)("edge")
    def run(parts: Int) = HeavyHitters.frequentItems(
      rows.toDF("item").repartition(parts), "item", phi = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = Set(("hot", 500L), ("warm", 100L))
    assert(run(1) == expect, run(1).toString)
    assert(run(7) == expect)
    assert(run(32) == expect) // merge-order never reaches the output
    // exact-boundary item (count == ceil(phi·N)) is included
    val rows2 = Seq.fill(10)("ten") ++ (1 to 90).map(i => s"u$i")
    val b = HeavyHitters.frequentItems(
      rows2.toDF("item").repartition(5), "item", phi = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(b == Set(("ten", 10L)), b.toString)
    // nulls are absent from both passes (N excludes them)
    val rows3 = (Seq.fill(5)(Some("x")) ++ Seq.fill(3)(Option.empty[String]))
    val c = HeavyHitters.frequentItems(
      rows3.toDF("item"), "item", phi = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(c == Set(("x", 5L)), c.toString)
    // empty input: empty output, no error
    assert(HeavyHitters.frequentItems(
      Seq.empty[String].toDF("item"), "item", phi = 0.1).count() == 0L)
  }

  test("mg_summary plan: partial sketch below the exchange under ObjectHashAggregate; guarantee holds at capacity") {
    import spark.implicits._
    import graft.functions.MisraGries
    val in = ((1 to 300).map(i => s"c$i") ++ Seq.fill(100)("HH"))
      .toDF("item").repartition(4)
    val q = in.agg(MisraGries.mgSummary(col("item"), 16).as("s"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_mg_summary"), plan)
    // N = 400, m = 16: anything over 400/17 ≈ 23.5 MUST survive the
    // summary — HH at 100 does, with estimate within the deficit bound
    val sk = q.head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.size <= 16, sk.toString)
    assert(sk.contains("HH"), sk.toString)
    assert(sk("HH") <= 100L && sk("HH") >= 100L - 400L / 17L, sk.toString)
  }

  test("mg store: independent slice appends serve the one-shot answer; m and layout guards refuse; capacity guard at serve") {
    import spark.implicits._
    import graft.operators.{HeavyHitters, Sketches}
    // 3 slices that partition a stream where pruning engages per slice
    // (m = 8 < distinct items within each slice)
    val slices = Seq(
      Seq.fill(200)("hot") ++ (1 to 50).map(i => s"a$i"),
      Seq.fill(150)("hot") ++ Seq.fill(120)("warm") ++ (1 to 50).map(i => s"b$i"),
      Seq.fill(80)("warm") ++ (1 to 50).map(i => s"c$i"))
    val all = slices.flatten
    val m = 8
    withTempDir("graft_mg_store_") { dir =>
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItems(slices(0).toDF("item"), "item", m),
        "group", "summary", "n_items", dir, m, sliceId = "s0")
      for ((sl, i) <- slices.drop(1).zipWithIndex)
        Sketches.appendMgSummaries(
          HeavyHitters.summarizeItems(sl.toDF("item"), "item", m),
          "group", "summary", "n_items", dir, m, sliceId = s"s${i + 1}")
      // a REPLAYED slice append (at-least-once writer) collapses in the
      // per-slice dedup — the ADDITIVE merge would otherwise double
      // n_items and inflate every threshold ceil(phi*N), silently
      // dropping true positives
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItems(slices(2).toDF("item"), "item", m),
        "group", "summary", "n_items", dir, m, sliceId = "s2")
      // N = 700; phi = 0.2 → thr = 140: hot (350) and warm (200) — and
      // m + 1 = 9 > 1/phi = 5 upholds the superset guarantee across the
      // merged slices
      val served = HeavyHitters.frequentItemsFromStore(
        all.toDF("item"), "item", dir, phi = 0.2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(served == Set(("hot", 350L), ("warm", 200L)), served.toString)
      // ≡ one-shot over the union
      val oneShot = HeavyHitters.frequentItems(
        all.toDF("item"), "item", phi = 0.2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(served == oneShot)
      // a too-small stored capacity cannot guarantee a finer phi
      val eCap = intercept[IllegalArgumentException] {
        HeavyHitters.frequentItemsFromStore(
          all.toDF("item"), "item", dir, phi = 0.05)
      }
      assert(eCap.getMessage.contains("cannot guarantee"), eCap.getMessage)
      // different-m appends refuse (the bound would silently weaken)
      val eM = intercept[IllegalArgumentException] {
        Sketches.appendMgSummaries(
          HeavyHitters.summarizeItems(slices(0).toDF("item"), "item", 16),
          "group", "summary", "n_items", dir, 16, sliceId = "bad")
      }
      assert(eM.getMessage.contains("m="), eM.getMessage)
      // a foreign layout refuses
      Seq(("kmv_v1", 8)).toDF("layout", "m")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/_params")
      val eL = intercept[IllegalArgumentException] {
        Sketches.loadMgSummaries(spark, dir)
      }
      assert(eL.getMessage.contains("layout"), eL.getMessage)
    }
  }

  test("frequentItemsByGroup: per-group thresholds exact under pruning; union candidates never leak false positives") {
    import spark.implicits._
    import graft.operators.HeavyHitters
    // group a: N=300 — "hot" 120, "both" 60, 120 singletons
    // group b: N=100 — "both" 9 (frequent in a's terms, NOT in b at
    //   phi=0.1 → thr=10), "bhot" 40, 51 singletons
    val rows =
      (Seq.fill(120)("hot") ++ Seq.fill(60)("both") ++
        (1 to 120).map(i => s"a$i")).map(("a", _)) ++
      (Seq.fill(9)("both") ++ Seq.fill(40)("bhot") ++
        (1 to 51).map(i => s"b$i")).map(("b", _))
    val out = HeavyHitters.frequentItemsByGroup(
      rows.toDF("g", "item").repartition(9), "g", "item", phi = 0.1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // thr(a)=30, thr(b)=10: "both" passes in a (60) but NOT in b (9),
    // even though "both" certainly sits in b's candidate union via a
    assert(out == Set(("a", "hot", 120L), ("a", "both", 60L),
      ("b", "bhot", 40L)), out.toString)
    // pruning engaged: m = 20 < 122 distinct in group a
    assert(math.ceil(2.0 / 0.1).toInt == 20)
    // the SCALE plan — broadcast left-semi candidate filter + broadcast
    // (group, thr) join instead of InSet + when-chain (forced by zero
    // caps) — is a different physical shape with the identical answer
    val bcast = HeavyHitters.frequentItemsByGroup(
      rows.toDF("g", "item").repartition(9), "g", "item", phi = 0.1,
      inSetCap = 0, whenChainCap = 0)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(bcast == out, bcast.toString)
  }

  test("topKItems: exact top-k at sketch cost — adaptive support, deterministic tie-break, loud refusal below the cap") {
    import spark.implicits._
    import graft.operators.{HeavyHitters, TfIdf}
    // zipf-ish: item i appears 600/i times (i = 1..60) over N ≈ 2808
    // rows; top-10 shares reach down to 60/2808 ≈ 0.021, so phi0 = 0.2
    // must adapt DOWN (two quarterings) before 10 items survive
    val items = (1 to 60).flatMap(i => Seq.fill(600 / i)(f"w$i%02d"))
    val df = items.toDF("item").repartition(7)
    val got = HeavyHitters.topKItems(df, "item", k = 10, phi0 = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = TfIdf.topNgrams(
      df.select(col("item").as("text")), "text", "text", n = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == exact, s"$got vs $exact")
    // ordering is (cnt DESC, item ASC): w59 and w60 both count 10 — the
    // k-boundary region must break ties lexically like the exact report
    assert(got.map(_._1) == got.sortBy(r => (-r._2, r._1)).map(_._1))
    // fewer distinct items than k once the driver cap blocks further
    // quartering refuses loudly rather than returning a short list:
    // margin puts the first pass just under the 2^20 cap (m ≈ 943718)
    // and the next quartering over it, and the corpus has only 1 item
    // above thr = ceil(0.5·3) = 2
    val tiny = Seq("a", "a", "b").toDF("item")
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.topKItems(tiny, "item", k = 5, phi0 = 0.5,
        margin = 471859.0)
    }
    assert(e.getMessage.contains("bounded-driver cap"), e.getMessage)
  }

  test("grouped MG store: per-group slice appends serve the one-shot grouped answer; capacity validates") {
    import spark.implicits._
    import graft.operators.{HeavyHitters, Sketches}
    val rows =
      (Seq.fill(120)("hot") ++ Seq.fill(60)("both") ++
        (1 to 120).map(i => s"a$i")).map(("a", _)) ++
      (Seq.fill(9)("both") ++ Seq.fill(40)("bhot") ++
        (1 to 51).map(i => s"b$i")).map(("b", _))
    val df = rows.toDF("g", "item")
    withTempDir("graft_mgg_") { dir =>
      val m = 20
      // slices split by hash of the item — each carries BOTH groups
      val (s0, s1) = (df.filter(abs(hash(col("item"))) % 2 === 0),
        df.filter(abs(hash(col("item"))) % 2 === 1))
      Sketches.saveMgSummaries(
        HeavyHitters.summarizeItemsByGroup(s0, "g", "item", m),
        "group", "summary", "n_items", dir, m, sliceId = "s0")
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(s1, "g", "item", m),
        "group", "summary", "n_items", dir, m, sliceId = "s1")
      // replayed grouped slice: per-(slice, group) dedup collapses it
      Sketches.appendMgSummaries(
        HeavyHitters.summarizeItemsByGroup(s1, "g", "item", m),
        "group", "summary", "n_items", dir, m, sliceId = "s1")
      val served = HeavyHitters.frequentItemsByGroupFromStore(
        df, "g", "item", dir, phi = 0.1)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val oneShot = HeavyHitters.frequentItemsByGroup(
        df, "g", "item", phi = 0.1)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(served == oneShot, s"$served vs $oneShot")
      // a support the stored capacity can't guarantee refuses loudly
      val e = intercept[IllegalArgumentException] {
        HeavyHitters.frequentItemsByGroupFromStore(
          df, "g", "item", dir, phi = 0.01)
      }
      assert(e.getMessage.contains("capacity"), e.getMessage)
    }
  }

  test("assignToCentroids: nearest-centroid argmax crosses label lines; rounded tie breaks to smallest label") {
    import spark.implicits._
    val emb = Seq(
      (1L, 1, Seq(1f, 0f, 0f, 0f)),
      (2L, 1, Seq(1f, 0.1f, 0f, 0f)),
      (3L, 2, Seq(0f, 1f, 0f, 0f)),
      (4L, 2, Seq(0.1f, 1f, 0f, 0f)),
      // labeled 1 but sitting on label 2's axis: assignment must follow
      // the GEOMETRY, not the tag
      (5L, 1, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(emb, "embedding", "label")
    val out = Similarity.assignToCentroids(emb, cents, "embedding",
      "vec_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 2),
      out.toString)
    // exact rounded tie → smallest label
    val train = Seq((10L, 1, Seq(1f, 0f)), (11L, 2, Seq(0f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val tie = Seq((20L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val t0 = Similarity.assignToCentroids(tie,
      Similarity.labelCentroids(train, "embedding", "label"),
      "embedding", "vec_id").head()
    assert(t0.getInt(1) == 1, t0.toString)
  }

  test("count-min: estimates dominate true counts, exact at ample width; append-only store sums to the one-shot sketch") {
    import spark.implicits._
    import graft.operators.CountMin
    val items = Seq.fill(300)("hot") ++ Seq.fill(60)("warm") ++
      (1 to 120).map(i => s"rare$i")
    val truth = items.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val corpus = items.toDF("item").repartition(6)
    val queries =
      (truth.keys.toSeq.sorted.take(30) :+ "hot" :+ "warm" :+ "absent")
        .toDF("item")
    val est = CountMin.cmFrequencies(corpus, queries, "item",
      depth = 4, width = 2048)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // CM never underestimates (one-sided error)…
    est.foreach { case (k, v) =>
      assert(v >= truth.getOrElse(k, 0L), s"$k: $v") }
    // …and at width ≫ distinct items the min row is collision-free
    assert(est("hot") == 300L && est("warm") == 60L, est.toString)
    assert(est("absent") == 0L)
    // a deliberately tight width: collisions inflate, never deflate
    val tight = CountMin.cmFrequencies(corpus, queries, "item",
      depth = 2, width = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tight.foreach { case (k, v) =>
      assert(v >= truth.getOrElse(k, 0L), s"$k: $v") }
    // store: independent slice builds + append ≡ one-shot (linearity)
    withTempDir("graft_cm_") { dir =>
      val (a, b) = items.splitAt(200)
      CountMin.saveCm(
        CountMin.cmBuild(a.toDF("item"), "item", 4, 2048), dir, 4, 2048,
        sliceId = "b0")
      CountMin.appendCm(
        CountMin.cmBuild(b.toDF("item"), "item", 4, 2048), dir, 4, 2048,
        sliceId = "b1")
      val (counters, d, wd) = CountMin.loadCm(spark, dir)
      val served = CountMin.cmEstimate(queries, counters, "item", d, wd)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == est)
      // an at-least-once writer REPLAYS a slice (crash between the data
      // append and the checkpoint's offset commit): the re-appended
      // rows collapse in loadCm's per-slice dedup — estimates unchanged
      CountMin.appendCm(
        CountMin.cmBuild(b.toDF("item"), "item", 4, 2048), dir, 4, 2048,
        sliceId = "b1")
      val (counters2, d2, wd2) = CountMin.loadCm(spark, dir)
      val replayed = CountMin.cmEstimate(queries, counters2, "item", d2, wd2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(replayed == est,
        "replayed slice double-counted — per-slice dedup broken")
      // different-geometry appends refuse
      val eG = intercept[IllegalArgumentException] {
        CountMin.appendCm(
          CountMin.cmBuild(a.toDF("item"), "item", 2, 8), dir, 2, 8,
          sliceId = "b2")
      }
      assert(eG.getMessage.contains("geometry"), eG.getMessage)
    }
    // GROUPED store: per-group linearity — slice appends sum to the
    // one-shot grouped build, replays collapse, estimates group-local
    withTempDir("graft_cmg_") { dir =>
      val g = items.zipWithIndex
        .map { case (it, i) => (if (i % 2 == 0) "en" else "de", it) }
        .toDF("g", "item")
      val oneShot = CountMin
        .cmEstimateByGroup(g, CountMin.cmBuildByGroup(g, "g", "item", 4, 2048),
          "g", "item", 4, 2048)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val (sa, sb) = (g.filter(abs(hash(col("item"))) % 2 === 0),
        g.filter(abs(hash(col("item"))) % 2 === 1))
      CountMin.saveCmGroups(
        CountMin.cmBuildByGroup(sa, "g", "item", 4, 2048), dir, 4, 2048,
        sliceId = "s0")
      CountMin.appendCmGroups(
        CountMin.cmBuildByGroup(sb, "g", "item", 4, 2048), dir, 4, 2048,
        sliceId = "s1")
      // a replayed slice append must collapse in the per-slice dedup
      CountMin.appendCmGroups(
        CountMin.cmBuildByGroup(sb, "g", "item", 4, 2048), dir, 4, 2048,
        sliceId = "s1")
      val (cs, d2, w2) = CountMin.loadCmGroups(spark, dir)
      val served = CountMin.cmEstimateByGroup(g, cs, "g", "item", d2, w2)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(served == oneShot,
        "grouped store sum-at-read diverged from the one-shot build")
      // group-locality: "rare1" lands only in en under the even/odd
      // interleave — probing it against de must hit de's OWN counters
      // (collision noise ≤ 2N_de/width ≈ 0, never en's 150-count), so
      // the estimate stays at the collision floor
      val probe = Seq(("de", "rare1"), ("en", "hot")).toDF("g", "item")
      val cross = CountMin.cmEstimateByGroup(probe, cs, "g", "item", d2, w2)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(cross(("de", "rare1")) <= 2L,
        s"cross-group probe leaked en counters: $cross")
      assert(cross(("en", "hot")) >= 150L, cross.toString)
    }
  }

  test("grouped CM scale plan: forced shuffle join and store auto-probe match broadcast bit for bit") {
    import spark.implicits._
    import graft.operators.CountMin
    val g = (0 until 3000).map(i => (s"g${i % 7}", s"w${i % 97}"))
      .toDF("g", "item").repartition(5)
    def est(cap: Long): Map[(String, String), Long] =
      CountMin.cmEstimateByGroup(g,
          CountMin.cmBuildByGroup(g, "g", "item", 4, 512),
          "g", "item", 4, 512, broadcastGroupCap = cap)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    val bcast = est(1L << 16)
    // cap 0 forces the 10⁶-group regime's plan: shuffle hash join on
    // (group, row, cell), no broadcast anywhere — identical estimates
    // (the join keys and the min-fold don't care how rows co-located)
    assert(est(0) == bcast, "shuffle-join estimates diverged")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = CountMin.cmEstimateByGroup(g,
          CountMin.cmBuildByGroup(g, "g", "item", 4, 512),
          "g", "item", 4, 512, broadcastGroupCap = 0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"), plan.take(600))
      assert(!plan.contains("BroadcastExchange"), plan.take(600))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the store serve probes its own (cheap, parquet-backed) group
    // count: a cap below the 7 groups must flip to the shuffle plan
    // and still serve the identical estimates
    withTempDir("graft_cmflip_") { dir =>
      CountMin.saveCmGroups(
        CountMin.cmBuildByGroup(g, "g", "item", 4, 512), dir, 4, 512)
      val auto = CountMin.cmEstimateByGroupFromStore(g, dir, "g", "item",
          broadcastGroupCap = 3)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(auto == bcast, "store auto-probe flip diverged")
    }
  }

  test("kmv plan: partial sketch below the exchange under ObjectHashAggregate") {
    import spark.implicits._
    import graft.functions.KmvSketch
    val in = (1 to 1000).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "h")
      .repartition(4)
    val plan = in.groupBy("g")
      .agg(KmvSketch.kmvSketch(col("h"), 16).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kmv_min_hashes"), plan)
    val partialIdx = plan.indexOf("partial_kmv_min_hashes")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      "partial sketch must sit below the exchange\n" + plan)
  }
}
