package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.store.Store

/** Watermark semantics under controlled micro-batches (MemoryStream lets the
  * test drive event-time forward explicitly): late events beyond the
  * watermark must be DROPPED, and append mode must emit exactly the closed
  * windows — the state-retention behavior that makes unbounded streams
  * feasible (SURVEY.md §2.9 E4 extension; the reference's streaming is
  * stateless chunking only).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkSpec.spark

  test("watermark drops late events; append emits closed windows only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long] // event time as epoch seconds
    val agg = input.toDF().withColumn("ts", timestamp_seconds(col("value")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("w_start"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()

    // batch 1: two events in [0, 10min), one at 30min (watermark → 20min,
    // closing the first window)
    input.addData(60L, 120L, 1800L)
    q.processAllAvailable()
    // batch 2: a LATE event for the closed window — must be dropped
    input.addData(130L)
    q.processAllAvailable()
    // batch 3: event at 60min (watermark → 50min, closing [30, 40))
    input.addData(3600L)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // [0,600): exactly the 2 on-time events — the late third NOT counted
    assert(rows.get(0L).contains(2L), s"got $rows")
    // [1800,2400) closed with its single event
    assert(rows.get(1800L).contains(1L), s"got $rows")
    // the 60-min window is still open → not emitted in append mode
    assert(!rows.contains(3600L), s"got $rows")
  }

  test("RocksDB state store: stateful agg runs with spillable off-heap state") {
    // The memory (HDFS-backed) provider caps state at executor heap; the
    // RocksDB provider keeps state on local disk with a block-cache in
    // native memory — the >RAM state configuration for large keyspaces
    // (e.g. st8's global fingerprint dedup at corpus scale). Results must
    // be identical; only the state backend changes.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Long]
      val agg = input.toDF()
        .withColumn("ts", timestamp_seconds(col("value")))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("w_start"), col("n"))
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName("rocks_out").start()
      input.addData(60L, 120L, 700L)
      q.processAllAvailable()
      input.addData(130L, 710L)
      q.processAllAvailable()
      // the provider actually engaged: progress reports RocksDB metrics
      val prog = q.lastProgress.toString
      assert(prog.contains("rocksdb"), s"no rocksdb metrics in: $prog")
      q.stop()
      val rows = spark.table("rocks_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).max }
      assert(rows == Map(0L -> 3L, 600L -> 2L), s"got $rows")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup candidates: cross-batch state pairs new docs against old") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val banded = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(VF.minhashBandHashes(
          array_distinct(TF.shingles(col("text"), 3)), 128, 32))
          .as(Seq("band", "bucket")))
      .select(col("band").cast("int"), col("bucket"), col("doc_id"))
      .as[(Int, Long, Long)]
    // exercises the SAME pairing kernel the production path runs
    val pairs = graft.streaming.Streaming.bandBucketPairs(banded)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("neardup_cands").start()
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // batch 1: two near-identical docs + one unrelated
    input.addData((1L, base), (2L, base + " extra"),
      (3L, "completely different words entirely unrelated content here now"))
    q.processAllAvailable()
    // batch 2: a third variant must pair with docs from batch 1 via STATE
    input.addData((4L, base + " more"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("neardup_cands").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"same-batch pair missing: $got")
    assert(got.contains((1L, 4L)) && got.contains((2L, 4L)),
      s"cross-batch pairs missing: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc should share no bucket: $got")
  }

  test("streamingUrlDedup restart resumes against the accumulated claim index") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_url_rs_")
    try {
      // sfDir whose documents.parquet is a DIRECTORY the stream tails:
      // slice A now, slice B after the first session ends
      val corpus = root.resolve("sf").resolve("documents.parquet").toString
      Seq((0L, "https://example.com/a?utm_source=x"),
          (1L, "https://www.example.com/a"), // dup of 0 under canon
          (2L, "https://example.com/b"))
        .toDF("doc_id", "url").coalesce(1).write.parquet(corpus)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(1), r.getLong(0))).toSet
      val run1 = grab(graft.streaming.Streaming.streamingUrlDedup(
        spark, root.resolve("sf").toString, "urlrs1", col("url"),
        baseDir = Some(base)))
      assert(run1 == Set(("https://example.com/a", 0L),
        ("https://example.com/b", 2L)), s"$run1")
      // slice B arrives: one dup of a FIRST-SESSION canon (must lose to
      // the restart-resumed index, not to in-session state) + one fresh
      Seq((3L, "HTTPS://EXAMPLE.com/a/"), (4L, "https://example.com/c"))
        .toDF("doc_id", "url").coalesce(1)
        .write.mode("append").parquet(corpus)
      val run2 = grab(graft.streaming.Streaming.streamingUrlDedup(
        spark, root.resolve("sf").toString, "urlrs2", col("url"),
        baseDir = Some(base)))
      assert(run2 == run1 + (("https://example.com/c", 4L)),
        s"restart lost or re-kept claims: $run2 vs $run1")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("bandBucketPairs: hot bucket saturates at maxBucket, cold buckets unaffected") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Int, Long, Long)] // (band, bucket, doc_id)
    val pairs = graft.streaming.Streaming
      .bandBucketPairs(input.toDS(), maxBucket = 3)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("hot_bucket").start()
    // batch 1 fills the hot bucket exactly to the cap
    input.addData((0, 7L, 1L), (0, 7L, 2L), (0, 7L, 3L))
    q.processAllAvailable()
    // batch 2: hot bucket is saturated — ids 4,5 must emit nothing and
    // not grow state; a different bucket still pairs normally; and a
    // re-sent already-seen id stays a no-op
    input.addData((0, 7L, 4L), (0, 7L, 5L), (0, 7L, 2L),
      (0, 8L, 10L), (0, 8L, 11L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hot_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)), s"got $got")
  }

  test("time-scoped streaming dedup: in-watermark duplicates dropped, expired keys re-emit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (fingerprint, event-time seconds)
    val deduped = input.toDF().toDF("fp", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("fp")
      .select("fp", "sec")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("wm_dedup").start()
    // fp=1 twice within the watermark window → second occurrence dropped
    input.addData((1L, 10L), (1L, 15L), (2L, 12L))
    q.processAllAvailable()
    // advance event time far past the 10 s delay → fp=1 state expires
    input.addData((9L, 100L))
    q.processAllAvailable()
    // fp=1 reappears AFTER expiry → re-emitted (time-scoped semantics:
    // state is bounded, unlike st8's global training-corpus dedup)
    input.addData((1L, 95L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.count(_._1 == 1L) == 2, s"got ${rows.toSeq}")
    assert(rows.contains((1L, 10L)) && !rows.contains((1L, 15L)), s"got ${rows.toSeq}")
    assert(rows.count(_._1 == 2L) == 1 && rows.count(_._1 == 9L) == 1)
  }

  test("streaming file sink with partitionBy lays out prunable directories") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_stream_part_")
    try {
      val input = MemoryStream[(String, Long)]
      val out = input.toDF().toDF("category", "value")
      val q = out.writeStream.outputMode("append")
        .format("parquet")
        .partitionBy("category")
        .option("path", base.resolve("data").toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      input.addData(("a", 1L), ("b", 2L), ("a", 3L))
      q.processAllAvailable()
      input.addData(("b", 4L))
      q.processAllAvailable()
      q.stop()
      // hive-style category=... directories exist → the batch reader prunes
      val dataDir = base.resolve("data").toFile
      val partDirs = dataDir.listFiles().filter(_.isDirectory).map(_.getName)
        .filterNot(_ == "_spark_metadata").toSet // sink's exactly-once log
      assert(partDirs == Set("category=a", "category=b"), s"got $partDirs")
      val back = spark.read.parquet(dataDir.toString)
      assert(back.filter(col("category") === "a")
        .select("value").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      val scan = back.filter(col("category") === "b")
        .queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("category#"),
        s"partition predicate not pruned:\n$scan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streaming LM scoring equals the batch unigram gate") {
    val streamed = graft.streaming.Streaming
      .streamingLmScore(spark, SparkSpec.sf, "spec_lm")
    val batch = SparkEntry.queries("t10_lm_logprob")(spark, SparkSpec.sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("streamingHeavyHitters restart re-seeds durable state: resume + new files equals one shot over the union") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_hh_rs_")
    try {
      // "hot hot" dominates slice A, "warm warm" only reaches the
      // φ threshold once slice B arrives — the restart must both keep
      // A's counts (re-seeded N) and fold B's into them
      def mk(ids: Range, word: String) = ids.map { i =>
        (i.toLong, "en", s"$word $word $word filler$i x$i")
      }.toDF("doc_id", "lang", "text")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30, "hot").coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      (mk(0 until 30, "hot") unionByName mk(30 until 60, "warm"))
        .coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1).toSeq
      val run1 = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sfA.toString, "hhrs1", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      // restart with nothing new reproduces the pre-restart answer
      val idle = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sfA.toString, "hhrs2", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      assert(idle == run1, s"$idle vs $run1")
      // new slices arrive; the resumed stream processes only them and
      // the recount answers over the full ingested corpus
      mk(30 until 60, "warm").repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sfA.toString, "hhrs3", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sfAll.toString, "hhrs4", n = 2, phi = 0.05,
        ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
      assert(resumed != run1)
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streamingKmv restart re-seeds durable state: resume + new files equals one shot over the union") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_kmv_rs_")
    try {
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, if (i % 2 == 0) "en" else "de",
          s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} x${i % 23} y$i")
      }.toDF("doc_id", "lang", "text")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 40).coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      mk(0 until 80).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      // run 1: first 40 docs stream through and checkpoint their state
      val run1 = grab(graft.streaming.Streaming.streamingKmv(
        spark, sfA.toString, "rs1", k = 16, ingestFiles = 2,
        baseDir = Some(base)))
      // "restart" with nothing new: the re-seeded state alone must
      // reproduce the pre-restart answer (an empty driver map would
      // return nothing or undercount)
      val idle = grab(graft.streaming.Streaming.streamingKmv(
        spark, sfA.toString, "rs2", k = 16, ingestFiles = 2,
        baseDir = Some(base)))
      assert(idle == run1, s"$idle vs $run1")
      // new corpus slices arrive; the resumed stream processes ONLY them
      // (checkpoint skips the pre-restart files) and merges into the
      // re-seeded sketches — KMV union-closure makes the merge exact
      mk(40 until 80).repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingKmv(
        spark, sfA.toString, "rs3", k = 16, ingestFiles = 2,
        baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingKmv(
        spark, sfAll.toString, "rs4", k = 16, ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
      assert(resumed != run1) // the new slices genuinely changed the answer
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streamingCountMin restart appends only new slices: resume + new files equals one shot over the union") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_cm_rs_")
    try {
      // doc 0 is the %97 probe doc in every variant; its grams' counts
      // grow as slices arrive, so a stale/duplicated store is visible
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, "en", s"hot hot common w${i % 5} y$i")
      }.toDF("doc_id", "lang", "text")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30).coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      mk(0 until 60).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1).toSeq
      val run1 = grab(graft.streaming.Streaming.streamingCountMin(
        spark, sfA.toString, "cmrs1", n = 2, ingestFiles = 2,
        baseDir = Some(base)))
      // restart with nothing new: store untouched, same estimates
      val idle = grab(graft.streaming.Streaming.streamingCountMin(
        spark, sfA.toString, "cmrs2", n = 2, ingestFiles = 2,
        baseDir = Some(base)))
      assert(idle == run1, s"$idle vs $run1")
      // new slices arrive; the resumed stream appends ONLY their
      // counters (checkpoint skips the pre-restart files) and linearity
      // makes sum-at-read equal the one-shot build over the union
      mk(30 until 60).repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingCountMin(
        spark, sfA.toString, "cmrs3", n = 2, ingestFiles = 2,
        baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingCountMin(
        spark, sfAll.toString, "cmrs4", n = 2, ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
      assert(resumed != run1)
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streamingQuantile: restart + new files == one shot; batch replay idempotent") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_q_rs_")
    try {
      // n_chars straddles the default [0, 256) geometry so the overflow
      // bucket is live on every slice; medians shift as slices arrive
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, s"l${i % 2}", 100L + (i * 37) % 400)
      }.toDF("doc_id", "lang", "n_chars")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30).coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      mk(0 until 60).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy(_._1).toSeq
      val run1 = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qrs1", ingestFiles = 2,
        baseDir = Some(base)))
      // restart with nothing new: store untouched, same medians
      val idle = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qrs2", ingestFiles = 2,
        baseDir = Some(base)))
      assert(idle == run1, s"$idle vs $run1")
      // crash window: last batch's offsets committed, commit marker
      // gone — the restart REPLAYS it; the batch-id slice key must
      // collapse in the per-slice dedup or counts double and the
      // median's rank prefix shifts
      dropLastCommit(base)
      val replayed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qrs3", ingestFiles = 2,
        baseDir = Some(base)))
      assert(replayed == run1, s"replayed batch shifted ranks: $replayed vs $run1")
      // new slices arrive; the resumed stream appends only their
      // histograms and the linear merge equals the one-shot histogram
      // over the union — served medians equal the one-shot run's
      mk(30 until 60).repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qrs4", ingestFiles = 2,
        baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfAll.toString, "qrs5", ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
      assert(resumed != run1) // the new slices genuinely moved the medians
      // an all-empty corpus never creates the store: serve the empty
      // frame, not a FileNotFoundException from readGeometry
      val sfEmpty = root.resolve("sfEmpty")
      mk(0 until 0).coalesce(1)
        .write.parquet(sfEmpty.resolve("documents.parquet").toString)
      assert(grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfEmpty.toString, "qrs6", ingestFiles = 1)).isEmpty)
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streamingQuantile: compaction between sessions survives replay via the watermark") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_q_cw_")
    try {
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, s"l${i % 2}", 100L + (i * 37) % 400)
      }.toDF("doc_id", "lang", "n_chars")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30).coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      mk(0 until 60).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy(_._1).toSeq
      val run1 = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qcw1", ingestFiles = 2,
        baseDir = Some(base)))
      // nightly maintenance at the quiesce point: fold all slices
      graft.operators.SketchStore.compact(spark, s"$base/qstore")
      // crash-replay debris AFTER the fold: the replayed batch's
      // original slice rows lost their id to __compacted, so the
      // per-slice dedup can no longer collapse a re-append — only the
      // committed watermark (skip batches ≤ last_batch) keeps the
      // counts from doubling
      dropLastCommit(base)
      val replayed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qcw2", ingestFiles = 2,
        baseDir = Some(base)))
      assert(replayed == run1,
        s"replay after compaction shifted ranks: $replayed vs $run1")
      // and new slices land on top of the fold: linear merge ≡ the
      // one-shot histogram of the union
      mk(30 until 60).repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qcw3", ingestFiles = 2,
        baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfAll.toString, "qcw4", ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streamingQuantile auto-compaction: threshold crossed mid-stream; replay + resume stay exact") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_q_ac_")
    try {
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, s"l${i % 2}", 100L + (i * 37) % 400)
      }.toDF("doc_id", "lang", "n_chars")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30).coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      mk(0 until 60).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy(_._1).toSeq
      // threshold 2 with 4 ingest files: the writer folds its own
      // store repeatedly DURING the stream (after batches 1, 2, 3)
      val run1 = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qac1", ingestFiles = 4,
        baseDir = Some(base), compactSliceThreshold = 2))
      val qstore = s"$base/qstore"
      val live = java.nio.file.Paths
        .get(Store.resolveDataDir(qstore, "hist"))
        .getFileName.toString
      assert(live.startsWith("hist.g"),
        s"threshold never fired mid-stream: live dir is $live")
      // the one-shot answer over the same corpus must match exactly
      val oneShotA = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qac2", ingestFiles = 1))
      assert(run1 == oneShotA, s"$run1 vs $oneShotA")
      // crash-replay across the in-stream fold: the final batch was
      // appended, watermarked, AND folded; its replay must be skipped
      // by the watermark (the slice id no longer exists to dedup on)
      dropLastCommit(base)
      val replayed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qac3", ingestFiles = 4,
        baseDir = Some(base), compactSliceThreshold = 2))
      assert(replayed == run1,
        s"replay across the in-stream fold shifted ranks: $replayed vs $run1")
      // resume with new slices on top of the folded store
      mk(30 until 60).repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfA.toString, "qac4", ingestFiles = 4,
        baseDir = Some(base), compactSliceThreshold = 2))
      val oneShot = grab(graft.streaming.Streaming.streamingQuantile(
        spark, sfAll.toString, "qac5", ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Simulate foreachBatch's at-least-once delivery precisely: delete
    * the stream checkpoint's LAST commit marker, so the restart
    * re-delivers the final batch (its offsets are recorded, its commit
    * is not — exactly the crash-after-side-effect window). */
  private def dropLastCommit(base: String): Unit = {
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(base, "ckpt", "commits")
    val listing = {
      val s = java.nio.file.Files.list(commits)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val last = listing.filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(last)
    // the local FS keeps a .crc sidecar; a stale one makes the re-write
    // look like a concurrent writer to the checkpoint file manager
    java.nio.file.Files.deleteIfExists(
      last.resolveSibling("." + last.getFileName.toString + ".crc"))
  }

  test("sketch streams are idempotent under batch REPLAY (crash after state write, before checkpoint commit)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_replay_")
    try {
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, "en", s"hot hot common w${i % 5} y$i")
      }.toDF("doc_id", "lang", "text")
      val sf = root.resolve("sf")
      mk(0 until 40).coalesce(1)
        .write.parquet(sf.resolve("documents.parquet").toString)
      def grabHh(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1).toSeq
      // Misra-Gries stream: without the last_batch watermark a replayed
      // batch double-merges the summary AND inflates n_total, raising
      // the serve threshold ceil(phi*N) past the truth and dropping
      // genuinely phi-frequent grams
      val hhBase = root.resolve("hh").toString
      val hh1 = grabHh(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sf.toString, "rp1", n = 2, phi = 0.05,
        ingestFiles = 3, baseDir = Some(hhBase)))
      dropLastCommit(hhBase)
      val hh2 = grabHh(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sf.toString, "rp2", n = 2, phi = 0.05,
        ingestFiles = 3, baseDir = Some(hhBase)))
      assert(hh2 == hh1, s"replayed batch double-merged: $hh2 vs $hh1")
      // Count-Min stream: a replayed batch re-appends its slice under
      // the same batch id; loadCm's per-slice dedup must collapse it or
      // every estimate the batch touched inflates
      val cmBase = root.resolve("cm").toString
      val cm1 = grabHh(graft.streaming.Streaming.streamingCountMin(
        spark, sf.toString, "rp3", n = 2, ingestFiles = 3,
        baseDir = Some(cmBase)))
      dropLastCommit(cmBase)
      val cm2 = grabHh(graft.streaming.Streaming.streamingCountMin(
        spark, sf.toString, "rp4", n = 2, ingestFiles = 3,
        baseDir = Some(cmBase)))
      assert(cm2 == cm1, s"replayed slice double-counted: $cm2 vs $cm1")
      // KMV stream: replay idempotence is free (union closure), but pin
      // it so a future state-shape change can't silently lose it
      val kmvBase = root.resolve("kmv").toString
      def grabKmv(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      val kv1 = grabKmv(graft.streaming.Streaming.streamingKmv(
        spark, sf.toString, "rp5", k = 16, ingestFiles = 3,
        baseDir = Some(kmvBase)))
      dropLastCommit(kmvBase)
      val kv2 = grabKmv(graft.streaming.Streaming.streamingKmv(
        spark, sf.toString, "rp6", k = 16, ingestFiles = 3,
        baseDir = Some(kmvBase)))
      assert(kv2 == kv1, s"$kv2 vs $kv1")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("grouped sketch streams: restart + new files equals one shot; batch replay is idempotent per group") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_hhg_rs_")
    try {
      // two languages with different hot phrases; "warm warm" reaches
      // de's φ threshold only once slice B arrives — per-group totals
      // and summaries must both survive the restart
      def mk(ids: Range, enWord: String, deWord: String) = ids.map { i =>
        if (i % 2 == 0) (i.toLong, "en", s"$enWord $enWord $enWord f$i x$i")
        else (i.toLong, "de", s"$deWord $deWord $deWord f$i x$i")
      }.toDF("doc_id", "lang", "text")
      val sfA = root.resolve("sfA"); val sfAll = root.resolve("sfAll")
      mk(0 until 30, "hot", "warm").coalesce(1)
        .write.parquet(sfA.resolve("documents.parquet").toString)
      (mk(0 until 30, "hot", "warm") unionByName
        mk(30 until 60, "hot", "warm")).coalesce(1)
        .write.parquet(sfAll.resolve("documents.parquet").toString)
      val base = root.resolve("base").toString
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).sortBy(t => (t._1, t._2)).toSeq
      val run1 = grab(graft.streaming.Streaming.streamingHeavyHittersByGroup(
        spark, sfA.toString, "hg1", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      // replay the last batch (crash between state commit and
      // checkpoint commit): the per-group watermark must skip it, or
      // every group's n_total inflates and thresholds over-shoot
      dropLastCommit(base)
      val replay = grab(graft.streaming.Streaming.streamingHeavyHittersByGroup(
        spark, sfA.toString, "hg2", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      assert(replay == run1, s"$replay vs $run1")
      // resume with new slices: recount over the full ingested corpus
      mk(30 until 60, "hot", "warm").repartition(2)
        .write.mode("append").parquet(s"$base/ingest")
      val resumed = grab(graft.streaming.Streaming.streamingHeavyHittersByGroup(
        spark, sfA.toString, "hg3", n = 2, phi = 0.05,
        ingestFiles = 2, baseDir = Some(base)))
      val oneShot = grab(graft.streaming.Streaming.streamingHeavyHittersByGroup(
        spark, sfAll.toString, "hg4", n = 2, phi = 0.05,
        ingestFiles = 4))
      assert(resumed == oneShot, s"$resumed vs $oneShot")
      // grouped CM stream: restart + replay through the slice-key store
      val cmBase = root.resolve("cm").toString
      val cm1 = grab(graft.streaming.Streaming.streamingCountMinByGroup(
        spark, sfA.toString, "hg5", n = 2, ingestFiles = 2,
        baseDir = Some(cmBase)))
      dropLastCommit(cmBase)
      val cm2 = grab(graft.streaming.Streaming.streamingCountMinByGroup(
        spark, sfA.toString, "hg6", n = 2, ingestFiles = 2,
        baseDir = Some(cmBase)))
      assert(cm2 == cm1, s"replayed grouped slice double-counted")
      mk(30 until 60, "hot", "warm").repartition(2)
        .write.mode("append").parquet(s"$cmBase/ingest")
      val cmResumed = grab(graft.streaming.Streaming.streamingCountMinByGroup(
        spark, sfA.toString, "hg7", n = 2, ingestFiles = 2,
        baseDir = Some(cmBase)))
      val cmOneShot = grab(graft.streaming.Streaming.streamingCountMinByGroup(
        spark, sfAll.toString, "hg8", n = 2, ingestFiles = 4))
      assert(cmResumed == cmOneShot, s"$cmResumed vs $cmOneShot")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("sketch state commits are crash-atomic: half-written generation debris never shadows the committed state") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_atomic_")
    try {
      def mk(ids: Range) = ids.map { i =>
        (i.toLong, "en", s"hot hot common w${i % 5} y$i")
      }.toDF("doc_id", "lang", "text")
      val sf = root.resolve("sf")
      mk(0 until 40).coalesce(1)
        .write.parquet(sf.resolve("documents.parquet").toString)
      def grab(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1).toSeq
      val base = root.resolve("hh").toString
      val run1 = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sf.toString, "at1", n = 2, phi = 0.05,
        ingestFiles = 3, baseDir = Some(base)))
      // the state must live under a pointer-committed generation, not a
      // plain overwritten dir — that's what MAKES the crash window safe
      val ptr = java.nio.file.Paths.get(base, "hhstate.ptr")
      assert(java.nio.file.Files.exists(ptr), "state is not pointer-committed")
      val live = new String(
        java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim
      // simulate a crash MID-WRITE of the next generation: debris dir
      // with a torn file exists, pointer still names the old generation
      val debris = java.nio.file.Paths.get(base, "hhstate.g9998")
      java.nio.file.Files.createDirectories(debris)
      java.nio.file.Files.write(debris.resolve("part-torn.parquet"),
        Array[Byte](0, 1, 2, 3))
      // restart with nothing new: the re-seed must read the COMMITTED
      // generation (debris is invisible — resolveDataDir follows the
      // pointer), and the answer is the pre-crash one
      val idle = grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sf.toString, "at2", n = 2, phi = 0.05,
        ingestFiles = 3, baseDir = Some(base)))
      assert(idle == run1, s"$idle vs $run1")
      // and a restart that COMMITS (new files arrive) sweeps the debris
      mk(40 until 50).repartition(1)
        .write.mode("append").parquet(s"$base/ingest")
      grab(graft.streaming.Streaming.streamingHeavyHitters(
        spark, sf.toString, "at3", n = 2, phi = 0.05,
        ingestFiles = 3, baseDir = Some(base)))
      assert(!java.nio.file.Files.exists(debris),
        "superseded/torn generation debris not swept on commit")
      val live2 = new String(java.nio.file.Files.readAllBytes(ptr),
        "UTF-8").trim
      assert(live2 != live, "commit did not advance the state generation")
    } finally {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
