package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The portable k-means must equal a plain in-JVM Lloyd with the same
  * init/rounding rules — pins the distributed composition (fused argmax,
  * slim means agg, empty-cluster carry) against sequential truth. */
class KmeansSpec extends AnyFunSuite {
  import SparkSpec.{spark, sf}

  test("distributed kmeans equals sequential Lloyd with identical rounding") {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val k = 4; val iters = 2
    val dim = rows.head._2.length
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // farthest-first init, same rules as the operator: c0 = smallest
    // id; next = argmin over max 6dp cosine to the chosen set, ties to
    // the smallest id; cluster id = selection order
    def cos6(v: Array[Double], c: Array[Double]): Double = {
      val dot = v.zip(c).map { case (a, b) => a * b }.sum
      r6(dot / (math.sqrt(v.map(x => x * x).sum) *
        math.sqrt(c.map(x => x * x).sum)))
    }
    val chosen = scala.collection.mutable.ArrayBuffer(rows.head)
    while (chosen.size < k) {
      val ids = chosen.map(_._1).toSet
      val pick = rows.filter(r => !ids(r._1))
        .map { case (id, v) => (chosen.map(c => cos6(v, c._2)).max, id, v) }
        .minBy(t => (t._1, t._2))
      chosen += ((pick._2, pick._3))
    }
    var cents: Seq[Array[Double]] = chosen.map(_._2).toSeq
    def assign(v: Array[Double]): (Int, Double) = {
      val xsq = v.map(x => x * x).sum
      var best = (-1, -2.0)
      for ((c, i) <- cents.zipWithIndex) {
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        val nb = c.map(x => x * x).sum
        val cos = r6(dot / (math.sqrt(xsq) * math.sqrt(nb)))
        if (cos > best._2) best = (i, cos)
      }
      best
    }
    for (_ <- 1 to iters) {
      val asg = rows.map { case (_, v) => (assign(v)._1, v) }
      cents = cents.zipWithIndex.map { case (prev, i) =>
        val members = asg.filter(_._1 == i).map(_._2)
        if (members.isEmpty) prev
        else (0 until dim).map(p => r6(members.map(_(p)).sum / members.length))
          .toArray
      }
    }
    val exp = rows.map { case (id, v) =>
      val (cl, cos) = assign(v); (id, cl, cos) }.toSeq
    val got = Similarity.kmeans(
        spark.read.parquet(s"$sf/embeddings.parquet"),
        "embedding", "vec_id", k, iters)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == exp,
      s"first diffs: ${got.zip(exp).filter(p => p._1 != p._2).take(3)}")
    graft.operators.CacheScope.global.release()
  }

  test("cellQualityGain: the real fit beats the global baseline; an arbitrary assignment does not (s23's tripwire)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    // the real MLlib fit must strictly beat the k=1 global baseline …
    val fitted = Similarity.kmeansCells(emb, "embedding", k = 8)
    val (q, b) = Similarity.cellQualityGain(fitted, "embedding",
      "vec_id", "cell")
    assert(q > b, s"real fit quality $q does not beat baseline $b")
    // … while a degenerate assignment (cells by id modulo — the shape
    // of a silently broken trainer: deterministic, plausible-looking,
    // learned nothing) fails the SAME check: its cell centroids are
    // each ≈ the global mean, so the gain collapses
    import org.apache.spark.sql.functions._
    val arbitrary = emb.withColumn("cell", (col("vec_id") % 8).cast("int"))
    val (qa, ba) = Similarity.cellQualityGain(arbitrary, "embedding",
      "vec_id", "cell")
    assert(qa - ba < (q - b) / 2,
      s"arbitrary assignment gain ${qa - ba} should collapse vs real ${q - b}")
    graft.operators.CacheScope.global.release()
  }

  test("model store: serve == fit; refit supersedes atomically; torn generation invisible") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_km_store_").toString
    val fit2 = Similarity.kmeansFit(emb, "embedding", "vec_id", 3, 2)
    Similarity.saveKmeansModel(fit2, dir, 3, 64)
    def serve(): Seq[(Long, Int)] =
      Similarity.assignToCentroids(emb,
          Similarity.loadKmeansModel(spark, dir), "embedding", "vec_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val direct = Similarity.kmeans(emb, "embedding", "vec_id", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(serve() == direct, "stored-model serve != one-shot assignment")
    // refit with different iters: the generation commit supersedes the
    // old model; a crash-torn HALF-WRITTEN generation (no pointer flip)
    // must stay invisible to loads
    val fit3 = Similarity.kmeansFit(emb, "embedding", "vec_id", 3, 3)
    Similarity.saveKmeansModel(fit3, dir, 3, 64)
    val after = serve()
    assert(after == Similarity.kmeans(emb, "embedding", "vec_id", 3, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq)
    val torn = java.nio.file.Paths.get(dir, "centroids.g9999")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk.parquet"), "x")
    assert(serve() == after, "torn generation changed the served model")
    SparkSpec.assertParamsMatchReference(dir)
    graft.operators.CacheScope.global.release()
  }

  test("streaming assignment of an empty corpus serves the empty frame") {
    import spark.implicits._
    // the streamingQuantile empty-corpus contract: an all-empty ingest
    // never writes the output dir — serve empty, not FileNotFoundException
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val modelDir = java.nio.file.Files
      .createTempDirectory("graft_km_empty_model_").toString
    Similarity.saveKmeansModel(
      Similarity.kmeansFit(emb, "embedding", "vec_id", 3, 1), modelDir, 3, 64)
    val sfEmpty = java.nio.file.Files
      .createTempDirectory("graft_km_empty_sf_")
    emb.limit(0).write
      .parquet(sfEmpty.resolve("embeddings.parquet").toString)
    val out = graft.streaming.Streaming.streamingKmeansAssign(
      spark, sfEmpty.toString, "kme", modelDir, ingestFiles = 1)
    assert(out.columns.toSeq == Seq("vec_id", "cluster", "cos"))
    assert(out.isEmpty)
    graft.operators.CacheScope.global.release()
  }

  test("dimension mismatches refuse loudly instead of emitting null-cosine garbage") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // a 3-dim centroid table against 64-dim vectors: the fused ‖x‖²
    // guard must raise with the dims named, not assign cluster −1
    val tiny = Seq((0, 0, 0.1), (0, 1, 0.2), (0, 2, 0.3))
      .toDF("cluster", "pos", "c")
    val e = intercept[Exception] {
      Similarity.assignToCentroids(emb, tiny, "embedding", "vec_id")
        .collect()
    }
    assert(e.getMessage.contains("centroid dim 3") ||
      Option(e.getCause).exists(_.getMessage.contains("centroid dim 3")),
      s"unexpected error: ${e.getMessage}")
    // a save whose declared geometry disagrees with the fit refuses
    val fit = Similarity.kmeansFit(emb, "embedding", "vec_id", 3, 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_km_badgeo_").toString
    val e2 = intercept[IllegalArgumentException] {
      Similarity.saveKmeansModel(fit, dir, 3, 32) // real dim is 64
    }
    assert(e2.getMessage.contains("does not describe this fit"))
    graft.operators.CacheScope.global.release()
  }
}
