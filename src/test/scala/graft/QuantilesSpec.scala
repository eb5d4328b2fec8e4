package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Quantiles

/** Exact-quantile refinement: answers must equal the sort-based
  * percentile_disc truth EXACTLY (no epsilon — the operator's whole
  * claim), across duplicates, skew, FP-adjacent values, and the
  * persisted-store/append/replay lifecycle. */
class QuantilesSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  /** percentile_disc truth: value at rank ceil(q·n), 1-indexed. */
  private def disc(vals: Seq[Double], q: Double): Double = {
    val s = vals.sorted
    s((math.ceil(q * s.size).toLong max 1L).toInt - 1)
  }

  test("global quantiles equal sort truth on skewed data with duplicates") {
    val rnd = new scala.util.Random(42)
    // heavy ties (ints 0..49) + a long tail — both rank-walk branches
    val vals = Seq.fill(5000)(rnd.nextInt(50).toDouble) ++
      Seq.fill(500)(rnd.nextDouble() * 1e9) ++ Seq.fill(100)(7.0)
    val df = vals.toDF("v")
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = Quantiles.exactQuantiles(df, "v", qs, bins = 16)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    qs.foreach { q =>
      assert(got(q) == disc(vals, q),
        s"q=$q: got ${got(q)}, truth ${disc(vals, q)}")
    }
    graft.operators.CacheScope.global.release()
  }

  test("adjacent-double and subnormal-width intervals still converge exactly") {
    // hi − lo = one ulp: bucket width is normal but tiny
    val a = Seq.fill(10)(1.0) ++ Seq.fill(10)(math.nextUp(1.0))
    val gotA = Quantiles.exactQuantiles(a.toDF("v"), "v", Seq(0.5, 0.9),
      bins = 4).collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(gotA(0.5) == disc(a, 0.5) && gotA(0.9) == disc(a, 0.9))
    // hi − lo subnormal enough that width/bins underflows to 0: the
    // two-way x <= lo split must take over and still give the exact rank
    val b = Seq.fill(7)(0.0) ++ Seq.fill(3)(java.lang.Double.MIN_VALUE)
    val gotB = Quantiles.exactQuantiles(b.toDF("v"), "v", Seq(0.5, 0.8),
      bins = 256).collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(gotB(0.5) == disc(b, 0.5) && gotB(0.8) == disc(b, 0.8))
    graft.operators.CacheScope.global.release()
  }

  test("grouped quantile: per-group truth, single-value groups, null/NaN excluded") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3000).map { i =>
      (s"g${i % 5}", rnd.nextGaussian() * (i % 5 + 1))
    } ++ Seq(("solo", 42.0))
    val withJunk = rows.map { case (g, v) => (g, Option(v)) }
      .toDF("g", "v")
      .union(Seq(("g0", Some(Double.NaN)), ("g1", Option.empty[Double]))
        .toDF("g", "v"))
    val got = Quantiles.exactQuantilesByGroup(withJunk, "g", "v", 0.5,
        bins = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = rows.groupBy(_._1).map { case (g, vs) =>
      g -> disc(vs.map(_._2), 0.5) }
    assert(got == truth)
    graft.operators.CacheScope.global.release()
  }

  test("histogram store: append == one-shot; replay idempotent; overflow bucket exact; geometry refusal") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 4000).map(i =>
      (i.toLong, s"g${i % 3}", rnd.nextInt(500).toDouble))
    val df = rows.toDF("id", "g", "v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qstore_").toString
    // geometry DELIBERATELY narrower than the data ([0,100) vs 0..499):
    // ~80% of values land in the overflow bucket and the serve must
    // still be exact via the refinement continuation
    val (lo, hi, bins) = (0.0, 100.0, 16)
    Quantiles.saveHistogram(
      Quantiles.histogramByGroup(df.filter(col("id") % 2 === 0),
        "g", "v", lo, hi, bins), dir, lo, hi, bins, sliceId = "even")
    Quantiles.appendHistogram(
      Quantiles.histogramByGroup(df.filter(col("id") % 2 =!= 0),
        "g", "v", lo, hi, bins), dir, lo, hi, bins, sliceId = "odd")
    val truth = rows.groupBy(_._2).map { case (g, vs) =>
      g -> disc(vs.map(_._3), 0.9) }
    def serve(): Map[String, Double] =
      Quantiles.quantileByGroupFromStore(df, "g", "v", dir, 0.9, bins = 8)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(serve() == truth, "store serve != one-shot sort truth")
    // at-least-once replay: byte-identical re-append of a slice id must
    // collapse in the per-slice dedup — answers unchanged
    Quantiles.appendHistogram(
      Quantiles.histogramByGroup(df.filter(col("id") % 2 =!= 0),
        "g", "v", lo, hi, bins), dir, lo, hi, bins, sliceId = "odd")
    assert(serve() == truth, "replayed slice changed the served quantile")
    SparkSpec.assertParamsMatchReference(dir)
    // different geometry must refuse, not silently mis-merge
    val e = intercept[IllegalArgumentException] {
      Quantiles.appendHistogram(
        Quantiles.histogramByGroup(df, "g", "v", lo, 200.0, bins),
        dir, lo, 200.0, bins, sliceId = "bad")
    }
    assert(e.getMessage.contains("geometry"))
    graft.operators.CacheScope.global.release()
  }

  test("weighted quantile equals the cumulative-weight sort truth; zero weights inert") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 2000).map { i =>
      (s"g${i % 3}", rnd.nextInt(300).toDouble, rnd.nextInt(10).toLong)
    }
    def truth(vs: Seq[(Double, Long)], q: Double): Double = {
      val tot = vs.map(_._2).sum
      val r = math.ceil(q * tot).toLong max 1L
      var cum = 0L
      vs.sortBy(_._1).find { case (_, w) => cum += w; cum >= r }.get._1
    }
    val got = Quantiles.exactWeightedQuantilesByGroup(
        rows.toDF("g", "v", "w"), "g", "v", "w", 0.5, bins = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = rows.groupBy(_._1).map { case (g, rs) =>
      // zero-weight rows can never satisfy the threshold first — the
      // truth walk skips them implicitly (cum unchanged), the operator
      // filters them; both give the same minimal value
      g -> truth(rs.map(t => (t._2, t._3)).filter(_._2 > 0), 0.5) }
    assert(got == exp)
    graft.operators.CacheScope.global.release()
  }

  test("madByGroup equals sort truth; sketch bounds bracket the true quantile") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 2500).map(i =>
      (i.toLong, s"g${i % 4}", rnd.nextInt(1000).toDouble))
    val df = rows.toDF("id", "g", "v")
    val got = Quantiles.madByGroup(df, "g", "v", bins = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val exp = rows.groupBy(_._2).map { case (g, rs) =>
      val vs = rs.map(_._3)
      val med = disc(vs, 0.5)
      (g, med, disc(vs.map(v => math.abs(v - med)), 0.5))
    }.toSeq.sortBy(_._1)
    assert(got == exp)
    // bounds-only serve: the true median must lie inside the stored
    // bucket's [mn, mx], and the bounds must be actual data values
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qbounds_").toString
    val (lo, hi, bins) = (0.0, 512.0, 32) // data runs to 1000: overflow live
    Quantiles.saveHistogram(
      Quantiles.histogramByGroup(df, "g", "v", lo, hi, bins),
      dir, lo, hi, bins)
    val bounds = Quantiles.quantileBoundsFromStore(spark, dir, 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val valSet = rows.map(_._3).toSet
    exp.foreach { case (g, med, _) =>
      val (bl, bh) = bounds(g)
      assert(bl <= med && med <= bh, s"$g: median $med outside [$bl, $bh]")
      assert(valSet.contains(bl) && valSet.contains(bh),
        s"$g: bounds not data values")
    }
    graft.operators.CacheScope.global.release()
  }

  test("coarsened store serves the exact quantile; fold equals native coarse build; bad factors refuse") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 3000).map(i =>
      (i.toLong, s"g${i % 3}", rnd.nextInt(400).toDouble))
    val df = rows.toDF("id", "g", "v")
    val (lo, hi) = (0.0, 256.0) // power-of-two widths: fold ≡ native
    val src = java.nio.file.Files
      .createTempDirectory("graft_qc_src_").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_qc_dst_").toString
    Quantiles.saveHistogram(
      Quantiles.histogramByGroup(df, "g", "v", lo, hi, 64),
      src, lo, hi, 64)
    Quantiles.coarsenHistogramStore(spark, src, dst, factor = 4)
    // the folded store is a valid partition: the serve continues the
    // refinement from its exact rank prefixes and lands on the exact
    // percentile_disc value
    val served = Quantiles.quantileByGroupFromStore(df, "g", "v", dst, 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = rows.groupBy(_._2).map { case (g, rs) =>
      g -> disc(rs.map(_._3), 0.5) }
    assert(served == truth)
    // at power-of-two widths the fold is bit-equal to building
    // natively at the coarse geometry
    val native = Quantiles.histogramByGroup(df, "g", "v", lo, hi, 16)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val folded = Quantiles.loadHistogram(spark, dst)._1.collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(folded == native, "fold diverged from the native coarse build")
    // non-dividing and degenerate factors refuse
    intercept[IllegalArgumentException] {
      Quantiles.coarsenHistogram(
        Quantiles.histogramByGroup(df, "g", "v", lo, hi, 64), 64, 5)
    }
    intercept[IllegalArgumentException] {
      Quantiles.coarsenHistogram(
        Quantiles.histogramByGroup(df, "g", "v", lo, hi, 64), 64, 64)
    }
    graft.operators.CacheScope.global.release()
  }

  test("±Infinity excluded like NaN — never a silent misorder or a maxPasses loop") {
    val rnd = new scala.util.Random(23)
    val clean = (0 until 1500).map(i => (s"g${i % 3}", rnd.nextInt(400).toDouble))
    val junk = Seq(("g0", Double.PositiveInfinity),
      ("g1", Double.NegativeInfinity), ("g2", Double.NaN))
    val got = Quantiles.exactQuantilesByGroup(
        (clean ++ junk).toDF("g", "v"), "g", "v", 0.5, bins = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exp = clean.groupBy(_._1).map { case (g, vs) =>
      g -> disc(vs.map(_._2), 0.5) }
    assert(got == exp)
    // the store path states the same policy: infinite rows never land
    // in a bucket (not even overflow — they have no finite extent)
    val hist = Quantiles.histogramByGroup(
        (clean ++ junk).toDF("g", "v"), "g", "v", 0.0, 100.0, 4)
      .agg(sum("cnt")).collect().head.getLong(0)
    assert(hist == clean.size)
    graft.operators.CacheScope.global.release()
  }

  test("fractional weights refuse loudly; integer-valued doubles accepted") {
    val rows = Seq(("g0", 1.0, 2.0), ("g0", 2.0, 0.9), ("g0", 3.0, 1.0))
    val e = intercept[Exception] {
      Quantiles.exactWeightedQuantilesByGroup(
        rows.toDF("g", "v", "w"), "g", "v", "w", 0.5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("non-integer weight")),
      s"unexpected error: ${e.getMessage}")
    // integer-valued doubles are fine (the documented value semantics,
    // not a static type restriction); null weights still drop silently
    val ok = Seq(("g0", 1.0, Some(2.0)), ("g0", 2.0, Some(3.0)),
        ("g0", 3.0, Option.empty[Double]))
      .toDF("g", "v", "w")
    val got = Quantiles.exactWeightedQuantilesByGroup(
        ok, "g", "v", "w", 0.5).collect().head.getDouble(1)
    assert(got == 2.0) // ranks: 1.0 has w2 (cum 2), 2.0 has w3 (cum 5); r=ceil(0.5*5)=3
    graft.operators.CacheScope.global.release()
  }

  test("q domain validated; convergence declared within maxPasses on adversarial clusters") {
    intercept[IllegalArgumentException] {
      Quantiles.exactQuantiles(Seq(1.0).toDF("v"), "v", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      Quantiles.exactQuantiles(Seq(1.0).toDF("v"), "v", Seq(1.1))
    }
    // two tight clusters a huge gulf apart: early passes collapse one
    // side into single buckets — must still land exactly
    val vals = (0 until 100).map(i => 1e-9 + i * 1e-18) ++
      (0 until 100).map(i => 1e9 + i)
    val got = Quantiles.exactQuantiles(vals.toDF("v"), "v", Seq(0.5),
        bins = 4)
      .collect().head.getDouble(1)
    assert(got == disc(vals, 0.5))
    graft.operators.CacheScope.global.release()
  }
}
