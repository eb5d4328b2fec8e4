package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for embedding-vector work.
  *
  * These are the engine's "custom kernel" path: where the reference JIT-
  * compiles generated CUDA for per-row expressions
  * (`/root/reference/src/jit.cpp:48-174`), the Spark-native equivalent is a
  * Catalyst `Expression` with `doGenCode` so the inner loop is compiled into
  * the whole-stage-codegen'd Java of the enclosing stage — no UDF
  * serialization boundary, no boxing per element.
  */

/** Cosine similarity between two float-array columns, accumulated in double.
  *
  * Returns NULL if either side is null; 0.0 if either norm is zero. O(d) per
  * row, fused into the surrounding stage by codegen — at 100 TB this runs
  * inside the scan/join stage with zero extra passes.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $x.getFloat($i);
         |  double $yv = (double) $y.getFloat($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $dot / Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance between two float-array columns, accumulated in
  * double. The product-quantization distance kernel (subspace→centroid
  * distances for encode and ADC tables); codegen'd for the same reason as
  * [[CosineSimilarity]] — the loop fuses into the enclosing stage. */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_squared"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $x.getFloat($i) - (double) $y.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a token array (Charikar'02 random-hyperplane sketch for
  * text; the scalable near-dup scheme of Manku/Jain/Sarma, WWW'07).
  *
  * Each token contributes ±1 per bit position according to a 64-bit token
  * hash; the fingerprint sets bit i iff the column sum is positive. Hamming
  * distance between fingerprints tracks weighted-token similarity, and
  * fingerprints are join-partitionable (see Dedup.simHash) — the property
  * that makes this the 100 TB-friendly near-dup primitive.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash64.compute(new Array[Int](64), arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, c => {
      val counters = ctx.freshName("counters")
      s"""
         |int[] $counters = new int[64];
         |${ev.value} = $cls.MODULE$$.compute($counters, $c);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** 64-bit string hash (FNV-1a over UTF-8 bytes — public-domain algorithm;
    * any well-mixed 64-bit hash works, it only needs to be deterministic). */
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    // final avalanche (splitmix64 finalizer) for good bit independence
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Shared by interpreted eval and codegen. */
  def compute(counters: Array[Int], tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = hash64(tokens.getUTF8String(t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** b-bit random-hyperplane LSH signature for an embedding vector.
  *
  * Plane coefficients are a pure deterministic function of (seed, bit, dim)
  * — splitmix64 mapped to [-1, 1) — so executors need no broadcast state and
  * re-runs are reproducible. Vectors with high cosine similarity collide on
  * most bits (P[bit match] = 1 - angle/pi, Charikar'02), so banding the
  * signature gives candidate buckets for ANN / near-dup search.
  */
case class RandomHyperplaneSignature(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  require(bits > 0 && bits <= 64, "bits must be in 1..64")

  override def dataType: DataType = LongType
  override def prettyName: String = "rhp_signature"

  override def nullSafeEval(input: Any): Any =
    RandomHyperplaneSignature.compute(
      input.asInstanceOf[ArrayData], bits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = RandomHyperplaneSignature.getClass.getName.stripSuffix("$") + "$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $cls.MODULE$$.compute($c, $bits, ${seed}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): RandomHyperplaneSignature =
    copy(child = newChild)
}

object RandomHyperplaneSignature {
  /** Hash-FAMILY tag recorded in persisted LSH index params and
    * validated on every read/append: signatures from different coefficient
    * families are incomparable (same bits/bands/seed notwithstanding), and
    * a cross-family probe does not fail — it silently collapses recall.
    * Bump this whenever [[coeff]]'s distribution or derivation changes
    * (it was bumped for the uniform→Gaussian cutover). */
  val family: String = "rhp-gauss-boxmuller-v2"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic standard-Gaussian plane coefficient (Box–Muller over
    * two splitmix64 streams). Gaussian normals make the hyperplane
    * directions spherically symmetric, which is what gives sign-LSH its
    * PER-PAIR guarantee P(bit agrees) = 1 − θ/π (Goemans–Williamson):
    * a non-symmetric family can realize agreement far from that
    * expectation on structured pairs and silently gut recall. The
    * previous uniform variant was also biased — `(h >>> 11)` is 53 bits
    * over a 2⁵² divisor, mapping to [-1, 3) — so every hyperplane leaned
    * toward the all-positive orthant; a cosine-0.47 pair in the sf0.1
    * embeddings realized 0.19 bit agreement (expected 0.66) and survived
    * 32 bands of LSH dedup. */
  def coeff(seed: Long, bit: Int, dim: Int): Double = {
    val h1 = mix(seed ^ (bit.toLong << 32) ^ dim.toLong)
    val h2 = mix(h1 ^ 0x6a09e667f3bcc909L)
    // u1 ∈ (0, 1] (never 0: the log stays finite), u2 ∈ [0, 1)
    val u1 = ((h1 >>> 11) + 1).toDouble / (1L << 53).toDouble
    val u2 = (h2 >>> 11).toDouble / (1L << 53).toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def compute(v: ArrayData, bits: Int, seed: Long): Long = {
    val d = v.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < d) {
        dot += v.getFloat(i).toDouble * coeff(seed, b, i)
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** MinHash signature + LSH band bucket hashes in ONE compact kernel.
  *
  * Input: array<string> of shingles. For each of `numHashes` Carter-Wegman
  * functions `(a·x + b) mod p` (p = 2³¹−1) over the FNV64-hashed shingles,
  * keep the minimum; then mix each band of r = numHashes/bands consecutive
  * minhashes into one 64-bit bucket hash. Output: array<long> of `bands`
  * bucket values.
  *
  * Exists as a custom Expression for compile-shape reasons as much as run
  * time: the equivalent higher-order-function composition unrolls into
  * `numHashes` separate array-transform subtrees whose generated Java takes
  * seconds to Janino-compile per query — this is one short loop.
  */
case class MinHashBandHashes(child: Expression, numHashes: Int, bands: Int,
                             seed: Long)
    extends UnaryExpression {
  require(numHashes % bands == 0, "bands must divide numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_hashes"

  private val P = 2147483647L
  @transient private lazy val (as, bs): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    (Array.fill(numHashes)(1L + rnd.nextLong(P - 1)),
     Array.fill(numHashes)(rnd.nextLong(P)))
  }

  /** Called from both interpreted eval and generated code. */
  def compute(shingles: ArrayData): ArrayData = {
    val r = numHashes / bands
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val x = java.lang.Math.floorMod(
          SimHash64.hash64(shingles.getUTF8String(i)), P)
        var j = 0
        while (j < numHashes) {
          val v = java.lang.Math.floorMod(as(j) * x + bs(j), P)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = seed ^ (b.toLong * 0x9e3779b97f4a7c15L)
      var j = b * r
      while (j < (b + 1) * r) {
        acc ^= mins(j) + 0x9e3779b97f4a7c15L + (acc << 6) + (acc >>> 2)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this,
      classOf[MinHashBandHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashes =
    copy(child = newChild)
}

/** 8-bit scalar quantization of a float-vector column (the FAISS/Milvus
  * `SQ8` layout): dimension i of the input maps to
  * `clamp(floor((x_i − mins(i)) / steps(i)), 0, 255)` stored as one byte —
  * a BinaryType value of exactly `mins.length` bytes, 4× smaller than the
  * float32 array at rest AND in the shuffle/broadcast. `mins`/`steps` are
  * the per-dimension bounds trained once on the corpus
  * ([[graft.operators.Similarity.sq8Train]]); a constant-dimension
  * (step = 0) encodes as 0. Inputs shorter than the trained dim encode
  * their missing tail as 0 — the operator layer rejects dim mismatches
  * up front, this is just the total-function fallback. */
case class Sq8Encode(child: Expression, mins: Array[Double],
                     steps: Array[Double]) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_encode"

  private def quantize(x: Double, i: Int): Byte = {
    val s = steps(i)
    if (s == 0.0) 0.toByte
    else {
      val c = math.floor((x - mins(i)) / s)
      (if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt).toByte
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), mins.length)
    val out = new Array[Byte](mins.length)
    var i = 0
    while (i < n) {
      out(i) = quantize(v.getFloat(i).toDouble, i)
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val minsRef = ctx.addReferenceObj("sq8mins", mins, "double[]")
    val stepsRef = ctx.addReferenceObj("sq8steps", steps, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      s"""
         |int $n = Math.min($v.numElements(), $minsRef.length);
         |byte[] $out = new byte[$minsRef.length];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($stepsRef[$i] != 0.0) {
         |    double $c = Math.floor(((double) $v.getFloat($i) - $minsRef[$i])
         |      / $stepsRef[$i]);
         |    $out[$i] = (byte) ($c < 0.0 ? 0 : ($c > 255.0 ? 255 : (int) $c));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

/** Weighted sum of SQ8 code bytes: `Σ_i weights_i · codes_i` with codes
  * read unsigned. This is the whole asymmetric-distance kernel for scalar
  * quantization: for reconstruction x̂_i = mins_i + (c_i + 0.5)·steps_i,
  * the approximate dot product `Σ q_i·x̂_i` equals a per-query CONSTANT
  * plus this sum with weights_i = q_i·steps_i — the constant shifts every
  * candidate of a query equally, so ranking needs only this loop: one
  * fused multiply-add per BYTE of the corpus, inside whole-stage codegen,
  * no float vectors touched. */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val w = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[Array[Byte]]
    val n = math.min(w.numElements(), codes.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += w.getDouble(i) * (codes(i) & 0xff)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, codes) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = Math.min($w.numElements(), $codes.length);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $w.getDouble($i) * ($codes[$i] & 0xff);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8Dot =
    copy(left = newLeft, right = newRight)
}

/** Column-level API over the custom expressions. */
object VectorFunctions {
  def cosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2Squared(a: Column, b: Column): Column =
    ColumnBridge.column(L2Squared(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  def rhpSignature(vec: Column, bits: Int, seed: Long): Column =
    ColumnBridge.column(RandomHyperplaneSignature(
      ColumnBridge.expression(vec), bits, seed))

  def minhashBandHashes(shingles: Column, numHashes: Int, bands: Int,
                        seed: Long = 42L): Column =
    ColumnBridge.column(MinHashBandHashes(
      ColumnBridge.expression(shingles), numHashes, bands, seed))

  def sq8Encode(vec: Column, mins: Array[Double], steps: Array[Double]): Column =
    ColumnBridge.column(Sq8Encode(ColumnBridge.expression(vec), mins, steps))

  def sq8Dot(weights: Column, codes: Column): Column =
    ColumnBridge.column(Sq8Dot(
      ColumnBridge.expression(weights), ColumnBridge.expression(codes)))
}
