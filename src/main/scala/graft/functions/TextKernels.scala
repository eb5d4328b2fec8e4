package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions.{array, coalesce}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the per-document text-statistics folds.
  *
  * The repetition suite and the DSIR scorer were previously spelled as
  * higher-order-function folds (`aggregate` over `array_sort`ed shingle
  * arrays, `element_at` against a map literal). HOF lambdas do NOT
  * participate in whole-stage codegen: every element evaluates an
  * interpreted expression tree (tree-walking + boxing + a fresh struct
  * row per step), and `element_at` on a map LITERAL is a linear scan of
  * the key array per lookup. These kernels compute the identical values
  * in one compiled JVM method per row — same counts, same tie-breaks,
  * same double accumulation order — and plug into whole-stage codegen via
  * `doGenCode` like the [[CosineSimilarity]] family, so the surrounding
  * scan stage stays a single fused pass (guide §1.2 step 2 / §4: per-task
  * work, after the distributed shape is right).
  *
  * Semantics contracts (pinned by TextKernelsSpec against the original
  * Column spellings):
  *   - [[GramRunStats]](toks, minN, maxN) ≡ for each n:
  *     `sortedRunStats(array_sort(shinglesOf(toks, n)))` from
  *     [[graft.operators.Repetition]] — n-token windows joined by one
  *     space (concat_ws semantics: null tokens are SKIPPED, not joined),
  *     run-length stats over the sorted gram multiset: most frequent gram
  *     (ties → lexicographically smallest under UTF8String byte order,
  *     exactly `array_sort`'s comparator), total occurrences and total
  *     CHARACTER mass (Spark `length` = code points, not bytes) of grams
  *     occurring ≥ 2 times.
  *   - [[ElemRunStats]](arr) ≡ `sortedRunStats(array_sort(arr))` over the
  *     raw elements (the line-stats case), including the null-element
  *     corner: sorted nulls group last and never satisfy the fold's
  *     null-safe `prev === x`, so each null is its own run of 1 — it can
  *     only become the top entry when there are NO non-null elements.
  *   - [[DsirLogWeight]](toks, lam) ≡ `aggregate(featureBuckets(text, b),
  *     0.0, (acc, bkt) => acc + λ(bkt))` from [[graft.operators.Dsir]]:
  *     per bigram (left to right — double accumulation order preserved),
  *     bucket = int of the first 4 hex chars of md5(gram) mod b, weight
  *     summed from the λ table (always total: trained over range(b)).
  */
object TextKernels {

  private[functions] val StatsStruct = StructType(Seq(
    StructField("top_cnt", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = true),
    StructField("dup_occ", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  private val Space = UTF8String.fromString(" ")

  private def zeroRow: GenericInternalRow =
    new GenericInternalRow(Array[Any](0L, null, 0L, 0L))

  /** Run-length stats over a gram multiset presented as a hash map of
    * gram -> (count, charLen). Identical outcome to folding the sorted
    * array: sortedness only makes equal grams adjacent (the map's
    * equality) and decides ties (explicit compare here). */
  private def statsOf(counts: java.util.HashMap[UTF8String, Array[Long]])
      : GenericInternalRow = {
    var topCnt = 0L
    var topGram: UTF8String = null
    var dupOcc = 0L
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue()(0)
      if (c > topCnt ||
          (c == topCnt && (topGram == null || e.getKey.compareTo(topGram) < 0))) {
        topCnt = c
        topGram = e.getKey
      }
      if (c >= 2) {
        dupOcc += c
        dupChars += c * e.getValue()(1)
      }
    }
    new GenericInternalRow(Array[Any](topCnt, topGram, dupOcc, dupChars))
  }

  /** Tokens of an array column as UTF8Strings (null entries preserved). */
  private def toksOf(arr: ArrayData): Array[UTF8String] = {
    val t = arr.numElements()
    val toks = new Array[UTF8String](t)
    var i = 0
    while (i < t) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i)
      i += 1
    }
    toks
  }

  /** All-n gram run stats: returns one stats row per n in [minN, maxN].
    * Single joined-bytes pass: gram (i, n) is the byte slice
    * [start(i), start(i+n)−1) of the space-joined token array, so gram
    * construction is an offset pair, not a string build — unless the
    * token array carries nulls (never from `split`; handled exactly via
    * `UTF8String.concatWs`, which skips nulls like `concat_ws`). */
  def gramRunStatsAll(arr: ArrayData, minN: Int, maxN: Int): ArrayData = {
    val t = arr.numElements()
    val toks = toksOf(arr)
    var hasNull = false
    var i = 0
    while (i < t) { if (toks(i) == null) hasNull = true; i += 1 }
    // joined bytes + per-token byte offsets + prefix char counts
    var joined: Array[Byte] = null
    var bOff: Array[Int] = null
    var cPre: Array[Int] = null
    if (!hasNull && t > 0) {
      var total = t - 1
      i = 0
      while (i < t) { total += toks(i).numBytes(); i += 1 }
      joined = new Array[Byte](total)
      bOff = new Array[Int](t + 1)
      cPre = new Array[Int](t + 1)
      var off = 0
      i = 0
      while (i < t) {
        bOff(i) = off
        cPre(i + 1) = cPre(i) + toks(i).numChars()
        toks(i).writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + off)
        off += toks(i).numBytes()
        if (i < t - 1) joined(off) = ' '.toByte
        off += 1
        i += 1
      }
      bOff(t) = total + 1 // virtual trailing separator
    }
    val out = new Array[Any](maxN - minN + 1)
    var n = minN
    while (n <= maxN) {
      val m = t - n + 1
      out(n - minN) =
        if (m <= 0) zeroRow
        else {
          val counts = new java.util.HashMap[UTF8String, Array[Long]](
            Integer.highestOneBit(math.max(m, 8)) * 4)
          var j = 0
          while (j < m) {
            val gram =
              if (!hasNull)
                UTF8String.fromBytes(joined, bOff(j), bOff(j + n) - 1 - bOff(j))
              else {
                val parts = new Array[UTF8String](n)
                var k = 0
                while (k < n) { parts(k) = toks(j + k); k += 1 }
                UTF8String.concatWs(Space, parts: _*)
              }
            val e = counts.get(gram)
            if (e == null) {
              val charLen =
                if (!hasNull) (cPre(j + n) - cPre(j) + (n - 1)).toLong
                else gram.numChars().toLong
              counts.put(gram, Array(1L, charLen))
            } else e(0) += 1L
            j += 1
          }
          statsOf(counts)
        }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Run stats over the raw elements (lines). Null elements: each is its
    * own run of 1 under the fold's null-safe equality, so they never add
    * duplicate mass and only take `top` when no non-null element exists
    * (sorted order puts them last). */
  def elemRunStats(arr: ArrayData): GenericInternalRow = {
    val t = arr.numElements()
    if (t == 0) return zeroRow
    val counts = new java.util.HashMap[UTF8String, Array[Long]](
      Integer.highestOneBit(math.max(t, 8)) * 4)
    var nNulls = 0
    var i = 0
    while (i < t) {
      if (arr.isNullAt(i)) nNulls += 1
      else {
        val v = arr.getUTF8String(i)
        val e = counts.get(v)
        if (e == null) counts.put(v, Array(1L, v.numChars().toLong))
        else e(0) += 1L
      }
      i += 1
    }
    val row = statsOf(counts)
    if (nNulls > 0 && row.getLong(0) == 0L)
      new GenericInternalRow(Array[Any](1L, null, 0L, 0L))
    else row
  }

  /** Column API. `tokens` null → empty (matches the `when(size(toks) >= n,
    * …).otherwise(empty)` guard of the HOF spelling, where a null token
    * array falls through to the empty branch). */
  def gramRunStats(tokens: Column, minN: Int, maxN: Int): Column =
    ColumnBridge.column(GramRunStats(
      ColumnBridge.expression(
        coalesce(tokens, array().cast("array<string>"))), minN, maxN))

  def elemRunStats(elems: Column): Column =
    ColumnBridge.column(ElemRunStats(ColumnBridge.expression(elems)))

  def dsirLogWeight(tokens: Column, lam: Array[Double]): Column =
    ColumnBridge.column(DsirLogWeight(
      ColumnBridge.expression(
        coalesce(tokens, array().cast("array<string>"))), lam))

  private[functions] val RunsStruct = StructType(Seq(
    StructField("item", StringType, nullable = true),
    StructField("cnt", LongType, nullable = false)))

  private[functions] val GramRunsStruct = StructType(Seq(
    StructField("runs", ArrayType(RunsStruct, containsNull = false),
      nullable = false),
    StructField("total", LongType, nullable = false)))

  /** Sorted (gram, count) runs over the n-token windows of a token array
    * — the codegen'd replacement for the
    * `array_sort` → `runStarts` → `runsFromStarts` HOF chain (and, for
    * n ≥ 2, for the zip_with window construction feeding it). Runs come
    * out in ascending UTF8 byte order — the `array_sort` order — so on
    * NULL-FREE token arrays the exploded row order (and with it every
    * downstream double-accumulation order) is bit-identical to the HOF
    * spelling. A null token is not: without the drop, a window's gram
    * joins its non-null tokens (`concat_ws`), where the zip_with spelling
    * yields a null gram (the tokenizers never emit null tokens). `total`
    * is the window count after the optional empty/null-token drop (= the
    * token count when n = 1, the caller's `dl`). */
  def gramRuns(arr: ArrayData, n: Int, dropEmpty: Boolean): GenericInternalRow = {
    val t0 = arr.numElements()
    // gather tokens, optionally dropping ""/null (the `filter(t =!= "")`
    // rule: a null token is dropped there too — `null =!= ""` is null)
    var t = 0
    val toks = new Array[UTF8String](t0)
    var i = 0
    var hasNull = false
    while (i < t0) {
      val v = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (dropEmpty) {
        if (v != null && v.numBytes() > 0) { toks(t) = v; t += 1 }
      } else {
        if (v == null) hasNull = true
        toks(t) = v
        t += 1
      }
      i += 1
    }
    val m = t - n + 1
    if (m <= 0)
      return new GenericInternalRow(Array[Any](
        new GenericArrayData(new Array[Any](0)), 0L))
    // materialize the m gram strings (byte slices of one joined buffer on
    // the no-null fast path), sort, fold equal runs
    val grams = new Array[UTF8String](m)
    if (!hasNull) {
      var total = t - 1
      i = 0
      while (i < t) { total += toks(i).numBytes(); i += 1 }
      val joined = new Array[Byte](total)
      val bOff = new Array[Int](t + 1)
      var off = 0
      i = 0
      while (i < t) {
        bOff(i) = off
        toks(i).writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + off)
        off += toks(i).numBytes()
        if (i < t - 1) joined(off) = ' '.toByte
        off += 1
        i += 1
      }
      bOff(t) = total + 1
      i = 0
      while (i < m) {
        grams(i) = UTF8String.fromBytes(joined, bOff(i), bOff(i + n) - 1 - bOff(i))
        i += 1
      }
    } else {
      i = 0
      while (i < m) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = toks(i + k); k += 1 }
        grams(i) = UTF8String.concatWs(Space, parts: _*)
        i += 1
      }
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    val runs = new java.util.ArrayList[Any](math.min(m, 1024))
    var start = 0
    i = 1
    while (i <= m) {
      if (i == m || !grams(i).equals(grams(start))) {
        runs.add(new GenericInternalRow(
          Array[Any](grams(start), (i - start).toLong)))
        start = i
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(runs.toArray()), m.toLong))
  }

  def gramRuns(tokens: Column, n: Int, dropEmpty: Boolean): Column =
    ColumnBridge.column(GramRuns(
      ColumnBridge.expression(tokens), n, dropEmpty))

  /** Fixed word-window chunks: ⌈T/w⌉ chunks of w tokens joined by one
    * space (the d11/t17/p10/p14/st13 "5-word line" convention) — the
    * codegen'd replacement for `transform(sequence(0, ceil(size/w)−1),
    * g => array_join(slice(toks, g·w+1, w), " "))`, including its two
    * corners: null elements are skipped by the join (`array_join`
    * semantics) and an EMPTY token array yields ["", ""] (the HOF's
    * `sequence(0, −1)` emits [0, −1]; both out-of-range slices join to
    * ""). */
  def wordChunks(arr: ArrayData, w: Int): ArrayData = {
    val t = arr.numElements()
    if (t == 0)
      return new GenericArrayData(Array[Any](
        UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8))
    val toks = toksOf(arr)
    val nChunks = (t + w - 1) / w
    val out = new Array[Any](nChunks)
    var g = 0
    while (g < nChunks) {
      val from = g * w
      val until = math.min(from + w, t)
      val parts = new Array[UTF8String](until - from)
      var k = 0
      while (k < parts.length) { parts(k) = toks(from + k); k += 1 }
      out(g) = UTF8String.concatWs(Space, parts: _*)
      g += 1
    }
    new GenericArrayData(out)
  }

  def wordChunks(tokens: Column, w: Int): Column =
    ColumnBridge.column(WordChunks(ColumnBridge.expression(tokens), w))

  /** Σ numChars over a string array — the `aggregate(arr, 0L,
    * (acc, l) => acc + length(l))` fold, null corners included: a null
    * ELEMENT nulls the whole sum (long + null), a null array folds to
    * null (handled by the expression's null propagation). */
  def charSum(arr: ArrayData): java.lang.Long = {
    val t = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < t) {
      if (arr.isNullAt(i)) return null
      acc += arr.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def charSum(arr: Column): Column =
    ColumnBridge.column(CharSum(ColumnBridge.expression(arr)))

  /** The n-token sliding windows of a token array, joined by `sep` —
    * the codegen'd replacement for `TF.slidingJoin`'s zip_with chain
    * (itself a HOF: interpreted per element, CodegenFallback for its
    * whole Project). Callers guard `size(toks) >= n` like slidingJoin's
    * contract. concat (NOT concat_ws) semantics: a window containing a
    * null token yields a NULL gram (the zip_with chain's
    * null-propagating `concat(a, sep, b)`). */
  def gramArray(arr: ArrayData, n: Int, sep: UTF8String): ArrayData = {
    val t = arr.numElements()
    val m = t - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val toks = toksOf(arr)
    var hasNull = false
    var i = 0
    while (i < t) { if (toks(i) == null) hasNull = true; i += 1 }
    val out = new Array[Any](m)
    if (!hasNull) {
      val sepLen = sep.numBytes()
      var total = (t - 1) * sepLen
      i = 0
      while (i < t) { total += toks(i).numBytes(); i += 1 }
      val joined = new Array[Byte](total)
      val bOff = new Array[Int](t + 1)
      var off = 0
      i = 0
      while (i < t) {
        bOff(i) = off
        toks(i).writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + off)
        off += toks(i).numBytes()
        if (i < t - 1) {
          sep.writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + off)
          off += sepLen
        }
        i += 1
      }
      bOff(t) = total + sepLen
      i = 0
      while (i < m) {
        out(i) = UTF8String.fromBytes(joined, bOff(i),
          bOff(i + n) - sepLen - bOff(i))
        i += 1
      }
    } else {
      i = 0
      while (i < m) {
        var anyNull = false
        var k = 0
        while (k < n) { if (toks(i + k) == null) anyNull = true; k += 1 }
        out(i) =
          if (anyNull) null
          else {
            val parts = new Array[UTF8String](2 * n - 1)
            k = 0
            while (k < n) {
              parts(2 * k) = toks(i + k)
              if (k < n - 1) parts(2 * k + 1) = sep
              k += 1
            }
            UTF8String.concat(parts: _*)
          }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  def gramArray(tokens: Column, n: Int, sep: String): Column =
    ColumnBridge.column(GramArray(ColumnBridge.expression(tokens), n, sep))

  /** One BPE merge pass, leftmost-first: append each symbol, fusing it
    * into the previous one exactly when (prev == l && next == r); a
    * freshly fused l+r no longer EQUALS l, so overlaps merge
    * left-to-right ("aaa" under (a,a) → ["aa","a"]) — byte-identical to
    * [[graft.operators.Bpe.applyMerge]]'s Sep-join fold. */
  private[graft] def mergeOnce(syms: Array[UTF8String], n: Int,
                        l: UTF8String, r: UTF8String): Int = {
    var out = 0
    var i = 0
    while (i < n) {
      if (out > 0 && syms(out - 1).equals(l) && syms(i).equals(r)) {
        syms(out - 1) = UTF8String.concat(syms(out - 1), syms(i))
      } else {
        syms(out) = syms(i)
        out += 1
      }
      i += 1
    }
    out
  }

  /** Apply a whole merge list (rank order) to a symbol array in ONE
    * compiled pass per merge — replaces the one-interpreted-fold-
    * projection-PER-MERGE chain (whose fold also re-`split` the
    * accumulated string once per symbol, O(len²) per word per merge). */
  def bpeMergeChain(arr: ArrayData, ls: Array[UTF8String],
                    rs: Array[UTF8String]): ArrayData = {
    var n = arr.numElements()
    val syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) { syms(i) = arr.getUTF8String(i); i += 1 }
    var m = 0
    while (m < ls.length) {
      n = mergeOnce(syms, n, ls(m), rs(m))
      m += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = syms(i); i += 1 }
    new GenericArrayData(out)
  }

  def bpeMergeChain(syms: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeMergeChain(ColumnBridge.expression(syms),
      merges.map(_._1).toArray, merges.map(_._2).toArray))

  /** Adjacent (l, r) symbol pairs — the `pairsOf` transform (empty for
    * 1-symbol words) as a compiled method. */
  def bpePairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = new GenericInternalRow(
        Array[Any](arr.getUTF8String(i), arr.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  def bpePairs(syms: Column): Column =
    ColumnBridge.column(BpePairs(ColumnBridge.expression(syms)))

  private val md5Tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The [[DsirLogWeight]] kernel body (lives on this object so generated
    * code reaches it through a static forwarder). */
  def dsirWeight(arr: ArrayData, lam: Array[Double]): Double = {
    val t = arr.numElements()
    if (t < 2) return 0.0
    val b = lam.length
    val md = md5Tl.get()
    val digest = new Array[Byte](16)
    // one joined-bytes buffer (as in gramRunStatsAll): bigram (i) is the
    // byte slice [start(i), start(i+2)-1); split() never yields null
    // tokens, but a null is handled via the skip-null concat_ws rule
    var hasNull = false
    var i = 0
    while (i < t) { if (arr.isNullAt(i)) hasNull = true; i += 1 }
    var acc = 0.0
    if (!hasNull) {
      var total = t - 1
      i = 0
      while (i < t) { total += arr.getUTF8String(i).numBytes(); i += 1 }
      val joined = new Array[Byte](total)
      val bOff = new Array[Int](t + 1)
      var off = 0
      i = 0
      while (i < t) {
        val s = arr.getUTF8String(i)
        bOff(i) = off
        s.writeToMemory(joined, Platform.BYTE_ARRAY_OFFSET + off)
        off += s.numBytes()
        if (i < t - 1) joined(off) = ' '.toByte
        off += 1
        i += 1
      }
      bOff(t) = total + 1
      i = 0
      while (i < t - 1) {
        md.reset()
        md.update(joined, bOff(i), bOff(i + 2) - 1 - bOff(i))
        md.digest(digest, 0, 16)
        val bucket = (((digest(0) & 0xff) << 8) | (digest(1) & 0xff)) % b
        acc += lam(bucket)
        i += 1
      }
    } else {
      val toks = toksOf(arr)
      i = 0
      while (i < t - 1) {
        val gram = UTF8String.concatWs(Space, toks(i), toks(i + 1))
        val gb = gram.getBytes
        md.reset()
        md.update(gb, 0, gb.length)
        md.digest(digest, 0, 16)
        val bucket = (((digest(0) & 0xff) << 8) | (digest(1) & 0xff)) % b
        acc += lam(bucket)
        i += 1
      }
    }
    acc
  }
}

/** One stats row per gram size n in [minN, maxN] over a token array —
  * see [[TextKernels.gramRunStatsAll]]. */
case class GramRunStats(child: Expression, minN: Int, maxN: Int)
    extends UnaryExpression {
  require(minN >= 1 && maxN >= minN, s"bad gram range [$minN, $maxN]")

  override def dataType: DataType =
    ArrayType(TextKernels.StatsStruct, containsNull = false)
  override def prettyName: String = "gram_run_stats"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramRunStatsAll(input.asInstanceOf[ArrayData], minN, maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.gramRunStatsAll($c, $minN, $maxN);")

  override protected def withNewChildInternal(newChild: Expression): GramRunStats =
    copy(child = newChild)
}

/** Run stats over raw array elements — see [[TextKernels.elemRunStats]].
  * Null-propagating like the `aggregate(array_sort(arr), …)` spelling
  * (a null lines array folds to NULL stats, not zeros). */
case class ElemRunStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextKernels.StatsStruct
  override def prettyName: String = "elem_run_stats"

  override def nullSafeEval(input: Any): Any =
    TextKernels.elemRunStats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.elemRunStats($c);")

  override protected def withNewChildInternal(newChild: Expression): ElemRunStats =
    copy(child = newChild)
}

/** Fixed word-window chunks — see [[TextKernels.wordChunks]].
  * Null-propagating like the `transform(sequence…)` spelling. */
case class WordChunks(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"bad window $w")

  // element nullability mirrors the transform-lambda spelling (array_join
  // is nullable-typed there even though joined values are never null)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "word_chunks"

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordChunks(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.wordChunks($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** Character-count sum over a string array — see [[TextKernels.charSum]].
  * A null ELEMENT nulls the result (the `acc + length(l)` fold rule). */
case class CharSum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "char_sum"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.functions.TextKernels.charSum($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharSum =
    copy(child = newChild)
}

/** Sorted (gram, cnt) runs + window total over a token array — see
  * [[TextKernels.gramRuns]]. Null-propagating (callers guard
  * `size(toks) >= n` at the row level before this evaluates). */
case class GramRuns(child: Expression, n: Int, dropEmpty: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"bad gram size $n")

  override def dataType: DataType = TextKernels.GramRunsStruct
  override def prettyName: String = "gram_runs"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramRuns(input.asInstanceOf[ArrayData], n, dropEmpty)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.gramRuns($c, $n, $dropEmpty);")

  override protected def withNewChildInternal(newChild: Expression): GramRuns =
    copy(child = newChild)
}

/** n-token windows joined by `sep` — see [[TextKernels.gramArray]].
  * Null-propagating on the array (callers guard `size >= n`). */
case class GramArray(child: Expression, n: Int, sep: String)
    extends UnaryExpression {
  require(n >= 1, s"bad window $n")

  @transient private lazy val sepU = UTF8String.fromString(sep)

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "gram_array"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramArray(input.asInstanceOf[ArrayData], n, sepU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("gramSep", sepU,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.gramArray($c, $n, $sepRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramArray =
    copy(child = newChild)
}

/** BPE merge-chain application — see [[TextKernels.bpeMergeChain]].
  * Merges ship as parallel left/right arrays (rank order). */
case class BpeMergeChain(child: Expression, ls: Array[String],
                         rs: Array[String]) extends UnaryExpression {
  require(ls.length == rs.length, "merge halves out of step")

  @transient private lazy val lsU = ls.map(UTF8String.fromString)
  @transient private lazy val rsU = rs.map(UTF8String.fromString)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge_chain"

  override def nullSafeEval(input: Any): Any =
    TextKernels.bpeMergeChain(input.asInstanceOf[ArrayData], lsU, rsU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLs", lsU,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val rRef = ctx.addReferenceObj("bpeRs", rsU,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.bpeMergeChain($c, $lRef, $rRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeChain =
    copy(child = newChild)
}

/** Adjacent symbol pairs — see [[TextKernels.bpePairs]]. */
case class BpePairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("l", StringType, nullable = true),
    StructField("r", StringType, nullable = true))), containsNull = false)
  override def prettyName: String = "bpe_pairs"

  override def nullSafeEval(input: Any): Any =
    TextKernels.bpePairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.bpePairs($c);")

  override protected def withNewChildInternal(newChild: Expression): BpePairs =
    copy(child = newChild)
}

/** DSIR log importance weight over a token array: per adjacent-token
  * bigram "a b", bucket = (first 2 md5 bytes as int) mod λ.length, and
  * the weight is the left-to-right sum of λ(bucket) — bit-identical to
  * the HOF fold over `featureBuckets` (same md5 prefix rule via
  * `conv(substring(md5(g), 1, 4), 16, 10) % b`, same accumulation
  * order). λ is total over [0, b) by construction (trained from
  * `range(b)`), so the fold's `coalesce(element_at…, 0.0)` default can
  * never fire — dropping it is exact. */
case class DsirLogWeight(child: Expression, lam: Array[Double])
    extends UnaryExpression {
  require(lam.nonEmpty, "empty λ table")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "dsir_log_weight"

  override def nullSafeEval(input: Any): Any =
    TextKernels.dsirWeight(input.asInstanceOf[ArrayData], lam)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lamRef = ctx.addReferenceObj("dsirLam", lam, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.dsirWeight($c, $lamRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirLogWeight =
    copy(child = newChild)
}
