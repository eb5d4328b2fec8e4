package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, TextKernels}
import graft.operators.{Dsir, Repetition}

/** The round-16 codegen'd text kernels must be VALUE-IDENTICAL to the
  * higher-order-function spellings they replaced — same counts, same
  * lexicographic tie-breaks (UTF8 byte order), same character (not byte)
  * lengths, same double accumulation order, same null corners. The HOF
  * spellings are retained in [[Repetition]]/[[Dsir]] as the reference
  * implementations these tests compare against row-for-row. */
class TextKernelsSpec extends AnyFunSuite {
  import SparkSpec.spark
  import spark.implicits._

  private val adversarialDocs = Seq(
    // plain repetition
    "the cat sat on the mat the cat sat on a mat",
    // ties for top gram: "b a" and "a b" both appear twice → smallest wins
    "a b a b a",
    // every token identical — one giant run
    "x x x x x x x x",
    // too short to shingle at the larger n values
    "one two",
    "single",
    "",
    "   ",
    // multi-byte characters: char length ≠ byte length
    "héllo wörld héllo wörld héllo wörld",
    "日本 語 日本 語 日本 語 テスト",
    // tokens that sort interestingly in byte order (case, digits, punct)
    "Zebra apple Zebra apple 0digit 0digit !bang !bang",
    // long doc with runs of many distinct grams
    (1 to 200).map(i => s"w${i % 17}").mkString(" "),
    // whitespace variety collapses via split's \s+
    "a\tb  c\na b\tc a   b c")

  test("gramRunStats/elemRunStats equal the HOF sort+fold spelling on adversarial docs") {
    val df = adversarialDocs.toDF("text")
      .withColumn("__w", TF.tokens(col("text")))
      .withColumn("__l", split(col("text"), " "))
    val compared = df
      .withColumn("__sa", TextKernels.gramRunStats(col("__w"), 1, 10))
      .withColumn("__el", TextKernels.elemRunStats(col("__l")))
    val rows = (1 to 10).foldLeft(compared) { (acc, n) =>
      acc.withColumn(s"__ref$n",
        Repetition.sortedRunStats(array_sort(Repetition.shinglesOf(col("__w"), n))))
    }.withColumn("__refl", Repetition.sortedRunStats(array_sort(col("__l"))))
      .collect()
    rows.foreach { r =>
      val kernel = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("__sa")
      (1 to 10).foreach { n =>
        val ref = r.getAs[org.apache.spark.sql.Row](s"__ref$n")
        assert(kernel(n - 1) == ref,
          s"n=$n text=${r.getAs[String]("text")}: kernel ${kernel(n - 1)} vs HOF $ref")
      }
      assert(r.getAs[org.apache.spark.sql.Row]("__el") ==
        r.getAs[org.apache.spark.sql.Row]("__refl"),
        s"elem stats diverge on ${r.getAs[String]("text")}")
    }
  }

  test("elemRunStats null corners match the fold: null elements are 1-runs, all-null arrays top as (1, null)") {
    val df = Seq(
      (1, Seq[String]("a", null, "a", null, "b")),
      (2, Seq[String](null, null, null)),
      (3, Seq[String]()),
      (4, null)
    ).toDF("id", "arr")
    val got = df
      .withColumn("k", TextKernels.elemRunStats(col("arr")))
      .withColumn("ref", Repetition.sortedRunStats(array_sort(col("arr"))))
      .select("id", "k", "ref").collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2), s"id=${r.getInt(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("gramRunStats null-token windows use concat_ws skip-null semantics") {
    val df = Seq(
      (1, Seq[String]("a", null, "b", "a", null, "b")),
      (2, Seq[String](null, null))
    ).toDF("id", "arr")
    val got = df
      .withColumn("k", element_at(TextKernels.gramRunStats(col("arr"), 2, 3), 1))
      .withColumn("ref",
        Repetition.sortedRunStats(array_sort(Repetition.shinglesOf(col("arr"), 2))))
      .select("id", "k", "ref").collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2), s"id=${r.getInt(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("withRepetitionStats output is unchanged by the kernel swap (HOF replay over the same docs)") {
    // replay the full metric construction with the retained HOF pieces and
    // compare every output column of the operator, unrounded
    val df = adversarialDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Repetition.withRepetitionStats(df, "text")
      .orderBy("doc_id").collect()
    val staged = df
      .withColumn("__w", TF.tokens(col("text")))
      .withColumn("__l", split(col("text"), "\n"))
    val nChars = greatest(
      length(array_join(col("__w"), " ")).cast("long"), lit(1L))
    val lineChars = greatest(
      aggregate(col("__l"), lit(0L), (acc, l) => acc + length(l).cast("long")),
      lit(1L))
    val nLines = greatest(size(col("__l")).cast("long"), lit(1L))
    val withG = (2 to 10).foldLeft(staged) { (acc, n) =>
      acc.withColumn(s"__s$n",
        Repetition.sortedRunStats(array_sort(Repetition.shinglesOf(col("__w"), n))))
    }.withColumn("__sl", Repetition.sortedRunStats(array_sort(col("__l"))))
    def topFrac(n: Int) = {
      val s = col(s"__s$n")
      when(s.getField("top_cnt") === 0, lit(0.0))
        .otherwise((s.getField("top_cnt") *
          length(s.getField("top_gram")).cast("long")).cast("double") /
          nChars.cast("double"))
    }
    def dupFrac(n: Int) =
      col(s"__s$n").getField("dup_chars").cast("double") / nChars.cast("double")
    val ref = withG
      .withColumn("top_2gram_char_frac", topFrac(2))
      .withColumn("top_3gram_char_frac", topFrac(3))
      .withColumn("top_4gram_char_frac", topFrac(4))
      .withColumn("dup_5gram_char_frac", dupFrac(5))
      .withColumn("dup_6gram_char_frac", dupFrac(6))
      .withColumn("dup_7gram_char_frac", dupFrac(7))
      .withColumn("dup_8gram_char_frac", dupFrac(8))
      .withColumn("dup_9gram_char_frac", dupFrac(9))
      .withColumn("dup_10gram_char_frac", dupFrac(10))
      .withColumn("dup_line_frac",
        col("__sl").getField("dup_occ").cast("double") / nLines.cast("double"))
      .withColumn("dup_line_char_frac",
        col("__sl").getField("dup_chars").cast("double") /
          lineChars.cast("double"))
      .orderBy("doc_id").collect()
    val cols = Repetition.thresholds.map(_._1)
    got.zip(ref).foreach { case (g, r) =>
      cols.foreach { c =>
        assert(g.getAs[Double](c) == r.getAs[Double](c),
          s"doc ${g.getAs[Long]("doc_id")} col $c: " +
            s"${g.getAs[Double](c)} vs ${r.getAs[Double](c)}")
      }
    }
  }

  test("gramRuns equals the filter/array_sort/runStarts/runsFromStarts chain, order included") {
    import graft.operators.{runStarts, runsFromStarts}
    val df = adversarialDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("__w", TF.tokens(TF.normText(col("text"))))
    // n = 1 with the empty-token drop (the BM25 docTermRuns shape)
    val t1 = df
      .withColumn("k", TextKernels.gramRuns(col("__w"), 1, dropEmpty = true))
      .withColumn("__t0", filter(col("__w"), t => t =!= lit("")))
      .withColumn("__t", array_sort(col("__t0")))
      .withColumn("__b", runStarts(col("__t")))
      .withColumn("ref_runs", runsFromStarts(col("__t"), col("__b")))
      .withColumn("ref_total", size(col("__t")).cast("long"))
      .collect()
    t1.foreach { r =>
      val k = r.getAs[org.apache.spark.sql.Row]("k")
      assert(k.getSeq[org.apache.spark.sql.Row](0) ==
        r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("ref_runs"),
        s"n=1 runs diverge on doc ${r.getLong(0)}")
      assert(k.getLong(1) == r.getAs[Long]("ref_total"),
        s"n=1 total diverges on doc ${r.getLong(0)}")
    }
    // n = 2 without the drop (the KN bigram shape, zip_with windows),
    // plus one array holding a null token (doc -1). The equality claim
    // covers null-free arrays only: zip_with yields a null gram for a
    // window touching a null, while the kernel joins the window's
    // non-null tokens (concat_ws), so that row pins the kernel's rule
    val nullToks = Seq((-1L, Seq("b", null, "a", "b"))).toDF("doc_id", "__w")
    val withBg = df.select("doc_id", "__w").unionByName(nullToks)
      .filter(size(col("__w")) >= 2)
      .withColumn("__bgArr", zip_with(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .withColumn("k", TextKernels.gramRuns(col("__w"), 2, dropEmpty = false))
      .withColumn("__bg", array_sort(col("__bgArr")))
      .withColumn("__s", runStarts(col("__bg")))
      .withColumn("ref_runs", runsFromStarts(col("__bg"), col("__s")))
      .collect()
    assert(withBg.exists(_.getLong(0) == -1L))
    withBg.foreach { r =>
      val k = r.getAs[org.apache.spark.sql.Row]("k")
      if (r.getLong(0) == -1L)
        assert(k.getSeq[org.apache.spark.sql.Row](0)
            .map(g => (g.getString(0), g.getLong(1))) ==
          Seq(("a", 1L), ("a b", 1L), ("b", 1L)) && k.getLong(1) == 3L,
          s"null-token windows: $k")
      else
        assert(k.getSeq[org.apache.spark.sql.Row](0) ==
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("ref_runs"),
          s"n=2 runs diverge on doc ${r.getLong(0)}")
    }
  }

  test("wordChunks and charSum equal their HOF spellings, corners included") {
    val df = (adversarialDocs :+ "exactly five words right here now")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("__tk", TF.tokens(col("text")))
    Seq(3, 5).foreach { w =>
      val rows = df
        .withColumn("k", TextKernels.wordChunks(col("__tk"), w))
        .withColumn("ref", transform(
          sequence(lit(0),
            ceil(size(col("__tk")) / lit(w.toDouble)).cast("int") - 1),
          g => array_join(slice(col("__tk"), g * w + 1, lit(w)), " ")))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](3) == r.getSeq[String](4),
          s"w=$w doc ${r.getLong(0)}: ${r.getSeq[String](3)} vs ${r.getSeq[String](4)}")
      }
    }
    // the empty-array corner: sequence(0, -1) emits [0, -1] → ["", ""]
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("arr")
      .select(TextKernels.wordChunks(col("arr"), 5)).head().getSeq[String](0)
    assert(empty == Seq("", ""))
    // charSum vs the aggregate fold (null element nulls the sum)
    val cs = Seq(
      (1L, Seq("ab", "c", "héllo")),
      (2L, Seq[String]("x", null, "y")),
      (3L, Seq.empty[String])
    ).toDF("id", "arr")
      .withColumn("k", TextKernels.charSum(col("arr")))
      .withColumn("ref", aggregate(col("arr"), lit(0L),
        (acc, l) => acc + length(l).cast("long")))
      .collect()
    cs.foreach { r =>
      assert(r.get(2) == r.get(3), s"id=${r.getLong(0)}: ${r.get(2)} vs ${r.get(3)}")
    }
  }

  test("bpeMergeChain and bpePairs equal the applyMerge fold / pairsOf transform") {
    import graft.operators.Bpe
    val words = Seq("aaa", "banana", "abab", "x", "aa", "mississippi",
      "héllo", "日本語", "aabaab", "zzzz")
      .toDF("w").withColumn("__syms", split(col("w"), ""))
    // overlap semantics: "aaa" under (a,a) → ["aa","a"]; chains where a
    // later merge consumes an earlier merge's output
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "b"), ("s", "s"),
      ("i", "ss"), ("n", "a"), ("z", "z"), ("zz", "zz"))
    val ref = merges.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("__syms", Bpe.applyMerge(col("__syms"), l, r))
    }.withColumn("__pairs", Bpe.pairsOf(col("__syms")))
    val got = words
      .withColumn("__syms",
        graft.functions.TextKernels.bpeMergeChain(col("__syms"), merges))
      .withColumn("__pairs",
        graft.functions.TextKernels.bpePairs(col("__syms")))
    val refRows = ref.select("w", "__syms", "__pairs").collect()
      .map(r => r.getString(0) -> (r.getSeq[String](1), r.getSeq[Any](2))).toMap
    got.select("w", "__syms", "__pairs").collect().foreach { r =>
      val (rs, rp) = refRows(r.getString(0))
      assert(r.getSeq[String](1) == rs,
        s"${r.getString(0)}: ${r.getSeq[String](1)} vs $rs")
      assert(r.getSeq[Any](2) == rp,
        s"${r.getString(0)} pairs: ${r.getSeq[Any](2)} vs $rp")
    }
  }

  test("Bpe.train on the driver equals the Spark rounds: UTF-8 tie-break, overlaps, fallback over the bound") {
    import graft.operators.Bpe
    def merges(docs: org.apache.spark.sql.DataFrame, n: Int, bound: Int) =
      Bpe.train(docs, "text", n, localBound = bound).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    // (ﬀ, ﬀ) and (𝟘, 𝟘) tie on count 2: UTF-8 binary order puts U+FB00
    // (EF AC 80) first, UTF-16 order the surrogate pair (D835 …) first
    val ff = "\uFB00"
    val zero = new String(Character.toChars(0x1D7D8))
    val docs = Seq((1L, s"$ff$ff $zero$zero $ff$ff aaaa ab"),
      (2L, s"$zero$zero aaab abab ba"), (3L, "aaaa")).toDF("doc_id", "text")
    val local = merges(docs, 8, graft.operators.LocalRowBound)
    assert(local == merges(docs, 8, 0))
    assert(local.head == ((1, "a", "a", 8L)), local)
    val rankOf = local.map(m => (m._2, m._3) -> m).toMap
    assert(rankOf((ff, ff))._4 == rankOf((zero, zero))._4 &&
      rankOf((ff, ff))._1 < rankOf((zero, zero))._1, local)
    // 4 distinct words: bound 3 must fall back to the Spark rounds (more
    // jobs), bound 4 answers on the driver; both equal the forced rounds
    val four = Seq((1L, "abc bcd abcd"), (2L, "cab")).toDF("doc_id", "text")
    val (atBound, localJobs) = SparkSpec.jobsStartedBy(merges(four, 4, 4))
    val (overBound, roundJobs) = SparkSpec.jobsStartedBy(merges(four, 4, 3))
    assert(atBound == merges(four, 4, 0) && overBound == atBound)
    assert(localJobs <= 2 && roundJobs > localJobs, (localJobs, roundJobs))
    graft.operators.CacheScope.global.release()
  }

  test("gramArray equals slidingJoin's zip_with chain, null propagation included") {
    val df = adversarialDocs.toDF("text")
      .withColumn("__w", TF.tokens(col("text")))
      .filter(size(col("__w")) >= 3)
    Seq((2, " "), (3, " "), (8, "")).foreach { case (n, sep) =>
      val rows = df.filter(size(col("__w")) >= n)
        .withColumn("k", TextKernels.gramArray(col("__w"), n, sep))
        .withColumn("ref", TF.slidingJoin(col("__w"), n, sep))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](2) == r.getSeq[String](3),
          s"n=$n sep=${sep.map(_.toInt)} text=${r.getString(0)}")
      }
    }
    // null tokens: concat propagates — a window touching a null is null
    val withNulls = Seq(Tuple1(Seq[String]("a", null, "b", "c", "d")))
      .toDF("arr")
      .select(TextKernels.gramArray(col("arr"), 2, " ").as("k"),
        TF.slidingJoin(col("arr"), 2, " ").as("ref"))
      .head()
    assert(withNulls.getSeq[String](0) == withNulls.getSeq[String](1))
    assert(withNulls.getSeq[String](0)(0) == null)
  }

  test("dsirLogWeight equals the HOF featureBuckets fold, bit for bit") {
    val docs = (adversarialDocs ++ Seq(
      "repeated bigram repeated bigram repeated bigram",
      (1 to 500).map(i => s"tok$i").mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val b = 64 // small b exercises the mod; λ values distinguishable
    val rnd = new scala.util.Random(1234)
    val lam = Array.fill(b)(rnd.nextGaussian())
    val lamMap = typedLit((0 until b).map(i => i -> lam(i)).toMap)
    val ref = docs.withColumn("w",
      aggregate(Dsir.featureBuckets(col("text"), b), lit(0.0),
        (acc, bkt) => acc + coalesce(element_at(lamMap, bkt), lit(0.0))))
    val got = docs.withColumn("w",
      TextKernels.dsirLogWeight(TF.tokens(col("text")), lam))
    val refM = ref.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    got.collect().foreach { r =>
      assert(r.getDouble(2) == refM(r.getLong(0)),
        s"doc ${r.getLong(0)}: kernel ${r.getDouble(2)} vs fold ${refM(r.getLong(0))}")
    }
  }
}
