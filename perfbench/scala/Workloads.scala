package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, SparkEntry, Tables}
import graft.dialect.{Compiler, Parser}
import graft.functions.TextKernels
import graft.operators.{CacheScope, Decontaminate, Dedup, Retrieval, Similarity}

/** Gate ops shared by the two gate-driven workloads. */
abstract class GateWorkload(cfg: Config) extends Workload {
  protected val queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries

  protected def ops(dir: String): Seq[Op]

  /** One pass at sf0.001 on `cpus` client threads. */
  def warmUp(r: Runner): Unit = r.warm(ops(cfg.warm))

  def pass(i: Int): Option[Seq[Op]] =
    if (cfg.smoke && i >= 3) None
    else Some(Main.seededOrder(ops(cfg.data), cfg.seed, i))

  protected def check(name: String, dump: String, oracle: Option[String]): Check =
    Check(name, Seq(name), None, "", Some(dump), oracle)
}

/** A generated query: dialect text, the same query in DuckDB SQL, and
  * whether it is an E1 masked map over `lineitem`. */
final case class Gen(name: String, dialect: String, duck: String, e1: Boolean)

/** Relational and dialect gates plus seeded dialect SQL and E1 maps. */
final class SqlMix(cfg: Config) extends GateWorkload(cfg) {
  val gates = Seq("q1_agg", "q2_filter_project", "q3_masked_map",
    "q5_join_agg", "q8_order_limit_offset", "q9_window", "q10_dialect_sql",
    "q23_topn_per_group", "q24_date_filter_join", "q28_funnel",
    "a9_salted_agg", "q43_interval_join", "q44_topk_agg", "p6_shuffle_order",
    "p9_zorder")
  /** Gates whose results are small enough to hand to the client. */
  val arrowGates = Set("q1_agg", "q5_join_agg", "q8_order_limit_offset",
    "q10_dialect_sql", "q24_date_filter_join", "q28_funnel", "a9_salted_agg",
    "q43_interval_join")

  val generated: Seq[Gen] = {
    val rnd = new Random(cfg.seed)
    def f2(x: Double): String = f"$x%.2f"
    val disc = f2(0.01 * (1 + rnd.nextInt(6)))
    val qty = 15 + rnd.nextInt(30)
    val limit = 2 + rnd.nextInt(4)
    val qtyJ = 5 + rnd.nextInt(40)
    val price = 100000 + 50000 * rnd.nextInt(8)
    val tax = f2(0.01 * (1 + rnd.nextInt(7)))
    val ext = 1000 + 1000 * rnd.nextInt(80)
    val supp = 100 + rnd.nextInt(800)
    val having = 10 * rnd.nextInt(100)
    // (name, dialect text, DuckDB text): the dialect spells = as ==
    val e2 = Seq(
      ("gen_group",
        s"SELECT l_returnflag AS flag, l_linestatus AS st, SUM(l_quantity) AS sq, " +
          s"COUNT(*) AS n FROM lineitem WHERE l_discount > $disc AND l_quantity < $qty " +
          s"GROUP BY l_returnflag, l_linestatus HAVING COUNT(*) > $having " +
          s"ORDER BY sq DESC LIMIT $limit"),
      ("gen_join",
        s"SELECT o_orderpriority AS pr, COUNT(*) AS n, " +
          s"round(SUM(l_extendedprice), 2) AS rev FROM lineitem " +
          s"JOIN orders ON l_orderkey == o_orderkey WHERE l_quantity > $qtyJ " +
          s"AND o_totalprice < $price GROUP BY o_orderpriority ORDER BY rev DESC LIMIT $limit"),
      ("gen_filter",
        s"SELECT COUNT(*) AS n, MIN(l_extendedprice) AS lo, " +
          s"MAX(l_extendedprice) AS hi, SUM(l_quantity) AS sq FROM lineitem " +
          s"WHERE l_tax < $tax AND l_extendedprice > $ext"),
      ("gen_lines",
        s"SELECT l_linenumber AS ln, COUNT(*) AS n, " +
          s"round(SUM(l_quantity * l_discount), 2) AS disc FROM lineitem " +
          s"WHERE l_suppkey < $supp GROUP BY l_linenumber " +
          s"HAVING SUM(l_quantity) > $having ORDER BY ln LIMIT 7"))
      .map { case (n, q) => Gen(n, q, q.replace("==", "="), e1 = false) }
    val q = 5 + rnd.nextInt(40)
    val d = f2(0.01 * (1 + rnd.nextInt(8)))
    val c = 1 + rnd.nextInt(9)
    val t = f2(0.01 * (1 + rnd.nextInt(7)))
    val e1 = Seq(
      ("l_extendedprice * l_quantity", s"l_quantity > $q"),
      (s"l_extendedprice * (1 - l_discount) + l_tax * $c",
        s"l_discount > $d AND l_tax < $t")).zipWithIndex.map {
      case ((e, w), i) =>
        Gen(s"gen_e1_$i", s"$e WHERE $w",
          s"SELECT CASE WHEN $w THEN $e END AS result FROM lineitem", e1 = true)
    }
    e2 ++ e1
  }
  private val genBy = generated.map(g => g.name -> g).toMap

  private def dialect(r: Runner, g: Gen, dir: String): DataFrame =
    if (g.e1) Engine.query(Tables.load(r.spark, dir, "lineitem"), g.dialect,
      float32 = false)
    else if (r.tracer.on) {
      val q = r.tracer.span("dialect", "parse")(Parser.parseQuery(g.dialect))
      r.tracer.span("dialect", "compile")(new Compiler(Engine.registry,
        float32 = false).compile(q, Tables.catalog(r.spark, dir)))
    } else Engine.sql(g.dialect, Tables.catalog(r.spark, dir), float32 = false)

  protected def ops(dir: String): Seq[Op] =
    gates.map(g => Op(g, "sql.gate", "query", r => {
      val df = r.build(queries(g)(r.spark, dir))
      if (arrowGates(g)) r.arrow(df) else r.noop(df)
    })) ++ generated.map(g => Op(g.name, if (g.e1) "sql.e1" else "sql.dialect",
      "query", r => {
        val df = r.build(dialect(r, g, dir))
        if (g.e1) r.noop(df) else r.arrow(df)
      }))

  private def dumpOf(name: String): String =
    Paths.get(cfg.work, "verify", name).toString

  /** Dump every op's result before the window, for the launcher's live
    * DuckDB compare. This is also the first pass at sf0.1. */
  override def checksBefore(r: Runner): Seq[Check] = {
    val dumps = r.parallel(ops(cfg.data).map { op => () =>
      val dump = dumpOf(op.name)
      val g = genBy.get(op.name)
      try {
        g.map(dialect(r, _, cfg.data))
          .getOrElse(queries(op.name)(r.spark, cfg.data)).write.parquet(dump)
        check(op.name, dump,
          g.map(_.duck).orElse(SparkEntry.oracleSql.get(op.name)))
      } catch { case e: Exception =>
        Check(op.name, Seq(op.name), Some(false), s"dump failed: $e")
      }
    })
    CacheScope.global.release(blocking = true)
    dumps
  }

  /** What Arrow delivered in the window must equal the dump DuckDB checks,
    * read back through the same delivery path. */
  override def checksAfter(r: Runner): Seq[Check] =
    r.delivered.toSeq.sortBy(_._1).map { case (name, got) =>
      val exp = scala.util.Try(Main.arrowDigest(r.spark.read.parquet(dumpOf(name))))
      Check(s"$name.window_delivery", Seq(name), Some(exp.toOption.contains(got)),
        s"(rows, digest) $got delivered in the window, $exp from the checked dump")
    }
}

/** Training-data curation gates; references are stored DuckDB digests. */
final class CurationBatch(cfg: Config) extends GateWorkload(cfg) {
  /** One gate per operator family, chosen for the driver-side
    * iteration rounds (CC, BPE, quantile refinement) and the dedup and
    * text kernels they exercise. */
  val families: Seq[(String, String)] = Seq(
    "d2_minhash_lsh" -> "dedup", "d17_best_of_cluster" -> "cc",
    "t26_bpe_train" -> "bpe",
    "t28_kn_bigram" -> "text", "t47_exact_quantiles" -> "quantile")

  /** Two passes: the five gate latencies of one pass give an unsteady
    * median. */
  override def minPasses: Int = 2

  private def outDir(g: String): String = Paths.get(cfg.work, "out", g).toString

  /** A batch job writes its result: each op overwrites its parquet output,
    * and the outputs of the last pass are what the checks read. */
  protected def ops(dir: String): Seq[Op] = families.map { case (g, f) =>
    Op(g, f, "query", r => {
      val df = r.build(queries(g)(r.spark, dir))
      r.tracer.span("exec", "parquet_write") {
        df.write.mode("overwrite").parquet(outDir(g))
      }
    })
  }

  override def checksAfter(r: Runner): Seq[Check] = families.map { case (g, _) =>
    check(g, outDir(g), SparkEntry.oracleSql.get(g))
  }
}

/** Persisted stores under a write/read mix: BM25, IVF, line and
  * decontamination stores are built on a seeded base slice of a Zipf
  * corpus and the sf embeddings; then each cycle compacts every store
  * (folding the previous cycle's append), appends the next seeded batch
  * to it and serves it, so every timed serve reads a store that holds
  * one append not yet compacted. Batches 0 and 1 are the warm-up's. */
final class IndexIngestServe(cfg: Config) extends Workload {
  val Families: Seq[String] = Layers.StoreFamilies
  val CyclesPerPass = 1
  /** Batches the warm-up appends. */
  val WarmBatches = 2
  /** Highest batch ingested after the warm-up and one pass. */
  private val onePass = WarmBatches + CyclesPerPass - 1
  val Batches = 40
  /** One document in DupShare is planted as a copy of an earlier one. */
  val DupShare = 20
  val Docs: Int = if (cfg.smoke) 1200 else 6000
  val Cells = 10
  private val subs = Seq("index", "codes", "cells", "lines", "wins", "urls")
  private val root = s"${cfg.work}/ingest"

  /** Zipf rank table of `SparkEntry.zipfDocs`: 1024 quantized ranks over a
    * 30,000-word vocabulary, density proportional to 1/rank (s = 1). */
  val ranks: Seq[Int] = (0 until 1024).map(k =>
    math.floor(math.pow(30000.0, (k + 0.5) / 1024)).toInt)

  private val baseDocs = Docs / 3
  private val batchDocs = (Docs - baseDocs) / Batches
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var vq: DataFrame = _
  private var bmQ: DataFrame = _
  private val appended = scala.collection.mutable.Map.empty[String, Int]
  /** Highest batch appended to every store. */
  private def ingested: Int = Families.map(appended.getOrElse(_, -1)).min
  private var buildS = 0.0
  private var attempts = 0
  private var landed = 0
  private var diskBytes = 0L
  private var inputBytes = 0L
  private var liveFiles = 0L
  private var epochSum = 0L

  private def store(dir: String, f: String): String = s"$dir/$f"
  private def live: String = s"$root/stores"

  /** The corpus: 60 Zipf tokens per document, the `zipfDocs` token rule
    * with the run seed in the md5 key; planted copies take the token
    * stream of a document up to 500 ids earlier. */
  private def synth(spark: SparkSession): DataFrame = {
    val seed = cfg.seed
    val id = col("doc_id")
    val dup = pmod(xxhash64(lit(seed), id), lit(DupShare.toLong)) === 0 &&
      id >= 20
    val src = id - 1 - pmod(xxhash64(lit(seed + 1), id), least(id, lit(500L)))
    val textSeed = when(dup, src).otherwise(id)
    val rt = typedLit(ranks)
    val tok = (p: Column) => concat(lit("w"), element_at(rt,
      conv(substring(md5(concat(lit(s"z$seed:"), textSeed.cast("string"),
        lit(":"), p.cast("string"))), 1, 3), 16, 10).cast("int") % 1024 + 1)
        .cast("string"))
    spark.range(Docs).select(col("id").as("doc_id"))
      .select(id, array_join(transform(sequence(lit(0), lit(59)), tok), " ")
        .as("text"),
        when(id < baseDocs, lit(-1))
          .otherwise(((id - baseDocs) / batchDocs).cast("int")).as("batch"))
  }

  override def prepare(r: Runner): Unit = {
    val spark = r.spark
    Main.deleteTree(Paths.get(root))
    synth(spark).write.parquet(s"$root/input/docs")
    val emb = Tables.load(spark, cfg.data, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nVec = emb.count()
    val baseV = (nVec - 10) / 3
    val batchV = math.max(1L, (nVec - 10 - baseV) / Batches)
    emb.filter(col("vec_id") >= 10).select(col("vec_id"), col("embedding"),
      when(col("vec_id") < 10 + baseV, lit(-1))
        .otherwise(((col("vec_id") - 10 - baseV) / batchV).cast("int"))
        .as("batch"))
      .write.parquet(s"$root/input/vecs")
    emb.filter(col("vec_id") < 10).write.parquet(s"$root/input/vq")
    docs = spark.read.parquet(s"$root/input/docs")
    vecs = spark.read.parquet(s"$root/input/vecs")
    vq = spark.read.parquet(s"$root/input/vq")
    val rnd = new Random(cfg.seed)
    import spark.implicits._
    bmQ = (0 until 16).map(q => (q.toLong,
      Seq.fill(2)("w" + ranks(300 + rnd.nextInt(400))).mkString(" ")))
      .toDF("q_id", "q_text")
    // the live stores, and beside them the from-scratch stores the checks
    // compare against when the run ingests the warm-up batches and one pass
    val t0 = System.nanoTime()
    val done = r.parallel(
      buildTasks(live, docs.filter(col("batch") < 0), vecs.filter(col("batch") < 0)) ++
        buildTasks(fresh, docs.filter(col("batch") <= onePass),
          vecs.filter(col("batch") <= onePass)))
    buildS = done.take(Families.size).max - t0 / 1e9
  }

  private def fresh: String = s"$root/fresh"

  private def lines(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      TextKernels.wordChunks(split(col("text"), " "), 5).as("lines"))

  private def evalDocs(df: DataFrame) = df.filter(col("doc_id") % 10 === 0)
  private def trainDocs(df: DataFrame) = df.filter(col("doc_id") % 10 =!= 0)

  /** Builds of the four stores over (d, v); each returns its end time. */
  private def buildTasks(dir: String, d: DataFrame, v: DataFrame): Seq[() => Double] =
    Seq[() => Unit](
      () => Retrieval.buildBm25Index(d, "text", "doc_id", store(dir, "bm25")),
      () => Similarity.buildIvfIndex(v, "embedding", "vec_id",
        store(dir, "ivf"), cells = Cells),
      () => Dedup.buildLineIndex(lines(d), "lines", store(dir, "lines")),
      () => Decontaminate.buildIndex(evalDocs(d), "text", "doc_id",
        store(dir, "contam"), shingleSize = 3, hashPostings = false))
      .map(build => () => { build(); System.nanoTime() / 1e9 })

  private def batch(b: Int): DataFrame = docs.filter(col("batch") === b)
  private def vbatch(b: Int): DataFrame = vecs.filter(col("batch") === b)

  private def serve(f: String, dir: String, probe: DataFrame): DataFrame = f match {
    case "bm25" => Retrieval.bm25TopKFromIndex(bmQ, store(dir, f), "q_text",
      "q_id", k = 10)
    // every cell: the nprobe calibrateIvfIndex picks for the recall floor
    // of 1.0 (s22_ann_recall_floor) on these stores
    case "ivf" => Similarity.ivfTopKFromIndex(vq, store(dir, f), "embedding",
      "vec_id", k = 5, nprobe = Cells)
    case "lines" => Dedup.dedupLinesAgainstIndex(lines(probe), "lines",
      "doc_id", store(dir, f))
    case "contam" => Decontaminate.flagFromIndex(trainDocs(probe),
      store(dir, f), "text", "doc_id", threshold = 0.5)
  }

  /** Append under the store's fence; a fenced abort is retried once. */
  private def append(f: String, b: Int): Unit = {
    val p = store(live, f)
    def body(): Unit = f match {
      case "bm25" => Retrieval.appendToBm25Index(batch(b), "text", "doc_id", p)
      case "ivf" => Similarity.appendToIvfIndex(vbatch(b), "embedding",
        "vec_id", p)
      case "lines" => Dedup.appendToLineIndex(lines(batch(b)), "lines", p)
      case "contam" => Decontaminate.appendToIndex(evalDocs(batch(b)), "text",
        "doc_id", p)
    }
    synchronized(attempts += 1)
    try body()
    catch { case e: IllegalStateException
              if String.valueOf(e.getMessage).contains("fenced") =>
      synchronized(attempts += 1)
      body()
    }
    synchronized { landed += 1; appended(f) = b }
  }

  /** A serve probes with batch `b`, the first one not yet appended. */
  private def serveOp(f: String, b: Int) = Op(s"serve.$f", f, "serve",
    r => r.noop(r.build(serve(f, live, batch(b)))))
  private def appendOp(f: String, b: Int) =
    Op(s"append.$f", f, "append", _ => append(f, b))
  private def compactOp(f: String) = Op(s"compact.$f", f, "compact",
    r => compact(r, f))
  private def compact(r: Runner, f: String): Unit =
    Similarity.compactIndex(r.spark, store(live, f))

  /** Per store, stores in parallel: append batch 0, serve, compact, and
    * append batch 1, which the window's first compaction folds. */
  def warmUp(r: Runner): Unit =
    r.parallel(Families.map(f => () =>
      Seq(appendOp(f, 0), serveOp(f, 1), compactOp(f), appendOp(f, 1))
        .foreach(_.body(r))))

  /** Pass i: CyclesPerPass cycles, each compacting every store, then
    * appending the next batch to each and serving each, stores in seeded
    * orders. None once fewer batches remain than a pass and a held-out
    * probe batch need. */
  def pass(i: Int): Option[Seq[Op]] = {
    val first = WarmBatches + i * CyclesPerPass
    if ((cfg.smoke && i >= 3) || first + CyclesPerPass >= Batches) None
    else Some((first until first + CyclesPerPass).flatMap { b =>
      Main.seededOrder(Families, cfg.seed + 5, b).map(compactOp) ++
        Main.seededOrder(Families, cfg.seed + 11, b).map(appendOp(_, b)) ++
        Main.seededOrder(Families, cfg.seed + 7, b).map(serveOp(_, b + 1))
    })
  }

  private def filesUnder(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally w.close()
    }

  /** Rows as sorted strings, doubles to 9 significant digits (appends
    * and a fresh build may sum the same terms in another order). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  /** Each store's served answer must equal a from-scratch build's, first
    * as the window left the stores (one append not compacted, the state
    * the timed serves read), then after a final compaction. */
  override def checksAfter(r: Runner): Seq[Check] = {
    val inD = docs.filter(col("batch") <= ingested)
    val inV = vecs.filter(col("batch") <= ingested)
    // the probe batch is the first one not ingested
    if (ingested != onePass) {
      Main.deleteTree(Paths.get(fresh))
      r.parallel(buildTasks(fresh, inD, inV))
    }
    val probe = batch(ingested + 1)
    def equal(state: String): Seq[Check] = r.parallel(Families.map(f => () => {
      val a = canon(serve(f, live, probe))
      val b = canon(serve(f, fresh, probe))
      Check(s"$f.equals_fresh_build.$state", Seq(s"serve.$f"), Some(a == b),
        s"${a.size} rows served, ${b.size} from a fresh build")
    }))
    val appendedState = equal("appended")
    r.parallel(Families.map(f => () => compact(r, f)))
    val compactedState = equal("compacted")
    val stores = Paths.get(live)
    diskBytes = filesUnder(stores).map(Files.size).sum
    liveFiles = Families.flatMap(f => subs.map(s =>
      Paths.get(Similarity.resolveDataDir(store(live, f), s))))
      .distinct.filter(Files.isDirectory(_)).flatMap(filesUnder)
      .count { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toLong
    epochSum = Families.map(f =>
      subs.map(Similarity.readEpoch(store(live, f), _)).sum).sum
    val textBytes = inD.agg(sum(length(col("text")))).head().getLong(0)
    val evalBytes = evalDocs(inD).agg(sum(length(col("text")))).head().getLong(0)
    inputBytes = 2 * textBytes + evalBytes + inV.count() * 64 * 4
    val floor = "CAST\\(([0-9.]+) AS DOUBLE\\) AS recall".r
      .findFirstMatchIn(SparkEntry.oracleSql("s22_ann_recall_floor"))
      .map(_.group(1).toDouble).getOrElse(1.0)
    val brute = Similarity.bruteForceTopK(vq, inV, "embedding", "vec_id", k = 5)
    val recall = Similarity.recallAtK(serve("ivf", live, probe), brute)
    appendedState ++ compactedState :+ Check("ivf.recall_at_5",
      Seq("serve.ivf"), Some(recall >= floor),
      s"recall@5 $recall, floor $floor (s22_ann_recall_floor)")
  }

  override def extraMetrics(r: Runner, ops: Seq[Sample]): Map[String, Double] = {
    def lat(kind: String, f: Option[String]) = ops
      .filter(s => s.op.kind == kind && f.forall(_ == s.op.family)).map(_.latS)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("build_s") = buildS
    m("append_p50_s") = Stats.median(lat("append", None))
    m("compact_s") = lat("compact", None).sum
    m("space_amp") = if (inputBytes > 0) diskBytes.toDouble / inputBytes else 0.0
    Families.foreach { f =>
      m(s"store.append_ms.$f") = Stats.mean(lat("append", Some(f))) * 1e3
      m(s"store.serve_ms.$f") = Stats.mean(lat("serve", Some(f))) * 1e3
    }
    m("store.compact_ms") = Stats.mean(lat("compact", None)) * 1e3
    m("store.disk_mb") = diskBytes / 1048576.0
    m("store.live_files") = liveFiles.toDouble
    m("store.epoch") = epochSum.toDouble
    m("store.commit_ok_frac") = if (attempts > 0) landed.toDouble / attempts else 0.0
    m.toMap
  }
}
