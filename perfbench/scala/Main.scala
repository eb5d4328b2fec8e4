package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.CacheScope
import graft.sources.ArrowHandoff

/** Command-line options of the benchmark JVM (all `--key value`). */
final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, warm: String,
                        work: String, out: String, cpus: Int, t0Ms: Long,
                        smoke: Boolean)

object Config {
  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("warm"), get("work"), get("out"),
      get("cpus").toInt, get("t0-ms").toLong, m.get("smoke").contains("1"))
  }
}

/** One unit of closed-loop work. `family` groups ops for the per-layer
  * metrics; `kind` is `query`, `append`, `serve` or `compact`. */
final case class Op(name: String, family: String, kind: String,
                    body: Runner => Unit)

final case class Sample(op: Op, pass: Int, traced: Boolean, group: String,
                        startMs: Long, endMs: Long, latS: Double,
                        constructMs: (Long, Long), ok: Boolean)

/** Result of one correctness check, done outside the timed window.
  * `ops` names the window ops the check vouches for; `dump`/`oracle` hand
  * a result file and its reference to the launcher's DuckDB compare. */
final case class Check(name: String, ops: Seq[String], ok: Option[Boolean],
                       detail: String, dump: Option[String] = None,
                       oracle: Option[String] = None)

trait Workload {
  /** Untimed work before the window: codegen, JIT, first-touch I/O. */
  def warmUp(r: Runner): Unit
  /** Input generation and store builds; excluded from set-up time. */
  def prepare(r: Runner): Unit = ()
  /** Checks run before the timed window (result dumps). */
  def checksBefore(r: Runner): Seq[Check] = Nil
  /** The ops of pass `i`, in seeded order; None once inputs run out. */
  def pass(i: Int): Option[Seq[Op]]
  /** Checks run after the timed window (store invariants). */
  def checksAfter(r: Runner): Seq[Check] = Nil
  /** Passes the timed window runs even when they outlast `--seconds`. */
  def minPasses: Int = 1
  /** Workload-specific values over the ops of the measured passes. */
  def extraMetrics(r: Runner, ops: Seq[Sample]): Map[String, Double] = Map.empty
}

/** Drives ops: job groups, spans, delivery, cache release. */
final class Runner(val cfg: Config, val spark: SparkSession) {
  val tracer = new Tracer
  private var opSeq = 0
  /** (construct start, construct end) epoch ms of the running op. */
  var construct: (Long, Long) = (0L, 0L)
  val releaseMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** (pass, op, seconds) of every op the window ran. */
  val latencies: mutable.ArrayBuffer[(Int, String, Double)] = mutable.ArrayBuffer.empty
  var storagePeakMb = 0.0
  var liveHeapPeakMb = 0.0

  def noop(df: DataFrame): Unit =
    tracer.span("exec", "noop_write") {
      df.write.format("noop").mode("overwrite").save()
    }

  /** (rows, digest) each window op last delivered to the client, for the
    * checks. */
  val delivered: mutable.Map[String, (Long, Long)] = mutable.Map.empty
  private var current = ""

  /** Small results go to the client as Arrow record batches. */
  def arrow(df: DataFrame): Unit = {
    val got = tracer.span("sources", "arrow_export")(Main.arrowDigest(df))
    if (current.nonEmpty) delivered(current) = got
  }

  /** Run independent tasks on `cfg.cpus` client threads; used only outside
    * the timed window (warm-up, input preparation, checks). */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.cpus)
    try {
      val sc = spark.sparkContext
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = { sc.clearJobGroup(); t() }
      })).map(_.get())
    } finally pool.shutdown()
  }

  /** Warm-up: every op once, concurrently; failures show in the window. */
  def warm(ops: Seq[Op]): Unit = {
    parallel(ops.map(op => () =>
      try op.body(this)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] warm-up ${op.name} failed: $e")
      }))
    CacheScope.global.release(blocking = true)
  }

  /** The gate or operator call before its final action. */
  def build(body: => DataFrame): DataFrame = {
    val m0 = System.currentTimeMillis()
    val df = tracer.span("operators", "construct")(body)
    construct = (m0, System.currentTimeMillis())
    df
  }

  def run(op: Op, pass: Int): Sample = {
    opSeq += 1
    val group = s"op$opSeq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, op.name, interruptOnCancel = false)
    construct = (0L, 0L)
    current = op.name
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span("op", op.name)(op.body(this)); true }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        false
      }
    val lat = (System.nanoTime() - t0) / 1e9
    val m1 = System.currentTimeMillis()
    if (tracer.on) {
      val mem = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      storagePeakMb = math.max(storagePeakMb, mem)
      liveHeapPeakMb = math.max(liveHeapPeakMb, Main.liveHeapMb())
    }
    sc.clearJobGroup()
    val r0 = System.nanoTime()
    tracer.span("cache", "release")(CacheScope.global.release(blocking = true))
    if (tracer.on) releaseMs += (System.nanoTime() - r0) / 1e6
    latencies += ((pass, op.name, lat))
    Sample(op, pass, tracer.on, group, m0, m1, lat, construct, ok)
  }
}

object Main {
  def session(cfg: Config): SparkSession = {
    // the session settings graft.Bench uses, plus scratch dirs kept
    // inside the benchmark's work directory
    val s = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full GCs, repeated while Spark's context cleaner
    * releases what the previous GC unreferenced (broadcast blocks, shuffle
    * state), until it stops shrinking. */
  private def retainedHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    var last = Long.MaxValue
    var now = { System.gc(); used }
    var rounds = 1
    while (rounds < 8 && now < last - (1L << 20)) {
      Thread.sleep(250)
      last = now
      System.gc()
      now = used
      rounds += 1
    }
    now / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap left in use by the most recent collection of each pool. */
  def liveHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** (busy jiffies of the whole machine, jiffies of this process). */
  private def cpuJiffies(): (Long, Long) =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = cpu.sum - cpu(3) - (if (cpu.length > 4) cpu(4) else 0L)
      val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, f(11).toLong + f(12).toLong)
    } catch { case _: Exception => (0L, 0L) }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    Files.createDirectories(Paths.get(cfg.work))
    val r = new Runner(cfg, session(cfg))
    val sessionS = (System.currentTimeMillis() - cfg.t0Ms) / 1000.0
    val wl: Workload = cfg.workload match {
      case "sql_mix" => new SqlMix(cfg)
      case "curation_batch" => new CurationBatch(cfg)
      case "index_ingest_serve" => new IndexIngestServe(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val phases = mutable.LinkedHashMap("session" -> sessionS)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("prepare")(wl.prepare(r))
    phase("warm_up")(wl.warmUp(r))
    // set-up: JVM, session and warm-up, without the input generation and
    // store builds of prepare
    val setupS = (System.currentTimeMillis() - cfg.t0Ms) / 1000.0 - phases("prepare")
    phases("setup") = setupS
    val before = phase("checks_before")(wl.checksBefore(r))
    // the warm-up's garbage is collected before the window, not in its
    // first op
    phase("gc_before")(retainedHeapMb())

    val jobs = new JobListener
    val plans = new PlanListener
    def attach(on: Boolean): Unit = {
      r.tracer.on = on
      if (on) {
        r.spark.sparkContext.addSparkListener(jobs)
        r.spark.listenerManager.register(plans)
      } else {
        r.spark.sparkContext.removeSparkListener(jobs)
        r.spark.listenerManager.unregister(plans)
      }
    }

    // ---- timed window: whole passes until the time is used ----
    val samples = mutable.ArrayBuffer.empty[Sample]
    val loadBefore = loadAvg()
    val gc0 = gcMs()
    val (busy0, self0) = cpuJiffies()
    val w0 = System.nanoTime()
    var i = 0
    var more = true
    // a traced run alternates untraced and traced passes, so the tracing
    // overhead is measured within the run
    val minPasses = if (cfg.trace) math.max(3, wl.minPasses) else wl.minPasses
    while (more && (i < minPasses || (System.nanoTime() - w0) / 1e9 < cfg.seconds)) {
      wl.pass(i) match {
        case Some(ops) =>
          if (cfg.trace) attach(i % 2 == 1)
          ops.foreach(op => samples += r.run(op, i))
          if (cfg.trace) attach(false)
          i += 1
        case None => more = false
      }
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val (busy1, self1) = cpuJiffies()
    val gcS = (gcMs() - gc0) / 1000.0
    val loadAfter = loadAvg()
    val retainedMb = phase("retained_heap")(retainedHeapMb())

    phases("window") = windowS
    val after = phase("checks_after")(wl.checksAfter(r))
    // drain the listener bus before reading the traced counters
    if (cfg.trace) {
      val deadline = System.nanoTime() + 20e9.toLong
      var last = -1L
      while (System.nanoTime() < deadline &&
             (jobs.pendingJobs > 0 || jobs.events.get != last)) {
        last = jobs.events.get
        Thread.sleep(300)
      }
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val untracedSamples = samples.filter(!_.traced).toSeq
    val timed = untracedSamples.filter(_.op.kind != "append")
      .filter(_.op.kind != "compact").map(_.latS)
    metrics("setup_s") = setupS
    metrics("throughput_ops_s") = samples.size / windowS
    metrics("latency_p50_s") = Stats.median(timed)
    val (tailPct, tail) = Stats.tail(timed)
    metrics("latency_tail_s") = tail
    metrics("retained_heap_mb") = retainedMb
    val tracedSamples = samples.filter(_.traced).toSeq
    Seq("build_s", "append_p50_s", "compact_s", "space_amp")
      .foreach(metrics(_) = 0.0)
    if (cfg.trace) metrics ++= Layers.metrics(r, cfg, tracedSamples, jobs, plans)
    metrics ++= wl.extraMetrics(r, if (cfg.trace) tracedSamples else samples.toSeq)
    if (cfg.trace) {
      metrics("jvm.gc_s") = gcS
      metrics("jvm.heap_peak_mb") = r.liveHeapPeakMb
      // pass 0 is the JIT's last transient; compare later passes only
      val tl = Stats.median(tracedSamples.map(_.latS))
      val ul = Stats.median(untracedSamples.filter(_.pass > 0).map(_.latS))
      metrics("trace.overhead_frac") = if (ul > 0) tl / ul - 1 else 0.0
    }
    val othersCpuS = ((busy1 - busy0) - (self1 - self0)) / 100.0

    val env = Map[String, Any](
      "cpus" -> cfg.cpus, "seed" -> cfg.seed,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> r.spark.version,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "others_cpu_s" -> othersCpuS, "window_s" -> windowS)
    val checks = before ++ after
    val out = Map[String, Any](
      "workload" -> cfg.workload, "trace" -> cfg.trace, "env" -> env,
      "phases_s" -> phases.toMap,
      "latencies" -> r.latencies.map { case (p, n, l) => Seq(p, n, l) },
      "latency_tail_pct" -> tailPct,
      "latency_tail_beyond" -> (if (timed.isEmpty) 0 else
        timed.count(_ > tail)),
      "passes" -> i, "attempted" -> samples.size,
      "threw" -> samples.filterNot(_.ok).map(_.op.name),
      "ops" -> samples.groupBy(_.op.name).map { case (k, v) => k -> v.size },
      "metrics" -> metrics.toMap,
      "checks" -> checks.map(c => Map[String, Any](
        "name" -> c.name, "ops" -> c.ops, "ok" -> c.ok, "detail" -> c.detail,
        "dump" -> c.dump, "oracle" -> c.oracle)))
    Files.writeString(Paths.get(cfg.out), Json(out) + "\n")
    if (cfg.trace) {
      val spans = r.tracer.spans.map(s => Json(Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "ms" -> s.ms, "self_ms" -> r.tracer.selfMs(s))))
      Files.writeString(Paths.get(cfg.out + ".spans.jsonl"),
        spans.mkString("", "\n", "\n"))
    }
    r.spark.stop()
  }

  /** Delivers `df` through `ArrowHandoff.handoff` and returns (rows,
    * digest): the sum of a 64-bit hash of each row's values, doubles to 9
    * significant digits, so row order does not matter but multiplicity
    * does. */
  def arrowDigest(df: DataFrame): (Long, Long) =
    ArrowHandoff.handoff(df) { root =>
      val vectors = root.getFieldVectors.asScala.toSeq
      val n = root.getRowCount
      var sum = 0L
      var i = 0
      while (i < n) {
        val row = vectors.map(v => canon(v.getObject(i))).mkString("\u0001")
        sum += (MurmurHash3.stringHash(row, 1).toLong << 32) |
          (MurmurHash3.stringHash(row, 2) & 0xffffffffL)
        i += 1
      }
      Iterator.single((n.toLong, sum))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: java.lang.Double => f"${d + 0.0}%.9g"
    case f: java.lang.Float => f"${f.toDouble + 0.0}%.9g"
    case x => x.toString
  }

  def seededOrder[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it, as
    * (percentile, value); when that percentile would fall below the
    * median (fewer than 21 samples), the highest with one sample beyond
    * it, as a single maximum is the least steady figure of a run. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (100.0, 0.0)
    else if (xs.size == 1) (100.0, xs.head)
    else {
      val s = xs.sorted
      val idx = s.size - (if (s.size < 21) 2 else 11)
      (100.0 * (idx + 1) / s.size, s(idx))
    }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
