package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The persisted-store core every index, model and sketch family shares.
  * Families own only their encode, serve and layout check; the on-disk
  * lifecycle below — create, fenced append, generation commit,
  * compaction, sweep — lives here and nowhere else.
  *
  * Layout of a store at `path` (one directory per store):
  *  - `<sub>`: a data sub-table ("index", "codes", "cells", …) as
  *    [[create]] wrote it — the plain dir, live while no pointer exists;
  *  - `<sub>.gNNNN`: a committed generation of `<sub>`
  *    ([[commitGeneration]]: compaction folds, state and params commits);
  *  - `<sub>.ptr`: a one-line pointer naming the live generation. It is
  *    the ONLY commit point: it flips by atomic rename between
  *    fully-written generations, so no crash leaves the store unreadable
  *    ([[resolveDataDir]] is the one rule every reader and appender
  *    follows);
  *  - `<sub>.epoch`: the fencing epoch (absent = 0), bumped after every
  *    committed mutation of `<sub>`;
  *  - `_params`: the one-row metadata table (layout tag, geometry,
  *    stats). It is a sub like any other — mutable stats re-commit as
  *    `_params.gNNNN` generations, never overwriting the only copy;
  *  - writer-unique staging: `<sub>.gtmp.<uuid>` (a generation being
  *    written), `<sub>.atmp.<uuid>` (an append's slice),
  *    `<sub>.ptr.tmp.<uuid>` / `<sub>.epoch.tmp.<uuid>` (a pointer or
  *    epoch file about to be renamed into place).
  *
  * Single-writer contract and its fence. Every store is SINGLE-writer
  * by contract (appends, compactions, params and state commits) — but a
  * scheduler will eventually double-schedule a writer, and without a
  * fence the losing write is folded away or orphaned SILENTLY (every
  * serve keeps answering, wrongly or minus a slice). Writers capture the
  * epoch when they OPEN the store and verify it has not advanced before
  * (and after) their commit point: the loser of any interleaving fails
  * LOUDLY ("concurrent writer fenced") and nothing it wrote is live.
  * This is detection, not mutual exclusion — the check-to-commit window
  * is microseconds, the open-to-commit window it guards is the minutes a
  * fold or append takes; the few microseconds between a commit's
  * post-flip re-check and its epoch bump are a documented residual race
  * plain files cannot close.
  *
  * Reader grace and the sweep. Spark reads are lazy: a reader that
  * resolved a directory just before a flip may scan it after the commit
  * returns. So a commit never deletes the generation it superseded; its
  * post-flip sweep reclaims only what is at least one full commit cycle
  * stale — generations that are neither the new nor the previous live
  * one, the plain dir once a generation has been live for a cycle, and
  * crashed writers' staging older than [[StagingGraceMs]].
  *
  * Opening a store runs no Spark job. [[params]] reads the params row
  * and [[read]] takes a table's schema from parquet footers on the
  * driver, so a serve's only jobs are the ones its own query plans.
  */
object Store {

  private val Params = "_params"

  // ------------------------------------------------------------------
  // Layout resolution and reads
  // ------------------------------------------------------------------

  /** The live directory of `sub` under `path`: the generation the
    * `<sub>.ptr` pointer names, else the plain `<sub>` dir. */
  def resolveDataDir(path: String, sub: String): String = {
    val ptr = Paths.get(path, s"$sub.ptr")
    if (Files.exists(ptr))
      Paths.get(path, new String(Files.readAllBytes(ptr), "UTF-8").trim).toString
    else Paths.get(path, sub).toString
  }

  /** The pointer-resolved read of `sub`. */
  def read(spark: SparkSession, path: String, sub: String): DataFrame =
    readTable(spark, resolveDataDir(path, sub))

  /** Read the parquet table at `path` (a directory or one file) with the
    * schema [[footerSchema]] takes from its first part file: Spark's own
    * inference would run a job to read that same footer. Hive `cell=`
    * partitions are still discovered from the directory names. A dir
    * with no part file falls back to Spark's read, and to its error for
    * a missing path. */
  private[graft] def readTable(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val first =
      try partFiles(path, conf).nextOption()
      catch { case _: java.io.FileNotFoundException => None }
    first.map(footerSchema(spark, _, conf)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** True when `sub` has a live directory under `path`. */
  def exists(path: String, sub: String): Boolean =
    Files.exists(Paths.get(resolveDataDir(path, sub)))

  /** True once a store has been created at `path` (its params exist). */
  def hasParams(path: String): Boolean = exists(path, Params)

  /** Read the store's params table. The underscore prefix keeps the
    * table invisible to readers of the store ROOT (Spark's hidden-path
    * filter skips `_`-prefixed children) — but NAMING the directory
    * directly trips the same filter: the root is dropped and an "All
    * paths were ignored" WARN logs on every read, which is
    * per-micro-batch noise in any streaming job that consults the store.
    * Listing the part files explicitly (their names are filter-clean)
    * reads the same rows silently, on any Hadoop FileSystem scheme.
    * Serving code reads params with [[params]]; this Spark read is the
    * reference it is tested against. */
  def readParams(spark: SparkSession, path: String): DataFrame = {
    val parts = partFiles(resolveDataDir(path, Params),
      spark.sessionState.newHadoopConf()).map(_.getPath.toString).toSeq
    require(parts.nonEmpty, s"no params part files under $path")
    spark.read.parquet(parts: _*)
  }

  /** The store's one params row (the first row of [[readParams]]), read
    * on the driver with parquet-hadoop: no Spark job. Field names and
    * types come from the schema Spark wrote into the footer, and only
    * the five value types [[create]] writes are decoded — any other
    * type fails loudly rather than decoding a foreign table wrongly. */
  def params(spark: SparkSession, path: String): Row = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = partFiles(resolveDataDir(path, Params), conf).toSeq
    require(parts.nonEmpty, s"no params part files under $path")
    val schema = footerSchema(spark, parts.head, conf)
    val fields = schema.fields.map(_.copy(nullable = true))
    val group = parts.iterator.map { part =>
      val reader = ParquetReader.builder(new GroupReadSupport, part.getPath)
        .withConf(conf).build()
      try Option(reader.read()) finally reader.close()
    }.collectFirst { case Some(g) => g }.getOrElse(
      throw new NoSuchElementException(s"params table under $path is empty"))
    val values: Array[Any] = fields.map { f =>
      if (group.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case IntegerType => group.getInteger(f.name, 0)
        case LongType    => group.getLong(f.name, 0)
        case DoubleType  => group.getDouble(f.name, 0)
        case BooleanType => group.getBoolean(f.name, 0)
        case StringType  => group.getString(f.name, 0)
        case other => throw new IllegalStateException(
          s"params under $path hold '${f.name}' of type $other; a params " +
            "table stores only int, long, double, boolean and string values")
      }
    }
    new GenericRowWithSchema(values, StructType(fields))
  }

  /** Current fencing epoch of `sub` under `path` (0 = never mutated). */
  def readEpoch(path: String, sub: String): Long = {
    val f = Paths.get(path, s"$sub.epoch")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim.toLong
    else 0L
  }

  // ------------------------------------------------------------------
  // The three family operations
  // ------------------------------------------------------------------

  /** Build a store at `path` — a fresh lineage. Drops every pointer (a
    * rebuild must not leave one targeting a generation of the previous
    * lineage), runs `write` with the plain `<sub>` dir (the writer may
    * also write family side tables under `path`), then writes `params`
    * (name → Int/Long/Double/Boolean/String value; by-name, so a family
    * may derive it from what `write` just wrote). */
  def create(path: String, sub: String, params: => Seq[(String, Any)])
            (write: String => Unit): Unit = {
    if (Files.isDirectory(Paths.get(path)))
      list(Paths.get(path)).filter(_.getFileName.toString.endsWith(".ptr"))
        .foreach(Files.deleteIfExists(_))
    write(s"$path/$sub")
    paramsFrame(params).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/$Params")
  }

  /** Append a slice to `sub` under the fence, then run the
    * auto-compaction cadence: once the live table holds
    * `compactFileThreshold` part files (0 = never), fold the store.
    *
    * The fenced append captures the live dir at open, writes into a
    * WRITER-UNIQUE staging dir, moves the produced part files into the
    * live dir, then verifies the pointer did not move before publishing
    * the epoch bump. If a compaction flipped the pointer mid-append, the
    * moved files landed in the SUPERSEDED directory — invisible to every
    * reader and reclaimed by a later sweep — so the loud failure is the
    * only record the slice needs re-appending (and re-appending is safe:
    * nothing this writer wrote is live). An append that starts after a
    * compaction commits resolves the new generation and proceeds, and
    * two concurrent appends commute (both slices' files land whatever
    * the interleaving), which is why the bump reads the FRESH epoch: a
    * mid-fold compactor's post-flip re-check must see the advance
    * whichever appender published last.
    *
    * The per-append staging is what makes concurrent appends commute:
    * two jobs writing one output directory share Spark's `_temporary`
    * committer tree, so one job's commit or cleanup can delete, misfile
    * or empty the other's in-flight task files. Part names embed
    * job-unique UUIDs, so the per-file moves cannot collide. A crash
    * mid-move leaves a partial slice whose retry completes it (slice
    * rows are byte-identical and per-slice-keyed reads dedup rows).
    *
    * The cadence runs after the append committed, so single-writer holds
    * by construction (the compactor IS the appender). The part-file
    * count is a recursive listing (the IVF/IVFPQ `cell=` layouts keep
    * their files one level down) that short-circuits at the threshold. */
  def append(spark: SparkSession, path: String, sub: String,
             compactFileThreshold: Int = 0)(write: String => Unit): Unit = {
    val dir0 = resolveDataDir(path, sub)
    val stage = staging(path, s"$sub.atmp")
    // merge-move: part files go straight in; hive partition dirs merge
    // file-by-file into the live dir's matching partition; committer
    // markers (_SUCCESS, .crc) stay behind
    def mergeMove(src: Path, dst: Path): Unit =
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        list(src).foreach { k =>
          val nm = k.getFileName.toString
          if (!nm.startsWith("_") && !nm.startsWith(".")) mergeMove(k, dst.resolve(nm))
        }
      } else Files.move(src, dst)
    try {
      write(stage.toString)
      // a sweep can reclaim a SUPERSEDED dir0 while a slow append is
      // mid-merge; that loser must fail as the fence, not as a stray
      // filesystem error
      try mergeMove(stage, Paths.get(dir0))
      catch { case e: java.io.IOException =>
        if (resolveDataDir(path, sub) != dir0)
          throw new IllegalStateException(
            s"concurrent writer fenced: a compaction of $path/$sub " +
              s"committed while this append was merging into the now-" +
              s"superseded $dir0 (its sweep reclaimed the directory " +
              "mid-move). Nothing this append wrote is live; re-run it " +
              "at a quiesce point.", e)
        else throw e
      }
      // filesystem moves bypass Spark: invalidate cached plans that scan
      // dir0 or cached readers keep serving the pre-append listing
      spark.catalog.refreshByPath(dir0)
    } finally deleteRec(stage)
    val dirNow = resolveDataDir(path, sub)
    if (dirNow != dir0)
      throw new IllegalStateException(
        s"concurrent writer fenced: a compaction of $path/$sub committed " +
          s"while this append was writing (live dir $dir0 -> $dirNow); " +
          "the appended files landed in the superseded directory and are " +
          "NOT visible to readers — re-run the append.")
    bumpEpoch(path, sub, readEpoch(path, sub))
    if (compactFileThreshold > 0) {
      val dir = new org.apache.hadoop.fs.Path(resolveDataDir(path, sub))
      val it = dir.getFileSystem(spark.sessionState.newHadoopConf())
        .listFiles(dir, true)
      var n = 0
      while (n < compactFileThreshold && it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      if (n >= compactFileThreshold) compactIndex(spark, path)
    }
  }

  // ------------------------------------------------------------------
  // The generation commit
  // ------------------------------------------------------------------

  /** Replace `sub` under `path` with a new generation that `writeTo`
    * writes into the directory it is given. The one commit protocol of
    * the repo — compaction folds, params and state commits all run
    * through it:
    *
    *  1. stage: `writeTo` writes a writer-unique staging dir (generation
    *     numbers are deterministic, so two racing writers would compute
    *     the same name — the loser's overwrite or cleanup would destroy
    *     the winner's files);
    *  2. fence: the epoch must still be the one the writer opened at —
    *     `expectedEpoch` when given (checked before staging too), else
    *     the epoch read at entry, so two double-scheduled writers racing
    *     on one sub-table also lose loudly;
    *  3. name: the next generation after the live one; an existing dir
    *     of that name is crash debris (a writer that died before its
    *     flip) and is reclaimed — a committed generation cannot be the
    *     target, since a commit slipping in after the fence advances the
    *     epoch, which step 5 turns into a rollback;
    *  4. flip: atomic rename of the staging dir, then of the pointer;
    *  5. re-check: a writer that slipped into the fence-to-flip window
    *     would be silently folded away, so the pointer is ROLLED BACK to
    *     the pre-flip target (which holds the winner's state) and the
    *     commit fails loudly;
    *  6. bump the epoch, then sweep (see the object scaladoc).
    *
    * Any crash leaves the previously committed generation live. */
  private[graft] def commitGeneration(path: String, sub: String,
                                      expectedEpoch: Option[Long] = None)
                                     (writeTo: String => Unit): Unit = {
    val epoch0 = expectedEpoch.getOrElse(readEpoch(path, sub))
    expectedEpoch.foreach(fenceCheck(path, sub, _))
    val stage = staging(path, s"$sub.gtmp")
    def abort(t: IllegalStateException): Nothing = {
      deleteRec(stage) // only ever our own staging dir
      throw t
    }
    writeTo(stage.toString)
    try fenceCheck(path, sub, epoch0)
    catch { case t: IllegalStateException => abort(t) }
    val liveName = Paths.get(resolveDataDir(path, sub)).getFileName.toString
    val gen = f"$sub.g${generationOf(sub, liveName).getOrElse(0) + 1}%04d"
    val genDir = Paths.get(path, gen)
    if (Files.exists(genDir)) deleteRec(genDir)
    try Files.move(stage, genDir, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: java.nio.file.FileSystemException =>
      abort(new IllegalStateException(
        if (!Files.exists(stage))
          s"concurrent writer fenced: this writer's staging directory " +
            s"$stage is GONE — another writer's sweep reclaimed it as " +
            "crash debris (it exceeded the staging grace period, or " +
            "clocks are skewed). Nothing this writer wrote is live; " +
            "re-run at a quiesce point."
        else
          s"concurrent writer fenced: generation $gen at $path appeared " +
            "mid-commit — another writer committed it first; this " +
            "writer's staged data was discarded. Re-run at a quiesce " +
            "point.", e))
    }
    writeAtomically(path, s"$sub.ptr", gen)
    if (readEpoch(path, sub) != epoch0) {
      if (liveName == sub) Files.deleteIfExists(Paths.get(path, s"$sub.ptr"))
      else writeAtomically(path, s"$sub.ptr", liveName)
      fenceCheck(path, sub, epoch0)
    }
    bumpEpoch(path, sub, epoch0)
    sweep(path, sub, keep = Set(gen, liveName), plainSuperseded = liveName != sub)
  }

  /** Commit a new one-row params table (name → value) as a generation —
    * the crash-safe replacement of metadata that changes after a build
    * (BM25's additive stats, calibrated knobs, model geometry). */
  private[graft] def commitParams(path: String,
                                  params: Seq[(String, Any)]): Unit =
    commitGeneration(path, Params) {
      paramsFrame(params).coalesce(1).write.parquet(_)
    }

  /** Every compactable data sub-table a family can carry; absent ones are
    * skipped, so the union list is safe for every family. */
  private val CompactableSubs = Seq("index", "codes", "cells", "lines",
    "wins", "urls")

  /** Compact an appendable store: each append adds part files, and a
    * daily-ingest store accumulates thousands of slivers (every query pays
    * file listing + footer reads per part). Each data sub-table present
    * is rewritten into `partitions` files (default: the session's
    * parallelism) as the next generation through [[commitGeneration]].
    * Rows are byte-equal, so compaction never changes a served answer.
    * Cell-partitioned tables (the IVF/IVFPQ layouts) keep their hive
    * `cell=` structure — each cell's slivers fold into one file — so the
    * partition pruning the layout exists for survives. */
  def compactIndex(spark: SparkSession, path: String,
                   partitions: Int = 0): Unit =
    compactIndex(spark, path, partitions,
      CompactableSubs.map(sub => sub -> readEpoch(path, sub)).toMap)

  /** [[compactIndex]] with the writer's OPEN epochs made explicit (the
    * public form reads them at entry): an append that committed since
    * then makes the sub-table's commit abort loudly. */
  private[graft] def compactIndex(spark: SparkSession, path: String,
                                  partitions: Int,
                                  openEpochs: Map[String, Long]): Unit = {
    val n = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    CompactableSubs.foreach { sub =>
      val live = resolveDataDir(path, sub)
      if (Files.isDirectory(Paths.get(live)))
        commitGeneration(path, sub,
            Some(openEpochs.getOrElse(sub, readEpoch(path, sub)))) { dir =>
          val df = readTable(spark, live)
          if (df.columns.contains("cell"))
            df.repartition(col("cell"))
              .write.mode("overwrite").partitionBy("cell").parquet(dir)
          else df.repartition(n).write.mode("overwrite").parquet(dir)
        }
    }
  }

  // ------------------------------------------------------------------
  // Internals
  // ------------------------------------------------------------------

  private def fenceCheck(path: String, sub: String, expected: Long): Unit = {
    val now = readEpoch(path, sub)
    if (now != expected)
      throw new IllegalStateException(
        s"concurrent writer fenced: a writer opened $path/$sub at epoch " +
          s"$expected but it is now $now — another writer committed in " +
          "between. This store is single-writer; the losing operation " +
          "was aborted (nothing it wrote is live). Re-run it at a " +
          "quiesce point.")
  }

  private def bumpEpoch(path: String, sub: String, from: Long): Unit =
    writeAtomically(path, s"$sub.epoch", (from + 1).toString)

  /** Replace the small file `name` by writing a writer-unique staging
    * file and renaming it into place: two concurrent writers never share
    * a staging name, so neither's rename can consume the other's file. */
  private def writeAtomically(path: String, name: String,
                              content: String): Unit = {
    val tmp = staging(path, s"$name.tmp")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(path, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A staging name unique across writers AND processes. */
  private def staging(path: String, prefix: String): Path =
    Paths.get(path, s"$prefix.${UUID.randomUUID}")

  private val StagingKinds = Seq("gtmp", "atmp", "ptr.tmp", "epoch.tmp")

  /** Staging younger than this is presumed to belong to a LIVE concurrent
    * writer (a big fold stages for minutes) — reclaiming it would turn
    * that writer's commit into a misattributed abort. One hour exceeds
    * any single fold's staging time while bounding how long a crashed
    * writer's debris lingers. */
  private val StagingGraceMs: Long = 60L * 60 * 1000

  /** `gNNNN` → NNNN when `name` is a generation of `sub`. */
  private def generationOf(sub: String, name: String): Option[Int] =
    Some(name.stripPrefix(s"$sub.g"))
      .filter(g => name.startsWith(s"$sub.g") && g.nonEmpty && g.forall(_.isDigit))
      .map(_.toInt)

  /** The post-commit sweep: generations outside `keep`, the plain dir
    * once superseded for a cycle, and stale staging. Best-effort — a
    * zombie writer re-populating a dir mid-sweep must not fail the
    * winner's commit; the next cycle reclaims. */
  private def sweep(path: String, sub: String, keep: Set[String],
                    plainSuperseded: Boolean): Unit =
    list(Paths.get(path)).foreach { p =>
      val nm = p.getFileName.toString
      val orphanGen = generationOf(sub, nm).isDefined && !keep(nm)
      val orphanPlain = nm == sub && plainSuperseded
      val staleStage = StagingKinds.exists(k => nm.startsWith(s"$sub.$k.")) &&
        (try System.currentTimeMillis -
            Files.getLastModifiedTime(p).toMillis > StagingGraceMs
          catch { case _: java.io.IOException => false })
      if (orphanGen || orphanPlain || staleStage)
        try deleteRec(p)
        catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
    }

  /** The parquet part files under `path`, recursively (hive partition
    * dirs), skipping what Spark's reader skips: any `_`- or `.`-prefixed
    * name on the way (committer markers, checksums, `_temporary`). A
    * file `path` is its own only part. */
  private def partFiles(path: String, conf: Configuration): Iterator[FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val prefix = fs.makeQualified(root).toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { s =>
      val rel = s.getPath.toUri.getPath.stripPrefix(prefix)
      val names = if (rel == s.getPath.toUri.getPath)
        Array(s.getPath.getName) else rel.split('/')
      s.getPath.getName.endsWith(".parquet") &&
        names.forall(n => !n.startsWith("_") && !n.startsWith("."))
    }
  }

  /** The schema a Spark read infers from `part` (mergeSchema off), read
    * on the driver by Spark's own footer rule: the schema Spark wrote
    * into the footer when there is one, else the parquet schema
    * converted under the session's SQL conf — so a file another writer
    * produced maps as Spark maps it (`nanosAsLong`, binary-as-string). */
  private def footerSchema(spark: SparkSession, part: FileStatus,
                           conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(part, conf))
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(part.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverse.foreach(f => Files.deleteIfExists(f))
    }

  private def paramsFrame(params: Seq[(String, Any)]): DataFrame = {
    def typ(v: Any): DataType = v match {
      case _: Int     => IntegerType
      case _: Long    => LongType
      case _: Double  => DoubleType
      case _: Boolean => BooleanType
      case _: String  => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported params value type: ${other.getClass}")
    }
    val schema = StructType(params.map { case (n, v) => StructField(n, typ(v)) })
    SparkSession.active.createDataFrame(
      java.util.Arrays.asList(Row(params.map(_._2): _*)), schema)
  }
}
