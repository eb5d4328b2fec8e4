package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Decontaminate, Retrieval, Similarity}
import graft.store.Store

/** The persisted-store layout belongs to `graft.store.Store` alone: a
  * family that spells a layout name itself re-implements part of the
  * commit protocol (a pointer read, a params path, an epoch file) that
  * the store's crash and fencing guarantees no longer cover. */
class StoreSpec extends AnyFunSuite {
  import SparkSpec.{spark, sf}

  private val LayoutNames = Seq("_params", ".ptr", ".epoch", ".gtmp", ".atmp")

  test("store layout names appear only under graft/store") {
    val root = Paths.get("src/main/scala")
    require(Files.isDirectory(root), s"run from the repo root (no $root)")
    val owner = root.resolve("graft/store")
    val walk = Files.walk(root)
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val offenders = for {
      f <- files if !f.startsWith(owner)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- LayoutNames if line.contains(name)
    } yield s"$f:${i + 1}: $name"
    assert(offenders.isEmpty,
      "layout names outside graft/store (go through Store instead):\n" +
        offenders.mkString("\n"))
  }

  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("Store.params equals the Spark read of params on every value type") {
    withTempDir("graft_store_params_") { dir =>
      Store.create(dir, "data", Seq("i" -> 7, "l" -> (1L << 40),
          "d" -> 0.1, "b" -> true, "s" -> "ivf-cells-partitioned-v2")) {
        spark.range(3).write.parquet(_)
      }
      val p = Store.params(spark, dir)
      assert(p.schema.fieldNames.toSeq == Seq("i", "l", "d", "b", "s"))
      assert(p.getAs[Int]("i") == 7 && p.getAs[Long]("l") == (1L << 40) &&
        p.getAs[Double]("d") == 0.1 && p.getAs[Boolean]("b") &&
        p.getAs[String]("s") == "ivf-cells-partitioned-v2")
      SparkSpec.assertParamsMatchReference(dir)
      // a committed generation is read through the pointer
      Store.commitParams(dir, Seq("i" -> 8, "s" -> ""))
      assert(Store.params(spark, dir).toSeq == Seq(8, ""))
      SparkSpec.assertParamsMatchReference(dir)
      // a type params never hold fails loudly instead of decoding wrongly
      spark.range(1).select(lit(1.5f).as("f"))
        .write.mode("overwrite").parquet(Store.resolveDataDir(dir, "_params"))
      assert(intercept[IllegalStateException](Store.params(spark, dir))
        .getMessage.contains("'f' of type FloatType"))
    }
  }

  test("opening a store starts no Spark job") {
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    withTempDir("graft_store_open_") { dir =>
      val (bm25, contam, ivf) = (s"$dir/bm25", s"$dir/contam", s"$dir/ivf")
      Retrieval.buildBm25Index(docs, "text", "doc_id", bm25)
      Decontaminate.buildIndex(docs.filter(col("doc_id") % 20 === 0),
        "text", "doc_id", contam, shingleSize = 3, hashPostings = false)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 5),
        "embedding", "vec_id", ivf, cells = 4)
      Store.compactIndex(spark, ivf) // the cells table behind a pointer
      def jobs(what: String)(body: => Any): Unit = {
        val (_, n) = SparkSpec.jobsStartedBy(body)
        assert(n == 0, s"$what started $n Spark job(s)")
      }
      // the counter sees jobs: the reference params read is a Spark query
      assert(SparkSpec.jobsStartedBy(Store.readParams(spark, bm25).head())._2 > 0)
      jobs("Store.params")(Store.params(spark, ivf))
      jobs("Store.read of a hive-partitioned table")(Store.read(spark, ivf, "cells"))
      jobs("Store.read")(Store.read(spark, contam, "sizes"))
      jobs("Retrieval.loadBm25")(Retrieval.loadBm25(spark, bm25))
      jobs("Decontaminate.loadIndex")(Decontaminate.loadIndex(spark, contam))
      val served = SparkSpec.jobsStartedBy(Similarity.ivfTopKFromIndex(
        emb.filter(col("vec_id") < 5), ivf, "embedding", "vec_id", k = 3,
        nprobe = 4))
      assert(served._2 == 0,
        s"ivfTopKFromIndex at nprobe = cells started ${served._2} job(s) " +
          "before its final action")
      // the footer schema is the schema Spark's own inference reads
      assert(Store.read(spark, ivf, "cells").schema ==
        spark.read.parquet(Store.resolveDataDir(ivf, "cells")).schema)
      assert(served._1.count() > 0)
    }
  }

  test("Tables.load reads every table's schema from its footer: Spark's schema, no job") {
    // the test tables are written by arrow, not Spark: their footers
    // carry no Spark schema, so the parquet schema is converted under the
    // session conf, as Spark's inference converts it (events.ts, a
    // TIMESTAMP(MICROS) without UTC adjustment, reads as TIMESTAMP_NTZ)
    for (name <- Tables.names) {
      val path = s"$sf/$name.parquet"
      val (df, jobs) = SparkSpec.jobsStartedBy(Tables.load(spark, sf, name))
      assert(jobs == 0, s"Tables.load($name) started $jobs Spark job(s)")
      assert(df.schema == spark.read.parquet(path).schema,
        s"$name: ${df.schema.simpleString}")
    }
  }
}
