package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

import graft.store.Store

/** One shared local session for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it starts on this thread (and
    * threads it spawns, which inherit local properties). Jobs are tagged
    * through a local property, so other threads' jobs are not counted.
    * Listener events arrive asynchronously but in posting order, so a
    * marker job after `body` is the flush: once its start is delivered,
    * every job `body` started has been counted. */
  def jobsStartedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobCounter"
    val token = UUID.randomUUID.toString
    val marker = s"$token.flush"
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`token`) => counted.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, token)
      val out = try body finally sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, TimeUnit.SECONDS),
        "the marker job's start was never delivered to the listener")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Every store under `root` (each dir holding params): [[Store.params]]
    * must equal the reference Spark read, `readParams(...).head()`, in
    * field names, types and values — or fail where the reference fails. */
  def assertParamsMatchReference(root: String): Unit = {
    val walk = Files.walk(Paths.get(root))
    val dirs =
      try walk.iterator().asScala.filter(Files.isDirectory(_)).map(_.toString).toList
      finally walk.close()
    dirs.filter(Store.hasParams).foreach { d =>
      (Try(Store.readParams(spark, d).head()), Try(Store.params(spark, d))) match {
        case (Success(ref), Success(got)) =>
          assert(got.schema == ref.schema && got == ref,
            s"params of $d: driver read $got (${got.schema.simpleString}) " +
              s"!= Spark read $ref (${ref.schema.simpleString})")
        case (Success(ref), Failure(e)) =>
          fail(s"params of $d: Spark read $ref, the driver read failed", e)
        case (Failure(_), Success(got)) =>
          fail(s"params of $d: the Spark read failed, the driver read $got")
        case (Failure(_), Failure(_)) => ()
      }
    }
  }
}
