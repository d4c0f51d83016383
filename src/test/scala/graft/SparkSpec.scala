package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — suites
  * run sequentially under `Test / fork := true`), built by the same
  * GraftSession.local the mains use. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf: String = "/root/testdata/sf0.001"
  /** The denser second-scale fixture for tests whose claim only holds
    * past the sparse-grid regime (curve-layout comparisons etc.). */
  val sfDense: String = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** `body`'s result and the number of Spark jobs it launched (listener
    * delivery is drained before and after, so no other job is counted). */
  def jobsDuring[T](body: => T): (T, Int) = jobsWhere(_ => true)(body)

  /** As [[jobsDuring]], counting only the jobs launched outside any
    * streaming query (no `sql.streaming.queryId` local property): the
    * jobs a stream-backed query runs before or after its stream. */
  def nonStreamJobsDuring[T](body: => T): (T, Int) =
    jobsWhere(j => Option(j.properties)
      .forall(_.getProperty("sql.streaming.queryId") == null))(body)

  private def jobsWhere[T](
      counted: org.apache.spark.scheduler.SparkListenerJobStart => Boolean)(
      body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (counted(j)) jobs.incrementAndGet(): Unit
    }
    org.apache.spark.GraftListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftListenerBridge.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  /** Order-insensitive DataFrame equality on collected rows. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq,
      s"column mismatch: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val ra = a.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val rb = b.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(ra.length == rb.length, s"row count ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) => assert(x == y, s"row $x != $y") }
  }
}
