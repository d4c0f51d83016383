package graft

import java.nio.file.{Files, Path}
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

  /** Per-JVM root of every test's scratch directory. When the test JVM
    * exits it is removed, together with the `graft_fix_` fixture caches
    * keyed on directories under it. */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft-test")
    val fixPrefix = "graft_fix_" + root.toString.replaceAll("[^a-zA-Z0-9]", "_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      graft.sources.Etl.deleteRecursively(root.toFile)
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(fixPrefix))
        .foreach(graft.sources.Etl.deleteRecursively)
    }))
    root
  }

  /** A fresh scratch directory under the per-JVM root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** `body`'s result and the number of Spark jobs it launched (the
    * [[Profile]] window of `body` alone). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, w) = Profile.during(spark.sparkContext)(body)
    (r, w.jobs.size)
  }

  /** As [[jobsDuring]], counting only the jobs launched outside any
    * streaming query: the jobs a stream-backed query runs before or after
    * its stream. */
  def nonStreamJobsDuring[T](body: => T): (T, Int) = {
    val (r, w) = Profile.during(spark.sparkContext)(body)
    (r, w.jobs.count(!_.inStream))
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
