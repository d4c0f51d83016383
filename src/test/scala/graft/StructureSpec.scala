package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-tree guards that keep the single seams single: one session
  * builder (GraftSession), and function names and planner strategies
  * bound only through GraftExtensions. */
class StructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally s.close()
  }

  private def offenders(needle: String,
      allowed: Path => Boolean = _ => false): Seq[String] =
    sources.collect {
      case (p, text) if text.contains(needle) && !allowed(p) => p.toString
    }

  test("the guards scan the program sources") {
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"),
      s"no GraftSession.scala under ${root.toAbsolutePath}")
  }

  test("SparkSession.builder appears only in GraftSession") {
    val bad = offenders("SparkSession.builder",
      _.getFileName.toString == "GraftSession.scala")
    assert(bad.isEmpty, s"build sessions with GraftSession.local: $bad")
  }

  test("no createOrReplaceTempFunction: graft functions bind through" +
      " GraftExtensions, data-bound ones are Columns") {
    val bad = offenders("createOrReplaceTempFunction")
    assert(bad.isEmpty, s"session-global function registration in: $bad")
  }

  test("no experimental.extraStrategies: GraftExtensions injects the" +
      " planner strategy") {
    val bad = offenders("experimental.extraStrategies")
    assert(bad.isEmpty, s"per-call strategy registration in: $bad")
  }
}
