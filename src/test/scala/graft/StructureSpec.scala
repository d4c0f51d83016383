package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-tree guards that keep the single seams single: one session
  * builder (GraftSession), derived sessions and stream starts only through
  * its `child` and `withConfs`, function names and planner strategies
  * bound only through GraftExtensions, one connected-components loop, one
  * stream delivery stager, one profiler, one table-layout protocol, one
  * Lloyd kernel, and a fixed set of environment keys. */
class StructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[(Path, String)] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally s.close()
  }

  private lazy val sources = scalaFiles(root)

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

  test("newSession( appears only in GraftSession: children come from" +
      " GraftSession.child") {
    val bad = offenders("newSession(",
      _.getFileName.toString == "GraftSession.scala")
    assert(bad.isEmpty, s"derive sessions with GraftSession.child: $bad")
  }

  test("every writeStream starts inside GraftSession.withConfs") {
    val any = """\.writeStream\b""".r
    val scoped = """withConfs\([^{}]*?[{(]\s*\w+\.writeStream\b""".r
    val streams = sources.filter { case (_, text) =>
      any.findFirstIn(text).nonEmpty
    }
    assert(streams.nonEmpty, "no writeStream under the program sources")
    val bad = streams.collect {
      case (p, text) if any.findAllMatchIn(text).size !=
          scoped.findAllMatchIn(text).size => p.toString
    }
    assert(bad.isEmpty, s"a stream starts outside withConfs in: $bad")
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

  test("one connected-components loop: one convergence failure message") {
    val hits = sources.flatMap { case (p, text) =>
      "did not converge".r.findAllMatchIn(text).map(_ => p.toString)
    }
    assert(hits.size == 1,
      s"expected connectedComponentsStar's alone, found in: $hits")
  }

  test("one way to feed a stream: the stager is StreamingQueries' one" +
      " write, and no query delivers by hand") {
    val dir = root.resolve("graft/streaming")
    val text = sources.collect {
      case (p, t) if p.getFileName.toString == "StreamingQueries.scala" &&
          p.startsWith(dir) => t
    }
    assert(text.size == 1, s"no StreamingQueries.scala under $dir")
    val writes = """\.write\b""".r.findAllMatchIn(text.head).size
    assert(writes == 1, s"$writes .write calls in StreamingQueries: stage" +
      " deliveries through stageDeliveries")
    assert(!text.head.contains("deliver("),
      "a per-delivery deliver( is back in StreamingQueries")
  }

  test("one profiler: SparkListener is subclassed or instantiated only" +
      " in graft/Profile.scala") {
    val listener = """(?:extends|with|new)\s+(?:[\w.]+\.)?SparkListener\b""".r
    val profile = root.resolve("graft/Profile.scala")
    val hits = (sources ++ scalaFiles(Paths.get("src/test/scala"))).collect {
      case (p, text) if listener.findFirstIn(text).nonEmpty => p
    }
    assert(hits.contains(profile), s"no listener in $profile")
    val bad = hits.filterNot(_ == profile)
    assert(bad.isEmpty, s"measure Spark work through graft.Profile: $bad")
  }

  /** The sources holding a match of `pattern`, one entry per match. */
  private def matches(pattern: String): Seq[String] =
    sources.flatMap { case (p, text) =>
      pattern.r.findAllMatchIn(text).map(_ => p.toString)
    }

  test("one table-layout protocol: the clustered write, the zone-map" +
      " aggregate and the zone-overlap predicate each appear once") {
    val recipe =
      matches("""(?s)sortWithinPartitions\(.{0,200}?\.partitionBy\(""")
    assert(recipe.size == 1,
      s"clustered writes go through Etl.writeClustered, found: $recipe")
    val zoneAgg = matches("""\.as\("x_lo"\)""")
    assert(zoneAgg.size == 1,
      s"zone maps are built by Etl.zoneMaps, found: $zoneAgg")
    val overlap = matches(""""x_hi"\)?\s*>=""")
    assert(overlap.size == 1,
      s"zone prunes use Etl.zoneOverlap, found: $overlap")
  }

  test("one Lloyd kernel: Similarity's fixed-point update, model frames," +
      " squared-L2 fold, probe ranking and ADC fold each appear once") {
    val file = root.resolve("graft/operators/Similarity.scala")
    val text = sources.collect { case (p, t) if p == file => t }
    assert(text.size == 1, s"no $file")
    Seq("1000000.0", "treeAggregate", """toDF("cell_id", "centroid")""",
      "(x - c) * (x - c)", """Window.partitionBy($"q_id")""",
      """collect_list(struct($"s", $"l2q"))""").foreach { needle =>
      val n = java.util.regex.Pattern.quote(needle).r
        .findAllMatchIn(text.head).size
      assert(n == 1, s"$needle appears $n times in $file")
    }
  }

  /** Deployment paths and core count, the stream scratch directory, and
    * the query selection of a local Bench run. */
  private val envKeys = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_STREAM_TMP", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_STARCC_OUT")

  test("environment reads use only the allowed keys") {
    val anyRead = """sys\.env|System\.getenv""".r
    val keyed =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r
    val unkeyed = sources.collect {
      case (p, text) if anyRead.findAllMatchIn(text).size !=
          keyed.findAllMatchIn(text).size => p.toString
    }
    assert(unkeyed.isEmpty, s"environment read without a literal key: $unkeyed")
    val keys = sources.flatMap { case (_, text) =>
      keyed.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(keys == envKeys,
      s"unexpected keys ${keys -- envKeys}, missing ${envKeys -- keys}")
  }
}
