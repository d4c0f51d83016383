package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The sessions the program derives from the main one — stream clones and
  * `GraftSession.child` — run on the JVM's shared executor class loader,
  * so a query's generated code is compiled once per JVM: its second run
  * compiles nothing. Spark keys its generated-code cache by class loader,
  * and an isolated derived session gets a fresh loader on every run. */
class SessionSpec extends SparkSpec {

  private val isolationKey = GraftSession.sharedExecutor._1
  private val partsKey = "spark.sql.shuffle.partitions"

  /** The conf keys a derived-session query may touch on the caller's
    * session, with their explicit values (`None`: unset). */
  private def parentConfs: Seq[(String, Option[String])] = {
    val set = spark.conf.getAll
    Seq(isolationKey, partsKey).map(k => k -> set.get(k))
  }

  /** Classes compiled JVM-wide while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    body
    h.getCount - before
  }

  for (name <- Seq("stream_window_tumbling", "stream_enrich_agg",
      "stream_incremental_sink", "q_runtime_filter", "q_cbo_reorder")) {
    test(s"$name: a second run compiles no class and leaves the" +
        " session's confs as they were") {
      val run = SparkEntry.queries(name)
      val before = parentConfs
      val first = run(spark, sf).collect()
      assert(first.nonEmpty, s"$name returned no rows")
      assert(parentConfs == before, s"$name changed the session's confs")
      val n = compiles(run(spark, sf).collect(): Unit)
      assert(n == 0, s"$name compiled $n classes on its second run")
      assert(parentConfs == before, s"$name changed the session's confs")
    }
  }

  test("withConfs restores a set key, unsets a key that had no value," +
      " and does both when the body throws") {
    val before = parentConfs
    assert(!spark.conf.getAll.contains(isolationKey),
      "the main session sets artifact isolation explicitly")
    val inside = GraftSession.withConfs(spark, GraftSession.sharedExecutor,
        partsKey -> "3") {
      (spark.conf.get(isolationKey), spark.conf.get(partsKey))
    }
    assert(inside == (("false", "3")))
    assert(parentConfs == before)
    intercept[IllegalStateException] {
      GraftSession.withConfs(spark, partsKey -> "5") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(parentConfs == before)
  }

  test("child sets isolation off and its confs on the child only") {
    val before = parentConfs
    val c = GraftSession.child(spark, partsKey -> "3")
    assert(c ne spark)
    assert(c.conf.get(isolationKey) == "false")
    assert(c.conf.get(partsKey) == "3")
    assert(parentConfs == before)
  }
}
