package graft

/** Dev utility: time queries (2 runs each — cold incl. codegen/JIT, then
  * warm) or, with -plan, run the noop action and print the executed
  * write's formatted plan: the AQE FINAL plan (runtime exchange reuse,
  * coalesced partitions, join conversions), then the initial one. `-jobs`
  * additionally prints every Spark job the warm run launched (wall ms +
  * description) plus the driver-side gap between jobs — the
  * planning/listing/collect time no task metric sees — as recorded by the
  * warm run's [[Profile]] window. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=...
  *   runMain graft.DevTime [-plan | -jobs] <query> [<query> ...] */
object DevTime {

  /** Formatted plan of the last query `action` executed on `spark`,
    * captured after it ran (the listener bus is drained before reading).
    * `spark` must be the session the action runs on: a child session
    * (`q_runtime_filter`'s) has its own listener manager. */
  private def executedPlan(spark: org.apache.spark.sql.SparkSession)(
      action: => Unit): String = {
    val last = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = last.set(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      action
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    last.get.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("-"))
    val selected = SparkEntry.select(names.toSeq)
    val spark = GraftSession.local(GraftSession.cpus)
    val d = GraftSession.sfDir
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    selected.foreach { q =>
      if (flags.contains("-plan")) {
        println(s"===== PLAN ${q.name} =====")
        val df = q.run(spark, d)
        println(executedPlan(df.sparkSession)(noop(df)))
      } else {
        def timed(i: Int): Unit = {
          val t0 = System.nanoTime()
          noop(q.run(spark, d))
          println(f"TIMING ${q.name} run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        timed(1)
        if (flags.contains("-jobs")) {
          val (_, w) = Profile.during(spark.sparkContext)(timed(2))
          var prev = 0L
          w.jobs.foreach { j =>
            val gap = if (prev == 0L) 0L else j.start - prev
            prev = math.max(prev, j.end)
            val dur = if (j.end > 0) j.end - j.start else -1L
            val desc = j.desc.take(90)
            println(f"  JOB ${j.id}%4d ${dur}%6d ms  (gap ${gap}%5d ms)  $desc")
          }
          println(s"  JOBS total ${w.jobs.length}")
        } else timed(2)
      }
    }
    spark.stop()
  }
}
