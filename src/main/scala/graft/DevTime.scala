package graft

/** Dev utility: time queries (2 runs each — cold incl. codegen/JIT, then
  * warm) or, with -plan, run the noop action and print the executed
  * write's formatted plan: the AQE FINAL plan (runtime exchange reuse,
  * coalesced partitions, join conversions), then the initial one. `-jobs`
  * additionally prints every Spark job the warm run launched (wall ms +
  * description) plus the driver-side gap between jobs — the
  * planning/listing/collect time no task metric sees. Not part of the
  * driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=...
  *   runMain graft.DevTime [-plan | -jobs] <query> [<query> ...] */
object DevTime {

  private final class JobLog extends org.apache.spark.scheduler.SparkListener {
    case class J(id: Int, desc: String, start: Long, var end: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[J]
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, J]
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val j = J(e.jobId, d, e.time)
      open.put(e.jobId, j); jobs.add(j): Unit
    }
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(_.end = e.time)
    def clear(): Unit = { jobs.clear(); open.clear() }
  }

  /** Formatted plan of the last query `action` executed, captured after
    * it ran (the listener bus is drained before reading). */
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
    val spark = GraftSession.local(GraftSession.cpus)
    val d = GraftSession.sfDir
    val (flags, names) = args.partition(_.startsWith("-"))
    val jl = new JobLog
    if (flags.contains("-jobs")) spark.sparkContext.addSparkListener(jl)
    def noop(name: String): Unit =
      SparkEntry.queries(name)(spark, d)
        .write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      if (flags.contains("-plan")) {
        println(s"===== PLAN $name =====")
        println(executedPlan(spark)(noop(name)))
      } else {
        (1 to 2).foreach { i =>
          if (i == 2 && flags.contains("-jobs")) {
            org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
            jl.clear()
          }
          val t0 = System.nanoTime()
          noop(name)
          println(f"TIMING $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        if (flags.contains("-jobs")) {
          org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
          val js = jl.jobs.toArray(Array.empty[jl.J]).sortBy(_.start)
          var prev = 0L
          js.foreach { j =>
            val gap = if (prev == 0L) 0L else j.start - prev
            prev = math.max(prev, j.end)
            val dur = if (j.end > 0) j.end - j.start else -1L
            // first line only: a stream job's description goes on with
            // "\nid = …\nrunId = …"
            val desc = j.desc.takeWhile(_ != '\n').take(90)
            println(f"  JOB ${j.id}%4d ${dur}%6d ms  (gap ${gap}%5d ms)  $desc")
          }
          println(s"  JOBS total ${js.length}")
        }
      }
    }
    spark.stop()
  }
}
