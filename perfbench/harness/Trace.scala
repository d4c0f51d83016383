package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-pass layer counters, fed by Spark's own listener APIs: a
  * `SparkListener` (jobs, stages, tasks, block updates), a
  * `QueryExecutionListener` (Catalyst phases from `QueryPlanningTracker`)
  * and a `StreamingQueryListener` (micro-batch `durationMs`). Everything
  * is kept in memory and read once per pass, after the listener bus has
  * drained. */
final class Trace extends SparkListener {
  import Trace.Job

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val counters = Trace.counterNames.map(_ -> new AtomicLong).toMap
  private val catalyst = Trace.catalystPhases.map(_ -> new DoubleAdder).toMap
  private val streamPhases = Trace.streamPhases.map(_ -> new DoubleAdder).toMap
  private val batchMs = new ConcurrentLinkedQueue[java.lang.Long]
  private val stateRows =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]

  private def add(name: String, v: Long): Unit = counters(name).addAndGet(v): Unit

  def reset(): Unit = {
    jobs.clear(); batchMs.clear(); stateRows.clear()
    counters.values.foreach(_.set(0))
    catalyst.values.foreach(_.reset())
    streamPhases.values.foreach(_.reset())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the group is "<op>|<phase>", set by the harness around each phase
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val phase = group.split('|').lift(1).getOrElse("other")
    jobs.put(e.jobId, new Job(e.time, e.time, phase)): Unit
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("task_run_ms", m.executorRunTime)
      add("task_cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      add("output_records", m.outputMetrics.recordsWritten)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // localCheckpoint / persist blocks: every stored RDD block, counted once
  // per store (a later drop reports an invalid level and is not counted)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      add("stored_bytes", b.memSize + b.diskSize)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        catalyst.get(phase).foreach(_.add(s.durationMs / 1e3))
      }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      Option(d.get("triggerExecution")).foreach(batchMs.add)
      streamPhases.foreach { case (k, acc) =>
        Option(d.get(k)).foreach(v => acc.add(v / 1e3))
      }
      stateRows.put(p.runId, p.stateOperators.map(_.numRowsTotal).sum): Unit
    }
  }

  /** The pass's raw record, as JSON: job intervals with their phase, and
    * the summed counters. Interval arithmetic is left to the caller. */
  def snapshotJson: String = {
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(_.start).map { j =>
      Json.arr(Seq(j.start.toString, j.end.toString, Json.str(j.phase)))
    }
    val batches = batchMs.asScala.toSeq.map(_.toString)
    Json.obj(
      "jobs" -> Json.arr(js),
      "counters" -> Json.obj(counters.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.get.toString }: _*),
      "catalyst_s" -> Json.obj(catalyst.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v.sum) }: _*),
      "stream_s" -> Json.obj(streamPhases.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v.sum) }: _*),
      "batch_ms" -> Json.arr(batches),
      "state_rows" -> stateRows.values.asScala.map(_.longValue).sum.toString)
  }
}

object Trace {
  final class Job(val start: Long, var end: Long, val phase: String)

  val counterNames: Seq[String] = Seq("stages", "tasks", "task_run_ms",
    "task_cpu_ns", "gc_ms", "input_bytes", "input_records",
    "output_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_ms", "spill_bytes", "stored_bytes")
  val catalystPhases: Seq[String] = Seq("analysis", "optimization", "planning")
  val streamPhases: Seq[String] = Seq("triggerExecution", "addBatch",
    "queryPlanning", "walCommit", "latestOffset", "getBatch", "commitOffsets")
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
