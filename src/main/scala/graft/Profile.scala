package graft

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** The one listener that every measurement of Spark work reads: Bench's
  * per-query task counters, StarCcAudit's per-round shuffle bytes,
  * DevTime's job spans and the specs' job and byte counts.
  *
  * It sums task counters (peak execution memory is kept as a max) and
  * records one span per job. [[mark]] drains the listener bus and hands
  * back everything recorded since the previous mark as one immutable
  * [[Profile.Window]], so no task-end event of earlier work is counted in
  * a later window. */
final class Profile private (sc: SparkContext) extends SparkListener {
  import Profile.{Job, Window}

  // written on the listener-bus thread, read and reset by `mark`
  private var cpuNs, shuffleWrite, spillMem, spillDisk, peakMem = 0L
  private val started = mutable.ArrayBuffer.empty[Job]
  private val ended = mutable.Map.empty[Int, Long]
  private var lastDrainOk = true

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(t.taskMetrics).foreach { m =>
      synchronized {
        cpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // first line only: a stream job's description goes on with
    // "\nid = …\nrunId = …"
    val desc =
      prop("spark.job.description").getOrElse("").takeWhile(_ != '\n')
    val job = Job(e.jobId, desc, e.time, 0L,
      inStream = prop("sql.streaming.queryId").isDefined)
    synchronized(started += job): Unit
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(ended(e.jobId) = e.time)

  /** Drains the listener bus and returns what was recorded since the
    * previous mark (or since the listener was attached). */
  def mark(): Window = {
    val drained =
      try { org.apache.spark.GraftListenerBridge.drain(sc); true }
      catch { case _: TimeoutException => false }
    synchronized {
      val w = Window(cpuNs, shuffleWrite, spillMem, spillDisk, peakMem,
        started.map(j => j.copy(end = ended.getOrElse(j.id, 0L))).toVector,
        clean = lastDrainOk && drained)
      cpuNs = 0L; shuffleWrite = 0L; spillMem = 0L; spillDisk = 0L; peakMem = 0L
      started.clear(); ended.clear()
      lastDrainOk = drained
      w
    }
  }
}

object Profile {

  /** One Spark job: `desc` is the first line of `spark.job.description`,
    * `start`/`end` are epoch millis (`end` is 0 when the job had not ended
    * by the closing mark), and `inStream` is set for a job that ran inside
    * a streaming query (`sql.streaming.queryId`). */
  final case class Job(id: Int, desc: String, start: Long, end: Long,
      inStream: Boolean)

  /** Everything between two marks: summed task CPU nanoseconds, shuffle
    * write and spill bytes, the largest task peak execution memory, and
    * the jobs in start order. `clean` is false when the drain at either
    * end timed out: events of the previous window may then have landed in
    * this one, so its numbers must be dropped, never recorded silently. */
  final case class Window(cpuNs: Long, shuffleWrite: Long, spillMem: Long,
      spillDisk: Long, peakMem: Long, jobs: Vector[Job], clean: Boolean)

  /** Registers a new profile with `sc`. Its first window runs from here to
    * the first [[Profile.mark]]. */
  def attach(sc: SparkContext): Profile = {
    val p = new Profile(sc)
    sc.addSparkListener(p)
    p
  }

  /** `body`'s result and the window of exactly its Spark work: attaches a
    * profile, marks, runs `body`, marks again and detaches. A timed-out
    * drain throws, so no caller reads a partial count; to drop an unclean
    * window and go on, as Bench does, mark through [[attach]] instead. */
  def during[T](sc: SparkContext)(body: => T): (T, Window) = {
    val p = attach(sc)
    try {
      p.mark()
      val r = body
      val w = p.mark() // unclean when either drain timed out
      if (!w.clean) throw new TimeoutException("listener bus did not drain")
      (r, w)
    } finally sc.removeSparkListener(p)
  }
}
