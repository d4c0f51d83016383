package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Etl

/** Benchmark driver JVM. One process per mode:
  *
  *  - `mode=setup`: JVM start -> ready session -> the workload's fixture
  *    builders on an already primed cache; writes both times.
  *  - `mode=run`: set up, prime the fixture cache, run one cold pass
  *    (which writes every query's output for the oracle check), two
  *    warm-up passes, and then measured warm passes until `seconds` have
  *    elapsed; writes one JSON record per pass.
  *
  * Arguments are `key=value` pairs; run.py is the only caller. The program
  * is reached only through its public entry points: `SparkEntry.queries`,
  * `SparkEntry.oracleSql`, `df.queryExecution.executedPlan`, the noop
  * write and the public `Etl` fixture builders. */
object Harness {

  /** One timed query: wall time, CPU time of the program's threads and of
    * the JIT compiler, and the build / plan / action split. */
  final case class Op(name: String, ok: Boolean, wall: Double, cpu: Double,
      jit: Double, build: Double, plan: Double, action: Double,
      error: String) {
    def json: String = Json.obj("name" -> Json.str(name),
      "ok" -> ok.toString, "wall" -> Json.num(wall), "cpu" -> Json.num(cpu),
      "jit" -> Json.num(jit),
      "build" -> Json.num(build), "plan" -> Json.num(plan),
      "action" -> Json.num(action), "error" -> Json.str(error))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument is not key=value: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def list(k: String): Seq[String] =
      opt.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val mode = opt("mode")
    val data = opt("data")
    val cpus = opt("cpus")
    val fixtures = list("fixtures")
    val result = Paths.get(opt("result"))

    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    mode match {
      case "setup" =>
        val fixS = timeS(rebuild(fixtures, spark, data))
        Files.writeString(result, Json.obj(
          "session_s" -> Json.num(sessionS),
          "fixtures_s" -> Json.num(fixS)))
        // set-up is measured; an orderly shutdown is not part of it
        Runtime.getRuntime.halt(0)
      case "run" =>
        try run(spark, opt, list("ops"), fixtures, sessionS, result)
        finally spark.stop()
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** The session every graft entry point builds (Bench/Verify config),
    * with the benchmark's core count. */
  private def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.Tables.nanosConfKey, "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.listingParallelismKey,
        graft.Tables.listingParallelism(cpus))
      .config("spark.sql.warehouse.dir", Etl.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** A fixture builder by spec: `fixture:<table>:<format>` or
    * `csvFixture:<table>`. Returns the fixture's path. */
  def builder(spec: String): (SparkSession, String) => String =
    spec.split(':').toList match {
      case List("fixture", t, f) => (s, d) => Etl.fixture(s, d, t, f)
      case List("csvFixture", t) => (s, d) => Etl.csvFixture(s, d, t)
      case _ => sys.error(s"unknown fixture builder $spec")
    }

  /** The builders again, on the primed cache. A failure was already
    * recorded while priming; here only the time counts. */
  private def rebuild(fixtures: Seq[String], spark: SparkSession,
      data: String): Unit =
    fixtures.foreach { f =>
      try builder(f)(spark, data)
      catch { case _: Throwable => () }
    }

  /** (files, bytes) of the regular files under `f`. */
  private def census(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(census)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)

  /** CPU time of the whole driver JVM (driver and local executor threads,
    * JIT and GC included). */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The JIT compiler threads' `/proc` entries. run.py starts the JVM with
    * a fixed set of compiler threads, so the set is read once. */
  private lazy val jitThreads: Seq[File] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      val comm = new File(t, "comm")
      comm.isFile && {
        val name = Files.readString(comm.toPath).trim
        name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")
      }
    }

  /** CPU time the JIT compiler threads have run (`schedstat`, in ns). How
    * much the JIT compiles during a query depends on timing, not on the
    * query, so the program's CPU time leaves it out. */
  private def jitCpuNs(): Long = jitThreads.map { t =>
    try Files.readString(new File(t, "schedstat").toPath).trim
      .split(' ')(0).toLong
    catch { case _: java.io.IOException => 0L }
  }.sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def run(spark: SparkSession, opt: Map[String, String],
      ops: Seq[String], fixtures: Seq[String], sessionS: Double,
      result: java.nio.file.Path): Unit = {
    val sc = spark.sparkContext
    val data = opt("data")
    val out = opt("out")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val queries = SparkEntry.queries
    ops.foreach(n => require(queries.contains(n), s"unknown query $n"))

    val trace = new Trace
    def attach(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(trace)
        spark.listenerManager.register(trace.queryListener)
        spark.streams.addListener(trace.streamListener)
      } else {
        sc.removeSparkListener(trace)
        spark.listenerManager.unregister(trace.queryListener)
        spark.streams.removeListener(trace.streamListener)
      }
    // runs `body` with the listeners attached; returns the trace record,
    // read after the bus has drained so it holds exactly body's events
    def traced(body: => Unit): String = {
      attach(true)
      org.apache.spark.PerfbenchBridge.drain(sc)
      trace.reset()
      try body
      finally {
        org.apache.spark.PerfbenchBridge.drain(sc)
        attach(false)
      }
      trace.snapshotJson
    }

    // Prime the run's private fixture cache (java.io.tmpdir starts empty),
    // then time the same builders on the primed cache: that is the
    // fixture part of set-up.
    // A builder that throws is recorded and the run goes on: the queries
    // that read its fixture then fail on their own.
    var primeS = 0.0
    var primed = Seq.empty[Either[(String, String), String]]
    def prime(): Unit = primeS = timeS {
      primed = fixtures.map { f =>
        try Right(builder(f)(spark, data))
        catch { case e: Throwable => Left(f -> s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
      }
    }
    val primeTrace = if (tracing) traced(prime()) else { prime(); "null" }
    val primeErrors = primed.collect { case Left(err) => err }
    val (primeFiles, primeBytes) = primed.collect { case Right(p) =>
      census(new File(p)) }
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val fixturesS = timeS(rebuild(fixtures, spark, data))

    // One query: build the DataFrame, force the physical plan, run the
    // action. Jobs are tagged "<query>|<phase>" for the trace.
    def runOp(name: String, action: DataFrame => Unit): Op = {
      val jit0 = jitCpuNs()
      val cpu0 = processCpuNs()
      val marks = ArrayBuffer(System.nanoTime())
      def phase(p: String): Unit =
        sc.setJobGroup(s"$name|$p", name, interruptOnCancel = false)
      def mark(): Unit = marks += System.nanoTime()
      val err =
        try {
          phase("build")
          val df = queries(name)(spark, data); mark()
          phase("plan"); df.queryExecution.executedPlan; mark()
          phase("action"); action(df); mark()
          ""
        } catch { case e: Throwable =>
          while (marks.length < 4) mark()
          s"${e.getClass.getName}: ${e.getMessage}".take(300)
        } finally sc.clearJobGroup()
      def d(i: Int): Double = (marks(i) - marks(i - 1)) / 1e9
      val cpu = processCpuNs() - cpu0
      val jit = jitCpuNs() - jit0
      Op(name, err.isEmpty, (marks(3) - marks(0)) / 1e9, (cpu - jit) / 1e9,
        jit / 1e9, d(1), d(2), d(3), err)
    }

    // One pass over the queries in a seeded order.
    val passes = ArrayBuffer.empty[String]
    def pass(i: Int, kind: String, withTrace: Boolean,
        action: (String, DataFrame) => Unit): Unit = {
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(ops)
      var results = Seq.empty[Op]
      var wall = 0.0
      def body(): Unit = {
        val t0 = System.nanoTime()
        results = order.map(n => runOp(n, df => action(n, df)))
        wall = (System.nanoTime() - t0) / 1e9
      }
      val snapshot = if (withTrace) traced(body()) else { body(); "null" }
      passes += Json.obj("pass" -> i.toString, "kind" -> Json.str(kind),
        "traced" -> withTrace.toString, "wall" -> Json.num(wall),
        "ops" -> Json.arr(results.map(_.json)), "trace" -> snapshot)
    }
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()

    // Pass 0 is the cold pass: the first run of each query in this JVM,
    // writing its result as parquet for the oracle check (one query per
    // spark-submit, as the reference runs them). The next two passes are
    // warm-ups with the noop sink and are not measured: the JIT (C1 only,
    // see run.py) is still compiling after the cold pass, and the first
    // pass after one warm-up still ran slower than the rest. A count, not
    // a time, so a measured pass starts from the same number of runs of
    // each query on every machine. Measured passes
    // (noop sink) follow until `seconds` have elapsed, at least two. A
    // traced run alternates traced and untraced measured passes, at least
    // traced, untraced, traced: the tracing overhead is measured in the
    // same JVM on the same data, and a warm-up trend across passes
    // cancels.
    pass(0, "cold", withTrace = false, (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name"))
    val warmup = 2
    (1 to warmup).foreach(i => pass(i, "warmup", withTrace = false, noop))
    val warmStart = System.nanoTime()
    var i = 1
    val minWarm = if (tracing) 3 else 2
    while (i <= minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      pass(warmup + i, "warm", withTrace = tracing && i % 2 == 1, noop)
      i += 1
    }

    val oracles = SparkEntry.oracleSql
    Files.writeString(result, Json.obj(
      "session_s" -> Json.num(sessionS),
      "fixtures_s" -> Json.num(fixturesS),
      "prime_s" -> Json.num(primeS),
      "prime_files" -> primeFiles.toString,
      "prime_bytes" -> primeBytes.toString,
      "prime" -> primeTrace,
      "prime_errors" -> Json.obj(primeErrors.map { case (f, e) =>
        f -> Json.str(e) }: _*),
      "rss_peak_mb" -> Json.num(peakRssMb()),
      "oracle_sql" -> Json.obj(ops.flatMap(n =>
        oracles.get(n).map(sql => n -> Json.str(sql))): _*),
      "passes" -> Json.arr(passes.toSeq)))
  }
}
