package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. Bench, Verify, DevTime, StarCcAudit
  * and the test suites all call [[local]], so tests run the exact config
  * the correctness dump and the bench run; a query that needs its own
  * confs takes a [[child]], and a stream starts inside [[withConfs]]. */
object GraftSession {

  /** Core count the mains run with (`SPARK_GRAFT_CPUS`). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Input corpus of the mains that take no directory argument
    * (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, AQE on,
    * nanos-timestamp decoding, [[GraftExtensions]] (every graft function
    * and the planner strategy), no UI, listing parallelism sized to
    * `cpus` (see Tables.listingParallelism) and a per-process private
    * warehouse (Etl.warehouseDir: bucket metadata cannot outlive the
    * in-memory catalog, so concurrent runs cannot collide). */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.nanosConfKey, "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(Tables.listingParallelismKey, Tables.listingParallelism(cpus))
      .config("spark.sql.warehouse.dir", graft.sources.Etl.warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Turns artifact isolation off for a session derived from the main
    * one. With it on (Spark's default) every session UUID runs its tasks
    * in its own executor class loader, and Spark keys its generated-code
    * cache by class loader, so a clone or child made per run compiles all
    * of its code again on every run. Graft adds no session artifacts, so
    * the shared loader changes no result; the main session keeps its one
    * stable loader. */
  val sharedExecutor: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** A `newSession()` child of `spark` (its own SQLConf, the shared
    * catalog) with `confs` set, that runs on the shared executor state:
    * isolation is off before the child's first use, so its generated
    * code is compiled once per JVM, not once per child. */
  def child(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val c = spark.newSession()
    (sharedExecutor +: confs).foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `body` with `confs` set on `spark`; each key then goes back to its
    * prior value, or is unset if it had none. Streams start in here: a
    * stream runs on a clone that copies the conf at `start()`. */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val set = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
