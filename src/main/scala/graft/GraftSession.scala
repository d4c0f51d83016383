package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. Bench, Verify, DevTime, StarCcAudit
  * and the test suites all call [[local]], so tests run the exact config
  * the correctness dump and the bench run. */
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
}
