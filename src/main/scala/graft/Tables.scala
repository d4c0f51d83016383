package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Central table reader for the driver-generated testdata
  * (`/root/testdata/sf*`; schemas in FIXTURES.md §B).
  *
  * Scale notes (100 TB design stance): all reads are plain parquet scans so
  * Catalyst's FileSourceStrategy gets full predicate pushdown + column
  * pruning; callers `.select(...)` / `.filter(...)` immediately after the
  * read so `PushedFilters`/`ReadSchema` stay tight. Metadata is cached,
  * data never is: a regular file's inferred schema is memoised per path
  * and stamp ([[schemaOnce]]), while every read still lists its file and
  * plans its own scan — at 100 TB a cached base table is a liability.
  *
  * Events are read through [[normalizeEvents]], the one `ts` fix-up
  * shared by the batch reads and by the streams that take the stored
  * events file itself as their source (declared with [[rawSchema]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") readEvents(spark, sfDir)
    else parquet(spark, file(sfDir, name))

  /** `spark.read.parquet(path)` without the per-call schema inference:
    * Spark infers a parquet schema with a one-task footer-reading job
    * (`mergeSchemasInParallel`), which made up most of the build-phase
    * jobs of the reference queries. For a regular file the inferred
    * schema is memoised ([[schemaOnce]]) and handed back through
    * `.schema(...)` — the same `StructType`, so the same plan. A
    * directory goes through Spark's own inference on every call: its
    * mtime does not track its part files. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      case Some(st) =>
        spark.read.schema(cached(st)(spark.read.parquet(path).schema))
          .parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Session conf every graft entry point must set at SESSION CONSTRUCTION
    * (GraftSession.local sets it for every main and the tests): the
    * events fixture is regenerated each round and has shipped `ts` as
    * TIMESTAMP(NANOS) (through r7), which Spark's parquet reader rejects
    * by default; under this conf it decodes as long (readEvents then
    * floor-divides to micros). Harmless when the fixture is micros (the
    * r8 shape). Set here as a constant — NOT mutated at read time — so
    * reading a table never has a spooky shared-session side effect; a
    * session built without it fails loudly on the first nanos events
    * read with Spark's own "Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS,...))". */
  val nanosConfKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** File-listing job parallelism for every graft session
    * (`spark.sql.sources.parallelPartitionDiscovery.parallelism`).
    * Spark's default is 10000 — sized so a large CLUSTER can fan a huge
    * object-store listing across its executors, but on a single-node
    * session it degenerates to ONE TASK PER PATH: listing the ~2731
    * explicit manifest paths of one commit cost 4.8 s of pure task-
    * scheduling overhead (r17 job profile — the single largest cost in
    * `q_time_travel_chain`, and every partitioned/manifest read paid
    * it). Scale-adaptive: ONE listing task per core (floor 8) — r17
    * used 4×cpus, but the r18 job profile showed a local-fs listing is
    * task-overhead-bound end to end (stat'ing 2731 paths took the same
    * ~210 ms as 77 paths at 128 tasks; at 32 tasks the whole chain
    * family dropped ~1 s per query), so over-scheduling buys nothing
    * where a stat is microseconds. Every graft session is `local[cpus]`
    * (GraftSession.local), so the core count is the whole cluster. */
  def listingParallelism(cpus: String): String =
    math.max(8, cpus.toInt).toString

  val listingParallelismKey =
    "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** The events table as the batch reads see it: [[normalizeEvents]]
    * over the stored parquet file. */
  private def readEvents(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(parquet(spark, file(sfDir, "events")))

  /** Normalizes `ts` to a session-tz TIMESTAMP whatever the parquet
    * writer chose, schema-driven per branch; one code path for the batch
    * reads and the streams that read the stored events file directly:
    *
    *  - TIMESTAMP(NANOS): under `nanosConfKey` (set at session
    *    construction — see above) it decodes as long; floor-divided to
    *    micros — the same truncation DuckDB applies loading nanos into
    *    its microsecond type, so both engines see identical `ts`. (The
    *    pmod form is true floor division; a bare `div` truncates toward
    *    zero and would diverge from DuckDB by 1µs on pre-1970 nanos.)
    *    CONTRACT: a long-typed `ts` is interpreted as epoch NANOS —
    *    a table storing raw BIGINT epoch-micros must convert upstream
    *    (the logical-type annotation is gone by DataFrame level, so the
    *    two are indistinguishable here).
    *  - TIMESTAMP_NTZ (tz-naive micro/milli — pyarrow's default
    *    `timestamp[us]`, the current driver fixture): cast to
    *    TIMESTAMP. Every graft session pins
    *    `spark.sql.session.timeZone=UTC`, so the cast reinterprets the
    *    naive value as the same UTC instant DuckDB reads — bit-exact.
    *  - TIMESTAMP (tz-adjusted — any normal source): untouched. */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** Where table `name` of a scale-factor directory is stored. */
  def file(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The schema Spark infers from table `name`'s parquet file, before any
    * normalisation — what a stream reading the stored file declares. A
    * regular file's schema comes from the [[schemaOnce]] memo, so a
    * repeat call launches no job. */
  def rawSchema(spark: SparkSession, sfDir: String, name: String)
      : StructType = {
    val path = file(sfDir, name)
    schemaOnce(spark, path)(spark.read.parquet(path).schema)
  }

  /** The session confs that change the schema Spark infers from the same
    * parquet footer; part of every [[schemaOnce]] stamp. */
  private val inferenceConfKeys = Seq(nanosConfKey,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What an inferred schema depends on besides the path: the file's
    * modification time and length, and the inference confs. */
  private final case class Stamp(path: String, mtime: Long, length: Long,
      confs: Seq[Option[String]])

  /** The stamp of `path` if it is a regular file; `None` for a directory
    * or a missing path (Spark then reports it as usual). */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (!st.isFile) None
      else Some(Stamp(fs.makeQualified(p).toString, st.getModificationTime,
        st.getLen, inferenceConfKeys.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** One entry per qualified path, replaced when the stamp changes, so
    * the map is bounded by the number of distinct files read. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]

  /** `infer` runs outside any map lock: an inference is a Spark job, and
    * two racing callers with the same stamp infer the same schema. */
  private def cached(st: Stamp)(infer: => StructType): StructType = {
    val hit = schemaCache.get(st.path)
    if (hit != null && hit._1 == st) hit._2
    else {
      val schema = infer
      schemaCache.put(st.path, (st, schema))
      schema
    }
  }

  /** The one schema memo for inputs whose schema is inferred by a scan:
    * `infer` runs once per stamp of `stampFile`, a regular file that is
    * rewritten whenever the input is (a table's parquet file, or the
    * `_SUCCESS` marker of a published fixture copy). Without a regular
    * file to stamp, `infer` runs on every call. */
  def schemaOnce(spark: SparkSession, stampFile: String)(
      infer: => StructType): StructType =
    stamp(spark, stampFile).fold(infer)(cached(_)(infer))

  /** Register every table as a temp view (reference S5 shape:
    * `registerTempTable`, query1.py:93). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => read(spark, sfDir, n).createOrReplaceTempView(n))
}
