package graft.sources

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** ETL utilities — the reference's `csv_to_parquet.py` (CSV with header +
  * inferSchema → snappy parquet, csv_to_parquet.py:7-13) re-expressed, plus
  * the scale-aware variants a 100 TB ingest actually needs, and the cached
  * fixtures the table-lifecycle queries read.
  *
  * Those fixtures share ONE clustered-table layout protocol; each layout
  * decision is made by one helper:
  *  - [[writeClustered]]: partition directories, one sorted file per
  *    partition, and the check that guards it;
  *  - [[zoneMaps]] / [[writeZones]]: the per-partition (x_lo, x_hi, y_lo,
  *    y_hi) boxes, one small file beside the data;
  *  - [[zoneOverlap]] / [[zoneCands]] / [[candidateScan]]: the rectangle
  *    prune and the candidate-bucket read every rectangle DML shares;
  *  - [[dvKey]] / [[dvPositions]] / [[dropDeleted]]: the deletion-vector
  *    (fp, ri) sidecar, its (hbucket, ri) decode and the one anti-join;
  *  - [[partitionValue]]: a partition value from a table-relative path;
  *  - [[binPack]]: the OPTIMIZE bin assignment;
  *  - [[writeManifest]] / [[chainPublish]] / [[forkChain]]: ref manifests,
  *    the `_current` pointer, and forking a chain root.
  */
object Etl {

  /** Literal port of the reference ETL: one CSV directory → snappy parquet.
    * Schema inference costs an extra pass over the input — fine for a
    * one-time conversion, wrong for repeated ingest (see
    * `csvToParquetWithSchema`). */
  def csvToParquet(spark: SparkSession, csvPath: String,
      parquetPath: String): Unit =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(csvPath)
      .write
      .option("compression", "snappy")
      .mode(SaveMode.Overwrite)
      .parquet(parquetPath)

  /** Production-shape ingest: explicit schema (no inference pass — at
    * 100 TB the inference scan alone is hours), optional partitioning
    * column for downstream partition pruning, and a target in-file row
    * group sizing via maxRecordsPerFile. */
  def csvToParquetWithSchema(spark: SparkSession, csvPath: String,
      schemaDdl: String, parquetPath: String,
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = spark.read
      .option("header", "true")
      .schema(schemaDdl)
      .csv(csvPath)
      .write
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(parquetPath)
  }

  /** Cached CSV copy of a parquet fixture table, for the CSV-source twin
    * queries (the reference measured every query on both formats). */
  def csvFixture(spark: SparkSession, sfDir: String, table: String): String =
    fixture(spark, sfDir, table, "csv")

  /** Cached alternate-format copy of a fixture table (`csv`, `json`
    * (JSON-lines), `orc`) for source-twin queries.
    *
    * Publication is atomic and staleness-safe: the copy is written to a
    * fresh temp dir and renamed into place, and is rebuilt whenever the
    * source parquet is newer than the copy's `_SUCCESS` marker — a bare
    * `exists()` check would trust a stale copy after fixture regeneration,
    * or a torn one from a crashed writer. */
  def fixture(spark: SparkSession, sfDir: String, table: String,
      format: String): String =
    cachedFixture(sfDir, s"$table-$format", s"$sfDir/$table.parquet") { tmp =>
      val w = graft.Tables.read(spark, sfDir, table)
        .write.mode(SaveMode.Overwrite)
      (if (format == "csv") w.option("header", "true") else w)
        .format(format).save(tmp.getAbsolutePath)
    }

  /** Cached copy of `events` as a date-partitioned parquet table
    * (`event_date=YYYY-MM-DD/` directories) — the layout a production
    * event store uses so date filters prune whole partitions at plan
    * time instead of scanning 100 TB to discard 97% of it. */
  def eventsByDayFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "events-byday", s"$sfDir/events.parquet") { tmp =>
      graft.Tables.read(spark, sfDir, "events")
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_date")
        .parquet(tmp.getAbsolutePath)
    }

  /** Subdirectories of a clustered table root ([[hilbertOrdersFixture]]
    * and the fixtures derived from it): `table/` holds the
    * hbucket-partitioned data; `zones/` the per-bucket zone-map table
    * (hbucket, x_lo, x_hi, y_lo, y_hi — ≤ 2731 rows). Zone maps are
    * collected AT WRITE TIME — the production shape, where layout
    * statistics are index metadata maintained by the ingest, never
    * re-derived by a full scan at query time. */
  val HilbertTableDir = "table"
  val HilbertZonesDir = "zones"

  // ---- The clustered-table layout protocol. Each layout decision lives
  // in exactly one helper below; every lifecycle fixture in this file and
  // every table-lifecycle query in RefQueries goes through them.

  /** CLUSTERED WRITE — owns the physical layout: one directory partition
    * per `key` value, holding ONE file whose rows are `sortCol`-sorted
    * (tight footer stats). Rows are APPENDED: a fresh `dir` gets the
    * whole table, and a copy-on-write pass ([[cowRewrite]]) removes the
    * partitions it rewrites first, so untouched partitions carry over.
    * LOAD-BEARING INVARIANT, checked after every write: one data file
    * per partition directory. The MOR serve joins key deletes on
    * (hbucket, `_metadata.row_index`) and the chain maps each manifest
    * entry to one bucket, both sound ONLY while (file, position) ≡
    * (partition, position) — a writer that splits a partition
    * (maxRecordsPerFile, task splitting) or appends into a partition
    * that was not removed fails the BUILD here, naming the directory,
    * instead of letting an anti-join silently under-delete. Flip side
    * at 100 TB: one file per partition caps write parallelism and file
    * size per partition — acceptable at these narrow partitions; a
    * wider layout would need a row-group-aware position key. */
  private[graft] def writeClustered(rows: DataFrame, key: String,
      sortCol: String, dir: File): Unit = {
    rows.repartition(col(key))
      .sortWithinPartitions(col(key), col(sortCol))
      .write.mode(SaveMode.Append)
      .partitionBy(key)
      .parquet(dir.getAbsolutePath)
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(s"$key="))
      .foreach { d =>
        val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
        require(parts == 1, s"one-file-per-partition invariant broken: " +
          s"$d holds $parts data files (expected 1)")
      }
  }

  /** ZONE MAPS — own the per-partition bounding box: one row per `key`
    * value with the (x_lo, x_hi, y_lo, y_hi) of its rows' grid coords,
    * then any `extra` aggregates (the compaction's hbucket range). */
  private[graft] def zoneMaps(rows: DataFrame, key: String,
      extra: Column*): DataFrame =
    rows.groupBy(col(key).cast("long").as(key))
      .agg(min(col("x8")).as("x_lo"), Seq(max(col("x8")).as("x_hi"),
        min(col("y8")).as("y_lo"), max(col("y8")).as("y_hi")) ++ extra: _*)

  /** Zone maps are one small file beside the data. */
  private[graft] def writeZones(zones: DataFrame, dir: File): Unit =
    zones.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(dir.getAbsolutePath)

  /** ZONE PRUNE — owns the overlap test: a zone row can hold a point of
    * `rect` = (xLo, xHi, yLo, yHi) iff the two boxes intersect. */
  private[graft] def zoneOverlap(rect: (Long, Long, Long, Long)): Column = {
    val (xLo, xHi, yLo, yHi) = rect
    col("x_hi") >= xLo && col("x_lo") <= xHi &&
      col("y_hi") >= yLo && col("y_lo") <= yHi
  }

  /** The `key` values of the zone rows overlapping `rect`, ascending
    * (one collect of ≤ 2731 metadata rows). */
  private[graft] def zoneCands(zones: DataFrame, key: String,
      rect: (Long, Long, Long, Long)): Array[Long] =
    zones.filter(zoneOverlap(rect))
      .select(col(key)).collect().map(_.getLong(0)).sorted

  /** `RefQueries.MergeStripe` as a zone rectangle: the x8 stripe across
    * the whole 8-bit y range. */
  private[graft] def stripeRect: (Long, Long, Long, Long) = {
    val (sLo, sHi) = graft.operators.RefQueries.MergeStripe
    (sLo, sHi, 0L, 255L)
  }

  /** The rows of the clustered table at `root` in the given buckets
    * (hbucket as long) — a plan-time partition prune. */
  private[graft] def bucketScan(spark: SparkSession, root: String,
      buckets: Seq[Long]): DataFrame =
    spark.read.parquet(s"$root/$HilbertTableDir")
      .withColumn("hbucket", col("hbucket").cast("long"))
      .filter(col("hbucket").isin(buckets: _*))

  /** The CANDIDATE SCAN every rectangle DML shares: `rect`'s
    * zone-candidate buckets of the table at `root` and their rows. Only
    * candidate files are opened and decoded (PlanSpec pins the
    * PartitionFilters), but [[bucketScan]] lists every bucket directory
    * of the table before the prune. */
  private[graft] def candidateScan(spark: SparkSession, root: String,
      rect: (Long, Long, Long, Long)): (DataFrame, Array[Long]) = {
    val cands = zoneCands(spark.read.parquet(s"$root/$HilbertZonesDir"),
      "hbucket", rect)
    (bucketScan(spark, root, cands), cands)
  }

  /** Rows inside `rect` on the 8-bit grid. */
  private[graft] def inRect(rect: (Long, Long, Long, Long)): Column = {
    val (xLo, xHi, yLo, yHi) = rect
    col("x8").between(xLo, xHi) && col("y8").between(yLo, yHi)
  }

  /** DELETION-VECTOR KEY — owns the sidecar shape: `fp`, the row's file
    * as a table-relative path, and `ri`, its position in that file (the
    * Delta/Iceberg deletion-vector shape, positions-array instead of a
    * roaring bitmap — same semantics). */
  private def dvKey: Seq[Column] = Seq(
    substring_index(col("_metadata.file_path"), s"/$HilbertTableDir/", -1)
      .as("fp"),
    col("_metadata.row_index").as("ri"))

  /** A sidecar's tombstones as (hbucket, ri): one file per bucket
    * directory ([[writeClustered]]) makes (file, position) ≡ (hbucket,
    * position), so the decode runs on the sidecar rows only and the scan
    * side never materializes a per-row file-path string (the r17
    * measurement: ~2 s of task cpu on a ~3 s scan). */
  private[graft] def dvPositions(dv: DataFrame): DataFrame =
    dv.select(regexp_extract(col("fp"), "hbucket=(\\d+)/", 1).cast("long")
      .as("hbucket"), col("ri"))

  /** `rows` (long `hbucket`, `ri` = `_metadata.row_index`) minus the
    * [[dvPositions]] tombstones — the one broadcast position anti-join
    * of every DV reader and builder. */
  private[graft] def dropDeleted(rows: DataFrame,
      positions: DataFrame): DataFrame =
    rows.join(broadcast(positions), Seq("hbucket", "ri"), "left_anti")

  /** The live rows of the given buckets of the clustered table at
    * `root` under the [[dvPositions]] tombstones — what a compaction
    * materializes. */
  private def liveRows(spark: SparkSession, root: String,
      buckets: Seq[Long], positions: DataFrame): DataFrame =
    dropDeleted(bucketScan(spark, root, buckets)
      .withColumn("ri", col("_metadata.row_index")), positions).drop("ri")

  /** The value of partition column `key` in a table-relative file path
    * (`c1/hbucket=17/part-…` → 17). */
  private[graft] def partitionValue(rel: String, key: String): Long =
    rel.split('/').find(_.startsWith(s"$key=")).get
      .drop(key.length + 1).toLong

  /** OPTIMIZE bin assignment — `rows` (long `hbucket`) with a `cbin`
    * column packing CONTIGUOUS hbucket ranges into ~256 target-size bins
    * (rows stand in for bytes at fixture scale). Deterministic: running
    * row count over the ≤ 2731-row bucket-count table (triangular
    * broadcast join, the packSequences offset pattern), bin =
    * cum_before div target — so the DuckDB oracle replays the exact file
    * layout. */
  private def binPack(rows: DataFrame): DataFrame = {
    val counts = rows.groupBy(col("hbucket"))
      .agg(count(lit(1)).as("bc"))
    val total = counts.agg(coalesce(sum(col("bc")), lit(0L)))
      .head().getLong(0)
    val target = math.max(64L, (total + 255L) / 256L)
    val bins = counts.as("a")
      .join(broadcast(counts.as("b")),
        col("b.hbucket") < col("a.hbucket"), "left_outer")
      .groupBy(col("a.hbucket").as("hbucket"))
      .agg(coalesce(sum(col("b.bc")), lit(0L)).as("cum_before"))
      .select(col("hbucket"),
        expr(s"cum_before div $target").as("cbin"))
    rows.join(broadcast(bins), Seq("hbucket"))
  }

  /** Cached copy of `orders` PHYSICALLY laid out on the Hilbert curve —
    * the write path that makes `RefQueries.qHilbertLayout`'s analysis
    * load-bearing: rows carry their 8-bit grid coords (x8, y8) and
    * Hilbert index, are DIRECTORY-PARTITIONED by `hbucket = hidx div 24`
    * (the layout analysis' own bucket width — bucket count is bounded by
    * the 256×256 grid, ~2731 partitions at ANY corpus size, each ~37 GB
    * at 100 TB), and sorted by hidx within each file so footer zone maps
    * stay tight. A 2-D range scan then consults the per-bucket zone maps
    * and prunes whole partitions AT PLAN TIME (`q_hilbert_write`
    * plan-guards it) — the reason warehouses cluster on space-filling
    * curves. Built once per (machine, sfDir) like the other fixtures;
    * Bench accounts it under `etl`, never inside a timed query. */
  def hilbertOrdersFixture(spark: SparkSession, sfDir: String): String = {
    curveOrdersFixture(spark, sfDir, "orders-hilbert-v3",
      "hilbert_xy2d(x8, y8)")
  }

  /** Morton (Z-order) twin of [[hilbertOrdersFixture]] — the SAME grid,
    * bucket width (24), zone-map protocol, and directory layout, only
    * the space-filling curve differs: bit-interleave instead of the
    * quadrant-rotation walk. Exists so `q_zorder_write` can measure, on
    * physically written tables, how many partitions each curve's zone
    * maps let the same rectangle scan SKIP — the write-path version of
    * the zone-AREA comparison the layout specs already make. */
  def zorderOrdersFixture(spark: SparkSession, sfDir: String): String =
    curveOrdersFixture(spark, sfDir, "orders-zorder-v1",
      (0 until 8).map(i =>
        s"(shiftleft(shiftrightunsigned(x8, $i) & 1, ${2 * i})) + " +
          s"(shiftleft(shiftrightunsigned(y8, $i) & 1, ${2 * i + 1}))")
        .mkString("(", " + ", ")"))

  /** The frozen layout stats of the clustered orders table —
    * (ck_min, ck_max, day_min, day_max) as one Row. ONE definition
    * shared by the ingest ([[curveLaid]]) and the MERGE update half
    * ([[cowMergeStripe]]), so a drift between them — which would shift
    * relocated rows' y8 relative to inserted rows' placement — is
    * impossible by construction. */
  private[graft] def orderLayoutStats(spark: SparkSession,
      sfDir: String): org.apache.spark.sql.Row = {
    graft.Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
      .agg(min(col("ck")), max(col("ck")), min(col("day")), max(col("day")))
      .head()
  }

  /** Insert re-key offset for the MERGE batch: the smallest multiple of
    * 10^7 strictly above the table's max order key. Derived, not a
    * fixed constant — a constant bakes in a scale ceiling (TPC-H keys
    * reach 6M·SF, crossing any literal at some SF and colliding re-keyed
    * inserts with real keys). Deterministic and replayed by the oracle
    * with the same integer arithmetic. */
  private[graft] def mergeKeyOffset(spark: SparkSession,
      sfDir: String): Long = {
    val mx = graft.Tables.read(spark, sfDir, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    (mx / 10000000L + 1L) * 10000000L
  }

  /** The curve-laid orders rows (o_orderkey, ck, day, x8, y8, hidx,
    * hbucket) for a given curve-index SQL — the shared derivation behind
    * [[curveOrdersFixture]]'s write and the MERGE pass's insert feed
    * (both place rows with the SAME [[orderLayoutStats]]). */
  private[graft] def curveLaid(spark: SparkSession, sfDir: String,
      idxSql: String): DataFrame = {
    val st = orderLayoutStats(spark, sfDir)
    val (ckMin, ckMax) = (st.getLong(0), st.getLong(1))
    val (dayMin, dayMax) = (st.getLong(2), st.getLong(3))
    graft.Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
      .withColumn("x8",
        expr(s"((ck - $ckMin) * 256) div (${ckMax - ckMin + 1})"))
      .withColumn("y8",
        expr(s"((day - $dayMin) * 256) div (${dayMax - dayMin + 1})"))
      .withColumn("hidx", expr(idxSql))
      .withColumn("hbucket", expr("hidx div 24"))
      .select("o_orderkey", "ck", "day", "x8", "y8", "hidx", "hbucket")
  }

  /** Shared curve-clustered write: orders → 8-bit grid → `idxSql` curve
    * index → width-24 `hbucket` directory partitions, hidx-sorted within
    * files, write-time zone maps beside the data. */
  private def curveOrdersFixture(spark: SparkSession, sfDir: String,
      key: String, idxSql: String): String =
    cachedFixture(sfDir, key, s"$sfDir/orders.parquet") { tmp =>
      val laid = curveLaid(spark, sfDir, idxSql)
      writeClustered(laid, "hbucket", "hidx", new File(tmp, HilbertTableDir))
      // zone maps collected in the same build, beside the data (one
      // grid-bounded aggregate — at scale this is the stats pass an
      // ingest job already does)
      writeZones(zoneMaps(laid, "hbucket"), new File(tmp, HilbertZonesDir))
    }

  /** COMPACTED (bin-packed) copy of the Hilbert table — the OPTIMIZE /
    * small-file-compaction pass every real warehouse runs after a
    * fine-grained clustered write: [[hilbertOrdersFixture]] deliberately
    * writes ~2731 tiny per-bucket files (zone-map granularity); this
    * pass bin-packs CONTIGUOUS hbucket ranges into ~256 target-size
    * output files ([[binPack]]), keeping rows hidx-sorted within each
    * file so footer zone maps stay tight, and writes per-BIN zone maps
    * beside the data. The oracle replays the exact file layout, and
    * `q_compact_scan` hash-gates the
    * on-disk file count against the oracle's derived bin count (each
    * bin lands in exactly one task → exactly one file).
    * Zone-map soundness: bins are contiguous hidx-bucket ranges, so a
    * bin's bbox is the union of its members' — pruning stays exact,
    * just coarser (the compaction trade measured by `n_bins_scanned`). */
  def compactHilbertFixture(spark: SparkSession, sfDir: String): String =
    compactCurveFixture(spark, sfDir, "orders-hilbert-compact-v1",
      hilbertOrdersFixture(spark, sfDir))

  /** Morton twin of [[compactHilbertFixture]] — the same curve-agnostic
    * bin-pack (the pass is a prefix sum over bucket counts; nothing in it
    * knows which curve produced `hbucket`/`hidx`) applied to the Z-order
    * table, closing the write-path symmetry: every clustered table gets
    * its OPTIMIZE pass, not just the Hilbert one. */
  def compactZorderFixture(spark: SparkSession, sfDir: String): String =
    compactCurveFixture(spark, sfDir, "orders-zorder-compact-v1",
      zorderOrdersFixture(spark, sfDir))

  /** The shared curve-agnostic compaction writer (see
    * [[compactHilbertFixture]] for the full protocol): reads a
    * [[curveOrdersFixture]] layout at `src`, bin-packs contiguous
    * `hbucket` ranges into ~256 target-size files, rows `hidx`-sorted
    * within files, per-bin zone maps beside the data. */
  private def compactCurveFixture(spark: SparkSession, sfDir: String,
      key: String, src: String): String = {
    cachedFixture(sfDir, key, s"$sfDir/orders.parquet") { tmp =>
      val laid = binPack(spark.read.parquet(s"$src/$HilbertTableDir")
        .withColumn("hbucket", col("hbucket").cast("long")))
      writeClustered(laid, "cbin", "hidx", new File(tmp, HilbertTableDir))
      writeZones(zoneMaps(laid, "cbin", min(col("hbucket")).as("hb_lo"),
        max(col("hbucket")).as("hb_hi")), new File(tmp, HilbertZonesDir))
    }
  }

  /** COPY-ON-WRITE DELETE fixture — the DML half of the table-lifecycle
    * story (`q_compact_scan` is the OPTIMIZE half): the post-delete
    * Hilbert table for the [[graft.operators.RefQueries.HilbertRect]]
    * predicate, built the way a lakehouse DELETE actually executes:
    *  - untouched bucket partitions carry over AS IS (the file copy here
    *    stands in for a manifest re-point, which costs a real table
    *    format zero I/O — nothing outside the predicate's zone-map
    *    candidates is read, decoded, or rewritten);
    *  - touched buckets are rewritten from their SURVIVING rows
    *    ([[cowRewrite]]);
    *  - buckets whose every row dies have their directories removed;
    *  - zone maps refresh for touched buckets only.
    * Deterministic end-to-end (the survivor set and the
    * one-file-per-bucket layout both derive from the grid), so the
    * DuckDB oracle computes the exact post-delete file census. */
  def deleteRewriteFixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    // staleness tracks the SOURCE FIXTURE's build stamp, not just the
    // raw table: q_vacuum diffs file NAMES across the two snapshots, so
    // a rebuilt v0 (fresh part UUIDs) must rebuild this copy too
    cachedFixture(sfDir, "orders-hilbert-cow-v2",
        s"$src/_SUCCESS") { tmp =>
      copyDir(new File(src), tmp)
      cowDeleteRect(spark, src, tmp,
        graft.operators.RefQueries.HilbertRect)
    }
  }

  /** Recursive file copy — the manifest-re-point stand-in for
    * [[deleteRewriteFixture]] (driver metadata work over ≤ ~2731 files;
    * a real table format writes a new manifest instead). */
  private[graft] def copyDir(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => copyDir(f, new File(to, f.getName)))
    } else {
      java.nio.file.Files.copy(from.toPath, to.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }

  /** The survivor scan of the COW delete — zone-map candidates only
    * (plan-time PartitionFilters; PlanSpec guards that untouched
    * partitions are never read), minus the predicate rows. Exposed so
    * the plan guard and the physical spec exercise exactly the
    * production read. */
  private[graft] def cowSurvivors(spark: SparkSession, srcRoot: String,
      rect: (Long, Long, Long, Long)): (DataFrame, Array[Long]) = {
    val (cands, touched) = candidateScan(spark, srcRoot, rect)
    (cands.filter(!inRect(rect)), touched)
  }

  /** The COW DELETE pass over a copied layout at `dstRoot` (see
    * [[deleteRewriteFixture]]): rewrite touched partitions from
    * survivors, drop fully-deleted partition dirs, refresh touched zone
    * maps. Exposed for the physical spec (untouched files bit-identical,
    * touched replaced, dead dirs gone). */
  private[graft] def cowDeleteRect(spark: SparkSession, srcRoot: String,
      dstRoot: File, rect: (Long, Long, Long, Long)): Unit = {
    val (surv0, touched) = cowSurvivors(spark, srcRoot, rect)
    // two consumers (write, zone refresh) — one scan
    cowRewrite(spark, srcRoot, dstRoot, surv0.localCheckpoint(true),
      touched.toSeq)
  }

  /** The shared COW rewrite tail (DELETE, MERGE and both MOR
    * compactions run the identical protocol — one implementation so they
    * can never physically diverge): remove every touched bucket's
    * directory from the copied layout at `dstRoot`, write `finalRows`
    * (all in touched buckets) through [[writeClustered]] — a touched
    * bucket left with no rows simply never comes back — and refresh zone
    * maps: untouched rows carry over, touched buckets recompute from the
    * written rows. `finalRows` must be checkpointed by the caller (two
    * consumers — one scan). */
  private def cowRewrite(spark: SparkSession, srcRoot: String,
      dstRoot: File, finalRows: DataFrame,
      touched: Seq[Long]): Unit = {
    val dstTable = new File(dstRoot, HilbertTableDir)
    touched.foreach(b => deleteRecursively(new File(dstTable, s"hbucket=$b")))
    writeClustered(finalRows, "hbucket", "hidx", dstTable)
    writeZones(spark.read.parquet(s"$srcRoot/$HilbertZonesDir")
      .filter(!col("hbucket").isin(touched: _*))
      .unionByName(zoneMaps(finalRows, "hbucket")),
      new File(dstRoot, HilbertZonesDir))
  }

  /** Subdirectory of [[mergeRewriteFixture]] holding the commit manifest
    * — the metadata a table format records with every DML commit (how
    * many partitions the MERGE touched, rows updated, rows inserted),
    * read back by `q_merge_rewrite` and hash-gated against the oracle's
    * independent replay of the whole pass. */
  val MergeManifestDir = "manifest"

  /** COPY-ON-WRITE MERGE (upsert) fixture — the DML pass
    * `q_delete_rewrite` doesn't cover: a CDC batch applied to the
    * clustered table as UPDATEs that MOVE rows on the curve plus
    * INSERTs of new keys, executed the way a lakehouse MERGE actually
    * runs (see [[cowMergeStripe]]). Deterministic end-to-end, so the
    * DuckDB oracle derives the exact post-merge layout, counts, and
    * position checksum. */
  def mergeRewriteFixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    // staleness tracks the source fixture's build stamp (the q_vacuum
    // file-name-identity argument — see deleteRewriteFixture)
    cachedFixture(sfDir, "orders-hilbert-merge-v2",
        s"$src/_SUCCESS") { tmp =>
      copyDir(new File(src), tmp)
      cowMergeStripe(spark, sfDir, src, tmp): Unit
    }
  }

  /** The COW MERGE pass over a copied layout at `dstRoot`:
    *  - UPDATE half: rows in the x8 stripe `RefQueries.MergeStripe`
    *    shift their order date by `MergeDayShift` (wrapped into the
    *    table's day span), which RELOCATES them on the curve — new y8,
    *    new hidx, new hbucket. Source partitions are zone-map candidates
    *    for the stripe (the only partitions the update half reads —
    *    the [[candidateScan]] of [[stripeRect]]); their retained rows
    *    rewrite with the bucket.
    *  - INSERT half: a CDC feed of re-keyed sampled orders
    *    (`mix64(o_orderkey) mod MergeInsertMod = 0`, key +
    *    [[mergeKeyOffset]] — derived above the max key, never a fixed
    *    constant), placed with the SAME frozen layout stats the original
    *    ingest used ([[curveLaid]] / [[orderLayoutStats]]).
    *  - DESTINATION partitions that receive relocated/inserted rows are
    *    read (partition-pruned by bucket list) and rewritten together
    *    with the incoming rows — the part of clustered MERGE that makes
    *    it harder than DELETE: a bucket can be rewritten because rows
    *    ARRIVE, not just because rows leave. The write/vacate/zone tail
    *    is the SHARED [[cowRewrite]] (one COW protocol for DELETE and
    *    MERGE); a commit manifest records (touched, updated, inserted).
    * Scale: the pass reads |stripe candidates| + |destination buckets|
    * partitions; the untouched majority of a 100 TB table costs a
    * manifest re-point, exactly like the DELETE.
    *
    * Returns (stripe zone candidates, full touched set) so the physical
    * spec can prove untouched partitions carried over bit-identical. */
  private[graft] def cowMergeStripe(spark: SparkSession, sfDir: String,
      srcRoot: String, dstRoot: File): (Array[Long], Array[Long]) = {
    val keyOff = mergeKeyOffset(spark, sfDir)
    // update half reads ONLY the stripe's zone-map candidates
    val (candRows, srcCands) = candidateScan(spark, srcRoot, stripeRect)
    val retained = candRows.filter(!inRect(stripeRect))
    val (movers, ins) = mergeBatch(spark, sfDir, candRows)
    // two consumers (bucket census, final union) — one computation
    val incoming = movers.unionByName(ins).localCheckpoint(true)
    val inBuckets = incoming.select(col("hbucket")).distinct()
      .collect().map(_.getLong(0))
    val touched = (srcCands ++ inBuckets).distinct.sorted
    val destOnly = inBuckets.filterNot(srcCands.toSet).sorted
    val existingDest = bucketScan(spark, srcRoot, destOnly)
    // two consumers (write, zone refresh) — one scan
    val finalRows = retained.unionByName(existingDest)
      .unionByName(incoming).localCheckpoint(true)
    cowRewrite(spark, srcRoot, dstRoot, finalRows, touched.toSeq)
    // the commit manifest: what this MERGE touched (driver metadata —
    // the counts a table format records with the commit)
    // coalesce: sum(...) over an EMPTY merge batch (possible at a tiny
    // SF where stripe and insert draw are both empty) is NULL — the
    // commit manifest must record (touched, 0, 0), not NPE
    val counted = incoming
      .agg(coalesce(sum(when(col("o_orderkey") < keyOff, 1L)
          .otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("o_orderkey") >= keyOff, 1L)
          .otherwise(0L)), lit(0L))).head()
    import spark.implicits._
    Seq((touched.length.toLong, counted.getLong(0), counted.getLong(1)))
      .toDF("n_buckets_touched", "n_updated", "n_inserted")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new File(dstRoot, MergeManifestDir).getAbsolutePath)
    (srcCands, touched.toArray)
  }

  /** The MERGE CDC batch — ONE definition for the copy-on-write pass
    * ([[cowMergeStripe]]) and the merge-on-read commit
    * ([[morMergeFixture]]), so the two strategies apply the identical
    * batch by construction: movers = the stripe's rows relocated on the
    * curve (date shift → new y8 → new hidx/hbucket), inserts = the
    * mix64-sampled CDC feed re-keyed above the table's max key and
    * placed with the frozen layout stats. */
  private def mergeBatch(spark: SparkSession, sfDir: String,
      candRows: DataFrame): (DataFrame, DataFrame) = {
    val R = graft.operators.RefQueries
    val st = orderLayoutStats(spark, sfDir)
    val dayMin = st.getLong(2)
    val span = st.getLong(3) - dayMin + 1L
    val keyOff = mergeKeyOffset(spark, sfDir)
    val movers = candRows.filter(inRect(stripeRect))
      .withColumn("off", (col("day") - dayMin + R.MergeDayShift) % span)
      .withColumn("day", col("off") + dayMin)
      .withColumn("y8", expr(s"(off * 256) div $span"))
      .withColumn("hidx",
        call_function("hilbert_xy2d", col("x8"), col("y8")))
      .withColumn("hbucket", expr("hidx div 24"))
      .drop("off")
    val ins = curveLaid(spark, sfDir, "hilbert_xy2d(x8, y8)")
      .filter(pmod(call_function("mix64", col("o_orderkey")),
        lit(R.MergeInsertMod)) === 0L)
      .withColumn("o_orderkey", col("o_orderkey") + keyOff)
    (movers, ins)
  }

  /** MERGE-ON-READ MERGE (upsert) fixture — the SAME CDC batch as the
    * copy-on-write pass ([[mergeBatch]]), committed without rewriting a
    * single base file (completing the {DELETE, MERGE} × {COW, MOR} DML
    * matrix):
    *  - `dv/` tombstones the stripe rows' OLD versions as (file,
    *    position) pairs — the update half's pre-images, built from the
    *    stripe's zone-candidate partitions only;
    *  - `adds/` appends the movers' NEW versions plus the CDC inserts.
    * One commit = one sidecar + appended files; the read composes both
    * in one pass (`q_merge_mor`: base anti-join DV, union adds).
    * Merge-time cost collapses from |touched partitions| rewritten to
    * |stripe rows| tombstones + |batch| appended rows; the read pays
    * the anti-join until compaction (ChainSpec proves the shared
    * `cowRewrite` tail retires it into exactly the COW-merge layout). */
  def morMergeFixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    cachedFixture(sfDir, "orders-hilbert-mormerge-v1",
        s"$src/_SUCCESS") { tmp =>
      val (candRows, _) = candidateScan(spark, src, stripeRect)
      candRows.filter(inRect(stripeRect)).select(dvKey: _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "dv").getAbsolutePath)
      val (movers, ins) = mergeBatch(spark, sfDir, candRows)
      movers.unionByName(ins)
        .repartition(col("hbucket"))
        .sortWithinPartitions(col("hbucket"), col("hidx"))
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "adds").getAbsolutePath)
    }
  }

  /** Compact the MOR MERGE commit through the SHARED [[cowRewrite]]
    * tail: materialize sidecar + appends into rewritten files on a copy
    * of the base at `dstRoot` — position-driven (the DV names the
    * pre-images), touched buckets named by the commit's own artifacts
    * (DV files ∪ append buckets), never a predicate re-evaluation.
    * Spec surface: ChainSpec proves the result equals the COW-merge
    * layout census-for-census, which is the claim that MOR and COW are
    * one protocol with a deferred write. */
  private[graft] def morMergeCompact(spark: SparkSession, sfDir: String,
      dstRoot: File): Unit = {
    val src = hilbertOrdersFixture(spark, sfDir)
    val mor = morMergeFixture(spark, sfDir)
    val dv = dvPositions(spark.read.parquet(s"$mor/dv")).localCheckpoint(true)
    val adds = spark.read.parquet(s"$mor/adds")
    val touched = dv.select(col("hbucket"))
      .unionByName(adds.select(col("hbucket")))
      .distinct().collect().map(_.getLong(0)).sorted
    val survivors = liveRows(spark, src, touched, dv)
    val finalRows = survivors
      .unionByName(adds.select(survivors.columns.map(col): _*))
      .localCheckpoint(true)
    cowRewrite(spark, src, dstRoot, finalRows, touched.toSeq)
  }

  /** Subdirectories of [[priceStatsFixture]]. */
  val PriceTableDir = "table"
  val PriceStatsDir = "stats"

  /** PER-FILE COLUMN-STATS fixture — the zone-map protocol generalized
    * OFF the Hilbert grid onto a plain value column: orders written
    * price-clustered (one file per contiguous `o_totalprice` range —
    * the layout an `ORDER BY o_totalprice` ingest produces), with a
    * WRITE-TIME stats sidecar of per-FILE (path, min, max, rows) over
    * the cents-exact price. This is what every table format records in
    * its manifests for every column: the stats are keyed by FILE, not
    * by partition-directory name, so pruning consults the sidecar and
    * reads an explicit file list — no directory semantics involved.
    * Deterministic (integer cents, fixed bin width), so the DuckDB
    * oracle derives the exact file census and every file's min/max. */
  def priceStatsFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-pricestats-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val R = graft.operators.RefQueries
      val laid = graft.Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"),
          (col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("pbin", expr(s"cents div ${R.PriceBinCents}"))
      writeClustered(laid, "pbin", "cents", new File(tmp, PriceTableDir))
      // write-time stats: per physical FILE, the column's min/max and
      // row count — built from the files just written (at 100 TB the
      // writer emits these with each file's footer; this pass stands in)
      spark.read
        .parquet(new File(tmp, PriceTableDir).getAbsolutePath)
        .select(substring_index(col("_metadata.file_path"),
          s"/$PriceTableDir/", -1).as("fp"), col("cents"))
        .groupBy(col("fp"))
        .agg(min(col("cents")).as("c_min"), max(col("cents")).as("c_max"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, PriceStatsDir).getAbsolutePath)
    }

  /** The MATERIALIZED VIEW `q_cdf_refresh` maintains — the per-x8-band
    * summary of chain version 1, stored as its own table (a real
    * warehouse materializes the view once and refreshes it from the
    * change feed forever after; the refresh must never re-read the base
    * table, or it isn't incremental). Built beside the chain fixture. */
  def cdfViewFixture(spark: SparkSession, sfDir: String): String = {
    val src = chainFixture(spark, sfDir)
    cachedFixture(sfDir, "chain-xband-view-v1", s"$src/_SUCCESS") { tmp =>
      graft.operators.RefQueries.xbandSummaryV1(spark, src)
        .coalesce(1)
        .write.mode(SaveMode.Overwrite)
        .parquet(tmp.getAbsolutePath)
    }
  }

  /** VERSIONED ANN-INDEX root — the serving state
    * `sim_index_rebuild` starts from: version `v1` (centroids + cell
    * assignments + metadata stamp) built from the index corpus of its
    * day (even vec_ids, frozen geometry), `_current` pointing at it —
    * the WAP pointer discipline applied to an index. The rebuild query
    * commits `v2` beside it and swaps the pointer atomically. */
  def ivfIndexFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "ivf-index-v1",
        s"$sfDir/embeddings.parquet") { tmp =>
      graft.operators.Similarity.buildIndexV1(spark, sfDir,
        tmp.getAbsolutePath)
      chainPublish(tmp.getAbsolutePath, "v1")
    }

  /** SCHEMA-EVOLUTION fixture — the mid-life column add every long-lived
    * table accumulates: generation 1 (even order keys) is written with
    * (o_orderkey, o_custkey); generation 2 (odd keys) appends files
    * carrying an ADDED `o_bucket` column into the SAME directory. The
    * table is now physically heterogeneous — old files simply lack the
    * column — which is exactly the state `mergeSchema` readers (and
    * real table formats' schema tracking) exist to serve: old rows read
    * NULL for the new column, no rewrite of history. Deterministic, so
    * the oracle derives both generations from `orders` directly. */
  def schemaEvolutionFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-schema-evo-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val ord = graft.Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"))
      ord.filter(col("o_orderkey") % 2 === 0)
        .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      ord.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_bucket", pmod(col("ck"), lit(16L)))
        .write.mode(SaveMode.Append).parquet(tmp.getAbsolutePath)
    }

  /** TYPE-WIDENING fixture — the mid-life migration `mergeSchema`
    * CANNOT do (its StructType merge has no numeric promotion — int vs
    * bigint files hard-fail, EtlSpec pins the failure): three physical
    * generations of one table directory where the `o_qty` column WIDENS
    * from INT to BIGINT:
    *   gen 1 (keys ≡ 0 mod 3): o_qty INT = ck mod 100,
    *   gen 2 (keys ≡ 1 mod 3): o_qty INT = ck mod 100 + 100 (history
    *     accumulates MULTIPLE narrow generations before the widening),
    *   gen 3 (keys ≡ 2 mod 3): o_qty BIGINT = ck mod 100 + 5·10⁹ —
    *     values beyond Int range, so narrowing back is impossible and
    *     the widened read is load-bearing, not cosmetic.
    * The serving protocol is CAST-ON-READ: the reader applies the
    * table's TRACKED (widened) schema explicitly and the parquet reader
    * upcasts old INT32 pages to bigint in the scan — no rewrite of
    * history, exactly how table formats execute `ALTER COLUMN ... TYPE
    * BIGINT`. A never-projected `ck` column rides along so the pruning
    * guard can prove the widened read still prunes. */
  def typeWideningFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-schema-widen-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val ord = graft.Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"))
      ord.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_qty", pmod(col("ck"), lit(100L)).cast("int"))
        .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
      ord.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_qty",
          (pmod(col("ck"), lit(100L)) + 100L).cast("int"))
        .write.mode(SaveMode.Append).parquet(tmp.getAbsolutePath)
      ord.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_qty", pmod(col("ck"), lit(100L)) + 5000000000L)
        .write.mode(SaveMode.Append).parquet(tmp.getAbsolutePath)
    }

  /** DELETION-VECTOR sidecar fixture — the MERGE-ON-READ delete, the
    * OTHER DML strategy (`deleteRewriteFixture` is copy-on-write): the
    * same rectangle DELETE executed with ZERO data rewrite. The commit
    * writes only a sidecar of (file, row position) tombstones —
    * positions from the scan's own `_metadata.row_index`, files as
    * table-relative paths (the Delta/Iceberg deletion-vector shape,
    * positions-array instead of a roaring bitmap — same semantics) —
    * and readers anti-join it at serve time. The write-amplification
    * trade every lakehouse tunes: COW pays the touched-partition
    * rewrite once and reads clean; MOR pays ~nothing at delete time
    * and a position anti-join on every read until compaction
    * materializes the DV (which is exactly the COW rewrite —
    * `q_delete_rewrite` IS the compacted endpoint, and the spec proves
    * both strategies serve the identical survivor set).
    * The build reads ONLY the rectangle's zone-candidate partitions
    * ([[morDvBuild]] — plan-guarded). Positions are self-consistent
    * with the CURRENT base files (staleness tracks the base fixture's
    * build stamp); the declared output gates on counts + key checksums,
    * which are position-layout-independent. */
  def morDvFixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    cachedFixture(sfDir, "orders-hilbert-dv-v1", s"$src/_SUCCESS") { tmp =>
      morDvBuild(spark, src)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "dv").getAbsolutePath)
    }
  }

  /** The DV build read — deleted (file, position) pairs for the
    * rectangle, scanning ONLY zone-candidate partitions. Exposed so
    * PlanSpec pins the PartitionFilters on exactly the production
    * build. */
  private[graft] def morDvBuild(spark: SparkSession, srcRoot: String)
      : DataFrame = {
    val rect = graft.operators.RefQueries.HilbertRect
    candidateScan(spark, srcRoot, rect)._1.filter(inRect(rect))
      .select(dvKey: _*)
  }

  /** SECOND deletion-vector sidecar — DV STACKING, the daily reality of
    * a merge-on-read table: a SECOND rectangle delete
    * ([[graft.operators.RefQueries.HilbertRect2]], deliberately
    * OVERLAPPING the first) commits another (file, position) sidecar
    * WITHOUT touching the first. The new DV is built against the
    * CURRENT logical state — the scan applies dv1 before selecting
    * victims — so rows already dead under dv1 are never re-tombstoned
    * (positions across stacked DVs stay disjoint by construction, which
    * is what keeps `rows_before = survivors + Σ|dv_i|` exact). Readers
    * compose ALL stacked sidecars in one anti-join; a table format
    * unions the position bitmaps per file the same way. The build reads
    * only rect2's zone-candidate partitions ([[morDv2Build]],
    * plan-guarded). */
  def morDv2Fixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    val dv1 = morDvFixture(spark, sfDir)
    cachedFixture(sfDir, "orders-hilbert-dv2-v1", s"$dv1/_SUCCESS") { tmp =>
      morDv2Build(spark, src, dv1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "dv").getAbsolutePath)
    }
  }

  /** The stacked-DV build read: rect2 victims among rows still alive
    * under dv1 — zone-candidate partitions only, dv1 applied as a
    * broadcast (hbucket, position) anti-join INSIDE the candidate scan.
    * Exposed so PlanSpec pins both the PartitionFilters and the
    * broadcast. */
  private[graft] def morDv2Build(spark: SparkSession, srcRoot: String,
      dv1Root: String): DataFrame = {
    val rect = graft.operators.RefQueries.HilbertRect2
    val victims = candidateScan(spark, srcRoot, rect)._1.filter(inRect(rect))
      .select(col("hbucket") +: dvKey: _*)
    dropDeleted(victims, dvPositions(spark.read.parquet(s"$dv1Root/dv")))
      .select("fp", "ri")
  }

  /** DV COMPACTION fixture — the commit that ENDS a merge-on-read
    * episode: the stacked sidecars (dv1 ∪ dv2) are MATERIALIZED into
    * rewritten data files and retired, converging the table to exactly
    * the copy-on-write layout (one file per surviving touched bucket,
    * hidx-sorted, refreshed zone maps, fully-dead buckets dropped —
    * the shared [[cowRewrite]] tail, so MOR-compaction and COW-DML can
    * never physically diverge). Post-compaction reads have NO anti-join
    * — the read tax every stacked DV adds is paid down here, which is
    * why a 100 TB MOR table compacts on a schedule instead of stacking
    * forever. The rewrite is POSITION-driven (anti-join on the
    * tombstones' (file, row) pairs), never a re-evaluation of the
    * delete predicates — compaction must serve whatever the DVs say,
    * byte-for-byte, or a drifted predicate would resurrect rows. Only
    * DV-touched buckets are read or rewritten (the sidecar names them);
    * untouched buckets carry over by manifest re-point (file copy
    * stand-in). */
  def morDvCompactFixture(spark: SparkSession, sfDir: String): String = {
    val src = hilbertOrdersFixture(spark, sfDir)
    val dv1 = morDvFixture(spark, sfDir)
    val dv2 = morDv2Fixture(spark, sfDir)
    cachedFixture(sfDir, "orders-hilbert-dvcompact-v1",
        s"$dv2/_SUCCESS") { tmp =>
      copyDir(new File(src), tmp)
      val dv = dvPositions(spark.read.parquet(s"$dv1/dv")
        .unionByName(spark.read.parquet(s"$dv2/dv"))).localCheckpoint(true)
      // the sidecar itself names every touched bucket — compliance-sized
      // driver metadata, no table scan needed to plan the rewrite
      val touched = dv.select(col("hbucket"))
        .distinct().collect().map(_.getLong(0)).sorted
      // retire the materialized DVs: a reader of THIS version must find
      // no sidecar to apply (the dv dir simply isn't part of the layout)
      cowRewrite(spark, src, tmp,
        liveRows(spark, src, touched, dv).localCheckpoint(true),
        touched.toSeq)
    }
  }

  /** COLUMN-RENAME fixture — the third mid-life migration (add-column
    * and type-widening being the others): generation 1 files store the
    * measure under its ORIGINAL name `qty_v1`; generation 2 files (after
    * the rename commit) store it as `o_qty`. Physical files are never
    * rewritten — the rename lives entirely in the table's tracked
    * NAME MAPPING (old name → current name, per generation), exactly
    * how a table format with column-id indirection serves
    * `ALTER COLUMN RENAME`: the reader projects each generation through
    * its mapping and unions. Generations land in `g1/`/`g2/` commit
    * subdirs (the rename IS a commit boundary). A never-projected `ck`
    * column rides along for the pruning guard. */
  def schemaRenameFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-schema-rename-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val ord = graft.Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"))
      ord.filter(col("o_orderkey") % 2 === 0)
        .withColumn("qty_v1", pmod(col("ck"), lit(100L)))
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "g1").getAbsolutePath)
      ord.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_qty", pmod(col("ck"), lit(100L)) + 100L)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "g2").getAbsolutePath)
    }

  /** DROP-COLUMN fixture — the fourth mid-life migration: generation 1
    * files carry (o_orderkey, ck, o_note); after the DROP COLUMN commit,
    * generation 2 files are written WITHOUT `o_note`, and the tracked
    * schema no longer contains it. History is never rewritten — old
    * files keep the dropped column's pages on disk (a table format
    * drops the column ID from the schema, not the bytes), which is what
    * makes the migration reversible-by-time-travel: a pre-drop read
    * (generation 1 under its own epoch schema) still serves `o_note`,
    * while the CURRENT read must project it away from EVERY generation
    * (never decode a dropped page — the pruning guard pins it).
    * Generations land in `g1/`/`g2/` commit subdirs (the drop IS a
    * commit boundary). */
  def schemaDropFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-schema-drop-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val ord = graft.Tables.read(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey").cast("long").as("ck"))
      ord.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_note", pmod(col("ck"), lit(1000L)))
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "g1").getAbsolutePath)
      ord.filter(col("o_orderkey") % 2 === 1)
        .write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "g2").getAbsolutePath)
    }

  /** Subdirectories of [[partitionEvolutionFixture]]: per-commit data
    * and per-SPEC zone maps — the spec a file was written under is
    * commit metadata, exactly Iceberg's partition-spec-id. */
  val PartEvoDataDir = "data"
  val PartEvoZonesDir = "zones"
  /** The two bucket widths: the original ingest clusters at width 24
    * (~2731 partitions over the 16-bit curve); the spec-evolution
    * commit re-bins NEW data at width 96 (~683 partitions) — the
    * coarser layout a table adopts once small files dominate. */
  val PartEvoWidthOld = 24L
  val PartEvoWidthNew = 96L

  /** PARTITION-SPEC EVOLUTION fixture — the last routine table-lifecycle
    * migration: a commit CHANGES the table's bucketing (width-24 Hilbert
    * buckets → width-96 bins) and, as in every real format, old files
    * are NOT rewritten — they stay under the old spec while new data
    * lands under the new one, each spec carrying its OWN zone maps.
    * Generation 1 (even keys, commit c0) is bucketed `hidx div 24`;
    * generation 2 (odd keys, commit c1, post-evolution) `hidx div 96`.
    * A reader must plan each file group through ITS spec's metadata —
    * one logical table, two physical layouts, one pass
    * (`q_partition_evolution` gates it; PlanSpec pins the per-spec
    * PartitionFilters). */
  def partitionEvolutionFixture(spark: SparkSession, sfDir: String)
      : String = {
    cachedFixture(sfDir, "orders-partition-evo-v1",
        s"$sfDir/orders.parquet") { tmp =>
      val laid = curveLaid(spark, sfDir, "hilbert_xy2d(x8, y8)")
        .localCheckpoint(true)
      def writeSpec(commit: String, rows: DataFrame, width: Long,
          spec: String): Unit = {
        val binned = rows.withColumn("pbucket", expr(s"hidx div $width"))
        writeClustered(binned, "pbucket", "hidx",
          new File(new File(tmp, PartEvoDataDir), commit))
        writeZones(zoneMaps(binned, "pbucket"),
          new File(new File(tmp, PartEvoZonesDir), spec))
      }
      writeSpec("c0", laid.filter(col("o_orderkey") % 2 === 0),
        PartEvoWidthOld, "spec24")
      writeSpec("c1", laid.filter(col("o_orderkey") % 2 === 1),
        PartEvoWidthNew, "spec96")
    }
  }

  /** The rename fixture's tracked name mapping: per generation subdir,
    * old column name → current logical name (identity where unchanged).
    * In a real format this is table metadata carried by the commit; the
    * constant here is its in-code stand-in, shared by the reader and
    * the specs so the mapping can never drift between them. */
  val SchemaRenameMapping: Map[String, Map[String, String]] = Map(
    "g1" -> Map("qty_v1" -> "o_qty"),
    "g2" -> Map.empty)

  /** Per-process private warehouse for graft-built tables (bucketed join
    * slices), deleted on JVM exit. Isolation is deliberate: BUCKETING
    * METADATA lives only in the session's in-memory catalog, so a fresh
    * JVM cannot reuse a previous run's bucketed tables anyway (an
    * external re-registration over the old location would silently drop
    * the bucket spec and the join would shuffle again) — every process
    * rebuilds, the cost lands in Bench's `etl` phase, and a per-process
    * dir means concurrent runs can never delete each other's in-flight
    * builds and nothing accumulates after exit. */
  lazy val warehouseDir: String = {
    val dir = new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_wh_${java.util.UUID.randomUUID()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(dir)))
    dir.getAbsolutePath
  }

  /** Bucketed `lineitem`/`orders` slices on the order key, built once per
    * (session, scale dir) for the exchange-free co-located join
    * (RefQueries.qBucketedJoin). Build lives HERE, not in the declared
    * query: the query stays read-only (a cold timed run must measure the
    * join, not two CTAS writes), and Bench accounts the build in its
    * separate `etl` phase.
    *
    * Staleness discipline mirrors `cachedFixture`: a fresh session's
    * in-memory catalog forgets tables while their warehouse directories
    * survive, and a surviving dir may also be stale (older than the
    * source parquet) or torn (no `_SUCCESS`) — any of those clears the
    * location before the CTAS. Table names are scoped by scale dir and
    * live in this process's private warehouse (`warehouseDir`), so the
    * delete can only ever touch this run's own build artifacts. Within
    * one session the build runs once (the catalog remembers the table);
    * across sessions it reruns by design — see `warehouseDir`. */
  def bucketedOrderTables(spark: SparkSession, sfDir: String)
      : (String, String) = {
    val safe = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val liT = s"graft_li_bucketed_$safe"
    val ordT = s"graft_ord_bucketed_$safe"
    def ensure(table: String, srcTable: String, cols: Seq[String],
        bucketCol: String): Unit = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val success = new org.apache.hadoop.fs.Path(loc, "_SUCCESS")
      val srcMtime =
        new File(s"$sfDir/$srcTable.parquet").lastModified
      val fresh = fs.exists(success) &&
        fs.getFileStatus(success).getModificationTime >= srcMtime
      if (!spark.catalog.tableExists(table) || !fresh) {
        if (spark.catalog.tableExists(table))
          spark.sql(s"DROP TABLE IF EXISTS $table")
        if (fs.exists(loc)) { fs.delete(loc, true); () }
        graft.Tables.read(spark, sfDir, srcTable)
          .select(cols.map(org.apache.spark.sql.functions.col): _*)
          .write.bucketBy(16, bucketCol).sortBy(bucketCol)
          .mode(SaveMode.Overwrite).saveAsTable(table)
      }
    }
    ensure(liT, "lineitem", Seq("l_orderkey", "l_quantity"), "l_orderkey")
    ensure(ordT, "orders", Seq("o_orderkey", "o_orderpriority"), "o_orderkey")
    (liT, ordT)
  }

  /** Pre-build every derived input the declared queries read (format
    * twins, the date-partitioned events copy, bucketed join tables) so a
    * timed pass measures queries, not conversions. Bench reports this as
    * its separate `etl` metric. */
  /** Subdirectories of [[chainFixture]]: `data/c{0..3}/` hold each
    * commit's part files (never rewritten by later commits — a commit
    * only ADDS files; versions are manifest re-points), `manifests/`
    * one file-list per version, `zones/v{0..3}/` each version's OWN
    * zone maps (metadata is versioned with the data). */
  val ChainDataDir = "data"
  val ChainManifestsDir = "manifests"
  val ChainZonesDir = "zones"

  /** COMMIT-CHAINED table fixture — the full lakehouse version chain on
    * ONE table root, depth 4:
    *   v0 = ingest (Hilbert-clustered, one file per hbucket, commit c0),
    *   v1 = COW DELETE of [[graft.operators.RefQueries.HilbertRect]]
    *        (zone-candidate buckets rewritten into commit c1; untouched
    *        buckets carry over by MANIFEST RE-POINT — their c0 files are
    *        shared between v0 and v1, zero copy),
    *   v2 = COW MERGE (the `cowMergeStripe` CDC batch applied to v1:
    *        stripe movers relocate on the curve + re-keyed inserts;
    *        touched buckets rewritten into c2, everything else re-points),
    *   v3 = OPTIMIZE (bin-packs v2's live rows into ~256 contiguous-range
    *        files, commit c3 — the compaction commit that collapses the
    *        small-file listing tax for current readers).
    * Each version is a manifest (list of table-relative file paths) plus
    * its own zone maps; `_current` names the live version. Retention
    * semantics over the chain are exactly the hard case VACUUM must get
    * right: a c0 file dropped by v3 but still referenced by v1/v2 MUST
    * survive a v0-expiry — the classification a naive two-way
    * current-vs-oldest diff gets wrong (`q_vacuum_retention` gates it,
    * ChainSpec executes the vacuum and proves v1/v2/v3 reads are
    * byte-identical after while the expired v0 read fails).
    * Deterministic end-to-end, so the DuckDB oracle derives every
    * version's rows, file census, and retention classes from the curve
    * arithmetic alone. */
  def chainFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "orders-chain-v4", s"$sfDir/orders.parquet") { tmp =>
      val R = graft.operators.RefQueries
      val root = tmp.getAbsolutePath
      def writeCommit(c: String, rows: DataFrame, key: String): Seq[String] = {
        writeClustered(rows, key, "hidx",
          new File(new File(tmp, ChainDataDir), c))
        listCommitFiles(root, c)
      }
      def writeVersion(v: Int, files: Seq[String], zones: DataFrame): Unit = {
        writeManifest(root, s"v$v", files)
        writeZones(zones, new File(new File(tmp, ChainZonesDir), s"v$v"))
      }
      def inBuckets(bs: Set[Long]): Column = col("hbucket").isin(bs.toSeq: _*)
      def untouched(files: Seq[String], bs: Set[Long]): Seq[String] =
        files.filterNot(f => bs(partitionValue(f, "hbucket")))

      // ---- v0: ingest commit
      val laid = curveLaid(spark, sfDir, "hilbert_xy2d(x8, y8)")
        .localCheckpoint(true)
      val c0 = writeCommit("c0", laid, "hbucket")
      val z0 = zoneMaps(laid, "hbucket")
      writeVersion(0, c0, z0)

      // ---- v1: COW DELETE commit (rect rows out, candidates rewritten)
      val touchedDel = zoneCands(z0, "hbucket", R.HilbertRect).toSet
      val v1Rows = laid.filter(!inRect(R.HilbertRect)).localCheckpoint(true)
      val v1Files = untouched(c0, touchedDel) ++
        writeCommit("c1", v1Rows.filter(inBuckets(touchedDel)), "hbucket")
      val z1 = zoneMaps(v1Rows, "hbucket")
      writeVersion(1, v1Files, z1)

      // ---- v2: COW MERGE commit (the mergeBatch movers within v1 + CDC
      // inserts)
      val srcCands = zoneCands(z1, "hbucket", stripeRect).toSet
      val (movers, inserts) = mergeBatch(spark, sfDir, v1Rows)
      val incoming = movers.unionByName(inserts).localCheckpoint(true)
      val touchedMrg = srcCands ++ incoming.select(col("hbucket"))
        .distinct().collect().map(_.getLong(0))
      val v2Rows = v1Rows.filter(!inRect(stripeRect))
        .unionByName(incoming).localCheckpoint(true)
      val v2Files = untouched(v1Files, touchedMrg) ++
        writeCommit("c2", v2Rows.filter(inBuckets(touchedMrg)), "hbucket")
      writeVersion(2, v2Files, zoneMaps(v2Rows, "hbucket"))

      // ---- v3: OPTIMIZE commit (binPack the live set — the
      // compactCurveFixture protocol on v2's rows)
      val laid3 = binPack(v2Rows).localCheckpoint(true)
      writeVersion(3, writeCommit("c3", laid3, "cbin"),
        zoneMaps(laid3, "cbin"))

      // ---- branch 'b_audit': WRITE-AUDIT-PUBLISH — an append commit
      // staged on a BRANCH, never on main. The CDC batch carries a
      // PLANTED DEFECT: a deterministic subset keeps its ORIGINAL key
      // (a "forgot to re-key" upsert bug), colliding with live rows —
      // duplicate primary keys, the classic audit catch. `_current`
      // stays at v3: publish is a pointer swap that the failed audit
      // refuses (q_wap_audit gates the refusal; ChainSpec proves branch
      // abandonment vacuums ONLY the branch commit's files).
      val keyOff2 = mergeKeyOffset(spark, sfDir) * 2
      val batch = laid
        .filter(pmod(call_function("mix64", col("o_orderkey")),
          lit(WapBatchMod)) === 0L)
        .withColumn("o_orderkey",
          when(col("o_orderkey") % WapDefectMod === 0, col("o_orderkey"))
            .otherwise(col("o_orderkey") + keyOff2))
      writeManifest(root, "b_audit",
        listCommitFiles(root, "c3") ++ writeCommit("c4", batch, "hbucket"))

      // per-commit metadata: kind + dataChange flag — what a table
      // format records with every commit, and what lets a change-data
      // read SKIP layout-only commits (OPTIMIZE moves bytes, never
      // rows) without paying a two-snapshot diff to find that out
      java.nio.file.Files.write(
        new File(tmp, ChainCommitsFile).toPath,
        Seq("c0 ingest true", "c1 delete true", "c2 merge true",
          "c3 optimize false", "c4 append true")
          .mkString("\n").getBytes("UTF-8")): Unit
      chainPublish(root, "v3")
    }

  /** Commit-metadata file of [[chainFixture]] roots: one
    * `<commit> <kind> <dataChange>` line per commit. */
  val ChainCommitsFile = "commits.txt"

  /** Per-commit (kind, dataChange) metadata — driver-side, bounded by
    * chain depth. `dataChange = false` marks layout-only commits
    * (OPTIMIZE): their transition's change feed is empty BY METADATA,
    * never by diffing two full snapshots. */
  def chainCommitMeta(root: String): Map[String, (String, Boolean)] = {
    val f = new File(s"$root/$ChainCommitsFile")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(c, kind, dc) = line.trim.split("\\s+")
      c -> (kind, dc.toBoolean)
    }.toMap finally src.close()
  }

  /** WAP audit-batch geometry: the CDC draw (`mix64(key) mod 101 = 0`,
    * ~1% of the table) and the planted-defect sub-draw (original key
    * kept when `key mod 5 = 0`). Shared by the fixture build, the audit
    * query, and the oracle replay. */
  val WapBatchMod = 101L
  val WapDefectMod = 5L

  /** WAP HAPPY-PATH fixture — the publish `q_wap_audit`'s refusal never
    * exercises: its OWN table root (the chain's data files HARDLINKED,
    * manifests copied, `_current` = v3 — link-not-copy because the
    * commit files are immutable by the chain's own contract, so two
    * roots sharing bytes is exactly a table format sharing data files
    * between catalogs), plus a branch `b_clean` staging the SAME CDC
    * draw with the re-key bug FIXED (every row offset by 2·keyOff — no
    * key can collide with live v3 keys or with the MERGE's +keyOff
    * inserts). The declared `q_wap_publish` audits the branch (0
    * duplicates), executes the atomic `_current` swap ON THIS ROOT, and
    * reads back THROUGH the published pointer — the full
    * write-audit-publish lifecycle with a green gate, isolated so the
    * swap can never disturb the shared chain fixture the refusing twin
    * reads. The swap is idempotent (same pointer bytes every run), so
    * repeated verify/bench passes are stable. */
  def wapPublishFixture(spark: SparkSession, sfDir: String): String = {
    val src = chainFixture(spark, sfDir)
    cachedFixture(sfDir, "orders-chain-wap-v2", s"$src/_SUCCESS") { tmp =>
      val root = tmp.getAbsolutePath
      forkChain(src, tmp)
      // the clean batch: the SAME mod-101 CDC draw, every row re-keyed
      // (the defect sub-draw fixed) — placed with the frozen layout
      // stats like every other chain commit
      val keyOff2 = mergeKeyOffset(spark, sfDir) * 2
      val batch = curveLaid(spark, sfDir, "hilbert_xy2d(x8, y8)")
        .filter(pmod(call_function("mix64", col("o_orderkey")),
          lit(WapBatchMod)) === 0L)
        .withColumn("o_orderkey", col("o_orderkey") + keyOff2)
      writeClustered(batch, "hbucket", "hidx",
        new File(new File(tmp, ChainDataDir), "c5"))
      writeManifest(root, "b_clean",
        chainManifest(src, 3) ++ listCommitFiles(root, "c5"))
      // STAGE-TIME aggregate stamp: the commit manifest carries the
      // staged delta's (row count, key checksum) — written by the same
      // pass that wrote the files, verified by the audit's delta read,
      // and served by the post-publish row so publication costs ONE
      // branch read instead of re-scanning the published table to
      // re-derive what the commit already knew
      val P = graft.operators.TextAnalysis.ChecksumP
      val stamped = spark.read
        .parquet(new File(new File(tmp, ChainDataDir),
          "c5").getAbsolutePath)
        .agg(count(lit(1)),
          pmod(sum((pmod(col("o_orderkey"), lit(P))
              * pmod(col("o_orderkey"), lit(P)) % P)
            .cast("decimal(38,0)")),
            lit(P).cast("decimal(38,0)")).cast("long")).head()
      java.nio.file.Files.writeString(
        new File(new File(tmp, ChainManifestsDir),
          "b_clean.stats").toPath,
        s"${stamped.getLong(0)} ${stamped.getLong(1)}"): Unit
    }
  }

  /** A staged commit's stamped aggregates: (n_rows, key_checksum). */
  def chainBranchStats(root: String, branch: String): (Long, Long) = {
    val s = java.nio.file.Files.readString(
      new File(s"$root/$ChainManifestsDir/$branch.stats").toPath)
      .trim.split("\\s+")
    (s(0).toLong, s(1).toLong)
  }

  /** CONCURRENT-WRITERS fixture — the two-writer episode optimistic
    * concurrency control exists for, staged on an ISOLATED root (chain
    * data hardlinked, manifests/zones copied, `_current` = v3) so the
    * publishes can never disturb the shared chain fixture. Three COW
    * DELETE branches forked off v3, each recording its base ref and the
    * files it REWROTE (its overwrite set — the commit metadata Iceberg/
    * Delta validate against):
    *  - `b_cc1` deletes [[graft.operators.RefQueries.HilbertRect]]
    *    (commit c6; rewrites rect1's zone-candidate cbin files),
    *  - `b_cc2` deletes [[graft.operators.RefQueries.HilbertRect2]]
    *    (commit c7) — the rectangles OVERLAP, so its overwrite set
    *    intersects b_cc1's: whichever publishes second must be REFUSED,
    *  - `b_cc3` deletes [[graft.operators.RefQueries.ConflictRect3]]
    *    (commit c8) — a far-corner rectangle whose candidate bins are
    *    disjoint from b_cc1's: a genuinely independent writer that must
    *    LAND after b_cc1 by rebase, not be refused.
    * `q_commit_conflict` replays the episode ([[chainPublishValidated]]);
    * ChainSpec executes both orders on a copy. */
  def concurrentFixture(spark: SparkSession, sfDir: String): String = {
    val src = chainFixture(spark, sfDir)
    cachedFixture(sfDir, "orders-chain-cc-v1", s"$src/_SUCCESS") { tmp =>
      val R = graft.operators.RefQueries
      forkChain(src, tmp)
      java.nio.file.Files.copy(
        new File(src, ChainCommitsFile).toPath,
        new File(tmp, ChainCommitsFile).toPath): Unit
      val root = tmp.getAbsolutePath
      stageDeleteBranch(spark, root, "b_cc1", "c6", R.HilbertRect)
      stageDeleteBranch(spark, root, "b_cc2", "c7", R.HilbertRect2)
      stageDeleteBranch(spark, root, "b_cc3", "c8", R.ConflictRect3)
    }
  }

  /** Stage one COW DELETE branch off v3: the v3 zone maps name the
    * predicate's candidate cbins (the branch's READ+OVERWRITE set —
    * only those files are opened or rewritten), survivors rewrite into
    * the branch's own commit, and the branch manifest re-points
    * everything else. The `.meta` sidecar records (base ref, overwritten
    * files) — the validation input of [[chainPublishValidated]]. */
  private def stageDeleteBranch(spark: SparkSession, root: String,
      branch: String, commit: String,
      rect: (Long, Long, Long, Long)): Unit = {
    val cands = zoneCands(spark.read.parquet(s"$root/$ChainZonesDir/v3"),
      "cbin", rect).toSet
    val v3Files = chainManifestNamed(root, "v3")
    val removed = v3Files.filter(f => cands(partitionValue(f, "cbin")))
    val survivors = spark.read
      .option("basePath", s"$root/$ChainDataDir/c3")
      .parquet(removed.map(r => s"$root/$ChainDataDir/$r"): _*)
      .filter(!inRect(rect))
    writeClustered(survivors, "cbin", "hidx",
      new File(new File(root, ChainDataDir), commit))
    writeManifest(root, branch,
      (v3Files.toSet -- removed ++ listCommitFiles(root, commit)).toSeq)
    java.nio.file.Files.write(
      new File(s"$root/$ChainManifestsDir/$branch.meta").toPath,
      (s"base v3" +: removed.sorted).mkString("\n").getBytes("UTF-8")): Unit
  }

  /** A staged branch's commit metadata: (base ref, overwritten files). */
  def chainBranchMeta(root: String, branch: String): (String, Seq[String]) = {
    val f = new File(s"$root/$ChainManifestsDir/$branch.meta")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try {
      val lines = src.getLines().filter(_.nonEmpty).toList
      val base = lines.head.stripPrefix("base ").trim
      (base, lines.tail)
    } finally src.close()
  }

  /** On-disk part files of one commit directory (table-relative). */
  private[graft] def listCommitFiles(root: String, commit: String)
      : Seq[String] = {
    val base = new File(s"$root/$ChainDataDir/$commit")
    Option(base.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.isDirectory && d.getName.contains("="))
      .flatMap { d =>
        Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
          .filter(_.getName.startsWith("part-"))
          .map(f => s"$commit/${d.getName}/${f.getName}")
      }.sorted
  }

  /** OPTIMISTIC-CONCURRENCY publish — the validation every table format
    * runs before a commit lands on a base that MOVED: conflict iff a
    * file this branch OVERWROTE was already retired by a commit landed
    * since the branch's base (the Iceberg/Delta file-level write-write
    * check — two writers rewriting the same file cannot both be right,
    * while writers touching disjoint files serialize trivially). On
    * success the branch is REBASED onto the current manifest (current −
    * overwritten + added — exact because validation proved the sets
    * disjoint), the rebased manifest committed under `p_<branch>`, and
    * the pointer swapped atomically. Returns Left(conflicting files) on
    * refusal, Right(published ref) on success.
    * Scale: the whole decision is manifest arithmetic — driver metadata,
    * zero data I/O, O(|manifest|) set operations. */
  def chainPublishValidated(root: String, branch: String)
      : Either[Seq[String], String] = {
    val (base, removed) = chainBranchMeta(root, branch)
    val added = chainManifestNamed(root, branch).toSet --
      chainManifestNamed(root, base).toSet
    val cur = chainCurrent(root)
    val curFiles = chainManifestNamed(root, cur).toSet
    val removedSince = chainManifestNamed(root, base).toSet -- curFiles
    val conflict = removed.toSet & removedSince
    if (conflict.nonEmpty) Left(conflict.toSeq.sorted)
    else {
      val ref = s"p_$branch"
      writeManifest(root, ref, ((curFiles -- removed) ++ added).toSeq)
      chainPublish(root, ref)
      Right(ref)
    }
  }

  /** Atomic pointer swap — publication itself: write the new ref to a
    * temp file and rename over `_current` (rename is atomic on POSIX, so
    * a concurrent reader sees the old ref or the new, never a torn
    * one). Idempotent by content. */
  def chainPublish(root: String, ref: String): Unit = {
    val tmp = java.nio.file.Files.writeString(
      new File(s"$root/_current.tmp-${java.util.UUID.randomUUID()}")
        .toPath, ref)
    java.nio.file.Files.move(tmp, new File(s"$root/_current").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Fork the chain root `src` into `dst` at v3: data files hardlinked
    * (immutable by the chain's own contract), manifests and zone maps
    * copied, `_current` published. */
  private def forkChain(src: String, dst: File): Unit = {
    linkDir(new File(src, ChainDataDir), new File(dst, ChainDataDir))
    copyDir(new File(src, ChainManifestsDir),
      new File(dst, ChainManifestsDir))
    copyDir(new File(src, ChainZonesDir), new File(dst, ChainZonesDir))
    chainPublish(dst.getAbsolutePath, "v3")
  }

  /** Recursive HARDLINK mirror (falls back to copy across filesystems) —
    * the zero-byte data-sharing stand-in for a manifest referencing
    * another catalog's immutable files. */
  private[graft] def linkDir(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => linkDir(f, new File(to, f.getName)))
    } else {
      try {
        java.nio.file.Files.createLink(to.toPath, from.toPath): Unit
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(from.toPath, to.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }

  /** A chain ref's manifest: table-relative part paths (bounded —
    * ≤ ~2731 + touched entries per ref, driver metadata). Refs are
    * version numbers ("v0".."v3") or branch names ("b_audit"). */
  def chainManifest(root: String, v: Int): Seq[String] =
    chainManifestNamed(root, s"v$v")

  /** Write a chain ref's manifest — owns the format: one table-relative
    * part path per line, sorted. */
  private[graft] def writeManifest(root: String, ref: String,
      files: Seq[String]): Unit = {
    val f = new File(s"$root/$ChainManifestsDir/$ref.txt")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      files.sorted.mkString("\n").getBytes("UTF-8")): Unit
  }

  def chainManifestNamed(root: String, ref: String): Seq[String] = {
    val f = new File(s"$root/$ChainManifestsDir/$ref.txt")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList finally src.close()
  }

  /** The published ref (`_current` pointer). Publishing IS the atomic
    * swap of this one file — the WAP endpoint. */
  def chainCurrent(root: String): String =
    java.nio.file.Files.readString(
      new File(s"$root/_current").toPath).trim

  /** Read one chain ref's rows (o_orderkey, x8, y8, hidx) through
    * its manifest — explicit file lists, no directory listing. Throws if
    * a referenced file is missing (an expired/vacuumed version MUST fail
    * loudly, never silently return partial history). */
  def chainReadVersion(spark: SparkSession, root: String, v: Int)
      : DataFrame = chainReadNamed(spark, root, s"v$v")

  def chainReadNamed(spark: SparkSession, root: String, ref: String)
      : DataFrame =
    chainReadFiles(spark, root, chainManifestNamed(root, ref), ref)

  /** Read ONLY the files `ref` adds over `base` — the staged commit's
    * DELTA (manifest set difference, driver metadata). The incremental
    * audit's input: a branch forked from an audited version only needs
    * its OWN rows checked, the base's uniqueness was certified by the
    * publish that created it. */
  def chainReadDelta(spark: SparkSession, root: String, ref: String,
      base: String): DataFrame =
    chainReadFiles(spark, root,
      (chainManifestNamed(root, ref).toSet --
        chainManifestNamed(root, base).toSet).toSeq.sorted, ref)

  /** Read an EXPLICIT table-relative file list from a chain root — the
    * shared tail of every manifest-served read (named refs, staged
    * deltas, change-feed pre/post images): no directory listing, ONE
    * scan for the whole list, loud failure on a vacuumed file.
    * `recursiveFileLookup` disables partition inference, which is what
    * lets files from commits with DIFFERENT partition schemes (hbucket
    * vs cbin) share one scan — every served column is a data column, so
    * nothing is lost, and the r17 profile showed each extra per-commit
    * scan cost its own listing job + scan fixed overhead. */
  def chainReadFiles(spark: SparkSession, root: String,
      rels: Seq[String], ref: String): DataFrame = {
    require(rels.nonEmpty, s"ref $ref resolves to an empty file list")
    rels.foreach { r =>
      if (!new File(s"$root/$ChainDataDir/$r").exists())
        throw new java.io.FileNotFoundException(
          s"ref $ref references vacuumed file $r")
    }
    spark.read.option("recursiveFileLookup", "true")
      .parquet(rels.sorted.map(p => s"$root/$ChainDataDir/$p"): _*)
      .select(col("o_orderkey"), col("x8"), col("y8"), col("hidx"))
  }

  /** Execute the retention VACUUM on a chain root: delete every data
    * file referenced ONLY by expired versions (the manifests themselves
    * stay — history metadata is cheap, and a read of an expired version
    * must fail LOUDLY on its missing files, not on absent metadata).
    * Returns the deleted relative paths. Used by ChainSpec on a COPY of
    * the fixture (fixtures are build-once). */
  def chainVacuum(root: String, expired: Set[String], kept: Set[String])
      : Seq[String] = {
    val live = kept.toSeq.flatMap(r => chainManifestNamed(root, r)).toSet
    val dead = expired.toSeq.flatMap(r => chainManifestNamed(root, r))
      .distinct.filterNot(live)
    dead.foreach { r =>
      val f = new File(s"$root/$ChainDataDir/$r")
      if (f.exists() && !f.delete())
        throw new java.io.IOException(s"could not vacuum $r")
    }
    dead
  }

  /** Label-bucket directory count for [[pairStoreFixture]] — bounded at
    * any corpus size (1024 dirs ≈ 100 GB each at 100 TB), large enough
    * that a compliance batch's touched components nominate a strict
    * subset of buckets at fixture scale (the pruning must be REAL, not
    * a vacuous all-bucket INSET — ForgetSpec asserts both). */
  val PairStoreBuckets = 1024

  /** The PHYSICAL near-dup pair store + persisted member→label table —
    * the on-disk state `dedup_forget_cc` reads, making its 100 TB cost
    * claim load-bearing: the pair store is DIRECTORY-PARTITIONED by
    * `lbucket = label mod 1024`, so the daily compliance batch's
    * touched-components read is a PLAN-TIME partition prune (only
    * buckets owning a tombstoned component's label are listed, opened,
    * or decoded — the `q_delete_rewrite` protocol applied to graph
    * state). Layout:
    *  - `labels/`: (doc_id, label) — the member→label table
    *    `dedup_incremental_cc` maintains; narrow, read in full (the
    *    untouched rows pass through the forget VERBATIM),
    *  - `pairs/`: (doc_a, doc_b, label) partitioned by `lbucket` —
    *    pairs never cross components, so doc_a's label is the pair's
    *    component label and every component's edges land in exactly one
    *    bucket directory.
    * Built once per (machine, sfDir); Bench accounts it under `etl`. */
  def pairStoreFixture(spark: SparkSession, sfDir: String): String =
    cachedFixture(sfDir, "pair-store-v1", s"$sfDir/documents.parquet") { tmp =>
      val pairs = graft.operators.Dedup.minHashLsh(spark, sfDir)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val (labels, _) = graft.operators.Dedup.connectedComponentsStar(pairs)
      val labelsCk = labels.select(col("doc_id"), col("label"))
        .localCheckpoint(true)
      labelsCk.write.mode(SaveMode.Overwrite)
        .parquet(new File(tmp, "labels").getAbsolutePath)
      writeClustered(pairs
        .join(labelsCk.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("label"),
          pmod(col("label"), lit(PairStoreBuckets.toLong)).cast("int")
            .as("lbucket")), "lbucket", "label", new File(tmp, "pairs"))
    }

  def prepareFixtures(spark: SparkSession, sfDir: String): Unit = {
    Seq("csv", "orc", "json").foreach(f => fixture(spark, sfDir, "lineitem", f))
    Seq("customer", "nation", "events", "orders")
      .foreach(t => csvFixture(spark, sfDir, t))
    eventsByDayFixture(spark, sfDir)
    hilbertOrdersFixture(spark, sfDir)
    zorderOrdersFixture(spark, sfDir)
    compactHilbertFixture(spark, sfDir)
    compactZorderFixture(spark, sfDir)
    deleteRewriteFixture(spark, sfDir)
    mergeRewriteFixture(spark, sfDir)
    morDvFixture(spark, sfDir)
    morDv2Fixture(spark, sfDir)
    morDvCompactFixture(spark, sfDir)
    morMergeFixture(spark, sfDir)
    priceStatsFixture(spark, sfDir)
    ivfIndexFixture(spark, sfDir)
    cdfViewFixture(spark, sfDir)
    chainFixture(spark, sfDir)
    wapPublishFixture(spark, sfDir)
    concurrentFixture(spark, sfDir)
    schemaDropFixture(spark, sfDir)
    partitionEvolutionFixture(spark, sfDir)
    pairStoreFixture(spark, sfDir)
    bucketedOrderTables(spark, sfDir)
    ()
  }

  private[graft] def cachedFixture(sfDir: String, key: String, srcPath: String)(
      write: File => Unit): String = {
    val safe = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val target = new File(
      s"${System.getProperty("java.io.tmpdir")}/graft_fix_$safe/$key")
    val success = new File(target, "_SUCCESS")
    val srcMtime = new File(srcPath).lastModified
    if (!success.exists() || success.lastModified < srcMtime) {
      val tmp = new File(target.getParentFile,
        s"$key.tmp-${java.util.UUID.randomUUID()}")
      tmp.getParentFile.mkdirs()
      write(tmp)
      // the staleness marker sits at the fixture ROOT and is stamped after
      // the whole build: a builder that writes only subdirectories, or
      // copies an older fixture's root, still publishes a fresh one
      java.nio.file.Files.writeString(
        new File(tmp, "_SUCCESS").toPath, "")
      deleteRecursively(target)
      // if the rename loses a concurrent-writer race, the winner's copy
      // (also complete — it renamed a finished dir) is used instead
      if (!tmp.renameTo(target)) deleteRecursively(tmp)
    }
    target.getAbsolutePath
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
