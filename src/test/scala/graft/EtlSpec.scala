package graft

import java.nio.file.Files
import graft.sources.Etl

/** S1/S3 ETL parity (reference csv_to_parquet.py): CSV → snappy parquet
  * roundtrip preserves rows, plus the explicit-schema + partitioned
  * production variant. */
class EtlSpec extends SparkSpec {

  test("csv -> parquet roundtrip preserves data (inferred schema)") {
    val dir = SparkSpec.tempDir("graft-etl").toString
    val src = Tables.read(spark, sf, "nation")
    src.write.option("header", "true").csv(s"$dir/nation_csv")
    Etl.csvToParquet(spark, s"$dir/nation_csv", s"$dir/nation_parquet")
    val back = spark.read.parquet(s"$dir/nation_parquet")
    assert(back.count() == src.count())
    assert(back.columns.sorted.sameElements(src.columns.sorted))
  }

  test("csv -> parquet with explicit schema and partitioning") {
    val dir = SparkSpec.tempDir("graft-etl2").toString
    Tables.read(spark, sf, "region")
      .write.option("header", "true").csv(s"$dir/region_csv")
    Etl.csvToParquetWithSchema(spark, s"$dir/region_csv",
      "r_regionkey INT, r_name STRING", s"$dir/region_parquet",
      partitionBy = Seq("r_regionkey"))
    val back = spark.read.parquet(s"$dir/region_parquet")
    assert(back.count() == 5)
    // partition pruning must reach the scan
    val pruned = back.filter(back("r_regionkey") === 1)
    assert(pruned.count() == 1)
  }

  test("cachedFixture stamps the fixture root's _SUCCESS after a builder " +
      "that writes no marker") {
    val dir = SparkSpec.tempDir("graft-stamp").toFile
    val src = new java.io.File(dir, "t.parquet")
    Files.writeString(src.toPath, "")
    src.setLastModified(System.currentTimeMillis() - 60000L)
    val root = Etl.cachedFixture(dir.getPath, "stamp", src.getPath) { tmp =>
      val sub = new java.io.File(tmp, "data")
      sub.mkdirs()
      Files.writeString(new java.io.File(sub, "part").toPath, "x"): Unit
    }
    try {
      val success = new java.io.File(root, "_SUCCESS")
      assert(success.exists(), s"no _SUCCESS at the root of $root")
      assert(success.lastModified > src.lastModified)
      // the marker is fresh, so the primed cache is used as published
      Etl.cachedFixture(dir.getPath, "stamp", src.getPath) { _ =>
        fail("a fresh fixture was rebuilt")
      }
    } finally {
      Etl.deleteRecursively(new java.io.File(root).getParentFile)
      Etl.deleteRecursively(dir)
    }
  }

  test("curve fixtures hold exactly one data file per hbucket " +
      "(the MOR (hbucket, row_index) join-key invariant)") {
    // qDeleteMor/qDeleteMorStacked/qMergeMor anti-join deletes on
    // (hbucket, _metadata.row_index), sound only while (file, pos) ≡
    // (hbucket, pos) — i.e. one data file per bucket directory. The
    // fixture build asserts this at write time; this test re-asserts it
    // against the on-disk state a bench/verify run actually reads, so
    // any future writer change (maxRecordsPerFile, task splitting) that
    // slips past the build fails HERE instead of under-deleting.
    Seq(Etl.hilbertOrdersFixture(spark, sf),
        Etl.zorderOrdersFixture(spark, sf)).foreach { root =>
      val buckets = new java.io.File(s"$root/${Etl.HilbertTableDir}")
        .listFiles().filter(d =>
          d.isDirectory && d.getName.startsWith("hbucket="))
      assert(buckets.nonEmpty, s"no hbucket dirs under $root")
      buckets.foreach { d =>
        val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(parts == 1,
          s"${d.getName} holds $parts data files (expected exactly 1)")
      }
    }
  }

  test("every clustered write fails the build, naming the directory, " +
      "when a partition splits into several files") {
    // the invariant writeClustered checks guards every clustered layout,
    // not only the curve fixtures: the same rows written with a file-size
    // cap small enough to split a bucket must not publish
    val rows = Etl.curveLaid(spark, sf, "hilbert_xy2d(x8, y8)")
    val dir = new java.io.File(SparkSpec.tempDir("graft-split-bucket").toFile,
      Etl.HilbertTableDir)
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "1")
    val e = try intercept[IllegalArgumentException] {
      Etl.writeClustered(rows, "hbucket", "hidx", dir)
    } finally spark.conf.unset(key)
    assert(e.getMessage.contains(s"${dir.getPath}/hbucket="),
      s"the failure must name the split partition directory: ${e.getMessage}")
  }

  test("a CSV twin rebuilt from a newer source is read with its new " +
      "schema") {
    // the twin's inferred schema is memoised per published copy: a copy
    // rebuilt at the same path must not be read with the old schema
    val dir = SparkSpec.tempDir("graft-twin").toString
    val src = new java.io.File(dir, "t.parquet")
    spark.range(4).selectExpr("id AS a", "id * 2 AS b")
      .write.parquet(src.getPath)
    val before = graft.operators.RefQueries.readCsvTwin(spark, dir, "t")
    assert(before.columns.toSeq == Seq("a", "b"))
    spark.range(4).selectExpr("id AS a", "id * 2 AS b", "id * 3 AS c")
      .write.mode("overwrite").parquet(src.getPath)
    src.setLastModified(System.currentTimeMillis() + 2000)
    val after = graft.operators.RefQueries.readCsvTwin(spark, dir, "t")
    assert(after.columns.toSeq == Seq("a", "b", "c"))
    assert(after.orderBy("a").collect().map(_.getInt(2)).toSeq ==
      Seq(0, 3, 6, 9))
  }

  test("type widening: mergeSchema hard-fails on int-vs-bigint" +
      " generations; the tracked-schema cast-on-read serves all three") {
    import org.apache.spark.sql.functions.{col, max, min}
    val path = Etl.typeWideningFixture(spark, sf)
    // the migration mergeSchema CANNOT do — its StructType merge has no
    // numeric promotion, so the mixed int/bigint o_qty must fail loudly
    // (this failure is exactly why the widened-read protocol exists)
    val merged = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(path)
        .select(col("o_qty")).collect()
    }
    assert(merged.getMessage.toLowerCase.contains("merge")
        || merged.getMessage.toLowerCase.contains("int"),
      s"expected a schema-merge failure, got: ${merged.getMessage}")
    // cast-on-read: the widened query must agree with reading each
    // generation separately through its own native type
    val out = graft.operators.RefQueries.qSchemaWidening(spark, sf)
      .collect()(0)
    val raw = spark.read.parquet(path) // schema from a sampled footer;
    // count is type-agnostic, so use it only for the row total
    assert(out.getLong(0) == raw.count(), "widened read lost rows")
    // the wide generation is REAL: its minimum exceeds Int range, so a
    // reader that silently truncated to int could not produce these
    val wide = spark.read
      .schema("o_orderkey bigint, ck bigint, o_qty bigint").parquet(path)
      .filter(col("o_orderkey") % 3 === 2)
    val mn = wide.agg(min(col("o_qty")), max(col("o_qty"))).collect()(0)
    assert(mn.getLong(0) > Int.MaxValue.toLong,
      s"wide generation must exceed Int range, min=${mn.getLong(0)}")
    assert(out.getLong(1) == wide.count(),
      "n_wide must count exactly the wide generation")
  }
}
