package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The per-file schema memo behind `Tables.read`: a repeat read of an
  * unchanged file launches no inference job and yields exactly the schema
  * Spark infers, while a rewritten file, a directory or a changed
  * inference conf is inferred afresh. */
class TablesSpec extends SparkSpec {

  /** Writes `df` as ONE regular parquet file `dir/name.parquet`. */
  private def writeFile(df: DataFrame, dir: String, name: String): File = {
    val out = SparkSpec.tempDir("graft-tables-out").toFile
    df.coalesce(1).write.mode("overwrite").parquet(out.getPath)
    val part = out.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val target = new File(dir, s"$name.parquet")
    Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    target
  }

  private def plain(name: String): DataFrame =
    spark.read.parquet(s"$sf/$name.parquet")

  test("a repeat read of an unchanged file launches no job and keeps " +
      "Spark's inferred schema") {
    Tables.all.foreach(Tables.read(spark, sf, _))
    Tables.all.foreach { name =>
      val (df, jobs) = jobsDuring(Tables.read(spark, sf, name))
      assert(jobs == 0, s"repeat read of $name launched $jobs job(s)")
      if (name != "events") { // readEvents normalizes ts
        assert(df.schema == plain(name).schema, name)
        assert(df.queryExecution.analyzed.output.map(_.dataType) ==
          plain(name).queryExecution.analyzed.output.map(_.dataType), name)
      }
    }
    assertSameRows(Tables.read(spark, sf, "orders"), plain("orders"))
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = SparkSpec.tempDir("graft-tables-rw").toString
    writeFile(spark.range(3).toDF("a"), dir, "t")
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("a"))
    val f = writeFile(spark.range(3).selectExpr("id AS a", "id * 2 AS b"),
      dir, "t")
    f.setLastModified(f.lastModified + 2000)
    val back = Tables.read(spark, dir, "t")
    assert(back.columns.toSeq == Seq("a", "b"))
    assert(back.orderBy("a").collect().map(r => r.getLong(1)).toSeq ==
      Seq(0L, 2L, 4L))
  }

  test("a directory path is read through Spark's inference every time") {
    val dir = SparkSpec.tempDir("graft-tables-dir").toString
    val tbl = new File(dir, "d.parquet")
    spark.range(3).toDF("a").coalesce(1).write.parquet(tbl.getPath)
    assert(Tables.read(spark, dir, "d").count() == 3)
    val (df, jobs) = jobsDuring(Tables.read(spark, dir, "d"))
    assert(jobs > 0, "a directory's schema must not be memoised")
    assert(df.columns.toSeq == Seq("a"))
    // replace the part file in place: the directory's mtime stays put
    val mtime = tbl.lastModified
    val part = tbl.listFiles().filter(_.getName.endsWith(".parquet")).head
    tbl.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val fresh = writeFile(spark.range(3).selectExpr("id AS a", "id AS b"),
      dir, "fresh")
    Files.move(fresh.toPath, part.toPath, StandardCopyOption.REPLACE_EXISTING)
    tbl.setLastModified(mtime)
    assert(Tables.read(spark, dir, "d").columns.toSeq == Seq("a", "b"))
  }

  test("a changed inference conf is not served the other conf's schema") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(key)
    def shipdate = Tables.read(spark, sf, "lineitem").schema("l_shipdate")
    try {
      spark.conf.set(key, "true")
      assert(shipdate.dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(shipdate.dataType == TimestampType)
      assert(Tables.read(spark, sf, "lineitem").schema ==
        plain("lineitem").schema)
      spark.conf.set(key, "true")
      assert(shipdate.dataType == TimestampNTZType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
