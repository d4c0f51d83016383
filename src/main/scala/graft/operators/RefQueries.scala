package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftSession, Tables}
import graft.functions.GeoFunctions.{haversineKm, haversineKmScalar}

/** Re-expressions of the reference's four analytical queries
  * (marvlach/pyspark-big-data, `src/query1.py`..`query4.py`) retargeted onto
  * the TPC-H-ish testdata, preserving each query's *operator shape* exactly
  * (see SURVEY.md §2, FIXTURES.md §C) while staying Spark-idiomatic:
  * declarative DataFrame plans so Catalyst does pushdown / pruning /
  * partial aggregation, broadcast hints on dimension tables, no driver-side
  * loops (the single deliberate driver round-trip in q3 mirrors
  * query3.py:142's `head(3)` → `isin`).
  */
object RefQueries {

  // ---------------------------------------------------------------------
  // Q1 shape (reference query1.py): union two sources → substring-extract
  // year/month → group-count → row_number window per year → top-3 → sort.
  // Operators: S2 U1 F1 A1 W1 P10 O1.
  // ---------------------------------------------------------------------

  /** DataFrame-API variant (reference query1.py:121-146 `query_df`).
    *
    * Scale: the union is a no-shuffle narrow op; the only shuffles are the
    * group-by (partial+final HashAggregate, tiny output: years×months rows)
    * and the window/sort over that tiny aggregate — at 100 TB the heavy
    * stage is the scan+partial-agg, which parallelizes per input split.
    */
  def q1TopMonths(spark: SparkSession, sfDir: String): DataFrame =
    q1Shape(spark, Tables.read(spark, sfDir, "lineitem"))

  /** CSV-source twin (reference S1: every query ran against both CSV and
    * Parquet, with the format gap measured — results/query1.txt:100-122).
    * The parquet fixture is converted once to a cached CSV copy (header +
    * schema inference on read, exactly the reference's reader options);
    * same plan, same oracle — the bench shows the format cost. */
  def q1TopMonthsCsv(spark: SparkSession, sfDir: String): DataFrame =
    q1Shape(spark, readCsvTwin(spark, sfDir, "lineitem"))

  /** Production-shape CSV twin: the schema is AUTHORED (the DDL below
    * mirrors FIXTURES.md §B), so not even one inference parse ever runs —
    * the counterpart `q1_csv` pays inference once per published copy, which
    * is the reference's own CSV-study cost lesson made explicit in the
    * bench table. At 100 TB this is the only acceptable CSV ingest: an
    * inference pass is a full extra read of the input. */
  def q1TopMonthsCsvSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.sources.Etl.csvFixture(spark, sfDir, "lineitem")
    val ddl = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"
    q1Shape(spark,
      spark.read.option("header", "true").schema(ddl).csv(path))
  }

  /** CSV twin of a fixture table: cached conversion (atomic, staleness-
    * checked — Etl.csvFixture) read back with header + schema inference,
    * exactly the reference's CSV reader options. The inference pass (a
    * full extra parse of the file) runs ONCE per published copy — keyed
    * on the copy's `_SUCCESS` marker (`Tables.schemaOnce`), so a copy
    * rebuilt from a newer source is inferred again — and the resulting
    * StructType is reused: a format twin measures steady-state read
    * cost, not N repeated inference scans. */
  private[graft] def readCsvTwin(spark: SparkSession, sfDir: String,
      table: String): DataFrame = {
    val path = graft.sources.Etl.csvFixture(spark, sfDir, table)
    val schema = graft.Tables.schemaOnce(spark, s"$path/_SUCCESS")(
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(path).schema)
    spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** ORC-source twin: same plan over an ORC copy — with columnar
    * predicate pushdown and pruning like parquet, unlike the CSV twin. */
  def q1TopMonthsOrc(spark: SparkSession, sfDir: String): DataFrame =
    q1Shape(spark, spark.read.orc(
      graft.sources.Etl.fixture(spark, sfDir, "lineitem", "orc")))

  /** JSON-lines-source twin — the interchange format training-data
    * pipelines actually ingest. Schema inference reads timestamps back
    * as ISO strings; q1's substring year/month extraction and the
    * string→timestamp comparison coercion make the plan identical in
    * results, while the bench shows the parse cost of JSONL vs columnar
    * sources. Like the CSV twin, the inference scan runs once per
    * published copy and the schema is reused. */
  def q1TopMonthsJsonl(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.sources.Etl.fixture(spark, sfDir, "lineitem", "json")
    val schema = graft.Tables.schemaOnce(spark, s"$path/_SUCCESS")(
      spark.read.json(path).schema)
    q1Shape(spark, spark.read.schema(schema).json(path))
  }

  private def q1Shape(spark: SparkSession, li: DataFrame): DataFrame = {
    import spark.implicits._
    // Reference unions 2010s + 2020s CSVs (query1.py:25); preserve the
    // positional-union shape with two disjoint date slices of lineitem.
    val split = lit("1998-01-01").cast("timestamp")
    val early = li.filter($"l_shipdate" < split)
    val late = li.filter($"l_shipdate" >= split)
    val unioned = early.union(late)
    val counts = unioned
      .withColumn("ds", $"l_shipdate".cast("string"))
      // 1-based substr — mirrors PySpark col[7:4] semantics (query1.py:134)
      .withColumn("year", $"ds".substr(1, 4))
      .withColumn("month", $"ds".substr(6, 2))
      .groupBy($"year", $"month")
      .count()
      .withColumnRenamed("count", "cnt")
    val w = Window.partitionBy($"year").orderBy($"cnt".desc, $"month".asc)
    counts
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .orderBy($"year".asc, $"rnk".asc)
      .select($"year", $"month", $"cnt", $"rnk")
  }

  /** SQL twin (reference query1.py:81-118 `query_sql`): temp view +
    * `spark.sql` — identical Catalyst plan to the DF variant. */
  def q1TopMonthsSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("""
      WITH ym AS (
        SELECT substr(cast(l_shipdate AS string), 1, 4) AS year,
               substr(cast(l_shipdate AS string), 6, 2) AS month
        FROM lineitem
      ), counts AS (
        SELECT year, month, count(*) AS cnt FROM ym GROUP BY year, month
      ), ranked AS (
        SELECT year, month, cnt,
               row_number() OVER (PARTITION BY year
                                  ORDER BY cnt DESC, month ASC) AS rnk
        FROM counts
      )
      SELECT year, month, cnt, rnk FROM ranked
      WHERE rnk <= 3 ORDER BY year ASC, rnk ASC
    """)
  }

  /** Typed-Dataset port of the reference's RDD map-reduce variant of Q1
    * (query1.py:45-78: reduceByKey counts → groupByKey per year →
    * in-memory sort/top-3 → sortByKey). `groupByKey.count` keeps the
    * partial/final aggregate split the RDD `reduceByKey` had;
    * `flatMapGroups` does the per-year top-3 (≤ 12 rows per group, so the
    * in-memory sort is bounded); the JVM-native closures avoid the
    * reference's measured ~2× Python-worker penalty. */
  def q1TopMonthsTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .select($"l_shipdate".cast("string").substr(1, 4).as("year"),
        $"l_shipdate".cast("string").substr(6, 2).as("month"))
      .as[(String, String)]
      .groupByKey(identity)
      .count()
      .map { case ((y, m), c) => (y, m, c) }
      .groupByKey(_._1)
      .flatMapGroups { (year, rows) =>
        rows.toSeq
          .sortBy { case (_, m, c) => (-c, m) }
          .take(3)
          .zipWithIndex
          .map { case ((_, m, c), i) => (year, m, c, i + 1) }
          .iterator
      }
      .toDF("year", "month", "cnt", "rnk")
      .orderBy($"year".asc, $"rnk".asc)
  }

  // ---------------------------------------------------------------------
  // Q2 shape (reference query2.py): equality filter → cast+lpad →
  // CASE-WHEN time-of-day buckets → group-count → sort desc.
  // Operators: P4 F2 F3 F4 A1 O2.
  // ---------------------------------------------------------------------

  /** DataFrame-API variant (query2.py:97-132). The HHMM-int → zero-padded
    * string → string-range bucketing mirrors the reference's `TIME OCC`
    * handling (query2.py:52,78,109-125) exactly. */
  def q2TimeBuckets(spark: SparkSession, sfDir: String): DataFrame =
    q2Shape(spark, Tables.read(spark, sfDir, "events"))

  /** CSV-source twin of q2 (reference results/query2.txt measured both
    * formats; same oracle — the bench shows the format cost). */
  def q2TimeBucketsCsv(spark: SparkSession, sfDir: String): DataFrame =
    q2Shape(spark, readCsvTwin(spark, sfDir, "events"))

  private def q2Shape(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    ev
      .filter($"event_type" === "click")
      .withColumn("hhmm", (hour($"ts") * 100 + minute($"ts")).cast("int"))
      .withColumn("t4", lpad($"hhmm".cast("string"), 4, "0"))
      .withColumn("bucket",
        when($"t4" >= "0500" && $"t4" <= "1159", "Morning")
          .when($"t4" >= "1200" && $"t4" <= "1659", "Afternoon")
          .when($"t4" >= "1700" && $"t4" <= "2059", "Evening")
          .otherwise("Night"))
      .groupBy($"bucket")
      .count()
      .withColumnRenamed("count", "cnt")
      .orderBy($"cnt".desc, $"bucket".asc)
      .select($"bucket", $"cnt")
  }

  /** SQL twin (reference query2.py:61-93 `query_sql`). */
  def q2TimeBucketsSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "events").createOrReplaceTempView("events")
    spark.sql("""
      WITH b AS (
        SELECT CASE
                 WHEN t4 >= '0500' AND t4 <= '1159' THEN 'Morning'
                 WHEN t4 >= '1200' AND t4 <= '1659' THEN 'Afternoon'
                 WHEN t4 >= '1700' AND t4 <= '2059' THEN 'Evening'
                 ELSE 'Night' END AS bucket
        FROM (SELECT lpad(cast(hour(ts) * 100 + minute(ts) AS string),
                          4, '0') AS t4
              FROM events WHERE event_type = 'click')
      )
      SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket
      ORDER BY cnt DESC, bucket ASC
    """)
  }

  /** Typed-Dataset port of the reference's RDD map-reduce variant
    * (query2.py:33-58): the Python-lambda `bin_it` + `reduceByKey` becomes
    * `groupByKey(...).count()` — same semantics, but the closure runs inside
    * the JVM and the aggregation keeps Catalyst's partial/final split, so
    * the reference's measured ~2× RDD penalty (results/query2.txt:17-27)
    * disappears. */
  def q2TimeBucketsTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def binIt(hhmm: Int): String = {
      val t4 = f"$hhmm%04d"
      if (t4 >= "0500" && t4 <= "1159") "Morning"
      else if (t4 >= "1200" && t4 <= "1659") "Afternoon"
      else if (t4 >= "1700" && t4 <= "2059") "Evening"
      else "Night"
    }
    Tables.read(spark, sfDir, "events")
      .filter($"event_type" === "click")
      .select((hour($"ts") * 100 + minute($"ts")).cast("int").as("hhmm"))
      .as[Int]
      .groupByKey(binIt)
      .count()
      .toDF("bucket", "cnt")
      .orderBy($"cnt".desc, $"bucket".asc)
  }

  // ---------------------------------------------------------------------
  // Q3 shape (reference query3.py): clean (regexp_replace/cast/rename) →
  // join chain with CLI-selectable hints → distinct → top-3-to-driver →
  // isin → join inline dim → group-count → sort.
  // Operators: F5 F3 P3 J2 J4 A3 O4 P9 S4 A1 O2.
  // ---------------------------------------------------------------------

  /** @param hint1 strategy hint for the orders side of join 1
    * @param hint2 strategy hint for the customer side of join 2
    * "optimal" = no hint (Catalyst/AQE decides) — the reference's CLI
    * exposes exactly these strings (query3.py:175-192, README.md:176-177).
    *
    * Scale: at 100 TB `lineitem⋈orders` is the big join — hints let the
    * caller force SMJ/SHJ; `customer` and the inline dim are broadcast
    * (dim explicitly, customer via hint or AQE). The deliberate driver
    * round-trip (`head(3)` → `isin`) ships only 3 keys back, mirroring
    * query3.py:142-144; the isin-literal prunes before the joins thanks to
    * Catalyst predicate pushdown.
    */
  /** Shared q3 inputs: projected lineitem, orders with the F5-cleaned
    * priority ("1-URGENT" → "URGENT", mirroring the reference's income
    * cleanup query3.py:68-71), projected customer, and the S4 inline
    * dimension (reference's 19-row descent dim, query3.py:8-32).
    *
    * @param fromCsv read all three tables from their CSV fixture copies
    *   (the reference ran every query on both formats)
    * @param cleanKey apply the F5 regexp cleanup to the join key; `false`
    *   is the reference's strip-vs-keep sensitivity study
    *   (query3.py:84-96) — the raw key never matches the dim here, so
    *   every row is silently lost (see q3JoinChainRawKey) */
  private def q3Parts(spark: SparkSession, sfDir: String,
      fromCsv: Boolean = false, cleanKey: Boolean = true)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    def rd(t: String): DataFrame =
      if (fromCsv) readCsvTwin(spark, sfDir, t) else Tables.read(spark, sfDir, t)
    val li = rd("lineitem")
      .select($"l_orderkey", $"l_quantity")
    val ord = rd("orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
      .withColumn("priority",
        if (cleanKey) regexp_replace($"o_orderpriority", "[0-9-]", "")
        else $"o_orderpriority")
    val cust = rd("customer")
      .select($"c_custkey", $"c_acctbal")
    val dim = Seq(
      ("URGENT", "Critical"), ("HIGH", "High"), ("MEDIUM", "Medium"),
      ("NOT SPECIFIED", "Unspecified"), ("LOW", "Low"))
      .toDF("priority", "priority_label")
    (li, ord, cust, dim)
  }

  /** Shared q3 tail: join to the inline dim, group-count + quantity sum,
    * deterministic order. `joined` must already be restricted to the
    * top-3 customers (by either mechanism). */
  private def q3Finish(joined: DataFrame, dim: DataFrame): DataFrame =
    joined.join(broadcast(dim), Seq("priority"))
      .groupBy(col("priority_label"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("qty"))
      .orderBy(col("priority_label").asc)

  /** @param extreme "top" = 3 wealthiest customers (reference CLI arg
    * "top"), "bot" = 3 poorest (reference CLI arg "bot",
    * query3.py:101,134-140 — both published in results/query3.txt). */
  def q3JoinChain(spark: SparkSession, sfDir: String,
      hint1: String = "optimal", hint2: String = "optimal",
      extreme: String = "top", fromCsv: Boolean = false): DataFrame = {
    import spark.implicits._
    def hinted(df: DataFrame, h: String): DataFrame =
      if (h == "optimal") df else df.hint(h)
    val (li, ord, cust, dim) = q3Parts(spark, sfDir, fromCsv = fromCsv)

    // O4: top/bot-3 by balance to driver, then P9 isin — literal port of
    // query3.py:135-144 (head(3) → python list → isin).
    val extreme3: Array[Long] = q3Extreme3(cust, extreme)

    q3Finish(
      li.withColumnRenamed("l_orderkey", "o_orderkey")
        .join(hinted(ord, hint1), Seq("o_orderkey"))
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(hinted(cust, hint2), Seq("c_custkey"))
        .filter($"c_custkey".isin(extreme3: _*)),
      dim)
  }

  /** The reference's `head(3)` driver round-trip, direction-selectable.
    * The key is cast to long explicitly: the CSV twin's inferred schema
    * types small keys as int, which would make `getLong` throw. */
  private def q3Extreme3(cust: DataFrame, extreme: String): Array[Long] = {
    val bal = col("c_acctbal")
    cust.select(col("c_custkey").cast("long").as("c_custkey"), bal).distinct()
      .orderBy(if (extreme == "bot") bal.asc else bal.desc,
        col("c_custkey").asc)
      .head(3).map(_.getLong(0))
  }

  /** The reference's fourth hint, `shuffle_replicate_nl`, as a declared
    * query: the customer-side join is forced to a cartesian
    * (replicate-nested-loop) plan, the equi-condition demoted to a
    * post-product filter — the reference's most instructive baseline
    * datapoint is exactly this blow-up (results/query3.txt:92-94).
    * The hinted side is pre-restricted to the 3 selected customers so the
    * product is |joined|×3, not |joined|×|customer| — the measured
    * replicate-NL overhead vs `q3_hint_broadcast` is the lesson, kept
    * bench-runnable at sf0.1. Same oracle as every q3 variant. */
  def q3JoinChainReplicateNl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (li, ord, cust, dim) = q3Parts(spark, sfDir)
    val top3: Array[Long] = q3Extreme3(cust, "top")
    q3Finish(
      li.withColumnRenamed("l_orderkey", "o_orderkey")
        .join(ord, Seq("o_orderkey"))
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(cust.filter($"c_custkey".isin(top3: _*))
          .hint("shuffle_replicate_nl"), Seq("c_custkey")),
      dim)
  }

  /** The reference's headline blow-up datapoint — cartesian forced on
    * JOIN 1 (lineitem ⋈ orders), its slowest published combo (354.94 s,
    * results/query3.txt:92-94, ~10× the hinted plans). The hinted orders
    * side is pre-restricted to the 3 selected customers' orders (the
    * reference could afford the full product on a 2M-row table; lineitem
    * × orders at sf0.1 could not be benched), so the measured product is
    * |lineitem| × ~45, demonstrating the replicate-NL overhead per probe
    * row while staying runnable. Same oracle as every q3 variant. */
  def q3JoinChainReplicateNlJoin1(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val (li, ord, cust, dim) = q3Parts(spark, sfDir)
    val top3: Array[Long] = q3Extreme3(cust, "top")
    q3Finish(
      li.withColumnRenamed("l_orderkey", "o_orderkey")
        .join(ord.filter($"o_custkey".isin(top3: _*))
          .hint("shuffle_replicate_nl"), Seq("o_orderkey"))
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(cust, Seq("c_custkey"))
        .filter($"c_custkey".isin(top3: _*)),
      dim)
  }

  /** Raw-join-key sensitivity twin — the reference's strip-vs-keep study
    * (query3.py:84-96; both sides published in results/query3.txt:1,38).
    * Skipping the F5 cleanup joins raw `o_orderpriority` ("1-URGENT")
    * against the dim's cleaned keys ("URGENT"): nothing matches, and the
    * inner join silently drops EVERY row — the result goes from 5 groups
    * to 0 with no error anywhere. That silent-row-loss is the reference's
    * most instructive data-quality lesson, and the DuckDB oracle (same
    * query, same raw key) independently confirms the empty result. */
  def q3JoinChainRawKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (li, ord, cust, dim) = q3Parts(spark, sfDir, cleanKey = false)
    val top3: Array[Long] = q3Extreme3(cust, "top")
    q3Finish(
      li.withColumnRenamed("l_orderkey", "o_orderkey")
        .join(ord, Seq("o_orderkey"))
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(cust, Seq("c_custkey"))
        .filter($"c_custkey".isin(top3: _*)),
      dim)
  }

  // ---------------------------------------------------------------------
  // Q4 shape (reference query4.py): compound filters → expression equi-join
  // (differently-named keys) → geodesic distance → avg+count per group →
  // sort desc. Operators: P5 P6 P7 J3 X1→Column-math A2 O2.
  // ---------------------------------------------------------------------

  /** Shared pre-distance plan: filtered customers with synthetic
    * deterministic coordinates, nations likewise (FIXTURES.md §C — integer
    * arithmetic both Spark and DuckDB reproduce bit-identically). */
  private def q4Parts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    q4PartsFrom(spark, Tables.read(spark, sfDir, "customer"),
      Tables.read(spark, sfDir, "nation"))

  private def q4PartsFrom(spark: SparkSession, custRaw: DataFrame,
      natRaw: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val cust = custRaw
      .filter($"c_acctbal".isNotNull && $"c_acctbal" =!= 0.0 &&
        $"c_acctbal".between(-500.0, 8000.0))
      .withColumn("c_lat", ($"c_custkey" % 120).cast("double") - 60.0 + 0.25)
      .withColumn("c_lon", ($"c_custkey" % 300).cast("double") - 150.0 + 0.5)
      .select($"c_custkey", $"c_nationkey", $"c_lat", $"c_lon")
    val nat = natRaw
      .withColumn("n_lat", ($"n_nationkey" * 3).cast("double") - 30.0)
      .withColumn("n_lon", ($"n_nationkey" * 7).cast("double") - 80.0)
      .select($"n_nationkey", $"n_name", $"n_lat", $"n_lon")
    (cust, nat)
  }

  private def q4Finish(joined: DataFrame): DataFrame = {
    val j = joined.withColumn("dist_km",
      haversineKm(col("c_lat"), col("c_lon"), col("n_lat"), col("n_lon")))
    // avg as decimal-sum / count: a plain avg(double) accumulates in
    // partition order, so its last ulp varies run to run; the decimal(20,6)
    // sum is order-independent and the double division + round is then a
    // pure function of (sum, count) — deterministic on both engines
    j.groupBy(col("n_name"))
      .agg(round(sum(col("dist_km").cast("decimal(20,6)")).cast("double") /
        count(lit(1)), 4).as("avg_dist_km"),
        count(lit(1)).as("cnt"))
      .orderBy(col("avg_dist_km").desc, col("n_name").asc)
  }

  /** DF variant (query4.py:24-70). The reference's Python-UDF geodesic
    * (query4.py:9-10) is re-expressed as pure Column math (haversine) —
    * codegen-able, no serialization boundary, oracle-expressible. */
  def q4Distance(spark: SparkSession, sfDir: String): DataFrame = {
    val (cust, nat) = q4Parts(spark, sfDir)
    // J3: expression join on differently-named keys (query4.py:43)
    q4Finish(cust.join(nat, cust("c_nationkey") === nat("n_nationkey")))
  }

  /** CSV-source twin of q4 (reference results/query4.txt measured both
    * formats; same oracle). */
  def q4DistanceCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val (cust, nat) = q4PartsFrom(spark,
      readCsvTwin(spark, sfDir, "customer"),
      readCsvTwin(spark, sfDir, "nation"))
    q4Finish(cust.join(nat, cust("c_nationkey") === nat("n_nationkey")))
  }

  /** Broadcast variant — idiomatic port of the reference's hand-rolled
    * collectAsMap+broadcast map-side join (query4.py:104-132, J5): the
    * `broadcast()` hint gives the same no-shuffle-of-the-big-side plan
    * without driver materialization. At 100 TB: nation is tiny → this is
    * the plan AQE would pick; the hint makes it deterministic. */
  def q4DistanceBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val (cust, nat) = q4Parts(spark, sfDir)
    q4Finish(cust.join(broadcast(nat),
      cust("c_nationkey") === nat("n_nationkey")))
  }

  /** SQL twin (query4.py:73-101): temp views + spark.sql, UDF replaced by
    * built-in math functions registered-free. */
  def q4DistanceSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "customer").createOrReplaceTempView("customer")
    Tables.read(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql("""
      WITH c AS (
        SELECT c_custkey, c_nationkey,
               cast(c_custkey % 120 AS double) - 60.0 + 0.25 AS c_lat,
               cast(c_custkey % 300 AS double) - 150.0 + 0.5 AS c_lon
        FROM customer
        WHERE c_acctbal IS NOT NULL AND c_acctbal != 0.0
          AND c_acctbal BETWEEN -500.0 AND 8000.0
      ), n AS (
        SELECT n_nationkey, n_name,
               cast(n_nationkey * 3 AS double) - 30.0 AS n_lat,
               cast(n_nationkey * 7 AS double) - 80.0 AS n_lon
        FROM nation
      ), j AS (
        SELECT n_name,
               2.0 * 6371.0 * asin(sqrt(
                 pow(sin(radians(n_lat - c_lat) / 2), 2) +
                 cos(radians(c_lat)) * cos(radians(n_lat)) *
                 pow(sin(radians(n_lon - c_lon) / 2), 2))) AS dist_km
        FROM c JOIN n ON c.c_nationkey = n.n_nationkey
      )
      SELECT n_name,
             round(cast(sum(cast(dist_km AS decimal(20,6))) AS double)
                   / count(*), 4) AS avg_dist_km,
             count(*) AS cnt
      FROM j GROUP BY n_name
      ORDER BY avg_dist_km DESC, n_name ASC
    """)
  }

  /** Typed cogroup port of the reference's hand-rolled repartition
    * (reduce-side) join (query4.py:135-173, J6) + manual (sum,count)
    * average (query4.py:168-170, A5): `KeyValueGroupedDataset.cogroup`
    * reproduces the tag-union-groupByKey shape inside the JVM, and the
    * per-group manual partial aggregation mirrors the reference's
    * accumulator. Kept for operator parity — q4Distance* is the plan to
    * use at scale (SortMergeJoin/Broadcast beats cogroup's full shuffle of
    * both sides with no partial aggregation). */
  def q4DistanceCogroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cust, nat) = q4Parts(spark, sfDir)
    val custTyped = cust.select($"c_nationkey".cast("int").as("key"),
      $"c_lat", $"c_lon").as[(Int, Double, Double)]
    val natTyped = nat.select($"n_nationkey".cast("int").as("key"),
      $"n_name", $"n_lat", $"n_lon").as[(Int, String, Double, Double)]
    val joined = custTyped.groupByKey(_._1)
      .cogroup(natTyped.groupByKey(_._1)) { (_, cs, ns) =>
        // one-to-many flatten: nation side is unique per key
        // (query4.py:166-167 identifies the police row by tuple length)
        val nList = ns.toList
        if (nList.isEmpty) Iterator.empty
        else {
          val (_, name, nlat, nlon) = nList.head
          cs.map { case (_, clat, clon) =>
            (name, haversineKmScalar(clat, clon, nlat, nlon))
          }
        }
      }
    // A5: manual (sum, count) pairs → avg, the reference's reduceByKey
    // accumulator, as a typed reduceGroups. The sum accumulates micro-km
    // longs (each distance quantized exactly like a decimal(20,6) cast) so
    // it is order-independent — reduceGroups merge order varies run to
    // run, and a double accumulator would leak that order into the hash.
    joined.groupByKey(_._1)
      .mapValues { case (_, d) =>
        (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .underlying.movePointRight(6).longValueExact, 1L)
      }
      .reduceGroups((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (name, (sumMicros, n)) =>
        val q = java.math.BigDecimal.valueOf(sumMicros, 6).doubleValue / n
        (name, BigDecimal(q).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble, n)
      }
      .toDF("n_name", "avg_dist_km", "cnt")
      .orderBy($"avg_dist_km".desc, $"n_name".asc)
  }

  /** Literal port of the reference's broadcast-variable map-side join
    * (X2/J5, query4.py:104-132): collect the tiny dimension to the driver,
    * `sparkContext.broadcast` the map, look it up inside a typed closure.
    * Kept for API parity — `q4DistanceBroadcast` (broadcast *hint*) is the
    * idiomatic form; this one is the explicit-broadcast shape for when the
    * lookup is genuinely imperative. Nation is 25 rows — the collect is
    * safe at any scale. */
  def q4DistanceBroadcastVar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (cust, nat) = q4Parts(spark, sfDir)
    val natMap: Map[Int, (String, Double, Double)] = nat
      .select($"n_nationkey".cast("int"), $"n_name", $"n_lat", $"n_lon")
      .collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getDouble(2),
        r.getDouble(3))))
      .toMap
    val bc = spark.sparkContext.broadcast(natMap)
    cust.select($"c_nationkey".cast("int"), $"c_lat", $"c_lon")
      .as[(Int, Double, Double)]
      .flatMap { case (nk, clat, clon) =>
        bc.value.get(nk).map { case (name, nlat, nlon) =>
          (name, haversineKmScalar(clat, clon, nlat, nlon))
        }
      }
      .toDF("n_name", "dist_km")
      .groupBy($"n_name")
      // same order-independent decimal-sum avg as q4Finish
      .agg(round(sum($"dist_km".cast("decimal(20,6)")).cast("double") /
        count(lit(1)), 4).as("avg_dist_km"),
        count(lit(1)).as("cnt"))
      .orderBy($"avg_dist_km".desc, $"n_name".asc)
  }

  /** Skew-resistant two-stage aggregation (salting): the classic fix for
    * hot keys at 100 TB. `events.event_type` has 5 values — at scale a
    * straight groupBy puts 1/5 of the table on one reducer. Stage 1 groups
    * on (key, salt) spreading each hot key over `salts` reducers; stage 2
    * re-aggregates the per-salt partials (sums/counts compose; avg is
    * finished from them). Result is identical to the direct aggregation —
    * the DuckDB oracle is the unsalted query. */
  def qSkewSaltedAgg(spark: SparkSession, sfDir: String,
      salts: Int = 16): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(salts)))
      .groupBy($"event_type", $"salt")
      // decimal partials: order-independent exact sums, so the two-stage
      // result is bit-identical to the direct aggregation (the oracle)
      .agg(count(lit(1)).as("c"), sum($"value".cast("decimal(20,6)")).as("s"))
      .groupBy($"event_type")
      .agg(sum($"c").as("cnt"),
        round(sum($"s"), 4).cast("double").as("sum_value"),
        round(sum($"s").cast("double") / sum($"c"), 4).as("avg_value"))
      .orderBy($"event_type".asc)
  }

  /** Bucketed co-located join — the 100 TB pattern for join keys used
    * repeatedly: both sides are written `bucketBy(16, orderkey)` once
    * (per session + scale dir; the warm-up pass absorbs the write), and
    * every subsequent join on that key plans WITHOUT any exchange — the
    * bucketed scans already satisfy the join's required distribution.
    * At 100 TB this converts the recurring fact-fact shuffle (the
    * dominant cost of `q_join_multikey`-style queries) into a one-time
    * layout decision. PlanSpec asserts the exchange-free join. */
  def qBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // build (CTAS, staleness-guarded) lives in Etl.bucketedOrderTables so
    // the declared query itself is read-only; Bench pre-builds it in the
    // separately-timed etl phase
    val (liT, ordT) = graft.sources.Etl.bucketedOrderTables(spark, sfDir)
    spark.table(liT)
      .join(spark.table(ordT), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum($"l_quantity"), 4).as("qty"))
      .orderBy($"o_orderpriority".asc)
  }

  /** Skewed JOIN — the other half of the skew story next to
    * `qSkewSaltedAgg`: `least(user_id, 20)` funnels ~99% of events onto
    * one join key, the worst case for a sort-merge join (one reducer gets
    * the whole table). The fix demonstrated here is AQE's skew-join
    * split (`spark.sql.adaptive.skewJoin`): at runtime the oversized
    * partition is divided into sub-partitions, each joined against a
    * replicated copy of the matching build rows — AqeSpec asserts the
    * plan actually contains the `skew=true` split. Results are identical
    * either way (the oracle is the plain join), which is the point:
    * skew handling is a physical-plan concern, not a semantic one. */
  def qSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // props rides along so the hot partition is hot in BYTES, not just
    // rows — AQE's skew detector reads shuffle byte sizes, and the
    // (constant-key, low-cardinality-value) columns alone compress to
    // near-uniform partition sizes at test scale
    val ev = Tables.read(spark, sfDir, "events")
      .select(least($"user_id", lit(20L)).as("c_custkey"), $"value", $"props")
    val cust = Tables.read(spark, sfDir, "customer")
      .filter($"c_custkey" <= 20)
      .select($"c_custkey", $"c_mktsegment")
    ev.join(cust, Seq("c_custkey"))
      .groupBy($"c_mktsegment")
      // decimal sum: `value` is a continuous double and ~94% of rows land
      // in one group, so a double sum is partition-order dependent in its
      // last ulp — summing as decimal(20,6) is integer-exact and
      // order-independent, making the result (and the oracle hash)
      // deterministic across runs
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"),
        sum(length($"props")).as("props_bytes"))
      .orderBy($"c_mktsegment".asc)
  }

  // ---------------------------------------------------------------------
  // Multi-key USING join (J1 shape — reference joins on ["LAT","LON"],
  // query3.py:117-120) over a derived aggregate.
  // ---------------------------------------------------------------------

  /** A5 as a first-class custom aggregate: typed
    * `Aggregator[Double, (sum, count), Double]` (graft.functions
    * .AvgAggregator) applied per group — the reference's manual RDD
    * (sum,count) average with Tungsten buffers and partial/final split. */
  def qAvgAggregator(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_quantity").as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.AvgAggregator.toColumn.name("avg_raw"))
      .toDF("l_returnflag", "avg_raw")
      .select($"l_returnflag", round($"avg_raw", 4).as("avg_qty"))
      .orderBy($"l_returnflag".asc)
  }

  /** The distributed alternative to q3's driver round-trip: top-3
    * customers via `limit(3)` kept as a plan node + `left_semi` join,
    * never collecting keys to the driver. Same result as `q3JoinChain`
    * (same oracle); at 100 TB this is the correct shape — the literal
    * `head(3)` port exists for reference parity, this one for scale. */
  def q3TopKDistributed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (li, ord, cust, dim) = q3Parts(spark, sfDir)
    val top3 = cust.select($"c_custkey", $"c_acctbal").distinct()
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
      .limit(3)
      .select($"c_custkey")
    q3Finish(
      li.withColumnRenamed("l_orderkey", "o_orderkey")
        .join(ord, Seq("o_orderkey"))
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(cust, Seq("c_custkey"))
        .join(broadcast(top3), Seq("c_custkey"), "left_semi"),
      dim)
  }

  /** Window-function suite beyond the reference's lone row_number: per
    * customer order sequence with lag-delta, running sum (explicit rows
    * frame), dense_rank, and ntile quartile — all four share one
    * partition-by-customer sort, so Catalyst plans a single exchange +
    * sort for the whole set. */
  def qWindowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byCust = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val byCustPrice = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.read(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
      .withColumn("seq", row_number().over(byCust))
      .withColumn("prev_price", lag($"o_totalprice", 1).over(byCust))
      .withColumn("price_delta",
        round($"o_totalprice" - coalesce($"prev_price", lit(0.0)), 4))
      .withColumn("running_total", round(sum($"o_totalprice").over(
        byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
      .withColumn("price_rank", dense_rank().over(byCustPrice).cast("long"))
      .withColumn("quartile", ntile(4).over(byCustPrice).cast("long"))
      .select($"o_orderkey", $"o_custkey", $"seq".cast("long").as("seq"),
        $"price_delta", $"running_total", $"price_rank", $"quartile")
      .orderBy($"o_custkey".asc, $"seq".asc)
  }

  /** Date arithmetic (absent from the reference, which kept dates as
    * strings): shipping latency in days between order date and each
    * line's ship date, aggregated per priority. */
  def qOrderLatency(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey".as("o_orderkey"), $"l_shipdate")
    li.join(ord, Seq("o_orderkey"))
      .withColumn("lat_days",
        datediff($"l_shipdate".cast("date"), $"o_orderdate".cast("date"))
          .cast("long"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        round(avg($"lat_days"), 4).as("avg_latency_days"),
        max($"lat_days").as("max_latency_days"))
      .orderBy($"o_orderpriority".asc)
  }

  /** Cube aggregation — all 2^n grouping sets of (returnflag, linestatus)
    * in one pass (rollup's sibling; same partial-aggregation property). */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum($"l_quantity"), 4).as("qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid".asc, $"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first)
  }

  /** Hierarchical aggregate reuse — the materialized-view / aggregate-
    * navigator pattern: the MONTHLY rollup is computed FROM the DAILY
    * pre-aggregate, never from the fact table. (count, sum) partials
    * re-aggregate associatively, so the answer is EXACT — which the
    * oracle proves by computing the monthly numbers directly from
    * lineitem. At 100 TB the daily aggregate IS the stored MV
    * (~days×flags rows); every coarser time-grain query reads it
    * instead of rescanning the corpus — the fact table pays exactly
    * one aggregation shuffle at the finest grain, and each rollup
    * level re-shuffles only the previous level's tiny output.
    * (`ev_incremental_agg` proves the state+delta TIME split of the
    * same partial-aggregate algebra; this is the GRAIN hierarchy.)
    * Sums stay exact: l_quantity is integral, far inside the 2^53
    * double-exact range at any SF (the decimal-sum rule applies to
    * fractional doubles; see qSkewJoin). */
  /** Hilbert-curve data layout — the stronger sibling of
    * [[qZorderLayout]]: same (custkey, order-day) 8-bit grid, but cells
    * ordered by the 2-D HILBERT index (`graft.functions.HilbertIndex`,
    * a codegen'd expression) instead of Morton bit-interleave. Every
    * Hilbert step moves to an ADJACENT cell where the Z-curve takes
    * diagonal jumps at quadrant boundaries, so consecutive index ranges
    * cover tighter rectangles and the per-bucket zone maps (min/max of
    * both dims — the stats a scan pruner consults) are narrower: the
    * spec MEASURES it, asserting the Hilbert layout's total zone-map
    * area ≤ the Z-order layout's on the same grid (2.2× tighter at
    * sf0.01). The bucket width is 24 cells — deliberately NOT a power
    * of 4: aligned power-of-4 ranges are perfect squares on BOTH
    * curves (both layouts then produce identical zones and the
    * comparison is vacuous); real scan ranges are arbitrary, and
    * that is exactly where Morton's quadrant-boundary jumps widen the
    * zones while Hilbert's unit steps do not. Output shape is
    * column-for-column parallel to `q_zorder_layout` (which keeps its
    * aligned 16-cell buckets) so the two artifacts compare directly.
    *
    * Scale: identical to zorder — one pass to grid + index (all
    * codegen'd integer math), one map-side-combining aggregate to ≤ 4096
    * bucket rows. At 100 TB this is the `ORDER BY hilbert` clustering
    * write that makes both dimensions' predicates prune. */
  def qHilbertLayout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, sfDir, "orders")
      .select($"o_custkey".cast("long").as("ck"),
        datediff($"o_orderdate".cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
    val stats = ord.agg(min($"ck").as("ck_min"), max($"ck").as("ck_max"),
      min($"day").as("day_min"), max($"day").as("day_max"))
    ord.crossJoin(broadcast(stats))
      .withColumn("x8",
        expr("((ck - ck_min) * 256) div (ck_max - ck_min + 1)"))
      .withColumn("y8",
        expr("((day - day_min) * 256) div (day_max - day_min + 1)"))
      .withColumn("hbucket", expr("hilbert_xy2d(x8, y8) div 24"))
      .groupBy($"hbucket")
      .agg(count(lit(1)).as("cnt"),
        min($"ck").as("ck_lo"), max($"ck").as("ck_hi"),
        min($"day").as("day_lo"), max($"day").as("day_hi"))
      .orderBy($"hbucket".asc)
  }

  /** The 2-D range rectangle [[qHilbertWrite]] scans, in grid units
    * (0..255): (x_lo, x_hi, y_lo, y_hi). Deliberately UNALIGNED to any
    * power-of-4 quadrant — aligned ranges are perfect squares on every
    * space-filling curve, which would make the pruning trivially tight;
    * arbitrary rectangles are what real predicates look like. Shared
    * with the DuckDB oracle. */
  val HilbertRect: (Long, Long, Long, Long) = (40L, 150L, 90L, 200L)

  /** The SECOND delete rectangle (`q_delete_mor_stacked` /
    * `q_dv_compaction`) — deliberately OVERLAPPING [[HilbertRect]]
    * (x 100..150, y 150..200 is shared): the overlap's rows are already
    * dead under the first deletion vector, so the second DV build must
    * tombstone only the still-alive remainder — the composition bug
    * class (double-tombstoning, or re-deleting through a stale
    * snapshot) that stacked-DV reads exist to get right. Shared with
    * the DuckDB oracle. */
  val HilbertRect2: (Long, Long, Long, Long) = (100L, 180L, 150L, 230L)

  /** The INDEPENDENT-WRITER rectangle (`q_commit_conflict`'s third
    * branch) — a far-corner box whose v3 zone-candidate bins are
    * DISJOINT from [[HilbertRect]]'s (Hilbert bins are spatially local,
    * and the corner sits two quadrants away from rect1's span), so the
    * branch deleting it is the writer optimistic concurrency must let
    * LAND after b_cc1, not refuse. Shared with the DuckDB oracle, which
    * re-derives the disjointness from the bin zone maps rather than
    * trusting it. */
  val ConflictRect3: (Long, Long, Long, Long) = (0L, 30L, 0L, 30L)

  /** The MERGE batch geometry (`Etl.cowMergeStripe`, `q_merge_rewrite`),
    * shared with the DuckDB oracle: UPDATEs hit the x8 stripe
    * [[MergeStripe]] (full-height — a predicate aligned with the
    * clustering column, so the update read is zone-map-pruned) and shift
    * the order day by [[MergeDayShift]] wrapped into the day span;
    * INSERTs re-key every order whose `mix64(o_orderkey) mod
    * MergeInsertMod = 0` by `Etl.mergeKeyOffset` (derived above the
    * table's max key — a fixed constant would collide at some SF). */
  val MergeStripe: (Long, Long) = (200L, 207L)
  val MergeDayShift = 450L
  val MergeInsertMod = 211L

  /** Mod-P sum-of-squares checksum over a key column — the shared gate
    * arithmetic (the curveWriteScan idiom, decimal-sum overflow-proof)
    * used by every census/DML row; ONE definition so the protocol can
    * never drift between operators or away from the oracles. */
  private def keyChecksum(c: Column): Column = {
    val P = TextAnalysis.ChecksumP
    pmod(sum((pmod(c, lit(P)) * pmod(c, lit(P)) % P).cast("decimal(38,0)")),
      lit(P).cast("decimal(38,0)")).cast("long")
  }

  /** Hilbert layout MADE LOAD-BEARING — the write-path twin of
    * [[qHilbertLayout]]: orders are physically written partitioned by
    * `hbucket = hilbert_xy2d(x8, y8) div 24` (`Etl.hilbertOrdersFixture`
    * — built once, Bench's `etl` phase), and a 2-D range query then runs
    * the real zone-map protocol: (1) consult the per-bucket zone maps
    * (min/max of both grid dims — WRITE-TIME metadata persisted beside
    * the data by the fixture build, ≤ 2731 rows; the consult never
    * rescans the corpus), (2) collect the overlapping bucket ids to the
    * driver (the
    * q3_joinchain O4 round-trip: ≤ 2731 longs at ANY corpus size), (3)
    * re-scan ONLY those partitions (`hbucket.isin` → plan-time
    * PartitionFilters, PlanSpec-guarded) with the exact rectangle
    * predicate pushed to the parquet footers. Zone-map soundness makes
    * the prune EXACT — every matching row lives in an overlapping bucket
    * — so the oracle computes the same answer with no pruning at all,
    * and `n_buckets_scanned` (itself part of the hash-gated output)
    * records how much of the table the layout let the scan skip.
    *
    * Scale: at 100 TB the zone-map table is still ≤ 2731 rows (grid-
    * bounded, not corpus-bounded) and step 3 reads only the qualifying
    * partitions — the entire point of clustering on a space-filling
    * curve. The checksum folds (k mod P)² mod P through a DECIMAL sum,
    * overflow-proof at any row count. */
  def qHilbertWrite(spark: SparkSession, sfDir: String): DataFrame =
    curveWriteScan(spark,
      graft.sources.Etl.hilbertOrdersFixture(spark, sfDir))

  /** Morton-curve twin of [[qHilbertWrite]] — same width-24 buckets,
    * same rectangle, same zone-map protocol, on the PHYSICALLY WRITTEN
    * Z-order table (`Etl.zorderOrdersFixture`). `n_rows`/`key_checksum`
    * must equal the Hilbert run's (both prunes are exact — same
    * answer); `n_buckets_scanned` is the measurement: how many written
    * partitions each curve's zone maps let the same scan SKIP. The
    * existing layout spec measures zone AREA on virtual buckets; this
    * measures partitions actually pruned on disk — EtlSpec asserts
    * hilbert_scanned < morton_scanned, non-vacuously (the width-24
    * buckets are deliberately not power-of-4-aligned, where the curves
    * would coincide). */
  def qZorderWrite(spark: SparkSession, sfDir: String): DataFrame =
    curveWriteScan(spark,
      graft.sources.Etl.zorderOrdersFixture(spark, sfDir))

  private def curveWriteScan(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val t = spark.read.parquet(
      s"$path/${graft.sources.Etl.HilbertTableDir}")
    // the zone-map table is WRITE-TIME metadata beside the data (≤ 2731
    // rows at any corpus size) — the consult never touches the corpus
    val zones = spark.read
      .parquet(s"$path/${graft.sources.Etl.HilbertZonesDir}")
      .select($"hbucket", graft.sources.Etl.zoneOverlap(HilbertRect).as("hit"))
      .as[(Long, Boolean)].collect()
    val cands = zones.filter(_._2).map(_._1).sorted
    t.filter($"hbucket".isin(cands: _*) &&
        graft.sources.Etl.inRect(HilbertRect))
      .agg(
        lit(zones.length.toLong).as("n_buckets_total"),
        lit(cands.length.toLong).as("n_buckets_scanned"),
        count(lit(1)).as("n_rows"),
        keyChecksum($"o_orderkey").as("key_checksum"))
  }

  /** RUNTIME-FILTER join pushdown — the second stats/optimizer surface
    * (after [[qCboReorder]]) a 100 TB warehouse leans on: with
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`, Catalyst builds
    * a Bloom filter from the SELECTIVE side of a shuffle join
    * (σ(priority)·orders → bloom over o_orderkey) at runtime and
    * injects `might_contain` into the FACT side's scan filter — rows
    * that cannot join die before the exchange, shrinking the shuffle by
    * the filter's selectivity (~20% survives here). Spark only injects
    * on SHUFFLE joins (a broadcast join already prunes through its hash
    * table), so the child session also pins autoBroadcastJoinThreshold
    * = -1 — which is the realistic 100 TB shape anyway: neither side of
    * a fact⋈fact join broadcasts.
    *
    * Conf scoping: the PERF.md CBO lesson applied — all three confs
    * live on a [[GraftSession.child]] (lazy execution would undo a
    * set-then-restore; session-wide they would flip every other
    * query's join strategy). The two thresholds exist because the
    * DEFAULTS (10 MB creation / 10 GB application-side scan) correctly
    * veto injection on a fixture-scale corpus — at 100 TB the defaults
    * inject on their own; here they are lowered INSIDE THE CHILD so the
    * declared query exercises the real mechanism end-to-end. PlanSpec
    * asserts the injected filter reaches the fact side, the join stays
    * a shuffle join, the answer is invariant, and the parent session's
    * confs are untouched. */
  def qRuntimeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val bloom = "spark.sql.optimizer.runtime.bloomFilter"
    runtimeFilterQuery(GraftSession.child(spark,
      s"$bloom.enabled" -> "true",
      s"$bloom.applicationSideScanSizeThreshold" -> "0",
      s"$bloom.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"), sfDir)
  }

  /** The join [[qRuntimeFilter]] runs — exposed so PlanSpec can compare
    * the same plan with the runtime filter off (answer invariance, like
    * the CBO flip guard). */
  private[graft] def runtimeFilterQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_shipdate", $"l_extendedprice")
    val ord = Tables.read(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderpriority")
      .filter($"o_orderpriority" === "1-URGENT")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        expr("CAST(round(sum(CAST(l_extendedprice AS decimal(20,6))), 4)" +
          " AS double)").as("revenue"))
      .orderBy($"ship_month".asc)
  }

  /** Recursive part-file census of a written table directory — driver
    * metadata listing (the compaction op's before/after evidence), never
    * a data read. The filesystem is resolved from the path's own scheme
    * via the session's Hadoop conf, so the census works unchanged
    * against hdfs://|s3a:// warehouse URIs — a bare `java.io.File` walk
    * would silently report 0 there and fail the hash gate confusingly.
    * A missing directory is an explicit error, not a 0.
    *
    * Local paths deliberately take a plain JVM walk instead of
    * `fs.listFiles`: `RawLocalFileSystem` materializes each entry's
    * permissions by EXEC'ING a process per file (~6 ms each — measured
    * 17 s over the 2731-partition Hilbert table, ~1000× the JVM walk
    * that counts the identical files). PipelineOpsSpec pins the two
    * branches count-identical on a real fixture. */
  private[graft] def countPartFiles(spark: SparkSession,
      dir: String): Long = listPartFiles(spark, dir).length.toLong

  /** The census's underlying listing: table-RELATIVE paths of every
    * part file under `dir` (≤ ~2731 entries — the manifest a table
    * format holds in metadata), shared by the count gates and the
    * [[qVacuum]] cross-version file diff. */
  private[graft] def listPartFiles(spark: SparkSession,
      dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.getFileStatus(path).isDirectory,
      s"part-file census target is not a directory: $dir")
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
          _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val root = new java.io.File(path.toUri.getPath)
        def walk(f: java.io.File): Seq[String] = {
          val kids = Option(f.listFiles())
            .getOrElse(Array.empty[java.io.File]).toSeq
          kids.filter(k => k.isFile && k.getName.startsWith("part-"))
            .map(_.getAbsolutePath.stripPrefix(root.getAbsolutePath)) ++
            kids.filter(_.isDirectory).flatMap(walk)
        }
        walk(root)
      case _ =>
        hadoopPartFiles(fs, path)
    }
  }

  /** The remote-FS branch of [[listPartFiles]], exposed so the spec can
    * pin it listing-identical to the JVM walk on a local fixture. */
  private[graft] def hadoopPartFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[String] = {
    val rootUri = path.toUri.getPath
    val it = fs.listFiles(path, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.startsWith("part-"))
        out += st.getPath.toUri.getPath.stripPrefix(rootUri)
    }
    out.toSeq
  }

  /** Small-file COMPACTION made load-bearing — the OPTIMIZE pass a real
    * warehouse runs after a fine-grained clustered write: the Hilbert
    * fixture's ~2731 per-bucket files are bin-packed into ~256
    * target-size files of CONTIGUOUS bucket ranges
    * (`Etl.compactHilbertFixture`), and this query proves the pass
    * changed LAYOUT ONLY:
    *  - `n_files_before` / `n_files_after` are ON-DISK part-file counts
    *    (driver metadata listing), hash-gated against the oracle's
    *    derived bucket/bin counts — the gate fails if the writer ever
    *    splits a bin across files (or a bucket across tasks);
    *  - `n_rows` / `key_checksum` over the full compacted table must
    *    equal the source table's (row + checksum invariance);
    *  - the `q_hilbert_write` rectangle re-runs through the COMPACTED
    *    per-bin zone maps (`n_bins_scanned` records the coarser prune —
    *    the compaction trade), and `n_rect_rows`/`rect_checksum` must
    *    equal the uncompacted scan's answer.
    * Scale: compaction cost is one shuffle of the table into ~256
    * writer tasks; the bin table is grid-bounded (≤ 2731 rows) so its
    * prefix sum is the triangular broadcast pattern, never a
    * corpus-sized sort. */
  def qCompactScan(spark: SparkSession, sfDir: String): DataFrame =
    curveCompactScan(spark,
      graft.sources.Etl.hilbertOrdersFixture(spark, sfDir),
      graft.sources.Etl.compactHilbertFixture(spark, sfDir))

  /** Z-order twin of [[qCompactScan]] — the same compaction gate (on-disk
    * file counts vs the oracle's derived bin layout, row/checksum
    * invariance, rectangle re-run through the coarser per-bin zone maps)
    * on the Morton table: the bin-pack pass is curve-agnostic, and this
    * row proves it against the second physically-written curve layout. */
  def qCompactScanZ(spark: SparkSession, sfDir: String): DataFrame =
    curveCompactScan(spark,
      graft.sources.Etl.zorderOrdersFixture(spark, sfDir),
      graft.sources.Etl.compactZorderFixture(spark, sfDir))

  private def curveCompactScan(spark: SparkSession, basePath: String,
      compPath: String): DataFrame = {
    import spark.implicits._
    val dir = graft.sources.Etl.HilbertTableDir
    val nBefore = countPartFiles(spark, s"$basePath/$dir")
    val nAfter = countPartFiles(spark, s"$compPath/$dir")
    val t = spark.read.parquet(s"$compPath/$dir")
    val zones = spark.read
      .parquet(s"$compPath/${graft.sources.Etl.HilbertZonesDir}")
      .select($"cbin", graft.sources.Etl.zoneOverlap(HilbertRect).as("hit"))
      .as[(Long, Boolean)].collect()
    val cands = zones.filter(_._2).map(_._1).sorted
    val full = t.agg(count(lit(1)).as("n_rows"),
      keyChecksum($"o_orderkey").as("key_checksum"))
    val rect = t.filter($"cbin".isin(cands: _*) &&
        graft.sources.Etl.inRect(HilbertRect))
      .agg(count(lit(1)).as("n_rect_rows"),
        keyChecksum($"o_orderkey").as("rect_checksum"))
    full.crossJoin(rect)
      .select(lit(nBefore).as("n_files_before"),
        lit(nAfter).as("n_files_after"),
        lit(cands.length.toLong).as("n_bins_scanned"),
        $"n_rows", $"key_checksum", $"n_rect_rows", $"rect_checksum")
  }

  /** COPY-ON-WRITE DELETE made load-bearing — the DML pass every
    * lakehouse table runs, gated end-to-end (`Etl.deleteRewriteFixture`
    * builds the post-delete table; this query proves what the pass did
    * and did NOT touch):
    *  - `n_files_before`/`n_files_after` are ON-DISK part-file censuses,
    *    hash-gated against the oracle's derived layout: after = buckets
    *    − fully-deleted buckets, because untouched partitions carry over
    *    their single file and every touched surviving bucket rewrites to
    *    exactly one (the repartition-by-partition-key layout identity);
    *  - `n_buckets_touched` is the zone-map candidate count — the
    *    partitions the delete READ; everything else was never read,
    *    decoded, or rewritten (PlanSpec guards the PartitionFilters,
    *    PipelineOpsSpec proves untouched files carry over byte-named
    *    intact and dead dirs vanish);
    *  - row counts + the survivor checksum prove the delete removed
    *    EXACTLY the predicate rows;
    *  - `n_rect_rows_after` re-runs the rectangle scan through the
    *    REFRESHED zone maps — a correct delete leaves zero.
    * Scale: the rewrite touches |candidate buckets| partitions; the
    * fully-dead census and zone refresh run over the checkpointed
    * survivor set; the untouched majority of a 100 TB table costs a
    * manifest re-point. */
  def qDeleteRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val srcPath = graft.sources.Etl.hilbertOrdersFixture(spark, sfDir)
    val cowPath = graft.sources.Etl.deleteRewriteFixture(spark, sfDir)
    val dir = graft.sources.Etl.HilbertTableDir
    val nBefore = countPartFiles(spark, s"$srcPath/$dir")
    val nAfter = countPartFiles(spark, s"$cowPath/$dir")
    val nTouched = spark.read
      .parquet(s"$srcPath/${graft.sources.Etl.HilbertZonesDir}")
      .filter(graft.sources.Etl.zoneOverlap(HilbertRect))
      .count()
    // pre-delete row count from the COMPACT source parquet (one file) —
    // the clustered table is a 1:1 re-layout of orders, and a 2731-file
    // scan for one count would cost more than the rest of the query
    val before = Tables.read(spark, sfDir, "orders")
      .agg(count(lit(1)).as("n_rows_before"))
    // the REFRESHED zone maps drive the rectangle re-scan (the
    // curveWriteScan protocol) — must come back empty; folded into the
    // same single pass as the survivor aggregate
    val candsAfter = spark.read
      .parquet(s"$cowPath/${graft.sources.Etl.HilbertZonesDir}")
      .filter(graft.sources.Etl.zoneOverlap(HilbertRect))
      .select($"hbucket").as[Long].collect().sorted
    val after = spark.read.parquet(s"$cowPath/$dir")
      .withColumn("hbucket", $"hbucket".cast("long"))
      .agg(count(lit(1)).as("n_rows_after"),
        keyChecksum($"o_orderkey").as("survivor_checksum"),
        sum(when($"hbucket".isin(candsAfter: _*) &&
            graft.sources.Etl.inRect(HilbertRect),
          1L).otherwise(0L)).as("n_rect_rows_after"))
    before.crossJoin(after)
      .select(lit(nBefore).as("n_files_before"),
        lit(nTouched).as("n_buckets_touched"),
        lit(nAfter).as("n_files_after"),
        $"n_rows_before",
        ($"n_rows_before" - $"n_rows_after").as("n_rows_deleted"),
        $"n_rows_after", $"survivor_checksum", $"n_rect_rows_after")
  }

  /** COPY-ON-WRITE MERGE (upsert) made load-bearing — the DML half
    * `q_delete_rewrite` doesn't cover (`Etl.mergeRewriteFixture` builds
    * the post-merge table; this query proves what the pass did):
    *  - UPDATEs relocate rows on the curve (a date shift changes y8 →
    *    hidx → hbucket), so the rewrite touches BOTH the stripe's
    *    zone-map candidate partitions (rows leave) and the destination
    *    partitions (rows arrive — their existing rows rewrite with the
    *    incoming ones, the part of clustered MERGE that's harder than
    *    DELETE);
    *  - INSERTs place new keys with the table's frozen layout stats;
    *  - `n_files_before`/`n_files_after` are ON-DISK part-file censuses
    *    hash-gated against the oracle's derived post-merge bucket set
    *    (one file per surviving bucket — the repartition-by-key layout
    *    identity);
    *  - `n_buckets_touched`/`n_updated`/`n_inserted` read the COMMIT
    *    MANIFEST the pass wrote, gated against the oracle's independent
    *    replay — the metadata a table format records with each commit;
    *  - `key_checksum` proves the key set changed by exactly the
    *    inserts; `pos_checksum` binds (key, hidx) VALUE pairs, so every
    *    relocated row must sit at exactly its recomputed curve position.
    * Scale: the pass reads |stripe candidates| + |destination buckets|
    * partitions; everything else is a manifest re-point. */
  def qMergeRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val P = TextAnalysis.ChecksumP
    val srcPath = graft.sources.Etl.hilbertOrdersFixture(spark, sfDir)
    val mrgPath = graft.sources.Etl.mergeRewriteFixture(spark, sfDir)
    val dir = graft.sources.Etl.HilbertTableDir
    val nBefore = countPartFiles(spark, s"$srcPath/$dir")
    val nAfter = countPartFiles(spark, s"$mrgPath/$dir")
    val manifest = spark.read
      .parquet(s"$mrgPath/${graft.sources.Etl.MergeManifestDir}")
      .select($"n_buckets_touched", $"n_updated", $"n_inserted").head()
    // posTerm is already reduced mod P, so keyChecksum's inner pmod is
    // a no-op and the squared fold applies to the pair term directly
    val posTerm = (pmod($"o_orderkey", lit(P)) * 31 +
      pmod($"hidx", lit(P))) % P
    val before = Tables.read(spark, sfDir, "orders")
      .agg(count(lit(1)).as("n_rows_before"))
    val after = spark.read.parquet(s"$mrgPath/$dir")
      .agg(count(lit(1)).as("n_rows_after"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        keyChecksum(posTerm).as("pos_checksum"))
    before.crossJoin(after)
      .select(lit(nBefore).as("n_files_before"),
        lit(nAfter).as("n_files_after"),
        lit(manifest.getLong(0)).as("n_buckets_touched"),
        $"n_rows_before",
        lit(manifest.getLong(1)).as("n_updated"),
        lit(manifest.getLong(2)).as("n_inserted"),
        $"n_rows_after", $"key_checksum", $"pos_checksum")
  }

  /** SCHEMA EVOLUTION read — the mid-life column add every long-lived
    * table accumulates (`Etl.schemaEvolutionFixture`: generation 1 files
    * lack `o_bucket`, generation 2 files carry it, one directory): the
    * reader merges the two physical schemas (`mergeSchema` — the
    * explicit-pass stand-in for a table format's tracked schema), old
    * rows surface NULL for the new column with NO rewrite of history,
    * and column pruning still reaches the scan (PlanSpec: ReadSchema
    * carries exactly the projected columns — the never-projected `ck`
    * is not read even though both generations store it). The oracle
    * derives both generations from `orders`, so the hash gate proves
    * the merged read loses and invents nothing: total rows, the
    * evolved-row count (non-NULL new column), the new column's sum,
    * and the key checksum across BOTH generations.
    * Scale: schema merge is a FOOTER operation (one per file, driver
    * metadata at plan time); the data read is unchanged — a 100 TB
    * table evolves its schema without touching a byte of history. */
  def qSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = graft.sources.Etl.schemaEvolutionFixture(spark, sfDir)
    spark.read.option("mergeSchema", "true").parquet(path)
      .select($"o_orderkey", $"o_bucket")
      .agg(count(lit(1)).as("n_rows"),
        count($"o_bucket").as("n_evolved"),
        coalesce(sum($"o_bucket"), lit(0L)).as("bucket_sum"),
        keyChecksum($"o_orderkey").as("key_checksum"))
  }

  /** TYPE-WIDENING read (`Etl.typeWideningFixture`: o_qty is INT in
    * generations 1-2, BIGINT with beyond-Int values in generation 3) —
    * the migration `mergeSchema` cannot serve (no numeric promotion in
    * its schema merge; EtlSpec pins the int-vs-bigint hard failure).
    * The read applies the table's TRACKED widened schema explicitly and
    * the parquet scan upcasts old INT32 pages to bigint — cast-on-read,
    * zero history rewrite, exactly a table format's `ALTER COLUMN ...
    * TYPE BIGINT`. The oracle derives all three generations from
    * `orders`, so the hash gate proves the widened read loses and
    * invents nothing: total rows, the wide-generation count (values
    * beyond Int range — the proof the widening is load-bearing), the
    * exact sum across the type boundary, and the key checksum.
    * Scale: like the add-column read, this is a FOOTER/plan-time
    * concern; the data path upcasts inside the scan — a 100 TB table
    * widens a column without touching a byte of history. */
  def qSchemaWidening(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = graft.sources.Etl.typeWideningFixture(spark, sfDir)
    val tracked = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ck",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_qty",
        org.apache.spark.sql.types.LongType)))
    spark.read.schema(tracked).parquet(path)
      .select($"o_orderkey", $"o_qty")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"o_qty" > Int.MaxValue.toLong, 1L).otherwise(0L))
          .as("n_wide"),
        sum($"o_qty").as("qty_sum"),
        keyChecksum($"o_orderkey").as("key_checksum"))
  }

  /** WRITE-AUDIT-PUBLISH gate (`Etl.chainFixture`'s `b_audit` branch) —
    * the staging workflow every production table change should go
    * through: the CDC batch was appended on a BRANCH (commit c4 over
    * v3's files; main's `_current` still points at v3), and THIS query
    * is the audit that decides publication. The batch carries a planted
    * defect — a deterministic subset kept its ORIGINAL key (the
    * "forgot to re-key" upsert bug) — so the duplicate-primary-key
    * audit must find exactly those collisions and REFUSE (publish_ok =
    * 0). Publication itself is an atomic `_current` pointer swap and a
    * refused branch vacuums away without touching main (ChainSpec
    * executes both on a copy). The oracle replays the batch draw and
    * the defect's survivor intersection from the chain arithmetic, so
    * the gate proves the audit counts exactly the true collisions —
    * against live keys only (a defect row whose original died in the
    * DELETE is NOT a duplicate, and flagging it would block a clean
    * publish).
    * Scale: the audit is INCREMENTAL — one tiny groupBy over the
    * CDC-sized staged delta plus a broadcast semi-join probed by the
    * one published read the audit row needs anyway; the base's
    * uniqueness was certified by the publish that created it, so
    * re-grouping the whole branch would re-prove a certified invariant
    * at a corpus-shuffle price. */
  def qWapAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sfDir)
    val cur = E.chainCurrent(root)
    // the INCREMENTAL audit (r16): a branch forked from the published
    // version only needs its STAGED DELTA checked — the base's key
    // uniqueness was certified by the publish that created it (the
    // standard incremental-constraint argument; re-grouping the whole
    // branch re-proves what is already certified and costs a full
    // extra history read plus a corpus-keyed shuffle). A branch key is
    // a duplicate iff it repeats WITHIN the delta or collides with a
    // LIVE key — computed as one tiny groupBy over the CDC-sized delta
    // plus one broadcast semi-join probed by the published read the
    // audit row needs anyway. Same output, hash-identical.
    val delta = E.chainReadDelta(spark, root, "b_audit", cur)
      .select($"o_orderkey").localCheckpoint(true)
    val deltaKeys = delta.groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_delta"))
    val published = E.chainReadNamed(spark, root, cur)
    val collisions = published.select($"o_orderkey")
      .join(broadcast(deltaKeys.select($"o_orderkey")),
        Seq("o_orderkey"), "left_semi")
    val dup = deltaKeys.filter($"n_delta" > 1L).select($"o_orderkey")
      .unionByName(collisions).distinct()
    val dupAgg = dup.agg(count(lit(1)).as("n_dup_keys"),
      coalesce(keyChecksum($"o_orderkey"), lit(0L)).as("dup_key_checksum"))
    val pubAgg = published.agg(count(lit(1)).as("n_published_rows"))
    val dAgg = delta.agg(count(lit(1)).as("n_appended_rows"))
    pubAgg.crossJoin(dAgg).crossJoin(dupAgg)
      .select($"n_published_rows",
        ($"n_published_rows" + $"n_appended_rows").as("n_branch_rows"),
        $"n_appended_rows".as("n_appended"),
        $"n_dup_keys", $"dup_key_checksum",
        when($"n_dup_keys" > 0L, 0L).otherwise(1L).as("publish_ok"))
  }

  /** WRITE-AUDIT-PUBLISH happy path (`Etl.wapPublishFixture`) — the
    * lifecycle `q_wap_audit`'s refusal never completes, on an isolated
    * root (hardlinked chain data) so the pointer swap cannot disturb
    * the shared fixture: branch `b_clean` stages the SAME CDC draw with
    * the re-key bug FIXED (every key offset by 2·keyOff), THIS query
    * audits it (duplicate-primary-key check over the branch — the same
    * one-aggregate cost as the refusing twin), finds zero collisions,
    * EXECUTES the atomic `_current` swap (write-temp + rename — a
    * concurrent reader sees old or new, never torn), and then reads
    * back THROUGH the published pointer. The oracle derives the
    * post-publish row count and key checksum from the chain arithmetic
    * (v3's rows ∪ the re-keyed batch), so the gate proves the published
    * read serves exactly what the branch staged — publish_ok = 1 is
    * hash-load-bearing, and so is the pointer the final read resolves.
    * Scale: audit = a tiny groupBy over the staged delta + a broadcast
    * semi-join against the published version (incremental — the base's
    * uniqueness is certified by its own publish); publish = one rename;
    * the verification read costs what any current-version read costs. */
  def qWapPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val P = TextAnalysis.ChecksumP
    val root = E.wapPublishFixture(spark, sfDir)
    // the INCREMENTAL audit (see qWapAudit): within-delta duplicates
    // from a tiny groupBy over the staged commit, live collisions
    // marked inside the ONE published read below — the decision is
    // bounded driver metadata, never rows. The same CDC-sized pass
    // VERIFIES the commit's stamped aggregates (count + checksum
    // written at stage time), so the post-publish row can be served
    // from the manifest instead of a second branch-sized read.
    val delta = E.chainReadDelta(spark, root, "b_clean", "v3")
      .select($"o_orderkey").localCheckpoint(true)
    val deltaKeys = delta.groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_delta")).localCheckpoint(true)
    val dAudit = deltaKeys.agg(
      coalesce(sum(when($"n_delta" > 1L, 1L).otherwise(0L)), lit(0L))
        .as("n_dup_within"),
      coalesce(sum($"n_delta"), lit(0L)).as("n_appended"),
      // the delta ROWS' checksum from the key table: each key's squared
      // term weighted by its multiplicity — identical to aggregating the
      // raw delta rows, without a second pass over them
      coalesce(pmod(sum(((pmod($"o_orderkey", lit(P))
            * pmod($"o_orderkey", lit(P)) % P) * $"n_delta")
          .cast("decimal(38,0)")), lit(P).cast("decimal(38,0)"))
        .cast("long"), lit(0L)).as("delta_ck")).head()
    val nDupWithin = dAudit.getLong(0)
    val nAppended = dAudit.getLong(1)
    val deltaCk = dAudit.getLong(2)
    // stamp verification: the audit's own delta read must reproduce the
    // stage-time aggregates the manifest carries — a drifted or torn
    // commit refuses here, never publishes
    val (stampN, stampCk) = E.chainBranchStats(root, "b_clean")
    val stampOk = stampN == nAppended && stampCk == deltaCk
    // ONE published read: collision marks AND the live aggregates in
    // the same pass (v3 keys are unique — certified by its own publish
    // — so sum(hit) counts distinct colliding keys)
    val marked = E.chainReadNamed(spark, root, "v3")
      .select($"o_orderkey")
      .join(broadcast(deltaKeys.withColumn("hit", lit(1L))),
        Seq("o_orderkey"), "left_outer")
      .agg(count(lit(1)).as("n_live"),
        keyChecksum($"o_orderkey").as("live_ck"),
        coalesce(sum($"hit"), lit(0L)).as("n_coll"),
        coalesce(sum(when($"hit".isNotNull && $"n_delta" > 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_both")).head()
    val (nLive, liveCk) = (marked.getLong(0), marked.getLong(1))
    // the duplicate KEY SET is the distinct union (within-delta dups ∪
    // live collisions) — inclusion-exclusion, same semantics as
    // qWapAudit's distinct() union
    val nDup = nDupWithin + marked.getLong(2) - marked.getLong(3)
    val publishOk = nDup == 0L && stampOk
    if (publishOk) E.chainPublish(root, "b_clean")
    // the post-publish row resolves the POINTER and serves the
    // composition of what it NAMES: the published manifest's files must
    // exist (the loud-failure contract), and the aggregates compose
    // from the live pass + the VERIFIED stamp — checksums are
    // commutative mod-P sums, so live ⊎ delta is exact. If the swap
    // didn't happen (or landed torn), the pointer still names v3 and
    // the composed row falls back to the live numbers — failing the
    // hash gate.
    val ref = E.chainCurrent(root)
    E.chainManifestNamed(root, ref).foreach { r =>
      if (!new java.io.File(s"$root/${E.ChainDataDir}/$r").exists())
        throw new java.io.FileNotFoundException(
          s"published ref $ref references missing file $r")
    }
    val (pubN, pubCk) =
      if (ref == "b_clean") (nLive + stampN, (liveCk + stampCk) % P)
      else (nLive, liveCk)
    Seq((nLive, nAppended, nDup, if (publishOk) 1L else 0L, pubN, pubCk))
      .toDF("n_live_rows", "n_appended", "n_dup_keys", "publish_ok",
        "n_published_rows", "published_checksum")
  }

  /** MERGE-ON-READ DELETE (`Etl.morDvFixture`) — the same rectangle
    * delete as `q_delete_rewrite`, executed as DELETION VECTORS: the
    * commit wrote ONLY a (file, row-position) sidecar (zero data files
    * rewritten — `n_files_rewritten` is a hard 0 in the output), and
    * THIS read serves the survivors by anti-joining the broadcast
    * sidecar on (file, position) against the scan's own
    * `_metadata.row_index`. The write-amplification trade made
    * measurable next to its COW twin: delete-time cost collapses from
    * |touched partitions| rewritten to |deleted rows| tombstone
    * entries; read-time cost gains the anti-join until compaction
    * materializes the DV (the COW fixture IS that endpoint — ChainSpec
    * proves both strategies serve the identical survivor set).
    * The oracle derives every number from the same delete arithmetic
    * (`q_delete_rewrite`'s CTEs): sidecar file/entry counts, survivor
    * count + key checksum, zero rectangle rows through the MOR read.
    * Scale: the DV build reads only zone-candidate partitions
    * (plan-guarded); serving broadcasts the compliance-sized sidecar —
    * a corpus-sized delete would partition-align the DV instead, which
    * is when a warehouse schedules the compaction anyway. */
  def qDeleteMor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val src = E.hilbertOrdersFixture(spark, sfDir)
    val dvRoot = E.morDvFixture(spark, sfDir)
    val dv = spark.read.parquet(s"$dvRoot/dv")
    // the sidecar names files; the ingest wrote exactly ONE file per
    // hbucket (Etl.writeClustered), so the scan side joins on the
    // PARTITION column and the fp → hbucket decode runs on the
    // broadcast-side sidecar rows only (Etl.dvPositions)
    val dvPos = E.dvPositions(dv)
    val base = spark.read.parquet(s"$src/${E.HilbertTableDir}")
      .select($"o_orderkey", $"x8", $"y8",
        $"hbucket".cast("long").as("hbucket"),
        $"_metadata.row_index".as("ri"))
    val survivors = E.dropDeleted(base, dvPos)
    val served = survivors.agg(count(lit(1)).as("n_rows_after"),
      coalesce(keyChecksum($"o_orderkey"), lit(0L)).as("survivor_checksum"),
      sum(when(E.inRect(HilbertRect), 1L)
        .otherwise(0L)).as("n_rect_rows_after"))
    val sidecar = dv.agg(
      countDistinct($"fp").as("n_dv_files"),
      count(lit(1)).as("n_dv_entries"))
    // base census = the zone table's row count (one file per bucket is
    // the ingest's own metadata — MOR wrote nothing, so there is no
    // on-disk claim to re-census); n_rows_before = survivors + DV
    // entries (positions are unique per file — each tombstone kills
    // exactly one row), so the base table is scanned exactly ONCE
    val nFilesBase = spark.read
      .parquet(s"$src/${E.HilbertZonesDir}").count()
    sidecar.crossJoin(served)
      .select(lit(nFilesBase).as("n_files_base"),
        lit(0L).as("n_files_rewritten"),
        $"n_dv_files", $"n_dv_entries",
        ($"n_rows_after" + $"n_dv_entries").as("n_rows_before"),
        $"n_rows_after", $"survivor_checksum", $"n_rect_rows_after")
  }

  /** STACKED DELETION VECTORS (`Etl.morDvFixture` + `Etl.morDv2Fixture`)
    * — the daily reality `q_delete_mor` only starts: a SECOND rectangle
    * delete ([[HilbertRect2]], overlapping the first) committed its own
    * sidecar, and THIS read composes BOTH in one broadcast anti-join
    * against the scan's `_metadata.row_index`. The semantics the
    * composition must get right: dv2 was built against the state WITH
    * dv1 applied, so the overlap's rows appear in exactly one sidecar
    * (positions across stacked DVs are disjoint), and
    * `n_rows_before = survivors + |dv1| + |dv2|` stays exact — the
    * oracle derives every count from the two-rectangle arithmetic, so
    * double-tombstoning or missing the overlap fails the hash. Zero
    * rows of EITHER rectangle survive the stacked read; zero files
    * rewritten, still.
    * Scale: each additional DV adds one broadcast to the same single
    * scan — the read tax grows per-commit until compaction
    * (`q_dv_compaction`) pays it down; the sidecars stay
    * compliance-sized (|deleted rows| entries). */
  def qDeleteMorStacked(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val src = E.hilbertOrdersFixture(spark, sfDir)
    val dv1 = spark.read.parquet(s"${E.morDvFixture(spark, sfDir)}/dv")
    val dv2 = spark.read.parquet(s"${E.morDv2Fixture(spark, sfDir)}/dv")
    // (file, position) ≡ (hbucket, position) — see qDeleteMor
    val dvAll = E.dvPositions(dv1.unionByName(dv2))
    val base = spark.read.parquet(s"$src/${E.HilbertTableDir}")
      .select($"o_orderkey", $"x8", $"y8",
        $"hbucket".cast("long").as("hbucket"),
        $"_metadata.row_index".as("ri"))
    val survivors = E.dropDeleted(base, dvAll)
    val served = survivors.agg(count(lit(1)).as("n_rows_after"),
      coalesce(keyChecksum($"o_orderkey"), lit(0L)).as("survivor_checksum"),
      sum(when(E.inRect(HilbertRect), 1L)
        .otherwise(0L)).as("n_rect1_rows_after"),
      sum(when(E.inRect(HilbertRect2), 1L)
        .otherwise(0L)).as("n_rect2_rows_after"))
    val s1 = dv1.agg(count(lit(1)).as("n_dv1_entries"))
    val s2 = dv2.agg(count(lit(1)).as("n_dv2_entries"))
    s1.crossJoin(s2).crossJoin(served)
      .select(lit(0L).as("n_files_rewritten"),
        $"n_dv1_entries", $"n_dv2_entries",
        ($"n_rows_after" + $"n_dv1_entries" + $"n_dv2_entries")
          .as("n_rows_before"),
        $"n_rows_after", $"survivor_checksum",
        $"n_rect1_rows_after", $"n_rect2_rows_after")
  }

  /** DV COMPACTION read (`Etl.morDvCompactFixture`) — the commit that
    * retires the stacked sidecars by MATERIALIZING them into rewritten
    * files, converging the MOR table to the copy-on-write layout (the
    * shared `cowRewrite` tail — one file per surviving touched bucket,
    * fully-dead buckets dropped, zone maps refreshed). THIS read is the
    * payoff: a plain partitioned scan, NO anti-join anywhere in the
    * plan (PlanSpec pins it) — the per-read DV tax is gone. The output
    * gates the convergence claim: the on-disk file census must equal
    * the COW arithmetic (total buckets minus fully-dead under
    * rect1 ∪ rect2), and rows/checksum must equal the stacked-DV read's
    * survivors exactly (ChainSpec proves census-for-census equality
    * against a twice-applied COW delete).
    * Scale: compaction cost is O(touched buckets) — the sidecar names
    * them; the 100 TB schedule trades that one write against every
    * read's anti-join until the next delete. */
  def qDvCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.morDvCompactFixture(spark, sfDir)
    val nFiles = listPartFiles(spark, s"$root/${E.HilbertTableDir}").size
    spark.read.parquet(s"$root/${E.HilbertTableDir}")
      .select($"o_orderkey", $"x8", $"y8")
      .agg(count(lit(1)).as("n_rows_after"),
        coalesce(keyChecksum($"o_orderkey"), lit(0L)).as("survivor_checksum"),
        sum(when(E.inRect(HilbertRect), 1L)
          .otherwise(0L)).as("n_rect1_rows_after"),
        sum(when(E.inRect(HilbertRect2), 1L)
          .otherwise(0L)).as("n_rect2_rows_after"))
      .select(lit(nFiles.toLong).as("n_files_after"),
        $"n_rows_after", $"survivor_checksum",
        $"n_rect1_rows_after", $"n_rect2_rows_after")
  }

  /** MERGE-ON-READ MERGE read (`Etl.morMergeFixture`) — the same CDC
    * batch as `q_merge_rewrite`, committed as ONE sidecar + appended
    * files with ZERO base rewrite (`n_files_rewritten` is a hard 0),
    * completing the {DELETE, MERGE} × {COW, MOR} DML matrix. The read
    * composes the commit in one pass: base scan anti-joins the
    * broadcast DV on (file, `_metadata.row_index`) — retiring the
    * stripe rows' OLD versions — and unions the appended batch (movers'
    * new positions + CDC inserts). The gates are the COW twin's exact
    * numbers: total rows, key checksum, and the (key, hidx) position
    * checksum — so serving a stale pre-image, dropping an append, or
    * double-serving a mover fails the hash (ChainSpec additionally
    * proves MOR ≡ COW row-for-row and that the shared compaction tail
    * retires the commit into exactly the COW layout).
    * Scale: merge-time cost collapses from |touched partitions|
    * rewritten to |stripe rows| tombstones + |batch| appended rows; the
    * read tax is one broadcast anti-join until compaction pays it down
    * — the same trade the DELETE pair measures, now on the harder DML. */
  def qMergeMor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val P = TextAnalysis.ChecksumP
    val src = E.hilbertOrdersFixture(spark, sfDir)
    val root = E.morMergeFixture(spark, sfDir)
    val dv = spark.read.parquet(s"$root/dv")
    // (file, position) ≡ (hbucket, position) — see qDeleteMor
    val dvPos = E.dvPositions(dv)
    val base = spark.read.parquet(s"$src/${E.HilbertTableDir}")
      .select($"o_orderkey", $"hidx",
        $"hbucket".cast("long").as("hbucket"),
        $"_metadata.row_index".as("ri"))
    val survivors = E.dropDeleted(base, dvPos)
      .select($"o_orderkey", $"hidx", lit(0L).as("is_add"))
    val adds = spark.read.parquet(s"$root/adds")
      .select($"o_orderkey", $"hidx", lit(1L).as("is_add"))
    val posTerm = (pmod($"o_orderkey", lit(P)) * 31 +
      pmod($"hidx", lit(P))) % P
    val served = survivors.unionByName(adds)
      .agg(count(lit(1)).as("n_rows_after"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        keyChecksum(posTerm).as("pos_checksum"),
        sum($"is_add").as("n_appended"))
    val sidecar = dv.agg(count(lit(1)).as("n_dv_entries"))
    sidecar.crossJoin(served)
      .select(lit(0L).as("n_files_rewritten"),
        $"n_dv_entries", $"n_appended",
        // positions are unique per file (each tombstone kills exactly
        // one pre-image) and appends are net-new, so the base census
        // recovers without a second scan
        ($"n_rows_after" - $"n_appended" + $"n_dv_entries")
          .as("n_rows_before"),
        $"n_rows_after", $"key_checksum", $"pos_checksum")
  }

  /** Price-stats geometry (`Etl.priceStatsFixture` / [[qStatsPrune]]),
    * shared with the DuckDB oracle: files hold contiguous
    * [[PriceBinCents]]-wide cents ranges; the audited predicate is the
    * [[PriceRangeCents]] band — selective enough that pruning is
    * strictly partial at any SF (the band covers ~4% of the price
    * domain), wide enough that it spans several files. */
  val PriceBinCents = 200000L
  val PriceRangeCents: (Long, Long) = (9000000L, 11000000L)

  /** PER-FILE COLUMN-STATS PRUNING on a plain table — the zone-map
    * protocol generalized off the spatial curve (`Etl.priceStatsFixture`:
    * price-clustered orders + a write-time per-FILE (min, max, rows)
    * sidecar over the cents-exact `o_totalprice`): a range predicate
    * consults the sidecar (one tiny scan, ≤ |files| rows at any corpus
    * size), nominates the files whose [min, max] overlaps the band, and
    * reads THAT EXPLICIT FILE LIST with the residual predicate pushed to
    * the footers — partition directories play no role, exactly how a
    * table format serves manifest column stats. The output gates the
    * protocol end to end: total/scanned file censuses (both derived
    * independently by the oracle from the bin arithmetic — `scanned`
    * must be strictly partial), matched rows, key checksum, and the
    * exact cents sum; stats-pruning soundness makes the pruned scan
    * equal the oracle's unpruned one (PlanSpec pins losslessness and
    * the scan's file count).
    * Scale: the consult is O(|files|) driver metadata; the data read is
    * O(selectivity), not O(table) — the entire point of writing stats
    * with every file at 100 TB. */
  def qStatsPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.priceStatsFixture(spark, sfDir)
    val (lo, hi) = PriceRangeCents
    val stats = spark.read.parquet(s"$root/${E.PriceStatsDir}")
    val nTotal = stats.count()
    val cands = stats.filter($"c_max" >= lo && $"c_min" <= hi)
      .select($"fp").as[String].collect().sorted
    val pruned = spark.read
      .option("basePath", s"$root/${E.PriceTableDir}")
      .parquet(cands.map(f => s"$root/${E.PriceTableDir}/$f"): _*)
      .filter($"cents".between(lo, hi))
    pruned.agg(count(lit(1)).as("n_rows"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        sum($"cents").as("cents_sum"))
      .select(lit(nTotal).as("n_files_total"),
        lit(cands.length.toLong).as("n_files_scanned"),
        $"n_rows", $"key_checksum", $"cents_sum")
  }

  /** COLUMN-RENAME read (`Etl.schemaRenameFixture`: generation 1 files
    * store the measure as `qty_v1`, generation 2 as `o_qty` after the
    * rename commit) — served through the table's tracked NAME MAPPING:
    * each generation is projected through its mapping (old → current
    * name) and unioned, with zero history rewrite — a parquet column
    * rename is a pure metadata operation, exactly a table format's
    * column-id indirection. The oracle derives both generations from
    * `orders`, so the hash gate proves the mapped read unifies the
    * column correctly: total rows, per-generation counts (bound to the
    * VALUES, so a mapping applied to the wrong generation fails), the
    * unified sum, and the key checksum.
    * Scale: the mapping is per-commit metadata applied at plan time;
    * like the other two migrations, a 100 TB table renames a column
    * without touching a byte of data. */
  def qSchemaRename(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val path = E.schemaRenameFixture(spark, sfDir)
    val gens = E.SchemaRenameMapping.toSeq.sortBy(_._1).map {
      case (gen, mapping) =>
        val df = spark.read.parquet(s"$path/$gen")
        mapping.foldLeft(df) { case (d, (oldName, newName)) =>
          d.withColumnRenamed(oldName, newName)
        }.select($"o_orderkey", $"o_qty")
    }
    gens.reduce(_ unionByName _)
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"o_qty" < 100L, 1L).otherwise(0L)).as("n_gen1"),
        sum(when($"o_qty" >= 100L, 1L).otherwise(0L)).as("n_gen2"),
        sum($"o_qty").as("qty_sum"),
        keyChecksum($"o_orderkey").as("key_checksum"))
  }

  /** DROP-COLUMN read (`Etl.schemaDropFixture`: generation 1 files carry
    * `o_note`; generation 2, written after the DROP COLUMN commit, does
    * not — and neither does the tracked schema). Two epochs served in
    * one output row:
    *  - the CURRENT read applies the tracked (post-drop) schema to
    *    EVERY generation, so the dropped column's pages are never
    *    decoded from any file (the pruning guard pins `o_note` absent
    *    from the scan — [[schemaDropCurrent]] is the exact production
    *    read);
    *  - the PRE-DROP epoch read (generation 1 under its own epoch
    *    schema) still serves `o_note` — history intact, the migration
    *    reversible by time travel.
    * The oracle derives both epochs from `orders` (note = ck mod 1000
    * on even keys), so losing a row in the projected read, leaking the
    * dropped column, or drifting the preserved history all fail the
    * hash.
    * Scale: like add/widen/rename, a pure metadata operation — a 100 TB
    * table drops a column without touching a byte; the only lasting
    * cost is the dead pages old files keep until their next natural
    * rewrite. */
  def qSchemaDrop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = graft.sources.Etl.schemaDropFixture(spark, sfDir)
    val current = schemaDropCurrent(spark, path)
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"o_orderkey" % 2 === 0, 1L).otherwise(0L)).as("n_gen1"),
        sum(when($"o_orderkey" % 2 === 1, 1L).otherwise(0L)).as("n_gen2"),
        keyChecksum($"o_orderkey").as("key_checksum"))
    val preDropSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_note",
        org.apache.spark.sql.types.LongType)))
    val preDrop = spark.read.schema(preDropSchema).parquet(s"$path/g1")
      .agg(count(lit(1)).as("pre_n_rows"),
        sum($"o_note").as("pre_note_sum"))
    current.crossJoin(preDrop)
  }

  /** The current (post-drop) read — the tracked schema applied to both
    * generations in ONE scan; exposed so PlanSpec pins that `o_note`
    * reaches no generation's ReadSchema. */
  private[graft] def schemaDropCurrent(spark: SparkSession,
      path: String): DataFrame = {
    val tracked = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ck",
        org.apache.spark.sql.types.LongType)))
    spark.read.schema(tracked).parquet(s"$path/g1", s"$path/g2")
      .select(org.apache.spark.sql.functions.col("o_orderkey"))
  }

  /** PARTITION-SPEC EVOLUTION read (`Etl.partitionEvolutionFixture`:
    * generation 1 bucketed `hidx div 24` under spec24, generation 2 —
    * written after the evolution commit — `hidx div 96` under spec96,
    * neither rewritten). The rectangle scan plans each file group
    * through ITS OWN spec's zone maps: spec24 candidates prune c0's
    * partitions, spec96 candidates prune c1's (both plan-time
    * PartitionFilters — PlanSpec pins one INSET per spec), and the two
    * pruned scans union into one aggregate pass. The chain's
    * file→version map generalizing to file→spec is exactly this.
    * The output gates the protocol end to end: per-spec partition
    * censuses and scanned-candidate counts (all derived independently
    * by the oracle from the grid arithmetic), plus the rectangle count
    * and checksum over BOTH layouts — zone-map soundness makes the
    * pruned union equal the oracle's unpruned scan.
    * Scale: spec evolution costs zero rewrite; every read pays one
    * zone-map consult per LIVE spec (bounded — real tables hold 2-3
    * specs), and pruning quality per spec is that spec's own. */
  def qPartitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.partitionEvolutionFixture(spark, sfDir)
    def spec(commit: String, zones: String): (DataFrame, Long, Long) = {
      val z = spark.read.parquet(s"$root/${E.PartEvoZonesDir}/$zones")
      val total = z.count()
      val cands = z.filter(E.zoneOverlap(HilbertRect))
        .select($"pbucket").as[Long].collect().sorted
      val rows = spark.read
        .parquet(s"$root/${E.PartEvoDataDir}/$commit")
        .withColumn("pbucket", $"pbucket".cast("long"))
        .filter($"pbucket".isin(cands: _*) &&
          E.inRect(HilbertRect))
        .select($"o_orderkey")
      (rows, total, cands.length.toLong)
    }
    val (oldRows, oldTotal, oldScanned) = spec("c0", "spec24")
    val (newRows, newTotal, newScanned) = spec("c1", "spec96")
    oldRows.unionByName(newRows)
      .agg(count(lit(1)).as("n_rect_rows"),
        coalesce(keyChecksum($"o_orderkey"), lit(0L)).as("rect_checksum"))
      .select(lit(oldTotal).as("n_parts_old"),
        lit(newTotal).as("n_parts_new"),
        lit(oldScanned).as("n_scanned_old"),
        lit(newScanned).as("n_scanned_new"),
        $"n_rect_rows", $"rect_checksum")
  }

  /** TIME TRAVEL over the copy-on-write DELETE — the read-side payoff of
    * COW DML: the delete never mutates version 0's files, so both
    * versions stay fully readable and a reader pins a version by REF —
    * exactly a table format's `VERSION AS OF`. One row per snapshot:
    *  - `n_rows` / `key_checksum` prove version 0 is byte-complete AFTER
    *    the delete created version 1 (the oracle derives v0 from the
    *    source `orders` directly, so a hash match means history did not
    *    drift), and that version 1 is exactly the survivor set;
    *  - `n_rect_rows` re-runs the rectangle scan through each version's
    *    OWN zone maps — metadata is versioned with the data (v0 still
    *    finds every predicate row; v1 finds zero).
    * Served through the commit chain's MANIFEST reader (the chain's
    * v0/v1 ARE the ingest and delete-survivor snapshots): explicit
    * per-commit file lists instead of K × ~2731-directory listings, and
    * a file shared by both versions is opened ONCE — the protocol
    * `q_time_travel_chain` proved, now the only read path.
    * Scale: time travel costs nothing at write time beyond what COW
    * already pays; each versioned read is zone-map-pruned like any
    * other, and the listing cost is the manifest's, not the tree's. */
  def qTimeTravel(spark: SparkSession, sfDir: String): DataFrame =
    // served through the commit chain's MANIFEST protocol (the chain's
    // v0/v1 are content-identical to the two-root fixtures: ingest and
    // rect-delete survivors — same oracle): explicit file lists, no
    // per-version directory listing over ~2731 partition dirs, shared
    // untouched files opened ONCE for both versions instead of once per
    // root — the r15 "before" of its own lesson, retired
    chainTimeTravel(spark,
      graft.sources.Etl.chainFixture(spark, sfDir), 0 to 1)

  /** VACUUM (dry run) over the copy-on-write table — the retention
    * housekeeping every lakehouse runs after DML: once version 0's
    * retention expires, the files ONLY version 0 references are garbage;
    * files both versions share must survive or time travel to v1 breaks.
    * The classification is a pure MANIFEST DIFF (table-relative part
    * paths, ≤ ~2731 entries per version, driver metadata — zero data
    * I/O, exactly what `VACUUM ... DRY RUN` costs):
    *  - shared  = names in both snapshots — the untouched partitions the
    *    COW delete carried over (v1's copy is the manifest re-point);
    *  - garbage = v0-only names — the pre-delete files of every touched
    *    bucket (rewritten buckets got fresh part names; fully-dead
    *    buckets got nothing);
    *  - fresh   = v1-only names — the rewritten survivors.
    * The oracle derives all four counts from the delete's zone-map
    * arithmetic alone (total buckets, touched candidates, fully-dead),
    * so a wrong classification — vacuuming a shared file, keeping a
    * dead one — fails the hash gate. */
  def qVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val v0 = graft.sources.Etl.hilbertOrdersFixture(spark, sfDir)
    val v1 = graft.sources.Etl.deleteRewriteFixture(spark, sfDir)
    val dir = graft.sources.Etl.HilbertTableDir
    val f0 = listPartFiles(spark, s"$v0/$dir").toSet
    val f1 = listPartFiles(spark, s"$v1/$dir").toSet
    Seq((f0.size.toLong, f1.size.toLong, (f0 & f1).size.toLong,
        (f0 -- f1).size.toLong, (f1 -- f0).size.toLong))
      .toDF("n_files_v0", "n_files_v1", "n_shared", "n_garbage", "n_fresh")
  }

  /** TIME TRAVEL over the depth-4 COMMIT CHAIN (`Etl.chainFixture`:
    * v0 ingest → v1 DELETE → v2 MERGE → v3 OPTIMIZE, one table root,
    * per-version manifests + zone maps) — every version served with its
    * OWN metadata, in ONE pass over the DISTINCT files of the whole
    * history: a file shared by several versions (the manifest re-points
    * COW leaves behind) is read ONCE and its rows attributed to each
    * referencing version through a broadcast (file → version,
    * rect-candidate flag) map built from the manifests and zone maps
    * (driver metadata, ≤ ~11k entries). This is what kills the
    * K-versions × full-snapshot listing tax the two-root `q_time_travel`
    * pays: explicit manifest file lists (no directory listing), each
    * physical file's footer opened once however many versions share it.
    * Per version: row count, key checksum, and the rectangle count
    * through that version's own zone candidates — v0 sees the
    * pre-delete rect rows, v1/v2 see the post-delete state (plus any
    * merge-inserted rows that land in the rect), v3 must agree with v2
    * exactly (OPTIMIZE changes layout, never content). */
  def qTimeTravelChain(spark: SparkSession, sfDir: String): DataFrame =
    chainTimeTravel(spark,
      graft.sources.Etl.chainFixture(spark, sfDir), 0 to 3)

  /** The shared manifest time-travel reader (see [[qTimeTravelChain]]
    * for the full protocol): every version in `versions` served with
    * its own metadata in ONE pass over the distinct files of that
    * slice of history. */
  private def chainTimeTravel(spark: SparkSession, root: String,
      versions: Range): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val entries = versions.flatMap { v =>
      val keyCol = if (v == 3) "cbin" else "hbucket"
      val cands = spark.read.parquet(s"$root/${E.ChainZonesDir}/v$v")
        .filter(E.zoneOverlap(HilbertRect))
        .select(col(keyCol)).as[Long].collect().toSet
      E.chainManifest(root, v).map { rel =>
        (rel, v, cands(E.partitionValue(rel, keyCol)))
      }
    }
    val fileMap = broadcast(entries.toDF("rel", "version", "in_cands"))
    // the manifests ARE the file index: pass the explicit leaf paths of
    // the whole history slice in ONE scan (recursiveFileLookup disables
    // partition inference, so commits with different partition schemes —
    // hbucket vs cbin — share the scan; every served column is a data
    // column). Spark never lists the ~2731 partition directories, each
    // distinct file is named once, opened once, and the per-commit scan
    // fixed costs (a listing job + scan setup each — the r17 profile)
    // collapse into one.
    val rows = spark.read.option("recursiveFileLookup", "true")
      .parquet(entries.map(_._1).distinct.sorted
        .map(r => s"$root/${E.ChainDataDir}/$r"): _*)
      .select($"o_orderkey", $"x8", $"y8",
        substring_index(input_file_name(), s"/${E.ChainDataDir}/", -1)
          .as("rel"))
    rows.join(fileMap, Seq("rel"))
      .groupBy($"version".cast("long").as("version"))
      .agg(count(lit(1)).as("n_rows"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        sum(when($"in_cands" && E.inRect(HilbertRect), 1L).otherwise(0L))
          .as("n_rect_rows"))
      .orderBy($"version".asc)
  }

  /** RETENTION VACUUM (dry run) over the depth-4 commit chain — the
    * classification a real warehouse's first VACUUM decision needs and
    * a naive two-way oldest-vs-current diff gets WRONG: expire v0, keep
    * {v1, v2}, current v3. Because v3 (the OPTIMIZE commit) rewrote
    * every live row into fresh bin files, NO v0 file is referenced by
    * the current version — yet the c0 files of delete-untouched buckets
    * are still referenced by v1 and v2, and deleting them would break
    * time travel to the kept versions. The dry run is a pure MANIFEST
    * diff (4 file-name lists, driver metadata, zero data I/O):
    *  - garbage     = v0-only files (delete-touched buckets' originals),
    *  - shared_kept = v0 files that SURVIVE via a kept version — the
    *    naive-diff trap class (ChainSpec executes the vacuum and proves
    *    these files keep v1/v2/v3 byte-identical while the v0 read
    *    fails),
    *  - live        = the union a correct vacuum must preserve.
    * The oracle derives every count from the curve arithmetic alone
    * (delete candidates, merge touched set, bin census), so a wrong
    * manifest composition anywhere in the chain fails the hash gate. */
  def qVacuumRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sfDir)
    val f = (0 to 3).map(v => E.chainManifest(root, v).toSet)
    val live = f(1) | f(2) | f(3)
    Seq((f(0).size.toLong, f(1).size.toLong, f(2).size.toLong,
        f(3).size.toLong, (f(0) -- live).size.toLong,
        (f(0) & live).size.toLong, live.size.toLong))
      .toDF("n_files_v0", "n_files_v1", "n_files_v2", "n_files_v3",
        "n_garbage", "n_shared_kept", "n_live")
  }

  /** ROW-LEVEL CHANGE FEED of one chain transition (v_{k−1} → v_k) —
    * derived from the COMMIT'S OWN ARTIFACTS, never a two-snapshot diff:
    * the pre-image is the files the commit RETIRED (manifest set
    * difference, driver metadata), the post-image the files it ADDED —
    * both commit-sized, while the untouched majority of the table is
    * never listed, opened, or decoded. A full-outer join of the two
    * images on the key classifies every row exactly once:
    *   pre only            → delete,
    *   post only           → insert,
    *   both, values moved  → update_pre + update_post,
    *   both, identical     → carry-over (a rewritten bucket's survivors
    *                         — NOT a change; emitting them would make
    *                         downstream consumers re-process the world).
    * Layout-only commits (`dataChange = false` in the commit metadata —
    * OPTIMIZE) return an EMPTY feed by metadata alone: zero files
    * opened, which is the whole reason the metadata exists (diffing the
    * two snapshots to discover "nothing changed" would cost two full
    * reads of a 100 TB table).
    * Output: (version, change_type, o_orderkey, x8, y8, hidx) — the
    * image carried is the pre-image for delete/update_pre, the
    * post-image for insert/update_post. */
  private[graft] def chainChanges(spark: SparkSession, root: String,
      version: Int): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val (_, dataChange) = E.chainCommitMeta(root)(s"c$version")
    if (!dataChange)
      return Seq.empty[(Long, String, Long, Long, Long, Long)]
        .toDF("version", "change_type", "o_orderkey", "x8", "y8", "hidx")
    val pre0 = E.chainManifest(root, version - 1).toSet
    val post0 = E.chainManifest(root, version).toSet
    val pre = E.chainReadFiles(spark, root, (pre0 -- post0).toSeq.sorted,
        s"c$version-pre")
      .select($"o_orderkey", struct($"x8", $"y8", $"hidx").as("pre"))
    val post = E.chainReadFiles(spark, root, (post0 -- pre0).toSeq.sorted,
        s"c$version-post")
      .select($"o_orderkey", struct($"x8", $"y8", $"hidx").as("post"))
    // both images are commit-sized (the touched buckets), so this join
    // shuffles O(commit), not O(table)
    val updArr = array(
      struct(lit("update_pre").as("change_type"), $"pre".as("img")),
      struct(lit("update_post").as("change_type"), $"post".as("img")))
    pre.join(post, Seq("o_orderkey"), "full_outer")
      .select($"o_orderkey", explode(
        when($"post".isNull,
          array(struct(lit("delete").as("change_type"), $"pre".as("img"))))
        .when($"pre".isNull,
          array(struct(lit("insert").as("change_type"), $"post".as("img"))))
        .when($"pre" =!= $"post", updArr)
        .otherwise(slice(updArr, 1, 0))).as("ch"))
      .select(lit(version.toLong).as("version"), $"ch.change_type",
        $"o_orderkey", $"ch.img.x8".as("x8"), $"ch.img.y8".as("y8"),
        $"ch.img.hidx".as("hidx"))
  }

  /** CHANGE-DATA-FEED read over the depth-4 commit chain (`table_changes
    * (v0, v3)`) — the exact row-level change set of every transition,
    * derived from commit artifacts alone ([[chainChanges]]): the DELETE
    * commit emits its rectangle rows as deletes, the MERGE commit its
    * stripe movers as update_pre/update_post pairs plus the CDC inserts,
    * and the OPTIMIZE commit emits an explicit `none` row FROM METADATA
    * (dataChange = false — no file opened to learn that layout moved and
    * content didn't). One output row per (version, change_type): count,
    * key checksum, and a position checksum binding (key, hidx) of the
    * emitted image — so a feed that misses a mover, emits a carry-over,
    * or serves the wrong image fails the hash. The oracle re-derives the
    * whole feed from the chain arithmetic it already replays for time
    * travel; ChainSpec proves apply(changes, v_k) ≡ v_{k+1} row-for-row
    * for every transition.
    * Scale: each transition costs O(its commit) — pre/post images are
    * the retired/added files only; a 100 TB table's nightly CDF read
    * never touches the untouched partitions, and layout-only commits
    * cost zero I/O. */
  def qTableChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sfDir)
    val meta = E.chainCommitMeta(root)
    val P = TextAnalysis.ChecksumP
    val posTerm = (pmod($"o_orderkey", lit(P)) * 31 +
      pmod($"hidx", lit(P))) % P
    val dataVs = (1 to 3).filter(v => meta(s"c$v")._2)
    val changed = dataVs.map(v => chainChanges(spark, root, v))
      .reduce(_ unionByName _)
      .groupBy($"version", $"change_type")
      .agg(count(lit(1)).as("n_rows"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        keyChecksum(posTerm).as("pos_checksum"))
    // layout-only commits state "no row changed" as an explicit row —
    // a consumer polling the feed must see the transition was SERVED
    // (and skipped), not silently absent
    val noneRows = (1 to 3).filterNot(v => meta(s"c$v")._2)
      .map(v => (v.toLong, "none", 0L, 0L, 0L))
      .toDF("version", "change_type", "n_rows", "key_checksum",
        "pos_checksum")
    changed.unionByName(noneRows)
      .orderBy($"version".asc, $"change_type".asc)
  }

  /** INCREMENTAL MATERIALIZED-VIEW REFRESH fed by the change feed — the
    * consumer that makes [[qTableChanges]] load-bearing: a per-x8-band
    * summary (count, key checksum, hidx sum) materialized at v1 is
    * refreshed to v2 by applying ONLY the MERGE commit's change rows
    * (insert/delete: signed count and checksum terms; update_pre/
    * update_post: the pre-image retracts, the post-image asserts — the
    * standard delta-retraction algebra, exact because every checksum
    * here is a commutative mod-P sum). The oracle computes the same
    * summary DIRECTLY from v2's row set, so the hash gate IS the
    * apply(changes, v1) ≡ v2 identity, band for band — and the refresh
    * never read v2.
    * Scale: the refresh costs O(|changes|) against a bounded summary —
    * the reason a 100 TB warehouse maintains views from the change feed
    * instead of recomputing them from the new snapshot. */
  def qCdfRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sfDir)
    val P = TextAnalysis.ChecksumP
    val sq = pmod($"o_orderkey", lit(P)) * pmod($"o_orderkey", lit(P)) % P
    val xband = expr("x8 div 32")
    // the MATERIALIZED base: the stored view itself (built once beside
    // the chain — `Etl.cdfViewFixture`), never a re-read of v1; the
    // refresh's inputs are the view (≤ 8 rows) + the commit's changes
    val base = spark.read.parquet(E.cdfViewFixture(spark, sfDir))
    val sgn = when($"change_type".isin("delete", "update_pre"), -1L)
      .otherwise(1L)
    val delta = chainChanges(spark, root, 2)
      .groupBy(xband.as("xband"))
      .agg(sum(sgn).as("d_n"),
        sum(sgn * sq).as("d_kck"),
        sum(sgn * pmod($"hidx", lit(P))).as("d_hck"))
    base.join(delta, Seq("xband"), "full_outer")
      .select($"xband".cast("long").as("xband"),
        (coalesce($"b_n", lit(0L)) + coalesce($"d_n", lit(0L)))
          .as("n_rows"),
        pmod(coalesce($"b_kck", lit(0L)) + coalesce($"d_kck", lit(0L)),
          lit(P)).as("key_checksum"),
        pmod(coalesce($"b_hck", lit(0L)) + coalesce($"d_hck", lit(0L)),
          lit(P)).as("hidx_checksum"))
      .filter($"n_rows" > 0L)
      .orderBy($"xband".asc)
  }

  /** The v1 per-band summary — the view [[qCdfRefresh]] maintains,
    * computed ONCE at materialization time (`Etl.cdfViewFixture` calls
    * this; the refresh never does). */
  private[graft] def xbandSummaryV1(spark: SparkSession, root: String)
      : DataFrame = {
    import spark.implicits._
    val P = TextAnalysis.ChecksumP
    val sq = pmod($"o_orderkey", lit(P)) * pmod($"o_orderkey", lit(P)) % P
    graft.sources.Etl.chainReadVersion(spark, root, 1)
      .groupBy(expr("x8 div 32").as("xband"))
      .agg(count(lit(1)).as("b_n"),
        sum(sq).as("b_kck"),
        sum(pmod($"hidx", lit(P))).as("b_hck"))
  }

  /** OPTIMISTIC-CONCURRENCY CONFLICT DETECTION (`Etl.concurrentFixture`)
    * — the two-writer episode every multi-writer table lives through,
    * replayed deterministically from v3 on an isolated root:
    *  1. `b_cc1` (DELETE rect1) publishes first — its base hasn't moved,
    *     validation is vacuous, the pointer swaps to `p_b_cc1`;
    *  2. `b_cc2` (DELETE rect2, OVERLAPPING rect1) then attempts: the
    *     validation ([[graft.sources.Etl.chainPublishValidated]] — files
    *     this branch overwrote ∩ files retired since its base, pure
    *     manifest arithmetic) finds the shared candidate bins and
    *     REFUSES with the conflicting files named — two writers rewrote
    *     the same files and the second's snapshot is stale;
    *  3. `b_cc3` (DELETE rect3, candidate bins DISJOINT from b_cc1's)
    *     attempts on the same moved base and LANDS: validation proves
    *     the overwrite sets disjoint, so the branch REBASES exactly
    *     (current − overwritten + added) and the pointer swaps again.
    * The final read resolves the pointer: exactly v3 − rect1 − rect3
    * (rect2 survives in full minus its rect1 overlap — the refused
    * writer changed nothing). The oracle re-derives the bin zone maps,
    * the conflict census, the disjointness, and the served rows from
    * the chain arithmetic, so a validator that misses the conflict,
    * refuses the independent writer, or rebases wrong fails the hash.
    * Scale: the entire decision is manifest set arithmetic — driver
    * metadata, zero data I/O; staging cost is each branch's own COW
    * delete (candidate bins only). */
  def qCommitConflict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val E = graft.sources.Etl
    val root = E.concurrentFixture(spark, sfDir)
    // deterministic replay: the episode always starts from v3 (the
    // reset is the same idempotent atomic swap publication uses)
    E.chainPublish(root, "v3")
    val r1 = E.chainPublishValidated(root, "b_cc1")
    val r2 = E.chainPublishValidated(root, "b_cc2")
    val r3 = E.chainPublishValidated(root, "b_cc3")
    def ok(r: Either[Seq[String], String]): Long = if (r.isRight) 1L else 0L
    val nConflict = r2.left.toOption.map(_.size.toLong).getOrElse(0L)
    val served = E.chainReadNamed(spark, root, E.chainCurrent(root))
    served.agg(count(lit(1)).as("n_rows"),
        keyChecksum($"o_orderkey").as("key_checksum"),
        sum(when(E.inRect(HilbertRect),
          1L).otherwise(0L)).as("n_rect1_rows"),
        sum(when(E.inRect(HilbertRect2),
          1L).otherwise(0L)).as("n_rect2_rows"),
        sum(when(E.inRect(ConflictRect3),
          1L).otherwise(0L)).as("n_rect3_rows"))
      .select(lit(ok(r1)).as("publish1_ok"),
        lit(nConflict).as("n_conflict_files"),
        lit(ok(r2)).as("publish2_ok"),
        lit(ok(r3)).as("publish3_ok"),
        $"n_rows", $"key_checksum",
        $"n_rect1_rows", $"n_rect2_rows", $"n_rect3_rows")
  }

  /** Incremental JOIN maintenance — the delta identity behind every
    * materialized-view refresh: with both sides split into base + delta
    * (a load boundary at `cutoff`),
    * (A∪ΔA)⋈(B∪ΔB) = A⋈B + ΔA⋈B + A⋈ΔB + ΔA⋈ΔB,
    * so the refreshed view is the MATERIALIZED base join plus three
    * delta joins that only touch new data — the reason a nightly load
    * against a 100 TB view costs O(Δ) not O(A). The operator computes
    * the per-priority rollup through that 4-term decomposition; the
    * DuckDB oracle computes it as ONE full join with base/delta flags —
    * an independent algorithm for the same numbers, so a hash match
    * PROVES the identity, term for term (count and decimal-exact
    * quantity mass, base/delta breakdown included).
    *
    * Scale: each term is an equi-join on the key; the three delta terms
    * have a delta-sized side (broadcastable on a real load), and every
    * term partial-aggregates to ≤ |priorities| rows before the union —
    * the final combine touches 4·|priorities| rows. */
  def qDeltaJoin(spark: SparkSession, sfDir: String,
      cutoff: String = "1999-01-01"): DataFrame = {
    import spark.implicits._
    val cut = lit(cutoff).cast("timestamp")
    val o = Tables.read(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_orderdate")
    val l = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey".as("o_orderkey"), $"l_quantity", $"l_shipdate")
    val oB = o.filter($"o_orderdate" < cut)
    val oD = o.filter($"o_orderdate" >= cut)
    val lB = l.filter($"l_shipdate" < cut)
    val lD = l.filter($"l_shipdate" >= cut)
    def term(a: DataFrame, b: DataFrame, kind: String): DataFrame =
      a.join(b, Seq("o_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(20,6)")).as("q"))
        .withColumn("kind", lit(kind))
    val terms = term(oB, lB, "base")
      .union(term(oD, lB, "delta"))
      .union(term(oB, lD, "delta"))
      .union(term(oD, lD, "delta"))
    terms.groupBy($"o_orderpriority")
      .agg(sum(when($"kind" === "base", $"n").otherwise(0L)).as("n_base"),
        sum(when($"kind" === "delta", $"n").otherwise(0L)).as("n_delta"),
        sum($"n").as("n_pairs"),
        round(sum($"q"), 4).cast("double").as("qty_total"))
      .orderBy($"o_orderpriority".asc)
  }

  def qPreaggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "lineitem")
      .groupBy(substring($"l_shipdate".cast("string"), 1, 10).as("day"),
        $"l_returnflag")
      .agg(count(lit(1)).as("cnt"), sum($"l_quantity").as("qty"))
    daily
      .groupBy(substring($"day", 1, 7).as("month"), $"l_returnflag")
      .agg(sum($"cnt").as("cnt"), round(sum($"qty"), 4).as("qty"))
      .orderBy($"month".asc, $"l_returnflag".asc)
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS): customers partitioned by
    * whether they have any event activity, rolled up per market segment.
    * Both joins build a hash table of just the distinct keys of the
    * events side — no row multiplication, which is what makes semi/anti
    * the right tool for existence checks at scale (vs inner join +
    * distinct, which explodes first and dedups after). */
  def qSemiAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.read(spark, sfDir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id".as("c_custkey"))
    val withEv = cust.join(ev, Seq("c_custkey"), "left_semi")
      .withColumn("has_events", lit(1L))
    val withoutEv = cust.join(ev, Seq("c_custkey"), "left_anti")
      .withColumn("has_events", lit(0L))
    withEv.union(withoutEv)
      .groupBy($"c_mktsegment")
      .agg(sum($"has_events").as("n_with_events"),
        (count(lit(1)) - sum($"has_events")).as("n_without_events"))
      .orderBy($"c_mktsegment".asc)
  }

  /** Rollup aggregation: per-(year, month) counts with year and grand
    * totals in one pass — Catalyst expands the grouping sets, partial
    * aggregation still applies, so the shuffle carries one partial row
    * per (grouping set × key), not the input. `grouping_id` disambiguates
    * NULL-as-total from NULL-as-value. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .withColumn("ds", $"l_shipdate".cast("string"))
      .withColumn("year", $"ds".substr(1, 4))
      .withColumn("month", $"ds".substr(6, 2))
      .rollup($"year", $"month")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"l_quantity"), 4).as("qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid".asc, $"year".asc_nulls_first, $"month".asc_nulls_first)
  }

  /** GROUPING SETS with SIDEWAYS sets — ((returnflag), (linestatus)):
    * two independent one-dimension breakdowns in ONE pass, a shape
    * neither rollup nor cube expresses (cube would add the pair and the
    * total). At 100 TB this halves the scan count vs running the two
    * group-bys separately; Spark plans it as a single Expand (2 rows per
    * input) + one hash aggregate, and partial aggregation still collapses
    * map-side. Uses Spark 4's `Dataset.groupingSets` — same declarative
    * style as the rollup/cube neighbors, no temp-view side effect. */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .groupingSets(Seq(Seq($"l_returnflag"), Seq($"l_linestatus")),
        $"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"l_quantity"), 4).as("qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid".asc, $"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first)
  }

  /** Exact percentiles per group (median + p90 of extended price).
    * `percentile` is the exact sort-based aggregate — right up to the
    * scale where the per-group value set no longer fits a partition;
    * past that, `approx_percentile` (KLL-sketch-style) is the drop-in.
    * Oracle: DuckDB `quantile_cont` (same linear interpolation). */
  def qQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r18: the raw-stream percentile fed every row through the
    // imperative TypedImperativeAggregate (boxed OpenHashMap update per
    // row, partial maps serialized per partition). Pre-aggregating to
    // (flag, value, freq) in codegen first (guide §2.3 "aggregate before
    // you shuffle") collapses duplicate prices map-side and hands the
    // imperative aggregate its native weighted form —
    // percentile(col, p, freq) builds the IDENTICAL counts map, so the
    // result is bit-equal by construction (oracle-gated anyway).
    val byPrice = Tables.read(spark, sfDir, "lineitem")
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("freq"))
    byPrice
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5, freq)"), 4)
          .as("p50_price"),
        round(expr("percentile(l_extendedprice, 0.9, freq)"), 4)
          .as("p90_price"),
        sum($"freq").as("cnt"))
      .orderBy($"l_returnflag".asc)
  }

  /** approx_percentile twin of `qQuantiles` — the 100 TB drop-in, measured
    * instead of claimed. The KLL-style sketch (`approx_percentile`,
    * accuracy 10000 → rank error ≤ n/10000) is compared against the exact
    * sort-based percentile in the same query; the output carries the exact
    * values plus per-percentile bound checks, so the DuckDB oracle
    * (`quantile_cont` + literal TRUE) independently verifies both the
    * exact values and that the sketch stayed within its error bound.
    * At 100 TB the exact column is dropped and only the sketch runs — a
    * few KB of state per partition instead of a full sort. */
  def qQuantilesApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
    // exact and sketch percentiles in separate aggregations joined on the
    // tiny group key — one ObjectHashAggregate carrying all four
    // imperative buffers measured ~1.7× slower than the two clean plans
    // (same reasoning as qApproxDistinctRaw)
    // exact half rides the same weighted pre-agg as qQuantiles (r18,
    // guide §2.3) — identical counts map, identical result
    val exact = li.groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("freq"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5, freq)").as("e50"),
        expr("percentile(l_extendedprice, 0.9, freq)").as("e90"),
        sum($"freq").as("cnt"))
    val approx = li.groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("a90"))
    exact.join(approx, Seq("l_returnflag"))
      .select($"l_returnflag",
        round($"e50", 4).as("p50_price"), round($"e90", 4).as("p90_price"),
        $"cnt",
        (abs($"a50" - $"e50") <= $"e50" * 0.01).as("p50_ok"),
        (abs($"a90" - $"e90") <= $"e90" * 0.01).as("p90_ok"))
      .orderBy($"l_returnflag".asc)
  }

  /** Table profiling — the data-quality pass an ingest pipeline runs
    * first: per column, row count, null count, exact distinct count.
    * One pruned scan per profiled column (Catalyst reads only that
    * column); at 100 TB swap the exact distincts for
    * `approx_count_distinct` — the query shape is identical. */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, sfDir, "orders")
    val profiled = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
    profiled.map { c =>
      ord.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
    }.reduce(_.union(_))
      .orderBy($"col_name".asc)
  }

  /** Sketch twin of `qProfile` — the 100 TB drop-in, measured instead of
    * claimed (same exact/sketch pairing as quantiles/distinct): per
    * column the exact profile plus a bound check that the HLL++ estimate
    * (rsd 0.02) stayed within 5% of the exact distinct, so the DuckDB
    * oracle (exact counts + literal TRUE) gates both. Exact and sketch
    * run as separate aggregations joined on the 1-row column key —
    * mixing DISTINCT and HLL in one agg triggers Catalyst's Expand
    * (see qApproxDistinctRaw). At 100 TB the exact column is dropped and
    * the profile is one sketch pass per column. */
  def qProfileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, sfDir, "orders")
    val profiled = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
    profiled.map { c =>
      val exact = ord.agg(
        lit(c).as("col_name"),
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
      val approx = ord.agg(lit(c).as("col_name"),
        approx_count_distinct(col(c), 0.02).as("approx_distinct"))
      exact.join(approx, Seq("col_name"))
    }.reduce(_.union(_))
      .select($"col_name", $"n_rows", $"n_null", $"n_distinct",
        (abs($"approx_distinct" - $"n_distinct") <=
          $"n_distinct" * 0.05).as("distinct_ok"))
      .orderBy($"col_name".asc)
  }

  /** Sketch aggregation, raw form: exact `countDistinct` next to the
    * HyperLogLog++ `approx_count_distinct` — at 100 TB the exact distinct
    * is a full shuffle of the key set while the sketch is a few KB per
    * partition; both are exposed so the error is observable. SketchSpec
    * asserts the 3-sigma error bound on these columns directly;
    * [[qApproxDistinct]] is the oracle-gated declared form. */
  def qApproxDistinctRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
    // Separate aggregations joined on the tiny group key: mixing DISTINCT
    // aggregates with HLL sketches (or each other) in one agg makes
    // Catalyst Expand every input row per aggregate family (measured 5×
    // slower at sf0.1 than the clean plans + 3-row joins).
    val exactOrd = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    val exactPart = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"),
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
    exactOrd.join(exactPart, Seq("l_returnflag"))
      .join(approx, Seq("l_returnflag"))
      .orderBy($"l_returnflag".asc)
  }

  /** Declared form: HLL++ sketch vs exact distinct, oracle-verifiable.
    * The output carries the exact counts plus a bound check per sketch
    * column (|approx − exact| ≤ 5% — 2.5σ at rsd 0.02), so the DuckDB
    * oracle (exact counts + literal TRUE) is a hard gate on both the
    * exact values and the sketch staying in bound; the raw estimates are
    * additionally asserted in SketchSpec. */
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    qApproxDistinctRaw(spark, sfDir)
      .select($"l_returnflag", $"exact_orders", $"exact_parts",
        (abs($"approx_orders" - $"exact_orders") <=
          $"exact_orders" * 0.05).as("orders_ok"),
        (abs($"approx_parts" - $"exact_parts") <=
          $"exact_parts" * 0.05).as("parts_ok"))
      .orderBy($"l_returnflag".asc)
  }

  /** Z-order (Morton) layout — the multi-dimensional clustering technique
    * behind 2-D scan pruning at 100 TB: interleaving the bits of two
    * normalized dimensions (customer key × order day) gives a 1-D sort
    * key whose contiguous ranges are LOCALIZED in BOTH dimensions, so
    * per-file min/max zone maps prune selective predicates on either
    * column. In production the layout step is
    * `repartitionByRange(zval).sortWithinPartitions(zval).write` and this
    * query's output IS the resulting per-file stats table: per 16-cell
    * z-range, row count and the min/max span of each dimension — each
    * bucket covers ~1/8 of either domain instead of all of it, which is
    * exactly the pruning a 1-D sort can only give one column.
    * All-integer math (scale-to-256 + bit interleave), so the DuckDB
    * oracle replays it bit-for-bit; the min/max domain scan is the same
    * metadata pass a table format would supply for free. */
  def qZorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.read(spark, sfDir, "orders")
      .select($"o_custkey".cast("long").as("ck"),
        datediff($"o_orderdate".cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
    val stats = ord.agg(min($"ck").as("ck_min"), max($"ck").as("ck_max"),
      min($"day").as("day_min"), max($"day").as("day_max"))
    val zExpr = (0 until 8).map(i =>
      s"(shiftleft(shiftrightunsigned(x8, $i) & 1, ${2 * i})) + " +
        s"(shiftleft(shiftrightunsigned(y8, $i) & 1, ${2 * i + 1}))")
      .mkString(" + ")
    ord.crossJoin(broadcast(stats))
      .withColumn("x8",
        expr("((ck - ck_min) * 256) div (ck_max - ck_min + 1)"))
      .withColumn("y8",
        expr("((day - day_min) * 256) div (day_max - day_min + 1)"))
      .withColumn("zbucket", expr(s"($zExpr) div 16"))
      .groupBy($"zbucket")
      .agg(count(lit(1)).as("cnt"),
        min($"ck").as("ck_lo"), max($"ck").as("ck_hi"),
        min($"day").as("day_lo"), max($"day").as("day_hi"))
      .orderBy($"zbucket".asc)
  }

  /** lineitem ⋈ per-(partkey,suppkey) aggregate on the composite key —
    * multi-column equi join that dedups its key columns (USING semantics).
    * Scale: at bench scale AQE broadcasts the aggregate side (observed in
    * the plan), so the fact side never shuffles for the join; when the
    * aggregate outgrows the broadcast threshold, SMJ partitions both
    * sides on the same composite key and the aggregate's exchange is
    * reusable — either way, one shuffle of the fact table, not two. */
  def qJoinMultiKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_returnflag")
    val ps = li.groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity").as("ps_qty"))
    li.join(ps, Seq("l_partkey", "l_suppkey"))
      .groupBy($"l_returnflag")
      .agg(round(sum($"ps_qty"), 4).as("weighted_qty"),
        count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag".asc)
  }

  /** Equi-width histogram + CDF over `l_extendedprice` — the
    * distribution-shape profile `qProfile`'s scalar stats can't show
    * (and the zone-map / bucket-pruning statistic a layout op like
    * qZorderLayout consumes). One map-side-combined aggregate collapses
    * the corpus to ≤ range/width bucket rows; the cumulative column is
    * a triangular broadcast self-join over that tiny bucket table, so
    * the suite stays free of unpartitioned windows and the fact table
    * is scanned exactly once (single pruned column). Counts are
    * integers; pct/cdf are single integer divisions rounded on both
    * engines — no accumulation-order float risk. */
  /** Histogram bucket width — shared with the DuckDB oracle. */
  val HistWidth = 5000L

  def qHistogram(spark: SparkSession, sfDir: String,
      width: Long = HistWidth): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem").select($"l_extendedprice")
    val h = li.select(floor($"l_extendedprice" / width).cast("long")
        .as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("cnt"))
    histFinalize(h, width)
  }

  /** CDF finalization over a (bucket, cnt) table — shared by the batch
    * [[qHistogram]] and its streaming twin (the stream maintains the
    * bucket counts as Complete-mode state, then finalizes through this
    * exact code). Total derives from the bucket table itself (every fact
    * row lands in exactly one bucket), so the fact table is scanned
    * once; the cumulative column is a triangular broadcast self-join
    * over the tiny bucket table — no unpartitioned window. */
  private[graft] def histFinalize(h0: DataFrame, width: Long = HistWidth)
      : DataFrame = {
    val spark = h0.sparkSession
    import spark.implicits._
    // the bucket table is tiny but feeds three consumers — cut the
    // upstream (scan or stream-sink read) out of the reuse
    val h = h0.localCheckpoint(true)
    val tot = h.agg(sum($"cnt").as("total"))
    val cume = h.as("a").join(broadcast(h.as("b")),
        col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket")).agg(sum(col("b.cnt")).as("cume"))
    h.join(cume, "bucket").crossJoin(broadcast(tot))
      .select($"bucket", ($"bucket" * width).as("lo_edge"), $"cnt", $"cume",
        round($"cnt".cast("double") / $"total", 6).as("pct"),
        round($"cume".cast("double") / $"total", 6).as("cdf"))
      .orderBy($"bucket".asc)
  }

  /** Foreign-key integrity audit — orphan counts for every FK edge of
    * the star schema, the referential-integrity check a warehouse runs
    * after every load (Spark enforces no constraints; auditing IS the
    * engine's integrity story). Each edge is a LEFT ANTI join of the
    * child's key column against the parent's key column: child scans
    * prune to ONE column (pushdown-verified shape), dim-parent edges
    * broadcast, and the one big edge (lineitem → orders) is left
    * hint-free for AQE. Orphans count child ROWS, not distinct keys —
    * the number a repair job must touch.
    *
    * Scale: one pruned scan + one anti join per edge; per-edge results
    * are single aggregate rows unioned driver-free. */
  def qFkIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def edge(label: String, childTable: String, childKey: String,
        parentTable: String, parentKey: String): DataFrame = {
      val child = Tables.read(spark, sfDir, childTable)
        .select(col(childKey).as("k"))
      val parent = Tables.read(spark, sfDir, parentTable)
        .select(col(parentKey).as("k"))
      val orphans = child.join(parent, Seq("k"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child")).crossJoin(orphans)
        .select(lit(label).as("edge"), $"n_child", $"n_orphans",
          round($"n_orphans".cast("double")
            / greatest($"n_child", lit(1L)), 6).as("orphan_rate"))
    }
    Seq(
      edge("customer.c_nationkey->nation", "customer", "c_nationkey",
        "nation", "n_nationkey"),
      edge("events.user_id->customer", "events", "user_id",
        "customer", "c_custkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
        "supplier", "s_suppkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey",
        "region", "r_regionkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey",
        "nation", "n_nationkey"))
      .reduce(_ union _)
      .orderBy($"edge".asc)
  }

  /** SQL subquery surface — correlated EXISTS / NOT EXISTS and
    * correlated + uncorrelated scalar subqueries in one report, the
    * query shapes a SQL engine must DECORRELATE to survive (Catalyst
    * rewrites them to semi/anti/left-outer joins + one broadcast
    * scalar — a per-row re-execution, which is what a naive engine
    * does, reads the orders table once per customer). Per segment:
    * how many customers have orders, how many are event-silent, how
    * many out-spend the per-customer average. Spend totals stay
    * decimal so the average is exact to a deterministic digit on both
    * engines.
    *
    * Scale: after decorrelation the physical plan is ExistenceJoins +
    * one LeftSingle join of the (custkey)-collapsed spend table + one
    * broadcast scalar — every probe side is key-collapsed or
    * single-column before it moves, and NO correlated re-scan survives
    * (plan-guarded: ExistenceJoin present, nothing cartesian). */
  def qSubqueries(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "customer")
      .createOrReplaceTempView("customer")
    Tables.read(spark, sfDir, "orders").createOrReplaceTempView("orders")
    Tables.read(spark, sfDir, "events").createOrReplaceTempView("events")
    spark.sql(SubqueriesSql)
  }

  /** The one subquery-report text — `spark.sql` runs it verbatim and the
    * DuckDB oracle is THE SAME STRING (pure ANSI), so the two engines
    * share semantics; identical OUTPUT TYPES still need explicit casts
    * (DuckDB's bare `sum(CASE…)` is HUGEINT where Spark's is BIGINT —
    * hence the `CAST(… AS BIGINT)` on every counter), and the
    * above-average test is cross-multiplied (`total * count > sum`) so
    * both engines compare exact decimals instead of a DECIMAL-vs-DOUBLE
    * average that could flip within one ulp of the mean. */
  val SubqueriesSql: String = """
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(20,6))) AS total
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_custkey = c.c_custkey)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
           CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM events e
                                          WHERE e.user_id = c.c_custkey)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
           CAST(sum(CASE WHEN coalesce((SELECT s.total FROM spend s
                                        WHERE s.o_custkey = c.c_custkey),
                                       0)
                           * (SELECT count(*) FROM spend) >
                         (SELECT sum(total) FROM spend)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg
    FROM customer c
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment ASC"""

  /** Cutoff splitting [[qSetOps]]'s two activity windows — shared with
    * the DuckDB oracle. */
  val SetOpsCutoff = "2024-01-16"

  /** Relational set operations — INTERSECT / EXCEPT / UNION DISTINCT
    * between two activity snapshots (first vs second half-month), over
    * (user, type, value-decile) behavior triples: the churn/overlap
    * report every cohort analysis starts from, expressed with the
    * engine's actual set operators (which plan as aggregate + semi/anti
    * join — NOT a naive double-distinct + full join).
    *
    * Scale: each set operator shuffles distinct triples only (map-side
    * partial distinct); the final report is one row. Jaccard derives
    * from the three counts in one rounded division. */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def triples(pred: Column): DataFrame =
      Tables.read(spark, sfDir, "events")
        .filter(pred)
        .select($"user_id", $"event_type",
          floor($"value" / 10.0).cast("long").as("value_decile"))
        .distinct()
    val w1 = triples($"ts" < lit(SetOpsCutoff).cast("timestamp"))
    val w2 = triples($"ts" >= lit(SetOpsCutoff).cast("timestamp"))
    val nBoth = w1.intersect(w2).agg(count(lit(1)).as("n_both"))
    val nOnly1 = w1.except(w2).agg(count(lit(1)).as("n_only_w1"))
    val nOnly2 = w2.except(w1).agg(count(lit(1)).as("n_only_w2"))
    val nUnion = w1.union(w2).distinct().agg(count(lit(1)).as("n_union"))
    w1.agg(count(lit(1)).as("n_w1"))
      .crossJoin(w2.agg(count(lit(1)).as("n_w2")))
      .crossJoin(nBoth).crossJoin(nOnly1).crossJoin(nOnly2).crossJoin(nUnion)
      .select($"n_w1", $"n_w2", $"n_both", $"n_only_w1", $"n_only_w2",
        $"n_union",
        round($"n_both".cast("double") / $"n_union", 6).as("jaccard"))
  }

  /** Tables [[qCboReorder]] has already CREATEd + ANALYZEd in this JVM,
    * keyed by catalog name (the fitted-model cache precedent — stats
    * collection is a scan, run once per (table, corpus, process)). */
  private val cboAnalyzed = scala.collection.mutable.Set.empty[String]

  /** Register the fixture parquet as CATALOG tables and collect CBO
    * statistics — the one optimizer surface plain `spark.read` can never
    * exercise, because cost-based decisions read rowCount/size/column
    * stats from the catalog. Names carry a per-corpus suffix so two
    * scale dirs never share stats. */
  private def cboTable(spark: SparkSession, sfDir: String,
      table: String): String = {
    val tag = sfDir.toLowerCase.replaceAll("[^a-z0-9]", "_")
    val name = s"cbo_${table}_$tag"
    cboAnalyzed.synchronized {
      if (!cboAnalyzed.contains(name)) {
        spark.sql(s"CREATE TABLE IF NOT EXISTS $name USING parquet " +
          s"LOCATION '$sfDir/$table.parquet'")
        spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
        cboAnalyzed += name
      }
    }
    name
  }

  /** The 3-table star query [[qCboReorder]] runs, written in the WORST
    * order on purpose: fact ⋈ fact first ((lineitem ⋈ orders) ⋈
    * filtered-customer is the left-deep order the text dictates), so
    * only a cost-based reorder can move the selective customer filter
    * before the big join. Exposed for the PlanSpec flip guard. */
  private[graft] def cboQuery(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val li = cboTable(spark, sfDir, "lineitem")
    val ord = cboTable(spark, sfDir, "orders")
    val cust = cboTable(spark, sfDir, "customer")
    spark.sql(s"""
      SELECT o.o_orderpriority AS priority,
             count(*) AS n_items,
             CAST(round(sum(CAST(l.l_extendedprice AS decimal(20,6))), 4)
               AS double) AS revenue
      FROM $li l
      JOIN $ord o ON l.l_orderkey = o.o_orderkey
      JOIN $cust c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY o.o_orderpriority
      ORDER BY priority ASC""")
  }

  /** COST-BASED-OPTIMIZER join reorder — the optimizer surface every
    * 100 TB warehouse leans on and nothing else in this suite exercises:
    * ANALYZE TABLE writes rowCount + column stats into the catalog, and
    * with `spark.sql.cbo.enabled` + `cbo.joinReorder.enabled` Catalyst's
    * DP join-reorder rewrites the deliberately-bad written order
    * ((lineitem ⋈ orders) ⋈ customer) into the selective one
    * ((orders ⋈ σ(customer)) ⋈ lineitem) — the filtered dimension joins
    * FIRST, so the big fact streams against a pre-shrunk build side.
    * PlanSpec asserts the flip (optimized join order with CBO on differs
    * from off, the dimension join sinking below the fact join) and the
    * answer's invariance; the declared output is the priority revenue
    * rollup, hash-gated like any other query.
    *
    * The CBO confs live on a CHILD session ([[GraftSession.child]]), never
    * the caller's: Spark optimizes a DataFrame lazily when the CALLER
    * executes it, so a set-then-restore on the parent would silently
    * undo the reorder before the plan ever runs — but leaving CBO on
    * session-wide (the r12 shape) switches Catalyst to
    * `BasicStatsPlanVisitor` for EVERY subsequent plan, changing
    * size/rowCount estimation (and potentially broadcast decisions) for
    * all other queries in the process (measured: q3_joinchain +27% with
    * zero q3 code change). A child session has its OWN SQLConf but
    * SHARES the external catalog, so the `cbo_*` tables and their
    * ANALYZE statistics stay visible, and the returned DataFrame
    * executes on the child with CBO live while the parent session — and
    * every other bench/verify query — keeps the defaults. PlanSpec
    * asserts the parent's conf is untouched after building the query. */
  def qCboReorder(spark: SparkSession, sfDir: String): DataFrame = {
    cboQuery(GraftSession.child(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true"), sfDir)
  }
}
