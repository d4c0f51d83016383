package graft

/** Driver-contract smoke: every declared query runs and returns rows, the
  * flagship entry is non-empty, and no query name is declared twice.
  * Mirrors the reference's own differential methodology (each query
  * implemented 2-4 ways and compared — SURVEY.md §5) via the *Differential*
  * suites; this one guards the contract surface itself.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs non-empty at sf0.001") {
    // q3_joinchain_rawkey is EMPTY BY DESIGN: it is the reference's
    // strip-vs-keep join-key sensitivity study (query3.py:84-96) — the
    // uncleaned key matches nothing and every row is silently lost; its
    // oracle independently confirms the empty result.
    val emptyByDesign = Set("q3_joinchain_rawkey")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (emptyByDesign(name)) assert(n == 0, s"query $name should be empty")
      else assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("declarative ref queries build without a job once their tables " +
      "were read") {
    // the build of a declarative query only plans; with every input's
    // schema known (Tables' per-file memo) it must launch no job, so each
    // job a query runs belongs to its action
    val declarative = Seq("q1_topmonths", "q1_sql", "q2_buckets", "q2_sql",
      "q2_typed", "q4_distance", "q4_distance_broadcast", "q4_distance_sql")
    // builds that run jobs on purpose: q3's `head(3)` driver round trip
    // and q4_distance_bcastvar's `collect` into a broadcast variable
    val eager = Seq("q3_joinchain", "q4_distance_bcastvar")
    (declarative ++ eager).foreach(SparkEntry.queries(_)(spark, sf))
    declarative.foreach { name =>
      val (_, jobs) = jobsDuring(SparkEntry.queries(name)(spark, sf))
      assert(jobs == 0, s"building $name launched $jobs job(s)")
    }
    eager.foreach { name =>
      val (_, jobs) = jobsDuring(SparkEntry.queries(name)(spark, sf))
      assert(jobs > 0, s"building $name launched no job: move it to " +
        "the declarative list")
    }
  }

  test("registerViews exposes every table to SQL") {
    Tables.registerViews(spark, sf)
    val n = spark.sql("""
      SELECT count(*) FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey""").collect()(0).getLong(0)
    assert(n > 0)
  }

  test("driver materializations: show / take / head / collect / explain") {
    val df = SparkEntry.entry(spark)
    df.show(5) // S6: renders without error
    assert(df.take(3).length == 3)
    assert(df.head(1).nonEmpty)
    assert(df.collect().nonEmpty)
    df.explain() // S7
  }

  test("query names are unique") {
    // `queries` and `oracleSql` are `.toMap` views: a second entry with
    // the same name would silently replace the first
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(dups.isEmpty, s"query names declared more than once: $dups")
  }

  test("select resolves names to registry entries in the order given") {
    val qs = SparkEntry.select(Seq(" q2_sql", "q1_sql", "", "q2_sql"))
    assert(qs.map(_.name) == Seq("q2_sql", "q1_sql"))
    assert(qs.forall(q => SparkEntry.registry.contains(q)))
  }

  test("select names every unknown query and rejects an empty selection") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q1_sql", "no_such_query", "q2_sql", "q9_typo")))
    assert(e.getMessage.contains("no_such_query, q9_typo"), e.getMessage)
    assert(!e.getMessage.contains("q1_sql"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Seq("", " ")))
  }

  test("oracle column aliases appear in spark output columns") {
    // cheap guard against the alias-mismatch failure mode the driver
    // contract warns about: every Spark output column name must appear
    // verbatim in the oracle SQL text.
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val tokens = sql.split("[^A-Za-z0-9_]+").toSet
      val cols = SparkEntry.queries(name)(spark, sf).columns
      cols.foreach { c =>
        assert(tokens.contains(c),
          s"$name: column '$c' not a word in oracle SQL")
      }
    }
  }
}
