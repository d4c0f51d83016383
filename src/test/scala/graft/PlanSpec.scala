package graft

/** Physical-plan regression guards: the scale-critical plan shapes the
  * PERF.md audit verified by hand, asserted so a future refactor that
  * silently loses pushdown / broadcast / top-k-pushdown fails here. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: rank filter compiles to WindowGroupLimit (top-k pushdown)") {
    assert(plan("q1_topmonths").contains("WindowGroupLimit"))
  }

  test("q1: shipdate filters and pruned schema reach the parquet scan") {
    val p = plan("q1_topmonths")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "filter not pushed to scan")
    assert(p.contains("ReadSchema: struct<l_shipdate"),
      "scan not pruned to l_shipdate")
    assert(!p.contains("l_extendedprice"), "scan reads unneeded columns")
  }

  test("q4: dimension join is a broadcast hash join, no cartesian") {
    val p = plan("q4_distance")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q3: driver round-trip isin literals are pushed into both scans") {
    val p = plan("q3_joinchain")
    assert(p.contains("In(o_custkey") || p.contains("In(c_custkey"),
      "top-3 isin literal not pushed into a parquet scan")
  }

  test("q3 replicate_nl hint forces the cartesian plan (the measured blow-up)") {
    // the one deliberate CartesianProduct in the suite — the reference's
    // own worst-case hint datapoint (results/query3.txt:92-94)
    assert(plan("q3_hint_replicate_nl").contains("CartesianProduct"))
  }

  test("ev_sessionize: both windows share one exchange") {
    val p = plan("ev_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"expected a single hash exchange for both windows, found $exchanges")
  }

  test("q_bucketed_join: bucketed sides join without an exchange") {
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_bucketed_join")
      // the only hash exchange allowed is the post-join aggregation;
      // a shuffling join would add one per side
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 1,
        s"bucketed join should not shuffle its inputs ($exchanges exchanges):\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ev_partitioned_scan: date filter becomes a plan-time PartitionFilter") {
    val p = plan("ev_partitioned_scan")
    assert(p.contains("PartitionFilters: [") &&
      !p.contains("PartitionFilters: []"),
      s"date filter not applied as a partition filter:\n$p")
    assert(p.contains("event_date"), "partition column missing from plan")
  }

  test("ev_range_join_native: custom RangeJoinExec planned, no explode, " +
      "agg reuses the join's partitioning") {
    val p = plan("ev_range_join_native")
    assert(p.contains("RangeJoin"), "custom operator not planned")
    assert(!p.contains("Generate explode"), "explode present in native plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"expected ≤2 exchanges (one per join side, agg reuses), got $exchanges")
  }

  test("text ops: map-only plan, scan pruned to (doc_id, text)") {
    val p = plan("text_tokens")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"))
    assert(!p.contains("Exchange hashpartitioning"),
      "per-row text op should not shuffle")
  }

  test("q3 join-1 cartesian variant plans the CartesianProduct (the headline blow-up)") {
    assert(plan("q3_hint_replicate_nl_join1").contains("CartesianProduct"))
  }

  test("dedup_exact_twopass: pass-1 exchange carries hashes, not text") {
    // the entire point of the two-pass shape — if `norm` leaks into the
    // first aggregation's exchange, the op degenerates to the one-shuffle
    // cost with two scans on top
    val df = operators.Dedup.exactDedupTwoPass(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val firstAgg = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(text_hash"))
      .toSeq
    assert(firstAgg.nonEmpty, s"no hash-keyed exchange found:\n$p")
    assert(firstAgg.exists(!_.contains("norm")),
      s"pass-1 exchange still carries the normalized text:\n$p")
  }

  test("q_profile_approx: no Expand (exact and sketch stay in separate aggs)") {
    val p = plan("q_profile_approx")
    assert(!p.contains("Expand"),
      s"Expand present — DISTINCT and HLL were planned in one aggregate:\n$p")
  }

  test("q1_csv: cached-schema read plans without an inference scan") {
    // the plan itself proves the explicit schema: an inference pass would
    // appear as a separate job before this one, but the reader must also
    // not re-infer — assert the scan reads the full typed schema directly
    val p = plan("q1_csv")
    assert(p.contains("ReadSchema: struct<l_shipdate"),
      s"csv scan lost its typed pruned schema:\n$p")
  }

  test("q_bloom_prune: packed-bitmap probe, no joins on the probe side") {
    // the runtime-filter shape: the bloom probe is ONE codegen expression
    // over the packed bitmap — zero joins; the only join left is the
    // exact-measurement semi (broadcast), and the fact rows shuffle only
    // for the final per-flag aggregate.
    val p = plan("q_bloom_prune")
    assert(p.contains("bloom_might_contain"),
      s"native bitmap probe expression not in plan:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj == 1,
      s"expected exactly the measurement join (probe must not join), got $bhj")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact rows must not shuffle for a join:\n$p")
  }

  test("sim_topk_binary: corpus never shuffles for candidates") {
    // the compression-tier shape: sign words + hamming prefilter are
    // per-row codegen against the BROADCAST query signatures — the only
    // allowed exchange is the k-bounded final merge of the two-stage
    // top-k aggregator over the hamming-ball survivors
    val p = plan("sim_topk_binary")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query signatures must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus must not shuffle for a join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"only the top-k partial merge may exchange, found $exchanges")
  }

  test("ANN final ranking is two-stage top-k — no q_id window funnel," +
      " partial agg before the exchange") {
    // the r10 scale-killer: row_number().over(Window.partitionBy(q_id))
    // shuffled the ENTIRE scored candidate stream into |q| = 3 reducer
    // partitions and sorted each. Every tier must now rank through the
    // partial-aggregable TopKAggregator: each map task forwards ≤ k rows
    // per query, so the one exchange carries k·tasks·|q| rows at any
    // corpus size. (IVF probe-selection windows are fine — they rank the
    // nCells-bounded centroid table, never the candidate stream.)
    Seq("sim_topk_bruteforce", "sim_topk_native", "sim_topk_lsh",
      "sim_topk_pq", "sim_topk_binary").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q ranking regressed to a window funnel:\n$p")
      assert(p.contains("partial_topkaggregator"),
        s"$q top-k must partial-combine map-side:\n$p")
    }
    Seq("sim_topk_ivf", "sim_topk_ivf_kmeans", "sim_topk_ivfpq").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_topkaggregator"),
        s"$q candidate ranking must partial-combine map-side:\n$p")
      // any window left must partition on q_id over the CENTROID table
      // (probe selection) — the candidate stream itself never windows
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"$q must not window the corpus stream:\n$p")
    }
  }

  test("dedup_pipeline: corpus pays one join and one low-card aggregate") {
    // the end-to-end curation query: everything upstream of the label
    // join operates on the pair graph (duplicated minority); the full
    // corpus appears exactly once, left-outer joined to the label table,
    // then collapses map-side into the per-lang rollup
    val p = plan("dedup_pipeline")
    assert(p.contains("LeftOuter"),
      s"keeper filter must be the left-outer label join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-lang rollup must partial-aggregate map-side:\n$p")
  }

  test("dedup_substring: corpus never shuffle-joins — broadcast-only plan") {
    // the dup-shingle set is corpus-sized (can't broadcast) and the
    // prescribed shape computes membership IN PLACE via a window over
    // the shingle-hash partitioning; the ONLY join allowed is the r8
    // hot-shingle bypass — a BROADCAST join against the tiny past-
    // hotCap set. A SortMergeJoin/ShuffledHashJoin here means the
    // positioned stream started shuffling twice for a membership test
    val p = plan("dedup_substring")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"substring dedup must not shuffle-join the corpus stream:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot-shingle bypass must be a broadcast join:\n$p")
    assert(p.contains("windowspecdefinition(shash"),
      s"cold dup membership must be the shash-partitioned window count:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"span/doc rollups must partial-aggregate map-side:\n$p")
  }

  test("dedup_containment: keyed joins only, pair counts collapse map-side") {
    // the probe join fans out by shingle DF (capped at maxDf) — it must
    // be a keyed shuffle join, never a cartesian/broadcast-nested-loop
    // (all-pairs), and the (a, b) hit counts must partial-aggregate
    // before the exchange so hot pairs collapse map-side
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never go all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"hit counts must partial-aggregate map-side:\n$p")
  }

  test("text_shuffle_pack: windows are slice-partitioned, never global") {
    // the global training order must come from the range-decomposed
    // prefix sum: every window spec partitions by the hash slice (rng).
    // A windowspec leading with shuffle_key/doc_id is the naive global
    // single-partition window — the 100 TB funnel this operator exists
    // to avoid
    val p = plan("text_shuffle_pack")
    assert(p.contains("windowspecdefinition(rng"),
      s"rank/cumsum windows must partition by the hash slice:\n$p")
    assert(!p.contains("windowspecdefinition(shuffle_key")
      && !p.contains("windowspecdefinition(doc_id"),
      s"no global (unpartitioned) window allowed:\n$p")
    // the slice-offset table joins back broadcast — the corpus stream
    // must not shuffle-join for its offsets
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"slice offsets must broadcast, not shuffle-join:\n$p")
  }

  test("q_heavy_hitters_cms: sketch aggregates collapse map-side") {
    // partial_count before the exchange = the map-side combine that keeps
    // the d×w sketch shuffle tiny at any corpus size ("HashAggregate"
    // alone would be vacuous — every aggregated plan contains it)
    val p = plan("q_heavy_hitters_cms")
    assert(p.contains("partial_count"),
      s"no partial_count before the sketch exchange:\n$p")
    assert(!p.contains("CartesianProduct"), "estimate join went cartesian")
    // exact-side top-k must be TakeOrderedAndProject (each partition
    // forwards only its own k rows) — never an unpartitioned global
    // window funnelling every post-agg key into one task
    assert(p.contains("TakeOrderedAndProject"),
      s"exact top-k must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window"),
      s"no window operator belongs in this plan:\n$p")
  }

  test("ANN cell assignment is a map-side max_by, never a vec_id window") {
    // corpus → nearest-centroid must partial-combine BEFORE any exchange
    // (one row per vector on the wire); a Window.partitionBy(vec_id)
    // regression re-shuffles the nCells-expanded stream with the full
    // 64-double payload — 16× the wire for the same argmax
    val km = plan("embed_kmeans_clusters")
    assert(!km.contains("Window"),
      s"kmeans assignment must not window:\n$km")
    assert(km.contains("partial_max_by"),
      s"assignment argmax must partial-combine map-side:\n$km")
    // IVF keeps q_id-partitioned windows (nQueries-bounded, fine); the
    // corpus-sized vec_id partitioning specifically must be gone
    Seq("sim_topk_ivf", "sim_topk_ivfpq", "dedup_semantic").foreach { q =>
      val p = plan(q)
      assert(!p.contains("windowspecdefinition(vec_id"),
        s"$q corpus assignment regressed to a vec_id window:\n$p")
    }
  }

  test("classifier apply/train/select: scoring is map-only — one rollup" +
      " exchange, no token explode") {
    // the linear model is additive over tokens, so apply must fold the
    // dot product INSIDE the row: the only exchange is the ≤ |langs|
    // rollup. A regression to explode + (doc, bin) grouping re-ships
    // document-sized data twice for the same integers. The TRAINED
    // variants (r11) serve the fitted 64-weight table as plan literals,
    // so their apply plans must keep the identical shape (training's
    // own 64-cell aggregate runs separately at model-fit time).
    Seq("text_classifier_score", "text_classifier_train",
      "text_importance_sample").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1,
        s"$q: expected one aggregate exchange, got $exchanges")
      assert(!p.contains("Generate explode"),
        s"$q: scoring must not explode tokens into a shuffle:\n$p")
      assert(p.contains("partial_count"),
        s"$q: rollup must partial-combine map-side:\n$p")
    }
  }

  test("ev_secondary_sort: one hash exchange, in-partition sort, no" +
      " window") {
    // the secondary-sort contract: repartition(user) + sortWithin is
    // the ONLY data movement — a Window or a second hash exchange means
    // the typed port regressed to the declarative plan it exists to
    // complement
    val p = plan("ev_secondary_sort")
    assert(!p.contains("Window"),
      s"typed running state must not plan a window:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly the repartition exchange, got $exchanges:\n$p")
    assert(p.contains("Sort [user_id"),
      s"expected the in-partition secondary sort:\n$p")
  }

  test("q_cbo_reorder: catalog stats + CBO flip the written join order," +
      " answer invariant") {
    val R = graft.operators.RefQueries
    // written order is deliberately worst: (lineitem ⋈ orders) ⋈
    // σ(customer). Without CBO Catalyst keeps it left-deep as written —
    // lineitem's relation appears BEFORE customer's in the optimized
    // tree. With stats + joinReorder the selective dimension must join
    // first, pushing lineitem below customer.
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    val off = R.cboQuery(spark, sf)
    val offPlan = off.queryExecution.optimizedPlan.toString
    val offRows = off.collect().map(_.toString).toSeq
    val on = R.qCboReorder(spark, sf) // CBO confs live on a CHILD session
    val onPlan = on.queryExecution.optimizedPlan.toString
    // the r12 weak: setting CBO session-wide switched Catalyst to
    // BasicStatsPlanVisitor for EVERY later plan in the session. The
    // child-session scoping must leave the parent's confs untouched
    // after building (and collecting) the reordered query.
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false",
      "qCboReorder leaked spark.sql.cbo.enabled into the parent session")
    assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "false",
      "qCboReorder leaked cbo.joinReorder.enabled into the parent session")
    assert(on.sparkSession ne spark,
      "the reordered query must execute on its own child session")
    assert(offPlan.indexOf("cbo_lineitem") >= 0 &&
      offPlan.indexOf("cbo_customer") >= 0, s"missing relations:\n$offPlan")
    assert(offPlan.indexOf("cbo_lineitem") < offPlan.indexOf("cbo_customer"),
      s"without CBO the written left-deep order must survive:\n$offPlan")
    assert(onPlan.indexOf("cbo_customer") < onPlan.indexOf("cbo_lineitem"),
      s"CBO did not reorder the dimension join first:\n$onPlan")
    // a plan transformation must never touch the answer
    assert(on.collect().map(_.toString).toSeq == offRows,
      "join reorder changed the result")
  }

  test("text_pii_scrub: detection and redaction are map-only — one" +
      " per-source rollup exchange, no explode, no join on the corpus") {
    val p = plan("text_pii_scrub")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected one rollup exchange, got $exchanges:\n$p")
    assert(!p.contains("Generate explode"),
      s"regex tiers must evaluate in-row, never explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the planted union must not shuffle the corpus into a join:\n$p")
    assert(p.contains("partial_count"),
      s"the per-source rollup must partial-combine map-side:\n$p")
  }

  test("q_hilbert_write/q_zorder_write: bucket list prunes partitions at" +
      " plan time, rectangle pushed to footers") {
    // the zone-map consult must turn into PLAN-VISIBLE partition pruning
    // on the curve-partitioned table (hbucket is a directory column:
    // non-qualifying buckets are never listed, let alone read), and the
    // exact rectangle must reach the parquet scan for row-group pruning
    Seq("q_hilbert_write", "q_zorder_write").foreach { q =>
      val p = plan(q)
      assert(p.contains("PartitionFilters: [") &&
        (p.contains("hbucket") && (p.contains("INSET") || p.contains(" IN ("))),
        s"$q: bucket candidates not applied as partition filters:\n$p")
      assert(p.contains("GreaterThanOrEqual(x8,") ||
        p.contains("PushedFilters: [IsNotNull(x8)"),
        s"$q: rectangle predicate not pushed to the parquet scan:\n$p")
    }
  }

  test("q_runtime_filter: injected bloom filter reaches the fact side of" +
      " a shuffle join, answer invariant, parent session untouched") {
    val R = graft.operators.RefQueries
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // reference: the same join on the PARENT session (runtime filter
    // vetoed by the default 10GB application-side threshold)
    val off = R.runtimeFilterQuery(spark, sf)
    val offPlan = off.queryExecution.executedPlan.toString
    assert(!offPlan.toLowerCase.contains("might_contain"),
      s"default thresholds must veto injection at fixture scale:\n$offPlan")
    val offRows = off.collect().map(_.toString).toSeq
    val on = SparkEntry.queries("q_runtime_filter")(spark, sf)
    val onPlan = on.queryExecution.executedPlan.toString
    // the mechanism: a bloom built from the selective orders side is
    // applied to lineitem BEFORE its exchange — rows that cannot join
    // never shuffle
    assert(onPlan.toLowerCase.contains("might_contain"),
      s"no runtime bloom filter in the fact scan:\n$onPlan")
    assert(onPlan.contains("SortMergeJoin") ||
      onPlan.contains("ShuffledHashJoin"),
      s"runtime filters only inject on shuffle joins:\n$onPlan")
    // a plan transformation must never touch the answer
    assert(on.collect().map(_.toString).toSeq == offRows,
      "runtime filter changed the result")
    // the PERF.md CBO lesson applied: confs live on the child session
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      == bcBefore,
      "qRuntimeFilter leaked autoBroadcastJoinThreshold into the parent")
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold") != "0",
      "qRuntimeFilter leaked the application-side threshold")
  }

  test("sim_topk_batch: ONE cell_id-keyed join against the assigned" +
      " corpus, join count constant in the batch size") {
    // the serving-shape claim: all queries probe the corpus through one
    // equi-join on cell_id — a per-query formulation would add a join
    // (and a corpus scan) per query
    def joinCensus(nq: Int): (Int, Int) = {
      val p = graft.operators.Similarity.topKBatch(spark, sf,
        nQueries = nq).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
      val cellJoins =
        "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell_id".r
          .findAllIn(p).length
      val allJoins = "Join".r.findAllIn(p).length
      (cellJoins, allJoins)
    }
    val (cell8, all8) = joinCensus(8)
    val (cell64, all64) = joinCensus(64)
    assert(cell8 == 1 && cell64 == 1,
      s"expected exactly one cell_id probe join, got $cell8/$cell64")
    assert(all8 == all64,
      s"join count must not grow with the batch size: $all8 vs $all64")
  }

  test("sim_topk_batch: serving-scale degradation — broadcast vetoed, the" +
      " probe join becomes a SHUFFLE join on cell_id, census still one," +
      " answer invariant") {
    // the graceful-degradation claim made checkable (the q_runtime_filter
    // twin-plan pattern): at serving scale (millions of queries) the
    // probe side outgrows any broadcast threshold — vetoing broadcast on
    // a child session must yield the SAME single cell_id-keyed join as a
    // shuffle join, with the same answer, and leak nothing to the parent
    val bcBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val base = graft.operators.Similarity.topKBatch(spark, sf, nQueries = 8)
    val baseRows = base.collect().map(_.toString).toSeq
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val served = graft.operators.Similarity.topKBatch(child, sf,
      nQueries = 8)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
    val shuffleCellJoins =
      "(SortMergeJoin|ShuffledHashJoin) \\[cell_id".r.findAllIn(p).length
    val bcastCellJoins =
      "BroadcastHashJoin \\[cell_id".r.findAllIn(p).length
    assert(shuffleCellJoins == 1 && bcastCellJoins == 0,
      s"expected exactly one SHUFFLE cell_id probe join under the veto," +
        s" got shuffle=$shuffleCellJoins bcast=$bcastCellJoins:\n$p")
    assert(served.collect().map(_.toString).toSeq == baseRows,
      "the shuffle-join degradation changed the answer")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      == bcBefore, "the veto leaked into the parent session")
  }

  test("q_compact_scan: bin candidates prune compacted partitions at" +
      " plan time, rectangle pushed to footers") {
    // compaction must not cost the prune: the per-BIN zone-map consult
    // lands as partition filters on the cbin directory column, and the
    // rectangle still reaches the parquet footers
    val p = plan("q_compact_scan")
    assert(p.contains("PartitionFilters: [") && p.contains("cbin") &&
      (p.contains("INSET") || p.contains(" IN (")),
      s"bin candidates not applied as partition filters:\n$p")
    assert(p.contains("GreaterThanOrEqual(x8,") ||
      p.contains("PushedFilters: [IsNotNull(x8)"),
      s"rectangle predicate not pushed to the parquet scan:\n$p")
  }

  test("q_delete_rewrite: the survivor scan reads ONLY zone-candidate" +
      " partitions, predicate pushed to footers") {
    // the COW delete's cost claim: everything outside the zone-map
    // candidates is never read — the survivor scan must carry hbucket
    // PartitionFilters (plan-time prune) with the rectangle predicate
    // reaching the parquet scan
    val (surv, touched) = graft.sources.Etl.cowSurvivors(spark,
      graft.sources.Etl.hilbertOrdersFixture(spark, sf),
      graft.operators.RefQueries.HilbertRect)
    assert(touched.nonEmpty, "no zone candidate — prune vacuous")
    val p = surv.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("hbucket") &&
      (p.contains("INSET") || p.contains(" IN (")),
      s"zone candidates not applied as partition filters:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("x8"),
      s"delete predicate not pushed to the parquet scan:\n$p")
  }

  test("q_schema_evolution: column pruning survives schema merge — the" +
      " never-projected column is not read from either generation") {
    val df = SparkEntry.queries("q_schema_evolution")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("o_bucket"),
      s"the evolved column must reach the scan:\n$p")
    assert("[<,]ck:".r.findFirstIn(p).isEmpty,
      s"the never-projected ck column must be pruned from the merged" +
        s" read:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a global aggregate needs no hash exchange:\n$p")
  }

  test("q_delete_mor: the DV build reads ONLY zone-candidate" +
      " partitions; serving is a broadcast position anti-join") {
    // the MOR delete's two cost claims: building the sidecar never
    // reads outside the predicate's zone candidates, and serving never
    // shuffles the corpus to learn what died
    val build = graft.sources.Etl.morDvBuild(spark,
      graft.sources.Etl.hilbertOrdersFixture(spark, sf))
    val bp = build.queryExecution.executedPlan.toString
    assert(bp.contains("PartitionFilters: [") && bp.contains("hbucket") &&
      (bp.contains("INSET") || bp.contains(" IN (")),
      s"DV build not partition-pruned to zone candidates:\n$bp")
    val p = plan("q_delete_mor")
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"),
      s"MOR serve must anti-join the broadcast sidecar:\n$p")
    assert(!"(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"the corpus must not shuffle to apply the DV:\n$p")
  }

  test("q_delete_mor_stacked: one scan, both sidecars applied as" +
      " broadcast anti-joins, no shuffle join; the dv2 build is" +
      " partition-pruned") {
    val E = graft.sources.Etl
    val build = E.morDv2Build(spark, E.hilbertOrdersFixture(spark, sf),
      E.morDvFixture(spark, sf))
    val bp = build.queryExecution.executedPlan.toString
    assert(bp.contains("PartitionFilters: [") && bp.contains("hbucket") &&
      (bp.contains("INSET") || bp.contains(" IN (")),
      s"dv2 build not partition-pruned to rect2's zone candidates:\n$bp")
    assert(bp.contains("BroadcastHashJoin") && bp.contains("LeftAnti"),
      s"dv2 build must apply dv1 as a broadcast anti-join:\n$bp")
    val p = plan("q_delete_mor_stacked")
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"),
      s"stacked serve must anti-join the broadcast sidecars:\n$p")
    assert(!"(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"the corpus must not shuffle to apply stacked DVs:\n$p")
  }

  test("q_wap_audit: the incremental audit probes live keys with a" +
      " broadcast semi-join — the corpus never shuffles on its key") {
    val p = plan("q_wap_audit")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"live-collision check must be a broadcast semi-join:\n$p")
    assert(!"(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"the published corpus must not shuffle for the audit:\n$p")
  }

  test("q_schema_drop: the dropped column reaches NO generation's scan" +
      " on the current read; the never-projected ck column is pruned") {
    val cur = graft.operators.RefQueries.schemaDropCurrent(spark,
      graft.sources.Etl.schemaDropFixture(spark, sf))
    val p = cur.queryExecution.executedPlan.toString
    assert(!p.contains("o_note"),
      s"the dropped column must not reach the current read's scan:\n$p")
    assert("[<,]ck:".r.findFirstIn(p).isEmpty,
      s"the never-projected ck column must be pruned:\n$p")
    // the full declared query still reads o_note — but ONLY through the
    // pre-drop epoch scan (history intact)
    val full = plan("q_schema_drop")
    assert(full.contains("o_note"),
      s"the pre-drop epoch read must still serve the dropped column:\n$full")
  }

  test("q_partition_evolution: each spec's file group carries its OWN" +
      " plan-time partition filter — two pruned scans, no corpus" +
      " shuffle") {
    val p = plan("q_partition_evolution")
    val insets = "PartitionFilters: \\[[^\\]]*pbucket[^\\]]*INSET"
      .r.findAllIn(p).length
    assert(insets == 2,
      s"expected one INSET partition filter per spec (2), got $insets:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the spec union must not join or shuffle the corpus:\n$p")
  }

  test("q_schema_widening: pruning survives the widened read — the" +
      " never-projected ck column is not read from any generation") {
    val df = SparkEntry.queries("q_schema_widening")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("o_qty"),
      s"the widened column must reach the scan:\n$p")
    assert("[<,]ck:".r.findFirstIn(p).isEmpty,
      s"the never-projected ck column must be pruned from the widened" +
        s" read:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a global aggregate needs no hash exchange:\n$p")
  }

  test("q_schema_rename: pruning survives the mapped read — the" +
      " never-projected ck column is not read from either generation") {
    val df = SparkEntry.queries("q_schema_rename")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("o_qty") && p.contains("qty_v1"),
      s"both physical column names must reach their generation's scan:\n$p")
    assert("[<,]ck:".r.findFirstIn(p).isEmpty,
      s"the never-projected ck column must be pruned from the mapped" +
        s" read:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a global aggregate needs no hash exchange:\n$p")
  }

  test("q_merge_rewrite: the update-half read touches ONLY stripe" +
      " zone-candidate partitions, stripe predicate pushed to footers") {
    // the MERGE cost claim mirrors the delete's: rows can only LEAVE
    // partitions the stripe's zone maps nominate — that read must be a
    // plan-time partition prune with the stripe filter at the scan
    val (sLo, sHi) = graft.operators.RefQueries.MergeStripe
    val E = graft.sources.Etl
    val (candRows, srcCands) = E.candidateScan(spark,
      E.hilbertOrdersFixture(spark, sf), E.stripeRect)
    assert(srcCands.nonEmpty, "no stripe zone candidate — prune vacuous")
    val p = candRows
      .filter(org.apache.spark.sql.functions.col("x8").between(sLo, sHi))
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("hbucket") &&
      (p.contains("INSET") || p.contains(" IN (")),
      s"stripe candidates not applied as partition filters:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("x8"),
      s"stripe predicate not pushed to the parquet scan:\n$p")
  }

  test("q_grouping_sets: one Expand pass feeding one partial-combined agg") {
    // two sideways breakdowns in a single scan: Expand duplicates each
    // row once per set (2×), then ONE aggregate with map-side partials —
    // two separate group-bys would scan and shuffle twice
    val p = plan("q_grouping_sets")
    assert("Expand".r.findAllIn(p).length >= 1 && p.contains("partial_count"),
      s"expected Expand + partial aggregation:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one aggregate exchange, got $exchanges")
  }

  test("media ops: scan pruned to (doc_id, text), decode is map-only") {
    // the real-codec rewrite must not have cost the columnar pruning or
    // introduced a shuffle — decode runs per-partition, one narrow stage
    Seq("mm_resize", "mm_frame_sample", "mm_audio_features").foreach { q =>
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"),
        s"$q scan not pruned to (doc_id, text):\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q decode stage must not shuffle:\n$p")
    }
  }

  test("ev_cdc_compact: argmax aggregate, no window sort, partial combine") {
    val p = plan("ev_cdc_compact")
    assert(!p.contains("Window"), s"compaction must not window-sort:\n$p")
    assert(p.contains("partial_max_by"),
      s"argmax must partial-combine map-side:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges")
  }

  test("q_hll_distinct: registers collapse map-side, mix64 stays native") {
    val p = plan("q_hll_distinct")
    // partial_max before the exchange: the wire carries ≤ groups·m
    // register partials, never raw key rows
    assert(p.contains("partial_max"),
      s"register max must partial-combine map-side:\n$p")
    assert(p.contains("mix64"), s"hash must be the codegen'd mix64:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_preagg_rollup: monthly level re-shuffles only the daily output") {
    // two chained aggregates: the fact table pays ONE shuffle at day
    // grain; the month rollup's exchange carries only daily rows
    val p = plan("q_preagg_rollup")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected day-grain + tiny month-grain exchanges, got $exchanges")
    assert(p.contains("partial_count"),
      s"daily aggregate must partial-combine map-side:\n$p")
  }

  test("text_cap_per_source: rank filter compiles to WindowGroupLimit") {
    // every map partition forwards ≤ cap rows per source BEFORE the
    // exchange — the property that makes a web-scale hot domain cost
    // the shuffle ≤ cap·partitions rows instead of its full membership
    val p = plan("text_cap_per_source")
    assert(p.contains("WindowGroupLimit"),
      s"rn <= cap must push down as WindowGroupLimit:\n$p")
    assert(p.contains("windowspecdefinition(source"),
      s"row_number must partition by source:\n$p")
  }

  test("ev_scd2: every window partitions by user_id, nothing global") {
    val p = plan("ev_scd2")
    val specs = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("user_id"),
      s"all window specs must lead with user_id, got $specs:\n$p")
  }

  test("ev_transition_matrix: one data-sized window, broadcast normalizer") {
    val p = plan("ev_transition_matrix")
    // the corpus shuffles once (user_id window); pair counts collapse
    // map-side; the per-source totals join back broadcast
    assert(p.contains("windowspecdefinition(user_id"),
      s"lead() must partition by user_id:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must partial-combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"row-normalizing totals must broadcast:\n$p")
  }

  test("text_textrank: ordered-limit top-k, no global window downstream") {
    // the corpus-touching window (lead per doc) runs inside the eager
    // localCheckpoint that freezes the edge table; the iteration plan
    // itself must be window-free with a TakeOrderedAndProject top-k
    val p = plan("text_textrank")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as ordered limit, not sort-all:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"iteration plan must not re-window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ev_hll_sliding: window-free sketch merge, map-side register max") {
    val p = plan("ev_hll_sliding")
    assert(!p.contains("windowspecdefinition"),
      s"sliding merge must be sketch-side fan-out, not a window:\n$p")
    assert(p.contains("partial_max"),
      s"register max must partial-combine map-side:\n$p")
    assert(p.contains("mix64"), s"hash must be the codegen'd mix64:\n$p")
  }

  test("text_pmi_bigrams: marginals from the pair table, ordered-limit") {
    val p = plan("text_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as ordered limit:\n$p")
    // the only corpus-sized window is the per-doc lead(); marginals must
    // come from re-aggregating the pair table, not a second corpus pass
    val specs = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("doc_id"),
      s"only the per-doc lead window may exist, got $specs:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must partial-combine map-side:\n$p")
  }

  test("text_winnowing: every window partitions by doc_id") {
    val p = plan("text_winnowing")
    val specs = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("doc_id"),
      s"all windows must partition by doc_id, got $specs:\n$p")
    assert(p.toLowerCase.contains("polyhash"),
      s"shingle hash must be the codegen'd poly_hash:\n$p")
  }

  test("ev_attribution: per-user carry-forward, map-side daily rollup") {
    val p = plan("ev_attribution")
    val specs = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs == Set("user_id"),
      s"the last-click window must partition by user_id, got $specs:\n$p")
    assert(p.contains("partial_count"),
      s"daily rollup must partial-combine map-side:\n$p")
  }

  test("q_histogram: window-free CDF on the frozen bucket table") {
    val p = plan("q_histogram")
    assert(!p.contains("windowspecdefinition"),
      s"CDF must come from the triangular broadcast join, not a window:\n$p")
    // since the histFinalize refactor the bucket table is
    // localCheckpoint'ed (it feeds total, cume, and the final join), so
    // the finalize plan must build on the frozen table — one parquet
    // scan total, paid before the freeze, not once per consumer
    assert(!p.toLowerCase.contains("parquet"),
      s"finalize must run on the frozen bucket table, not re-scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"triangular cume join must broadcast the tiny bucket table:\n$p")
  }

  test("text_vocab_growth: cumsum windows are range-partitioned, never" +
      " global") {
    // the Heaps curve's running sum must be the range-decomposed prefix
    // sum: windows partition by the doc_id range, offsets broadcast back.
    // A windowspec leading with doc_id is the naive global
    // single-partition window — the 100 TB funnel
    val p = plan("text_vocab_growth")
    assert(p.contains("windowspecdefinition(rng"),
      s"cumsum window must partition by the doc_id range:\n$p")
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"no global (unpartitioned) window allowed:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"range offsets must broadcast, not shuffle-join:\n$p")
  }

  test("text_freq_spectrum: vocabulary aggregate partial-combines" +
      " map-side") {
    val p = plan("text_freq_spectrum")
    assert(p.contains("partial_count"),
      s"(tok, cnt) vocabulary must partial-aggregate before the wire:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"the spectrum needs no window operator:\n$p")
  }

  test("text_bigram_surprisal: bigram window is per-doc, LM join hint-free") {
    val p = plan("text_bigram_surprisal")
    val specs = "windowspecdefinition\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(specs.nonEmpty && specs.forall(_.endsWith("doc_id")),
      s"bigram formation must window per document, got $specs:\n$p")
    assert(p.contains("partial_count"),
      s"bigram counts must partial-combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"LM score join must never go cartesian:\n$p")
  }

  test("ev_ohlc: bars are one windowless argmin/argmax aggregate") {
    // the whole bar must be a single aggregate with map-side partials —
    // a row_number-over-window open/close would sort every raw event
    val p = plan("ev_ohlc")
    assert(!p.contains("windowspecdefinition"),
      s"open/close must be min_by/max_by aggregates, not a window:\n$p")
    assert(p.contains("partial_count"),
      s"bars must partial-combine map-side:\n$p")
  }

  test("q_hll_intersect: registers collapse map-side, pairs stay in" +
      " sketch space") {
    val p = plan("q_hll_intersect")
    assert(p.contains("partial_max"),
      s"register build must partial-combine map-side:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window belongs in a sketch-merge plan:\n$p")
    // the pair fan-out joins the m-row register table, never raw events:
    // the only SortMergeJoin allowed is the (user, type)-bounded exact
    // twin's self-join
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"pair fan-out must broadcast the tiny pair list:\n$p")
  }

  test("embed_pca_power: iterations run on the frozen Gramian, not the" +
      " corpus") {
    // the d²-row Gramian is localCheckpoint'ed: the iteration plan must
    // contain NO parquet scan (each of the 3 matrix–vector stages would
    // otherwise replay the full corpus fan-out) and no cartesian.
    // Since r10 the DECLARED query serves the cached fitted model (a
    // local relation), so the guard inspects the eigensolver chain the
    // cache builder runs — the plan of the final iterated eigenvector.
    val (_, v) = graft.operators.Similarity.pcaGramAndEigvec(spark, sf)
    val p = v.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"iteration plan re-scans the corpus — Gramian not frozen:\n$p")
    assert(p.contains("partial_sum"),
      s"matrix-vector products must partial-combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
    // and the declared query itself is fitted-model-cache-served: no
    // corpus scan, no exchange — the Gramian is paid once per process
    val served = plan("embed_pca_power")
    assert(!served.contains("Scan parquet"),
      s"declared query should serve the cached model:\n$served")
  }

  test("q_fk_integrity: anti joins on pruned single-column scans") {
    val p = plan("q_fk_integrity")
    assert("LeftAnti".r.findAllIn(p).length >= 8,
      s"each of the 8 FK edges must plan a LEFT ANTI join:\n$p")
    assert(!p.contains("CartesianProduct"), s"audit went cartesian:\n$p")
    // child scans must prune to the key column: no payload column of the
    // widest child (lineitem) may reach any scan in this plan
    assert(!p.contains("l_extendedprice") && !p.contains("l_quantity"),
      s"lineitem scan reads payload columns for a key-only audit:\n$p")
  }

  test("q_set_ops: set operators distinct map-side, no naive full joins") {
    val p = plan("q_set_ops")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"distinct must partial-aggregate:\n$p")
    assert("LeftSemi".r.findAllIn(p).nonEmpty &&
      "LeftAnti".r.findAllIn(p).nonEmpty,
      s"INTERSECT/EXCEPT must plan as semi/anti joins:\n$p")
  }

  test("ev_unpivot: melt plans as a single Expand, no join") {
    val p = plan("ev_unpivot")
    assert(p.contains("Expand"),
      s"unpivot must plan as an Expand pass:\n$p")
    assert(!"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).hasNext,
      s"the melt itself needs no join:\n$p")
  }

  test("q_subqueries: every subquery decorrelates — no re-execution") {
    val p = plan("q_subqueries")
    assert("ExistenceJoin".r.findAllIn(p).length >= 2,
      s"EXISTS/NOT EXISTS must plan as existence joins:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"decorrelation failed — cartesian in the plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a correlated predicate survived as a nested loop:\n$p")
  }

  test("ev_rolling_window: RANGE frame over the per-user daily" +
      " pre-aggregate") {
    val p = plan("ev_rolling_window")
    val specs = "windowspecdefinition\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(specs.nonEmpty && specs.forall(_.endsWith("user_id")),
      s"rolling window must partition by user_id, got $specs:\n$p")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      s"frame must be RANGE (calendar days), not ROWS:\n$p")
    assert(p.contains("partial_count"),
      s"daily pre-aggregate must partial-combine before the window:\n$p")
  }

  test("dedup_triangles: census runs on the frozen edge list") {
    // the simhash pair pipeline is localCheckpoint'ed: degrees,
    // orientation, and the closure probe must NOT each replay the
    // corpus — no parquet scan may survive in the census plan
    val p = plan("dedup_triangles")
    assert(!p.contains("Scan parquet"),
      s"census plan re-scans the corpus — edge list not frozen:\n$p")
    assert(!p.contains("CartesianProduct"), s"census went cartesian:\n$p")
  }

  test("ev_snapshot_diff: full outer join of key-collapsed snapshots") {
    val p = plan("ev_snapshot_diff")
    assert(p.contains("FullOuter"),
      s"reconciliation must plan a FULL OUTER join:\n$p")
    assert(p.contains("partial_count"),
      s"snapshots must collapse map-side before the join:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window belongs in this plan:\n$p")
  }

  test("text_bpe_merges: pair selection runs on the frozen word table") {
    // the (word, count) table is localCheckpoint'ed and each step's
    // winner is a 1-row fitted decision off it: the per-step plan must
    // contain no parquet scan, select via an ordered limit, and use no
    // window; the final merge table itself is driver-built (the model)
    val words = graft.operators.TextAnalysis.bpeWordTable(spark, sf)
    val p = graft.operators.TextAnalysis.bpeTopPair(spark, words)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      s"pair selection re-scans the corpus — word table not frozen:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"pair winner must plan as ordered limit, not sort-all:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window belongs in the merge plan:\n$p")
  }

  test("sim_radius: corpus never shuffles — broadcast scan, map-side" +
      " τ filter and band audit") {
    val p = plan("sim_radius")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 3-query set must broadcast against the corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"radius search must never shuffle the corpus for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window belongs in a radius scan:\n$p")
  }

  test("text_lm_backoff: windows per doc, no cartesian, partial combine") {
    val p = plan("text_lm_backoff")
    val specs = "windowspecdefinition\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(specs.nonEmpty && specs.forall(_.endsWith("doc_id")),
      s"bigram formation must window per doc, got $specs:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"LM tables must partial-combine map-side:\n$p")
  }

  test("ev_paths: one per-user window pass, ordered-limit top-k") {
    val p = plan("ev_paths")
    val specs = "windowspecdefinition\\(\\w+".r.findAllIn(p).toSeq.distinct
    assert(specs.nonEmpty && specs.forall(_.endsWith("user_id")),
      s"path formation must window per user, got $specs:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as ordered limit, not sort-all:\n$p")
    assert(p.contains("partial_count"),
      s"path counts must partial-combine map-side:\n$p")
  }

  test("ev_dwell_time and ev_gap_fill: windows are per-user, never global") {
    for (name <- Seq("ev_dwell_time", "ev_gap_fill")) {
      val p = plan(name)
      val specs = "windowspecdefinition\\(\\w+".r.findAllIn(p).toSeq.distinct
      assert(specs.nonEmpty && specs.forall(_.endsWith("user_id")),
        s"$name: every window must partition by user_id, got $specs:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name went cartesian:\n$p")
    }
  }

  /** Shared census assertion for the manifest time-travel reads: ONE
    * physical scan serves the whole history slice, holding exactly the
    * DISTINCT files of the referenced versions — a file shared by
    * several versions appears once (opened once), and rows fan out to
    * versions through the broadcast manifest map, never a shuffle. */
  private def assertManifestTimeTravel(name: String,
      versions: Range): Unit = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sf)
    val df = SparkEntry.queries(name)(spark, sf)
    val scans = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, out, _, _, _)
          if out.exists(_.name == "o_orderkey") =>
        r.location.inputFiles.length
    }
    val distinctFiles = versions.flatMap(E.chainManifest(root, _))
      .distinct.size
    assert(scans == Seq(distinctFiles),
      s"$name: expected ONE history scan of exactly the $distinctFiles" +
        s" distinct files, got scans $scans")
    val p = plan(name)
    assert(p.contains("BroadcastHashJoin"),
      s"the manifest map must broadcast:\n$p")
    assert(!"(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      s"history attribution must not shuffle the corpus:\n$p")
  }

  test("q_time_travel: served through the manifest protocol — one scan" +
      " of the two versions' distinct files, shared files never read" +
      " twice, no shuffle join") {
    assertManifestTimeTravel("q_time_travel", 0 to 1)
  }

  test("q_time_travel_chain: 4 versions, ONE history scan — shared" +
      " history files are never read once per referencing version") {
    assertManifestTimeTravel("q_time_travel_chain", 0 to 3)
  }

  test("q_dpp_join: dynamic partition pruning subquery reaches the fact" +
      " scan") {
    val df = SparkEntry.queries("q_dpp_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the whole point: the partition filter must be DYNAMIC (runtime
    // subquery against the dim broadcast), not a static literal list —
    // a regression to scan-all returns the same rows, so only this
    // guard catches it
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a DynamicPruningExpression:\n$p")
    assert(p.contains("PartitionFilters"),
      s"pruning must land in the scan's partition filters:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 7-row dim must broadcast, not shuffle:\n$p")
  }

  test("ev_lateness: range-decomposed arrival sequence — windows" +
      " partition on (shard, rng) cells, never on the nShards-cardinality" +
      " key alone; triangular broadcast batch max") {
    // the r11 scale-killer shape: row_number().over(Window.partitionBy(
    // shard)) with nShards = 4 shuffled the ENTIRE events table into 4
    // reducer partitions and sorted n/4 rows in each. The replay now
    // sequences within ≤ 8192 bounded (shard, id-range) cells with
    // broadcast per-cell offsets, so every window's partition spec must
    // carry BOTH keys — a spec whose second token is the ORDER column
    // (event_id) means the funnel came back.
    val p = plan("ev_lateness")
    val specs = """windowspecdefinition\((\w+)#\d+L?, (\w+)#\d+L?""".r
      .findAllMatchIn(p).map(m => (m.group(1), m.group(2))).toSeq.distinct
    assert(specs.nonEmpty && specs.forall {
        case (a, b) => a == "shard" && b == "rng"
      },
      s"every sequence window must partition on (shard, rng), got" +
        s" $specs:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the cross-batch running max must be the triangular broadcast" +
        s" join over the bounded batch table:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-type report must partial-combine map-side:\n$p")
  }

  test("dedup_incremental: ONE band-bucket join over frozen signature" +
      " tables — the index never self-joins") {
    val df = SparkEntry.queries("dedup_incremental")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // both signature tables are eager checkpoints (the persisted-index
    // stand-in): the final plan must read frozen scans, not replay the
    // shingle pipeline against parquet
    assert(!p.toLowerCase.contains("parquet"),
      s"candidate join must read the frozen signature index, not re-scan" +
        s" parquet:\n$p")
    // exactly ONE equi-join: Δ probing (index ∪ Δ). A second join —
    // or any cartesian — means an index×index candidate path exists,
    // the exact work the incremental identity removes
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(p).length
    assert(joins == 1,
      s"expected exactly the delta-probe join, got $joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
  }

  test("dedup_minhash_lsh: both self-join sides share one exchange — the" +
      " corpus is scanned and signed once per query") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
    df.collect()
    // the AQE FINAL plan: runtime exchange reuse only shows after the
    // action. The build side must read the probe side's (band, bsig)
    // exchange back as a ReusedExchange; a second documents.parquet
    // location means each side scans and signs the corpus again.
    val aqe = df.queryExecution.executedPlan
    assert(aqe.toString.contains("isFinalPlan=true"),
      s"plan was not executed:\n$aqe")
    val p = aqe.asInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
      .executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 1,
      s"expected one documents scan shared by both join sides, got" +
        s" $docScans:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the second join side must reuse the banded exchange:\n$p")
  }

  test("minhashBanded: one minhash_sig evaluation per document — no NULL" +
      " filter pushed below the signing Project") {
    // a `sig IS NOT NULL` Filter over the Project is pushed below it by
    // inlining `sig`, so the regex normalisation and the signing kernel
    // run twice per row; the guard belongs inside the band explode
    val docs = Tables.read(spark, sf, "documents")
    val p = operators.Dedup.minhashBanded(docs)
      .queryExecution.optimizedPlan.toString
    val calls = "minhashsig\\(".r.findAllIn(p.toLowerCase).length
    assert(calls == 1,
      s"expected exactly one minhash_sig call per row, got $calls:\n$p")
  }

  test("dedup_forget_index: the alive corpus is never re-signed — one" +
      " parquet scan (the tombstone side), subtraction broadcast") {
    val df = SparkEntry.queries("dedup_forget_index")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the persisted cells are a frozen checkpoint; the ONLY parquet read
    // in the final plan is the tombstone batch being re-signed — a
    // second scan would mean the maintenance re-reads the corpus it
    // promised never to touch. Guard on the INPUT PATHS, not the
    // renderer's scan-node token (which drifts across Spark versions):
    // exactly one documents.parquet location, no other table's.
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 1,
      s"expected exactly the tombstone-side documents scan, got" +
        s" $docScans:\n$p")
    val otherScans = "[a-z_]+\\.parquet".r.findAllIn(p).toList
      .filterNot(_.contains("documents"))
    assert(otherScans.isEmpty,
      s"index maintenance must read no other table, got $otherScans:\n$p")
    // the dead contributions are compliance-sized: the subtract join
    // must broadcast them, never shuffle the persisted index
    assert(p.contains("BroadcastHashJoin"),
      s"cell subtraction must broadcast the dead contributions:\n$p")
    val shuffles = "(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).length
    assert(shuffles == 0,
      s"no shuffle join belongs in index maintenance, got $shuffles:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
  }

  test("dedup_forget_cc: touched label buckets prune the pair store at" +
      " plan time") {
    // the operator's own 100 TB claim: the daily compliance batch reads
    // O(touched pairs) — the physical pair store's lbucket partition
    // column must carry the touched-bucket literals as PLAN-TIME
    // partition filters, so untouched components' pair files are never
    // listed, opened, or decoded (ForgetSpec proves the bucket set is a
    // strict subset and the prune lossless). Guarded on the pruned READ
    // itself: the star-CC resolver freezes its input, so the declared
    // query's final plan shows only the frozen iterate.
    val (_, labeledPairs, _) =
      graft.operators.Forget.prunedPairStore(spark, sf)
    val p = labeledPairs.queryExecution.executedPlan.toString
    // a single touched bucket folds the isin to an equality — accept
    // INSET / IN / = as long as it lands in PartitionFilters on lbucket
    assert(p.contains("PartitionFilters: [") && p.contains("lbucket") &&
      (p.contains("INSET") || p.contains(" IN (") ||
        "lbucket#\\d+ = \\d+".r.findFirstIn(p).isDefined),
      s"touched buckets not applied as partition filters:\n$p")
    assert(!plan("dedup_forget_cc").contains("CartesianProduct"),
      "plan went cartesian")
  }

  test("sim_topk_ivf_incremental: the index is never re-read on ingest —" +
      " embeddings scanned exactly twice (Δ assignment + query probes)") {
    val df = SparkEntry.queries("sim_topk_ivf_incremental")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the persisted cell-assigned index is a frozen checkpoint: the only
    // parquet reads in the final plan are the arriving shard being
    // assigned and the query vectors probing — a third scan would mean
    // ingest re-reads the index corpus it promised never to touch.
    // Guard on the INPUT PATHS (which inputs are read), not the
    // renderer's scan-node token: exactly two embeddings.parquet
    // locations, no other table's.
    val embScans = "embeddings\\.parquet".r.findAllIn(p).length
    assert(embScans == 2,
      s"expected exactly the Δ-assignment and query-probe embeddings" +
        s" scans, got $embScans:\n$p")
    val otherScans = "[a-z_]+\\.parquet".r.findAllIn(p).toList
      .filterNot(_.contains("embeddings"))
    assert(otherScans.isEmpty,
      s"ingest must read no other table, got $otherScans:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
  }

  test("dedup_pagerank: contributions partial-combine map-side, iterates" +
      " run on frozen inputs") {
    val df = SparkEntry.queries("dedup_pagerank")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the loop ran on localCheckpoint'ed iterates: the FINAL plan reads
    // frozen in-memory scans, not the replayed minhash pipeline (each
    // iteration's contribution partial_sum lives inside the materialized
    // iterates and is asserted by the degree aggregate below)
    assert(!p.toLowerCase.contains("parquet"),
      s"final iterate must build on frozen inputs, not re-scan parquet:\n$p")
    assert(p.contains("partial_count"),
      s"the degree aggregate must partial-combine map-side (hub safety):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan went cartesian:\n$p")
  }

  test("text_hash_features: one explode pass, map-side bin counts," +
      " no join") {
    val p = plan("text_hash_features")
    assert(p.contains("partial_count"),
      s"(doc, bin) counts must partial-combine map-side:\n$p")
    assert(!p.contains("Join"), s"featurization needs no join at all:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window belongs in feature hashing:\n$p")
    assert(p.toLowerCase.contains("polyhash"),
      s"binning must use the codegen'd poly_hash expression:\n$p")
  }

  test("q_table_changes: reads exactly the commits' retired+added files" +
      " — never a snapshot, zero files for the layout-only transition") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sf)
    val df = SparkEntry.queries("q_table_changes")(spark, sf)
    val scanned = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.inputFiles.length
    }.sum
    // expected = Σ over the two DATA transitions of |retired| + |added|;
    // the OPTIMIZE transition (dataChange=false) contributes ZERO scans
    val expected = (1 to 2).map { v =>
      val pre = E.chainManifest(root, v - 1).toSet
      val post = E.chainManifest(root, v).toSet
      (pre -- post).size + (post -- pre).size
    }.sum
    assert(scanned == expected,
      s"change feed scanned $scanned files, commit artifacts are $expected")
    // strictly partial: a snapshot-sized read would defeat the operator
    val snapshot = (0 to 3).map(v => E.chainManifest(root, v).size).max
    assert(scanned < snapshot,
      s"change feed read $scanned files >= a full snapshot ($snapshot)")
  }

  test("q_stats_prune: the pruned scan reads exactly the stats-nominated" +
      " files, strictly partial, and pruning is lossless") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.spark.sql.functions.col
    val E = graft.sources.Etl
    val R = graft.operators.RefQueries
    val root = E.priceStatsFixture(spark, sf)
    val (lo, hi) = R.PriceRangeCents
    val df = SparkEntry.queries("q_stats_prune")(spark, sf)
    val row = df.collect()(0)
    val (nTotal, nScanned) = (row.getLong(0), row.getLong(1))
    assert(nScanned > 0 && nScanned < nTotal,
      s"pruning must be real and partial: $nScanned of $nTotal")
    // the DATA scan (reading `cents`) holds exactly the nominated files;
    // the other scan is the stats sidecar itself
    val dataScans = df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, out, _, _, _)
          if out.exists(_.name == "cents") =>
        r.location.inputFiles.length
    }
    assert(dataScans == Seq(nScanned.toInt),
      s"data scan file census $dataScans != nominated $nScanned")
    // lossless: the pruned aggregate equals the same aggregate over the
    // UNPRUNED table — files outside the nominated set hold no band row
    val full = spark.read.parquet(s"$root/${E.PriceTableDir}")
      .filter(col("cents").between(lo, hi))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum(col("cents"))).collect()(0)
    assert(full.getLong(0) == row.getLong(2) &&
      full.getLong(1) == row.getLong(4),
      "stats pruning dropped or invented band rows vs the full scan")
  }

  test("sim_topk_ivfpq: corpus joins only broadcast fitted models," +
      " ADC scoring partial-combines") {
    val p = plan("sim_topk_ivfpq")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized sort-merge join belongs in IVF-PQ:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"centroids/codebook/ADC tables must broadcast:\n$p")
    assert(p.contains("partial_min") || p.contains("min_by") ||
      p.contains("partial_sum"),
      s"encode argmin must partial-combine map-side:\n$p")
  }
}
