package graft

import graft.sources.Etl

/** Physical semantics of the depth-4 commit chain (`Etl.chainFixture`):
  * commit immutability, version content invariants, and the retention
  * VACUUM executed for real on a copy — the expired version must fail
  * loudly while every kept version stays byte-identical, including the
  * {v0,v1}-shared files a naive oldest-vs-current diff would delete. */
class ChainSpec extends SparkSpec {

  private def rowKey(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long)] =
    df.select("o_orderkey", "hidx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("chain content invariants: v1 = v0 minus the rectangle, v3 ≡ v2" +
      " row-for-row, commits only add files") {
    import org.apache.spark.sql.functions.col
    val root = Etl.chainFixture(spark, sf)
    val (xLo, xHi, yLo, yHi) = graft.operators.RefQueries.HilbertRect
    val v0 = Etl.chainReadVersion(spark, root, 0)
    val v1 = Etl.chainReadVersion(spark, root, 1)
    val v2 = Etl.chainReadVersion(spark, root, 2)
    val v3 = Etl.chainReadVersion(spark, root, 3)
    val rect = col("x8").between(xLo, xHi) && col("y8").between(yLo, yHi)
    assert(v1.filter(rect).count() == 0L,
      "v1 must hold no deleted-rectangle row")
    assert(rowKey(v1) == rowKey(v0.filter(!rect)),
      "v1 must be exactly v0's rectangle survivors")
    assert(rowKey(v3) == rowKey(v2),
      "OPTIMIZE must move bytes, never rows")
    // commit immutability: every file a version references exists, and
    // a later version never references a file its commit didn't write
    // or an earlier manifest didn't already carry
    val manifests = (0 to 3).map(v => Etl.chainManifest(root, v))
    manifests.zipWithIndex.foreach { case (files, v) =>
      files.foreach { rel =>
        assert(new java.io.File(s"$root/${Etl.ChainDataDir}/$rel").exists(),
          s"v$v references missing file $rel")
        val commit = rel.takeWhile(_ != '/').drop(1).toInt
        assert(commit <= v,
          s"v$v references a FUTURE commit's file $rel")
      }
    }
    // the chain genuinely shares: v1 re-points some of v0's files
    assert((manifests(0).toSet & manifests(1).toSet).nonEmpty,
      "v1 must share untouched files with v0 (manifest re-point)")
  }

  test("merge-on-read ≡ copy-on-write: the two DELETE strategies serve" +
      " the identical survivor set, and MOR rewrites nothing") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val base = Etl.hilbertOrdersFixture(spark, sf)
    val cow = Etl.deleteRewriteFixture(spark, sf)
    val dvRoot = Etl.morDvFixture(spark, sf)
    import org.apache.spark.sql.functions.substring_index
    val dv = spark.read.parquet(s"$dvRoot/dv")
    val morSurvivors = spark.read
      .parquet(s"$base/${Etl.HilbertTableDir}")
      .select(col("o_orderkey"),
        substring_index(col("_metadata.file_path"),
          s"/${Etl.HilbertTableDir}/", -1).as("fp"),
        col("_metadata.row_index").as("ri"))
      .join(broadcast(dv), Seq("fp", "ri"), "left_anti")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val cowSurvivors = spark.read
      .parquet(s"$cow/${Etl.HilbertTableDir}")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(morSurvivors == cowSurvivors,
      s"DELETE strategies disagree: only-mor=" +
        s"${morSurvivors.diff(cowSurvivors).take(3)} only-cow=" +
        s"${cowSurvivors.diff(morSurvivors).take(3)}")
    assert(dv.count() > 0, "deletion vector is empty — vacuous")
    // every DV entry must point at a real base file (a stale sidecar
    // referencing a rewritten file is the MOR failure mode)
    val fps = dv.select(col("fp")).distinct().collect().map(_.getString(0))
    fps.foreach { fp =>
      assert(new java.io.File(s"$base/${Etl.HilbertTableDir}/$fp").exists(),
        s"DV references missing base file $fp")
    }
  }

  test("stacked DVs: positions disjoint across sidecars, composed read" +
      " ≡ sequential deletes, compaction ≡ twice-applied COW and reads" +
      " with no anti-join") {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val base = Etl.hilbertOrdersFixture(spark, sf)
    val dv1 = spark.read.parquet(s"${Etl.morDvFixture(spark, sf)}/dv")
    val dv2 = spark.read.parquet(s"${Etl.morDv2Fixture(spark, sf)}/dv")
    // dv2 must tombstone only rows ALIVE under dv1 — the overlap of the
    // two rectangles lives in dv1 alone (no double-tombstoning)
    val p1 = dv1.select("fp", "ri").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val p2 = dv2.select("fp", "ri").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(p2.nonEmpty, "second sidecar empty — stacking vacuous")
    assert((p1 & p2).isEmpty,
      s"${(p1 & p2).size} positions tombstoned twice across stacked DVs")
    def positioned = spark.read.parquet(s"$base/${Etl.HilbertTableDir}")
      .select(col("o_orderkey"),
        substring_index(col("_metadata.file_path"),
          s"/${Etl.HilbertTableDir}/", -1).as("fp"),
        col("_metadata.row_index").as("ri"))
    def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("o_orderkey").collect().map(_.getLong(0)).toSet
    // composed read (one anti-join on dv1 ∪ dv2) ≡ sequential reads
    val composed = keys(positioned
      .join(broadcast(dv1.unionByName(dv2)), Seq("fp", "ri"), "left_anti"))
    val sequential = keys(positioned
      .join(broadcast(dv1), Seq("fp", "ri"), "left_anti")
      .join(broadcast(dv2), Seq("fp", "ri"), "left_anti"))
    assert(composed == sequential,
      "composed stacked read diverged from sequential DV application")
    // compaction converges to COW: apply the two rectangle deletes as
    // sequential copy-on-write rewrites and compare the materialized
    // layout census-for-census (per-bucket file sets) and row sets
    val compact = Etl.morDvCompactFixture(spark, sf)
    val R = graft.operators.RefQueries
    val tmp1 = SparkSpec.tempDir("graft_cow_seq1").toFile
    val tmp2 = SparkSpec.tempDir("graft_cow_seq2").toFile
    try {
      Etl.copyDir(new java.io.File(base), tmp1)
      Etl.cowDeleteRect(spark, base, tmp1, R.HilbertRect)
      Etl.copyDir(tmp1, tmp2)
      Etl.cowDeleteRect(spark, tmp1.getAbsolutePath, tmp2, R.HilbertRect2)
      def census(root: String): Map[String, Int] =
        R.listPartFiles(spark, s"$root/${Etl.HilbertTableDir}")
          .groupBy(_.split("/").find(_.startsWith("hbucket="))
            .getOrElse(sys.error("no bucket segment")))
          .map { case (b, fs) => b -> fs.size }
      assert(census(compact) == census(tmp2.getAbsolutePath),
        "compacted layout census diverged from sequential COW")
      val compactKeys = keys(
        spark.read.parquet(s"$compact/${Etl.HilbertTableDir}"))
      assert(compactKeys == composed,
        "compaction resurrected or lost rows vs the stacked-DV read")
      // the whole point of compacting: the serving plan has NO join
      val p = SparkEntry.queries("q_dv_compaction")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Join"),
        s"post-compaction read still carries a join:\n$p")
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(tmp1); rm(tmp2)
    }
  }

  test("change feed: apply(changes, v_k) ≡ v_{k+1} row-for-row at every" +
      " transition, no carry-over emitted, layout commit feeds empty") {
    import org.apache.spark.sql.functions.col
    val R = graft.operators.RefQueries
    val root = Etl.chainFixture(spark, sf)
    (1 to 3).foreach { v =>
      val ch = R.chainChanges(spark, root, v)
      val vPrev = Etl.chainReadVersion(spark, root, v - 1)
      val vNext = Etl.chainReadVersion(spark, root, v)
      val retracted = ch
        .filter(col("change_type").isin("delete", "update_pre"))
        .select("o_orderkey")
      val asserted = ch
        .filter(col("change_type").isin("insert", "update_post"))
        .select("o_orderkey", "x8", "y8", "hidx")
      val applied = vPrev
        .join(retracted, Seq("o_orderkey"), "left_anti")
        .unionByName(asserted)
      assert(rowKey(applied) == rowKey(vNext),
        s"apply(changes, v${v - 1}) != v$v")
      // every retraction names a real v_{k-1} row, every assertion a
      // real v_k row — the feed invents nothing
      val prevKeys = rowKey(vPrev).map(_._1)
      val nextSet = rowKey(vNext)
      retracted.collect().map(_.getLong(0)).foreach { k =>
        assert(prevKeys(k), s"c$v retracts key $k absent from v${v - 1}")
      }
      asserted.collect().foreach { r =>
        assert(nextSet((r.getLong(0), r.getLong(3))),
          s"c$v asserts (${r.getLong(0)}, ${r.getLong(3)}) absent from v$v")
      }
      // no carry-over row leaks into the feed: a (key, position) pair
      // present unchanged in both versions must not appear at all (an
      // update pair's images are each in exactly one version)
      val unchanged = rowKey(vPrev) & nextSet
      val emitted = ch.select("o_orderkey", "hidx").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((emitted & unchanged).isEmpty,
        s"c$v emitted ${(emitted & unchanged).size} carry-over rows")
    }
    // the OPTIMIZE transition is served by METADATA: empty feed
    assert(R.chainChanges(spark, root, 3).count() == 0L,
      "layout-only commit must feed zero change rows")
    // commit-artifact cost pin: the feed's inputs are exactly the
    // manifest set differences, never a snapshot
    (1 to 2).foreach { v =>
      val pre = Etl.chainManifest(root, v - 1).toSet
      val post = Etl.chainManifest(root, v).toSet
      assert((pre -- post).nonEmpty && (post -- pre).nonEmpty,
        s"transition $v has no retired/added files — feed vacuous")
      assert((pre -- post).size < pre.size,
        s"transition $v pre-image is the whole snapshot")
    }
  }

  test("incremental WAP audit ≡ brute-force branch groupBy: dup count" +
      " and checksum agree with re-grouping the whole branch") {
    // the r16 delta audit must find EXACTLY the keys a full-branch
    // groupBy(count > 1) finds — the equivalence that justifies not
    // re-proving the base's certified uniqueness
    import org.apache.spark.sql.functions.col
    val root = Etl.chainFixture(spark, sf)
    val brute = Etl.chainReadNamed(spark, root, "b_audit")
      .groupBy(col("o_orderkey")).count()
      .filter(col("count") > 1)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val row = graft.operators.RefQueries.qWapAudit(spark, sf).collect()(0)
    assert(row.getLong(3) == brute.size.toLong,
      s"incremental dup count ${row.getLong(3)} != brute ${brute.size}")
    val P = 1000000007L
    val bruteCk = brute.toSeq.map { k =>
      val m = ((k % P) + P) % P; m * m % P
    }.foldLeft(0L)((a, b) => (a + b) % P)
    assert(row.getLong(4) == bruteCk,
      "incremental dup checksum diverged from the brute-force key set")
  }

  test("WAP happy path: clean branch audits green, the executed pointer" +
      " swap serves the branch, and the shared chain fixture is" +
      " untouched") {
    val chainRoot = Etl.chainFixture(spark, sf)
    val row = graft.operators.RefQueries.qWapPublish(spark, sf).collect()(0)
    assert(row.getLong(2) == 0L, "clean branch must audit 0 duplicates")
    assert(row.getLong(3) == 1L, "clean audit must publish")
    val wapRoot = Etl.wapPublishFixture(spark, sf)
    // the swap really happened ON THE ISOLATED ROOT...
    assert(Etl.chainCurrent(wapRoot) == "b_clean",
      "publish must move the isolated root's _current to the branch")
    // ...and the published read IS the branch
    assert(row.getLong(4) == Etl.chainReadNamed(spark, wapRoot, "b_clean")
      .count(), "published row count must equal the branch read")
    // the batch is disjointly re-keyed: every appended key above 2·koff
    val keyOff2 = Etl.mergeKeyOffset(spark, sf) * 2
    assert(row.getLong(1) > 0L, "appended batch empty — publish vacuous")
    assert(row.getLong(4) - row.getLong(0) == row.getLong(1),
      "published = live + appended must hold")
    val minAppended = Etl.chainReadNamed(spark, wapRoot, "b_clean")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") >= keyOff2)
      .count()
    assert(minAppended == row.getLong(1),
      "appended rows must all carry re-keyed (≥ 2·koff) keys")
    // the SHARED chain fixture must be untouched by the publish
    assert(Etl.chainCurrent(chainRoot) == "v3",
      "publishing the isolated root moved the shared fixture's pointer")
  }

  test("write-audit-publish: the audit refuses the defective branch," +
      " publish is a pointer swap, abandonment vacuums only the branch") {
    val src = Etl.chainFixture(spark, sf)
    // the audit on the fixture: planted duplicate keys found → refused
    val audit = graft.operators.RefQueries.qWapAudit(spark, sf).collect()(0)
    val nDup = audit.getLong(3)
    assert(nDup > 0, "planted defect not found — audit vacuous")
    assert(audit.getLong(5) == 0L, "audit must refuse the publish")
    assert(Etl.chainCurrent(src) == "v3",
      "main must still point at v3 — the branch never published")
    // dup keys must be LIVE originals (a dead key is not a collision)
    val v3Keys = Etl.chainReadVersion(spark, src, 3)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val branchDups = Etl.chainReadNamed(spark, src, "b_audit")
      .groupBy(org.apache.spark.sql.functions.col("o_orderkey"))
      .count().filter(org.apache.spark.sql.functions.col("count") > 1)
      .collect().map(_.getLong(0)).toSet
    assert(branchDups.nonEmpty && branchDups.subsetOf(v3Keys),
      "every duplicate must collide with a LIVE published key")
    val tmp = SparkSpec.tempDir("graft_chain_wap").toFile
    try {
      Etl.copyDir(new java.io.File(src), tmp)
      val root = tmp.getAbsolutePath
      // publish IS the pointer swap: flip _current and the current read
      // serves the branch; flip back and it serves v3 again
      val v3Rows = rowKey(Etl.chainReadNamed(spark, root, "v3"))
      java.nio.file.Files.writeString(
        new java.io.File(root, "_current").toPath, "b_audit")
      val afterPublish =
        rowKey(Etl.chainReadNamed(spark, root, Etl.chainCurrent(root)))
      assert(afterPublish.size > v3Rows.size &&
        v3Rows.subsetOf(afterPublish.map(identity)),
        "published read must serve the branch (v3 + appended batch)")
      java.nio.file.Files.writeString(
        new java.io.File(root, "_current").toPath, "v3")
      // abandonment: vacuum the refused branch — ONLY c4 files die,
      // every version read survives unchanged
      val c4 = Etl.chainManifestNamed(root, "b_audit").toSet --
        Etl.chainManifestNamed(root, "v3").toSet
      val deleted = Etl.chainVacuum(root, expired = Set("b_audit"),
        kept = Set("v0", "v1", "v2", "v3"))
      assert(deleted.toSet == c4 && deleted.nonEmpty,
        s"abandonment must delete exactly the branch commit's files" +
          s" (got ${deleted.size}, expected ${c4.size})")
      assert(rowKey(Etl.chainReadNamed(spark, root, "v3")) == v3Rows,
        "main drifted after branch abandonment")
      intercept[java.io.FileNotFoundException] {
        Etl.chainReadNamed(spark, root, "b_audit")
      }
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("MOR merge ≡ COW merge row-for-row; the shared compaction tail" +
      " retires the commit into exactly the COW layout") {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val R = graft.operators.RefQueries
    val base = Etl.hilbertOrdersFixture(spark, sf)
    val cow = Etl.mergeRewriteFixture(spark, sf)
    val mor = Etl.morMergeFixture(spark, sf)
    val dv = spark.read.parquet(s"$mor/dv")
    val adds = spark.read.parquet(s"$mor/adds")
    // the commit is real: tombstones and appends both non-empty, and
    // the DV tombstones exactly the stripe's pre-images
    val (sLo, sHi) = R.MergeStripe
    val stripeRows = spark.read.parquet(s"$base/${Etl.HilbertTableDir}")
      .filter(col("x8").between(sLo, sHi)).count()
    assert(dv.count() == stripeRows && stripeRows > 0,
      "DV must tombstone exactly the stripe's old row versions")
    assert(adds.count() > 0, "append half empty — merge vacuous")
    // composed MOR read ≡ the COW-merged table, row for row on
    // (key, position)
    val morServed = spark.read.parquet(s"$base/${Etl.HilbertTableDir}")
      .select(col("o_orderkey"), col("hidx"),
        substring_index(col("_metadata.file_path"),
          s"/${Etl.HilbertTableDir}/", -1).as("fp"),
        col("_metadata.row_index").as("ri"))
      .join(broadcast(dv), Seq("fp", "ri"), "left_anti")
      .select(col("o_orderkey"), col("hidx"))
      .unionByName(adds.select(col("o_orderkey"), col("hidx")))
    val cowRows = spark.read.parquet(s"$cow/${Etl.HilbertTableDir}")
    assert(rowKey(morServed) == rowKey(cowRows),
      "MOR merge diverged from the COW merge's (key, hidx) set")
    // compaction through the SHARED cowRewrite tail converges to the
    // COW layout: same per-bucket file census, same rows — except the
    // zone-candidate buckets the COW pass rewrote without any mover
    // (MOR's commit never touched them, so they carry over verbatim;
    // their file COUNT is 1 either way, which census equality covers)
    val tmp = SparkSpec.tempDir("graft_mor_merge_compact").toFile
    try {
      Etl.copyDir(new java.io.File(base), tmp)
      Etl.morMergeCompact(spark, sf, tmp)
      def census(root: String): Map[String, Int] =
        R.listPartFiles(spark, s"$root/${Etl.HilbertTableDir}")
          .groupBy(_.split("/").find(_.startsWith("hbucket="))
            .getOrElse(sys.error("no bucket segment")))
          .map { case (b, fs) => b -> fs.size }
      assert(census(tmp.getAbsolutePath) == census(cow),
        "compacted MOR-merge layout census diverged from COW merge")
      val compactRows = spark.read
        .parquet(s"${tmp.getAbsolutePath}/${Etl.HilbertTableDir}")
        .select(col("o_orderkey"), col("hidx"))
      assert(rowKey(compactRows) == rowKey(cowRows),
        "compacted MOR-merge rows diverged from COW merge")
      // the payoff: the compacted read plans with no join
      val p = spark.read
        .parquet(s"${tmp.getAbsolutePath}/${Etl.HilbertTableDir}")
        .queryExecution.executedPlan.toString
      assert(!p.contains("Join"),
        s"post-compaction read still carries a join:\n$p")
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("optimistic concurrency: conflicting branches refuse in BOTH" +
      " orders, the disjoint writer lands in any order, rebase is exact") {
    import org.apache.spark.sql.functions.col
    val R = graft.operators.RefQueries
    val src = Etl.concurrentFixture(spark, sf)
    def rect(t: (Long, Long, Long, Long)) =
      col("x8").between(t._1, t._2) && col("y8").between(t._3, t._4)
    val tmp = SparkSpec.tempDir("graft_chain_cc").toFile
    try {
      Etl.copyDir(new java.io.File(src), tmp)
      val root = tmp.getAbsolutePath
      // order A is the declared query's: cc1 lands, cc2 refused, cc3
      // lands. Order B (cc2 first) must refuse cc1 with the SAME
      // conflicting file set — symmetry is what makes it a conflict,
      // not a priority rule.
      Etl.chainPublish(root, "v3")
      val a1 = Etl.chainPublishValidated(root, "b_cc2")
      assert(a1.isRight, "first writer must always land")
      val a2 = Etl.chainPublishValidated(root, "b_cc1")
      assert(a2.isLeft, "overlapping second writer must refuse")
      val a3 = Etl.chainPublishValidated(root, "b_cc3")
      assert(a3.isRight, "disjoint writer must land after cc2 too")
      // the conflict names the same files whichever branch is second
      Etl.chainPublish(root, "v3")
      assert(Etl.chainPublishValidated(root, "b_cc1").isRight)
      val b2 = Etl.chainPublishValidated(root, "b_cc2")
      assert(b2.isLeft)
      assert(a2.left.toOption.get == b2.left.toOption.get,
        "conflict file set must be order-independent")
      // rebase exactness: after (cc1, cc3) the served rows are
      // v3 − rect1 − rect3, row for row
      assert(Etl.chainPublishValidated(root, "b_cc3").isRight)
      val served = rowKey(
        Etl.chainReadNamed(spark, root, Etl.chainCurrent(root)))
      val expect = rowKey(Etl.chainReadNamed(spark, root, "v3")
        .filter(!rect(R.HilbertRect) && !rect(R.ConflictRect3)))
      assert(served == expect, "rebased publish diverged from" +
        " v3 minus the two landed deletes")
      // the refused writer changed nothing: rect2-only rows survive
      assert(Etl.chainReadNamed(spark, root, Etl.chainCurrent(root))
        .filter(rect(R.HilbertRect2) && !rect(R.HilbertRect)).count() > 0,
        "refused branch's rows must survive in full")
      // staging sanity: the fixture's conflict is real and the
      // independent branch genuinely disjoint at this scale
      val (_, rm1) = Etl.chainBranchMeta(root, "b_cc1")
      val (_, rm2) = Etl.chainBranchMeta(root, "b_cc2")
      val (_, rm3) = Etl.chainBranchMeta(root, "b_cc3")
      assert((rm1.toSet & rm2.toSet).nonEmpty, "planted conflict vacuous")
      assert((rm1.toSet & rm3.toSet).isEmpty,
        "independent branch overlaps — ConflictRect3 not disjoint here")
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("executed retention vacuum: expired v0 read fails, kept versions" +
      " byte-identical, the {v0,v1}-shared trap class survives") {
    val src = Etl.chainFixture(spark, sf)
    val tmp = SparkSpec.tempDir("graft_chain_vac").toFile
    try {
      Etl.copyDir(new java.io.File(src), tmp)
      val root = tmp.getAbsolutePath
      val f = (0 to 3).map(v => Etl.chainManifest(root, v).toSet)
      val live = f(1) | f(2) | f(3)
      // the trap class: files shared by {v0, kept versions} that the
      // CURRENT version no longer references — a naive v0-vs-current
      // diff deletes them and breaks time travel to v1/v2
      val trap = (f(0) & live) -- f(3)
      assert(trap.nonEmpty, "no {v0,kept}-shared file — the retention" +
        " hard case is vacuous at this scale")
      val before = (1 to 3)
        .map(v => rowKey(Etl.chainReadVersion(spark, root, v)))
      val deleted = Etl.chainVacuum(root, expired = Set("v0"),
        kept = Set("v1", "v2", "v3"))
      assert(deleted.toSet == (f(0) -- live) && deleted.nonEmpty,
        s"vacuum must delete exactly the v0-only files" +
          s" (got ${deleted.size}, expected ${(f(0) -- live).size})")
      trap.foreach { rel =>
        assert(new java.io.File(s"$root/${Etl.ChainDataDir}/$rel").exists(),
          s"vacuum deleted the kept-version-shared file $rel")
      }
      intercept[java.io.FileNotFoundException] {
        Etl.chainReadVersion(spark, root, 0)
      }
      (1 to 3).foreach { v =>
        assert(rowKey(Etl.chainReadVersion(spark, root, v)) == before(v - 1),
          s"v$v drifted after the vacuum")
      }
    } finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(tmp)
    }
  }
}
