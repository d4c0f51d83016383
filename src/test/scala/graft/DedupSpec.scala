package graft

import graft.operators.{Dedup, Similarity, TextAnalysis, Multimodal}

/** Semantics tests on crafted fixtures: write a tiny documents.parquet
  * with known duplicates/near-duplicates and assert the dedup operators
  * find exactly them. */
class DedupSpec extends SparkSpec {

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest to hide from hunters"
    val docs = Seq(
      // 0 and 1: exact duplicates modulo case/whitespace
      (0L, base, "en", "src0", base.length.toLong),
      (1L, "  " + base.toUpperCase + "  ", "en", "src1", base.length.toLong),
      // 2: near-duplicate of 0 (one word changed near the end)
      (2L, base.replace("hunters", "wolves"), "en", "src2", base.length.toLong),
      // 3: unrelated
      (3L, "completely different content about spark catalyst optimizer " +
        "rules and physical plan strategies with many unique words here",
        "en", "src3", 100L),
      // 4: fewer than 3 tokens — regression guard: Spark's sequence(1, 0)
      // counts DOWN, so an unguarded shingle transform crashes on this
      (4L, "two tokens", "en", "src4", 10L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val rows = Dedup.exactDedup(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(0L) == 2L, "docs 0 and 1 should collapse to keep_id=0")
    assert(rows(2L) == 1L && rows(3L) == 1L)
  }

  test("ngram jaccard finds the near-duplicate pair (0,2) and the exact pair (0,1)") {
    val pairs = Dedup.ngramJaccard(spark, fixtureDir, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair missing")
    assert(pairs.contains((0L, 2L)), "near dup pair missing")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc matched")
  }

  test("minhash LSH finds the same pairs; exact dups estimate at 1.0") {
    val rows = Dedup.minHashLsh(spark, fixtureDir, estThreshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.contains((0L, 1L)))
    assert(rows((0L, 1L)) == 1.0,
      "identical normalized docs must have identical signatures")
    assert(rows.contains((0L, 2L)))
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("cluster resolution: transitive near-dups collapse to one keeper") {
    // pairs (0,1) and (0,2) → one component {0,1,2} with keeper 0;
    // docs 3 (unrelated) and 4 (too short) never enter the pair graph
    val rows = Dedup.dedupClusters(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L))
    assert(rows(0L) == ((0L, true)))
    assert(rows(1L) == ((0L, false)))
    assert(rows(2L) == ((0L, false)))
  }

  test("pipeline: per-lang stats drop exactly the non-keeper cluster members") {
    // component {0,1,2} keeps doc 0 → 2 removed; docs 3 and 4 survive
    // untouched (never in the pair graph)
    val rows = Dedup.dedupPipeline(spark, fixtureDir).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("en"))
    val (nDocs, nRemoved, nKept) = rows("en")
    assert(nDocs == 5L)
    assert(nRemoved == 2L, "exactly the two non-keeper members of {0,1,2}")
    assert(nKept == 3L)
  }

  test("substring dedup: corpus-repeated spans merge; clean docs stay at zero") {
    // cols: doc_id, n_tokens, n_shingles, n_dup_starts, n_spans,
    //       dup_tokens, max_span, dup_fraction
    val rows = Dedup.substringDedup(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L),
      "every document must appear, duplicated or not")
    // docs 0 and 1 are exact normalized duplicates: all 21 trigram starts
    // are corpus-duplicated and merge into ONE span covering all 23 tokens
    for (id <- Seq(0L, 1L))
      assert(rows(id) == ((23L, 21L, 21L, 1L, 23L, 23L, 1.0)),
        s"doc $id: ${rows(id)}")
    // doc 2 differs from 0/1 only in its last word: the 20 shared starts
    // merge to one span covering every token but the changed final one
    assert(rows(2L) == ((23L, 21L, 20L, 1L, 22L, 22L, 0.9565)),
      s"doc 2: ${rows(2L)}")
    // unrelated content and sub-shingle docs report zeros, not absence
    assert(rows(3L)._4 == 0L && rows(3L)._7 == 0.0)
    assert(rows(4L) == ((2L, 0L, 0L, 0L, 0L, 0L, 0.0)),
      "a 2-token doc has no shingles and all-zero span stats")
  }

  test("substring dedup: within-doc repetition alone marks a span") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-substr").toString
    // doc 20 repeats its own opening trigram later; no other doc shares it
    Seq(
      (20L, "alpha beta gamma delta alpha beta gamma", "en", "s", 0L),
      (21L, "wholly unrelated words in this one here", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.substringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(7)))).toMap
    // "alpha beta gamma" occurs at pos 0 and pos 4 -> two 3-token spans
    assert(rows(20L) == ((2L, 2L, 6L, 0.8571)), s"doc 20: ${rows(20L)}")
    assert(rows(21L) == ((0L, 0L, 0L, 0.0)))
  }

  test("substring dedup: hot-shingle bypass is output-invariant on a dominant shingle") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-substr-hot").toString
    // a degenerate corpus: 400 docs all opening with the same
    // boilerplate line (one shingle dominating the corpus — the skew
    // case where the shash window partition concentrates), plus clean
    // tails so per-doc stats differ
    val docs = (0L until 400L).map { i =>
      (i, s"the quick brown fox jumps over tail$i word$i end$i",
        "en", "s", 0L)
    } :+ ((400L, "totally unrelated and unique content here now", "en", "s", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.parquet(s"$dir/documents.parquet")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // hotCap=16 forces the boilerplate shingles through the broadcast
    // bypass; hotCap=Max forces everything through the window path —
    // the outputs must be identical row for row
    val hardened = Dedup.substringDedup(spark, dir, hotCap = 16L)
      .collect().map(key).toMap
    val windowOnly = Dedup.substringDedup(spark, dir, hotCap = Long.MaxValue)
      .collect().map(key).toMap
    assert(hardened == windowOnly,
      "bypass must change no output row on a hot-shingle corpus")
    // and the hot path actually fired: every boilerplate doc reports
    // its shared opening span, the unique doc reports zero
    assert(hardened(0L)._4 > 0L, "boilerplate span must be detected")
    assert(hardened(400L)._4 == 0L, "unique doc must stay clean")
  }

  test("containment: finds the doc-in-doc pair Jaccard misses, asymmetrically") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-contain").toString
    val big = (0 until 40).map(i => s"w$i").mkString(" ")       // 38 shingles
    val slice = (10 until 20).map(i => s"w$i").mkString(" ")    // 8, all in big
    val other = (0 until 12).map(i => s"z$i").mkString(" ")
    Seq((30L, big, "en", "s", 0L), (31L, slice, "en", "s", 0L),
        (32L, other, "en", "s", 0L),
        (33L, other, "en", "s", 0L)) // 33 is an exact dup of 32
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.containmentDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // the slice is fully contained: all 8 of its shingles probe into big
    assert(rows((31L, 30L)) == ((8L, 8L, 1.0)), s"slice-in-big: $rows")
    // the reverse direction must NOT appear: big's bottom-16 probes land
    // in the slice at most 8 times -> containment <= 0.5 < 0.8
    assert(!rows.contains((30L, 31L)), "containment must stay asymmetric")
    // exact dups contain each other -> BOTH directions emitted at 1.0
    assert(rows((32L, 33L))._3 == 1.0 && rows((33L, 32L))._3 == 1.0)
    // and the Jaccard family genuinely misses the slice pair at its
    // default threshold (8 shared / 38 union ~ 0.21): the raison d'etre
    val jac = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((30L, 31L)) && !jac.contains((31L, 30L)),
      "jaccard at 0.5 should not find the asymmetric pair")
  }

  test("image phash: identical payloads at hamming 0, unrelated images unpaired") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-phash").toString
    // >= 128 bytes so the decoded image has the 8 rows the 8x8 grid needs
    val imgText = (0 until 40).map(i => s"px$i").mkString(" ")
    val other = (0 until 40).map(i => s"zz${(i * 7) % 13}q$i").mkString(" ")
    Seq(
      (10L, imgText, "en", "s", 0L),
      (11L, imgText, "en", "s", 0L), // byte-identical payload
      (12L, other, "en", "s", 0L),
      (13L, "tiny", "en", "s", 0L)   // < 8 rows: drops out of the grid
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Multimodal.phashDedup(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows.get((10L, 11L)).contains(0),
      "byte-identical images must pair at hamming 0")
    assert(!rows.keySet.exists(p => p._1 == 13L || p._2 == 13L),
      "sub-grid image must drop out, not crash or pair")
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val rows = Dedup.simHash(spark, fixtureDir, maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(rows((0L, 1L)) == 0, "normalized exact dups must hash identically")
    assert(rows.get((0L, 2L)).exists(_ <= 10), "near-dup should be within 10 bits")
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  /** Boilerplate-prefix stress corpus: every doc shares the same 64+ char
    * prefix (one hot block), tails vary in length across 6 log-spaced
    * groups with exact-duplicate clusters inside each group. */
  private lazy val boilerplateDir: String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft-boiler").toString
    val prefix = (1 to 15).map(i => s"common$i").mkString(" ") // > 64 chars
    val docs = (0 until 240).map { i =>
      val group = i % 6
      val variant = (i / 6) % 8 // 8 distinct tails per group → dup clusters
      val tailLen = 8 << group
      val tail = (0 until tailLen).map(j => s"g${group}v${variant}w$j")
        .mkString(" ")
      (i.toLong, s"$prefix $tail", "en", s"src$i", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("ngram blocking skew: size-bucket split is lossless vs prefix-only blocking") {
    assertSameRows(
      Dedup.ngramJaccard(spark, boilerplateDir),
      DedupRefs.ngramJaccardUnsplit(spark, boilerplateDir))
  }

  test("ngram split stays lossless below t=0.5 (probe width derived from threshold)") {
    // t = 0.2 allows size ratios up to 5× (log2 gap up to 3 buckets) —
    // the fixed {s, s+1} probe set would lose cross-group pairs here
    assertSameRows(
      Dedup.ngramJaccard(spark, boilerplateDir, threshold = 0.2),
      DedupRefs.ngramJaccardUnsplit(spark, boilerplateDir, threshold = 0.2))
  }

  /** Shuffle-write bytes summed over every task `run` launched. */
  private def shuffledBytes(run: => Unit): Long =
    Profile.during(spark.sparkContext)(run)._2.shuffleWrite

  test("two-pass exact dedup shuffles a fraction of the one-shuffle bytes") {
    // the real corpus is (almost) all-unique — the representative case:
    // one-shuffle carries every normalized text in its group key, while
    // pass 1 of the two-pass shape carries 16 bytes/row and pass 2 only
    // the dup-candidate texts
    val one = shuffledBytes(operators.Dedup.exactDedup(spark, sf).collect())
    val two = shuffledBytes(
      operators.Dedup.exactDedupTwoPass(spark, sf).collect())
    assert(two > 0 && one > 0)
    info(s"shuffle bytes: one-shuffle=$one two-pass=$two " +
      f"(${one.toDouble / two}%.1fx reduction)")
    assert(two < one / 2,
      s"two-pass shuffled $two bytes vs one-shuffle $one — expected < half")
  }

  test("two-pass exact dedup matches the one-shuffle variant") {
    assertSameRows(
      Dedup.exactDedupTwoPass(spark, fixtureDir),
      Dedup.exactDedup(spark, fixtureDir))
    assertSameRows(
      Dedup.exactDedupTwoPass(spark, boilerplateDir),
      Dedup.exactDedup(spark, boilerplateDir))
  }

  test("ngram blocking skew: split bounds candidate fan-out in a hot block") {
    val n = 240L
    val allPairs = n * (n - 1) / 2
    val candidates = Dedup.ngramCandidates(spark, boilerplateDir).count()
    // prefix-only blocking would compare all 28k pairs; the size-bucket
    // split must cut the hot block's fan-out well below that
    assert(candidates < allPairs * 6 / 10,
      s"candidate pairs $candidates not bounded vs all-pairs $allPairs")
  }

  test("fingerprint: identical for normalized dups, distinct otherwise") {
    val fp = TextAnalysis.fingerprint(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(3L))
  }

  test("binary features: deterministic arithmetic on payload bytes") {
    val r = Multimodal.binaryFeatures(spark, fixtureDir).collect()
      .map(x => (x.getLong(0), (x.getInt(1), x.getInt(2), x.getLong(3)))).toMap
    val bytes = "the quick".getBytes("UTF-8")
    assert(r(0L)._1 == fixtureText0Len)
    assert(r(0L)._2 == 't'.toInt)
    var h = 0L
    bytes.take(8).foreach(b => h = (h * 31 + (b & 0xff)) % 1000000007L)
    assert(r(0L)._3 == h)
  }

  private def fixtureText0Len: Int =
    ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest to hide from hunters")
      .getBytes("UTF-8").length

  test("star CC: hub-skewed graph resolves correctly, shuffle rows bounded") {
    import spark.implicits._
    // the dup-graph shape label propagation handles worst: one document
    // near-dup to a thousand others (hub), plus a diameter-64 chain and
    // a bridged double-star — three components with known minima
    val hub = (1001L to 2000L).map(v => (1000L, v))
    val chain = (0L until 63L).map(i => (i, i + 1))
    val doubleStar = (5001L to 5100L).map(v => (5000L, v)) ++
      (6001L to 6100L).map(v => (6000L, v)) :+ (5050L, 6050L)
    val edges = (hub ++ chain ++ doubleStar).toDF("doc_a", "doc_b")
    val (labels, counts) = Dedup.connectedComponentsStar(edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1000L to 2000L).foreach(v => assert(got(v) == 1000L, s"hub node $v"))
    (0L to 63L).foreach(v => assert(got(v) == 0L, s"chain node $v"))
    (Seq(5000L, 6000L) ++ (5001L to 5100L) ++ (6001L to 6100L))
      .foreach(v => assert(got(v) == 5000L, s"double-star node $v"))
    // per-iteration edge counts are the shuffle row counts: they must
    // never grow (large-star cuts hub degree, never inflates the set)
    // and must land at exactly nodes - components (the final stars)
    counts.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev, s"edge set grew: $counts")
    }
    val nNodes = 1001 + 64 + 202
    assert(counts.last == nNodes - 3, s"not a star forest: $counts")
    assert(counts.length <= 12, s"too many rounds for log-n: $counts")
  }

  /** Reference components from a plain union-find that shares no code
    * with the star loop: every endpoint → its component's min id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  test("dedupClusters matches union-find over the fixture corpus's LSH pairs") {
    val pairs = Dedup.minHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "fixture pair graph must be non-empty")
    val expect = unionFind(pairs).toSeq.sorted
      .map { case (v, root) => (v, root, v == root) }
    val got = Dedup.dedupClusters(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got == expect,
      s"clusters diverge from union-find: only-got=${got.diff(expect)}" +
        s" only-expected=${expect.diff(got)}")
  }

  test("CC loops release superseded checkpoint iterates") {
    // without the dropCheckpoint calls every generation's localCheckpoint
    // blocks stay pinned (non-evictable) for the operator's lifetime —
    // the retained-RDD delta would grow with iteration count, not stay
    // at the handful of live iterates
    val before = spark.sparkContext.getPersistentRDDs.size
    operators.Dedup.dedupClusters(spark, sf).count()
    operators.Dedup.dedupClusters(spark, sf).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 8,
      s"checkpoint blocks accumulating: $before -> $after persistent RDDs")
  }

  test("star CC matches union-find on randomized graphs") {
    import spark.implicits._
    // deterministic LCG sweep over random graph shapes — the structures
    // the hub/chain fixture can't cover (multi-hub, dense blobs, many
    // small components); reference labels from a plain union-find
    var lcg = 20260813L
    def next(bound: Int): Int = {
      lcg = (lcg * 6364136223846793005L + 1442695040888963407L)
      (((lcg >>> 33) % bound) + bound).toInt % bound
    }
    (1 to 6).foreach { trial =>
      val n = 10 + next(50)
      val m = 5 + next(70)
      val edges = Seq.fill(m)((next(n).toLong, next(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val expect = unionFind(edges)
        val (labels, _) = operators.Dedup
          .connectedComponentsStar(edges.toDF("doc_a", "doc_b"))
        val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == expect,
          s"trial $trial (n=$n, m=${edges.size}): labels diverge from union-find")
      }
    }
  }

  test("winnowing: bit-exact vs in-memory reference; windows covered") {
    val w = 4
    val docs = Tables.read(spark, sf, "documents")
      .select("doc_id", "text").collect()
    val out = operators.Dedup.winnowing(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4))))
      .toMap
    assert(out.size == docs.length)
    docs.foreach { d =>
      val toks = d.getString(1).trim.toLowerCase
        .replaceAll("\\s+", " ").split(" ")
      val hp = toks.sliding(3).filter(_.length == 3).zipWithIndex
        .map { case (g, p) =>
          functions.PolyHash.hash(g.mkString(" "), 1 << 20) * (1L << 31) + p
        }.toArray
      val sel =
        (0 to hp.length - w).map(s => hp.slice(s, s + w).min).distinct
      val (nSh, nFp, ck) = out(d.getLong(0))
      assert(nSh == math.max(toks.length - 2, 0).toLong)
      assert(nFp == sel.length.toLong,
        s"doc ${d.getLong(0)}: $nFp fingerprints vs ${sel.length}")
      val checksum = sel.map(x => (x >> 31) % 1000000007L).sum % 1000000007L
      assert(ck == checksum, s"doc ${d.getLong(0)}: checksum mismatch")
      // the winnowing guarantee: every full window holds >= 1 selection
      val posSet = sel.map(x => (x % (1L << 31)).toInt).toSet
      (0 to hp.length - w).foreach { s =>
        assert((s until s + w).exists(posSet.contains),
          s"doc ${d.getLong(0)}: window at $s uncovered")
      }
    }
  }

  test("triangle census: oriented count equals a naive in-memory census") {
    val edges = Dedup.simHash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = edges.toSet
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // naive: for each canonical edge (a, b), common neighbors c > b close
    // a triangle exactly once per {a < b < c} ordering
    val naive = edges.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b)
    }.sum.toLong
    val degs = adj.view.mapValues(_.size.toLong)
    val wedges = degs.values.map(d => d * (d - 1) / 2).sum
    val r = Dedup.triangleCount(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == adj.size.toLong, "n_nodes")
    assert(r.head.getLong(1) == edgeSet.size.toLong, "n_edges")
    assert(r.head.getLong(2) == wedges, "n_wedges")
    assert(r.head.getLong(3) == naive,
      s"oriented count ${r.head.getLong(3)} != naive census $naive")
    assert(naive > 0, "fixture graph must actually contain triangles")
  }

  test("pagerank: bit-exact against an in-memory fixed-point replay") {
    // reference: the same 3 damped integer iterations over the collected
    // minhash pair graph — Long division exactly as the operator's
    // `rq DIV deg`, so equality is exact, not approximate
    val pairs = Dedup.minHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs ++ pairs.map(_.swap)
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = Tables.read(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    var ranks = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => ranks(u) / deg(u) }.sum).toMap
      ranks = nodes.map(n =>
        n -> (150000L + contrib.getOrElse(n, 0L) * 85L / 100L)).toMap
    }
    val out = Dedup.pageRank(spark, sf).collect()
    assert(out.length == nodes.length)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == deg.getOrElse(id, 0L), s"doc $id degree")
      assert(r.getLong(2) == ranks(id),
        s"doc $id rank_q ${r.getLong(2)} != ${ranks(id)}")
    }
    // the statistic must be informative on the fixture: connected docs
    // out-rank the isolated 0.15 base, and ranks are not all equal
    assert(out.exists(r => r.getLong(2) > 150000L))
    assert(out.map(_.getLong(2)).distinct.length > 1)
  }

  test("incremental dedup: finds every delta-touching twin, and the" +
      " planted index-index twin is SKIPPED by construction, not missed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // three planted twin pairs, one per parity class, each an exact
    // duplicate modulo case (identical normalized shingles → identical
    // signatures → est 1.0, deterministic — no minhash-variance flake):
    // (10,12) index×index, (20,21) index×delta, (31,33) delta×delta;
    // 40/41 are unrelated noise in each half
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA IOTA KAPPA"),
      (20L, "maple birch cedar willow aspen spruce alder poplar rowan elm"),
      (21L, "MAPLE BIRCH CEDAR WILLOW ASPEN SPRUCE ALDER POPLAR ROWAN ELM"),
      (31L, "copper nickel cobalt silver tungsten iron zinc chrome lead tin"),
      (33L, "COPPER NICKEL COBALT SILVER TUNGSTEN IRON ZINC CHROME LEAD TIN"),
      (40L, "totally unrelated words about parquet row groups and pages"),
      (41L, "another unrelated line mentioning shuffle exchanges and sorts"),
    ).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // isDelta ≡ true degenerates to the FULL self-dedup (index empty,
    // Δ×Δ = all pairs) — the reference the incremental run is cut from
    val full = pairSet(Dedup.incrementalPairs(docs, lit(true), 0.5))
    assert(full == Set((10L, 12L), (20L, 21L), (31L, 33L)),
      s"full self-dedup must find exactly the three twins, got $full")
    val inc = pairSet(
      Dedup.incrementalPairs(docs, col("doc_id") % 2 === 1, 0.5))
    assert(inc == Set((20L, 21L), (31L, 33L)),
      s"incremental must keep exactly the delta-touching twins, got $inc")
    // the hard assertion: the index twin EXISTS (full found it) and the
    // incremental run did not re-examine it — skipped work, not a miss
    assert(full((10L, 12L)) && !inc((10L, 12L)),
      "index-index twin must be found by full and skipped by incremental")
  }

  test("incremental cluster maintenance: merge core handles the keeper" +
      " change and the two-cluster bridge") {
    import spark.implicits._
    // persisted state: clusters {2,4} (keeper 2) and {6,8} (keeper 6)
    val indexLabels = Seq((2L, 2L), (4L, 2L), (6L, 6L), (8L, 6L))
      .toDF("doc_id", "label")
    // new shard: doc 1 pairs into {2,4} with a SMALLER id than the
    // keeper (re-canonicalization), doc 5 pairs into BOTH clusters
    // (bridge — the persisted components must merge into one)
    val deltaPairs = Seq((1L, 2L), (4L, 5L), (5L, 8L))
      .toDF("doc_a", "doc_b")
    val merged = Dedup.mergeLabels(indexLabels, deltaPairs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(merged.keySet == Set(1L, 2L, 4L, 5L, 6L, 8L))
    // everything collapses to ONE cluster under the new minimum id 1:
    // the bridge doc 5 carried {6,8} into {1,2,4}'s component
    merged.foreach { case (id, (cluster, keeper)) =>
      assert(cluster == 1L, s"doc $id landed in cluster $cluster, not 1")
      assert(keeper == (id == 1L), s"doc $id keeper flag wrong")
    }
    // and WITHOUT the bridge, the keeper change stays contained: {6,8}
    // keeps its old label while {1,2,4} re-canonicalizes under 1
    val noBridge = Dedup.mergeLabels(indexLabels,
        Seq((1L, 2L)).toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(noBridge == Map(1L -> 1L, 2L -> 1L, 4L -> 1L,
      6L -> 6L, 8L -> 6L))
  }

  test("incremental cluster maintenance ≡ full recompute (sf fixture" +
      " differential)") {
    val full = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val inc = Dedup.dedupIncrementalCc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(inc == full,
      s"merged labels drifted from the full recompute:" +
        s" only-inc=${inc.diff(full)} only-full=${full.diff(inc)}")
    assert(full.nonEmpty, "fixture pair graph must be non-empty")
  }

  test("incremental dedup ≡ full-corpus pairs restricted to the shard" +
      " (sf fixture differential)") {
    val full = Dedup.minHashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    val inc = Dedup.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == expected,
      s"incremental drifted from the restricted full recompute:" +
        s" only-inc=${inc.diff(expected)} only-full=${expected.diff(inc)}")
  }

  test("fused minhash_sig kernel ≡ window route ≡ HOF route" +
      " (three-way sf fixture differential)") {
    import org.apache.spark.sql.functions.col
    // production signs with the fused codegen'd kernel; the two
    // historical routes are independent formulations (shuffle-window
    // aggregation; interpreted HOF folds) — all three must agree on
    // every (doc_id, sig, band, bsig) row, or a shingle-indexing /
    // permutation / composition drift would silently change every
    // bucket the index and the stream maintain
    val docs = Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getSeq[Long](1).mkString(","), r.getInt(2),
        r.getString(3))
    }.toSet
    def banded(df: org.apache.spark.sql.DataFrame) =
      key(df.select(col("doc_id"), col("sig"), col("band").cast("int"),
        col("bsig")))
    val fused = banded(Dedup.minhashBanded(docs))
    val window = banded(DedupRefs.minhashBandedWindowRef(docs))
    val hof = banded(DedupRefs.minhashBandedHofRef(docs))
    assert(fused.nonEmpty, "banded signature table must be non-empty")
    assert(fused == window,
      s"fused kernel drifted from the window route: only-fused=" +
        s"${fused.diff(window).take(3)} only-window=" +
        s"${window.diff(fused).take(3)}")
    assert(fused == hof,
      s"fused kernel drifted from the HOF route: only-fused=" +
        s"${fused.diff(hof).take(3)} only-hof=" +
        s"${hof.diff(fused).take(3)}")
  }

  test("minhash_sig composed rolling hash ≡ naive per-shingle poly_hash" +
      " (kernel unit differential, incl. cap fallback)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // independent naive reference: build each shingle STRING and hash it
    // with PolyHash.hash (the JVM twin of the oracle's formula)
    def naive(toks: Seq[String]): Option[Seq[Long]] = {
      if (toks.length < 3) return None
      val mins = Array.fill(16)(Long.MaxValue)
      toks.sliding(3).foreach { w =>
        val base = graft.functions.PolyHash.hash(w.mkString(" "), 1 << 20)
        var p = 0
        while (p < 16) {
          val v = (base * (2 * p + 1) + 7919L * p) % 1000000007L
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      Some(mins.toSeq)
    }
    def fused(toks: Seq[String]): Option[Seq[Long]] = {
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      Option(graft.functions.MinhashSig.compute(arr)).map(_.toSeq)
    }
    val cases: Seq[Seq[String]] = Seq(
      Seq(),
      Seq("a"),
      Seq("a", "b"),
      Seq("a", "b", "c"),
      Seq("", "", ""),                       // empty tokens from split
      Seq("alpha", "beta", "gamma", "delta", "alpha", "beta", "gamma"),
      Seq("x" * 300, "y", "z" * 1000, "w"),  // long tokens
      (0 until 50).map(i => s"tok$i"),
      // cap fallback: one token pushes the shingle past the 1 MiB
      // poly_hash prefix — composed path must hand off to the byte fold
      Seq("q" * ((1 << 20) + 5), "r", "s", "t"),
      Seq("a", "q" * ((1 << 20) - 3), "b", "c"),
    )
    cases.foreach { toks =>
      assert(fused(toks) == naive(toks),
        s"kernel drifted on ${toks.map(_.take(8)).mkString("[", ",", "]")}" +
          s" (lens=${toks.map(_.length)})")
    }
  }

  test("minhash_sig: a NULL token yields a NULL signature (no executor" +
      " NPE) — the function is registered session-wide for SQL") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // kernel level: null element anywhere → null result
    val withNull = new GenericArrayData(Array[Any](
      UTF8String.fromString("a"), null, UTF8String.fromString("b"),
      UTF8String.fromString("c")))
    assert(graft.functions.MinhashSig.compute(withNull) == null)
    // SQL level: array(..., NULL, ...) is containsNull=true — the exact
    // shape an ad-hoc SQL caller constructs; must return NULL, not NPE
    val r = spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b', 'c')) " +
        "AS sig, minhash_sig(array('a', 'b', 'c', 'd')) AS ok")
      .collect()(0)
    assert(r.isNullAt(0), "null token must null the signature")
    assert(!r.isNullAt(1), "clean array must still sign")
  }

  private def cellSet(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, String, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("signature-index forget: the vanishing cell vanishes, the shared" +
      " cell shrinks, and subtraction ≡ rebuild on planted docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (10,12): exact twins modulo case — identical signatures, so their
    // band cells each hold BOTH docs; 40: alone in its cells
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA IOTA KAPPA"),
      (40L, "totally unrelated words about parquet row groups and pages"),
    ).toDF("doc_id", "text")
    val cells = Dedup.bandCells(Dedup.minhashBanded(docs))
    val tombs = docs.filter(col("doc_id").isin(12L, 40L))
    val kept = cellSet(Dedup.forgetIndexCells(
      cells.select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum")),
      Dedup.bandCells(Dedup.minhashBanded(tombs))))
    val rebuilt = cellSet(
      Dedup.bandCells(Dedup.minhashBanded(docs.filter(col("doc_id") === 10L)))
        .select(col("band").cast("long").as("band"), col("bsig"),
          col("n_docs"), col("member_checksum")))
    assert(kept == rebuilt,
      s"subtracted cells drifted from the alive-only rebuild:" +
        s" only-kept=${kept.diff(rebuilt)} only-rebuilt=${rebuilt.diff(kept)}")
    // doc 40's cells vanished (n_docs hit 0); the twins' shared cells
    // shrank to n_docs = 1 with doc 10's checksum — both planted cases
    assert(kept.nonEmpty && kept.forall(_._3 == 1L),
      s"every surviving cell should hold exactly doc 10, got $kept")
    val all = cellSet(cells.select(col("band").cast("long").as("band"),
      col("bsig"), col("n_docs"), col("member_checksum")))
    assert(all.exists(_._3 == 2L),
      "the twins must share at least one pre-forget cell")
  }

  test("signature-index forget: a re-delivered tombstone batch fails" +
      " loudly instead of silently corrupting the index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // three exact twins: every shared cell holds all three, so after a
    // legitimate {10,12} forget (cell at n=1) a RE-DELIVERED {10,12}
    // batch drives the count to -1 — the guard must fail the job, not
    // let the empty-cell filter absorb the corruption
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (12L, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA IOTA KAPPA"),
      (14L, "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta Iota Kappa"),
    ).toDF("doc_id", "text")
    val cells = Dedup.bandCells(Dedup.minhashBanded(docs))
      .select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum"))
    val dead = Dedup.bandCells(
      Dedup.minhashBanded(docs.filter(col("doc_id").isin(10L, 12L))))
    val once = Dedup.forgetIndexCells(cells, dead).localCheckpoint(true)
    assert(once.count() > 0 && once.collect().forall(_.getLong(2) == 1L),
      "single subtraction must leave exactly doc 14's cells")
    val err = intercept[Exception] {
      Dedup.forgetIndexCells(once, dead).collect()
    }
    def mentionsGuard(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(
        _.contains("negative cell count")) || mentionsGuard(t.getCause))
    assert(mentionsGuard(err),
      s"expected the duplicate-batch guard, got: ${err.getMessage}")
  }

  test("signature-index forget ≡ alive-corpus rebuild (sf fixture" +
      " differential)") {
    import org.apache.spark.sql.functions.{call_function, col, lit, pmod}
    val docs = Tables.read(spark, sf, "documents")
    val alive = docs.filter(
      pmod(call_function("mix64", col("doc_id")), lit(19L)) =!= 0L)
    val rebuilt = cellSet(Dedup.bandCells(Dedup.minhashBanded(alive))
      .select(col("band").cast("long").as("band"), col("bsig"),
        col("n_docs"), col("member_checksum")))
    val kept = cellSet(Dedup.dedupForgetIndex(spark, sf))
    assert(kept == rebuilt,
      s"index forget drifted from the rebuild: only-kept=" +
        s"${kept.diff(rebuilt).take(3)} only-rebuilt=" +
        s"${rebuilt.diff(kept).take(3)}")
    // the batch genuinely removed cells (tombstoned docs existed)
    val before = Dedup.bandCells(Dedup.minhashBanded(docs)).count()
    assert(kept.size < before,
      s"forget must drop at least one cell ($before -> ${kept.size})")
  }
}
