package graft

import graft.operators.Forget
import org.apache.spark.sql.functions.lit

/** Planted-corpus semantics for delete propagation: a tombstone hitting a
  * cluster KEEPER (forcing re-canonicalization), a tombstone on a BRIDGE
  * node (splitting a component), orphaned partners leaving the dup graph,
  * tainted packs dropped whole, and a fully-forgotten language. */
class ForgetSpec extends SparkSpec {

  private val P = 1000000007L
  private def cs1(ks: Seq[Long]): Long =
    ks.map(k => (k % P) * (k % P) % P).sum % P
  private def cs2(ks: Seq[(Long, Long)]): Long =
    ks.map { case (a, b) =>
      val t = ((a % P) * 31 + (b % P)) % P
      t * t % P
    }.sum % P

  test("q_forget propagation: keeper hit, component split, orphaned" +
      " partners, tainted packs, vanished language") {
    import spark.implicits._
    // cluster A {2,4,6} keeper 2; chain 10-12-14-16-18 keeper 10;
    // 30 a singleton doc; 50/52 the doomed 'xx' language
    val docs = Seq(
      (2L, "en"), (4L, "en"), (6L, "en"), (10L, "en"), (12L, "en"),
      (14L, "en"), (16L, "en"), (18L, "en"), (30L, "de"),
      (50L, "xx"), (52L, "xx")).toDF("doc_id", "lang")
    // tombstones: 2 = cluster A's KEEPER (the hard case — survivors must
    // re-canonicalize under 4); 14 = the chain's bridge (the component
    // must SPLIT into {10,12} and {16,18}); 50+52 erase lang 'xx'
    val tombs = Seq(2L, 14L, 50L, 52L).toDF("doc_id")
    val pairs = Seq((2L, 4L), (4L, 6L), (10L, 12L), (12L, 14L),
      (14L, 16L), (16L, 18L)).toDF("doc_a", "doc_b")
    val packs = Seq((2L, 0L), (4L, 0L), (6L, 1L), (10L, 1L), (12L, 2L),
      (14L, 2L), (16L, 3L), (18L, 3L), (30L, 3L), (50L, 4L), (52L, 4L))
      .toDF("doc_id", "bin_id")
    val out = Forget.propagate(docs, tombs, pairs, packs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    assert(out("1_documents") ==
      ((11L, 4L, 7L, cs1(Seq(4L, 6L, 10L, 12L, 16L, 18L, 30L)))))

    // re-resolved dup graph: keeper of {4,6} is now 4 (NOT the dead 2),
    // the chain splits into {10,12} and {16,18} — 8 members before,
    // 2 tombstoned, 6 survive with NEW labels
    val expectedLabels = Seq((4L, 4L), (6L, 4L), (10L, 10L), (12L, 10L),
      (16L, 16L), (18L, 16L))
    assert(out("2_dup_graph") == ((8L, 2L, 6L, cs2(expectedLabels))))
    // non-vacuity of the keeper-change assertion: had the survivors kept
    // their OLD labels (keeper 2, one unsplit chain under 10), the
    // checksum would differ — the gate really sees the re-resolution
    val staleLabels = Seq((4L, 2L), (6L, 2L), (10L, 10L), (12L, 10L),
      (16L, 10L), (18L, 10L))
    assert(cs2(expectedLabels) != cs2(staleLabels),
      "checksum must distinguish re-resolved labels from stale ones")

    // packs: bins 0 (dead 2), 2 (dead 14), 4 (dead 50,52) drop whole;
    // bins 1 and 3 survive
    assert(out("3_packs") == ((5L, 3L, 2L, cs1(Seq(1L, 3L)))))

    // langs: xx vanishes entirely; en keeps 6 alive, de keeps 1
    val langCs = cs2(Seq(
      (graft.functions.PolyHash.hash("en", 1 << 20), 6L),
      (graft.functions.PolyHash.hash("de", 1 << 20), 1L)))
    assert(out("4_lang_rollup") == ((3L, 1L, 2L, langCs)))
  }

  test("forgetLabelsScoped: tombstoned keeper re-canonicalizes, bridge" +
      " split inside a touched component, untouched component's label" +
      " provably never recomputes") {
    import spark.implicits._
    // persisted state: cluster A {2,4,6} label 2; chain {10,12,14,16,18}
    // label 10; UNTOUCHED component {100,102} label 100
    val labels = Seq((2L, 2L), (4L, 2L), (6L, 2L), (10L, 10L), (12L, 10L),
      (14L, 10L), (16L, 10L), (18L, 10L), (100L, 100L), (102L, 100L))
      .toDF("doc_id", "label")
    // the pair store handed to the scoped resolver DELIBERATELY LACKS the
    // untouched component's (100,102) pair — the production
    // partitioned-by-label store would prune that partition away, so if
    // the resolver needed it, it could not produce the row at all: the
    // untouched label surviving below PROVES it is passed through from
    // the persisted state, never recomputed from pairs
    val labeledPairs = Seq(
      (2L, 4L, 2L), (4L, 6L, 2L),
      (10L, 12L, 10L), (12L, 14L, 10L), (14L, 16L, 10L), (16L, 18L, 10L))
      .toDF("doc_a", "doc_b", "label")
    // 2 = cluster A's KEEPER (survivors re-canonicalize under 4);
    // 14 = the chain's bridge (component splits into {10,12} and {16,18})
    val tombs = Seq(2L, 14L).toDF("doc_id")
    val got = Forget.forgetLabelsScoped(labels, labeledPairs, tombs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    assert(got == Seq(
      (4L, 4L, true), (6L, 4L, false),
      (10L, 10L, true), (12L, 10L, false),
      (16L, 16L, true), (18L, 16L, false),
      (100L, 100L, true), (102L, 100L, false)))
    // scoped ≡ full: the full re-resolution over ALL alive pairs
    // (including the untouched component's own edge) lands on the same
    // labels — the identity the declared query's oracle hash-gates
    val allPairs = labeledPairs.select($"doc_a", $"doc_b")
      .union(Seq((100L, 102L)).toDF("doc_a", "doc_b"))
    val full = Forget.propagate(
      labels.select($"doc_id").withColumn("lang", lit("en")),
      tombs, allPairs,
      labels.select($"doc_id").withColumn("bin_id", lit(0L))).collect()
      .filter(_.getString(0) == "2_dup_graph").head.getLong(4)
    val scopedCs = got.map { case (d, c, _) =>
      val t = ((d % 1000000007L) * 31 + (c % 1000000007L)) % 1000000007L
      t * t % 1000000007L
    }.sum % 1000000007L
    assert(scopedCs == full,
      "scoped re-resolution disagrees with the full recompute")
  }

  test("empty tombstone list: nothing purged, dup-graph membership" +
      " unchanged") {
    import spark.implicits._
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("doc_id", "lang")
    val tombs = Seq.empty[Long].toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val packs = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("doc_id", "bin_id")
    val out = Forget.propagate(docs, tombs, pairs, packs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("1_documents") == ((3L, 0L, 3L, cs1(Seq(1L, 2L, 3L)))))
    assert(out("2_dup_graph") == ((2L, 0L, 2L,
      cs2(Seq((1L, 1L), (2L, 1L))))))
    assert(out("3_packs") == ((2L, 0L, 2L, cs1(Seq(0L, 1L)))))
  }

  test("physical pair store: touched-bucket prune is a strict subset of" +
      " the on-disk buckets and lossless vs the unpruned read") {
    import org.apache.spark.sql.functions.{broadcast, call_function, col,
      lit, pmod}
    val root = graft.sources.Etl.pairStoreFixture(spark, sf)
    val allBucketDirs = Option(new java.io.File(s"$root/pairs").listFiles())
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("lbucket="))
        .map(_.getName).toSet).getOrElse(Set.empty[String])
    assert(allBucketDirs.nonEmpty, "pair store has no bucket partitions")
    val labels = spark.read.parquet(s"$root/labels")
    val tombs = Tables.read(spark, sf, "documents")
      .filter(pmod(call_function("mix64", col("doc_id")), lit(19L)) === 0L)
      .select(col("doc_id"))
    val touched = labels.join(broadcast(tombs), Seq("doc_id"), "left_semi")
      .select(pmod(col("label"),
        lit(graft.sources.Etl.PairStoreBuckets.toLong)).cast("int")
        .as("lbucket"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty, "no tombstoned graph member — prune vacuous")
    // the prune must be REAL at fixture scale: strictly fewer buckets
    // read than exist on disk
    assert(touched.size < allBucketDirs.size,
      s"prune vacuous: ${touched.size} touched of ${allBucketDirs.size}" +
        s" on-disk buckets")
    // lossless: the bucket prune is a pure pre-filter — the scoped
    // resolution over the pruned store must equal the one over the FULL
    // store (the semi-join on touched labels does the exact scoping)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val pruned = Forget.qDedupForgetCc(spark, sf)
    val unpruned = Forget.forgetLabelsScoped(labels,
      spark.read.parquet(s"$root/pairs")
        .select(col("doc_a"), col("doc_b"), col("label")),
      tombs)
    assert(key(pruned) == key(unpruned),
      "bucket prune changed the resolved labels")
  }
}
