package graft

import org.apache.spark.sql.functions._

/** Numeric gate for the star-CC resolver's 100 TB claim: the
  * alternating large-star/small-star rounds must never GROW — per-round
  * shuffle bytes are bounded by the input, verified in measured bytes,
  * not just asserted edge counts. (The SHAPE of convergence is
  * graph-dependent: near-star graphs shrink the edge multiset
  * fast and finish in a handful of rounds; path-like graphs keep edge
  * counts ~flat and instead halve component depth per double-round —
  * O(log n) rounds at constant bytes. The gate enforces the invariant
  * both shapes share: no round amplifies its predecessor's shuffle.)
  * This main runs the resolver over the real LSH pair graph at bench
  * scale, takes one [[Profile]] window per round to attribute its
  * shuffle write exactly, prints one JSON line, writes
  * STARCC_ROUNDS.json, and exits 1 if a non-final round shuffles more
  * than `tolerance`× its predecessor (the final round is excluded: the
  * convergence check deliberately pays two exceptAll passes on an
  * already-tiny edge set).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StarCcAudit [mode [n]]
  * mode `lsh` (default) audits the real MinHash-LSH pair graph of the
  * bench corpus; mode `hub` audits a deterministic adversarial graph
  * (one n-node chain — the worst case for label propagation depth —
  * plus an n/2-degree hub) where the round count actually has room to
  * show the O(log n) bound: the bench corpus's pair graph is already
  * near-star-shaped and converges immediately.
  */
object StarCcAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val tolerance = 1.10
    val spark = GraftSession.local(GraftSession.cpus)
    val profile = Profile.attach(spark.sparkContext)

    val mode = args.headOption.getOrElse("lsh")
    // materialize the pair graph FIRST so its construction shuffles
    // never bleed into round 1's attribution
    import spark.implicits._
    val pairs = (mode match {
      case "hub" =>
        val n = if (args.length > 1) args(1).toLong else 200000L
        val chain = spark.range(1L, n)
          .select(($"id" - 1L).as("doc_a"), $"id".as("doc_b"))
        val hub = spark.range(0L, n / 2)
          .select(lit(2L * n).as("doc_a"), ($"id" + n).as("doc_b"))
        chain.union(hub)
      case "lsh" =>
        operators.Dedup.minHashLsh(spark, sfDir).select("doc_a", "doc_b")
      case other =>
        // an unknown mode must not silently audit the wrong graph and
        // stamp a passing-looking artifact with a bogus mode name
        System.err.println(s"[starcc-audit] unknown mode '$other' " +
          "(expected 'lsh' or 'hub')")
        spark.stop()
        sys.exit(2)
    }).localCheckpoint(true)
    profile.mark()
    val rounds = scala.collection.mutable.ListBuffer.empty[(Int, Long, Long)]
    val (labels, _) = operators.Dedup.connectedComponentsStar(pairs,
      onRound = (iter, edges) => {
        val w = profile.mark()
        // a timed-out drain leaves the round's bytes unattributable
        require(w.clean, s"listener drain timed out in round $iter")
        rounds += ((iter, edges, w.shuffleWrite))
      })
    val nLabels = labels.count()

    val roundsJson = rounds.map { case (i, e, b) =>
      s"""{"round":$i,"edges":$e,"shuffleWrite":$b}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"mode":"$mode","sf":"$sfDir","nodes":$nLabels,"rounds":$roundsJson,"tolerance":$tolerance}"""
    val suffix = if (mode == "lsh") "" else s"_${mode.toUpperCase}"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STARCC_OUT",
      s"${sys.props("user.dir")}/STARCC_ROUNDS$suffix.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      json + "\n")
    println(json)

    // the gate: every non-final round's shuffle must stay within
    // tolerance of its predecessor (monotone shrink modulo jitter on
    // already-small rounds), and edge counts must never grow. Round 0
    // is the resolver's SETUP (canonicalization distinct, node set,
    // initial signature) — attributed separately so it can't pad round
    // 1's baseline, and exempt from the byte comparison. Round 1 is
    // exempt too (byte gate starts at the 2->3 pair): its shuffle
    // reads the freshly-checkpointed canonical edge set, whose layout
    // is atypical — e.g. the hub fixture's range()-ordered chain
    // compresses and map-side-collapses far better than the
    // hash-shuffled layout every later round sees, so round 1 lands
    // ~28% LOW and a 1->2 comparison flags layout noise, not
    // amplification (edges are flat there; the row-level edge gate
    // still covers 0->1->2). Steady state — the thing that must not
    // amplify at 100 TB — begins at round 2.
    val bad = rounds.toList.sliding(2).flatMap {
      case List((i1, e1, b1), (i2, e2, b2)) =>
        val finalRound = i2 == rounds.last._1
        val byteViolation =
          i1 >= 2 && !finalRound && b1 > 0 && b2 > b1 * tolerance
        val edgeViolation = e2 > e1
        if (byteViolation || edgeViolation)
          Some(s"round $i1->$i2: edges $e1->$e2 bytes $b1->$b2")
        else None
      case _ => None
    }.toList
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(
        s"[starcc-audit] monotonicity violated:\n  ${bad.mkString("\n  ")}")
      sys.exit(1)
    }
  }
}
