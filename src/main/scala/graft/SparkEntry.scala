package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.StreamingQueries

/** Driver contract — see SURVEY.md §7.
  *
  * `registry` declares every query once: its name, the function that
  * builds its DataFrame from a session and a data directory, and its
  * DuckDB-dialect oracle. `queries` and `oracleSql` are views of it, so
  * every query has an oracle by construction. Column names + ordering are
  * deterministic and identical on both sides; aggregated doubles are
  * rounded on both sides (driver hashes raw values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.q1TopMonths(spark, "/root/testdata/sf0.001")

  /** One declared query: `run(spark, dataDir)` builds its DataFrame and
    * `oracle` is the DuckDB SQL whose result it must hash-match. */
  final case class Query(name: String,
      run: (SparkSession, String) => DataFrame, oracle: String)

  // ---------------------------------------------------------------------
  // DuckDB oracles (ANSI-ish, DuckDB 1.0 dialect). Table names resolve to
  // the same parquet files the Spark queries read.
  // ---------------------------------------------------------------------

  /** Batch CMS heavy-hitters replay — shared verbatim by
    * `q_heavy_hitters_cms` and its streaming twin `stream_heavy_hitters`
    * (Complete-mode cell maintenance finalizes through the same
    * estimator, so stream ≡ batch is the claim the shared oracle
    * gates). */
  private val cmsHeavyHittersOracle = """
      WITH fact AS (
        SELECT CASE WHEN l_partkey % 7 = 0 THEN l_partkey % 5
               ELSE l_partkey END AS key
        FROM lineitem
      ), h(j, a, bb) AS (
        VALUES (0, 2654435761, 1), (1, 2246822519, 10008),
               (2, 3266489917, 20015), (3, 668265263, 30022)
      ), cms AS (
        SELECT j, (((key % 1000000007 + 1000000007) % 1000000007 * a + bb) % 1000000007) % 2048
                 AS bucket,
               count(*) AS cnt
        FROM fact, h GROUP BY 1, 2
      ), totals AS (SELECT key, count(*) AS exact_cnt FROM fact GROUP BY 1
      ), top AS (
        SELECT key, exact_cnt,
               row_number() OVER (ORDER BY exact_cnt DESC, key ASC) AS rnk
        FROM totals QUALIFY rnk <= 10
      ), est AS (
        SELECT t.key, t.exact_cnt, t.rnk, min(c.cnt) AS cms_est
        FROM top t, h
        JOIN cms c ON c.j = h.j
          AND c.bucket = (((t.key % 1000000007 + 1000000007) % 1000000007 * h.a + h.bb) % 1000000007)
                           % 2048
        GROUP BY 1, 2, 3
      ), n AS (SELECT count(*) AS n_total FROM fact)
      SELECT rnk::INTEGER AS rnk, key, exact_cnt, cms_est,
             (cms_est - exact_cnt) AS overcount,
             (cms_est >= exact_cnt AND
              cms_est <= exact_cnt + 2 * n_total / 2048) AS within_bound
      FROM est, n ORDER BY rnk ASC"""

  private val q1Oracle = """
    WITH ym AS (
      SELECT substr(cast(l_shipdate AS varchar), 1, 4) AS year,
             substr(cast(l_shipdate AS varchar), 6, 2) AS month
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
    WHERE rnk <= 3 ORDER BY year ASC, rnk ASC"""

  private val q2Oracle = """
    WITH b AS (
      SELECT CASE
               WHEN t4 >= '0500' AND t4 <= '1159' THEN 'Morning'
               WHEN t4 >= '1200' AND t4 <= '1659' THEN 'Afternoon'
               WHEN t4 >= '1700' AND t4 <= '2059' THEN 'Evening'
               ELSE 'Night' END AS bucket
      FROM (SELECT lpad(cast(hour(ts) * 100 + minute(ts) AS varchar),
                        4, '0') AS t4
            FROM events WHERE event_type = 'click')
    )
    SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket
    ORDER BY cnt DESC, bucket ASC"""

  private val q3Oracle = """
    WITH top3 AS (
      SELECT c_custkey FROM (SELECT DISTINCT c_custkey, c_acctbal FROM customer)
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3
    ), dim(priority, priority_label) AS (
      VALUES ('URGENT', 'Critical'), ('HIGH', 'High'), ('MEDIUM', 'Medium'),
             ('NOT SPECIFIED', 'Unspecified'), ('LOW', 'Low')
    )
    SELECT priority_label, count(*) AS cnt,
           round(sum(l_quantity), 4) AS qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN dim ON regexp_replace(o.o_orderpriority, '[0-9-]', '', 'g')
                = dim.priority
    WHERE c.c_custkey IN (SELECT c_custkey FROM top3)
    GROUP BY priority_label ORDER BY priority_label ASC"""

  /** Raw-key sensitivity oracle (reference strip-vs-keep, query3.py:84-96):
    * the uncleaned key joins against the dim's cleaned values — nothing
    * matches and the result is empty BY DESIGN; DuckDB independently
    * confirms the silent total row loss. */
  private val q3OracleRawKey = """
    WITH top3 AS (
      SELECT c_custkey FROM (SELECT DISTINCT c_custkey, c_acctbal FROM customer)
      ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3
    ), dim(priority, priority_label) AS (
      VALUES ('URGENT', 'Critical'), ('HIGH', 'High'), ('MEDIUM', 'Medium'),
             ('NOT SPECIFIED', 'Unspecified'), ('LOW', 'Low')
    )
    SELECT priority_label, count(*) AS cnt,
           round(sum(l_quantity), 4) AS qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN dim ON o.o_orderpriority = dim.priority
    WHERE c.c_custkey IN (SELECT c_custkey FROM top3)
    GROUP BY priority_label ORDER BY priority_label ASC"""

  /** q3 "bot" income variant (reference CLI arg "bot",
    * query3.py:101,134-140): bottom-3 balances instead of top-3. */
  private val q3OracleBot = """
    WITH bot3 AS (
      SELECT c_custkey FROM (SELECT DISTINCT c_custkey, c_acctbal FROM customer)
      ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 3
    ), dim(priority, priority_label) AS (
      VALUES ('URGENT', 'Critical'), ('HIGH', 'High'), ('MEDIUM', 'Medium'),
             ('NOT SPECIFIED', 'Unspecified'), ('LOW', 'Low')
    )
    SELECT priority_label, count(*) AS cnt,
           round(sum(l_quantity), 4) AS qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN dim ON regexp_replace(o.o_orderpriority, '[0-9-]', '', 'g')
                = dim.priority
    WHERE c.c_custkey IN (SELECT c_custkey FROM bot3)
    GROUP BY priority_label ORDER BY priority_label ASC"""

  private val q4Oracle = """
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
           round(sum(CAST(dist_km AS DECIMAL(20,6)))::DOUBLE / count(*), 4)
             AS avg_dist_km,
           count(*) AS cnt
    FROM j GROUP BY n_name
    ORDER BY avg_dist_km DESC, n_name ASC"""

  private val multiKeyOracle = """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS ps_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT l_returnflag, round(sum(ps_qty), 4) AS weighted_qty,
           count(*) AS cnt
    FROM lineitem l JOIN ps USING (l_partkey, l_suppkey)
    GROUP BY l_returnflag ORDER BY l_returnflag ASC"""

  private val textTokensOracle = """
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS ws_tokens,
             regexp_split_to_array(
               trim(regexp_replace(trim(text), '([.,!?;:])', ' \1 ', 'g')),
               '\s+') AS bpe_tokens
      FROM documents
    )
    SELECT doc_id,
           length(text)::BIGINT AS n_chars_calc,
           len(ws_tokens)::BIGINT AS n_tokens,
           len(bpe_tokens)::BIGINT AS n_bpe_tokens,
           round(list_sum(list_transform(ws_tokens, t -> length(t)))::double
                 / greatest(len(ws_tokens), 1), 4) AS avg_token_len
    FROM t ORDER BY doc_id ASC"""

  private val textQualityOracle = """
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks)::BIGINT AS n_tokens,
             len(list_filter(toks, t -> t IN
               ('the', 'a', 'and', 'of', 'to', 'in', 'is')))::BIGINT AS stop_cnt,
             (length(text) -
              length(regexp_replace(text, '[.,!?;:]', '', 'g')))::BIGINT
               AS punct_cnt
      FROM t
    )
    SELECT doc_id, n_tokens, stop_cnt, punct_cnt,
           round(stop_cnt::double / greatest(n_tokens, 1), 4) AS stop_ratio,
           CASE WHEN n_tokens >= 40
                 AND round(stop_cnt::double / greatest(n_tokens, 1), 4)
                     BETWEEN 0.05 AND 0.6 THEN 'good'
                WHEN n_tokens >= 10 THEN 'ok'
                ELSE 'short' END AS quality
    FROM s ORDER BY doc_id ASC"""

  private val textLangIdCore = """
    SELECT doc_id,
           len(list_filter(toks, t -> t IN ('the', 'and', 'of', 'to')))::BIGINT AS s_en,
           len(list_filter(toks, t -> t IN ('der', 'die', 'das', 'und')))::BIGINT AS s_de,
           len(list_filter(toks, t -> t IN ('le', 'la', 'les', 'et')))::BIGINT AS s_fr,
           len(list_filter(toks, t -> t IN ('el', 'los', 'una', 'y')))::BIGINT AS s_es
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents)"""

  private val textLangIdOracle = s"""
    WITH scores AS ($textLangIdCore)
    SELECT doc_id, s_en, s_de, s_fr, s_es,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM scores ORDER BY doc_id ASC"""

  private val textLangIdEvalOracle = s"""
    WITH scores AS ($textLangIdCore),
    pred AS (
      SELECT doc_id,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                  WHEN s_fr >= s_es THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM scores)
    SELECT d.lang, p.pred_lang, count(*) AS cnt
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.pred_lang ORDER BY d.lang ASC, p.pred_lang ASC"""

  private val textFingerprintOracle = """
    WITH n AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    1, 1024) AS norm
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(norm) = 0 THEN 0
                ELSE list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(generate_series(1, length(norm)),
                                   i -> ascii(substr(norm, i, 1)))),
                  (a, x) -> (a * 31 + x) % 1000000007) END AS fp
    FROM n ORDER BY doc_id ASC"""

  private val dedupExactOracle = """
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM (SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents)
    GROUP BY norm ORDER BY keep_id ASC"""

  private val dedupNgramJaccardOracle = """
    WITH d AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), t AS (
      SELECT doc_id, substr(norm, 1, 64) AS block,
             string_split(norm, ' ') AS toks
      FROM d
    ), sh AS (
      SELECT doc_id, block,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
               AS shingles
      FROM t
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.shingles, b.shingles))::double /
                   greatest(len(list_distinct(
                     list_concat(a.shingles, b.shingles))), 1)::double,
                   4) AS jaccard
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
    ORDER BY doc_a ASC, doc_b ASC"""

  /** MinHash+LSH oracle: the permutation family is portable integer math
    * (`h_p(s) = ((2p+1)·polyhash(s) + 7919p) mod 1e9+7`), so DuckDB
    * independently recomputes signatures, band buckets, candidate pairs,
    * and the matching-minhash estimate. */
  /** The minhash signature + band-bucket CTE chain (d, t, sh, ph, mh,
    * sigs, banded — ending in `banded(doc_id, sig, band, bsig)`):
    * shared by the pair oracles below and the streaming signature-index
    * twin, so one definition can never drift from the other. */
  private val minhashBandedCtes = """d AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), t AS (
      SELECT doc_id, string_split(norm, ' ') AS toks FROM d
    ), sh AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - 2, 0)),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      FROM t
    ), ph AS (
      SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, length(shingle)),
                 i -> ascii(substr(shingle, i, 1))::BIGINT)),
               (a, x) -> (a * 31 + x) % 1000000007) AS h
      FROM sh
    ), mh AS (
      SELECT doc_id, p, min((h * (2*p + 1) + 7919*p) % 1000000007) AS mh
      FROM ph CROSS JOIN generate_series(0, 15) s(p)
      GROUP BY doc_id, p
    ), sigs AS (
      SELECT doc_id, list(mh ORDER BY p ASC) AS sig FROM mh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, sig, band,
             concat_ws(':', sig[4*band+1], sig[4*band+2], sig[4*band+3],
                       sig[4*band+4]) AS bsig
      FROM sigs CROSS JOIN generate_series(0, 3) b(band)
    )"""

  private val dedupMinhashOracle = s"""
    WITH $minhashBandedCtes, pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a JOIN banded b USING (band, bsig)
      WHERE a.doc_id < b.doc_id
    ), est AS (
      SELECT doc_a, doc_b,
             round(list_sum(list_transform(generate_series(1, 16),
               i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
               / 16.0, 4) AS est_jaccard
      FROM pairs
    )
    SELECT doc_a, doc_b, est_jaccard FROM est
    WHERE est_jaccard >= 0.5
    ORDER BY doc_a ASC, doc_b ASC"""

  /** Cluster-resolution oracle: recursive CTE computing each node's min
    * reachable doc_id over the (replayed) minhash pair graph — an
    * independent algorithm for the same fixpoint the iterative label
    * propagation converges to. */
  private lazy val dedupClustersOracle = s"""
    WITH RECURSIVE pr AS ($dedupMinhashOracle),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pr
      UNION ALL
      SELECT doc_b, doc_a FROM pr
    ),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    walk(doc_id, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
    )
    SELECT doc_id, min(label) AS cluster_id,
           doc_id = min(label) AS is_keeper
    FROM walk GROUP BY doc_id ORDER BY doc_id ASC"""

  /** The xy2d quadrant-rotation fold as a DuckDB expression over a
    * packed `x*256 + y` coordinate: a packed-state (d·2^16 + x·2^8 + y)
    * list_reduce fold over levels 7..0 — pure integer arithmetic,
    * bit-identical to the codegen'd expression. Factored so the MERGE
    * oracle can re-place RELOCATED rows with the identical curve
    * arithmetic. */
  private def hilbertFoldSql(xy: String): String = {
    val X = "((st // 256) % 256)"
    val Y = "(st % 256)"
    val D = "(st // 65536)"
    val S = "(1 << i)"
    val RX = s"(CASE WHEN ($X & $S) > 0 THEN 1 ELSE 0 END)"
    val RY = s"(CASE WHEN ($Y & $S) > 0 THEN 1 ELSE 0 END)"
    val ND = s"($D + $S * $S * xor(3 * $RX, $RY))"
    val NX = s"(CASE WHEN $RY = 1 THEN $X" +
      s" WHEN $RX = 1 THEN 255 - $Y ELSE $Y END)"
    val NY = s"(CASE WHEN $RY = 1 THEN $Y" +
      s" WHEN $RX = 1 THEN 255 - $X ELSE $X END)"
    s"""(list_reduce(list_prepend($xy,
          [7, 6, 5, 4, 3, 2, 1, 0]),
          (st, i) -> $ND * 65536 + $NX * 256 + $NY)
        // 65536)"""
  }

  /** The orders → 8-bit grid → Hilbert index CTE chain (o, s, g, h with
    * `h(o_orderkey, ck, day, x8, y8, hidx)`), shared by the
    * `q_hilbert_layout` analysis, the `q_hilbert_write` zone-map
    * protocol, and the DML-family oracles. */
  private lazy val hilbertGridCtes: String =
    s"""o AS (
        SELECT o_orderkey, o_custkey AS ck,
               date_diff('day', DATE '1992-01-01',
                         cast(o_orderdate AS date)) AS day
        FROM orders
      ), s AS (
        SELECT min(ck) AS ck_min, max(ck) AS ck_max,
               min(day) AS day_min, max(day) AS day_max FROM o
      ), g AS (
        SELECT o_orderkey, ck, day,
               ((ck - ck_min) * 256) // (ck_max - ck_min + 1) AS x8,
               ((day - day_min) * 256) // (day_max - day_min + 1) AS y8
        FROM o, s
      ), h AS (
        SELECT o_orderkey, ck, day, x8, y8,
               ${hilbertFoldSql("x8 * 256 + y8")} AS hidx
        FROM g
      )"""

  /** The orders → 8-bit grid → Morton (Z-order) width-24 bucket CTE chain
    * (o, s, g, hb with `hb(o_orderkey, x8, y8, hbucket)`) — the
    * bit-interleave twin of [[hilbertGridCtes]], shared by the
    * `q_zorder_write` zone-map protocol and the Z compaction replay. */
  private val mortonBucketCtes = """o AS (
        SELECT o_orderkey, o_custkey AS ck,
               date_diff('day', DATE '1992-01-01',
                         cast(o_orderdate AS date)) AS day
        FROM orders
      ), s AS (
        SELECT min(ck) AS ck_min, max(ck) AS ck_max,
               min(day) AS day_min, max(day) AS day_max FROM o
      ), g AS (
        SELECT o_orderkey, ck, day,
               ((ck - ck_min) * 256) // (ck_max - ck_min + 1) AS x8,
               ((day - day_min) * 256) // (day_max - day_min + 1) AS y8
        FROM o, s
      ), hb AS (
        SELECT o_orderkey, x8, y8,
               (list_sum(list_transform(generate_series(0, 7),
                 i -> (((x8 >> i) & 1) << (2*i)) +
                      (((y8 >> i) & 1) << (2*i + 1)))) // 24) AS hbucket
        FROM g
      )"""

  /** The commit-chain replay shared by the `q_time_travel_chain` and
    * `q_vacuum_retention` oracles: v1 = the Hilbert rows minus the
    * delete rectangle, then the MERGE CDC batch applied to V1 (stripe
    * movers re-folded on the shifted coordinate + the splitmix64 insert
    * draw re-keyed above the max key — the `q_merge_rewrite` CTEs, with
    * v1r as the update-half source instead of hb), yielding v2's row
    * set; v3 (OPTIMIZE) has identical rows by construction. */
  private lazy val chainCtes: String = s"""$hilbertGridCtes, hb AS (
        SELECT o_orderkey, day, x8, y8, hidx, (hidx // 24) AS hbucket
        FROM h
      ), v1r AS (
        SELECT * FROM hb
        WHERE NOT (x8 BETWEEN ${RefQueries.HilbertRect._1}
                          AND ${RefQueries.HilbertRect._2}
               AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                          AND ${RefQueries.HilbertRect._4})
      ),
      k0 AS (SELECT o_orderkey,
               ((o_orderkey::UHUGEINT + 11400714819323198485)
                % 18446744073709551616)::UBIGINT AS z FROM orders),
      k1 AS (SELECT o_orderkey,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM k0),
      k2 AS (SELECT o_orderkey,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM k1),
      insk AS (
        SELECT o_orderkey FROM k2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END
             % ${RefQueries.MergeInsertMod})
             + ${RefQueries.MergeInsertMod})
             % ${RefQueries.MergeInsertMod} = 0
      ),
      koff AS (
        SELECT ((max(o_orderkey) // 10000000) + 1) * 10000000 AS koff
        FROM orders
      ),
      mv AS (
        SELECT o_orderkey, x8,
               (((day - day_min + ${RefQueries.MergeDayShift})
                 % (day_max - day_min + 1)) * 256)
                 // (day_max - day_min + 1) AS y8
        FROM v1r, s
        WHERE x8 BETWEEN ${RefQueries.MergeStripe._1}
                     AND ${RefQueries.MergeStripe._2}
      ),
      mv2 AS (
        SELECT o_orderkey, x8, y8,
               ${hilbertFoldSql("x8 * 256 + y8")} AS hidx
        FROM mv
      ),
      ins AS (
        SELECT hb.o_orderkey + (SELECT koff FROM koff) AS o_orderkey,
               x8, y8, hidx
        FROM hb JOIN insk USING (o_orderkey)
      ),
      inc AS (
        SELECT o_orderkey, x8, y8, hidx FROM mv2
        UNION ALL SELECT o_orderkey, x8, y8, hidx FROM ins
      ),
      v2r AS (
        SELECT o_orderkey, x8, y8, hidx FROM v1r
        WHERE NOT (x8 BETWEEN ${RefQueries.MergeStripe._1}
                          AND ${RefQueries.MergeStripe._2})
        UNION ALL SELECT o_orderkey, x8, y8, hidx FROM inc
      )"""

  /** The standalone MERGE replay prefix (on the two-root Hilbert table,
    * not the chain): the CDC batch's movers (stripe rows re-folded on
    * the shifted coordinate), the splitmix64 insert draw re-keyed above
    * the max key, and `fin` — the post-merge row set. ONE definition for
    * the COW (`q_merge_rewrite`) and MOR (`q_merge_mor`) oracles: the
    * two strategies are gated against the identical replay, which IS
    * the strategy-equivalence claim. */
  private lazy val mergeCtes: String = s"""$hilbertGridCtes, hb AS (
        SELECT o_orderkey, day, x8, y8, hidx FROM h
      ),
      k0 AS (SELECT o_orderkey,
               ((o_orderkey::UHUGEINT + 11400714819323198485)
                % 18446744073709551616)::UBIGINT AS z FROM orders),
      k1 AS (SELECT o_orderkey,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM k0),
      k2 AS (SELECT o_orderkey,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM k1),
      insk AS (
        SELECT o_orderkey FROM k2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END
             % ${RefQueries.MergeInsertMod})
             + ${RefQueries.MergeInsertMod})
             % ${RefQueries.MergeInsertMod} = 0
      ),
      mv AS (
        SELECT o_orderkey, x8,
               (((day - day_min + ${RefQueries.MergeDayShift})
                 % (day_max - day_min + 1)) * 256)
                 // (day_max - day_min + 1) AS y8
        FROM hb, s
        WHERE x8 BETWEEN ${RefQueries.MergeStripe._1}
                     AND ${RefQueries.MergeStripe._2}
      ),
      mv2 AS (
        SELECT o_orderkey, x8, y8,
               ${hilbertFoldSql("x8 * 256 + y8")} AS hidx
        FROM mv
      ),
      koff AS (
        SELECT ((max(o_orderkey) // 10000000) + 1) * 10000000 AS koff
        FROM orders
      ),
      ins AS (
        SELECT hb.o_orderkey + (SELECT koff FROM koff) AS o_orderkey,
               x8, y8, hidx
        FROM hb JOIN insk USING (o_orderkey)
      ),
      fin AS (
        SELECT o_orderkey, x8, y8, hidx FROM hb
        WHERE NOT (x8 BETWEEN ${RefQueries.MergeStripe._1}
                          AND ${RefQueries.MergeStripe._2})
        UNION ALL SELECT o_orderkey, x8, y8, hidx FROM mv2
        UNION ALL SELECT o_orderkey, x8, y8, hidx FROM ins
      )"""

  /** The v2 per-band view summary — ONE definition for the batch
    * incremental refresh (`q_cdf_refresh`) and the streaming change-feed
    * replay (`stream_cdf_replay`): both must land on the summary DuckDB
    * computes directly from v2's rows. */
  private lazy val cdfSummaryOracle: String = s"""
      WITH $chainCtes
      SELECT (x8 // 32)::BIGINT AS xband, count(*)::BIGINT AS n_rows,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum,
             (sum(hidx % 1000000007) % 1000000007)::BIGINT
               AS hidx_checksum
      FROM v2r GROUP BY 1 ORDER BY xband ASC"""

  /** One chain version's (version, n_rows, key_checksum, n_rect_rows)
    * aggregate over a [[chainCtes]] row CTE — zone-map soundness makes
    * the oracle's plain rectangle count equal the Spark side's
    * candidate-gated one. */
  private def chainVersionAgg(v: Int, src: String): String = s"""
        SELECT $v::BIGINT AS version, count(*)::BIGINT AS n_rows,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS key_checksum,
               sum(CASE WHEN x8 BETWEEN ${RefQueries.HilbertRect._1}
                                    AND ${RefQueries.HilbertRect._2}
                         AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                                    AND ${RefQueries.HilbertRect._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_rect_rows
        FROM $src"""

  /** Compaction replay, parameterized on the curve: everything from the
    * bucket-count table down (prefix sum, bin = cum_before // target,
    * per-bin zone maps, rectangle re-run) is identical for Hilbert and
    * Morton — only the CTE chain producing
    * `hb(o_orderkey, x8, y8, hbucket)` differs. The bin-pack is
    * DETERMINISTIC, so the oracle derives the exact file layout and the
    * Spark side's ON-DISK part-file counts must land on it. */
  private def compactScanOracle(hbChain: String): String = s"""
      WITH $hbChain, bc AS (
        SELECT hbucket, count(*)::BIGINT AS bc FROM hb GROUP BY hbucket
      ), tgt AS (
        SELECT count(*)::BIGINT AS n_buckets,
               greatest(64, (sum(bc)::BIGINT + 255) // 256)::BIGINT
                 AS target
        FROM bc
      ), bins AS (
        SELECT hbucket,
               (coalesce(sum(bc) OVER (ORDER BY hbucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // target)::BIGINT AS cbin
        FROM bc, tgt
      ), r2 AS (
        SELECT hb.o_orderkey, hb.x8, hb.y8, b.cbin
        FROM hb JOIN bins b USING (hbucket)
      ), z AS (
        SELECT cbin, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM r2 GROUP BY cbin
      ), zc AS (
        SELECT count(*)::BIGINT AS n_files_after,
               sum(CASE WHEN x_hi >= ${RefQueries.HilbertRect._1}
                         AND x_lo <= ${RefQueries.HilbertRect._2}
                         AND y_hi >= ${RefQueries.HilbertRect._3}
                         AND y_lo <= ${RefQueries.HilbertRect._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_bins_scanned
        FROM z
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum
        FROM r2
      ), rc AS (
        SELECT count(*)::BIGINT AS n_rect_rows,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS rect_checksum
        FROM r2
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
      )
      SELECT (SELECT n_buckets FROM tgt) AS n_files_before,
             zc.n_files_after, zc.n_bins_scanned,
             m.n_rows, m.key_checksum, rc.n_rect_rows, rc.rect_checksum
      FROM zc, m, rc"""

  /** Classifier replay scaffold (per-token poly_hash % 64 bins → per-doc
    * (bin, cnt) vectors → per-doc dot with the `w(bin, w)` CTE supplied
    * by the caller → keep = score ≥ 0 → per-lang survival + score
    * checksum). The weight CTE is the only thing that differs between
    * the fixed-table APPLY (`text_classifier_score` + streaming twin)
    * and the TRAINED Naive-Bayes variant (`text_classifier_train`). */
  /** The lateness-audit replay CTEs (round-robin shard merge, (cycle,
    * shard) batches, cross-batch running-max watermark base) ending in
    * `l(event_type, event_id, late_us)` — shared by the exact audit,
    * its approx twin, and the streaming enforcement's prediction. */
  private val latenessLateCtes = """e AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               (event_id % 4)::INT AS shard
        FROM events
      ), p AS (
        SELECT greatest(count(*) // 2048, 4) AS b FROM e
      ), s AS (
        SELECT e.*, row_number() OVER (PARTITION BY shard
                                       ORDER BY event_id ASC) AS seq
        FROM e
      ), c AS (
        SELECT s.*, ((seq - 1) // p.b)::BIGINT AS cycle FROM s, p
      ), bm AS (
        SELECT cycle, shard, max(us) AS bmax FROM c GROUP BY cycle, shard
      ), hw AS (
        SELECT cycle, shard,
               max(bmax) OVER (ORDER BY cycle ASC, shard ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS hwm
        FROM bm
      ), l AS (
        SELECT c.event_type, c.event_id, c.us,
               greatest(coalesce(hw.hwm - c.us, 0), 0)::BIGINT AS late_us
        FROM c JOIN hw USING (cycle, shard)
      )"""

  /** The tokenize → hash → per-doc (bin, cnt) feature CTEs every
    * classifier-family oracle starts from (`b(doc_id, lang, bin, cnt)`). */
  private val classifierBinCtes = """t AS (
        SELECT doc_id, lang, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), hh AS (
        SELECT doc_id, lang,
               (list_reduce(list_prepend(0::BIGINT,
                  list_transform(generate_series(1, length(tok)),
                    i -> ascii(substr(tok, i, 1))::BIGINT)),
                  (a, x) -> (a * 31 + x) % 1000000007) % 64)::INT AS bin
        FROM t
      ), b AS (
        SELECT doc_id, lang, bin, count(*)::BIGINT AS cnt
        FROM hh GROUP BY doc_id, lang, bin
      )"""

  private def classifierOracleWith(weightCtes: String) = s"""
      WITH $classifierBinCtes, $weightCtes, d AS (
        SELECT doc_id, lang, sum(cnt * w.w)::BIGINT AS score
        FROM b JOIN w USING (bin) GROUP BY doc_id, lang
      )
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             sum(CASE WHEN score < 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_dropped,
             min(score)::BIGINT AS score_min,
             max(score)::BIGINT AS score_max,
             (sum(((score % 1000000007) + 1000000007) % 1000000007)
               % 1000000007)::BIGINT AS score_checksum
      FROM d GROUP BY lang ORDER BY lang ASC"""

  private lazy val classifierScoreOracle = classifierOracleWith("""w AS (
        SELECT bin::INT AS bin,
               (((bin * 2654435761) + 40503) % 1000003) % 201 - 100 AS w
        FROM generate_series(0, 63) g(bin)
      )""")

  /** Naive-Bayes training replay: per-bin positive/negative token counts
    * (positive = lang 'en'), add-one bitlen log-odds — re-derived from
    * the same counts as TextAnalysis.trainedBinWeights, missing bins
    * included via the generate_series left join. */
  private lazy val classifierTrainOracle = classifierOracleWith("""agg AS (
        SELECT bin,
               sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)::BIGINT
                 AS cpos,
               sum(CASE WHEN lang <> 'en' THEN cnt ELSE 0 END)::BIGINT
                 AS cneg
        FROM b GROUP BY bin
      ), bins AS (
        SELECT g.bin::INT AS bin, coalesce(a.cpos, 0)::BIGINT AS cpos,
               coalesce(a.cneg, 0)::BIGINT AS cneg
        FROM generate_series(0, 63) g(bin) LEFT JOIN agg a ON a.bin = g.bin
      ), tot AS (
        SELECT sum(cpos)::BIGINT AS tpos, sum(cneg)::BIGINT AS tneg
        FROM bins
      ), w AS (
        SELECT bin,
               (length(bin(cpos + 1)) + length(bin(tneg + 64))
                - length(bin(cneg + 1)) - length(bin(tpos + 64)))::BIGINT
                 AS w
        FROM bins, tot
      )""")

  /** PII-scrub replay: the SAME planted-source construction as
    * TextAnalysis.piiScrub (ids continue from max(doc_id); i%3==0 email,
    * i%3==1 phone+IP, i%3==2 clean), then the same three regex tiers —
    * counts on the raw text, redaction in the fixed email → ip → phone
    * order — rolled up per source. The regexes interpolate from the ONE
    * set of constants the Spark side uses (Java regex ≡ RE2 on this
    * syntax subset); regexp_replace carries the 'g' flag (DuckDB
    * replaces first-only by default, Spark replaces all). */
  private lazy val piiScrubOracle = s"""
      WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      planted AS (
        SELECT m + 1 + i AS doc_id, 'planted' AS source,
          CASE WHEN i % 3 = 0 THEN
                 'reach user' || i::VARCHAR || ' at user' || i::VARCHAR ||
                 '@example.com today'
               WHEN i % 3 = 1 THEN
                 'dial 55512345' || i::VARCHAR || ' from 10.0.' ||
                 i::VARCHAR || '.' || (i * 7 % 256)::VARCHAR || ' now'
               ELSE 'clean text no contact info here' END AS text
        FROM range(20) AS t(i), mx
      ), corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL SELECT doc_id, source, text FROM planted
      ), scored AS (
        SELECT doc_id, source,
          len(regexp_extract_all(text,
            '${graft.operators.TextAnalysis.PiiEmailRe}'))::BIGINT
            AS n_email,
          len(regexp_extract_all(text,
            '${graft.operators.TextAnalysis.PiiIpRe}'))::BIGINT AS n_ip,
          len(regexp_extract_all(text,
            '${graft.operators.TextAnalysis.PiiPhoneRe}'))::BIGINT
            AS n_phone,
          length(text) - length(regexp_replace(regexp_replace(
            regexp_replace(text,
              '${graft.operators.TextAnalysis.PiiEmailRe}', '<EMAIL>', 'g'),
              '${graft.operators.TextAnalysis.PiiIpRe}', '<IP>', 'g'),
              '${graft.operators.TextAnalysis.PiiPhoneRe}', '<PHONE>', 'g'))
            AS delta
        FROM corpus
      )
      SELECT source, count(*)::BIGINT AS n_docs,
        sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END)
          ::BIGINT AS n_pii_docs,
        sum(n_email)::BIGINT AS n_email,
        sum(n_ip)::BIGINT AS n_ip,
        sum(n_phone)::BIGINT AS n_phone,
        sum(delta)::BIGINT AS redact_delta,
        (sum(CASE WHEN n_email + n_ip + n_phone > 0
             THEN doc_id % 1000000007 ELSE 0 END) % 1000000007)::BIGINT
          AS pii_ids_checksum
      FROM scored GROUP BY source ORDER BY source ASC"""

  /** DSIR importance-selection replay: same bin features, target = the
    * 'en' slice vs the RAW corpus distribution (cneg = all tokens),
    * same add-one bitlen log-ratio weights, selection = score ≥ 0,
    * per-lang rollup with a mod-prime checksum of the selected ids. */
  private lazy val importanceSampleOracle = s"""
      WITH $classifierBinCtes, agg AS (
        SELECT bin,
               sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)::BIGINT
                 AS cpos,
               sum(cnt)::BIGINT AS cneg
        FROM b GROUP BY bin
      ), bins AS (
        SELECT g.bin::INT AS bin, coalesce(a.cpos, 0)::BIGINT AS cpos,
               coalesce(a.cneg, 0)::BIGINT AS cneg
        FROM generate_series(0, 63) g(bin) LEFT JOIN agg a ON a.bin = g.bin
      ), tot AS (
        SELECT sum(cpos)::BIGINT AS tpos, sum(cneg)::BIGINT AS tneg
        FROM bins
      ), w AS (
        SELECT bin,
               (length(bin(cpos + 1)) + length(bin(tneg + 64))
                - length(bin(cneg + 1)) - length(bin(tpos + 64)))::BIGINT
                 AS w
        FROM bins, tot
      ), d AS (
        SELECT doc_id, lang, sum(cnt * w.w)::BIGINT AS score
        FROM b JOIN w USING (bin) GROUP BY doc_id, lang
      )
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_selected,
             round(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 4) AS sel_rate,
             min(score)::BIGINT AS score_min,
             max(score)::BIGINT AS score_max,
             (sum(CASE WHEN score >= 0 THEN doc_id % 1000000007
                  ELSE 0 END) % 1000000007)::BIGINT AS sel_checksum
      FROM d GROUP BY lang ORDER BY lang ASC"""

  /** Perceptual-hash pair replay (aHash grid from the text bytes → two
    * 32-bit sign words → 4×16-bit band buckets → hamming ≤ 10) — shared
    * verbatim by `mm_phash_dedup` and, as the pair source of the
    * recursive CC walk, `mm_phash_clusters`. */
  private lazy val mmPhashDedupOracle = """
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16) AS h
        FROM documents WHERE (length(text) // 16) >= 8
      ), grid AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                 k -> ascii(substr(text,
                   ((((k // 8) * h) // 8) * 16 + 2 * (k % 8) + 1)::int,
                   1))::BIGINT) AS g
        FROM d
      ), sums AS (
        SELECT doc_id, g, list_sum(g) AS s FROM grid
      ), sig AS (
        SELECT doc_id,
               list_sum(list_transform(generate_series(1, 32),
                 k -> CASE WHEN 64 * g[k] > s THEN (1::BIGINT << (k - 1))
                      ELSE 0 END))::BIGINT AS w0,
               list_sum(list_transform(generate_series(33, 64),
                 k -> CASE WHEN 64 * g[k] > s THEN (1::BIGINT << (k - 33))
                      ELSE 0 END))::BIGINT AS w1
        FROM sums
      ), banded AS (
        SELECT doc_id, w0, w1, band,
               CASE WHEN band = 0 THEN w0 & 65535
                    WHEN band = 1 THEN (w0 >> 16) & 65535
                    WHEN band = 2 THEN w1 & 65535
                    ELSE (w1 >> 16) & 65535 END AS bsig
        FROM sig CROSS JOIN generate_series(0, 3) t(band)
      ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (bit_count(xor(a.w0, b.w0))
                + bit_count(xor(a.w1, b.w1)))::INTEGER AS hamming
        FROM banded a JOIN banded b USING (band, bsig)
        WHERE a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 10
      ORDER BY doc_a ASC, doc_b ASC"""

  /** Equi-width histogram + CDF replay — shared verbatim by
    * `q_histogram` and its streaming twin `stream_histogram`
    * (Complete-mode bucket-count maintenance finalizes through the same
    * batch CDF code, so stream ≡ batch bucket-for-bucket). */
  private lazy val qHistogramOracle = s"""
      WITH h AS (
        SELECT floor(l_extendedprice / ${RefQueries.HistWidth})::BIGINT
                 AS bucket,
               count(*) AS cnt
        FROM lineitem GROUP BY 1
      ), t AS (SELECT sum(cnt)::BIGINT AS total FROM h)
      SELECT bucket, bucket * ${RefQueries.HistWidth} AS lo_edge,
             cnt::BIGINT AS cnt,
             sum(cnt) OVER (ORDER BY bucket ASC
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cume,
             round(cnt::DOUBLE / total, 6) AS pct,
             round(sum(cnt) OVER (ORDER BY bucket ASC
                                  ROWS UNBOUNDED PRECEDING)::DOUBLE
                   / total, 6) AS cdf
      FROM h, t ORDER BY bucket ASC"""

  /** One fixed-point PageRank iteration over the replayed minhash edge
    * graph: per-edge integer contribution rq DIV deg, map-collapsed per
    * target, damped update — every sum cast back to BIGINT (DuckDB's
    * sum() widens to HUGEINT). Mirrors one Dedup.pageRank loop step. */
  private def pageRankIter(prev: String, c: String, cur: String) = s"""$c AS (
      SELECT e.v AS doc_id, sum(r.rq // e.deg)::BIGINT AS contrib
      FROM edgesdeg e JOIN $prev r ON r.doc_id = e.u
      GROUP BY e.v
    ), $cur AS (
      SELECT n.doc_id,
             (150000 + (coalesce(c.contrib, 0) * 85) // 100)::BIGINT AS rq
      FROM allnodes n LEFT JOIN $c c USING (doc_id)
    )"""

  /** PageRank oracle: the minhash pair graph replay, then three unrolled
    * integer-quantized iterations — term-for-term Dedup.pageRank. */
  private lazy val dedupPagerankOracle = s"""
    WITH pr AS ($dedupMinhashOracle),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pr
      UNION ALL
      SELECT doc_b, doc_a FROM pr
    ),
    deg AS (SELECT u, count(*)::BIGINT AS deg FROM edges GROUP BY u),
    edgesdeg AS (SELECT e.u, e.v, d.deg FROM edges e JOIN deg d USING (u)),
    allnodes AS (SELECT doc_id FROM documents),
    r0 AS (SELECT doc_id, 1000000::BIGINT AS rq FROM allnodes),
    ${pageRankIter("r0", "c1", "r1")},
    ${pageRankIter("r1", "c2", "r2")},
    ${pageRankIter("r2", "c3", "r3")}
    SELECT n.doc_id, coalesce(d.deg, 0)::BIGINT AS degree,
           r.rq AS rank_q
    FROM allnodes n
    LEFT JOIN deg d ON d.u = n.doc_id
    JOIN r3 r USING (doc_id)
    ORDER BY doc_id ASC"""

  /** SimHash oracle: per-token bit votes from portable modular byte-folds
    * (see Dedup.simHash scaladoc) — DuckDB recomputes the 64 signature
    * bits, the shifted 16-bit band buckets, and the hamming distances. */
  private val dedupSimhashOracle = """
    WITH d AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d
    ), th AS (
      SELECT doc_id,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, length(tok)),
                 i -> ascii(substr(tok, i, 1))::BIGINT)),
               (a, x) -> (a * 31 + x) % 1000000007) AS m1,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, length(tok)),
                 i -> ascii(substr(tok, i, 1))::BIGINT)),
               (a, x) -> (a * 131 + x) % 998244353) AS m2
      FROM tok
    ), bits AS (
      SELECT doc_id, b,
             sum((((b*b + 3*b + 7) * m1 + (2*b*b + b + 3) * m2 + b)
                  % 1000000007) & 1) AS ones,
             count(*) AS n
      FROM th CROSS JOIN generate_series(0, 63) g(b)
      GROUP BY doc_id, b
    ), sigbits AS (
      SELECT doc_id, b, CASE WHEN 2 * ones > n THEN 1 ELSE 0 END AS bit
      FROM bits
    ), sigs AS (
      SELECT doc_id, list(bit ORDER BY b ASC) AS bits
      FROM sigbits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, bits, band,
             list_sum(list_transform(generate_series(1, 16),
               j -> bits[16*band + j] * (1 << (j-1)))) AS bval
      FROM sigs CROSS JOIN generate_series(0, 3) t(band)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.bits AS bits_a, b.bits AS bits_b
      FROM banded a JOIN banded b USING (band, bval)
      WHERE a.doc_id < b.doc_id
    ), ham AS (
      SELECT doc_a, doc_b,
             list_sum(list_transform(generate_series(1, 64),
               i -> CASE WHEN bits_a[i] != bits_b[i] THEN 1 ELSE 0 END))
               ::INTEGER AS hamming
      FROM pairs
    )
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 8
    ORDER BY doc_a ASC, doc_b ASC"""

  private val simTopKOracle = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 3
    ), s AS (
      SELECT q_id, vec_id, list_cosine_similarity(v, q_vec) AS c
      FROM e, q WHERE vec_id != q_id
    ), r AS (
      SELECT q_id, vec_id, c,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY c DESC, vec_id ASC) AS rnk
      FROM s
    )
    SELECT q_id, vec_id, round(c, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  // -------------------------------------------------------------------
  // LSH-family oracles. The random-hyperplane signature is a pure integer
  // formula (Similarity.planeComponent) both engines reproduce exactly:
  // v = (p*1000003 + d) mod 104729;
  // plane[p][d] = ((v² mod 104729)·2654435761 + v·40503) mod 104729
  //               / 52364.0 − 1.0
  // (quadratic mixing — a linear formula makes planes correlated shifted
  // copies; see Similarity.planeComponent), and
  // the dot products are sequential left-folds — bit-identical IEEE
  // doubles in Spark codegen and DuckDB list_reduce. That makes the
  // "approximate" LSH/IVF operators fully deterministic and
  // oracle-checkable: DuckDB independently recomputes signatures, band
  // buckets, candidates, and exact reranks.
  // -------------------------------------------------------------------

  /** Shared CTE prefix: embeddings as double vectors + 16-bit hyperplane
    * signatures. */
  private val embSigCtes = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), planes AS (
      SELECT p, list_transform(generate_series(0, 63),
               d -> ((((((p * 1000003 + d) % 104729)
                        * ((p * 1000003 + d) % 104729)) % 104729)
                       * 2654435761
                       + ((p * 1000003 + d) % 104729) * 40503) % 104729)
                    / 52364.0 - 1.0)
               AS plane
      FROM generate_series(0, 15) t(p)
    ), sig AS (
      SELECT vec_id,
             sum(CASE WHEN list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, 64),
                     i -> v[i] * plane[i])), (a, x) -> a + x) >= 0
                 THEN (1 << p) ELSE 0 END)::INTEGER AS sig
      FROM e CROSS JOIN planes GROUP BY vec_id
    )"""

  private val simTopKLshOracle = s"""
    $embSigCtes, bands AS (
      SELECT vec_id, band, (sig >> (4 * band)) & 15 AS bval
      FROM sig CROSS JOIN generate_series(0, 3) t(band)
    ), qb AS (
      SELECT vec_id AS q_id, band, bval FROM bands WHERE vec_id < 3
    ), cand AS (
      SELECT DISTINCT b.vec_id, q.q_id
      FROM bands b JOIN qb q USING (band, bval)
      WHERE b.vec_id != q.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id, list_cosine_similarity(ev.v, eq.v) AS cos
      FROM cand c
      JOIN e ev ON ev.vec_id = c.vec_id
      JOIN e eq ON eq.vec_id = c.q_id
    ), r AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  /** Exact radius search + band-recall audit: cosine ≥ τ hits from the
    * full scan, with `in_lsh_bucket` replaying the 16-bit/4-band
    * signature match the same way the Spark side computes it map-side. */
  private val simRadiusOracle = s"""
    $embSigCtes, q AS (
      SELECT e.vec_id AS q_id, e.v AS q_vec, s.sig AS q_sig
      FROM e JOIN sig s ON s.vec_id = e.vec_id WHERE e.vec_id < 3
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(e.v, q.q_vec), 6) AS cos_sim,
             (((s2.sig >> 0) & 15) = ((q.q_sig >> 0) & 15) OR
              ((s2.sig >> 4) & 15) = ((q.q_sig >> 4) & 15) OR
              ((s2.sig >> 8) & 15) = ((q.q_sig >> 8) & 15) OR
              ((s2.sig >> 12) & 15) = ((q.q_sig >> 12) & 15))
               AS in_lsh_bucket
      FROM e JOIN sig s2 ON s2.vec_id = e.vec_id CROSS JOIN q
      WHERE e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, cos_sim, in_lsh_bucket
    FROM scored WHERE cos_sim >= ${graft.operators.Similarity.RadiusTau}
    ORDER BY q_id ASC, cos_sim DESC, vec_id ASC"""

  /** Stupid-backoff LM replay: trains on even doc_ids, scores odd ones;
    * the seen/backoff branch and the bitlen quantization mirror
    * TextAnalysis.lmBackoff term for term. */
  private val textLmBackoffOracle = s"""
    WITH s AS (
      SELECT doc_id, string_split(
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos
      FROM s
    ), b AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS w2
      FROM t
    ), bg AS (
      SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0
      GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY w1
    ), cu AS (
      SELECT tok AS w2, count(*) AS cu FROM t WHERE doc_id % 2 = 0
      GROUP BY tok
    ), n AS (SELECT sum(cu)::BIGINT AS n_tok FROM cu
    ), j AS (
      SELECT bg.doc_id, (c2.c2 IS NULL) AS backoff,
             CASE WHEN c2.c2 IS NOT NULL
                  THEN length(bin(c1.c1)) - length(bin(c2.c2))
                  ELSE ${graft.operators.TextAnalysis.LmAlphaBits}
                       + length(bin(n.n_tok))
                       - length(bin(coalesce(cu.cu, 1)))
             END::BIGINT AS bits
      FROM bg
      LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
      LEFT JOIN c1 ON c1.w1 = bg.w1
      LEFT JOIN cu ON cu.w2 = bg.w2
      CROSS JOIN n
      WHERE bg.doc_id % 2 != 0
    )
    SELECT doc_id, count(*) AS n_bigrams,
           sum(CASE WHEN backoff THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
           sum(bits)::BIGINT AS bits_total,
           round(sum(bits)::DOUBLE / count(*), 4) AS bits_per_bigram
    FROM j GROUP BY doc_id ORDER BY doc_id ASC"""

  /** Replays the ADAPTIVE banding of Similarity.cosineNearDup: band width
    * = smallest bits ≥ 8 with 4·2^bits ≥ count(*), 4 bands over globally
    * indexed planes (band = p // bits, bit = p % bits). generate_series
    * can't take subqueries in DuckDB, so the plane range is generated to
    * the 4×30 max and filtered against the bits CTE. */
  private val embCosineNearDupOracle = s"""
    WITH pb AS (
      -- coalesce mirrors the Scala clamp (Similarity.cosineNearDup caps
      -- bits at 30): beyond 2^32 vectors min(b) would go NULL instead of
      -- saturating like the Scala while-loop does
      SELECT coalesce(min(b), 30)::INT AS bits
      FROM generate_series(8, 30) t(b)
      WHERE (1::BIGINT << b) * 4 >= (SELECT count(*) FROM embeddings)
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), planes AS (
      SELECT p, list_transform(generate_series(0, 63),
               d -> ((((((p * 1000003 + d) % 104729)
                        * ((p * 1000003 + d) % 104729)) % 104729)
                       * 2654435761
                       + ((p * 1000003 + d) % 104729) * 40503) % 104729)
                    / 52364.0 - 1.0)
               AS plane
      FROM generate_series(0, 119) t(p), pb WHERE p < 4 * pb.bits
    ), bands AS (
      SELECT vec_id, (p // pb.bits) AS band,
             sum(CASE WHEN list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, 64),
                     i -> v[i] * plane[i])), (a, x) -> a + x) >= 0
                 THEN (1::BIGINT << (p % pb.bits)) ELSE 0 END)::BIGINT AS bval
      FROM e CROSS JOIN planes, pb GROUP BY vec_id, band
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b USING (band, bval)
      WHERE a.vec_id < b.vec_id
    )
    SELECT DISTINCT p.id_a, p.id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
    FROM pairs p
    JOIN e ea ON ea.vec_id = p.id_a
    JOIN e eb ON eb.vec_id = p.id_b
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4
    ORDER BY id_a ASC, id_b ASC"""

  /** Splitmix64 seed-ranking CTE fragment (requires an `e(vec_id, v)`
    * CTE upstream): re-derives mix64(vec_id) with UHUGEINT wrap-around
    * products, casts back to SIGNED BIGINT (the Spark Long ordering
    * domain — the `text_cap_per_source` convention), and ranks
    * ascending with vec_id tiebreak: `seeds(vec_id, seed_rank)` is the
    * skew-immune model-seed sample Similarity.seedVectors collects. */
  private def seedRankCtesFrom(src: String) = s"""mz AS (
      SELECT vec_id, ((vec_id::UHUGEINT + 11400714819323198485)
               % 18446744073709551616)::UBIGINT AS z
      FROM $src
    ), m1 AS (
      SELECT vec_id, ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
               % 18446744073709551616)::UBIGINT AS z FROM mz
    ), m2 AS (
      SELECT vec_id, ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
               % 18446744073709551616)::UBIGINT AS z FROM m1
    ), seeds AS (
      SELECT vec_id,
             (row_number() OVER (ORDER BY
                CASE WHEN xor(z, z >> 31) >= 9223372036854775808
                     THEN (xor(z, z >> 31)::HUGEINT
                           - 18446744073709551616)::BIGINT
                     ELSE xor(z, z >> 31)::BIGINT END ASC,
                vec_id ASC) - 1)::INTEGER AS seed_rank
      FROM m2
    )"""

  private lazy val seedRankCtes = seedRankCtesFrom("e")

  /** One per-subspace Lloyd step for the PQ-training oracle (requires
    * `sv(vec_id, s, sv)` upstream): L2-argmin assignment against `prev`,
    * fixed-point (s, code, dim) integer sums, truncated-mean update,
    * empty codes carried forward — term-for-term the
    * Similarity.pqCodebookKmeans iteration. */
  private def pqLloydIter(prev: String, a: String, s1: String,
      cm: String, cur: String) = s"""$a AS (
        SELECT vec_id, s, code, sv FROM (
          SELECT sv.vec_id, sv.s, cb.code, sv.sv,
                 row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, 8),
                       i -> (sv.sv[i] - cb.cv[i]) * (sv.sv[i] - cb.cv[i]))),
                     (a, x) -> a + x) ASC,
                   cb.code ASC) AS r
          FROM sv JOIN $prev cb ON cb.s = sv.s
        ) WHERE r = 1
      ), $s1 AS (
        SELECT s, code, d, sum(floor(sv[d] * 1000000.0 + 0.5)::BIGINT) AS m,
               count(*) AS n
        FROM $a CROSS JOIN generate_series(1, 8) g(d) GROUP BY s, code, d
      ), $cm AS (
        SELECT s, code,
               list(trunc(m::DOUBLE / n) / 1000000.0 ORDER BY d ASC) AS cv
        FROM $s1 GROUP BY s, code
      ), $cur AS (
        SELECT p.s, p.code, coalesce($cm.cv, p.cv) AS cv
        FROM $prev p LEFT JOIN $cm ON $cm.s = p.s AND $cm.code = p.code
      )"""

  /** Adaptive IVF sizing, re-derived from the corpus: cell count is the
    * dedup_semantic ceil(n/256) clamp (formula-identical to
    * Similarity.semanticCellCount) and nprobe is a quarter of the cells
    * (floor 4) — Similarity.ivfNprobe. Both MUST be re-derived here, not
    * pasted as literals: at a different scale the Scala side derives a
    * different model and the oracle has to land on the same one. */
  private val ivfParamCte = """kp AS (
      SELECT k, greatest(4, k // 4) AS np FROM (
        SELECT greatest(16, least(65536, (count(*) + 255) // 256)) AS k
        FROM embeddings)
    )"""

  /** Seeded-IVF replay, parameterized by the query-set bound — ONE
    * source of truth for the per-query path (`sim_topk_ivf`, nq = 3)
    * and the batched serving shape (`sim_topk_batch`, nq = 64): only
    * the probe filter differs, which is exactly the batch claim (same
    * cells, probes, and rerank per query at any batch size). */
  private def simTopKIvfOracleFor(nq: Int) = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), $ivfParamCte, $seedRankCtes, centroids AS (
      SELECT s.seed_rank AS cell_id, e.v AS cv
      FROM seeds s JOIN e ON e.vec_id = s.vec_id
      WHERE s.seed_rank < (SELECT k FROM kp)
    ), assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT ev.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN centroids c
      ) WHERE r = 1
    ), probes AS (
      SELECT q_id, cell_id FROM (
        SELECT ev.vec_id AS q_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN centroids c WHERE ev.vec_id < $nq
      ) WHERE r <= (SELECT np FROM kp)
    ), cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id != p.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id, list_cosine_similarity(e1.v, e2.v) AS cos
      FROM cand c
      JOIN e e1 ON e1.vec_id = c.vec_id
      JOIN e e2 ON e2.vec_id = c.q_id
    ), r AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  private val simTopKIvfOracle = simTopKIvfOracleFor(3)

  /** Incremental-IVF replay: the FULL REBUILD under the frozen index
    * model — centroids seeded and geometry (cell count, probe width)
    * sized from the INDEX half (even vec_ids) alone, assignment over the
    * whole corpus (assignment is a row-local argmax, so index ∪ Δ under
    * the same centroids IS the rebuild), then the standard probe/rerank.
    * The Spark side never re-reads the index on ingest, so the hash gate
    * is the incremental ≡ rebuild proof. */
  private def simTopKIvfIncrementalOracleFor(nq: Int) = s"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ei AS (
      SELECT vec_id, v FROM e WHERE vec_id % 2 = 0
    ), kp AS (
      SELECT k, greatest(4, k // 4) AS np FROM (
        SELECT greatest(16, least(65536, (count(*) + 255) // 256)) AS k
        FROM ei)
    ), ${seedRankCtesFrom("ei")}, centroids AS (
      SELECT s.seed_rank AS cell_id, e.v AS cv
      FROM seeds s JOIN e ON e.vec_id = s.vec_id
      WHERE s.seed_rank < (SELECT k FROM kp)
    ), assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT ev.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN centroids c
      ) WHERE r = 1
    ), probes AS (
      SELECT q_id, cell_id FROM (
        SELECT ev.vec_id AS q_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN centroids c WHERE ev.vec_id < $nq
      ) WHERE r <= (SELECT np FROM kp)
    ), cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id != p.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id, list_cosine_similarity(e1.v, e2.v) AS cos
      FROM cand c
      JOIN e e1 ON e1.vec_id = c.vec_id
      JOIN e e2 ON e2.vec_id = c.q_id
    ), r AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  /** Shared unrolled-Lloyd CTE prefix: the integer-quantized k-means
    * update (Similarity.kmeansCentroids) is bit-reproducible, so DuckDB
    * replays the 2 iterations — assign (cosine argmax) → per-(cell,dim)
    * integer sums → truncated-mean centroids (empty cells keep the
    * previous centroid) — ending with the final corpus assignment.
    * `kBody` is the SELECT defining the cell count k: a literal for the
    * fixed-k operators (IVF, cluster summary), the corpus-derived
    * formula for dedup_semantic (it must re-derive k from the same
    * count the Scala side uses, or the two models diverge). */
  /** dedup_semantic's adaptive cell count, re-derived from the corpus:
    * must stay formula-identical to Similarity.semanticCellCount. */
  /** Adaptive IVF cell count kBody for the Lloyd CTE chain — the same
    * ceil(n/256) clamp as dedup_semantic (Similarity.ivfCells). */
  private val semanticKSql =
    "SELECT greatest(16, least(65536, (count(*) + 255) // 256)) AS k " +
      "FROM embeddings"

  // one constant, two names: the IVF clamp is DELIBERATELY the same
  // formula as dedup_semantic's — aliasing (not copying) the string
  // makes silent drift impossible
  private val ivfKSql = semanticKSql

  private def kmeansCtes(kBody: String) = s"""
    WITH kp AS ($kBody
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), $seedRankCtes, c0 AS (
      SELECT s.seed_rank AS cell_id, e.v AS cv
      FROM seeds s JOIN e ON e.vec_id = s.vec_id
      WHERE s.seed_rank < (SELECT k FROM kp)
    ), a1 AS (
      SELECT vec_id, cell_id, v FROM (
        SELECT ev.vec_id, c.cell_id, ev.v,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN c0 c
      ) WHERE r = 1
    ), s1 AS (
      SELECT cell_id, d,
             sum(floor(v[d] * 1000000.0 + 0.5)::BIGINT) AS s,
             count(*) AS n
      FROM a1 CROSS JOIN generate_series(1, 64) g(d)
      GROUP BY cell_id, d
    ), cm1 AS (
      SELECT cell_id,
             list(trunc(s::DOUBLE / n) / 1000000.0 ORDER BY d ASC) AS cv
      FROM s1 GROUP BY cell_id
    ), c1 AS (
      SELECT c0.cell_id, coalesce(cm1.cv, c0.cv) AS cv
      FROM c0 LEFT JOIN cm1 USING (cell_id)
    ), a2 AS (
      SELECT vec_id, cell_id, v FROM (
        SELECT ev.vec_id, c.cell_id, ev.v,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN c1 c
      ) WHERE r = 1
    ), s2 AS (
      SELECT cell_id, d,
             sum(floor(v[d] * 1000000.0 + 0.5)::BIGINT) AS s,
             count(*) AS n
      FROM a2 CROSS JOIN generate_series(1, 64) g(d)
      GROUP BY cell_id, d
    ), cm2 AS (
      SELECT cell_id,
             list(trunc(s::DOUBLE / n) / 1000000.0 ORDER BY d ASC) AS cv
      FROM s2 GROUP BY cell_id
    ), c2 AS (
      SELECT c1.cell_id, coalesce(cm2.cv, c1.cv) AS cv
      FROM c1 LEFT JOIN cm2 USING (cell_id)
    ), assigned AS (
      SELECT vec_id, cell_id FROM (
        SELECT ev.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN c2 c
      ) WHERE r = 1
    )"""

  private val simTopKIvfKmeansOracle = s"""
    ${kmeansCtes(ivfKSql)}, probes AS (
      SELECT q_id, cell_id FROM (
        SELECT ev.vec_id AS q_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN c2 c WHERE ev.vec_id < 3
      ) WHERE r <= greatest(4, (SELECT k FROM kp) // 4)
    ), cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id != p.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id, list_cosine_similarity(e1.v, e2.v) AS cos
      FROM cand c
      JOIN e e1 ON e1.vec_id = c.vec_id
      JOIN e e2 ON e2.vec_id = c.q_id
    ), r AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  /** Rebuilt-index serving replay (`sim_index_rebuild`): the adaptive-k
    * kmeans chain over the FULL corpus at the production batch size —
    * the committed v2 exactly — plus the served version's identity
    * columns, so a failed cutover (still serving v1's geometry) fails
    * every output row, not just a summary. */
  private lazy val simIndexRebuildOracle = s"""
    ${kmeansCtes(ivfKSql)}, probes AS (
      SELECT q_id, cell_id FROM (
        SELECT ev.vec_id AS q_id, c.cell_id,
               row_number() OVER (PARTITION BY ev.vec_id
                 ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                          c.cell_id ASC) AS r
        FROM e ev CROSS JOIN c2 c WHERE ev.vec_id < 64
      ) WHERE r <= greatest(4, (SELECT k FROM kp) // 4)
    ), cand AS (
      SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (cell_id)
      WHERE a.vec_id != p.q_id
    ), scored AS (
      SELECT c.q_id, c.vec_id, list_cosine_similarity(e1.v, e2.v) AS cos
      FROM cand c
      JOIN e e1 ON e1.vec_id = c.vec_id
      JOIN e e2 ON e2.vec_id = c.q_id
    ), r AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT 'v2' AS index_ref, (SELECT k FROM kp)::BIGINT AS n_cells,
           q_id, vec_id, round(cos, 6) AS cos_sim, rnk::INTEGER AS rnk
    FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""

  /** Clustering-summary oracle: same unrolled Lloyd replay; the centroid
    * norm is a sequential fold, bit-identical to the Scala loop. */
  private val embedKmeansClustersOracle = s"""
    ${kmeansCtes("SELECT 16 AS k")}, counts AS (
      SELECT cell_id, count(*) AS n_vecs FROM assigned GROUP BY cell_id
    )
    SELECT c2.cell_id, coalesce(counts.n_vecs, 0) AS n_vecs,
           round(sqrt(list_reduce(list_prepend(0.0,
             list_transform(c2.cv, x -> x * x)), (a, b) -> a + b)), 6)
             AS centroid_norm
    FROM c2 LEFT JOIN counts USING (cell_id)
    ORDER BY cell_id ASC"""

  /** One power-iteration stage of the PCA oracle — HUGEINT throughout
    * (128-bit == Spark's DECIMAL(38,0) headroom), truncating integer
    * division on the magnitude (abs-then-sign == Spark's
    * remainder-stripped floor). */
  private def pcaIter(prev: String, w: String, m: String, cur: String) =
    s"""$w AS (
        SELECT g.i, sum(g.g * $prev.v)::HUGEINT AS w
        FROM g JOIN $prev ON g.j = $prev.vi GROUP BY g.i
      ), $m AS (SELECT max(abs(w)) AS m FROM $w), $cur AS (
        SELECT i AS vi,
               CASE WHEN w < 0
                    THEN -((abs(w) * ${Similarity.PcaScale}) // $m.m)
                    ELSE (abs(w) * ${Similarity.PcaScale}) // $m.m
               END::HUGEINT AS v
        FROM $w, $m
      )"""

  /** Shared power-iteration PCA chain (quantized components →
    * upper-triangle Gramian mirrored to `g` → three renormalized
    * matrix–vector stages ending in `v3`) — used by both the
    * eigensolver report and the rotation-apply oracle. */
  private val pcaCtes = s"""
      WITH q AS (
        SELECT list_transform(embedding,
                 x -> floor(x::DOUBLE * ${Similarity.PcaScale})::HUGEINT)
                 AS qv
        FROM embeddings
      ), c AS (
        SELECT unnest(flatten(list_transform(range(len(qv)), i ->
                 list_transform(range(i, len(qv)), j ->
                   {'i': i, 'j': j, 'p': qv[i+1] * qv[j+1]})))) AS c
        FROM q
      ), gu AS (
        SELECT c.c.i AS i, c.c.j AS j, sum(c.c.p)::HUGEINT AS g
        FROM c GROUP BY 1, 2
      ), g AS (
        SELECT i, j, g FROM gu
        UNION ALL
        SELECT j AS i, i AS j, g FROM gu WHERE i <> j
      ), v0 AS (
        SELECT DISTINCT i AS vi, ${Similarity.PcaScale}::HUGEINT AS v FROM g
      ), ${pcaIter("v0", "w1", "m1", "v1")},
      ${pcaIter("v1", "w2", "m2", "v2")},
      ${pcaIter("v2", "w3", "m3", "v3")}"""

  private val mmPropsJsonOracle = """
    WITH e AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    SELECT event_type, count(*) AS cnt, round(avg(k), 4) AS avg_k,
           max(k) AS max_k,
           count(CASE WHEN k IS NULL THEN 1 END) AS null_k
    FROM e GROUP BY event_type ORDER BY event_type ASC"""

  private val mmBinaryFeaturesOracle = """
    SELECT doc_id,
           octet_length(encode(text))::INTEGER AS n_bytes,
           CASE WHEN length(text) = 0 THEN -1
                ELSE ascii(substr(text, 1, 1)) END AS first_byte,
           CASE WHEN length(text) = 0 THEN 0
                ELSE list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(generate_series(1, least(8, length(text))),
                                   i -> ascii(substr(text, i, 1)))),
                  (a, x) -> (a * 31 + x) % 1000000007) END AS feat_hash
    FROM documents ORDER BY doc_id ASC"""

  private val evWindowOracle = """
    SELECT cast(date_trunc('hour', ts) AS varchar) AS hour_start,
           event_type, count(*) AS cnt,
           round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC"""

  private val evSessionizeOracle = """
    WITH x AS (
      SELECT user_id, event_id, ts, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, value,
             sum(CASE WHEN prev_us IS NULL
                       OR epoch_us(ts) - prev_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x
    )
    SELECT user_id, max(session_id)::BIGINT AS n_sessions,
           count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS total_value
    FROM s GROUP BY user_id ORDER BY user_id ASC"""

  /** Shared by the batch compaction and the streaming upsert view — both
    * must converge to the same "latest record per key" table. */
  private val evCdcCompactOracle = """
    SELECT user_id, n_versions, last_event_id, last_event_type, last_ts
    FROM (
      SELECT user_id, event_id AS last_event_id,
             event_type AS last_event_type,
             cast(ts AS varchar) AS last_ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_versions
      FROM events
    ) WHERE rn = 1 ORDER BY user_id ASC"""

  private val evAsofOracle = """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS click_ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, cast(p.ts AS varchar) AS ts_s,
           c.click_id, epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    ORDER BY p.event_id ASC"""

  /** Alive-corpus index rebuild — the oracle for BOTH forget-index
    * routes (`dedup_forget_index` batch subtraction and
    * `stream_forget_index` Complete-mode streaming subtraction): the
    * tombstone draw replayed through the splitmix64 chain, then the
    * band-bucket cells rebuilt from scratch over the survivors. */
  private lazy val forgetIndexOracle: String = s"""
      WITH
      z0 AS (SELECT doc_id,
               ((doc_id::UHUGEINT + 11400714819323198485)
                % 18446744073709551616)::UBIGINT AS z FROM documents),
      z1 AS (SELECT doc_id,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM z0),
      z2 AS (SELECT doc_id,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM z1),
      dead AS (
        SELECT doc_id FROM z2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END % 19) + 19) % 19 = 0
      ), $minhashBandedCtes
      SELECT band, bsig, count(*)::BIGINT AS n_docs,
             (sum((doc_id % 1000000007) * (doc_id % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS member_checksum
      FROM banded
      WHERE doc_id NOT IN (SELECT doc_id FROM dead)
      GROUP BY band, bsig
      ORDER BY band ASC, bsig ASC"""

  /** Every declared query, each with its oracle. A strict val: it must
    * stay below the oracle vals it reads, or it would capture them before
    * they are initialised (null). */
  val registry: Seq[Query] = Seq(
    Query("q1_topmonths", RefQueries.q1TopMonths(_, _), q1Oracle),
    Query("q1_sql", RefQueries.q1TopMonthsSql(_, _), q1Oracle),
    Query("q1_typed", RefQueries.q1TopMonthsTyped(_, _), q1Oracle),
    Query("q1_csv", RefQueries.q1TopMonthsCsv(_, _), q1Oracle),
    Query("q1_csv_schema", RefQueries.q1TopMonthsCsvSchema(_, _), q1Oracle),
    Query("q1_orc", RefQueries.q1TopMonthsOrc(_, _), q1Oracle),
    Query("q1_jsonl", RefQueries.q1TopMonthsJsonl(_, _), q1Oracle),
    Query("q2_buckets", RefQueries.q2TimeBuckets(_, _), q2Oracle),
    Query("q2_csv", RefQueries.q2TimeBucketsCsv(_, _), q2Oracle),
    Query("q2_sql", RefQueries.q2TimeBucketsSql(_, _), q2Oracle),
    Query("q2_typed", RefQueries.q2TimeBucketsTyped(_, _), q2Oracle),
    Query("q3_joinchain", RefQueries.q3JoinChain(_, _), q3Oracle),
    Query("q3_csv", RefQueries.q3JoinChain(_, _, fromCsv = true), q3Oracle),
    Query("q3_hint_broadcast",
      RefQueries.q3JoinChain(_, _, "broadcast", "broadcast"), q3Oracle),
    Query("q3_hint_merge", RefQueries.q3JoinChain(_, _, "merge", "merge"),
      q3Oracle),
    Query("q3_hint_shuffle_hash",
      RefQueries.q3JoinChain(_, _, "shuffle_hash", "shuffle_hash"), q3Oracle),
    // asymmetric hints — the reference CLI selects each join's hint
    // independently (query3.py:175-192); the published matrix also
    // includes per-join "optimal" combos (results/query3.txt:96-102)
    Query("q3_hint_asym", RefQueries.q3JoinChain(_, _, "merge", "broadcast"),
      q3Oracle),
    Query("q3_hint_opt_merge", RefQueries.q3JoinChain(_, _, "optimal", "merge"),
      q3Oracle),
    Query("q3_hint_opt_shuffle_hash",
      RefQueries.q3JoinChain(_, _, "optimal", "shuffle_hash"), q3Oracle),
    Query("q3_hint_replicate_nl", RefQueries.q3JoinChainReplicateNl(_, _),
      q3Oracle),
    Query("q3_hint_replicate_nl_join1",
      RefQueries.q3JoinChainReplicateNlJoin1(_, _), q3Oracle),
    Query("q3_joinchain_bot", RefQueries.q3JoinChain(_, _, extreme = "bot"),
      q3OracleBot),
    Query("q3_joinchain_rawkey", RefQueries.q3JoinChainRawKey(_, _),
      q3OracleRawKey),
    Query("q3_topk_distributed", RefQueries.q3TopKDistributed(_, _), q3Oracle),
    Query("q4_distance", RefQueries.q4Distance(_, _), q4Oracle),
    Query("q4_csv", RefQueries.q4DistanceCsv(_, _), q4Oracle),
    Query("q4_distance_broadcast", RefQueries.q4DistanceBroadcast(_, _),
      q4Oracle),
    Query("q4_distance_sql", RefQueries.q4DistanceSql(_, _), q4Oracle),
    Query("q4_distance_cogroup", RefQueries.q4DistanceCogroup(_, _), q4Oracle),
    Query("q4_distance_bcastvar", RefQueries.q4DistanceBroadcastVar(_, _),
      q4Oracle),
    Query("q_profile", RefQueries.qProfile(_, _), """
      SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
             count(*) - count(o_orderstatus) AS n_null,
             count(DISTINCT o_orderstatus) AS n_distinct FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             count(DISTINCT o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             count(DISTINCT o_custkey) FROM orders
      ORDER BY col_name ASC"""),
    // bound-checked sketch twin (literal TRUE gates the 5% bound, like
    // q_approx_distinct)
    Query("q_profile_approx", RefQueries.qProfileApprox(_, _), """
      SELECT * FROM (
        SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
               count(*) - count(o_orderstatus) AS n_null,
               count(DISTINCT o_orderstatus) AS n_distinct,
               true AS distinct_ok FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
               count(DISTINCT o_orderpriority), true FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
               count(DISTINCT o_custkey), true FROM orders
      ) ORDER BY col_name ASC"""),
    Query("text_sample_stratified", TextAnalysis.stratifiedSample(_, _), """
      SELECT lang, count(*) AS n_total,
             count(CASE WHEN doc_id % 10 < 1 THEN 1 END) AS n_kept,
             round(count(CASE WHEN doc_id % 10 < 1 THEN 1 END)::double /
                   greatest(count(*), 1), 4) AS rate
      FROM documents GROUP BY lang ORDER BY lang ASC"""),
    Query("q_quantiles", RefQueries.qQuantiles(_, _), """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC"""),
    // bound-checked sketch oracles: the oracle computes the exact side and
    // asserts (via literal TRUE columns that the driver hash-compares) that
    // the Spark-side sketch stayed within its documented error bound
    Query("q_quantiles_approx", RefQueries.qQuantilesApprox(_, _), """
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             count(*) AS cnt, true AS p50_ok, true AS p90_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC"""),
    Query("q_approx_distinct", RefQueries.qApproxDistinct(_, _), """
      SELECT l_returnflag,
             count(DISTINCT l_orderkey) AS exact_orders,
             count(DISTINCT l_partkey) AS exact_parts,
             true AS orders_ok, true AS parts_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC"""),
    Query("text_bigrams", TextAnalysis.bigramStats(_, _), """
      WITH toks AS (
        SELECT doc_id, l[ord] AS tok, ord FROM (
          SELECT doc_id, l, unnest(generate_series(1, len(l))) AS ord
          FROM (SELECT doc_id, string_split(
                  regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS l
                FROM documents))
      ), bg AS (
        SELECT tok || ' ' ||
               lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS bigram
        FROM toks
      )
      SELECT bigram, count(*) AS cnt FROM bg WHERE bigram IS NOT NULL
      GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 20"""),
    Query("q_skew_salted_agg", RefQueries.qSkewSaltedAgg(_, _), """
      SELECT event_type, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value,
             round(sum(CAST(value AS DECIMAL(20,6)))::DOUBLE / count(*), 4)
               AS avg_value
      FROM events GROUP BY event_type ORDER BY event_type ASC"""),
    Query("q_skew_join", RefQueries.qSkewJoin(_, _), """
      SELECT c_mktsegment, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value,
             sum(length(props))::BIGINT AS props_bytes
      FROM (SELECT least(user_id, 20) AS k, value, props FROM events) e
      JOIN (SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey <= 20) c
        ON e.k = c.c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"""),
    Query("ev_window_sliding", Events.slidingWindow(_, _), """
      WITH w AS (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                         - INTERVAL '30 minutes']) AS win_start,
               event_type, value
        FROM events
      )
      SELECT cast(win_start AS varchar) AS win_start, event_type,
             count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
      FROM w GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC"""),
    Query("q_join_multikey", RefQueries.qJoinMultiKey(_, _), multiKeyOracle),
    Query("q_bucketed_join", RefQueries.qBucketedJoin(_, _), """
      SELECT o_orderpriority, count(*) AS cnt,
             round(sum(l_quantity), 4) AS qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority ASC"""),
    Query("text_tokens", TextAnalysis.tokenCounts(_, _), textTokensOracle),
    Query("text_quality", TextAnalysis.qualityScore(_, _), textQualityOracle),
    Query("text_langid", TextAnalysis.langId(_, _), textLangIdOracle),
    Query("text_langid_eval", TextAnalysis.langIdEval(_, _),
      textLangIdEvalOracle),
    Query("text_langid_ngram", TextAnalysis.langIdNgram(_, _), """
      WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
      s AS (
        SELECT doc_id,
          ((length(lt) - length(replace(lt, 'th', ''))) // 2 +
           (length(lt) - length(replace(lt, 'he ', ''))) // 3 +
           (length(lt) - length(replace(lt, 'ing', ''))) // 3) AS g_en,
          ((length(lt) - length(replace(lt, 'sch', ''))) // 3 +
           (length(lt) - length(replace(lt, 'der', ''))) // 3 +
           (length(lt) - length(replace(lt, 'ung', ''))) // 3) AS g_de,
          ((length(lt) - length(replace(lt, 'les', ''))) // 3 +
           (length(lt) - length(replace(lt, 'eau', ''))) // 3 +
           (length(lt) - length(replace(lt, 'oux', ''))) // 3) AS g_fr,
          ((length(lt) - length(replace(lt, 'ción', ''))) // 4 +
           (length(lt) - length(replace(lt, 'los', ''))) // 3 +
           (length(lt) - length(replace(lt, 'ñ', ''))) // 1) AS g_es
        FROM t)
      SELECT doc_id, g_en, g_de, g_fr, g_es,
             CASE WHEN g_en >= g_de AND g_en >= g_fr AND g_en >= g_es THEN 'en'
                  WHEN g_de >= g_fr AND g_de >= g_es THEN 'de'
                  WHEN g_fr >= g_es THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM s ORDER BY doc_id ASC"""),
    Query("text_fingerprint", TextAnalysis.fingerprint(_, _),
      textFingerprintOracle),
    // decontamination: same poly-hash fold as the minhash oracle; the
    // benchmark set (docs 0..4) is replayed as a DISTINCT hash CTE
    Query("text_decontaminate", TextAnalysis.decontaminate(_, _), """
      WITH d AS (
        SELECT doc_id, string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id,
          list_reduce(list_prepend(0::BIGINT,
            list_transform(generate_series(1, length(s)),
              i -> ascii(substr(s, i, 1))::BIGINT)),
            (a, x) -> (a * 31 + x) % 1000000007) AS shash
        FROM (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS s
              FROM d, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                t(i))
      ), bench AS (
        SELECT DISTINCT shash FROM sh WHERE doc_id < 5
      ), agg AS (
        SELECT doc_id, count(*) AS n_shingles,
               sum(CASE WHEN shash IN (SELECT shash FROM bench)
                        THEN 1 ELSE 0 END) AS n_matched
        FROM sh GROUP BY doc_id
      )
      SELECT doc_id, n_shingles::BIGINT AS n_shingles,
             n_matched::BIGINT AS n_matched,
             round(n_matched::DOUBLE / n_shingles, 4) AS contamination,
             n_matched > 0 AS contaminated
      FROM agg ORDER BY doc_id ASC"""),
    Query("text_curation_funnel", TextAnalysis.curationFunnel(_, _), """
      WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents
      ), f0 AS (
        SELECT doc_id, len(toks)::BIGINT AS n_tokens,
               len(list_filter(toks, t -> t IN ('the','and','of','to',
                 'der','die','das','und','le','la','les','et',
                 'el','los','una','y'))) AS lang_hits,
               round(len(list_filter(toks, t -> t IN
                 ('the','a','and','of','to','in','is')))::double /
                 greatest(len(toks), 1), 4) AS stop_ratio
        FROM t
      ), r AS (
        SELECT doc_id, round(1.0 - count(*)::double / sum(c), 4) AS rep_ratio
        FROM (SELECT doc_id, shingle, count(*) AS c FROM (
                SELECT doc_id, unnest(list_transform(
                  generate_series(1, greatest(len(tk) - 2, 0)),
                  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
                FROM (SELECT doc_id, string_split(
                        regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                        ' ') AS tk
                      FROM documents))
              GROUP BY doc_id, shingle)
        GROUP BY doc_id
      ), flags AS (
        SELECT f0.doc_id, lang_hits > 0 AS f_lang, n_tokens >= 10 AS f_len,
               stop_ratio BETWEEN 0.05 AND 0.6 AS f_stop,
               coalesce(r.rep_ratio, 0.0) <= 0.3 AS f_rep
        FROM f0 LEFT JOIN r ON f0.doc_id = r.doc_id
      ), a AS (
        -- coalesce mirrors the Spark side's empty-corpus contract
        -- (4 zero-stages, not nulls)
        SELECT count(*) AS n0,
               coalesce(sum(CASE WHEN f_lang THEN 1 ELSE 0 END), 0) AS n1,
               coalesce(sum(CASE WHEN f_lang AND f_len
                   THEN 1 ELSE 0 END), 0) AS n2,
               coalesce(sum(CASE WHEN f_lang AND f_len AND f_stop
                   THEN 1 ELSE 0 END), 0) AS n3,
               coalesce(sum(CASE WHEN f_lang AND f_len AND f_stop AND f_rep
                   THEN 1 ELSE 0 END), 0) AS n4
        FROM flags
      )
      SELECT stage, n_in::BIGINT AS n_in, n_kept::BIGINT AS n_kept,
             (n_in - n_kept)::BIGINT AS n_dropped
      FROM (
        SELECT '1_lang_known' AS stage, n0 AS n_in, n1 AS n_kept FROM a
        UNION ALL SELECT '2_min_length', n1, n2 FROM a
        UNION ALL SELECT '3_stopword_band', n2, n3 FROM a
        UNION ALL SELECT '4_repetition_cap', n3, n4 FROM a
      ) ORDER BY stage ASC"""),
    // naive single cumsum — independently validates the distributed
    // range-decomposed prefix sum the Spark side runs
    // seqLen is TextAnalysis.PackSeqLen on both sides — one source of
    // truth for operator default and oracle replay
    Query("text_pack_sequences", TextAnalysis.packSequences(_, _), s"""
      WITH t AS (
        SELECT doc_id,
               len(string_split(regexp_replace(lower(trim(text)),
                 '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens
        FROM documents
      ), c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM t
      )
      SELECT (cum_before // ${TextAnalysis.PackSeqLen})::BIGINT AS bin_id,
             count(*) AS n_docs,
             sum(n_tokens)::BIGINT AS bin_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1 ORDER BY 1 ASC"""),
    Query("q_zorder_layout", RefQueries.qZorderLayout(_, _), """
      WITH o AS (
        SELECT o_custkey AS ck,
               date_diff('day', DATE '1992-01-01',
                         cast(o_orderdate AS date)) AS day
        FROM orders
      ), s AS (
        SELECT min(ck) AS ck_min, max(ck) AS ck_max,
               min(day) AS day_min, max(day) AS day_max FROM o
      ), z AS (
        SELECT ck, day,
               ((ck - ck_min) * 256) // (ck_max - ck_min + 1) AS x8,
               ((day - day_min) * 256) // (day_max - day_min + 1) AS y8
        FROM o, s
      ), zz AS (
        SELECT ck, day,
               list_sum(list_transform(generate_series(0, 7),
                 i -> (((x8 >> i) & 1) << (2*i)) +
                      (((y8 >> i) & 1) << (2*i + 1)))) AS zval
        FROM z
      )
      SELECT (zval // 16)::BIGINT AS zbucket, count(*) AS cnt,
             min(ck)::BIGINT AS ck_lo, max(ck)::BIGINT AS ck_hi,
             min(day)::BIGINT AS day_lo, max(day)::BIGINT AS day_hi
      FROM zz GROUP BY 1 ORDER BY 1 ASC"""),
    // Hilbert layout replay: same 8-bit grid as zorder, then the xy2d
    // quadrant-rotation loop as a packed-state (d·2^16 + x·2^8 + y)
    // list_reduce fold over levels 7..0 — pure integer arithmetic,
    // bit-identical to the codegen'd expression
    Query("q_hilbert_layout", RefQueries.qHilbertLayout(_, _), s"""
      WITH $hilbertGridCtes
      SELECT (hidx // 24)::BIGINT AS hbucket, count(*) AS cnt,
             min(ck)::BIGINT AS ck_lo, max(ck)::BIGINT AS ck_hi,
             min(day)::BIGINT AS day_lo, max(day)::BIGINT AS day_hi
      FROM h GROUP BY 1 ORDER BY 1 ASC"""),
    // the write-path twin: same grid + fold, then the zone-map protocol
    // — per-bucket (x8, y8) zone maps, rectangle-overlap bucket count,
    // and the exact rectangle aggregate (pruning is exact by zone-map
    // soundness, so the oracle needs no prune of its own); every sum
    // reduced mod P before the BIGINT cast (HUGEINT-safe)
    Query("q_hilbert_write", RefQueries.qHilbertWrite(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket FROM h
      ), z AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb GROUP BY hbucket
      ), zc AS (
        SELECT count(*)::BIGINT AS n_buckets_total,
               sum(CASE WHEN x_hi >= ${RefQueries.HilbertRect._1}
                         AND x_lo <= ${RefQueries.HilbertRect._2}
                         AND y_hi >= ${RefQueries.HilbertRect._3}
                         AND y_lo <= ${RefQueries.HilbertRect._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_buckets_scanned
        FROM z
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum
        FROM hb
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
      )
      SELECT zc.n_buckets_total, zc.n_buckets_scanned,
             m.n_rows, m.key_checksum
      FROM zc, m"""),
    // compaction replay (see compactScanOracle): n_files_before =
    // #buckets (one file per bucket by construction), n_files_after =
    // #derived bins — the Spark side reports ON-DISK counts, so a writer
    // that splits a bin across files fails the hash gate. Row/checksum
    // invariance + the rectangle re-run through per-BIN zone maps prove
    // compaction changed layout only.
    Query("q_compact_scan", RefQueries.qCompactScan(_, _),
      compactScanOracle(s"""$hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket FROM h
      )""")),
    // the Z-order table under the SAME curve-agnostic compaction pass —
    // only the hb chain differs
    Query("q_compact_scan_z", RefQueries.qCompactScanZ(_, _),
      compactScanOracle(mortonBucketCtes)),
    // copy-on-write DELETE replay: zone-map candidates (touched), the
    // predicate-row delete, the derived post-delete file census (buckets
    // minus fully-deleted buckets — untouched partitions keep their one
    // file, touched survivors rewrite to one), survivor checksum, and
    // the zero-row rectangle re-scan
    Query("q_delete_rewrite", RefQueries.qDeleteRewrite(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket FROM h
      ), z AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb GROUP BY hbucket
      ), tt AS (
        SELECT hbucket FROM z
        WHERE x_hi >= ${RefQueries.HilbertRect._1}
          AND x_lo <= ${RefQueries.HilbertRect._2}
          AND y_hi >= ${RefQueries.HilbertRect._3}
          AND y_lo <= ${RefQueries.HilbertRect._4}
      ), fd AS (
        SELECT count(*)::BIGINT AS c FROM (
          SELECT hbucket FROM hb GROUP BY hbucket
          HAVING sum(CASE WHEN x8 BETWEEN ${RefQueries.HilbertRect._1}
                                      AND ${RefQueries.HilbertRect._2}
                           AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                                      AND ${RefQueries.HilbertRect._4}
                          THEN 0 ELSE 1 END) = 0)
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows_after,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS survivor_checksum
        FROM hb
        WHERE NOT (x8 BETWEEN ${RefQueries.HilbertRect._1}
                          AND ${RefQueries.HilbertRect._2}
               AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                          AND ${RefQueries.HilbertRect._4})
      )
      SELECT (SELECT count(*) FROM z)::BIGINT AS n_files_before,
             (SELECT count(*) FROM tt)::BIGINT AS n_buckets_touched,
             ((SELECT count(*) FROM z) - fd.c)::BIGINT AS n_files_after,
             (SELECT count(*) FROM hb)::BIGINT AS n_rows_before,
             ((SELECT count(*) FROM hb) - m.n_rows_after)::BIGINT
               AS n_rows_deleted,
             m.n_rows_after, m.survivor_checksum,
             0::BIGINT AS n_rect_rows_after
      FROM fd, m"""),
    // write-audit-publish replay: the branch batch is the mix64 mod-101
    // draw over orders keys; a duplicate materializes only when the
    // defect sub-draw's ORIGINAL key is still alive in v2/v3 (the chain
    // CTEs' v2r) — flagging a dead key would wrongly block a publish
    Query("q_wap_audit", RefQueries.qWapAudit(_, _), s"""
      WITH $chainCtes,
      wk AS (
        SELECT o_orderkey FROM k2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END
             % ${graft.sources.Etl.WapBatchMod})
             + ${graft.sources.Etl.WapBatchMod})
             % ${graft.sources.Etl.WapBatchMod} = 0
      ),
      dup AS (
        SELECT w.o_orderkey FROM wk w JOIN v2r v USING (o_orderkey)
        WHERE w.o_orderkey % ${graft.sources.Etl.WapDefectMod} = 0
      ),
      n AS (
        SELECT
          (SELECT count(*) FROM v2r)::BIGINT AS n_published_rows,
          (SELECT count(*) FROM wk)::BIGINT AS n_appended,
          (SELECT count(*) FROM dup)::BIGINT AS n_dup_keys,
          (SELECT coalesce((sum((o_orderkey % 1000000007)
               * (o_orderkey % 1000000007) % 1000000007)
             % 1000000007), 0) FROM dup)::BIGINT AS dup_key_checksum
      )
      SELECT n_published_rows,
             (n_published_rows + n_appended)::BIGINT AS n_branch_rows,
             n_appended, n_dup_keys, dup_key_checksum,
             (CASE WHEN n_dup_keys > 0 THEN 0 ELSE 1 END)::BIGINT
               AS publish_ok
      FROM n"""),
    // merge-on-read delete replay: the SAME rectangle arithmetic as the
    // COW twin — sidecar files = buckets holding >= 1 predicate row,
    // entries = predicate rows, survivors identical to q_delete_rewrite;
    // n_files_rewritten is a hard 0 (the whole point of MOR)
    Query("q_delete_mor", RefQueries.qDeleteMor(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket FROM h
      ), dd AS (
        SELECT hbucket, count(*)::BIGINT AS n FROM hb
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
        GROUP BY hbucket
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows_after,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS survivor_checksum
        FROM hb
        WHERE NOT (x8 BETWEEN ${RefQueries.HilbertRect._1}
                          AND ${RefQueries.HilbertRect._2}
               AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                          AND ${RefQueries.HilbertRect._4})
      )
      SELECT (SELECT count(DISTINCT hbucket) FROM hb)::BIGINT
               AS n_files_base,
             0::BIGINT AS n_files_rewritten,
             (SELECT count(*) FROM dd)::BIGINT AS n_dv_files,
             (SELECT coalesce(sum(n), 0) FROM dd)::BIGINT AS n_dv_entries,
             (SELECT count(*) FROM hb)::BIGINT AS n_rows_before,
             m.n_rows_after, m.survivor_checksum,
             0::BIGINT AS n_rect_rows_after
      FROM m"""),
    // WAP happy-path replay: the published read must serve exactly
    // v3's rows (the chain CTEs' v2r) plus the SAME mod-101 CDC draw
    // re-keyed by 2·koff (the defect fixed) — a publish that didn't
    // swap the pointer serves v3 alone and fails rows + checksum; a
    // batch that kept any original key would have produced duplicates
    // and a refusal
    Query("q_wap_publish", RefQueries.qWapPublish(_, _), s"""
      WITH $chainCtes,
      wk AS (
        SELECT o_orderkey FROM k2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END
             % ${graft.sources.Etl.WapBatchMod})
             + ${graft.sources.Etl.WapBatchMod})
             % ${graft.sources.Etl.WapBatchMod} = 0
      ),
      pub AS (
        SELECT o_orderkey FROM v2r
        UNION ALL
        SELECT o_orderkey + 2 * (SELECT koff FROM koff) FROM wk
      ),
      n AS (
        SELECT
          (SELECT count(*) FROM v2r)::BIGINT AS n_live_rows,
          (SELECT count(*) FROM wk)::BIGINT AS n_appended,
          (SELECT count(*) FROM pub)::BIGINT AS n_published_rows,
          (SELECT coalesce((sum((o_orderkey % 1000000007)
               * (o_orderkey % 1000000007) % 1000000007)
             % 1000000007), 0) FROM pub)::BIGINT AS published_checksum
      )
      SELECT n_live_rows, n_appended, 0::BIGINT AS n_dup_keys,
             1::BIGINT AS publish_ok, n_published_rows, published_checksum
      FROM n"""),
    // stacked-DV replay: dv1 = rect1 rows, dv2 = rect2 rows still alive
    // under dv1 (the overlap lives in dv1 ONLY — double-tombstoning the
    // overlap would break n_rows_before = survivors + |dv1| + |dv2|),
    // survivors = rows outside both rectangles; zero rows of either
    // rectangle may survive the composed read
    Query("q_delete_mor_stacked", RefQueries.qDeleteMorStacked(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8 FROM h
      ), r AS (
        SELECT o_orderkey,
               (x8 BETWEEN ${RefQueries.HilbertRect._1}
                       AND ${RefQueries.HilbertRect._2}
                AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                           AND ${RefQueries.HilbertRect._4}) AS in1,
               (x8 BETWEEN ${RefQueries.HilbertRect2._1}
                       AND ${RefQueries.HilbertRect2._2}
                AND y8 BETWEEN ${RefQueries.HilbertRect2._3}
                           AND ${RefQueries.HilbertRect2._4}) AS in2
        FROM hb
      ), sv AS (
        SELECT o_orderkey FROM r WHERE NOT in1 AND NOT in2
      )
      SELECT 0::BIGINT AS n_files_rewritten,
             (SELECT count(*) FROM r WHERE in1)::BIGINT AS n_dv1_entries,
             (SELECT count(*) FROM r WHERE in2 AND NOT in1)::BIGINT
               AS n_dv2_entries,
             (SELECT count(*) FROM r)::BIGINT AS n_rows_before,
             (SELECT count(*) FROM sv)::BIGINT AS n_rows_after,
             (SELECT coalesce((sum((o_orderkey % 1000000007)
                  * (o_orderkey % 1000000007) % 1000000007)
                % 1000000007), 0) FROM sv)::BIGINT AS survivor_checksum,
             0::BIGINT AS n_rect1_rows_after,
             0::BIGINT AS n_rect2_rows_after"""),
    // DV-compaction replay: the materialized layout must converge to
    // the COW arithmetic — one file per surviving bucket (total buckets
    // minus buckets whose EVERY row died under rect1 ∪ rect2), rows and
    // checksum exactly the stacked read's survivors, zero rectangle
    // rows through the compacted (anti-join-free) read
    Query("q_dv_compaction", RefQueries.qDvCompaction(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket,
               (x8 BETWEEN ${RefQueries.HilbertRect._1}
                       AND ${RefQueries.HilbertRect._2}
                AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                           AND ${RefQueries.HilbertRect._4}) OR
               (x8 BETWEEN ${RefQueries.HilbertRect2._1}
                       AND ${RefQueries.HilbertRect2._2}
                AND y8 BETWEEN ${RefQueries.HilbertRect2._3}
                           AND ${RefQueries.HilbertRect2._4}) AS dead
        FROM h
      ), sv AS (
        SELECT o_orderkey FROM hb WHERE NOT dead
      ), fd AS (
        SELECT count(*)::BIGINT AS n FROM (
          SELECT hbucket FROM hb GROUP BY hbucket
          HAVING sum(CASE WHEN dead THEN 0 ELSE 1 END) = 0)
      )
      SELECT ((SELECT count(DISTINCT hbucket) FROM hb)
               - (SELECT n FROM fd))::BIGINT AS n_files_after,
             (SELECT count(*) FROM sv)::BIGINT AS n_rows_after,
             (SELECT coalesce((sum((o_orderkey % 1000000007)
                  * (o_orderkey % 1000000007) % 1000000007)
                % 1000000007), 0) FROM sv)::BIGINT AS survivor_checksum,
             0::BIGINT AS n_rect1_rows_after,
             0::BIGINT AS n_rect2_rows_after"""),
    // schema-evolution replay: both physical generations derive from
    // orders (gen 1 = even keys without the column, gen 2 = odd keys
    // with o_bucket = o_custkey mod 16), so the merged read must report
    // exactly these totals — losing old rows, inventing non-NULL values
    // for them, or dropping evolved rows all fail the hash
    Query("q_schema_evolution", RefQueries.qSchemaEvolution(_, _), """
      SELECT count(*)::BIGINT AS n_rows,
             sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_evolved,
             sum(CASE WHEN o_orderkey % 2 = 1 THEN o_custkey % 16
                      ELSE 0 END)::BIGINT AS bucket_sum,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum
      FROM orders"""),
    // type-widening replay: all three generations derive from orders
    // (gen by key mod 3; o_qty = ck mod 100 [+100 | +5e9]), so the
    // widened cast-on-read must report exactly these totals — losing a
    // narrow-generation row, truncating a wide value, or inventing
    // width all fail the hash
    Query("q_schema_widening", RefQueries.qSchemaWidening(_, _), """
      SELECT count(*)::BIGINT AS n_rows,
             sum(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_wide,
             sum(CASE o_orderkey % 3
                 WHEN 0 THEN o_custkey % 100
                 WHEN 1 THEN o_custkey % 100 + 100
                 ELSE o_custkey % 100 + 5000000000 END)::BIGINT AS qty_sum,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum
      FROM orders"""),
    // column-rename replay: gen 1 (even keys) stores the measure under
    // its ORIGINAL name with values < 100, gen 2 (odd keys, post-rename)
    // under the new name with values >= 100 — the per-generation counts
    // bind the mapping to the VALUES, so a mapping applied to the wrong
    // generation (or a generation dropped by the mapped read) fails
    Query("q_schema_rename", RefQueries.qSchemaRename(_, _), """
      SELECT count(*)::BIGINT AS n_rows,
             sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_gen1,
             sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_gen2,
             sum(o_custkey % 100 + CASE WHEN o_orderkey % 2 = 1
                 THEN 100 ELSE 0 END)::BIGINT AS qty_sum,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum
      FROM orders"""),
    // drop-column replay: the current read serves both generations
    // under the post-drop schema (counts + checksum from orders); the
    // pre-drop epoch still serves the dropped column's values
    // (note = ck mod 1000 over even keys) — losing history or leaking
    // the drop into the preserved epoch fails the hash
    Query("q_schema_drop", RefQueries.qSchemaDrop(_, _), """
      SELECT count(*)::BIGINT AS n_rows,
             sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_gen1,
             sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_gen2,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum,
             sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS pre_n_rows,
             sum(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey % 1000
                      ELSE 0 END)::BIGINT AS pre_note_sum
      FROM orders"""),
    // partition-spec-evolution replay: per-spec partition censuses and
    // zone-candidate counts derive from the grid arithmetic over the
    // even/odd key split (width 24 for the old spec, 96 for the new);
    // the rectangle count + checksum cover BOTH layouts — a reader
    // that planned a file group through the wrong spec's metadata
    // (or dropped a generation) fails the gate
    Query("q_partition_evolution", RefQueries.qPartitionEvolution(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, hidx, (o_orderkey % 2) AS par FROM h
      ), z24 AS (
        SELECT (hidx // ${graft.sources.Etl.PartEvoWidthOld}) AS pbucket,
               min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb WHERE par = 0 GROUP BY 1
      ), z96 AS (
        SELECT (hidx // ${graft.sources.Etl.PartEvoWidthNew}) AS pbucket,
               min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb WHERE par = 1 GROUP BY 1
      ), r AS (
        SELECT o_orderkey FROM hb
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
      )
      SELECT
        (SELECT count(*) FROM z24)::BIGINT AS n_parts_old,
        (SELECT count(*) FROM z96)::BIGINT AS n_parts_new,
        (SELECT count(*) FROM z24
          WHERE x_hi >= ${RefQueries.HilbertRect._1}
            AND x_lo <= ${RefQueries.HilbertRect._2}
            AND y_hi >= ${RefQueries.HilbertRect._3}
            AND y_lo <= ${RefQueries.HilbertRect._4})::BIGINT
          AS n_scanned_old,
        (SELECT count(*) FROM z96
          WHERE x_hi >= ${RefQueries.HilbertRect._1}
            AND x_lo <= ${RefQueries.HilbertRect._2}
            AND y_hi >= ${RefQueries.HilbertRect._3}
            AND y_lo <= ${RefQueries.HilbertRect._4})::BIGINT
          AS n_scanned_new,
        (SELECT count(*) FROM r)::BIGINT AS n_rect_rows,
        (SELECT coalesce((sum((o_orderkey % 1000000007)
             * (o_orderkey % 1000000007) % 1000000007)
           % 1000000007), 0) FROM r)::BIGINT AS rect_checksum"""),
    // vacuum dry-run replay: all five counts derive from the delete's
    // zone-map arithmetic — total buckets (one file each), touched
    // candidates (their v0 files are the garbage), fully-dead buckets
    // (touched minus them are the fresh rewrites); shared = untouched
    Query("q_vacuum", RefQueries.qVacuum(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8, (hidx // 24) AS hbucket FROM h
      ), z AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb GROUP BY hbucket
      ), tt AS (
        SELECT count(*)::BIGINT AS touched FROM z
        WHERE x_hi >= ${RefQueries.HilbertRect._1}
          AND x_lo <= ${RefQueries.HilbertRect._2}
          AND y_hi >= ${RefQueries.HilbertRect._3}
          AND y_lo <= ${RefQueries.HilbertRect._4}
      ), fd AS (
        SELECT count(*)::BIGINT AS dead FROM (
          SELECT hbucket FROM hb GROUP BY hbucket
          HAVING sum(CASE WHEN x8 BETWEEN ${RefQueries.HilbertRect._1}
                                      AND ${RefQueries.HilbertRect._2}
                           AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                                      AND ${RefQueries.HilbertRect._4}
                          THEN 0 ELSE 1 END) = 0)
      ), tot AS (SELECT count(*)::BIGINT AS total FROM z)
      SELECT tot.total AS n_files_v0,
             (tot.total - fd.dead)::BIGINT AS n_files_v1,
             (tot.total - tt.touched)::BIGINT AS n_shared,
             tt.touched AS n_garbage,
             (tt.touched - fd.dead)::BIGINT AS n_fresh
      FROM tot, tt, fd"""),
    // copy-on-write MERGE replay: the splitmix64 insert draw, the stripe
    // update with the RELOCATION fold re-run on the shifted coordinate,
    // the derived post-merge bucket census (one file per surviving
    // bucket), the touched set (stripe zone candidates ∪ incoming
    // buckets), and the (key, hidx) position checksum that pins every
    // relocated row to its recomputed curve position
    Query("q_merge_rewrite", RefQueries.qMergeRewrite(_, _), s"""
      WITH $mergeCtes,
      zz AS (
        SELECT (hidx // 24) AS hbucket, min(x8) AS x_lo, max(x8) AS x_hi
        FROM hb GROUP BY 1
      ),
      srcc AS (
        SELECT hbucket FROM zz
        WHERE x_hi >= ${RefQueries.MergeStripe._1}
          AND x_lo <= ${RefQueries.MergeStripe._2}
      ),
      incb AS (
        SELECT DISTINCT (hidx // 24) AS hbucket FROM
        (SELECT hidx FROM mv2 UNION ALL SELECT hidx FROM ins)
      ),
      m AS (
        SELECT count(*)::BIGINT AS n_rows_after,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum,
               (sum((((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                       % 1000000007)
                    * (((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                       % 1000000007) % 1000000007)
                % 1000000007)::BIGINT AS pos_checksum
        FROM fin
      )
      SELECT (SELECT count(*) FROM zz)::BIGINT AS n_files_before,
             (SELECT count(DISTINCT hidx // 24) FROM fin)::BIGINT
               AS n_files_after,
             (SELECT count(*) FROM
                (SELECT hbucket FROM srcc UNION SELECT hbucket FROM incb)
              )::BIGINT AS n_buckets_touched,
             (SELECT count(*) FROM hb)::BIGINT AS n_rows_before,
             (SELECT count(*) FROM mv2)::BIGINT AS n_updated,
             (SELECT count(*) FROM ins)::BIGINT AS n_inserted,
             m.n_rows_after, m.key_checksum, m.pos_checksum
      FROM m"""),
    // per-file column-stats replay: file boundaries ARE the cents bins
    // (one file per non-empty bin — the price-clustered write's layout
    // identity), each file's min/max the bin's actual extremes, so the
    // candidate census and the matched rows both derive from the bin
    // arithmetic alone; sum is cents-exact (no float)
    Query("q_stats_prune", RefQueries.qStatsPrune(_, _), s"""
      WITH c AS (
        SELECT o_orderkey,
               CAST(o_totalprice * 100 AS BIGINT) AS cents
        FROM orders
      ), b AS (
        SELECT cents // ${RefQueries.PriceBinCents} AS pbin,
               min(cents) AS c_min, max(cents) AS c_max
        FROM c GROUP BY 1
      ), cand AS (
        SELECT count(*)::BIGINT AS n FROM b
        WHERE c_max >= ${RefQueries.PriceRangeCents._1}
          AND c_min <= ${RefQueries.PriceRangeCents._2}
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS key_checksum,
               coalesce(sum(cents), 0)::BIGINT AS cents_sum
        FROM c
        WHERE cents BETWEEN ${RefQueries.PriceRangeCents._1}
                        AND ${RefQueries.PriceRangeCents._2}
      )
      SELECT (SELECT count(*) FROM b)::BIGINT AS n_files_total,
             (SELECT n FROM cand) AS n_files_scanned,
             m.n_rows, m.key_checksum, m.cents_sum
      FROM m"""),
    // merge-on-read MERGE replay: the SAME mergeCtes replay as the COW
    // twin (gating both strategies against one derivation IS the
    // equivalence claim) — DV entries = the stripe's pre-images,
    // appends = movers' new versions + CDC inserts, zero files
    // rewritten, and the composed read's rows/checksums are fin's
    Query("q_merge_mor", RefQueries.qMergeMor(_, _), s"""
      WITH $mergeCtes,
      m AS (
        SELECT count(*)::BIGINT AS n_rows_after,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum,
               (sum((((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                       % 1000000007)
                    * (((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                       % 1000000007) % 1000000007)
                % 1000000007)::BIGINT AS pos_checksum
        FROM fin
      )
      SELECT 0::BIGINT AS n_files_rewritten,
             (SELECT count(*) FROM hb
              WHERE x8 BETWEEN ${RefQueries.MergeStripe._1}
                           AND ${RefQueries.MergeStripe._2})::BIGINT
               AS n_dv_entries,
             ((SELECT count(*) FROM mv2)
              + (SELECT count(*) FROM ins))::BIGINT AS n_appended,
             (SELECT count(*) FROM hb)::BIGINT AS n_rows_before,
             m.n_rows_after, m.key_checksum, m.pos_checksum
      FROM m"""),
    // time-travel replay: version 0 derives from the source orders (a
    // hash match proves the COW delete left history byte-complete);
    // version 1 is the survivor set with a zero rectangle — one row per
    // snapshot, each a versioned zone-map-pruned read on the Spark side
    Query("q_time_travel", RefQueries.qTimeTravel(_, _), s"""
      WITH $hilbertGridCtes, hb AS (
        SELECT o_orderkey, x8, y8 FROM h
      ), v0 AS (
        SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum,
               sum(CASE WHEN x8 BETWEEN ${RefQueries.HilbertRect._1}
                                    AND ${RefQueries.HilbertRect._2}
                         AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                                    AND ${RefQueries.HilbertRect._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_rect_rows
        FROM hb
      ), v1 AS (
        SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_rows,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS key_checksum,
               0::BIGINT AS n_rect_rows
        FROM hb
        WHERE NOT (x8 BETWEEN ${RefQueries.HilbertRect._1}
                          AND ${RefQueries.HilbertRect._2}
               AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                          AND ${RefQueries.HilbertRect._4})
      )
      SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version ASC"""),
    // depth-4 commit-chain time travel: v0 from source orders, v1 the
    // delete survivors, v2 the post-merge set, v3 ≡ v2 (OPTIMIZE moves
    // bytes, never rows) — the Spark side reads every version through
    // its manifest + own zone maps in one pass over distinct files, so
    // a hash match proves the whole chain's history is byte-complete
    Query("q_time_travel_chain", RefQueries.qTimeTravelChain(_, _), s"""
      WITH $chainCtes,
      vv0 AS (${chainVersionAgg(0, "hb")}),
      vv1 AS (${chainVersionAgg(1, "v1r")}),
      vv2 AS (${chainVersionAgg(2, "v2r")}),
      vv3 AS (${chainVersionAgg(3, "v2r")})
      SELECT * FROM vv0 UNION ALL SELECT * FROM vv1
      UNION ALL SELECT * FROM vv2 UNION ALL SELECT * FROM vv3
      ORDER BY version ASC"""),
    // change-data-feed replay: the DELETE commit's feed is the rectangle
    // rows; the MERGE commit's is the stripe movers whose curve position
    // actually moved (update_pre/update_post pairs — a no-op update is
    // not a change) plus the re-keyed CDC inserts; the OPTIMIZE commit
    // contributes a literal 'none' row (dataChange=false metadata — zero
    // I/O on both engines). Checksums bind key AND (key, hidx) image,
    // so serving the wrong image (pre for an insert, post for a delete)
    // or emitting a carry-over fails the hash
    Query("q_table_changes", RefQueries.qTableChanges(_, _), s"""
      WITH $chainCtes,
      up AS (
        SELECT p.o_orderkey, p.hidx AS pre_hidx, q.hidx AS post_hidx
        FROM (SELECT o_orderkey, hidx FROM v1r
              WHERE x8 BETWEEN ${RefQueries.MergeStripe._1}
                           AND ${RefQueries.MergeStripe._2}) p
        JOIN mv2 q USING (o_orderkey)
        WHERE p.hidx <> q.hidx
      ),
      ch AS (
        SELECT 1 AS version, 'delete' AS change_type, o_orderkey, hidx
        FROM hb
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
        UNION ALL SELECT 2, 'insert', o_orderkey, hidx FROM ins
        UNION ALL SELECT 2, 'update_pre', o_orderkey, pre_hidx FROM up
        UNION ALL SELECT 2, 'update_post', o_orderkey, post_hidx FROM up
      )
      SELECT version::BIGINT AS version, change_type,
             count(*)::BIGINT AS n_rows,
             (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS key_checksum,
             (sum((((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                     % 1000000007)
                  * (((o_orderkey % 1000000007) * 31 + (hidx % 1000000007))
                     % 1000000007) % 1000000007)
               % 1000000007)::BIGINT AS pos_checksum
      FROM ch GROUP BY 1, 2
      UNION ALL
      SELECT 3::BIGINT, 'none', 0::BIGINT, 0::BIGINT, 0::BIGINT
      ORDER BY version ASC, change_type ASC"""),
    // concurrent-commit replay: the oracle re-derives v3's bin-pack
    // layout (the OPTIMIZE arithmetic), each branch's zone-candidate
    // bin set, the conflict census |S1 ∩ S2| (one file per bin), the
    // independent writer's disjointness |S1 ∩ S3| = 0, and the served
    // state v3 − rect1 − (rect3 if it landed) — conditional on the
    // SAME disjointness test the validator runs, so both engines agree
    // at any scale
    Query("q_commit_conflict", RefQueries.qCommitConflict(_, _), s"""
      WITH $chainCtes,
      bc AS (
        SELECT (hidx // 24) AS hbucket, count(*)::BIGINT AS bc
        FROM v2r GROUP BY 1
      ), tgt AS (
        SELECT greatest(64, (sum(bc)::BIGINT + 255) // 256)::BIGINT
          AS target
        FROM bc
      ), bins AS (
        SELECT hbucket,
               (coalesce(sum(bc) OVER (ORDER BY hbucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // target)::BIGINT AS cbin
        FROM bc, tgt
      ), r2 AS (
        SELECT v.o_orderkey, v.x8, v.y8, b.cbin
        FROM v2r v JOIN bins b ON (v.hidx // 24) = b.hbucket
      ), z AS (
        SELECT cbin, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM r2 GROUP BY cbin
      ), s1 AS (
        SELECT cbin FROM z
        WHERE x_hi >= ${RefQueries.HilbertRect._1}
          AND x_lo <= ${RefQueries.HilbertRect._2}
          AND y_hi >= ${RefQueries.HilbertRect._3}
          AND y_lo <= ${RefQueries.HilbertRect._4}
      ), s2 AS (
        SELECT cbin FROM z
        WHERE x_hi >= ${RefQueries.HilbertRect2._1}
          AND x_lo <= ${RefQueries.HilbertRect2._2}
          AND y_hi >= ${RefQueries.HilbertRect2._3}
          AND y_lo <= ${RefQueries.HilbertRect2._4}
      ), s3 AS (
        SELECT cbin FROM z
        WHERE x_hi >= ${RefQueries.ConflictRect3._1}
          AND x_lo <= ${RefQueries.ConflictRect3._2}
          AND y_hi >= ${RefQueries.ConflictRect3._3}
          AND y_lo <= ${RefQueries.ConflictRect3._4}
      ), conflict AS (
        SELECT count(*)::BIGINT AS n FROM
          (SELECT cbin FROM s1 INTERSECT SELECT cbin FROM s2)
      ), disj AS (
        SELECT count(*)::BIGINT AS n FROM
          (SELECT cbin FROM s1 INTERSECT SELECT cbin FROM s3)
      ), served AS (
        SELECT o_orderkey, x8, y8 FROM r2
        WHERE NOT (x8 BETWEEN ${RefQueries.HilbertRect._1}
                          AND ${RefQueries.HilbertRect._2}
               AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                          AND ${RefQueries.HilbertRect._4})
          AND NOT (x8 BETWEEN ${RefQueries.ConflictRect3._1}
                          AND ${RefQueries.ConflictRect3._2}
               AND y8 BETWEEN ${RefQueries.ConflictRect3._3}
                          AND ${RefQueries.ConflictRect3._4}
               AND (SELECT n FROM disj) = 0)
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows,
               coalesce((sum((o_orderkey % 1000000007)
                   * (o_orderkey % 1000000007) % 1000000007)
                 % 1000000007), 0)::BIGINT AS key_checksum,
               sum(CASE WHEN x8 BETWEEN ${RefQueries.HilbertRect2._1}
                                    AND ${RefQueries.HilbertRect2._2}
                         AND y8 BETWEEN ${RefQueries.HilbertRect2._3}
                                    AND ${RefQueries.HilbertRect2._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_rect2_rows,
               sum(CASE WHEN x8 BETWEEN ${RefQueries.ConflictRect3._1}
                                    AND ${RefQueries.ConflictRect3._2}
                         AND y8 BETWEEN ${RefQueries.ConflictRect3._3}
                                    AND ${RefQueries.ConflictRect3._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_rect3_rows
        FROM served
      )
      SELECT 1::BIGINT AS publish1_ok,
             (SELECT n FROM conflict) AS n_conflict_files,
             (CASE WHEN (SELECT n FROM conflict) > 0 THEN 0 ELSE 1
              END)::BIGINT AS publish2_ok,
             (CASE WHEN (SELECT n FROM disj) = 0 THEN 1 ELSE 0
              END)::BIGINT AS publish3_ok,
             m.n_rows, m.key_checksum,
             0::BIGINT AS n_rect1_rows, m.n_rect2_rows, m.n_rect3_rows
      FROM m"""),
    // incremental-refresh replay: the oracle computes the per-band
    // summary DIRECTLY from v2's row set, while the Spark side never
    // reads v2 — it refreshes the v1 summary with the change feed's
    // signed delta terms. A hash match IS apply(changes, v1) == v2,
    // band for band. The streaming replay twin shares the SAME string:
    // stream-replay ≡ batch-refresh ≡ direct recompute, one oracle
    Query("q_cdf_refresh", RefQueries.qCdfRefresh(_, _), cdfSummaryOracle),
    Query("stream_cdf_replay", StreamingQueries.cdfReplayStream(_, _),
      cdfSummaryOracle),
    // retention-vacuum replay: every file count derives from the curve
    // arithmetic — per-version live buckets, the delete's zone
    // candidates (their c0 files are the only garbage when v0 expires),
    // the merge's touched set, and the OPTIMIZE bin census; live =
    // kept c0 + c1 + c2 + c3 files. A wrong manifest composition
    // anywhere in the chain (e.g. vacuuming a {v0,v1}-shared file the
    // current version no longer references) fails this gate
    Query("q_vacuum_retention", RefQueries.qVacuumRetention(_, _), s"""
      WITH $chainCtes,
      z0 AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb GROUP BY 1
      ),
      td AS (
        SELECT hbucket FROM z0
        WHERE x_hi >= ${RefQueries.HilbertRect._1}
          AND x_lo <= ${RefQueries.HilbertRect._2}
          AND y_hi >= ${RefQueries.HilbertRect._3}
          AND y_lo <= ${RefQueries.HilbertRect._4}
      ),
      z1 AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi
        FROM v1r GROUP BY 1
      ),
      srcc AS (
        SELECT hbucket FROM z1
        WHERE x_hi >= ${RefQueries.MergeStripe._1}
          AND x_lo <= ${RefQueries.MergeStripe._2}
      ),
      tm AS (
        SELECT hbucket FROM srcc
        UNION SELECT DISTINCT (hidx // 24) AS hbucket FROM inc
      ),
      b1 AS (SELECT DISTINCT hbucket FROM v1r),
      b2 AS (SELECT DISTINCT (hidx // 24) AS hbucket FROM v2r),
      bc AS (
        SELECT (hidx // 24) AS hbucket, count(*)::BIGINT AS bc
        FROM v2r GROUP BY 1
      ),
      tgt AS (
        SELECT greatest(64, (sum(bc)::BIGINT + 255) // 256)::BIGINT
          AS target
        FROM bc
      ),
      bins AS (
        SELECT hbucket,
               (coalesce(sum(bc) OVER (ORDER BY hbucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // target)::BIGINT AS cbin
        FROM bc, tgt
      ),
      n AS (
        SELECT
          (SELECT count(DISTINCT hbucket) FROM hb)::BIGINT AS n0,
          (SELECT count(*) FROM b1)::BIGINT AS n1,
          (SELECT count(*) FROM b2)::BIGINT AS n2,
          (SELECT count(DISTINCT cbin) FROM bins)::BIGINT AS n3,
          (SELECT count(*) FROM td)::BIGINT AS ntd,
          (SELECT count(*) FROM b1
            WHERE hbucket IN (SELECT hbucket FROM td))::BIGINT AS c1n,
          (SELECT count(*) FROM b2
            WHERE hbucket IN (SELECT hbucket FROM tm))::BIGINT AS c2n
      )
      SELECT n0 AS n_files_v0, n1 AS n_files_v1, n2 AS n_files_v2,
             n3 AS n_files_v3, ntd AS n_garbage,
             (n0 - ntd)::BIGINT AS n_shared_kept,
             ((n0 - ntd) + c1n + c2n + n3)::BIGINT AS n_live
      FROM n"""),
    // Morton write-path twin: same grid, width-24 buckets, rectangle,
    // and zone-map protocol — only the curve index differs (the
    // q_zorder_layout bit-interleave instead of the Hilbert fold)
    Query("q_zorder_write", RefQueries.qZorderWrite(_, _), s"""
      WITH $mortonBucketCtes, z AS (
        SELECT hbucket, min(x8) AS x_lo, max(x8) AS x_hi,
               min(y8) AS y_lo, max(y8) AS y_hi
        FROM hb GROUP BY hbucket
      ), zc AS (
        SELECT count(*)::BIGINT AS n_buckets_total,
               sum(CASE WHEN x_hi >= ${RefQueries.HilbertRect._1}
                         AND x_lo <= ${RefQueries.HilbertRect._2}
                         AND y_hi >= ${RefQueries.HilbertRect._3}
                         AND y_lo <= ${RefQueries.HilbertRect._4}
                        THEN 1 ELSE 0 END)::BIGINT AS n_buckets_scanned
        FROM z
      ), m AS (
        SELECT count(*)::BIGINT AS n_rows,
               (sum((o_orderkey % 1000000007) * (o_orderkey % 1000000007)
                    % 1000000007) % 1000000007)::BIGINT AS key_checksum
        FROM hb
        WHERE x8 BETWEEN ${RefQueries.HilbertRect._1}
                     AND ${RefQueries.HilbertRect._2}
          AND y8 BETWEEN ${RefQueries.HilbertRect._3}
                     AND ${RefQueries.HilbertRect._4}
      )
      SELECT zc.n_buckets_total, zc.n_buckets_scanned,
             m.n_rows, m.key_checksum
      FROM zc, m"""),
    Query("dedup_exact", Dedup.exactDedup(_, _), dedupExactOracle),
    Query("dedup_exact_twopass", Dedup.exactDedupTwoPass(_, _),
      dedupExactOracle),
    Query("dedup_ngram_jaccard", Dedup.ngramJaccard(_, _),
      dedupNgramJaccardOracle),
    Query("dedup_minhash_lsh", Dedup.minHashLsh(_, _), dedupMinhashOracle),
    // incremental-dedup oracle: the FULL-corpus minhash recompute
    // restricted to pairs touching the new shard (odd doc_ids) — an
    // independent derivation of the delta identity the incremental path
    // banks on (Δ×index + Δ×Δ = all-pairs ∖ index×index); the Spark side
    // never materializes an index×index candidate, the oracle never
    // skips one
    Query("dedup_incremental", Dedup.dedupIncremental(_, _), s"""
      WITH pr AS ($dedupMinhashOracle)
      SELECT doc_a, doc_b, est_jaccard FROM pr
      WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
      ORDER BY doc_a ASC, doc_b ASC"""),
    Query("dedup_clusters", Dedup.dedupClusters(_, _), dedupClustersOracle),
    Query("dedup_clusters_star", Dedup.dedupClusters(_, _),
      dedupClustersOracle),
    // incremental cluster maintenance reuses the FULL-recompute oracle
    // VERBATIM: merging star(index labels) + delta pairs must land on
    // exactly the labels a from-scratch walk over all pairs produces —
    // the hash gate is the cross-engine incremental ≡ recompute proof
    Query("dedup_incremental_cc", Dedup.dedupIncrementalCc(_, _),
      dedupClustersOracle),
    Query("dedup_pagerank", Dedup.pageRank(_, _), dedupPagerankOracle),
    // end-to-end pipeline: the SHARED cluster oracle (one definition —
    // a second inlined copy of the recursive walk could silently drift)
    // feeds a per-lang survival rollup — kept docs are everything
    // outside the pair graph plus each component's min doc_id
    Query("dedup_pipeline", Dedup.dedupPipeline(_, _), s"""
      WITH lab AS (
        SELECT doc_id, cluster_id FROM ($dedupClustersOracle)
      ),
      dup AS (SELECT doc_id FROM lab WHERE cluster_id <> doc_id),
      d AS (
        SELECT doc_id, lang,
               len(string_split(regexp_replace(lower(trim(text)),
                 '\\s+', ' ', 'g'), ' '))::BIGINT AS n_toks,
               doc_id IN (SELECT doc_id FROM dup) AS removed
        FROM documents
      )
      SELECT lang, count(*) AS n_docs,
             sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             sum(CASE WHEN NOT removed THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             sum(CASE WHEN NOT removed THEN n_toks ELSE 0 END)::BIGINT
               AS n_tokens_kept,
             round(avg(CASE WHEN NOT removed THEN n_toks END), 4)
               AS avg_tokens_kept
      FROM d GROUP BY lang ORDER BY lang ASC"""),
    Query("dedup_simhash", Dedup.simHash(_, _), dedupSimhashOracle),
    // substring dedup: replay the poly-hash shingle stream WITH positions,
    // count occurrences corpus-wide, then the same gaps-and-islands span
    // merge (a join is fine at oracle scale; the Spark side must not)
    Query("dedup_substring", Dedup.substringDedup(_, _), """
      WITH d AS (
        SELECT doc_id, string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      ), occ AS (
        SELECT doc_id, len(toks)::BIGINT AS n_toks, i - 1 AS pos,
          list_reduce(list_prepend(0::BIGINT,
            list_transform(generate_series(1, length(s)),
              j -> ascii(substr(s, j, 1))::BIGINT)),
            (a, x) -> (a * 31 + x) % 1000000007) AS shash
        FROM (SELECT doc_id, toks, i, array_to_string(toks[i:i+2], ' ') AS s
              FROM d, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                t(i))
      ), cnt AS (
        SELECT shash, count(*) AS total FROM occ GROUP BY shash
      ), dup AS (
        SELECT o.doc_id, o.pos
        FROM occ o JOIN cnt c USING (shash) WHERE c.total >= 2
      ), isl AS (
        SELECT doc_id, pos,
          CASE WHEN pos > coalesce(max(pos + 3) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
            THEN 1 ELSE 0 END AS new_span
        FROM dup
      ), sp AS (
        SELECT doc_id, pos,
          sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        FROM isl
      ), spans AS (
        SELECT doc_id, span_id,
          max(pos) + 3 - min(pos) AS span_len, count(*) AS n_starts
        FROM sp GROUP BY doc_id, span_id
      ), agg AS (
        SELECT doc_id, count(*) AS n_spans, sum(span_len) AS dup_tokens,
          max(span_len) AS max_span, sum(n_starts) AS n_dup_starts
        FROM spans GROUP BY doc_id
      ), base AS (
        SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM d
      )
      SELECT b.doc_id, b.n_tokens,
        greatest(b.n_tokens - 2, 0)::BIGINT AS n_shingles,
        coalesce(a.n_dup_starts, 0)::BIGINT AS n_dup_starts,
        coalesce(a.n_spans, 0)::BIGINT AS n_spans,
        coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
        coalesce(a.max_span, 0)::BIGINT AS max_span,
        round(coalesce(a.dup_tokens, 0)::DOUBLE /
          greatest(b.n_tokens, 1), 4) AS dup_fraction
      FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
      ORDER BY b.doc_id ASC"""),
    // containment replay: identical shingling + poly-hash, identical
    // DF cap (1000) and bottom-k (16) probe selection, exact hit
    // counts — the estimator is approximate vs TRUE containment but
    // exactly deterministic, so the oracle is bit-for-bit
    Query("dedup_containment", Dedup.containmentDedup(_, _), """
      WITH d AS (
        SELECT doc_id, string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      ), sh AS (
        SELECT DISTINCT doc_id,
          list_reduce(list_prepend(0::BIGINT,
            list_transform(generate_series(1, length(s)),
              j -> ascii(substr(s, j, 1))::BIGINT)),
            (a, x) -> (a * 31 + x) % 1000000007) AS shash
        FROM (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS s
              FROM d, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                t(i))
      ), dfreq AS (
        SELECT shash, count(*) AS df FROM sh GROUP BY shash
      ), pr AS (
        SELECT id_a, shash FROM (
          SELECT s.doc_id AS id_a, s.shash,
                 row_number() OVER (PARTITION BY s.doc_id
                   ORDER BY s.shash ASC) AS rk
          FROM sh s JOIN dfreq f USING (shash) WHERE f.df <= 1000)
        WHERE rk <= 16
      ), np AS (
        SELECT id_a, count(*) AS n_probe FROM pr GROUP BY id_a
      ), hits AS (
        SELECT pr.id_a, s.doc_id AS id_b, count(*) AS hits
        FROM pr JOIN sh s USING (shash)
        WHERE s.doc_id <> pr.id_a
        GROUP BY pr.id_a, s.doc_id
      )
      SELECT h.id_a AS doc_a, h.id_b AS doc_b,
             n.n_probe::BIGINT AS n_probe, h.hits::BIGINT AS hits,
             round(h.hits::DOUBLE / n.n_probe, 4) AS containment
      FROM hits h JOIN np n USING (id_a)
      WHERE round(h.hits::DOUBLE / n.n_probe, 4) >= 0.8
      ORDER BY doc_a ASC, doc_b ASC"""),
    Query("sim_topk_bruteforce", Similarity.topKBruteForce(_, _),
      simTopKOracle),
    Query("sim_topk_native", Similarity.topKBruteForceNative(_, _),
      simTopKOracle),
    Query("sim_topk_lsh", Similarity.topKLsh(_, _), simTopKLshOracle),
    Query("sim_topk_ivf", Similarity.topKIvf(_, _), simTopKIvfOracle),
    Query("sim_topk_batch", Similarity.topKBatch(_, _),
      simTopKIvfOracleFor(64)),
    Query("sim_topk_ivf_incremental", Similarity.topKIvfIncremental(_, _),
      simTopKIvfIncrementalOracleFor(3)),
    // the serving-consistency probe is the SAME frozen-model rebuild
    // replayed at the 64-query batch size — merged-index serving under
    // maintenance must land on it exactly
    Query("sim_topk_serving_consistency",
      Similarity.topKServingConsistency(_, _),
      simTopKIvfIncrementalOracleFor(64)),
    Query("sim_topk_ivf_kmeans", Similarity.topKIvfKmeans(_, _),
      simTopKIvfKmeansOracle),
    Query("sim_index_rebuild", Similarity.indexRebuild(_, _),
      simIndexRebuildOracle),
    // binary-quantized ANN replay: identical sign-bit packing (two
    // 32-bit words — bit 63 is the BIGINT sign bit on both engines),
    // integer hamming prefilter, exact-cosine rerank with the same
    // tie-breaks
    Query("sim_topk_binary", Similarity.topKBinary(_, _), """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), s AS (
        SELECT vec_id, v,
               list_sum(list_transform(generate_series(1, 32),
                 d -> CASE WHEN v[d] > 0 THEN (1::BIGINT << (d - 1))
                      ELSE 0 END))::BIGINT AS w0,
               list_sum(list_transform(generate_series(33, 64),
                 d -> CASE WHEN v[d] > 0 THEN (1::BIGINT << (d - 33))
                      ELSE 0 END))::BIGINT AS w1
        FROM e
      ), q AS (
        SELECT vec_id AS q_id, v AS q_vec, w0 AS qw0, w1 AS qw1
        FROM s WHERE vec_id < 3
      ), cand AS (
        SELECT q_id, s.vec_id,
               (bit_count(xor(s.w0, qw0))
                + bit_count(xor(s.w1, qw1)))::INTEGER AS hamming,
               s.v, q_vec
        FROM s, q WHERE s.vec_id <> q_id
      ), r AS (
        SELECT q_id, vec_id, hamming,
               list_cosine_similarity(v, q_vec) AS c,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY list_cosine_similarity(v, q_vec) DESC,
                          vec_id ASC) AS rnk
        FROM cand WHERE hamming <= 26
      )
      SELECT q_id, vec_id, hamming, round(c, 6) AS cos_sim,
             rnk::INTEGER AS rnk
      FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""),
    // PQ/ADC replay: same codebook seeding, same sequential L2 folds,
    // same subspace-ordered distance accumulation as the Scala side
    Query("sim_topk_pq", Similarity.topKPq(_, _), s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), $seedRankCtes, cb AS (
        SELECT t.s, sd.seed_rank AS code,
               list_transform(generate_series(1, 8), i -> c.v[t.s*8 + i]) AS cv
        FROM seeds sd JOIN e c ON c.vec_id = sd.vec_id
        CROSS JOIN generate_series(0, 7) t(s)
        WHERE sd.seed_rank < 16
      ), enc AS (
        SELECT vec_id, s, code FROM (
          SELECT ev.vec_id, cb.s, cb.code,
                 row_number() OVER (PARTITION BY ev.vec_id, cb.s ORDER BY
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, 8),
                       i -> (ev.v[cb.s*8 + i] - cb.cv[i])
                            * (ev.v[cb.s*8 + i] - cb.cv[i]))),
                     (a, x) -> a + x) ASC,
                   cb.code ASC) AS r
          FROM e ev CROSS JOIN cb
        ) WHERE r = 1
      ), qt AS (
        SELECT q.vec_id AS q_id, cb.s, cb.code,
               list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 8),
                   i -> (q.v[cb.s*8 + i] - cb.cv[i])
                        * (q.v[cb.s*8 + i] - cb.cv[i]))),
                 (a, x) -> a + x) AS l2q
        FROM e q CROSS JOIN cb WHERE q.vec_id < 3
      ), est AS (
        SELECT qt.q_id, enc.vec_id,
               list_reduce(list_prepend(0.0, list(qt.l2q ORDER BY qt.s)),
                 (a, x) -> a + x) AS dist
        FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.code
        GROUP BY qt.q_id, enc.vec_id
      ), r AS (
        SELECT q_id, vec_id, dist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist ASC, vec_id ASC) AS rnk
        FROM est WHERE vec_id != q_id
      )
      SELECT q_id, vec_id, round(dist, 6) AS pq_dist, rnk::INTEGER AS rnk
      FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""),
    Query("embed_kmeans_clusters", Similarity.kmeansClusters(_, _),
      embedKmeansClustersOracle),
    // the streaming maintenance twin shares the batch oracle verbatim:
    // Complete-mode per-cell counts finalized through the shared report
    // must reproduce the one-shot batch summary cell for cell
    Query("stream_ivf_cells", StreamingQueries.ivfCellsStream(_, _),
      embedKmeansClustersOracle),
    // streaming signature-index oracle: the BATCH minhash banded chain
    // (shared CTE text with every pair oracle) grouped to (band, bsig)
    // occupancy cells — stream ≡ batch, cell for cell, member checksum
    // included (the squared mod-prime fold, merge-order-invariant)
    Query("stream_minhash_index",
      StreamingQueries.minhashIndexStream(_, _), s"""
      WITH $minhashBandedCtes
      SELECT band, bsig, count(*)::BIGINT AS n_docs,
             (sum((doc_id % 1000000007) * (doc_id % 1000000007)
                  % 1000000007) % 1000000007)::BIGINT AS member_checksum
      FROM banded
      GROUP BY band, bsig
      ORDER BY band ASC, bsig ASC"""),
    // PQ-training replay: per-subspace Lloyd unrolled twice over the
    // exploded subvector stream (same fixed-point update as the IVF
    // kmeans CTEs), then the standard ADC chain on the refined codebook
    Query("sim_topk_pq_kmeans", Similarity.topKPqKmeans(_, _), s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), $seedRankCtes, cb0 AS (
        SELECT t.s, sd.seed_rank AS code,
               list_transform(generate_series(1, 8), i -> c.v[t.s*8 + i]) AS cv
        FROM seeds sd JOIN e c ON c.vec_id = sd.vec_id
        CROSS JOIN generate_series(0, 7) t(s)
        WHERE sd.seed_rank < 16
      ), sv AS (
        SELECT e.vec_id, t.s,
               list_transform(generate_series(1, 8), i -> e.v[t.s*8 + i]) AS sv
        FROM e CROSS JOIN generate_series(0, 7) t(s)
      ), ${pqLloydIter("cb0", "pa1", "ps1", "pc1", "cb1")},
      ${pqLloydIter("cb1", "pa2", "ps2", "pc2", "cb2")}, enc AS (
        SELECT vec_id, s, code FROM (
          SELECT ev.vec_id, cb.s, cb.code,
                 row_number() OVER (PARTITION BY ev.vec_id, cb.s ORDER BY
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, 8),
                       i -> (ev.v[cb.s*8 + i] - cb.cv[i])
                            * (ev.v[cb.s*8 + i] - cb.cv[i]))),
                     (a, x) -> a + x) ASC,
                   cb.code ASC) AS r
          FROM e ev CROSS JOIN cb2 cb
        ) WHERE r = 1
      ), qt AS (
        SELECT q.vec_id AS q_id, cb.s, cb.code,
               list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 8),
                   i -> (q.v[cb.s*8 + i] - cb.cv[i])
                        * (q.v[cb.s*8 + i] - cb.cv[i]))),
                 (a, x) -> a + x) AS l2q
        FROM e q CROSS JOIN cb2 cb WHERE q.vec_id < 3
      ), est AS (
        SELECT qt.q_id, enc.vec_id,
               list_reduce(list_prepend(0.0, list(qt.l2q ORDER BY qt.s)),
                 (a, x) -> a + x) AS dist
        FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.code
        GROUP BY qt.q_id, enc.vec_id
      ), r AS (
        SELECT q_id, vec_id, dist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist ASC, vec_id ASC) AS rnk
        FROM est WHERE vec_id != q_id
      )
      SELECT q_id, vec_id, round(dist, 6) AS pq_dist, rnk::INTEGER AS rnk
      FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""),
    // IVF-PQ replay: mix64 seed centroids, cosine-argmax assignment with
    // exact-double residuals, the seeds' own residuals as the per-subspace
    // codebook, L2-argmin encoding, per-probed-cell ADC tables on the
    // query residual, subspace-ordered distance folds — term-for-term the
    // Similarity.topKIvfPq chain
    Query("sim_topk_ivfpq", Similarity.topKIvfPq(_, _), s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), $ivfParamCte, $seedRankCtes, centroids AS (
        SELECT s.seed_rank AS cell_id, e.v AS cv
        FROM seeds s JOIN e ON e.vec_id = s.vec_id
        WHERE s.seed_rank < (SELECT k FROM kp)
      ), assigned AS (
        SELECT vec_id, cell_id, res FROM (
          SELECT ev.vec_id, c.cell_id,
                 list_transform(generate_series(1, 64),
                   i -> ev.v[i] - c.cv[i]) AS res,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                            c.cell_id ASC) AS r
          FROM e ev CROSS JOIN centroids c
        ) WHERE r = 1
      ), cb AS (
        SELECT t.s, sd.seed_rank AS code,
               list_transform(generate_series(1, 8),
                 i -> a.res[t.s*8 + i]) AS cv
        FROM seeds sd JOIN assigned a ON a.vec_id = sd.vec_id
        CROSS JOIN generate_series(0, 7) t(s)
        WHERE sd.seed_rank < 16
      ), enc AS (
        SELECT vec_id, cell_id, s, code FROM (
          SELECT a.vec_id, a.cell_id, cb.s, cb.code,
                 row_number() OVER (PARTITION BY a.vec_id, cb.s ORDER BY
                   list_reduce(list_prepend(0.0,
                     list_transform(generate_series(1, 8),
                       i -> (a.res[cb.s*8 + i] - cb.cv[i])
                            * (a.res[cb.s*8 + i] - cb.cv[i]))),
                     (x, y) -> x + y) ASC,
                   cb.code ASC) AS r
          FROM assigned a CROSS JOIN cb
        ) WHERE r = 1
      ), probes AS (
        SELECT q_id, cell_id, qres FROM (
          SELECT ev.vec_id AS q_id, c.cell_id,
                 list_transform(generate_series(1, 64),
                   i -> ev.v[i] - c.cv[i]) AS qres,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY list_cosine_similarity(ev.v, c.cv) DESC,
                            c.cell_id ASC) AS r
          FROM e ev CROSS JOIN centroids c WHERE ev.vec_id < 3
        ) WHERE r <= (SELECT np FROM kp)
      ), qt AS (
        SELECT p.q_id, p.cell_id, cb.s, cb.code,
               list_reduce(list_prepend(0.0,
                 list_transform(generate_series(1, 8),
                   i -> (p.qres[cb.s*8 + i] - cb.cv[i])
                        * (p.qres[cb.s*8 + i] - cb.cv[i]))),
                 (x, y) -> x + y) AS l2q
        FROM probes p CROSS JOIN cb
      ), est AS (
        SELECT qt.q_id, enc.vec_id,
               list_reduce(list_prepend(0.0, list(qt.l2q ORDER BY qt.s)),
                 (a, x) -> a + x) AS dist
        FROM enc JOIN qt ON enc.cell_id = qt.cell_id
                        AND enc.s = qt.s AND enc.code = qt.code
        WHERE enc.vec_id != qt.q_id
        GROUP BY qt.q_id, enc.vec_id
      ), r AS (
        SELECT q_id, vec_id, dist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist ASC, vec_id ASC) AS rnk
        FROM est
      )
      SELECT q_id, vec_id, round(dist, 6) AS ivfpq_dist, rnk::INTEGER AS rnk
      FROM r WHERE rnk <= 5 ORDER BY q_id ASC, rnk ASC"""),
    // SemDeDup replay: the shared unrolled-Lloyd assignment, within-cell
    // round-6 cosine pairs, the recursive min-reachable walk, per-class
    // survival rollup (RECURSIVE prefixed onto the shared CTE chain —
    // DuckDB requires it once for the whole WITH list)
    Query("dedup_semantic", Similarity.dedupSemantic(_, _), s"""
      ${kmeansCtes(semanticKSql).replaceFirst("WITH ", "WITH RECURSIVE ")}, sp AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a
        JOIN assigned b USING (cell_id)
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4
      ), ed AS (
        SELECT id_a AS x, id_b AS y FROM sp
        UNION ALL
        SELECT id_b, id_a FROM sp
      ), nd AS (SELECT DISTINCT x AS vec_id FROM ed),
      walk(vec_id, lbl) AS (
        SELECT vec_id, vec_id FROM nd
        UNION
        SELECT ed.x, w.lbl FROM ed JOIN walk w ON w.vec_id = ed.y
      ),
      lab AS (
        SELECT vec_id, min(lbl) AS cluster_id FROM walk GROUP BY vec_id
      ),
      dup AS (SELECT vec_id FROM lab WHERE cluster_id <> vec_id),
      allv AS (
        SELECT vec_id, label,
               vec_id IN (SELECT vec_id FROM dup) AS removed
        FROM embeddings
      )
      SELECT label, count(*) AS n_vecs,
             sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             sum(CASE WHEN NOT removed THEN 1 ELSE 0 END)::BIGINT AS n_kept
      FROM allv GROUP BY label ORDER BY label ASC"""),
    Query("text_repetition", TextAnalysis.repetition(_, _), """
      WITH d AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM documents
      ), t AS (
        SELECT doc_id, string_split(norm, ' ') AS toks FROM d
      ), sh AS (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(toks) - 2, 0)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM t
      ), pc AS (
        SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY doc_id, shingle
      )
      SELECT doc_id, sum(c)::BIGINT AS n_shingles, count(*) AS n_distinct,
             max(c) AS max_repeat,
             round(1.0 - count(*)::double / sum(c), 4) AS rep_ratio
      FROM pc GROUP BY doc_id ORDER BY doc_id ASC"""),
    Query("text_chunk", TextAnalysis.chunk(_, _), """
      WITH d AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM documents
      ), t AS (
        SELECT doc_id, string_split(norm, ' ') AS toks FROM d
      ), c AS (
        SELECT doc_id, toks,
               (ceil(greatest(len(toks) - 64, 0) / 48.0) + 1)::INTEGER
                 AS n_chunks
        FROM t
      ), x AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM c
      ), s AS (
        SELECT doc_id, chunk_id,
               toks[chunk_id*48 + 1 : chunk_id*48 + 64] AS ct
        FROM x
      )
      SELECT doc_id, chunk_id::INTEGER AS chunk_id,
             len(ct)::BIGINT AS chunk_len,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(
                 generate_series(1, length(array_to_string(ct, ' '))),
                 i -> ascii(substr(array_to_string(ct, ' '), i, 1))::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS chunk_hash
      FROM s ORDER BY doc_id ASC, chunk_id ASC"""),
    Query("text_mixture_sample", TextAnalysis.mixtureSample(_, _), """
      WITH x AS (
        SELECT lang, doc_id,
               (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                          WHEN 'fr' THEN 1.0 WHEN 'es' THEN 0.25
                          WHEN 'zh' THEN 0.1 ELSE 0.0 END)::DOUBLE AS rate,
               (doc_id * 2654435761 + 7) % 1000000007 AS h
        FROM documents
      )
      SELECT lang, count(*) AS n_total,
             sum(CASE WHEN h < floor(rate * 1000000007)::BIGINT
                      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             max(rate) AS target_rate,
             round(sum(CASE WHEN h < floor(rate * 1000000007)::BIGINT
                            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
               AS actual_rate
      FROM x GROUP BY lang ORDER BY lang ASC"""),
    // token rarity: replay vocabulary counts, the one-division corpus
    // mean, and the per-doc mod-prime frequency checksums (exported as
    // BIGINT residues — the prime is TextAnalysis.ChecksumP on both
    // sides, so operator and oracle cannot disagree on the modulus)
    Query("text_token_rarity", TextAnalysis.tokenRarity(_, _), s"""
      WITH t AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), v AS (
        SELECT tok, count(*) AS cnt FROM t GROUP BY tok
      ), m AS (
        SELECT sum(cnt)::DOUBLE / count(*) AS mean_freq FROM v
      ), j AS (
        SELECT t.doc_id, v.cnt, m.mean_freq
        FROM t JOIN v USING (tok) CROSS JOIN m
      ), a AS (
        SELECT doc_id, count(*) AS n_tokens,
               sum(cnt)::DECIMAL(38,0) AS freq_total,
               (sum(cnt % ${TextAnalysis.ChecksumP})
                 % ${TextAnalysis.ChecksumP})::BIGINT AS freq_sum,
               sum(CASE WHEN cnt::DOUBLE < mean_freq THEN 1 ELSE 0 END)
                 ::BIGINT AS n_below_mean
        FROM j GROUP BY doc_id
      )
      SELECT doc_id, n_tokens, freq_sum,
             round(freq_total::DOUBLE / n_tokens, 4) AS avg_freq,
             n_below_mean,
             round(n_below_mean::DOUBLE / n_tokens, 4) AS rare_fraction
      FROM a ORDER BY doc_id ASC"""),
    // split assignment: replay the salted affine bucket (saltMix is
    // derived HERE from TextAnalysis.SplitSalt — the same constant the
    // operator defaults to, so the two cannot silently diverge) and the
    // 90/5/5 thresholds; the mod-prime doc_id checksum + min/max gate
    // exact membership
    Query("text_split_assign", TextAnalysis.splitAssign(_, _), s"""
      WITH x AS (
        SELECT doc_id, lang,
               ((doc_id % 1000000007 + 1000000007) % 1000000007
                 * 2654435761 + ${(TextAnalysis.SplitSalt % 1000000007L
                   * 2246822519L + 10007L) % 1000000007L})
                 % 1000000007 % 100 AS bucket
        FROM documents
      ), s AS (
        SELECT doc_id, lang,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM x
      )
      SELECT split, lang, count(*) AS n_docs,
             (sum(((doc_id % ${TextAnalysis.ChecksumP})
                   + ${TextAnalysis.ChecksumP}) % ${TextAnalysis.ChecksumP})
               % ${TextAnalysis.ChecksumP})::BIGINT AS docid_sum,
             min(doc_id)::BIGINT AS docid_min,
             max(doc_id)::BIGINT AS docid_max
      FROM s GROUP BY split, lang ORDER BY split ASC, lang ASC"""),
    // deterministic shuffle + pack: the oracle replays the salted
    // affine order key (saltMix derived from TextAnalysis.SplitSalt,
    // same constant the operator defaults to) and computes position /
    // running tokens with the NAIVE global window — affordable at
    // oracle scale, and independently validating the operator's
    // range-decomposed prefix sum
    Query("text_shuffle_pack", TextAnalysis.shufflePack(_, _), s"""
      WITH t AS (
        SELECT doc_id,
               len(string_split(regexp_replace(lower(trim(text)),
                 '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens,
               ((doc_id % 1000000007 + 1000000007) % 1000000007
                 * 2654435761 + ${(TextAnalysis.SplitSalt % 1000000007L
                   * 2246822519L + 10007L) % 1000000007L})
                 % 1000000007 AS shuffle_key
        FROM documents
      ), o AS (
        SELECT doc_id, shuffle_key, n_tokens,
               (row_number() OVER (ORDER BY shuffle_key, doc_id) - 1)
                 ::BIGINT AS pos,
               coalesce(sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM t
      )
      SELECT doc_id, shuffle_key, pos, n_tokens,
             (cum_before // ${TextAnalysis.PackSeqLen})::BIGINT AS bin_id
      FROM o ORDER BY pos ASC"""),
    Query("ev_retention", Events.retention(_, _), """
      WITH e AS (
        SELECT user_id, cast(ts AS date) AS day FROM events
      ), c AS (
        SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id
      )
      SELECT cast(cohort_day AS varchar) AS cohort_day,
             date_diff('day', cohort_day, day)::BIGINT AS day_offset,
             count(DISTINCT user_id) AS n_users
      FROM e JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1 ASC, 2 ASC"""),
    Query("ev_partitioned_scan", Events.partitionedScan(_, _), """
      SELECT event_type, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
      FROM events
      WHERE cast(ts AS date) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      GROUP BY event_type ORDER BY event_type ASC"""),
    Query("ev_cdc_compact", Events.cdcCompact(_, _), evCdcCompactOracle),
    // DPP join: the runtime-pruned fact join reduces to the same
    // one-week rollup (nation keys 7..13 → 2024-01-08..2024-01-14) —
    // correctness is date-filter equivalence; the DYNAMIC part is
    // plan-guarded in PlanSpec, not visible in rows
    Query("q_dpp_join", Events.dppJoin(_, _), """
      SELECT event_type, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
      FROM events
      WHERE cast(ts AS date) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      GROUP BY event_type ORDER BY event_type ASC"""),
    // streaming declared queries: the oracle is always the equivalent
    // BATCH SQL — the stream must converge to exactly the batch answer
    Query("stream_window_tumbling", StreamingQueries.windowTumbling(_, _),
      evWindowOracle),
    Query("stream_dedup_redelivery", StreamingQueries.dedupRedelivery(_, _), """
      SELECT event_type, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type ASC"""),
    Query("stream_enrich_agg", StreamingQueries.enrichAgg(_, _), """
      SELECT c_mktsegment, count(*) AS cnt,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE AS sum_value
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"""),
    Query("stream_sessionize",
      StreamingQueries.sessionizeToCompletion(_, _), """
      WITH x AS (
        SELECT user_id, event_id, ts,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
      ), s AS (
        SELECT user_id,
               sum(CASE WHEN prev_us IS NULL
                         OR epoch_us(ts) - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
        FROM x
      )
      SELECT user_id, max(session_id)::BIGINT AS n_sessions,
             count(*) AS n_events
      FROM s GROUP BY user_id ORDER BY user_id ASC"""),
    Query("stream_cdc_upsert", StreamingQueries.cdcUpsert(_, _),
      evCdcCompactOracle),
    Query("stream_stream_join", StreamingQueries.streamStreamJoin(_, _), """
      SELECT p.user_id, count(*) AS n_pairs
      FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
      GROUP BY p.user_id ORDER BY p.user_id ASC"""),
    Query("stream_incremental_sink", StreamingQueries.incrementalSink(_, _), """
      SELECT user_id, count(*) AS n_total,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE
               AS total_value
      FROM events GROUP BY user_id ORDER BY user_id ASC"""),
    // the single-pass recompute: the oracle independently proves the
    // Spark side's state+delta partial-aggregate merge is exact
    Query("ev_incremental_agg", Events.incrementalAgg(_, _), """
      SELECT user_id,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
                 THEN 1 ELSE 0 END)::BIGINT AS n_state,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                 THEN 1 ELSE 0 END)::BIGINT AS n_delta,
             count(*) AS n_total,
             round(sum(CAST(value AS DECIMAL(20,6))), 4)::DOUBLE
               AS total_value
      FROM events GROUP BY user_id ORDER BY user_id ASC"""),
    Query("q_bloom_prune", Sketches.bloomPrune(_, _), s"""
      WITH keys AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
      ), sat AS (
        -- the saturation handoff mirror: past the 2^capBits cap the
        -- Scala operator never probes a bitmap — it swaps to the exact
        -- shuffled join, so pass == matched by construction
        SELECT (16 * count(*)) > (1::BIGINT << ${Sketches.BloomCapBits})
          AS saturated FROM keys
      ), pb AS (
        -- coalesce mirrors the Scala clamp (Sketches.bloomSizing caps
        -- mBits at BloomCapBits): past ~8.4M build keys none satisfies
        -- the predicate and a bare min(b) would go NULL
        SELECT coalesce(min(b), ${Sketches.BloomCapBits})::INT AS mbits
        FROM generate_series(13, ${Sketches.BloomCapBits}) t(b)
        WHERE (1::BIGINT << b) >= 16 * (SELECT count(*) FROM keys)
      ), h(i, a, bb) AS (
        VALUES (0, 2654435761, 1), (1, 2246822519, 10008),
               (2, 3266489917, 20015), (3, 668265263, 30022)
      ), bpos AS (
        SELECT (((k % 1000000007 + 1000000007) % 1000000007 * a + bb) % 1000000007)
                 % (1::BIGINT << pb.mbits) AS pos
        FROM keys, pb, h
      ), bloom AS (
        SELECT pos // 32 AS word,
               bit_or(1::BIGINT << (pos % 32)::INT) AS bits
        FROM bpos GROUP BY 1
      ), fkeys AS (SELECT DISTINCT l_orderkey FROM lineitem
      ), fhit AS (
        SELECT l_orderkey, count(*) = 4 AS pass FROM (
          SELECT f.l_orderkey, h.i,
                 (((f.l_orderkey % 1000000007 + 1000000007) % 1000000007 * h.a + h.bb) % 1000000007)
                   % (1::BIGINT << pb.mbits) AS pos
          FROM fkeys f, pb, h
        ) p JOIN bloom b ON p.pos // 32 = b.word
                        AND (b.bits & (1::BIGINT << (p.pos % 32)::INT)) != 0
        GROUP BY l_orderkey
      )
      SELECT l.l_returnflag, count(*) AS n_rows,
             sum(CASE WHEN (CASE WHEN (SELECT saturated FROM sat)
                            THEN kk.k IS NOT NULL
                            ELSE coalesce(fh.pass, false) END)
                 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
             sum(CASE WHEN kk.k IS NOT NULL
                 THEN 1 ELSE 0 END)::BIGINT AS n_match,
             sum(CASE WHEN (CASE WHEN (SELECT saturated FROM sat)
                            THEN false
                            ELSE coalesce(fh.pass, false) AND kk.k IS NULL
                            END)
                 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
             (sum(CASE WHEN kk.k IS NOT NULL AND NOT
                       (CASE WHEN (SELECT saturated FROM sat)
                        THEN kk.k IS NOT NULL
                        ELSE coalesce(fh.pass, false) END)
                  THEN 1 ELSE 0 END) = 0) AS no_false_neg
      FROM lineitem l
      LEFT JOIN fhit fh ON l.l_orderkey = fh.l_orderkey
      LEFT JOIN (SELECT k FROM keys) kk ON l.l_orderkey = kk.k
      GROUP BY l.l_returnflag ORDER BY l.l_returnflag ASC"""),
    Query("q_heavy_hitters_cms", Sketches.heavyHittersCms(_, _),
      cmsHeavyHittersOracle),
    // stream ≡ batch: the streaming twin maintains the same d×w cells as
    // Complete-mode state and finalizes through the same estimator
    Query("stream_heavy_hitters", StreamingQueries.heavyHittersCms(_, _),
      cmsHeavyHittersOracle),
    Query("sim_radius", Similarity.radiusSearch(_, _), simRadiusOracle),
    Query("text_lm_backoff", TextAnalysis.lmBackoff(_, _), textLmBackoffOracle),
    Query("embed_cosine_neardup", Similarity.cosineNearDup(_, _),
      embCosineNearDupOracle),
    Query("q_avg_aggregator", RefQueries.qAvgAggregator(_, _), """
      SELECT l_returnflag, round(avg(l_quantity), 4) AS avg_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag ASC"""),
    Query("mm_props_json", Multimodal.propsJson(_, _), mmPropsJsonOracle),
    Query("mm_props_json_typed", Multimodal.propsJsonTyped(_, _),
      mmPropsJsonOracle),
    Query("q_cube", RefQueries.qCube(_, _), """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             round(sum(l_quantity), 4) AS qty,
             (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT
               AS gid
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
               l_linestatus ASC NULLS FIRST"""),
    Query("q_grouping_sets", RefQueries.qGroupingSets(_, _), """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             round(sum(l_quantity), 4) AS qty,
             (grouping(l_returnflag) * 2 + grouping(l_linestatus))::BIGINT
               AS gid
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
               l_linestatus ASC NULLS FIRST"""),
    Query("mm_binary_features", Multimodal.binaryFeatures(_, _),
      mmBinaryFeaturesOracle),
    // replays the decoded 8-bit PCM: sample i = ascii(text[i]), centered
    // at the unsigned-PCM midpoint 128; energies are exact integers
    Query("mm_audio_features", Multimodal.audioFeatures(_, _), """
      WITH d AS (
        SELECT doc_id, text, length(text)::BIGINT AS n
        FROM documents WHERE length(text) > 0
      ), e AS (
        SELECT doc_id, n,
               list_transform(generate_series(1, n::int),
                 i -> ((ascii(substr(text, i, 1)) - 128)
                       * (ascii(substr(text, i, 1)) - 128))::BIGINT) AS sq,
               list_transform(generate_series(1, n::int),
                 i -> abs(ascii(substr(text, i, 1)) - 128)::BIGINT) AS am
        FROM d
      )
      SELECT doc_id, 8000::INT AS sample_rate, n AS n_samples,
             list_sum(sq)::BIGINT AS total_energy,
             list_max(am)::BIGINT AS peak_amp,
             (n // 80)::BIGINT AS n_windows,
             CASE WHEN n // 80 = 0 THEN 0::BIGINT
                  ELSE list_reduce(list_prepend(0::BIGINT,
                    list_transform(generate_series(0, (n // 80 - 1)::int),
                      w -> list_sum(
                        sq[(w*80 + 1)::int : (w*80 + 80)::int])::BIGINT)),
                    (a, x) -> (a * 31 + x) % 1000000007) END
               AS win_energy_hash
      FROM e ORDER BY doc_id ASC"""),
    // silence segmentation replay: per-frame integer energies from the
    // text bytes, threshold, gaps-and-islands run merge — the run_hash
    // folds run START frames in order, exactly the Scala byte loop
    Query("mm_audio_silence", Multimodal.audioSilence(_, _), """
      WITH d AS (
        SELECT doc_id, text, length(text)::BIGINT AS n
        FROM documents WHERE length(text) >= 80
      ), fr AS (
        SELECT doc_id, w,
               list_sum(list_transform(
                 generate_series((w*80 + 1)::int, (w*80 + 80)::int),
                 i -> ((ascii(substr(text, i, 1)) - 128)
                       * (ascii(substr(text, i, 1)) - 128))::BIGINT)) AS e
        FROM d, unnest(generate_series(0, (n // 80 - 1)::int)) t(w)
      ), sil AS (
        SELECT doc_id, w FROM fr WHERE e < 156000
      ), isl AS (
        SELECT doc_id, w,
               w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
        FROM sil
      ), runs AS (
        SELECT doc_id, grp, min(w) AS start_w, count(*) AS len
        FROM isl GROUP BY doc_id, grp
      ), agg AS (
        SELECT doc_id, count(*) AS n_runs, max(len) AS max_run,
               list_reduce(list_prepend(0::BIGINT,
                 list(start_w::BIGINT ORDER BY start_w ASC)),
                 (a, x) -> (a * 31 + x) % 1000000007) AS run_hash
        FROM runs GROUP BY doc_id
      ), base AS (
        SELECT doc_id, (n // 80)::BIGINT AS n_frames FROM d
      ), cnt AS (
        SELECT doc_id, count(*)::BIGINT AS n_silent FROM sil GROUP BY doc_id
      )
      SELECT b.doc_id, b.n_frames,
             coalesce(c.n_silent, 0)::BIGINT AS n_silent,
             coalesce(a.n_runs, 0)::BIGINT AS n_runs,
             coalesce(a.max_run, 0)::BIGINT AS max_run,
             round(coalesce(c.n_silent, 0)::DOUBLE / b.n_frames, 4)
               AS silent_ratio,
             coalesce(a.run_hash, 0)::BIGINT AS run_hash
      FROM base b
      LEFT JOIN cnt c USING (doc_id)
      LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id ASC"""),
    // replays the decoded P6 frames: each frame is a 16-pixel text row,
    // each gray sample replicated into R=G=B — hence the (i-1)//3 over
    // 48 channel bytes (the hash covers the full decoded channel data)
    Query("mm_frame_sample", Multimodal.frameSample(_, _), """
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16) AS n_frames
        FROM documents
      ), idx AS (
        SELECT doc_id, n_frames, text,
               unnest(range(0, n_frames, 4)) AS frame_idx
        FROM d WHERE n_frames >= 1
      )
      SELECT doc_id, frame_idx, n_frames,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(1, 48),
                 i -> ascii(substr(text,
                   frame_idx::int * 16 + ((i - 1) // 3) + 1, 1)))),
               (a, x) -> (a * 31 + x) % 1000000007) AS frame_hash
      FROM idx ORDER BY doc_id ASC, frame_idx ASC"""),
    // replays scene-cut SAD from the text bytes: frame f vs f-1 over 16
    // gray pixels ×3 replicated channels (hence the ×3); cut where SAD
    // exceeds the shared threshold; checksum over cut frame indices
    Query("mm_scene_cuts", Multimodal.sceneCuts(_, _), s"""
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16) AS n_frames
        FROM documents
      ), f AS (
        SELECT doc_id, n_frames, text,
               unnest(range(1, n_frames)) AS f
        FROM d WHERE n_frames >= 2
      ), s AS (
        SELECT doc_id, n_frames, f,
               3 * list_sum(list_transform(generate_series(1, 16),
                 c -> abs(ascii(substr(text, (f*16 + c - 1)::int + 1, 1))
                          - ascii(substr(text,
                              ((f-1)*16 + c - 1)::int + 1, 1)))))::BIGINT
                 AS sad
        FROM f
      )
      SELECT doc_id, n_frames::BIGINT AS n_frames,
             sum(CASE WHEN sad > ${Multimodal.SceneCutSad}
                      THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
             (sum(CASE WHEN sad > ${Multimodal.SceneCutSad}
                       THEN f ELSE 0 END) % 1000000007)::BIGINT
               AS cut_checksum,
             max(sad)::BIGINT AS max_sad,
             (sum(sad) // (n_frames - 1))::BIGINT AS mean_sad
      FROM s GROUP BY doc_id, n_frames ORDER BY doc_id ASC"""),
    // image statistics replay: gray samples are the text bytes; variance
    // numerator is the exact n*sum(p^2) - sum(p)^2 (no division, no
    // float); the 4-bin histogram folds with a per-step mod, congruent
    // to the Scala fold
    Query("mm_image_stats", Multimodal.imageStats(_, _), """
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16) AS h FROM documents
      ), px AS (
        SELECT doc_id, ascii(substr(text, i, 1))::BIGINT AS p
        FROM d, unnest(generate_series(1, (h * 16)::int)) t(i)
        WHERE h >= 1
      )
      SELECT doc_id, count(*)::BIGINT AS n_px, sum(p)::BIGINT AS px_sum,
             (count(*) * sum(p * p) - sum(p) * sum(p))::BIGINT AS var_num,
             ((((((sum(CASE WHEN p // 64 = 0 THEN 1 ELSE 0 END)
                   % 1000000007) * 31
                + sum(CASE WHEN p // 64 = 1 THEN 1 ELSE 0 END))
                   % 1000000007) * 31
                + sum(CASE WHEN p // 64 = 2 THEN 1 ELSE 0 END))
                   % 1000000007) * 31
                + sum(CASE WHEN p // 64 = 3 THEN 1 ELSE 0 END))::BIGINT
               % 1000000007 AS hist_checksum
      FROM px GROUP BY doc_id ORDER BY doc_id ASC"""),
    // shot segmentation replay: same SAD cut stream, shot lengths via
    // lag over cut frames + the final open shot (a no-cut video is one
    // full-length shot), lengths folded in start order
    Query("mm_shot_stats", Multimodal.shotStats(_, _), s"""
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16) AS n_frames
        FROM documents
      ), f AS (
        SELECT doc_id, n_frames, text,
               unnest(range(1, n_frames)) AS f
        FROM d WHERE n_frames >= 2
      ), s AS (
        SELECT doc_id, n_frames, f,
               3 * list_sum(list_transform(generate_series(1, 16),
                 c -> abs(ascii(substr(text, (f*16 + c - 1)::int + 1, 1))
                          - ascii(substr(text,
                              ((f-1)*16 + c - 1)::int + 1, 1)))))::BIGINT
                 AS sad
        FROM f
      ), cuts AS (
        SELECT doc_id, f FROM s WHERE sad > ${Multimodal.SceneCutSad}
      ), base AS (
        SELECT doc_id, n_frames FROM d WHERE n_frames >= 2
      ), sh AS (
        SELECT doc_id,
               f - coalesce(lag(f) OVER (PARTITION BY doc_id
                                         ORDER BY f ASC), 0) AS len,
               coalesce(lag(f) OVER (PARTITION BY doc_id
                                     ORDER BY f ASC), 0) AS start
        FROM cuts
        UNION ALL
        SELECT b.doc_id, b.n_frames - coalesce(mx.last_cut, 0),
               coalesce(mx.last_cut, 0)
        FROM base b
        LEFT JOIN (SELECT doc_id, max(f) AS last_cut
                   FROM cuts GROUP BY doc_id) mx USING (doc_id)
      )
      SELECT b.doc_id, b.n_frames::BIGINT AS n_frames,
             count(*)::BIGINT AS n_shots,
             min(len)::BIGINT AS min_shot,
             max(len)::BIGINT AS max_shot,
             list_reduce(list_prepend(0::BIGINT,
               list(len::BIGINT ORDER BY start ASC)),
               (a, x) -> (a * 31 + x) % 1000000007)::BIGINT
               AS len_checksum
      FROM sh JOIN base b ON sh.doc_id = b.doc_id
      GROUP BY b.doc_id, b.n_frames ORDER BY b.doc_id ASC"""),
    // replays the 2x2 box filter over the decoded 16-wide gray image:
    // pixel (y,x) of the output = integer mean of rows {2y, min(2y+1,
    // in_h-1)} (edge-replicate) x cols {2x, 2x+1}, text byte (r*16+c)
    Query("mm_resize", Multimodal.resize(_, _), """
      WITH d AS (
        SELECT doc_id, text, (length(text) // 16)::BIGINT AS in_h
        FROM documents
      ), s AS (
        SELECT doc_id, text, in_h, ((in_h + 1) // 2)::BIGINT AS out_h
        FROM d WHERE in_h >= 1
      )
      SELECT doc_id, 16::BIGINT AS in_w, in_h, 8::BIGINT AS out_w, out_h,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(0, (out_h * 8 - 1)::int),
                 i -> (ascii(substr(text,
                         ((2*(i//8))*16 + 2*(i%8))::int + 1, 1)) +
                       ascii(substr(text,
                         ((2*(i//8))*16 + 2*(i%8) + 1)::int + 1, 1)) +
                       ascii(substr(text,
                         (least(2*(i//8)+1, in_h-1)*16 + 2*(i%8))::int + 1,
                         1)) +
                       ascii(substr(text,
                         (least(2*(i//8)+1, in_h-1)*16 + 2*(i%8) + 1)::int
                           + 1, 1))) // 4)),
               (a, x) -> (a * 31 + x) % 1000000007) AS out_hash
      FROM s ORDER BY doc_id ASC"""),
    // replays the aHash grid from the text bytes: grid cell (i,j) =
    // decoded gray pixel (i*h/8, 2j) = text byte at (i*h/8)*16 + 2j;
    // bit = 64*g > grid sum (strict, integer-exact); two 32-bit words,
    // 4x16-bit band buckets, bit_count(xor) hamming <= 10
    Query("mm_phash_dedup", Multimodal.phashDedup(_, _), mmPhashDedupOracle),
    // the SHARED phash pair replay feeds the recursive min-reachable
    // walk (the dedup_clusters oracle pattern) + per-lang survival —
    // one pair definition, so the two mm_phash_* oracles cannot drift
    Query("mm_phash_clusters", Multimodal.phashClusters(_, _), s"""
      WITH RECURSIVE pr AS ($mmPhashDedupOracle),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pr
        UNION ALL
        SELECT doc_b, doc_a FROM pr
      ),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
      ),
      lab AS (
        SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id
      ),
      dup AS (SELECT doc_id FROM lab WHERE cluster_id <> doc_id),
      d AS (
        SELECT doc_id, lang, n_chars,
               doc_id IN (SELECT doc_id FROM dup) AS removed
        FROM documents
      )
      SELECT lang, count(*)::BIGINT AS n_imgs,
             sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             sum(CASE WHEN NOT removed THEN 1 ELSE 0 END)::BIGINT AS n_kept,
             sum(CASE WHEN NOT removed THEN n_chars ELSE 0 END)::BIGINT
               AS bytes_kept,
             sum(CASE WHEN removed THEN n_chars ELSE 0 END)::BIGINT
               AS bytes_saved
      FROM d GROUP BY lang ORDER BY lang ASC"""),
    // audio fingerprint dedup replay: same planted-twin construction as
    // Multimodal.audioDedup (12 smallest >=64-byte docs, first sample
    // perturbed, twin id = src + max + 1), then the frame-energy
    // signature bit-for-bit — segment(p) = (p-1)*64 // n over the text
    // bytes (samples = bytes, the WavCodec round-trip contract), energy
    // Σ(c-128)², bit = 64·e > Σe — banded hamming ≤ 10 candidates, the
    // recursive min-reachable CC walk, per-lang survival rollup
    Query("mm_audio_dedup", Multimodal.audioDedup(_, _), """
      WITH RECURSIVE mx AS (SELECT max(doc_id) AS m FROM documents),
      src AS (
        SELECT doc_id, lang, text FROM documents
        WHERE length(text) >= 64 ORDER BY doc_id ASC LIMIT 12
      ),
      planted AS (
        SELECT s.doc_id + mx.m + 1 AS doc_id, s.lang,
               'z' || substr(s.text, 2) AS text
        FROM src s, mx
      ),
      corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL SELECT doc_id, lang, text FROM planted
      ),
      d AS (
        SELECT doc_id, text, length(text) AS n FROM corpus
        WHERE length(text) >= 64
      ),
      seg AS (
        SELECT doc_id, ((u.p - 1) * 64) // n AS k,
               sum((ascii(substr(text, u.p::int, 1)) - 128)
                   * (ascii(substr(text, u.p::int, 1)) - 128)) AS e
        FROM d, unnest(generate_series(1, n)) u(p)
        GROUP BY doc_id, ((u.p - 1) * 64) // n
      ),
      tot AS (SELECT doc_id, sum(e) AS s FROM seg GROUP BY doc_id),
      sig AS (
        SELECT seg.doc_id,
               sum(CASE WHEN k < 32 AND 64 * e > s
                   THEN (1::BIGINT << k::int) ELSE 0 END)::BIGINT AS w0,
               sum(CASE WHEN k >= 32 AND 64 * e > s
                   THEN (1::BIGINT << (k - 32)::int) ELSE 0 END)::BIGINT
                 AS w1
        FROM seg JOIN tot USING (doc_id) GROUP BY seg.doc_id
      ),
      banded AS (
        SELECT doc_id, w0, w1, band,
               CASE WHEN band = 0 THEN w0 & 65535
                    WHEN band = 1 THEN (w0 >> 16) & 65535
                    WHEN band = 2 THEN w1 & 65535
                    ELSE (w1 >> 16) & 65535 END AS bsig
        FROM sig CROSS JOIN generate_series(0, 3) t(band)
      ),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b USING (band, bsig)
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.w0, b.w0))
              + bit_count(xor(a.w1, b.w1)) <= 10
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      ),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
      ),
      lab AS (
        SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id
      ),
      dup AS (SELECT doc_id FROM lab WHERE cluster_id <> doc_id),
      r AS (
        SELECT doc_id, lang, length(text)::BIGINT AS bytes,
               doc_id IN (SELECT doc_id FROM dup) AS removed
        FROM corpus
      )
      SELECT lang, count(*)::BIGINT AS n_auds,
             sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
             sum(CASE WHEN NOT removed THEN 1 ELSE 0 END)::BIGINT
               AS n_kept,
             sum(CASE WHEN NOT removed THEN bytes ELSE 0 END)::BIGINT
               AS bytes_kept,
             sum(CASE WHEN removed THEN bytes ELSE 0 END)::BIGINT
               AS bytes_saved,
             -- decode failures are counted per-row Spark-side
             -- (WavCodec.decodeOpt); for the text stand-in payload the
             -- ONLY malformed case is an empty asset (empty text →
             -- empty payload, audioScanText), so the oracle DERIVES the
             -- count from the corpus instead of hard-coding 0 — a
             -- future fixture with empty docs stays hash-green instead
             -- of failing with a confusing mismatch
             sum(CASE WHEN bytes = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_undecodable
      FROM r GROUP BY lang ORDER BY lang ASC"""),
    // video-dedup replay: planted twins, the mm_frame_sample 48-byte
    // frame hash per frame, 4 temporal segment folds as LSH band keys,
    // 16 sampled-frame-hash confirmation (>= 8 integer matches), the
    // recursive min-reachable cluster walk, per-lang survival — every
    // value derived straight from the text bytes
    Query("mm_video_dedup", Multimodal.videoDedup(_, _), s"""
      WITH RECURSIVE mx AS (SELECT max(doc_id) AS m FROM documents),
      src AS (
        SELECT doc_id, lang, text FROM documents
        WHERE length(text) >= ${16 * Multimodal.VideoMinFrames * 2}
        ORDER BY doc_id ASC LIMIT ${Multimodal.VideoPlantCount}
      ),
      planted AS (
        SELECT s.doc_id + mx.m + 1 AS doc_id, s.lang,
               'z' || substr(s.text, 2) AS text
        FROM src s, mx
      ),
      corpus AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL SELECT doc_id, lang, text FROM planted
      ),
      d AS (
        SELECT doc_id, lang, text, (length(text) // 16) AS h FROM corpus
      ),
      fh AS (
        SELECT doc_id, h, u.r AS r,
               list_reduce(list_prepend(0::BIGINT,
                 list_transform(generate_series(1, 48),
                   i -> ascii(substr(text,
                     (r * 16 + ((i - 1) // 3) + 1)::int, 1))::BIGINT)),
                 (a, x) -> (a * 31 + x) % 1000000007) AS fh
        FROM d, unnest(range(0, h)) u(r)
        WHERE h >= ${Multimodal.VideoMinFrames}
      ),
      sg AS (
        SELECT doc_id, ((4 * r) // h)::int AS band,
               list_reduce(list_prepend(0::BIGINT,
                 list(fh ORDER BY r ASC)),
                 (a, x) -> (a * 31 + x) % 1000000007) AS bsig
        FROM fh GROUP BY doc_id, ((4 * r) // h)
      ),
      sm AS (
        SELECT doc_id, list(fh ORDER BY i ASC) AS smp FROM (
          SELECT d2.doc_id AS doc_id, t.i AS i, f.fh AS fh
          FROM (SELECT doc_id, h FROM d
                WHERE h >= ${Multimodal.VideoMinFrames}) d2,
               unnest(generate_series(0, 15)) t(i), fh f
          WHERE f.doc_id = d2.doc_id
            AND f.r = (t.i * (d2.h - 1)) // 15
        ) GROUP BY doc_id
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sg a JOIN sg b USING (band, bsig)
        WHERE a.doc_id < b.doc_id
      ),
      conf AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sm sa ON sa.doc_id = cand.doc_a
        JOIN sm sb ON sb.doc_id = cand.doc_b
        WHERE list_sum(list_transform(generate_series(1, 16),
                i -> CASE WHEN sa.smp[i] = sb.smp[i]
                     THEN 1 ELSE 0 END)) >= ${Multimodal.VideoMatchFloor}
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM conf
        UNION ALL SELECT doc_b, doc_a FROM conf
      ),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
      ),
      lab AS (
        SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id
      ),
      dup AS (SELECT doc_id FROM lab WHERE cluster_id <> doc_id),
      rr AS (
        SELECT doc_id, lang, (length(text) // 16)::BIGINT AS frames,
               doc_id IN (SELECT doc_id FROM dup) AS removed
        FROM corpus
      )
      SELECT lang, count(*)::BIGINT AS n_vids,
             sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT
               AS n_removed,
             sum(CASE WHEN NOT removed THEN 1 ELSE 0 END)::BIGINT
               AS n_kept,
             sum(CASE WHEN NOT removed THEN frames ELSE 0 END)::BIGINT
               AS frames_kept,
             sum(CASE WHEN removed THEN frames ELSE 0 END)::BIGINT
               AS frames_saved
      FROM rr GROUP BY lang ORDER BY lang ASC"""),
    Query("mm_crossmodal_join", Multimodal.crossModalJoin(_, _), """
      WITH v AS (
        SELECT vec_id AS doc_id,
               sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
                 (a, x) -> a + x)) AS vec_norm
        FROM embeddings
      )
      SELECT lang, count(*) AS cnt,
             round(sum(CAST(vec_norm AS DECIMAL(20,8)))::DOUBLE / count(*), 6)
               AS avg_norm,
             round(avg(length(text)), 4) AS avg_chars
      FROM documents d JOIN v USING (doc_id)
      GROUP BY lang ORDER BY lang ASC"""),
    Query("ev_window_tumbling", Events.tumblingWindow(_, _), evWindowOracle),
    Query("ev_sessionize", Events.sessionize(_, _), evSessionizeOracle),
    Query("ev_sessionize_typed", Events.sessionizeTyped(_, _),
      evSessionizeOracle),
    Query("q_window_suite", RefQueries.qWindowSuite(_, _), """
      SELECT o_orderkey, o_custkey,
             row_number() OVER seq_w AS seq,
             round(o_totalprice - coalesce(
               lag(o_totalprice, 1) OVER seq_w, 0.0), 4) AS price_delta,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_total,
             dense_rank() OVER price_w AS price_rank,
             ntile(4) OVER price_w AS quartile
      FROM orders
      WINDOW seq_w AS (PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC),
             price_w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
      ORDER BY o_custkey ASC, seq ASC"""),
    Query("q_order_latency", RefQueries.qOrderLatency(_, _), """
      SELECT o_orderpriority, count(*) AS cnt,
             round(avg(date_diff('day', cast(o_orderdate AS date),
                                 cast(l_shipdate AS date))), 4)
               AS avg_latency_days,
             max(date_diff('day', cast(o_orderdate AS date),
                           cast(l_shipdate AS date)))::BIGINT
               AS max_latency_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority ASC"""),
    Query("q_semi_anti_join", RefQueries.qSemiAntiJoin(_, _), """
      SELECT c_mktsegment,
             count(CASE WHEN EXISTS (SELECT 1 FROM events e
                                     WHERE e.user_id = c.c_custkey)
                   THEN 1 END) AS n_with_events,
             count(CASE WHEN NOT EXISTS (SELECT 1 FROM events e
                                         WHERE e.user_id = c.c_custkey)
                   THEN 1 END) AS n_without_events
      FROM customer c GROUP BY c_mktsegment ORDER BY c_mktsegment ASC"""),
    Query("ev_pivot", Events.pivotCounts(_, _), """
      SELECT user_id,
             count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY user_id ORDER BY user_id ASC"""),
    Query("q_rollup", RefQueries.qRollup(_, _), """
      WITH ym AS (
        SELECT substr(cast(l_shipdate AS varchar), 1, 4) AS year,
               substr(cast(l_shipdate AS varchar), 6, 2) AS month,
               l_quantity
        FROM lineitem
      )
      SELECT year, month, count(*) AS cnt, round(sum(l_quantity), 4) AS qty,
             (grouping(year) * 2 + grouping(month))::BIGINT AS gid
      FROM ym GROUP BY ROLLUP (year, month)
      ORDER BY gid ASC, year ASC NULLS FIRST, month ASC NULLS FIRST"""),
    // oracle: DuckDB's native ASOF JOIN — an independent implementation
    // of the as-of semantics our union+window composition expresses.
    // The right side is pre-reduced to max(event_id) per (user, ts):
    // DuckDB ASOF leaves the pick among duplicate-(key, ts) right rows
    // unspecified, while both Spark variants deterministically keep the
    // max click_id — the reduction makes the oracle's tie-break explicit
    // instead of relying on the fixture having no ties
    Query("ev_asof_join", Events.asofJoin(_, _), evAsofOracle),
    // same independent DuckDB ASOF oracle for the native AsOfJoinExec
    Query("ev_asof_native", Events.asofJoinNative(_, _), evAsofOracle),
    Query("embed_quantize_int8", Similarity.quantizeInt8(_, _), """
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      ), m AS (
        SELECT vec_id, v,
               list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(v, x -> abs(x))),
                 (a, x) -> greatest(a, x)) AS max_abs
        FROM e
      ), q AS (
        SELECT vec_id, max_abs,
               list_transform(v, x -> round(x * 127.0 / max_abs, 0)::INTEGER)
                 AS qv
        FROM m WHERE max_abs > 0
      )
      SELECT vec_id, round(max_abs / 127.0, 6) AS scale,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(qv, x -> x::BIGINT)), (a, x) -> a + x) AS q_sum,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(qv, x -> abs(x)::BIGINT)), (a, x) -> a + x)
               AS q_l1
      FROM q ORDER BY vec_id ASC"""),
    Query("ev_funnel", Events.funnel(_, _), """
      WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                 AS first_click,
               max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                 AS last_purchase
        FROM events GROUP BY user_id
      )
      SELECT count(*) AS n_users,
             count(first_click) AS n_clickers,
             count(CASE WHEN last_purchase > first_click THEN 1 END)
               AS n_converted,
             round(count(CASE WHEN last_purchase > first_click THEN 1 END)
                   ::double /
                   greatest(count(first_click), 1), 4) AS conversion
      FROM per_user"""),
    // delete-propagation oracle: replay the splitmix64 tombstone draw
    // (UHUGEINT chain, signed pmod 19), then each surface independently —
    // documents, the minhash pair graph with a RE-RESOLVED recursive
    // min-reachable walk over the induced (both-alive) subgraph, the
    // packed-sequence bins (naive single cumsum vs Spark's distributed
    // decomposition), and the per-lang rollup with the poly-hash fold.
    // Checksums: cs1 = Σ(k mod P)² mod P; cs2 = Σ(((k1 mod P)·31 +
    // k2 mod P) mod P)² mod P — identical integer arithmetic both sides.
    Query("q_forget", Forget.qForget(_, _), s"""
      WITH RECURSIVE
      z0 AS (SELECT doc_id, lang,
               ((doc_id::UHUGEINT + 11400714819323198485)
                % 18446744073709551616)::UBIGINT AS z FROM documents),
      z1 AS (SELECT doc_id, lang,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM z0),
      z2 AS (SELECT doc_id, lang,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM z1),
      dd AS (
        SELECT doc_id, lang,
          ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END % 19) + 19) % 19 = 0 AS dead
        FROM z2
      ),
      s1 AS (
        SELECT '1_documents' AS surface, count(*)::BIGINT AS n_before,
          sum(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT AS n_purged,
          sum(CASE WHEN NOT dead THEN 1 ELSE 0 END)::BIGINT AS n_after,
          coalesce((sum(CASE WHEN NOT dead THEN
             ((doc_id % 1000000007) * (doc_id % 1000000007)) % 1000000007
           END)::HUGEINT % 1000000007), 0)::BIGINT AS survivor_checksum
        FROM dd
      ),
      pr AS ($dedupMinhashOracle),
      mem AS (SELECT DISTINCT doc_id FROM
        (SELECT doc_a AS doc_id FROM pr
         UNION ALL SELECT doc_b FROM pr)),
      alive AS (
        SELECT doc_a, doc_b FROM pr
        WHERE doc_a NOT IN (SELECT doc_id FROM dd WHERE dead)
          AND doc_b NOT IN (SELECT doc_id FROM dd WHERE dead)
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM alive
        UNION ALL SELECT doc_b, doc_a FROM alive
      ),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
      ),
      lab AS (SELECT doc_id, min(label) AS label FROM walk GROUP BY doc_id),
      labt AS (
        SELECT (((doc_id % 1000000007) * 31 + (label % 1000000007))
                % 1000000007) AS term
        FROM lab
      ),
      s2 AS (
        SELECT '2_dup_graph' AS surface,
          (SELECT count(*) FROM mem)::BIGINT AS n_before,
          (SELECT count(*) FROM mem JOIN dd USING (doc_id)
           WHERE dead)::BIGINT AS n_purged,
          (SELECT count(*) FROM lab)::BIGINT AS n_after,
          coalesce((SELECT (sum((term * term) % 1000000007)::HUGEINT
                            % 1000000007)::BIGINT FROM labt),
                   0)::BIGINT AS survivor_checksum
      ),
      t AS (
        SELECT doc_id,
               len(string_split(regexp_replace(lower(trim(text)),
                 '\\s+', ' ', 'g'), ' '))::BIGINT AS n_tokens
        FROM documents
      ),
      c AS (
        SELECT doc_id,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM t
      ),
      bins AS (
        SELECT (cum_before // ${TextAnalysis.PackSeqLen})::BIGINT AS bin_id,
               bool_or(dead) AS dead
        FROM c JOIN dd USING (doc_id) GROUP BY 1
      ),
      s3 AS (
        SELECT '3_packs' AS surface, count(*)::BIGINT AS n_before,
          sum(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT AS n_purged,
          sum(CASE WHEN NOT dead THEN 1 ELSE 0 END)::BIGINT AS n_after,
          coalesce((sum(CASE WHEN NOT dead THEN
             ((bin_id % 1000000007) * (bin_id % 1000000007)) % 1000000007
           END)::HUGEINT % 1000000007), 0)::BIGINT AS survivor_checksum
        FROM bins
      ),
      lr AS (
        SELECT lang,
               sum(CASE WHEN NOT dead THEN 1 ELSE 0 END)::BIGINT AS n_alive
        FROM dd GROUP BY lang
      ),
      lrt AS (
        SELECT n_alive,
          (list_reduce(list_prepend(0::BIGINT,
              list_transform(generate_series(1, length(lang)),
                i -> ascii(substr(lang, i, 1))::BIGINT)),
              (a, x) -> (a * 31 + x) % 1000000007) * 31
            + (n_alive % 1000000007)) % 1000000007 AS term
        FROM lr
      ),
      s4 AS (
        SELECT '4_lang_rollup' AS surface,
          (SELECT count(*) FROM lr)::BIGINT AS n_before,
          (SELECT sum(CASE WHEN n_alive = 0 THEN 1 ELSE 0 END)::BIGINT
           FROM lr) AS n_purged,
          (SELECT sum(CASE WHEN n_alive > 0 THEN 1 ELSE 0 END)::BIGINT
           FROM lr) AS n_after,
          (SELECT coalesce((sum(CASE WHEN n_alive > 0
                            THEN (term * term) % 1000000007
                       END)::HUGEINT % 1000000007), 0)::BIGINT
           FROM lrt) AS survivor_checksum
      )
      SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
      ORDER BY surface ASC"""),
    // incremental-forget oracle: the FULL re-resolution — the splitmix64
    // tombstone draw, the minhash pair replay, and the recursive
    // min-reachable walk over the ENTIRE induced (both-alive) subgraph.
    // The Spark side re-resolves ONLY tombstone-touched components and
    // passes untouched components' persisted labels through verbatim, so
    // the hash gate IS the scoped ≡ full proof (deletions can only split
    // or shrink components, never merge them).
    Query("dedup_forget_cc", Forget.qDedupForgetCc(_, _), s"""
      WITH RECURSIVE
      z0 AS (SELECT doc_id,
               ((doc_id::UHUGEINT + 11400714819323198485)
                % 18446744073709551616)::UBIGINT AS z FROM documents),
      z1 AS (SELECT doc_id,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM z0),
      z2 AS (SELECT doc_id,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM z1),
      dead AS (
        SELECT doc_id FROM z2
        WHERE ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END % 19) + 19) % 19 = 0
      ),
      pr AS ($dedupMinhashOracle),
      alive AS (
        SELECT doc_a, doc_b FROM pr
        WHERE doc_a NOT IN (SELECT doc_id FROM dead)
          AND doc_b NOT IN (SELECT doc_id FROM dead)
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM alive
        UNION ALL SELECT doc_b, doc_a FROM alive
      ),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      walk(doc_id, label) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.a, w.label FROM edges e JOIN walk w ON w.doc_id = e.b
      )
      SELECT doc_id, min(label) AS cluster_id,
             doc_id = min(label) AS is_keeper
      FROM walk GROUP BY doc_id ORDER BY doc_id ASC"""),
    // signature-index forget oracle: REBUILD the band-bucket occupancy
    // cells from scratch over the alive corpus (tombstones = the same
    // splitmix64 mod-19 draw as q_forget). The Spark side never re-signs
    // the alive corpus — it subtracts the tombstoned docs' contributions
    // from the persisted cells — so the hash gate is the
    // subtract-maintenance ≡ rebuild proof.
    Query("dedup_forget_index", Dedup.dedupForgetIndex(_, _),
      forgetIndexOracle),
    // the streaming twin subtracts the SAME tombstone draw as
    // Complete-mode dead-cell state and finalizes through the shared
    // batch subtraction — its oracle is the batch rebuild VERBATIM, so
    // the gate is stream-subtract ≡ batch-subtract ≡ rebuild
    Query("stream_forget_index", StreamingQueries.forgetIndexStream(_, _),
      forgetIndexOracle),
    // runtime-filter oracle: the plain join rollup — the bloom filter is
    // a PLAN transformation (might_contain prunes non-joining fact rows
    // before the exchange); the answer must be bit-identical to the
    // unfiltered join, which is exactly what this gate checks
    Query("q_runtime_filter", RefQueries.qRuntimeFilter(_, _), """
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             count(*)::BIGINT AS n_items,
             CAST(round(sum(CAST(l_extendedprice AS decimal(20,6))), 4)
               AS DOUBLE) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY 1 ASC"""),
    // delta-join oracle: ONE full join with base/delta flags — an
    // independent algorithm for the 4-term incremental decomposition,
    // so the hash match proves (A∪ΔA)⋈(B∪ΔB) = A⋈B + the deltas
    Query("q_delta_join", RefQueries.qDeltaJoin(_, _), """
      WITH j AS (
        SELECT o.o_orderpriority,
               CASE WHEN o.o_orderdate < TIMESTAMP '1999-01-01'
                     AND l.l_shipdate < TIMESTAMP '1999-01-01'
                    THEN 'base' ELSE 'delta' END AS kind,
               l.l_quantity
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      )
      SELECT o_orderpriority,
             sum(CASE WHEN kind = 'base' THEN 1 ELSE 0 END)::BIGINT
               AS n_base,
             sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END)::BIGINT
               AS n_delta,
             count(*)::BIGINT AS n_pairs,
             round(sum(l_quantity::DECIMAL(20,6)), 4)::DOUBLE AS qty_total
      FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority ASC"""),
    // A/B assignment replay: the splitmix64 finalizer in UHUGEINT
    // wrap-around arithmetic over distinct user ids, signed-domain pmod,
    // then the per-arm rollup with decimal-exact value totals
    Query("ev_ab_assign", Events.abAssign(_, _), """
      WITH u AS (
        SELECT DISTINCT user_id FROM events
      ), mz AS (
        SELECT user_id, ((user_id::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM u
      ), m1 AS (
        SELECT user_id, ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM mz
      ), m2 AS (
        SELECT user_id, ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM m1
      ), fin AS (
        SELECT user_id,
               CASE WHEN xor(z, z >> 31) >= 9223372036854775808
                    THEN (xor(z, z >> 31)::HUGEINT
                          - 18446744073709551616)::BIGINT
                    ELSE xor(z, z >> 31)::BIGINT END AS m
        FROM m2
      ), va AS (
        SELECT user_id,
               CASE WHEN ((m % 2) + 2) % 2 = 0 THEN 'A' ELSE 'B' END
                 AS variant
        FROM fin
      )
      SELECT e.event_type, va.variant, count(*)::BIGINT AS n_events,
             count(DISTINCT e.user_id)::BIGINT AS n_users,
             round(sum(e.value::DECIMAL(20,6)), 4)::DOUBLE AS total_value,
             round(count(*)::DOUBLE / count(DISTINCT e.user_id), 4)
               AS events_per_user
      FROM events e JOIN va USING (user_id)
      GROUP BY e.event_type, va.variant
      ORDER BY e.event_type ASC, va.variant ASC"""),
    // lateness audit replay: the same round-robin shard-merge arrival
    // order (per-shard sequence, count-derived batch size, batch maxima,
    // lexicographic earlier-batch running max — as a window here, which
    // is equivalent to the Spark side's triangular join), integer gaps,
    // mod-prime checksum of the late ids, sums cast back to BIGINT
    Query("ev_lateness", Events.latenessAudit(_, _), s"""
      WITH $latenessLateCtes
      SELECT event_type, count(*)::BIGINT AS n_events,
             sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
             max(late_us)::BIGINT AS max_late_us,
             sum(late_us)::BIGINT AS sum_late_us,
             round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 4) AS late_ratio,
             round(quantile_cont(late_us, 0.99), 4) AS wm_p99_us,
             (sum(CASE WHEN late_us > 0 THEN event_id % 1000000007
                       ELSE 0 END) % 1000000007)::BIGINT
               AS late_ids_checksum
      FROM l GROUP BY event_type ORDER BY event_type ASC"""),
    // watermark-ENFORCEMENT replay: the stream observed what the
    // ms-floor watermark prediction says it must — the oracle computes
    // the prediction (batch granularity n/32, running-max ms-floor
    // watermark base, drop iff late_us ≥ delay_ms·1000, delay = p99
    // discrete order statistic DIV 1000 + 1), so the hash gate IS the
    // predicted ≡ observed proof
    Query("stream_lateness", StreamingQueries.latenessEnforced(_, _), """
      WITH e AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               (event_id % 4)::INT AS shard
        FROM events
      ), p AS (
        SELECT greatest(count(*) // 32, 4) AS b FROM e
      ), s AS (
        SELECT e.*, row_number() OVER (PARTITION BY shard
                                       ORDER BY event_id ASC) AS seq
        FROM e
      ), c AS (
        SELECT s.*, ((seq - 1) // p.b)::BIGINT AS cycle FROM s, p
      ), bm AS (
        SELECT cycle, shard, (max(us) // 1000) AS bmax_ms
        FROM c GROUP BY cycle, shard
      ), hw AS (
        SELECT cycle, shard,
               max(bmax_ms) OVER (ORDER BY cycle ASC, shard ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS hwm_ms
        FROM bm
      ), l AS (
        SELECT c.event_type, c.event_id,
               greatest(coalesce(hw.hwm_ms * 1000 - c.us, 0), 0)::BIGINT
                 AS late_us
        FROM c JOIN hw USING (cycle, shard)
      ), d AS (
        SELECT (quantile_disc(late_us, 0.99) // 1000 + 1)::BIGINT
                 AS delay_ms
        FROM l
      ), a AS (
        SELECT l.event_type, l.event_id,
               (l.late_us < d.delay_ms * 1000) AS admitted, d.delay_ms
        FROM l, d
      )
      SELECT event_type, count(*)::BIGINT AS n_events,
             sum(CASE WHEN admitted THEN 1 ELSE 0 END)::BIGINT
               AS n_admitted,
             sum(CASE WHEN admitted THEN 0 ELSE 1 END)::BIGINT
               AS n_dropped_late,
             min(delay_ms)::BIGINT AS wm_delay_ms,
             (sum(CASE WHEN admitted THEN event_id % 1000000007
                  ELSE 0 END) % 1000000007)::BIGINT
               AS admitted_ids_checksum
      FROM a GROUP BY event_type ORDER BY event_type ASC"""),
    // approx_percentile twin: exact values + a bound gate the oracle
    // re-checks as literal TRUE (the q_quantiles_approx discipline —
    // the sketch value itself is never exported)
    Query("ev_lateness_approx", Events.latenessAuditApprox(_, _), s"""
      WITH $latenessLateCtes
      SELECT event_type, count(*)::BIGINT AS n_events,
             sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
             round(quantile_cont(late_us, 0.99), 4) AS wm_p99_us,
             true AS wm_p99_ok
      FROM l GROUP BY event_type ORDER BY event_type ASC"""),
    // oracle: DuckDB's native inequality (IE) join for the range predicate
    Query("ev_range_join", Events.rangeJoinBinned(_, _), """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      )
      SELECT a.user_id, count(*) AS n_pairs
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(a.us - b.us) <= 60000000
      GROUP BY a.user_id ORDER BY a.user_id ASC"""),
    Query("ev_range_join_native", Events.rangeJoinNative(_, _), """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      )
      SELECT a.user_id, count(*) AS n_pairs
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(a.us - b.us) <= 60000000
      GROUP BY a.user_id ORDER BY a.user_id ASC"""),
    // hashing-trick replay: per-token poly_hash % 64 bins, per-doc
    // sparse-vector summary; the checksum folds the (bin, cnt) pairs
    // bin-ordered — interleaved with a per-step mod, congruent to the
    // Spark side's per-struct fold (both reduce mod 1e9+7)
    Query("text_hash_features", TextAnalysis.hashFeatures(_, _), """
      WITH t AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), hh AS (
        SELECT doc_id,
               (list_reduce(list_prepend(0::BIGINT,
                  list_transform(generate_series(1, length(tok)),
                    i -> ascii(substr(tok, i, 1))::BIGINT)),
                  (a, x) -> (a * 31 + x) % 1000000007) % 64)::INT AS bin
        FROM t
      ), b AS (
        SELECT doc_id, bin, count(*)::BIGINT AS cnt
        FROM hh GROUP BY doc_id, bin
      )
      SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
             count(*)::BIGINT AS nnz,
             first(bin ORDER BY cnt DESC, bin ASC) AS top_bin,
             max(cnt)::BIGINT AS top_cnt,
             list_reduce(list_prepend(0::BIGINT,
               flatten(list([bin::BIGINT, cnt] ORDER BY bin ASC))),
               (a, x) -> (a * 31 + x) % 1000000007)::BIGINT
               AS feat_checksum
      FROM b GROUP BY doc_id ORDER BY doc_id ASC"""),
    // classifier apply over the hashing-trick bins: same poly_hash % 64
    // replay, weights regenerated from the shared integer formula
    // (TextAnalysis.classifierWeight), per-doc integer dot, keep = score
    // >= 0, per-lang survival + exact range + mod-prime score checksum
    // (HUGEINT-safe: the sum is reduced mod P before the BIGINT cast);
    // shared verbatim by the Complete-mode streaming twin (stream ≡
    // batch — same rollup cells, same finalizer)
    Query("text_classifier_score", TextAnalysis.classifierScore(_, _),
      classifierScoreOracle),
    Query("stream_classifier_score", StreamingQueries.classifierStream(_, _),
      classifierScoreOracle),
    Query("text_classifier_train", TextAnalysis.classifierTrain(_, _),
      classifierTrainOracle),
    // the trained-model streaming twin shares the batch training oracle
    // verbatim: batch-fit weights applied through the Complete-mode
    // rollup must reproduce the one-shot batch report cell for cell
    Query("stream_classifier_train",
      StreamingQueries.classifierTrainStream(_, _), classifierTrainOracle),
    Query("text_importance_sample", TextAnalysis.importanceSample(_, _),
      importanceSampleOracle),
    Query("text_pii_scrub", TextAnalysis.piiScrub(_, _), piiScrubOracle),
    Query("text_tfidf_topk", TextAnalysis.tfidfTopK(_, _), """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
      ), df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
      ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM toks
      ), scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               tf.tf * ln((n.n_docs + 1)::double / (df.df + 1)) AS tfidf_raw
        FROM tf JOIN df USING (tok) CROSS JOIN n
      ), ranked AS (
        SELECT doc_id, tok, tf, df, tfidf_raw,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf_raw DESC, tok ASC) AS rnk
        FROM scored
      )
      SELECT doc_id, tok, tf, df, round(tfidf_raw, 6) AS tfidf,
             rnk::INTEGER AS rnk
      FROM ranked WHERE rnk <= 3 ORDER BY doc_id ASC, rnk ASC"""),
    // first-order Markov transitions: same (ts, event_id) total order
    // per user; integer counts, one rounded division for the probability
    Query("ev_transition_matrix", Events.transitionMatrix(_, _), """
      WITH p AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC)
                 AS to_type
        FROM events
      ), c AS (
        SELECT from_type, to_type, count(*) AS cnt
        FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
      ), t AS (
        SELECT from_type, sum(cnt) AS total FROM c GROUP BY 1
      )
      SELECT c.from_type, c.to_type, c.cnt,
             round(c.cnt::DOUBLE / t.total, 4) AS prob
      FROM c JOIN t USING (from_type)
      ORDER BY from_type ASC, to_type ASC"""),
    // median + MAD replay: quantile_cont is the same linear interpolation
    // as Spark's percentile (q_quantiles precedent); med/mad are rounded
    // to 4 dp BEFORE thresholding on both sides so the outlier flag
    // compares identical doubles
    Query("ev_anomaly_mad", Events.anomalyMad(_, _), """
      WITH ev AS (
        SELECT event_type, value::DOUBLE AS v FROM events
      ), med AS (
        SELECT event_type, round(quantile_cont(v, 0.5), 4) AS med
        FROM ev GROUP BY 1
      ), d AS (
        SELECT ev.event_type, v, med, abs(v - med) AS adev
        FROM ev JOIN med USING (event_type)
      ), mad AS (
        SELECT event_type, round(quantile_cont(adev, 0.5), 4) AS mad
        FROM d GROUP BY 1
      )
      SELECT d.event_type, count(*) AS cnt, min(d.med) AS med,
             min(mad.mad) AS mad,
             sum(CASE WHEN adev > mad.mad * 4.4478 THEN 1 ELSE 0 END)
               ::BIGINT AS n_outliers,
             round(sum(CASE WHEN adev > mad.mad * 4.4478
                            THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
               AS outlier_rate
      FROM d JOIN mad USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type ASC"""),
    // portable-HLL replay: re-derives every register from the same
    // splitmix64 finalizer (graft.functions.Mix64) — Java's wrap-around
    // long arithmetic IS mod-2^64, replayed here with UHUGEINT products
    // (a 64×64-bit product needs all 128 unsigned bits; signed HUGEINT
    // overflows); bin()-length rho and an exact-binary-fraction harmonic
    // sum make even the double estimate hash-exact. Geometry constants
    // interpolated from Sketches — one source of truth.
    Query("q_hll_distinct", Sketches.hllDistinct(_, _), s"""
      WITH z0 AS (
        SELECT l_returnflag,
               ((l_orderkey::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM lineitem
      ), z1 AS (
        SELECT l_returnflag,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM z0
      ), z2 AS (
        SELECT l_returnflag,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM z1
      ), h AS (
        SELECT l_returnflag,
               xor(z, z >> 31) % ${Sketches.HllM} AS bucket,
               (xor(z, z >> 31) >> 10) % ${1L << Sketches.HllW} AS rest
        FROM z2
      ), r AS (
        SELECT l_returnflag, bucket,
               CASE WHEN rest = 0 THEN ${Sketches.HllW + 1}
                    ELSE ${Sketches.HllW + 1} - length(bin(rest))
               END AS rho
        FROM h
      ), reg AS (
        SELECT l_returnflag, bucket, max(rho) AS r FROM r GROUP BY 1, 2
      ), sk AS (
        SELECT l_returnflag, count(*) AS buckets_used,
               sum(power(2.0, -r)) + (${Sketches.HllM} - count(*)) AS s
        FROM reg GROUP BY 1
      ), ex AS (
        SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders
        FROM lineitem GROUP BY 1
      ), est AS (
        -- small-range branch: linear counting on the empty buckets
        SELECT l_returnflag, buckets_used,
               CASE WHEN ${Sketches.HllAlphaM2} / s < ${2.5 * Sketches.HllM}
                         AND buckets_used < ${Sketches.HllM}
                    THEN ${Sketches.HllM.toDouble}
                         * ln(${Sketches.HllM.toDouble}
                              / (${Sketches.HllM} - buckets_used))
                    ELSE ${Sketches.HllAlphaM2} / s
               END AS e
        FROM sk
      )
      SELECT ex.l_returnflag, ex.exact_orders, est.buckets_used,
             round(est.e, 4) AS hll_est,
             abs(est.e / ex.exact_orders - 1.0) < 0.25 AS hll_ok
      FROM ex JOIN est USING (l_returnflag)
      ORDER BY l_returnflag ASC"""),
    // quantized unigram surprisal: bitlen(N) − bitlen(cnt) per token via
    // bin() string length — pure integer replay, no libm log anywhere
    Query("text_surprisal", TextAnalysis.surprisal(_, _), """
      WITH t AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), v AS (
        SELECT tok, count(*) AS cnt FROM t GROUP BY tok
      ), n AS (
        SELECT sum(cnt)::BIGINT AS n_total FROM v
      ), j AS (
        SELECT t.doc_id,
               (length(bin(n.n_total)) - length(bin(v.cnt)))::BIGINT AS bits
        FROM t JOIN v USING (tok) CROSS JOIN n
      )
      SELECT doc_id, count(*) AS n_tokens, sum(bits)::BIGINT AS bits_total,
             round(sum(bits)::DOUBLE / count(*), 4) AS bits_per_token
      FROM j GROUP BY doc_id ORDER BY doc_id ASC"""),
    // SCD2 gaps-and-islands replay: same (ts, event_id) total order,
    // same running-sum island ids, valid_to stitched by lead()
    Query("ev_scd2", Events.scd2(_, _), """
      WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ), v AS (
        SELECT user_id, event_type, ts,
               sum(chg) OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC
                              ROWS UNBOUNDED PRECEDING) AS version_no
        FROM e
      ), g AS (
        SELECT user_id, version_no, min(event_type) AS event_type,
               min(ts) AS from_ts, count(*) AS n_events
        FROM v GROUP BY 1, 2
      )
      SELECT user_id, version_no::BIGINT AS version_no, event_type,
             cast(from_ts AS varchar) AS valid_from,
             cast(lead(from_ts) OVER w2 AS varchar) AS valid_to,
             n_events,
             (lead(from_ts) OVER w2 IS NULL) AS is_current
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY version_no ASC)
      ORDER BY user_id ASC, version_no ASC"""),
    // JL projection replay: the oracle SQL is GENERATED from the same
    // jlSign matrix the operator folds in, term-for-term in the same
    // left-associative order — the double sums are bit-identical
    Query("embed_random_project", Similarity.randomProject(_, _), {
      val cols = (0 until Similarity.JlOutDim).map { j =>
        val terms = (0 until Similarity.Dim).map { d =>
          s"embedding[${d + 1}]::DOUBLE * (${Similarity.jlSign(j, d)})"
        }.mkString(" + ")
        s"round($terms, 6) AS p$j"
      }.mkString(",\n             ")
      s"""
      SELECT vec_id,
             $cols
      FROM embeddings ORDER BY vec_id ASC"""
    }),
    // per-source cap replay: the same splitmix64 chain as
    // q_hll_distinct on doc_id, reinterpreted as SIGNED 64-bit for the
    // ORDER BY (Spark sorts the signed long; subtracting 2^64 above
    // the sign point is exactly that reinterpretation)
    Query("text_cap_per_source", TextAnalysis.capPerSource(_, _), s"""
      WITH z0 AS (
        SELECT source, doc_id,
               ((doc_id::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM documents
      ), z1 AS (
        SELECT source, doc_id,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM z0
      ), z2 AS (
        SELECT source, doc_id,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM z1
      ), s AS (
        SELECT source, doc_id,
               CASE WHEN xor(z, z >> 31) >= 9223372036854775808
                    THEN (xor(z, z >> 31)::HUGEINT
                          - 18446744073709551616)::BIGINT
                    ELSE xor(z, z >> 31)::BIGINT
               END AS zs
        FROM z2
      ), r AS (
        SELECT source, doc_id, row_number() OVER (
                 PARTITION BY source ORDER BY zs ASC, doc_id ASC) AS rn
        FROM s
      ), k AS (
        SELECT source, count(*) AS kept_docs,
               (sum(doc_id % ${TextAnalysis.ChecksumP})
                 % ${TextAnalysis.ChecksumP})::BIGINT AS kept_checksum
        FROM r WHERE rn <= ${TextAnalysis.SourceCap} GROUP BY source
      ), t AS (
        SELECT source, count(*) AS total_docs FROM documents GROUP BY source
      )
      SELECT t.source, t.total_docs, k.kept_docs, k.kept_checksum
      FROM t JOIN k USING (source) ORDER BY source ASC"""),
    // F2 / self-join-size replay: same skewed key domain and hash
    // constants as q_heavy_hitters_cms; everything integer, so the
    // sketch estimate itself is hash-gated
    Query("q_selfjoin_size_cms", Sketches.selfJoinSizeCms(_, _), """
      WITH fact AS (
        SELECT l_returnflag,
               CASE WHEN l_partkey % 7 = 0 THEN l_partkey % 5
               ELSE l_partkey END AS key
        FROM lineitem
      ), h(j, a, bb) AS (
        VALUES (0, 2654435761, 1), (1, 2246822519, 10008),
               (2, 3266489917, 20015), (3, 668265263, 30022)
      ), cms AS (
        SELECT l_returnflag, j,
               (((key % 1000000007 + 1000000007) % 1000000007 * a + bb)
                 % 1000000007) % 2048 AS bucket,
               count(*) AS cnt
        FROM fact, h GROUP BY 1, 2, 3
      ), est AS (
        SELECT l_returnflag, min(est_j) AS f2_est FROM (
          SELECT l_returnflag, j, sum(cnt * cnt) AS est_j
          FROM cms GROUP BY 1, 2
        ) GROUP BY 1
      ), ex AS (
        SELECT l_returnflag, sum(cnt * cnt) AS f2_exact,
               sum(cnt) AS n_rows FROM (
          SELECT l_returnflag, key, count(*) AS cnt FROM fact GROUP BY 1, 2
        ) GROUP BY 1
      )
      SELECT ex.l_returnflag, ex.n_rows::BIGINT AS n_rows,
             ex.f2_exact::BIGINT AS f2_exact, est.f2_est::BIGINT AS f2_est,
             (est.f2_est - ex.f2_exact)::BIGINT AS overcount,
             (est.f2_est >= ex.f2_exact) AS never_under,
             (est.f2_est <= ex.f2_exact
               + 2 * ex.n_rows * ex.n_rows / 2048) AS within_bound
      FROM ex JOIN est USING (l_returnflag)
      ORDER BY l_returnflag ASC"""),
    // hierarchical-rollup oracle: the DIRECT monthly aggregation from
    // the fact table — proving the daily-preagg path is exact
    Query("q_preagg_rollup", RefQueries.qPreaggRollup(_, _), """
      SELECT substr(cast(l_shipdate AS varchar), 1, 7) AS month,
             l_returnflag, count(*) AS cnt,
             round(sum(l_quantity), 4) AS qty
      FROM lineitem GROUP BY 1, 2
      ORDER BY month ASC, l_returnflag ASC"""),
    // TextRank replay: the same three fixed-point iterations unrolled —
    // all constants interpolated from TextAnalysis (one source of
    // truth), all arithmetic integer floor division on positive
    // operands (DuckDB `//` == Spark `div` there), so the ranking is
    // bit-exact with no float tolerance
    Query("text_textrank", TextAnalysis.textRank(_, _), {
      val sc = TextAnalysis.TrScale
      val dn = TextAnalysis.TrDampNum
      val dd = TextAnalysis.TrDampDen
      val base = sc - sc * dn / dd
      def iter(prev: String, cur: String) = s"""$cur AS (
        SELECT ed.dst AS tok,
               ($base + sum(($dn * ed.w * $prev.score)
                            // ($dd * ed.wdeg)))::BIGINT AS score
        FROM ed JOIN $prev ON ed.src = $prev.tok GROUP BY ed.dst
      )"""
      s"""
      WITH toks AS (
        SELECT doc_id, l[ord] AS tok, ord FROM (
          SELECT doc_id, l, unnest(generate_series(1, len(l))) AS ord
          FROM (SELECT doc_id, string_split(
                  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
                FROM documents))
      ), pr AS (
        SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS t1
        FROM toks
      ), e0 AS (
        SELECT tok AS src, t1 AS dst FROM pr
        WHERE t1 IS NOT NULL AND tok <> t1
      ), edges AS (
        SELECT src, dst, count(*) AS w0 FROM (
          SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0
        ) GROUP BY src, dst
      ), eq AS (
        SELECT src, dst,
               (w0 // greatest(1, m.maxw // ${TextAnalysis.TrWCap}))::BIGINT
                 AS w
        FROM edges, (SELECT max(w0) AS maxw FROM edges) m
      ), ew AS (
        SELECT src, dst, w FROM eq WHERE w > 0
      ), deg AS (
        SELECT src, sum(w)::BIGINT AS wdeg FROM ew GROUP BY src
      ), ed AS (
        SELECT ew.src, ew.dst, ew.w, deg.wdeg
        FROM ew JOIN deg USING (src)
      ), s0 AS (
        SELECT src AS tok, $sc::BIGINT AS score FROM deg
      ), ${iter("s0", "s1")}, ${iter("s1", "s2")}, ${iter("s2", "s3")}
      SELECT d.src AS tok, d.wdeg, s3.score
      FROM s3 JOIN deg d ON d.src = s3.tok
      ORDER BY s3.score DESC, tok ASC LIMIT 20"""
    }),
    // sliding-HLL replay: the q_hll_distinct register chain per day,
    // fanned winDays forward in sketch space, merged by per-bucket max
    Query("ev_hll_sliding", Sketches.hllSliding(_, _), s"""
      WITH ev AS (
        SELECT ts::DATE AS day, user_id FROM events
      ), days AS (
        SELECT DISTINCT day FROM ev
      ), z0 AS (
        SELECT day, ((user_id::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM ev
      ), z1 AS (
        SELECT day, ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM z0
      ), z2 AS (
        SELECT day, ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM z1
      ), h AS (
        SELECT day, xor(z, z >> 31) % ${Sketches.HllM} AS bucket,
               (xor(z, z >> 31) >> 10) % ${1L << Sketches.HllW} AS rest
        FROM z2
      ), reg AS (
        SELECT day, bucket,
               max(CASE WHEN rest = 0 THEN ${Sketches.HllW + 1}
                        ELSE ${Sketches.HllW + 1} - length(bin(rest))
                   END) AS r
        FROM h GROUP BY 1, 2
      ), fan AS (
        SELECT (reg.day + t.i::INTEGER) AS wday, bucket, r
        FROM reg CROSS JOIN generate_series(0, ${Sketches.HllWinDays - 1})
          t(i)
        WHERE (reg.day + t.i::INTEGER) IN (SELECT day FROM days)
      ), merged AS (
        SELECT wday, bucket, max(r) AS r FROM fan GROUP BY 1, 2
      ), sk AS (
        SELECT wday, count(*) AS buckets_used,
               sum(power(2.0, -r)) + (${Sketches.HllM} - count(*)) AS s
        FROM merged GROUP BY 1
      ), exfan AS (
        SELECT (p.day + t.i::INTEGER) AS wday, user_id
        FROM (SELECT DISTINCT day, user_id FROM ev) p
        CROSS JOIN generate_series(0, ${Sketches.HllWinDays - 1}) t(i)
        WHERE (p.day + t.i::INTEGER) IN (SELECT day FROM days)
      ), ex AS (
        SELECT wday, count(DISTINCT user_id) AS exact_users
        FROM exfan GROUP BY 1
      ), est AS (
        SELECT wday, buckets_used,
               CASE WHEN ${Sketches.HllAlphaM2} / s < ${2.5 * Sketches.HllM}
                         AND buckets_used < ${Sketches.HllM}
                    THEN ${Sketches.HllM.toDouble}
                         * ln(${Sketches.HllM.toDouble}
                              / (${Sketches.HllM} - buckets_used))
                    ELSE ${Sketches.HllAlphaM2} / s
               END AS e
        FROM sk
      )
      SELECT ex.wday::VARCHAR AS day, ex.exact_users, est.buckets_used,
             round(est.e, 4) AS hll_est,
             abs(est.e / ex.exact_users - 1.0) < 0.25 AS hll_ok
      FROM ex JOIN est USING (wday)
      ORDER BY day ASC"""),
    // quantized-PMI collocations: log2 via bit length on both engines —
    // no products, no libm; marginals derive from the pair table
    Query("text_pmi_bigrams", TextAnalysis.pmiBigrams(_, _), s"""
      WITH toks AS (
        SELECT doc_id, l[ord] AS tok, ord FROM (
          SELECT doc_id, l, unnest(generate_series(1, len(l))) AS ord
          FROM (SELECT doc_id, string_split(
                  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
                FROM documents))
      ), pr AS (
        SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS t1
        FROM toks
      ), cab AS (
        SELECT tok AS a, t1 AS b, count(*) AS cab FROM pr
        WHERE t1 IS NOT NULL GROUP BY 1, 2
      ), ca AS (SELECT a, sum(cab)::BIGINT AS ca FROM cab GROUP BY a),
      cb AS (SELECT b, sum(cab)::BIGINT AS cb FROM cab GROUP BY b),
      n AS (SELECT sum(cab)::BIGINT AS n_pairs FROM cab)
      SELECT a || ' ' || b AS bigram, cab::BIGINT AS cnt, ca, cb,
             ((length(bin(n_pairs)) + length(bin(cab)))
              - (length(bin(ca)) + length(bin(cb))))::BIGINT AS pmi_bits
      FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
      WHERE cab >= ${TextAnalysis.PmiMinCount}
      ORDER BY pmi_bits DESC, cnt DESC, bigram ASC LIMIT 20"""),
    // winnowing replay: identical trigram poly-hash stream, identical
    // (hash·2^31 + pos) packed tie-break, full windows only
    Query("text_winnowing", Dedup.winnowing(_, _), s"""
      WITH d AS (
        SELECT doc_id, string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      ), occ AS (
        SELECT doc_id, i - 1 AS pos,
          list_reduce(list_prepend(0::BIGINT,
            list_transform(generate_series(1, length(s)),
              j -> ascii(substr(s, j, 1))::BIGINT)),
            (a, x) -> (a * 31 + x) % 1000000007) AS shash
        FROM (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS s
              FROM d, unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                t(i))
      ), win AS (
        SELECT doc_id,
               min(shash * 2147483648 + pos) OVER w AS mhp,
               count(*) OVER w AS nw
        FROM occ
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos ASC
                     ROWS BETWEEN CURRENT ROW AND
                     ${Dedup.WinnowW - 1} FOLLOWING)
      ), fp AS (
        SELECT DISTINCT doc_id, mhp FROM win WHERE nw = ${Dedup.WinnowW}
      ), agg AS (
        SELECT doc_id, count(*) AS n_fingerprints,
               (sum((mhp // 2147483648) % 1000000007)
                 % 1000000007)::BIGINT AS fp_checksum
        FROM fp GROUP BY doc_id
      ), base AS (
        SELECT doc_id, greatest(len(toks) - 2, 0)::BIGINT AS n_shingles
        FROM d
      )
      SELECT b.doc_id, b.n_shingles,
             coalesce(a.n_fingerprints, 0)::BIGINT AS n_fingerprints,
             round(coalesce(a.n_fingerprints, 0)::DOUBLE
                   / greatest(b.n_shingles, 1), 4) AS fp_density,
             coalesce(a.fp_checksum, 0)::BIGINT AS fp_checksum
      FROM base b LEFT JOIN agg a USING (doc_id)
      ORDER BY b.doc_id ASC"""),
    // last-touch attribution replay: same (ts, event_id) total order,
    // IGNORE NULLS carry-forward, horizon from the shared constant
    Query("ev_attribution", Events.attribution(_, _), s"""
      WITH e AS (
        SELECT user_id, ts, event_id, event_type, value FROM events
        WHERE event_type IN ('click', 'purchase')
      ), lc AS (
        SELECT ts, event_type, value,
               last_value(CASE WHEN event_type = 'click'
                               THEN epoch_us(ts) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click
        FROM e
      ), conv AS (
        SELECT ts, value,
               (last_click IS NOT NULL AND
                epoch_us(ts) - last_click
                  <= ${Events.AttribHorizonMin * 60000000L}) AS attributed
        FROM lc WHERE event_type = 'purchase'
      )
      SELECT ts::DATE::VARCHAR AS day, count(*) AS n_conversions,
             sum(CASE WHEN attributed THEN 1 ELSE 0 END)::BIGINT
               AS n_attributed,
             round(sum(CASE WHEN attributed
                            THEN CAST(value AS DECIMAL(20,6))
                            ELSE 0 END), 4)::DOUBLE AS attributed_value
      FROM conv GROUP BY 1 ORDER BY day ASC"""),
    // streaming-HLL replay: registers from the WHOLE fixture at once —
    // register max is merge-invariant, so the incrementally-maintained
    // streaming state must land on identical bits
    Query("stream_hll_distinct", StreamingQueries.hllDistinct(_, _), s"""
      WITH ev AS (
        SELECT ts::DATE AS day, user_id FROM events
      ), z0 AS (
        SELECT day, ((user_id::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM ev
      ), z1 AS (
        SELECT day, ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM z0
      ), z2 AS (
        SELECT day, ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM z1
      ), h AS (
        SELECT day, xor(z, z >> 31) % ${Sketches.HllM} AS bucket,
               (xor(z, z >> 31) >> 10) % ${1L << Sketches.HllW} AS rest
        FROM z2
      ), reg AS (
        SELECT day, bucket,
               max(CASE WHEN rest = 0 THEN ${Sketches.HllW + 1}
                        ELSE ${Sketches.HllW + 1} - length(bin(rest))
                   END) AS r
        FROM h GROUP BY 1, 2
      ), sk AS (
        SELECT day, count(*) AS buckets_used,
               sum(power(2.0, -r)) + (${Sketches.HllM} - count(*)) AS s
        FROM reg GROUP BY 1
      ), ex AS (
        SELECT day, count(DISTINCT user_id) AS exact_users
        FROM ev GROUP BY 1
      ), est AS (
        SELECT day, buckets_used,
               CASE WHEN ${Sketches.HllAlphaM2} / s < ${2.5 * Sketches.HllM}
                         AND buckets_used < ${Sketches.HllM}
                    THEN ${Sketches.HllM.toDouble}
                         * ln(${Sketches.HllM.toDouble}
                              / (${Sketches.HllM} - buckets_used))
                    ELSE ${Sketches.HllAlphaM2} / s
               END AS e
        FROM sk
      )
      SELECT ex.day::VARCHAR AS day, ex.exact_users, est.buckets_used,
             round(est.e, 4) AS hll_est,
             abs(est.e / ex.exact_users - 1.0) < 0.25 AS hll_ok
      FROM ex JOIN est USING (day)
      ORDER BY day ASC"""),
    // equi-width histogram + CDF: integer counts, single rounded
    // divisions; the oracle's running sum is a window (DuckDB replay
    // only — the Spark side uses a triangular broadcast join)
    Query("q_histogram", RefQueries.qHistogram(_, _), qHistogramOracle),
    // streaming histogram maintenance finalizes through the shared batch
    // CDF code — stream ≡ batch, so the oracle is the batch SQL verbatim
    Query("stream_histogram", StreamingQueries.histogramStream(_, _),
      qHistogramOracle),
    // frequency-of-frequencies: bitlen(cnt) bands over the vocabulary,
    // exact integer masses, single rounded divisions
    Query("text_freq_spectrum", TextAnalysis.freqSpectrum(_, _), """
      WITH t AS (
        SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), v AS (
        SELECT tok, count(*) AS cnt FROM t GROUP BY tok
      ), tot AS (
        SELECT sum(cnt)::DECIMAL(38,0) AS n_total, count(*) AS n_vocab
        FROM v
      )
      SELECT length(bin(cnt))::BIGINT AS band, count(*) AS n_types,
             min(cnt)::BIGINT AS min_cnt, max(cnt)::BIGINT AS max_cnt,
             sum(cnt)::BIGINT AS n_occurrences,
             round(count(*)::DOUBLE / any_value(tot.n_vocab), 6)
               AS type_fraction,
             round(sum(cnt)::DOUBLE / any_value(tot.n_total)::DOUBLE, 6)
               AS mass_fraction
      FROM v CROSS JOIN tot GROUP BY 1 ORDER BY band ASC"""),
    // Heaps curve: first-occurrence attribution + the naive global
    // cumsum (oracle scale affords it; the Spark side is the
    // range-decomposed prefix sum — the oracle independently validates
    // the decomposition)
    Query("text_vocab_growth", TextAnalysis.vocabGrowth(_, _), """
      WITH t AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), f AS (
        SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok
      ), np AS (
        SELECT first_doc AS doc_id, count(*) AS n_new FROM f GROUP BY 1
      ), d AS (
        SELECT documents.doc_id, coalesce(np.n_new, 0)::BIGINT AS n_new
        FROM documents LEFT JOIN np USING (doc_id)
      )
      SELECT doc_id, n_new,
             sum(n_new) OVER (ORDER BY doc_id ASC
                              ROWS UNBOUNDED PRECEDING)::BIGINT
               AS vocab_size
      FROM d ORDER BY doc_id ASC"""),
    // bigram-LM surprisal: same per-doc lead() bigram formation, same
    // bitlen quantization; c1 derives from the bigram-count table on
    // both sides so the two LMs are identical by construction
    Query("text_bigram_surprisal", TextAnalysis.bigramSurprisal(_, _), """
      WITH s AS (
        SELECT doc_id, string_split(
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents
      ), t AS (
        -- zipped unnests: tok and its 0-based position travel together
        SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos
        FROM s
      ), b AS (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS w2
        FROM t
      ), bg AS (
        SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL
      ), c2 AS (
        SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
      ), c1 AS (
        SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY w1
      ), j AS (
        SELECT bg.doc_id,
               (length(bin(c1.c1)) - length(bin(c2.c2)))::BIGINT AS bits
        FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      )
      SELECT doc_id, count(*) AS n_bigrams, sum(bits)::BIGINT AS bits_total,
             round(sum(bits)::DOUBLE / count(*), 4) AS bits_per_bigram
      FROM j GROUP BY doc_id ORDER BY doc_id ASC"""),
    // OHLC bars: open/close replayed as rn=1 picks over the same
    // (ts, event_id) total order the Spark argmin/argmax aggregates use;
    // volume is the decimal sum rounded once
    Query("ev_ohlc", Events.ohlcBars(_, _), """
      WITH e AS (
        SELECT event_type, ts::DATE::VARCHAR AS day, ts, event_id, value,
               row_number() OVER (PARTITION BY event_type, ts::DATE
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               row_number() OVER (PARTITION BY event_type, ts::DATE
                                  ORDER BY ts DESC, event_id DESC) AS rn_z
        FROM events
      )
      SELECT event_type, day, count(*) AS n_events,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             max(value) AS high, min(value) AS low,
             max(CASE WHEN rn_z = 1 THEN value END) AS close,
             round(sum(value::DECIMAL(20,6)), 4)::DOUBLE AS volume
      FROM e GROUP BY event_type, day
      ORDER BY event_type ASC, day ASC"""),
    // dwell: same per-user lead() gap, same 30-min cap, decimal gap sum
    Query("ev_dwell_time", Events.dwellTime(_, _), """
      WITH g AS (
        SELECT event_type,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC)
                 - epoch_us(ts) AS gap_us
        FROM events
      )
      SELECT event_type, count(*) AS n_gaps,
             sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT
               AS n_capped,
             round(sum(least(gap_us, 1800000000)::DECIMAL(38,0))::DOUBLE
                   / 1000000.0, 4) AS dwell_total_s,
             round((sum(least(gap_us, 1800000000)::DECIMAL(38,0))::DOUBLE
                   / 1000000.0) / count(*), 4) AS dwell_avg_s
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY event_type ORDER BY event_type ASC"""),
    // gap fill: per-user generate_series spine + IGNORE NULLS
    // forward-fill window — the same fill semantics as Spark's
    // last(_, ignoreNulls) over the per-user day order
    Query("ev_gap_fill", Events.gapFill(_, _), """
      WITH d AS (
        SELECT user_id, ts::DATE AS day, count(*) AS n_events,
               round(sum(value::DECIMAL(20,6)), 4)::DOUBLE AS day_value
        FROM events GROUP BY user_id, ts::DATE
      ), sp AS (
        SELECT user_id,
               unnest(generate_series(min(day), max(day),
                                      INTERVAL 1 DAY))::DATE AS day
        FROM d GROUP BY user_id
      ), j AS (
        SELECT sp.user_id, sp.day, d.n_events, d.day_value
        FROM sp LEFT JOIN d USING (user_id, day)
      )
      SELECT user_id, day::VARCHAR AS day,
             coalesce(n_events, 0)::BIGINT AS n_events,
             n_events IS NULL AS is_gap,
             last_value(day_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day ASC
                     ROWS UNBOUNDED PRECEDING) AS filled_value
      FROM j ORDER BY user_id ASC, day ASC"""),
    // audience overlap via merged HLL registers: same splitmix64 replay
    // as q_hll_distinct (two's-complement wrap == unsigned mod 2^64),
    // union registers are per-bucket maxima, inclusion–exclusion on
    // three identically-computed estimates
    Query("q_hll_intersect", Sketches.hllIntersect(_, _), s"""
      WITH z0 AS (
        SELECT event_type,
               ((user_id::UHUGEINT + 11400714819323198485)
                 % 18446744073709551616)::UBIGINT AS z
        FROM events
      ), z1 AS (
        SELECT event_type,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                 % 18446744073709551616)::UBIGINT AS z FROM z0
      ), z2 AS (
        SELECT event_type,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                 % 18446744073709551616)::UBIGINT AS z FROM z1
      ), h AS (
        SELECT event_type,
               xor(z, z >> 31) % ${Sketches.HllM} AS bucket,
               (xor(z, z >> 31) >> 10) % ${1L << Sketches.HllW} AS rest
        FROM z2
      ), reg AS (
        SELECT event_type, bucket,
               max(CASE WHEN rest = 0 THEN ${Sketches.HllW + 1}
                        ELSE ${Sketches.HllW + 1} - length(bin(rest))
                   END) AS r
        FROM h GROUP BY 1, 2
      ), est1 AS (
        SELECT event_type,
               CASE WHEN ${Sketches.HllAlphaM2}
                         / (sum(power(2.0, -r))
                            + (${Sketches.HllM} - count(*)))
                         < ${2.5 * Sketches.HllM}
                         AND count(*) < ${Sketches.HllM}
                    THEN ${Sketches.HllM.toDouble}
                         * ln(${Sketches.HllM.toDouble}
                              / (${Sketches.HllM} - count(*)))
                    ELSE ${Sketches.HllAlphaM2}
                         / (sum(power(2.0, -r))
                            + (${Sketches.HllM} - count(*)))
               END AS est
        FROM reg GROUP BY 1
      ), pairs AS (
        SELECT a.event_type AS t1, b.event_type AS t2
        FROM est1 a, est1 b WHERE a.event_type < b.event_type
      ), ureg AS (
        SELECT p.t1, p.t2, reg.bucket, max(reg.r) AS r
        FROM reg JOIN pairs p
          ON reg.event_type = p.t1 OR reg.event_type = p.t2
        GROUP BY 1, 2, 3
      ), uest AS (
        SELECT t1, t2,
               CASE WHEN ${Sketches.HllAlphaM2}
                         / (sum(power(2.0, -r))
                            + (${Sketches.HllM} - count(*)))
                         < ${2.5 * Sketches.HllM}
                         AND count(*) < ${Sketches.HllM}
                    THEN ${Sketches.HllM.toDouble}
                         * ln(${Sketches.HllM.toDouble}
                              / (${Sketches.HllM} - count(*)))
                    ELSE ${Sketches.HllAlphaM2}
                         / (sum(power(2.0, -r))
                            + (${Sketches.HllM} - count(*)))
               END AS est_union
        FROM ureg GROUP BY 1, 2
      ), ut AS (
        SELECT DISTINCT event_type, user_id FROM events
      ), exact AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               count(*) AS exact_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
      )
      SELECT exact.t1, exact.t2, exact.exact_both,
             round(greatest(e1.est + e2.est - uest.est_union, 0.0), 4)
               AS hll_est,
             abs(greatest(e1.est + e2.est - uest.est_union, 0.0)
                 / exact.exact_both - 1.0) < 0.5 AS hll_ok
      FROM exact
      JOIN est1 e1 ON e1.event_type = exact.t1
      JOIN est1 e2 ON e2.event_type = exact.t2
      JOIN uest ON uest.t1 = exact.t1 AND uest.t2 = exact.t2
      ORDER BY exact.t1 ASC, exact.t2 ASC"""),
    // power-iteration PCA: the same exact fixed-point pipeline in
    // HUGEINT (128-bit == Spark's DECIMAL(38,0) headroom): quantized
    // components, Gramian cell sums, and per-iteration max-renormalized
    // matrix–vector products with truncating integer division on the
    // magnitude (abs-then-sign == Spark's remainder-stripped floor)
    Query("embed_pca_power", Similarity.pcaPower(_, _), s"""
      $pcaCtes
      SELECT g.i::BIGINT AS dim, (g.g % ${TextAnalysis.ChecksumP})::BIGINT
               AS gii_mod,
             v3.v::BIGINT AS eigvec_q
      FROM g JOIN v3 ON v3.vi = g.i WHERE g.i = g.j
      ORDER BY dim ASC"""),
    // PCA rotation apply: the same chain through v3, then a per-vector
    // exact integer dot of quantized components with the eigenvector
    Query("embed_project_pc", Similarity.projectPc(_, _), s"""
      $pcaCtes, ev AS (
        SELECT list(v ORDER BY vi ASC) AS evl FROM v3
      )
      SELECT e2.vec_id, e2.label,
             list_sum(list_transform(generate_series(1, 64),
               j -> floor(e2.embedding[j]::DOUBLE
                          * ${Similarity.PcaScale})::HUGEINT
                    * ev.evl[j]))::BIGINT AS proj_q
      FROM embeddings e2, ev
      ORDER BY e2.vec_id ASC"""),
    // FK audit: per-edge orphan row counts via NOT-EXISTS left joins
    Query("q_fk_integrity", RefQueries.qFkIntegrity(_, _), """
      WITH e AS (
        SELECT 'customer.c_nationkey->nation' AS edge,
               (SELECT count(*) FROM customer) AS n_child,
               (SELECT count(*) FROM customer c LEFT JOIN nation n
                  ON c.c_nationkey = n.n_nationkey
                WHERE n.n_nationkey IS NULL) AS n_orphans
        UNION ALL SELECT 'events.user_id->customer',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events e LEFT JOIN customer c
                  ON e.user_id = c.c_custkey
                WHERE c.c_custkey IS NULL)
        UNION ALL SELECT 'lineitem.l_orderkey->orders',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l LEFT JOIN orders o
                  ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderkey IS NULL)
        UNION ALL SELECT 'lineitem.l_partkey->part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l LEFT JOIN part p
                  ON l.l_partkey = p.p_partkey
                WHERE p.p_partkey IS NULL)
        UNION ALL SELECT 'lineitem.l_suppkey->supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
                  ON l.l_suppkey = s.s_suppkey
                WHERE s.s_suppkey IS NULL)
        UNION ALL SELECT 'nation.n_regionkey->region',
               (SELECT count(*) FROM nation),
               (SELECT count(*) FROM nation n LEFT JOIN region r
                  ON n.n_regionkey = r.r_regionkey
                WHERE r.r_regionkey IS NULL)
        UNION ALL SELECT 'orders.o_custkey->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o LEFT JOIN customer c
                  ON o.o_custkey = c.c_custkey
                WHERE c.c_custkey IS NULL)
        UNION ALL SELECT 'supplier.s_nationkey->nation',
               (SELECT count(*) FROM supplier),
               (SELECT count(*) FROM supplier s LEFT JOIN nation n
                  ON s.s_nationkey = n.n_nationkey
                WHERE n.n_nationkey IS NULL)
      )
      SELECT edge, n_child::BIGINT AS n_child, n_orphans::BIGINT AS n_orphans,
             round(n_orphans::DOUBLE / greatest(n_child, 1), 6)
               AS orphan_rate
      FROM e ORDER BY edge ASC"""),
    // set ops: the same INTERSECT/EXCEPT/UNION over behavior triples
    // block-sampling replay: corpus-sized key-range blocks, the
    // splitmix64 selection gate via the UHUGEINT wrap-around chain
    // (seedRankCtes recipe, signed pmod), the SRS expansion and the
    // 4-SE integer inequality in HUGEINT (factor 16 = 4²) — term-for-
    // term the Spark DECIMAL(38,0) arithmetic, incl. the m < 2 NULL
    // guard (zero sampled blocks would divide by zero; one makes the
    // variance side vacuous)
    Query("q_sample_blocks", Sketches.sampleBlocks(_, _), """
      WITH mx AS (SELECT max(l_orderkey) AS mk FROM lineitem),
      w AS (SELECT greatest(1, (mk + 256) // 256) AS bw FROM mx),
      r AS (
        SELECT (l_orderkey // bw) AS blk,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem, w
      ),
      b AS (SELECT blk, sum(cents)::BIGINT AS bs FROM r GROUP BY blk),
      z0 AS (SELECT blk, bs, ((blk::UHUGEINT + 11400714819323198485)
               % 18446744073709551616)::UBIGINT AS z FROM b),
      z1 AS (SELECT blk, bs,
               ((xor(z, z >> 30)::UHUGEINT * 13787848793156543929)
                % 18446744073709551616)::UBIGINT AS z FROM z0),
      z2 AS (SELECT blk, bs,
               ((xor(z, z >> 27)::UHUGEINT * 10723151780598845931)
                % 18446744073709551616)::UBIGINT AS z FROM z1),
      s AS (
        SELECT blk, bs,
          ((CASE WHEN xor(z, z >> 31) >= 9223372036854775808
             THEN (xor(z, z >> 31)::HUGEINT - 18446744073709551616)::BIGINT
             ELSE xor(z, z >> 31)::BIGINT END % 8) + 8) % 8 = 0 AS sampled
        FROM z2
      ),
      agg AS (
        SELECT count(*)::BIGINT AS n_blocks,
               sum(CASE WHEN sampled THEN 1 ELSE 0 END)::BIGINT AS m,
               sum(bs)::BIGINT AS t,
               sum(CASE WHEN sampled THEN bs ELSE 0 END)::BIGINT AS sx,
               sum(CASE WHEN sampled THEN bs::HUGEINT * bs
                   ELSE 0::HUGEINT END) AS sxx
        FROM s
      )
      SELECT n_blocks, m,
        t AS exact_revenue_cents,
        CASE WHEN m >= 2
          THEN ((sx::HUGEINT * n_blocks) // m)::BIGINT END
          AS est_revenue_cents,
        CASE WHEN m >= 2
          THEN ((sx::HUGEINT * n_blocks - t::HUGEINT * m)
            * (sx::HUGEINT * n_blocks - t::HUGEINT * m)
            * (m - 1)
            <= 16::HUGEINT * n_blocks * (n_blocks - m)
               * (m::HUGEINT * sxx - sx::HUGEINT * sx)) END AS est_ok
      FROM agg"""),
    // secondary-sort replay: the typed one-pass running state re-derived
    // declaratively — running max via an unbounded-preceding window on
    // the same (us, event_id) order, advance = first row or vq above the
    // prior max, ordered checksum via the list_reduce fold (per-step
    // mod, congruent to the Spark loop), last id as the ordered argmax
    Query("ev_secondary_sort", Events.secondarySortTyped(_, _), """
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vq
        FROM events
      ), o AS (
        SELECT user_id, event_id, us, vq,
               max(vq) OVER (PARTITION BY user_id
                             ORDER BY us ASC, event_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_max
        FROM e
      ), a AS (
        SELECT user_id, event_id, us, vq,
               (prev_max IS NULL OR vq > prev_max) AS adv
        FROM o
      )
      SELECT user_id, count(*)::BIGINT AS n_events,
             round(sum(vq)::DOUBLE / 1000000, 4) AS value_sum,
             sum(CASE WHEN adv THEN 1 ELSE 0 END)::BIGINT
               AS n_max_advances,
             list_reduce(list_prepend(0::BIGINT,
               list(event_id % 1000000007 ORDER BY us ASC, event_id ASC)
                 FILTER (WHERE adv)),
               (acc, x) -> (acc * 31 + x) % 1000000007)::BIGINT
               AS advance_cks,
             first(event_id ORDER BY us DESC, event_id DESC)
               AS last_event_id
      FROM a GROUP BY user_id ORDER BY user_id ASC"""),
    // CBO reorder: the ANSWER is plan-invariant by definition — the
    // oracle replays the 3-table star rollup; the join-order flip itself
    // is PlanSpec's job (optimizer surfaces can't hash)
    Query("q_cbo_reorder", RefQueries.qCboReorder(_, _), """
      SELECT o.o_orderpriority AS priority,
             count(*)::BIGINT AS n_items,
             round(sum(l.l_extendedprice::DECIMAL(20,6)), 4)::DOUBLE
               AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
      GROUP BY o.o_orderpriority
      ORDER BY priority ASC"""),
    Query("q_set_ops", RefQueries.qSetOps(_, _), s"""
      WITH w1 AS (
        SELECT DISTINCT user_id, event_type,
               floor(value / 10.0)::BIGINT AS value_decile
        FROM events WHERE ts < '${RefQueries.SetOpsCutoff}'::TIMESTAMP
      ), w2 AS (
        SELECT DISTINCT user_id, event_type,
               floor(value / 10.0)::BIGINT AS value_decile
        FROM events WHERE ts >= '${RefQueries.SetOpsCutoff}'::TIMESTAMP
      ), c AS (
        SELECT (SELECT count(*) FROM w1) AS n_w1,
               (SELECT count(*) FROM w2) AS n_w2,
               (SELECT count(*) FROM
                 (SELECT * FROM w1 INTERSECT SELECT * FROM w2)) AS n_both,
               (SELECT count(*) FROM
                 (SELECT * FROM w1 EXCEPT SELECT * FROM w2)) AS n_only_w1,
               (SELECT count(*) FROM
                 (SELECT * FROM w2 EXCEPT SELECT * FROM w1)) AS n_only_w2,
               (SELECT count(*) FROM
                 (SELECT * FROM w1 UNION SELECT * FROM w2)) AS n_union
      )
      SELECT n_w1::BIGINT AS n_w1, n_w2::BIGINT AS n_w2,
             n_both::BIGINT AS n_both, n_only_w1::BIGINT AS n_only_w1,
             n_only_w2::BIGINT AS n_only_w2, n_union::BIGINT AS n_union,
             round(n_both::DOUBLE / n_union, 6) AS jaccard
      FROM c"""),
    // melt replay: users × the 5 fixed type columns, zeros explicit
    Query("ev_unpivot", Events.unpivotCounts(_, _), """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      t AS (SELECT unnest(['click', 'error', 'purchase', 'signup',
                           'view']) AS event_type),
      c AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
      )
      SELECT u.user_id, t.event_type,
             coalesce(c.cnt, 0)::BIGINT AS cnt
      FROM u CROSS JOIN t
      LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
      ORDER BY u.user_id ASC, t.event_type ASC"""),
    // 3-step paths: two leads over the same per-user total order,
    // deterministic (cnt DESC, path ASC) top-k
    Query("ev_paths", Events.pathMining(_, _), s"""
      WITH p AS (
        SELECT event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      )
      SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS cnt
      FROM p WHERE t2 IS NOT NULL
      GROUP BY 1 ORDER BY cnt DESC, path ASC
      LIMIT ${Events.PathTopK}"""),
    // streaming bars: the state store must converge to the batch bars —
    // same oracle shape as ev_ohlc
    Query("stream_ohlc", StreamingQueries.ohlcBars(_, _), """
      WITH e AS (
        SELECT event_type, ts::DATE::VARCHAR AS day, ts, event_id, value,
               row_number() OVER (PARTITION BY event_type, ts::DATE
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               row_number() OVER (PARTITION BY event_type, ts::DATE
                                  ORDER BY ts DESC, event_id DESC) AS rn_z
        FROM events
      )
      SELECT event_type, day, count(*) AS n_events,
             max(CASE WHEN rn_a = 1 THEN value END) AS open,
             max(value) AS high, min(value) AS low,
             max(CASE WHEN rn_z = 1 THEN value END) AS close,
             round(sum(value::DECIMAL(20,6)), 4)::DOUBLE AS volume
      FROM e GROUP BY event_type, day
      ORDER BY event_type ASC, day ASC"""),
    // RANGE-frame rolling window: trailing 7 CALENDAR days on the
    // numeric day axis — silent days don't consume frame slots
    Query("ev_rolling_window", Events.rollingWindow(_, _), """
      WITH d AS (
        SELECT user_id, ts::DATE AS day, count(*) AS n_events,
               sum(value::DECIMAL(20,6)) AS day_value,
               (ts::DATE - DATE '1970-01-01') AS day_num
        FROM events GROUP BY user_id, ts::DATE
      )
      SELECT user_id, day::VARCHAR AS day, n_events,
             sum(n_events) OVER w::BIGINT AS rolling_events,
             round(sum(day_value) OVER w, 4)::DOUBLE AS rolling_value
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY day_num ASC
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY user_id ASC, day ASC"""),
    // subquery surface: the ORACLE IS THE SAME SQL STRING the Spark
    // side executes — pure ANSI, zero dialect drift possible
    Query("q_subqueries", RefQueries.qSubqueries(_, _),
      RefQueries.SubqueriesSql),
    // triangle census: the oracle counts NAIVELY (id-ordered triple
    // self-join over the replayed simhash pair graph) — independently
    // validating the Spark side's degree-oriented wedge algorithm
    Query("dedup_triangles", Dedup.triangleCount(_, _), s"""
      WITH pairs AS ($dedupSimhashOracle),
      e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
      deg AS (
        SELECT v, count(*) AS deg FROM (
          SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
        ) GROUP BY v
      ), tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      )
      SELECT (SELECT count(*) FROM deg) AS n_nodes,
             (SELECT count(*) FROM e) AS n_edges,
             (SELECT sum(deg * (deg - 1) // 2) FROM deg)::BIGINT
               AS n_wedges,
             tri.n_triangles,
             round(3.0 * tri.n_triangles
                   / greatest((SELECT sum(deg * (deg - 1) // 2) FROM deg),
                              1), 6) AS transitivity
      FROM tri"""),
    // snapshot diff: same cutoff, same full-outer classification, same
    // mod-prime membership checksums
    Query("ev_snapshot_diff", Events.snapshotDiff(_, _), s"""
      WITH a AS (
        SELECT user_id, count(*) AS n_a,
               sum(value::DECIMAL(20,6)) AS v_a
        FROM events WHERE ts < '${Events.DiffCutoff}'::TIMESTAMP
        GROUP BY user_id
      ), b AS (
        SELECT user_id, count(*) AS n_b,
               sum(value::DECIMAL(20,6)) AS v_b
        FROM events WHERE ts >= '${Events.DiffCutoff}'::TIMESTAMP
        GROUP BY user_id
      ), j AS (
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               CASE WHEN a.user_id IS NULL THEN 'added'
                    WHEN b.user_id IS NULL THEN 'removed'
                    WHEN a.n_a = b.n_b AND a.v_a = b.v_b THEN 'same'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
      )
      SELECT status, count(*) AS n_keys,
             (sum(user_id % ${graft.operators.TextAnalysis.ChecksumP})
               % ${graft.operators.TextAnalysis.ChecksumP})::BIGINT
               AS key_checksum,
             min(user_id) AS min_key, max(user_id) AS max_key
      FROM j GROUP BY status ORDER BY status ASC"""),
    // BPE training replay: same marker-wrapped symbol strings (chr(31)
    // == TextAnalysis.BpeMark), same (count DESC, pair ASC) winner,
    // same single-pass greedy replace — adjacent matches share no
    // characters in the wrapped representation, so one left-to-right
    // non-overlapping replace IS the greedy fold on both engines
    Query("text_bpe_merges", TextAnalysis.bpeMerges(_, _), {
      def stage(w: String, m: String, wNext: String) = s"""$m AS (
        SELECT p1, p2, p1 || p2 AS merged, sum(cnt)::BIGINT AS pair_count
        FROM (
          SELECT cnt, replace(z[1], chr(31), '') AS p1,
                 replace(z[2], chr(31), '') AS p2 FROM (
            SELECT cnt, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
            FROM (SELECT cnt, string_split(syms, ' ') AS a FROM $w)
          )
        ) GROUP BY p1, p2
        ORDER BY pair_count DESC, p1 ASC, p2 ASC LIMIT 1
      ), $wNext AS (
        SELECT cnt,
               replace(syms,
                 chr(31) || m.p1 || chr(31) || ' ' || chr(31) || m.p2
                   || chr(31),
                 chr(31) || m.merged || chr(31)) AS syms
        FROM $w, $m m
      )"""
      s"""
      WITH t AS (
        SELECT unnest(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), w0 AS (
        SELECT count(*) AS cnt,
               rtrim(regexp_replace(tok, '(.)',
                 chr(31) || '\\1' || chr(31) || ' ', 'g')) AS syms
        FROM t GROUP BY tok
      ), ${stage("w0", "m1", "w1")}, ${stage("w1", "m2", "w2")},
      ${stage("w2", "m3", "w3")}
      SELECT 1::BIGINT AS step, p1, p2, merged, pair_count FROM m1
      UNION ALL SELECT 2, p1, p2, merged, pair_count FROM m2
      UNION ALL SELECT 3, p1, p2, merged, pair_count FROM m3
      ORDER BY step ASC"""
    }),
    // BPE encode replay: re-derive the same merge table, apply it to
    // the distinct vocabulary (tok carried through the chain), join
    // documents' tokens against the segmentation
    Query("text_bpe_apply", TextAnalysis.bpeApply(_, _), {
      def stage(w: String, m: String, wNext: String) = s"""$m AS (
        SELECT p1, p2, p1 || p2 AS merged
        FROM (
          SELECT cnt, replace(z[1], chr(31), '') AS p1,
                 replace(z[2], chr(31), '') AS p2 FROM (
            SELECT cnt, unnest(list_zip(a[1:len(a)-1], a[2:len(a)])) AS z
            FROM (SELECT cnt, string_split(syms, ' ') AS a FROM $w)
          )
        ) GROUP BY p1, p2
        ORDER BY sum(cnt) DESC, p1 ASC, p2 ASC LIMIT 1
      ), $wNext AS (
        SELECT tok, cnt,
               replace(syms,
                 chr(31) || m.p1 || chr(31) || ' ' || chr(31) || m.p2
                   || chr(31),
                 chr(31) || m.merged || chr(31)) AS syms
        FROM $w, $m m
      )"""
      s"""
      WITH t AS (
        SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
      ), w0 AS (
        SELECT tok, count(*) AS cnt,
               rtrim(regexp_replace(tok, '(.)',
                 chr(31) || '\\1' || chr(31) || ' ', 'g')) AS syms
        FROM t GROUP BY tok
      ), ${stage("w0", "m1", "w1")}, ${stage("w1", "m2", "w2")},
      ${stage("w2", "m3", "w3")}, v AS (
        SELECT tok, length(tok)::BIGINT AS n_chars_w,
               len(string_split(syms, ' '))::BIGINT AS n_syms_w
        FROM w3
      )
      SELECT t.doc_id, count(*) AS n_tokens,
             sum(v.n_chars_w)::BIGINT AS n_chars,
             sum(v.n_syms_w)::BIGINT AS n_symbols,
             round(sum(v.n_syms_w)::DOUBLE / sum(v.n_chars_w), 4)
               AS compression
      FROM t JOIN v USING (tok)
      GROUP BY t.doc_id ORDER BY t.doc_id ASC"""
    }),
    // embedding outliers: same quantization, same un-divided centroid
    // sum, same n²-scaled exact integer distances (HUGEINT == the Spark
    // side's DECIMAL(38,0) headroom), one double division at export
    Query("embed_outliers", Similarity.embedOutliers(_, _), s"""
      WITH c AS (
        SELECT vec_id, label, j,
               floor(embedding[j + 1]::DOUBLE
                     * ${Similarity.PcaScale})::HUGEINT AS q
        FROM embeddings,
             unnest(range(len(embedding))) AS t(j)
      ), s AS (
        SELECT j, sum(q)::HUGEINT AS s, count(*)::HUGEINT AS n
        FROM c GROUP BY j
      ), d AS (
        SELECT c.vec_id, c.label,
               sum((s.n * c.q - s.s) * (s.n * c.q - s.s))::HUGEINT
                 AS d2n2,
               max(s.n) AS n
        FROM c JOIN s USING (j)
        GROUP BY c.vec_id, c.label
      )
      SELECT vec_id, label,
             round(d2n2::DOUBLE / (n * n)::DOUBLE
                   / ${Similarity.PcaScale.toDouble * Similarity.PcaScale},
                   6) AS dist2
      FROM d ORDER BY dist2 DESC, vec_id ASC
      LIMIT ${Similarity.OutlierTopK}"""),
    // peak detection: same per-type lag/lead strict-maximum rule
    Query("ev_peaks", Events.peakDetection(_, _), """
      WITH d AS (
        SELECT event_type, ts::DATE AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2
      ), x AS (
        SELECT event_type, day, cnt,
               lag(cnt) OVER w AS prev, lead(cnt) OVER w AS next
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
      )
      SELECT event_type, day::VARCHAR AS day, cnt, prev, next
      FROM x
      WHERE prev IS NOT NULL AND next IS NOT NULL
        AND cnt > prev AND cnt > next
      ORDER BY event_type ASC, day ASC"""),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The registry entries named in `names`, in the order given (blank and
    * repeated names dropped). The mains' one query selector: it fails
    * naming every unknown name, so a typo stops a run before any query
    * runs instead of silently shrinking it. */
  def select(names: Seq[String]): Seq[Query] = {
    val wanted = names.map(_.trim).filter(_.nonEmpty).distinct
    val byName = registry.map(q => q.name -> q).toMap
    val unknown = wanted.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    require(wanted.nonEmpty, "no query named")
    wanted.map(byName)
  }
}
