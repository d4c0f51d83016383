#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <outDir> [jsonOut]

For each <outDir>/<name> parquet dir: run its oracle_sql.json entry in
DuckDB (views named after tables over <sfDir> parquet),
sort columns by name, sort rows, compare cell-by-cell. Reports match /
mismatch with diff details. A dumped query with no oracle entry fails
("no oracle entry"): the oracle file and the dump disagree.
With jsonOut, also writes a per-query {match, rows, detail} JSON summary
(the committed large-scale sweep artifact).

Every sweep ALSO runs tools/typecheck.py over the same dump (the
output-TYPE audit this compare structurally cannot perform — it compares
cells numerically, so a DuckDB HUGEINT vs Spark BIGINT divergence that
fails the driver's type-aware hash passes here). The exit code fails if
EITHER audit fails; with jsonOut the type audit writes TYPECHECK.json
next to it as a standing artifact.
"""
import sys, json, glob, os
from contextlib import closing
import duckdb
import typecheck

def connect(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_one(con, name, d, oracles, record):
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"  {name}: NO OUTPUT FILES")
        record(False, 0, "no output files"); return False
    got = con.execute(f"SELECT * FROM '{d}/*.parquet'").fetchdf()
    if name not in oracles:
        print(f"  {name}: NO ORACLE ENTRY ({len(got)} rows)")
        record(False, len(got), "no oracle entry")
        return False
    try:
        exp = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        print(f"  {name}: ORACLE ERROR {type(e).__name__}: "
              f"{str(e)[:160]}")
        record(False, len(got), f"oracle error: {str(e)[:160]}")
        return False
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"  {name}: COLUMN MISMATCH got={list(got.columns)} "
              f"exp={list(exp.columns)}")
        record(False, len(got), "column mismatch"); return False
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    if len(gs) != len(es):
        print(f"  {name}: ROWCOUNT got={len(gs)} exp={len(es)}")
        record(False, len(gs), f"rowcount got={len(gs)} exp={len(es)}")
        return False
    diffs = []
    for c in gs.columns:
        a, b = gs[c], es[c]
        try:
            neq = ~((a == b) | (a.isna() & b.isna()))
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            diffs.append(f"{c}[{i}]: got={a[i]!r} exp={b[i]!r} "
                         f"(n={int(neq.sum())})")
    if diffs:
        print(f"  {name}: VALUE MISMATCH " + "; ".join(diffs[:4]))
        record(False, len(gs), "value mismatch: " + "; ".join(diffs[:4]))
        return False
    print(f"  {name}: ok ({len(gs)} rows)")
    record(True, len(gs), "exact")
    return True


def main(sf_dir, out_dir, json_out=None):
    summary = {}
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = bad = 0
    # GRAFT_CHECK_SLICE="i/n" checks every n-th query starting at i.
    # Fresh connections alone are not enough at the 10x scale: after
    # ~200 heavy oracles the PROCESS RSS (duckdb allocator arenas
    # retained across connections) exhausts the box — run the sweep as
    # n slice processes and merge the per-slice JSONs.
    names = sorted(os.listdir(out_dir))
    sl = os.environ.get("GRAFT_CHECK_SLICE")
    slice_names = None
    if sl:
        i, n = map(int, sl.split("/"))
        # a mistyped spec (3/3, -1/3, 0/0) would silently report
        # ok=0/bad=0 and a whole slice would vanish from the merge
        if n <= 0 or not (0 <= i < n):
            sys.exit(f"GRAFT_CHECK_SLICE={sl!r} invalid: need 0 <= i < n")
        names = names[i::n]
        slice_names = sorted(
            x for x in names if os.path.isdir(os.path.join(out_dir, x)))
        if not slice_names:
            sys.exit(f"GRAFT_CHECK_SLICE={sl!r} selected zero queries")
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        def record(match, rows, detail, _n=name):
            summary[_n] = {"match": match, "rows": rows, "detail": detail}
        # FRESH connection per query: at the 10x scale a single
        # connection accumulates buffer-pool blocks across 150+ heavy
        # oracles (recursive CTEs, triple self-joins) until DuckDB's
        # own limit trips — isolation costs milliseconds of view setup
        with closing(connect(sf_dir)) as con:
            if check_one(con, name, d, oracles, record):
                ok += 1
            else:
                bad += 1
    print(f"== {ok} ok, {bad} bad ==")
    if json_out:
        # record the slice spec + exact names covered so the merge step
        # can assert the slices PARTITION the query set (a silently
        # missing slice is indistinguishable from an empty one otherwise)
        blob = {"sf_dir": sf_dir, "ok": ok, "bad": bad,
                "queries": summary}
        if sl:
            blob["slice"] = sl
            blob["slice_names"] = slice_names
        with open(json_out, "w") as f:
            json.dump(blob, f, indent=1, sort_keys=True)
    # type audit over the same dump — fails the sweep on a type outside
    # the proven set even when every cell compares equal (the r7/r8
    # failure class). skip_missing: targeted runs dump a query subset.
    tc_out = (os.path.join(os.path.dirname(json_out) or ".",
                           "TYPECHECK.json") if json_out else None)
    tc_bad = typecheck.main(sf_dir, out_dir, tc_out, skip_missing=True)
    return 1 if (bad or tc_bad) else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
