"""Output check against the DuckDB oracle.

The oracle SQL comes from `SparkEntry.oracleSql` (the harness writes it into
its result). It runs in DuckDB over the same seeded inputs the program read.
Outputs are compared order-insensitively: columns sorted by name, rows
sorted, then cell by cell with NULL == NULL -- the rule `tools/check.py`
applies. An entry without an oracle only has to be non-empty.

An oracle's answer depends on its SQL and on the input tables as multisets
of rows, not on their row order. Every seed's inputs are a permutation of
the same tables, so answers are cached under the SQL text plus an
order-independent checksum of every table: a seed whose inputs hash the
same reuses the answer, anything else (other SQL, other rows) recomputes.
"""
import glob
import hashlib
import os

import duckdb

from inputs import TABLES


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def multiset_key(con):
    """Order-independent checksum of every input table: row count and the
    sum of the row hashes."""
    parts = []
    for t in TABLES:
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        row = ", ".join(f'"{c}"' for c in cols)
        n, h = con.execute(
            f"SELECT count(*), sum(hash({row})::HUGEINT) FROM {t}").fetchone()
        parts.append(f"{t}:{n}:{h}")
    return "|".join(parts)


def expected(con, sql, cache_dir, inputs_key):
    """The oracle's answer as a DataFrame, or the reason it has none."""
    key = hashlib.sha256(f"{inputs_key}\n{sql}".encode()).hexdigest()
    cached = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(cached):
        return con.execute(f"SELECT * FROM '{cached}'").fetchdf()
    try:
        answer = con.execute(sql).fetchdf()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {type(e).__name__}: {str(e)[:120]}"
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cached}.{os.getpid()}"
    con.register("answer", answer)
    con.execute(f"COPY answer TO '{tmp}' (FORMAT PARQUET)")
    con.unregister("answer")
    os.replace(tmp, cached)
    return answer


def compare(got, exp):
    """None when `got` equals `exp` as a multiset of rows, else a reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    cols = list(got.columns)
    gs = got.sort_values(by=cols).reset_index(drop=True)
    es = exp.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        a, b = gs[c], es[c]
        try:
            neq = ~((a == b) | (a.isna() & b.isna()))
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: got={a[i]!r} exp={b[i]!r} (n={int(neq.sum())})"
    return None


def check(data_dir, out_root, names, oracle_sql, cache_dir):
    """{name: reason} for every output that fails its check. Each distinct
    oracle runs once (several entries may share one)."""
    bad = {}
    answers = {}
    con = connect(data_dir)
    try:
        inputs_key = multiset_key(con)
        for name in names:
            out = os.path.join(out_root, name)
            if not glob.glob(os.path.join(out, "*.parquet")):
                bad[name] = "no output files"
                continue
            got = con.execute(
                f"SELECT * FROM '{os.path.join(out, '*.parquet')}'").fetchdf()
            sql = oracle_sql.get(name)
            if sql is None:
                if not len(got):
                    bad[name] = "empty output"
                continue
            if sql not in answers:
                answers[sql] = expected(con, sql, cache_dir, inputs_key)
            exp = answers[sql]
            reason = exp if isinstance(exp, str) else compare(got, exp)
            if reason:
                bad[name] = reason
    finally:
        con.close()
    return bad
