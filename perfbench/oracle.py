"""Correctness check of the harness's result dumps against DuckDB.

Each query with oracle SQL is compared the way the library's own
correctness gate compares it: DuckDB runs the oracle SQL over the same
generated tables, both sides are canonicalized (columns sorted by name,
rows sorted by every column, nulls first), logical types must agree up
to the integer family, and every cell must be equal. A query without
oracle SQL passes on its row count: `dedup_minhash_lsh` must find at
least 90% and at most twice the planted near-duplicate pairs, any other
must return rows.

Canonicalization, the type rules and cell equality are imported from
`tools/check.py`, so this check cannot drift from that gate.
"""
import sys
from pathlib import Path

import duckdb

from gen import TABLES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import canon, cell_eq, oracle_type_leaks, type_norm  # noqa: E402


def compare(con, result_dir, sql):
    """None when the result in `result_dir` equals the oracle, else the
    reason it does not."""
    got_sql = f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"
    got = canon(con, got_sql)
    leaks = oracle_type_leaks(con, sql)
    if leaks:
        return f"widened oracle types {leaks}"
    exp = canon(con, sql)
    if list(exp.columns) != list(got.columns):
        return f"columns: oracle={list(exp.columns)} got={list(got.columns)}"
    rel, grel = con.sql(sql), con.sql(got_sql)
    gt = dict(zip(grel.columns, map(str, grel.types)))
    tdiff = {c: (str(t), gt[c]) for c, t in zip(rel.columns, rel.types)
             if type_norm(t) != type_norm(gt[c])}
    if tdiff:
        return f"types {tdiff}"
    if len(exp) != len(got):
        return f"rows: oracle={len(exp)} got={len(got)}"
    for c in exp.columns:
        for i, (e, g) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if not cell_eq(e, g):
                return f"cell col={c} row={i} oracle={e!r} got={g!r}"
    return None


def check(data_dir, results_dir, oracle_sql, result_rows):
    """Query name -> None (correct) or the reason it is wrong, for every
    query that produced a result."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    # Planted near-duplicates: a document whose text is another's plus
    # trailing ' dup' tokens (salted in replicas) joins that one's family;
    # every pair inside a family is a near-duplicate pair.
    family_pairs = con.sql("""
        SELECT CAST(coalesce(sum(n * (n - 1) / 2), 0) AS BIGINT) FROM (
          SELECT count(*) n FROM documents
          GROUP BY regexp_replace(text, '( dup(_[0-9]+)?)+$', ''))""").fetchone()[0]
    rows_ok = {"dedup_minhash_lsh": lambda n: 0.9 * family_pairs <= n <= 2 * family_pairs + 10}
    out = {}
    for name, rows in result_rows.items():
        try:
            if name in oracle_sql:
                out[name] = compare(con, f"{results_dir}/{name}", oracle_sql[name])
            else:
                ok = rows_ok.get(name, lambda n: n > 0)(rows)
                out[name] = None if ok else f"rows-only check failed: {rows} rows"
        except Exception as e:  # an unreadable result or oracle is a failure too
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out
