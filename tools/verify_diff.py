#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query.

Usage: python3 tools/verify_diff.py A B

Parquet bytes differ between any two JVM runs of the same query (the
column-chunk encodings list is written in set order), so a byte diff
reports false changes. This compares what a query returned instead: its
decoded rows in row order, and the Spark schema footer
(`org.apache.spark.sql.parquet.row.metadata`) of its part files. It also
compares the DuckDB oracle statements of the two dirs' `oracle_sql.json`
text for text. Every query whose result differs, or that is in one dir
only, is listed, and so is every query whose oracle text differs or
exists on one side only; the exit code is 1 if there is any.
"""
import json
import math
import sys
from pathlib import Path

import pyarrow.parquet as pq

SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def queries(root):
    """Query name -> its part files in partition order."""
    out = {}
    for d in sorted(p for p in root.iterdir() if p.is_dir()):
        parts = sorted(d.glob("part-*.parquet"))
        if parts:
            out[d.name] = parts
    return out


def canon(v):
    """A value that compares equal to itself (NaN included)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def read(parts):
    """(Spark schema footers, rows in order) of one query's part files."""
    footers, rows = set(), []
    for p in parts:
        f = pq.ParquetFile(p)
        footers.add((f.schema_arrow.remove_metadata().to_string(),
                     (f.metadata.metadata or {}).get(SPARK_SCHEMA)))
        rows.extend(canon(r) for r in f.read().to_pylist())
    return footers, rows


def diff(a, b):
    """Why the query's outputs differ, or None."""
    (fa, ra), (fb, rb) = read(a), read(b)
    if fa != fb:
        return "schema footer"
    if len(ra) != len(rb):
        return f"row count {len(ra)} vs {len(rb)}"
    if ra != rb:
        if sorted(map(repr, ra)) == sorted(map(repr, rb)):
            return "row order"
        return "rows"
    return None


def oracles(root):
    """Query name -> oracle SQL text of a Verify dir."""
    return json.loads((root / "oracle_sql.json").read_text())


def oracle_diff(oa, ob):
    """(name, why) for every query whose oracle text differs."""
    out = []
    for name in sorted(oa.keys() | ob.keys()):
        if name not in oa or name not in ob:
            out.append((name, f"oracle only in {'A' if name in oa else 'B'}"))
        elif oa[name] != ob[name]:
            out.append((name, "oracle text"))
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = Path(argv[1]), Path(argv[2])
    qa, qb = queries(a), queries(b)
    differ = []
    for name in sorted(qa.keys() | qb.keys()):
        if name not in qa or name not in qb:
            differ.append((name, f"only in {'A' if name in qa else 'B'}"))
        else:
            why = diff(qa[name], qb[name])
            if why:
                differ.append((name, why))
    for name, why in differ:
        print(f"DIFF {name}: {why}")
    same = len(qa.keys() | qb.keys()) - len(differ)
    print(f"{same} identical, {len(differ)} differ")
    oa, ob = oracles(a), oracles(b)
    odiffer = oracle_diff(oa, ob)
    for name, why in odiffer:
        print(f"ORACLE {name}: {why}")
    print(f"{len(oa.keys() | ob.keys()) - len(odiffer)} oracles identical, "
          f"{len(odiffer)} differ")
    return 1 if differ or odiffer else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
