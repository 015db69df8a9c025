#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/compare.py [sfDir] [outDir]

Runs DuckDB on oracle_sql.json (written by graft.Verify) against the
same parquet tables, and compares each query's Spark parquet dump:
columns sorted by name, rows sorted by all columns, exact value match.
Each oracle is evaluated with its CTEs materialized in turn
(`coldwarm/oracle.py`'s `evaluate`) on a fresh connection, since the
temp tables of one oracle would collide with the next one's CTE names:
same result as one statement, far less memory on the curation chain.
An oracle with a non-recursive CTE that carries a column list is
reported as an error naming the entry and the CTE, since that
evaluation drops the list.
This is a dev tool only — NOT part of the Scala library.
"""
import glob
import hashlib
import json
import math
import os
import re
import sys

import duckdb

# the benchmark's oracle module, imported without writing bytecode
# into the benchmark's directory
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "coldwarm"))
import oracle as coldwarm_oracle  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def frame_hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def check_ctes(name, sql):
    """Refuses a non-recursive CTE with a column list, `c(j, v) AS
    (...)`: `evaluate` materializes it as `CREATE TEMP TABLE c AS ...`
    and drops the list, so the oracle would fail to bind or, worse,
    bind to the body's own column names."""
    ctes, _ = coldwarm_oracle.split_ctes(sql)
    for cte, cols, body in ctes:
        if cols and not re.search(rf"\b{cte}\b", body):
            raise ValueError(
                f"oracle of {name}: CTE {cte}{cols} has a column list but "
                f"does not reference itself; name the columns on the "
                f"subquery instead (AS t{cols})")


def main():
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            check_ctes(name, sql)
            want = norm(coldwarm_oracle.evaluate(
                coldwarm_oracle.connect(SF), sql))
            files = glob.glob(f"{OUT}/{name}/*.parquet")
            got = norm(duckdb.sql(
                f"SELECT * FROM read_parquet({files!r})").df())
            problems = []
            if list(want.columns) != list(got.columns):
                problems.append(f"cols want={list(want.columns)} got={list(got.columns)}")
            elif len(want) != len(got):
                problems.append(f"rows want={len(want)} got={len(got)}")
            elif frame_hash(want) != frame_hash(got):
                neq = (want.astype(str) != got.astype(str))
                bad_cols = [c for c in want.columns if neq[c].any()]
                problems.append(f"hash mismatch in cols {bad_cols}")
                for c in bad_cols[:3]:
                    i = neq[c].idxmax()
                    problems.append(
                        f"  {c}[{i}]: want={want[c][i]!r} got={got[c][i]!r}")
            if problems:
                n_bad += 1
                print(f"FAIL {name}")
                for p in problems:
                    print(f"     {p}")
            else:
                n_ok += 1
                print(f"ok   {name} ({len(want)} rows)")
        except Exception as e:
            n_bad += 1
            print(f"ERR  {name}: {e}")
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
