#!/usr/bin/env python3
"""Compare two graft.Verify dumps of the same fixture, row for row.

Usage: python3 tools/diff_verify.py <sfdir> <verify_out_A> <verify_out_B>

1. Every query dumped in either directory must be dumped in both, with
   equal schemas (column names and types, in order) and the same rows:
   DuckDB `EXCEPT ALL` empty in both directions.
2. Lists the oracles whose SQL text differs between A's and B's
   `oracle_sql.json`, and those present on one side only.
3. Runs each changed oracle's A text and B text over the parquet tables
   in <sfdir> and compares their results the same way.

Exits 1 on any difference in schemas or rows (a changed oracle text
alone is not a failure), else 0.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def dumped(outdir: str) -> set:
    return {n for n in os.listdir(outdir)
            if os.path.isdir(os.path.join(outdir, n))}


def schema(con, rel: str) -> list:
    return [(r[0], r[1])
            for r in con.sql(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def row_diff(con, a: str, b: str) -> str:
    """'' when relations a and b hold the same rows, else a summary."""
    sa, sb = schema(con, a), schema(con, b)
    if sa != sb:
        return f"schema {sa} != {sb}"
    only_a = con.sql(
        f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
    ).fetchone()[0]
    only_b = con.sql(
        f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})"
    ).fetchone()[0]
    if only_a or only_b:
        return f"{only_a} rows only in A, {only_b} rows only in B"
    return ""


def main(sfdir: str, out_a: str, out_b: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sfdir}/{t}.parquet')")
    failures = 0

    qa, qb = dumped(out_a), dumped(out_b)
    for name in sorted(qa ^ qb):
        print(f"DIFF {name}: dumped only in {'A' if name in qa else 'B'}")
        failures += 1
    same = 0
    for name in sorted(qa & qb):
        try:
            d = row_diff(con, f"read_parquet('{out_a}/{name}/*.parquet')",
                         f"read_parquet('{out_b}/{name}/*.parquet')")
        except Exception as e:
            d = f"read error: {e}"
        if d:
            print(f"DIFF {name}: {d}")
            failures += 1
        else:
            same += 1
    print(f"outputs: {same} of {len(qa | qb)} queries give the same rows")

    oa = json.load(open(f"{out_a}/oracle_sql.json"))
    ob = json.load(open(f"{out_b}/oracle_sql.json"))
    for name in sorted(oa.keys() ^ ob.keys()):
        print(f"oracle {name}: only in {'A' if name in oa else 'B'}")
    changed = sorted(n for n in oa.keys() & ob.keys() if oa[n] != ob[n])
    print(f"oracle text changed: {len(changed)} of {len(oa.keys() & ob.keys())}"
          + (f" ({', '.join(changed)})" if changed else ""))
    for name in changed:
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_a AS {oa[name]}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_b AS {ob[name]}")
            n = con.sql("SELECT count(*) FROM oracle_a").fetchone()[0]
            d = row_diff(con, "oracle_a", "oracle_b")
        except Exception as e:
            d = f"exec error: {e}"
        if d:
            print(f"DIFF oracle {name}: {d}")
            failures += 1
        else:
            print(f"same oracle {name}: {n} rows")

    print(f"\n{failures} differences")
    return 1 if failures else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3]))
