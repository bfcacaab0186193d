#!/usr/bin/env python3
"""Shows that every output check rejects a deliberately altered result.

    python3 perfbench/selftest.py [--workload catalog-mix ...]

For each workload: one short run whose outputs are kept, the checks on
them as they are (must pass), then one alteration at a time, each of
which the checks must reject:
  catalog, oracled   one value of the result changed
  catalog, property  the estimate moved outside its error bound
  builder-backfill   one target value changed; one job dropped from a
                     run's ran set; a repeated run that rebuilt a job
The outputs are altered in the kept copy only.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb

import check
import run

ALTER = {  # property query -> SQL over its result `r` that breaks it
    "q20_agg_approx_distinct":
        "SELECT * REPLACE (CAST(approx_users * 1.3 AS BIGINT) AS approx_users) FROM r",
    "q93_agg_hll_mergeable":
        "SELECT * REPLACE (CAST(approx_users * 1.1 AS BIGINT) AS approx_users) FROM r",
    "q252_evt_rolling_wau_hll":
        "SELECT * REPLACE (CASE WHEN d = (SELECT min(d) FROM r) THEN wau_est * 2 "
        "ELSE wau_est END AS wau_est) FROM r",
    "q90_agg_approx_quantile":
        "SELECT * REPLACE (p95_approx AS p50_approx) FROM r",
}


def rewrite(con, path, sql):
    """Replaces the parquet result at `path` by `sql` over it (as `r`)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE r AS "
                f"SELECT * FROM read_parquet('{path}/*.parquet')")
    shutil.rmtree(path)
    os.makedirs(path)
    con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


def nudge(con, path):
    """Changes one value: the first numeric column (else the first
    column, as text) of the first row."""
    cols = con.sql(f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
    num = [c for c, t, *_ in cols if t in ("BIGINT", "INTEGER", "DOUBLE")]
    c = num[0] if num else cols[0][0]
    new = f"{c} + 1" if num else f"{c} || 'x'"
    rewrite(con, path, f"SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 "
                       f"THEN {new} ELSE {c} END AS {c}) FROM r")


def altered(out, mutate):
    """Runs `mutate` on a copy of the outputs; returns the copy."""
    dst = out + ".altered"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(out, dst)
    mutate(dst)
    return dst


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or run.WORKLOADS
    cache = os.path.join(run.OUT, "oracle", run.data_stamp())
    failures = 0
    for w in workloads:
        keep = os.path.join(run.OUT, f"selftest-{w}")
        subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                        "--workload", w, "--seed", "1", "--seconds", "1",
                        "--keep", keep], check=True, stdout=subprocess.DEVNULL)
        out = os.path.join(keep, next(d for d in os.listdir(keep)
                                      if d.startswith("run-") and
                                      os.path.isdir(os.path.join(keep, d))))
        with open(os.path.join(out, "run.json")) as f:
            res = json.load(f)
        con = check.connect(run.DATA)

        def verdict(label, res_, out_, want_pass=False):
            nonlocal failures
            probs = check.outputs(w, res_, out_, run.DATA, cache)
            ok = not probs if want_pass else bool(probs)
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w}: {label}: "
                  f"{'passes' if not probs else 'rejected: ' + probs[0]}")

        verdict("outputs as they are", res, out, want_pass=True)
        if w == "builder-backfill":
            t = sorted(res["targets"])[-1]
            verdict(f"one value of {t} changed", res, altered(
                out, lambda d: nudge(con, os.path.join(d, "pipeline", t))))
            bad = json.loads(json.dumps(res))
            bad["runs"][1]["ran"] = bad["runs"][1]["ran"][1:]
            verdict("a job missing from warm1's ran set", bad, out)
            bad = json.loads(json.dumps(res))
            bad["runs"][-1]["ran"] = bad["runs"][-1]["skipped"][:1]
            bad["runs"][-1]["skipped"] = bad["runs"][-1]["skipped"][1:]
            verdict("the repeated run rebuilt a job", bad, out)
        else:
            for q in res["queries"]:
                label = ("property broken" if q in ALTER
                         else "one value changed")
                fix = (lambda d, q=q: rewrite(con, os.path.join(d, "results", q), ALTER[q])) \
                    if q in ALTER else \
                    (lambda d, q=q: nudge(con, os.path.join(d, "results", q)))
                verdict(f"{q}: {label}", dict(res, queries=[q]),
                        altered(out, fix))
        con.close()
        shutil.rmtree(keep)
    print(f"{failures} check(s) did not behave")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
