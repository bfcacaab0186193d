"""Output checks for one benchmark run, made with DuckDB after the timed
part. Each returns a list of problems; an empty list passes.

  catalog queries   the result equals DuckDB running the query's oracle
                    SQL over the same parquet: same columns, dtypes and
                    values, no tolerance
  approximate ones  a property the method must have, against an exact
                    DuckDB answer (PROPERTIES below)
  other oracle-less the result has rows
  builder-backfill  every target equals a DuckDB recomputation from the
                    landed days, and each build ran exactly the jobs the
                    staleness rule implies
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{data}/{t}.parquet')")
    # sec: the whole-second epoch, as graft.sources.Events.load makes it
    con.execute("CREATE VIEW ev AS SELECT *, "
                "CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events")
    return con


def _norm(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def same(got, want, exact=True):
    """Problems between two frames: columns, shape, dtypes, then values.
    With exact=False floats may differ by a relative 1e-9 (sums in
    another order)."""
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if got.shape != want.shape:
        return [f"shape {got.shape} != {want.shape}"]
    probs = [f"dtype[{c}] {got[c].dtype} != {want[c].dtype}"
             for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
    if probs:
        return probs
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype == object:
            eq = (a.astype(str).where(~a.isna(), "\0NULL") ==
                  b.astype(str).where(~b.isna(), "\0NULL"))
        elif not exact and a.dtype.kind == "f":
            eq = pd.Series(np.isclose(a, b, rtol=1e-9, atol=0, equal_nan=True))
        else:
            eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int(np.argmin(eq.values))
            probs.append(f"value[{c}] row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}")
    return probs


# ---- approximate queries: properties against exact answers -------------

def _within(name, key, est, exact, rel):
    if abs(est - exact) > rel * exact:
        return [f"{name} {key}: estimate {est} vs exact {exact} "
                f"outside {rel:.0%}"]
    return []


def q20(con, got):
    # approx_count_distinct, default relative standard deviation 0.05:
    # within 3 of them; the exact column is exact
    want = con.sql("SELECT event_type, count(DISTINCT user_id) AS n FROM ev "
                   "GROUP BY 1").df().set_index("event_type")["n"]
    if sorted(got.event_type) != sorted(want.index):
        return [f"q20 groups {sorted(got.event_type)} != {sorted(want.index)}"]
    probs = []
    for r in got.itertuples():
        if r.exact_users != want[r.event_type]:
            probs.append(f"q20 {r.event_type}: exact_users {r.exact_users} "
                         f"!= {want[r.event_type]}")
        probs += _within("q20", r.event_type, r.approx_users,
                         want[r.event_type], 0.15)
    return probs


def q93(con, got):
    # datasketches HLL, lgConfigK 12: relative standard error
    # 1.04/sqrt(4096) = 1.6%; within 3 of them, per group and for the
    # union of the group sketches
    want = con.sql("SELECT event_type, count(DISTINCT user_id) AS n FROM ev "
                   "GROUP BY 1 UNION ALL SELECT '~ALL', "
                   "count(DISTINCT user_id) FROM ev").df()
    want = want.set_index("event_type")["n"]
    if sorted(got.event_type) != sorted(want.index):
        return [f"q93 groups {sorted(got.event_type)} != {sorted(want.index)}"]
    probs = []
    for r in got.itertuples():
        probs += _within("q93", r.event_type, r.approx_users,
                         want[r.event_type], 0.05)
    return probs


def q252(con, got):
    # rolling 7-day distinct users from unioned HLL sketches (lgConfigK
    # 12, as q93): within 3 relative standard errors of the exact count
    want = con.sql("""
        WITH ud AS (SELECT DISTINCT user_id, sec // 86400 AS day FROM ev),
             ds AS (SELECT DISTINCT day + k AS d FROM ud, range(7) t(k))
        SELECT d, count(DISTINCT user_id) AS n
        FROM ds JOIN ud ON ud.day BETWEEN d - 6 AND d GROUP BY d""").df()
    want = want.set_index("d")["n"]
    if sorted(got.d) != sorted(want.index):
        return [f"q252 days {len(got)} rows != {len(want)} exact days"]
    probs = []
    for r in got.itertuples():
        probs += _within("q252", r.d, r.wau_est, want[r.d], 0.05)
    return probs


def q90(con, got):
    # approx_percentile with accuracy 1000: the answer is a value of the
    # column whose rank is within 1/1000 of the asked percentile
    probs = []
    for r in got.itertuples():
        for p, v in ((0.5, r.p50_approx), (0.95, r.p95_approx)):
            n, below, upto = con.execute(
                "SELECT count(*), count(*) FILTER (l_extendedprice < ?), "
                "count(*) FILTER (l_extendedprice <= ?) FROM lineitem "
                "WHERE l_returnflag = ?", [v, v, r.l_returnflag]).fetchone()
            if upto == below:
                probs.append(f"q90 {r.l_returnflag} p{p}: {v} is not a value")
            elif not below / n - 1e-3 - 1 / n <= p <= upto / n + 1e-3 + 1 / n:
                probs.append(f"q90 {r.l_returnflag} p{p}: {v} has rank "
                             f"{below / n:.4f}..{upto / n:.4f}")
    return probs


PROPERTIES = {"q20_agg_approx_distinct": q20, "q93_agg_hll_mergeable": q93,
              "q252_evt_rolling_wau_hll": q252, "q90_agg_approx_quantile": q90}


def oracle(con, sql, cache):
    """DuckDB's answer to an oracle query, computed once per checkout
    (some take half a minute) and kept as parquet under `cache`."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    path = os.path.join(cache, f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
        os.replace(f"{path}.tmp", path)
    return con.sql(f"SELECT * FROM read_parquet('{path}')").df()


def catalog(con, res, out, cache):
    probs = []
    for name in res["queries"]:
        path = os.path.join(out, "results", name)
        if not os.path.isdir(path):
            probs.append(f"{name}: no output")
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
            if name in res["oracle"]:
                found = same(got, oracle(con, res["oracle"][name], cache))
            elif name in PROPERTIES:
                found = PROPERTIES[name](con, got)
            else:
                found = [] if len(got) else ["no rows"]
        except duckdb.Error as e:
            found = [f"check could not run: {e}"]
        probs += [f"{name}: {p}" for p in found[:3]]
    return probs


# ---- builder-backfill ----------------------------------------------------

KINDS = ["clean", "sessions", "topk", "rollup"]


def _day(d):
    return f"(DATE '{d}' - DATE '1970-01-01')"


def expected(con, kind, d):
    """DuckDB recomputation of one backfill target from the events."""
    clean = lambda where: f"""(SELECT * EXCLUDE (rn) FROM (
        SELECT event_id, user_id, event_type, value, sec, row_number() OVER (
            PARTITION BY user_id, event_type, sec ORDER BY event_id) AS rn
        FROM ev WHERE {where}) WHERE rn = 1)"""
    day = clean(f"sec // 86400 = {_day(d)}")
    sessions = f"""(SELECT user_id, session_id, min(sec) AS start_sec,
          max(sec) AS end_sec, count(*) AS n_events, sum(value) AS value
        FROM (SELECT *, CAST(sum(new) OVER (PARTITION BY user_id ORDER BY
            sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
          FROM (SELECT *, CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id
              ORDER BY sec, event_id) <= 1800 THEN 0 ELSE 1 END AS new
            FROM {day}))
        GROUP BY user_id, session_id)"""
    if kind == "clean":
        sql = f"SELECT * FROM {day}"
    elif kind == "sessions":
        sql = f"SELECT * FROM {sessions}"
    elif kind == "topk":
        sql = f"""SELECT *, '{d}' AS dt, row_number() OVER (ORDER BY
              n_events DESC, end_sec - start_sec DESC, user_id, session_id)
              AS rnk FROM {sessions} QUALIFY rnk <= 10"""
    else:  # rollup over the landed days of the trailing window
        win = clean(f"sec // 86400 BETWEEN {_day(d)} - 6 AND {_day(d)}")
        sql = f"""SELECT user_id, n_events, value, last_sec, last_type
            FROM (SELECT user_id, count(*) AS n_events, sum(value) AS value
                  FROM {win} GROUP BY user_id)
            JOIN (SELECT user_id, sec AS last_sec, event_type AS last_type
                  FROM {win} QUALIFY row_number() OVER (PARTITION BY user_id
                    ORDER BY sec DESC, event_id DESC) = 1) USING (user_id)"""
    return con.sql(sql).df()


def _sorted(df):
    keys = [c for c in ("user_id", "session_id", "event_id") if c in df]
    return df.sort_values(keys).reset_index(drop=True)


def backfill(con, res, out):
    probs = []
    runs = res["runs"]
    landed = runs[-1]["landed"]
    jobs = lambda days: sorted(f"{k}@{d}" for k in KINDS for d in days)
    want = {"cold": (jobs(runs[0]["landed"]), [])}
    for prev, run in zip(runs, runs[1:]):
        new = sorted(set(run["landed"]) - set(prev["landed"]))
        ran = [] if run["pass"] == "noop" else jobs(new)
        want[run["pass"]] = (ran, sorted(set(jobs(run["landed"])) - set(ran)))
    if runs[-1]["pass"] != "noop":
        probs.append("no repeated run at the end")
    for run in runs:
        ran, skipped = want[run["pass"]]
        if run["ran"] != ran or run["skipped"] != skipped:
            probs.append(f"{run['pass']}: ran {len(run['ran'])} / skipped "
                         f"{len(run['skipped'])} jobs, the staleness rule "
                         f"gives {len(ran)} / {len(skipped)}")
    if sorted(res["targets"]) != sorted(t.replace("@", "/") for t in jobs(landed)):
        probs.append(f"{len(res['targets'])} targets for {len(landed)} days")
    for t in res["targets"]:
        kind, d = t.split("/")
        path = os.path.join(out, "pipeline", kind, d)
        got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        found = same(_sorted(got), _sorted(expected(con, kind, d)), exact=False)
        probs += [f"{t}: {p}" for p in found[:3]]
    return probs


def outputs(workload, res, out, data, cache):
    con = connect(data)
    try:
        if workload == "builder-backfill":
            return backfill(con, res, out)
        return catalog(con, res, out, cache)
    finally:
        con.close()
