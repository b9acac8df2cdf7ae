"""Output checks for the graft benchmark, run outside the timed phase.

Each check names the step whose output it compares and returns
(ok, detail). Kinds:

- oracle: a declared query's output against its `SparkEntry.oracleSql`
  in DuckDB, with the comparison rules of `tools/check.py` (columns
  sorted by name, rows sorted, cells compared as strings).
- incident_final: incident_daily's accumulated table against one DuckDB
  query over the union of the batches it ingested. Keep-first over
  arrival order makes the incremental result equal the one-shot one.
- components: connected components against a union-find over the pairs.
- edges: the pair count sits on the stated side of graft's driver gate.
"""
import glob
import os
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def parquet_glob(path):
    return f"{path}/**/*.parquet" if os.path.isdir(path) else path


def read_output(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle(c):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{c['tables']}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{parquet_glob(p)}', hive_partitioning = true)")
    got, exp = canon(read_output(c["path"])), canon(con.sql(c["sql"]).df())
    if list(got.columns) != list(exp.columns):
        return False, f"columns got={list(got.columns)} expected={list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows got={len(got)} expected={len(exp)}"
    diff = got.astype(str).values != exp.astype(str).values
    if diff.any():
        r, k = next(zip(*diff.nonzero()))
        return False, (f"{int(diff.sum())} cells differ; first row {r} column "
                       f"{got.columns[k]}: got={got.iat[r, k]} expected={exp.iat[r, k]}")
    return True, f"{len(got)} rows"


INCIDENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props",
                 "day_of_week", "time_of_day", "flag", "flag_propagated",
                 "type_rank", "lat", "lon", "batch_hourly_avg", "arrival"]


def incident_one_shot(input_dir, batches, lookback):
    """The accumulated table as one query over the ingested batches."""
    union = " UNION ALL ".join(
        f"SELECT *, {b} AS arrival FROM '{input_dir}/batches/b{b:04d}/events.parquet'"
        for b in batches)
    return f"""
      WITH b AS ({union}),
      kept AS (
        SELECT * FROM b
        QUALIFY CAST(ts AS DATE) > max(CAST(ts AS DATE)) OVER (PARTITION BY arrival)
                                   - INTERVAL {lookback} DAY),
      firsts AS (
        SELECT *, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS flag FROM kept
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY arrival) = 1),
      type_counts AS (
        SELECT arrival, event_type, count(*) AS cnt FROM firsts GROUP BY 1, 2),
      type_ranks AS (
        SELECT arrival, event_type,
               rank() OVER (PARTITION BY arrival ORDER BY cnt DESC) AS type_rank
        FROM type_counts)
      SELECT f.event_id, f.ts, f.user_id, f.event_type, f.value, f.props,
             dayofweek(f.ts) + 1 AS day_of_week, hour(f.ts) AS time_of_day, f.flag,
             max(f.flag) OVER (PARTITION BY f.arrival, date_trunc('minute', f.ts), f.user_id)
               AS flag_propagated,
             r.type_rank,
             35.2226 + CAST(f.user_id % 21 - 10 AS DOUBLE) * 0.01 AS lat,
             -97.4395 + CAST(f.user_id % 17 - 8 AS DOUBLE) * 0.01 AS lon,
             floor(CAST(sum(CAST(f.value AS DECIMAL(18,6))) OVER (
                     PARTITION BY f.arrival, date_trunc('hour', f.ts), f.event_type) AS DOUBLE)
                   / count(f.value) OVER (
                     PARTITION BY f.arrival, date_trunc('hour', f.ts), f.event_type)
                   * 10000 + 0.5) / 10000 AS batch_hourly_avg,
             CAST(f.arrival AS BIGINT) AS arrival
      FROM firsts f JOIN type_ranks r USING (arrival, event_type)"""


def incident_final(c):
    con = duckdb.connect()
    cols = ", ".join(INCIDENT_COLS)
    # compare the hive partition column as BIGINT, whatever type it is read as
    con.execute(f"CREATE VIEW got AS SELECT * REPLACE (CAST(arrival AS BIGINT) AS arrival) "
                f"FROM (SELECT {cols} FROM read_parquet('{parquet_glob(c['path'])}', "
                f"hive_partitioning = true))")
    con.execute(f"CREATE VIEW exp AS SELECT {cols} FROM ("
                f"{incident_one_shot(c['input'], c['batches'], c['lookback_days'])})")
    n_got = con.sql("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.sql("SELECT count(*) FROM exp").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM exp EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM exp)").fetchone()[0]
    ok = n_got == n_exp and missing == 0 and extra == 0
    return ok, f"{n_got} rows over {len(c['batches'])} batches; expected {n_exp}, missing {missing}, extra {extra}"


def union_find_components(pairs):
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def components(c):
    pairs = read_output(c["pairs"])
    exp = union_find_components(zip(pairs[c["src"]].tolist(), pairs[c["dst"]].tolist()))
    got = read_output(c["path"])
    got = dict(zip(got["id"].tolist(), got["comp"].tolist()))
    if got != exp:
        bad = sorted(set(got.items()) ^ set(exp.items()))[:3]
        return False, f"{len(got)} nodes vs {len(exp)} expected; first differences {bad}"
    return True, f"{len(got)} nodes, {len(set(exp.values()))} components"


def edge_count(path):
    return int(duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0])


def edges(c):
    n, limit = edge_count(c["path"]), c["threshold"]
    side = "driver" if n <= limit else "distributed"
    return side == c["side"], f"{n} edges, threshold {limit}: {side} path"


KINDS = {"oracle": oracle, "incident_final": incident_final,
         "components": components, "edges": edges}


def run_checks(checks):
    """Returns one result per check: {step, kind, ok, detail, seconds}."""
    out = []
    for c in checks:
        t0 = time.monotonic()
        try:
            ok, detail = KINDS[c["kind"]](c)
        except Exception as e:  # a check that cannot run has failed
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append({"step": c["step"], "kind": c["kind"], "ok": bool(ok), "detail": detail,
                    "seconds": round(time.monotonic() - t0, 3)})
    return out
