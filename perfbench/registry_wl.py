"""Workload ``registry-sf0.01``: an analyst's session running registry
queries one after another (closed loop, one client), each forced with a
noop write. Correctness is checked afterwards against the DuckDB oracle.

The query set is fixed by name (``SUBSET``): every eighth query of the
registry in registry order, starting with the first. The full registry
order is recorded in ``registry_names.txt``.
"""

from __future__ import annotations

import math
import os
import time

import harness

DATA = os.path.join(harness.HERE, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SUBSET = (
    "doc_length_fail",
    "global_missingness",
    "purchase_without_signup",
    "knn_cosine",
    "events_outside_user_span",
    "combine_union",
    "embedding_near_dup",
    "episode_invalid_records",
    "value_percentiles",
    "near_dup_survivors",
    "decontaminate",
    "shingle_dup_coverage",
    "minhash_lsh_pairs_fast",
)
# Queries without a DuckDB replay, checked by row count against the oracle
# of the query whose pair set they must equal.
ROW_COUNT_TWIN = {"minhash_lsh_pairs_fast": "minhash_lsh_pairs"}


def queries():
    """(name, fn, sql) for SUBSET, failing loudly if a name is gone, and
    whether the registry still has the recorded names in the recorded
    order."""
    from inspectehr_spark.queries import QUERIES

    missing = [n for n in SUBSET if n not in QUERIES]
    if missing:
        raise RuntimeError(f"registry queries missing: {missing}")
    with open(os.path.join(harness.HERE, "registry_names.txt")) as fh:
        recorded = fh.read().split()
    return [(n, QUERIES[n][0], QUERIES[n][1]) for n in SUBSET], list(QUERIES) == recorded


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, qs) -> list[dict]:
    """Untraced pass: wall = construct + execute per query."""
    out = []
    for name, fn, _ in qs:
        t0 = time.perf_counter()
        rec = {"name": name}
        try:
            df = fn(spark, DATA)
            _force(df)
            rec["df"] = df
        except Exception as exc:  # a failing query is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        out.append(rec)
    return out


def traced_pass(spark, qs, tracer: harness.Tracer) -> list[dict]:
    """Same queries, split into construct / plan / execute, each under a
    job group of its own; counts jobs started during construction and the
    RDDs still persisted after each query."""
    sc = spark.sparkContext
    out = []
    for name, fn, _ in qs:
        group = "registry:" + name
        rec = {"name": name}
        t0 = time.perf_counter()
        with tracer.span("registry", group=group):
            df = fn(spark, DATA)
            t1 = time.perf_counter()
            rec["construct_jobs"] = tracer.job_counts([group])[0]
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            _force(df)
            t3 = time.perf_counter()
        rec.update(
            wall_s=t3 - t0, construct_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2
        )
        rec["cached_rdds"] = sc._jsc.getPersistentRDDs().size()
        out.append(rec)
    return out


def _norm_cell(x):
    if x is None:
        return None
    if isinstance(x, float):
        if math.isnan(x):
            return None
        return round(x, 6)
    return x


def _norm_rows(cols, rows):
    """Order-insensitive normal form (as in the oracle parity tests):
    columns sorted by name, floats rounded to 6 places, NaN as NULL."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(
        out, key=lambda t: tuple((v is None, str(v)) for v in t)
    )


def verify(records: list[dict], qs) -> dict:
    """Counts the queries that raised in the measured pass or whose result
    differs from their DuckDB oracle, with the reason for each. Runs after
    the pass, outside the timed region; each result is collected from the
    DataFrame the pass built."""
    import duckdb
    from inspectehr_spark.queries import QUERIES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(DATA, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    sql_of = {n: sql for n, _, sql in qs}
    bad: dict[str, str] = {}
    try:
        for rec in records:
            name = rec["name"]
            if "error" in rec:
                bad[name] = rec["error"]
                continue
            df = rec["df"]
            rows = [tuple(r) for r in df.collect()]
            sql = sql_of[name]
            if sql is None:
                twin = QUERIES[ROW_COUNT_TWIN[name]][1]
                n = con.execute(f"SELECT count(*) FROM ({twin})").fetchone()[0]
                if len(rows) != n:
                    bad[name] = f"row count {len(rows)} != {n}"
                continue
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = [tuple(r) for r in res.fetchall()]
            if sorted(df.columns) != sorted(dcols):
                bad[name] = f"columns {df.columns} != {dcols}"
            elif _norm_rows(df.columns, rows) != _norm_rows(dcols, drows):
                bad[name] = "values differ from the DuckDB oracle"
    finally:
        con.close()
    return {"attempted": len(records), "failed": len(bad), "failures": bad}
