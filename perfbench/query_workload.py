"""``queries_sf0.1``: the 15 headline training-data queries of ``bench.py``.

Each query callable from ``__spark_entry__.queries()`` runs over generated
tables at scale factor :data:`SF`, the scale ``bench.py`` runs at. The first (untimed, cold) pass collects
every result for the DuckDB oracle check; its wall time is ``setup_s``. Timed
passes then write each query to Spark's ``noop`` sink until ``--seconds``
have passed. Read-only analytic work: no store writes, no epoch loop.
"""

from __future__ import annotations

import os
import time

from harness import Context, Outcome, median, span
from datasets import write_query_tables
from tracing import children, duration, inclusive, subtree

SF = 0.1


def headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def _pass(ctx: Context, qs, keys, sf_dir: str, sink: bool, out: Outcome,
          times: dict | None) -> dict:
    """One pass over ``keys``: each query goes to the ``noop`` sink, or is
    collected and returned as {key: (columns, rows)}."""
    results = {}
    for key in keys:
        out.attempted += 1
        t = time.perf_counter()
        try:
            with span(ctx, "query", key=key):
                df = qs[key](ctx.spark, sf_dir)
                if sink:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[key] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # a failed query is a result, not a crash
            out.failed += 1
            out.info.append(f"query {key} failed: {exc!r}"[:300])
            continue
        if times is not None:
            times.setdefault(key, []).append(time.perf_counter() - t)
    return results


def run(ctx: Context) -> Outcome:
    import __spark_entry__ as entry

    out = Outcome()
    sf_dir = os.path.join(ctx.work, "sf")
    t0 = time.perf_counter()
    rows = write_query_tables(sf_dir, ctx.seed, SF)
    out.info.append(f"datagen_s={time.perf_counter() - t0:.3f} (not in setup_s) "
                    f"sf={SF} lineitem={rows['lineitem']} "
                    f"documents={rows['documents']}")
    qs, keys = entry.queries(), headline()

    # -- set-up: the cold pass, results kept for the oracle check -------------
    t0 = time.perf_counter()
    with span(ctx, "warmup_pass"):
        results = _pass(ctx, qs, keys, sf_dir, False, out, None)
    out.e2e["setup_s"] = time.perf_counter() - t0

    # -- timed passes ----------------------------------------------------------
    times: dict[str, list[float]] = {}
    overhead0 = ctx.tracer.overhead_s if ctx.tracer else 0.0
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds:
        with span(ctx, "query_pass"):
            _pass(ctx, qs, keys, sf_dir, True, out, times)
        out.steps += 1
        if out.failed:
            break
    wall = time.perf_counter() - start
    done = sum(len(v) for v in times.values())
    out.e2e["step_s_p50"] = sum(median(v) for v in times.values())
    out.e2e["work_per_s"] = done / wall if wall > 0 else 0.0
    pass_s = [sum(v[i] for v in times.values() if i < len(v))
              for i in range(out.steps)]
    out.info.append(f"passes={out.steps} pass_s={[round(p, 3) for p in pass_s]} "
                    f"queries_run={done} timed_s={wall:.3f}; "
                    + " ".join(f"{k}={median(v):.3f}" for k, v in times.items()))
    if ctx.tracer is not None:
        out.layers["trace.overhead_s"] = ((ctx.tracer.overhead_s - overhead0)
                                          / max(1, out.steps))

    _check(sf_dir, entry.oracle_sql(), keys, results, out)
    return out


def _check(sf_dir: str, oracles: dict, keys, results: dict,
           out: Outcome) -> None:
    """Row count, column names and the order-insensitive value hash of each
    query against its DuckDB oracle, normalised as tools/check_queries.py
    does."""
    import duckdb
    from tools.check_queries import TABLES, value_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for key in keys:
            if key not in results:
                out.check(key, False, "query failed")
                continue
            cols, rows = results[key]
            if key not in oracles:
                out.check(key, len(rows) > 0, f"rows={len(rows)} (no oracle)")
                continue
            res = con.execute(oracles[key])
            dcols = [d[0] for d in res.description]
            tab = res.fetch_arrow_table()
            drows = ([tuple(v) for v in zip(*(c.to_pylist() for c in tab.columns))]
                     if tab.num_rows else [])
            ok = (len(rows) == len(drows) and sorted(cols) == sorted(dcols)
                  and value_hash(rows, cols) == value_hash(drows, dcols))
            out.check(key, ok, f"rows={len(rows)} oracle_rows={len(drows)}")
    finally:
        con.close()


EVENT_LOG_KEYS = ("executor_run_s", "shuffle_write_bytes")


def layer_names() -> list[str]:
    """Every per-layer metric a traced run of this workload must report."""
    return ([f"query.{k}.{m}" for k in headline()
             for m in ("s", "jobs", "shuffle_bytes")]
            + [f"query_pass.{k}" for k in EVENT_LOG_KEYS]
            + ["trace.overhead_s", "trace.step_s_p50"])


def layer_metrics(out: Outcome, spans: list[dict], ev: dict) -> dict:
    """Per-query numbers over the timed passes. A metric with no span (or
    no logged job) behind it is left out, so a tracing miss shows."""
    kids = children(spans)
    by_id = {s["id"]: s for s in spans}

    def logged(rec, key):
        groups = [r["group"] for r in subtree(rec, kids) if r["group"] in ev]
        return sum(ev[g][key] for g in groups) if groups else None

    per_key: dict[str, dict[str, list[float]]] = {}
    for s in spans:
        if s["name"] != "query" or by_id[s["parent"]]["name"] != "query_pass":
            continue
        d = per_key.setdefault(s["key"], {"s": [], "jobs": [],
                                          "shuffle_bytes": []})
        d["s"].append(duration(s))
        d["jobs"].append(inclusive(s, kids, "self_jobs"))
        shuffle = logged(s, "shuffle_write_bytes")
        if shuffle is not None:
            d["shuffle_bytes"].append(shuffle)
    m: dict[str, float] = {}
    for key, d in per_key.items():
        for name, xs in d.items():
            if xs:
                m[f"query.{key}.{name}"] = median(xs)
    passes = [s for s in spans if s["name"] == "query_pass"]
    for key in EVENT_LOG_KEYS:
        xs = [x for x in (logged(p, key) for p in passes) if x is not None]
        if xs:
            m[f"query_pass.{key}"] = median(xs)
    if per_key:
        m["trace.step_s_p50"] = sum(median(d["s"]) for d in per_key.values())
    return m
