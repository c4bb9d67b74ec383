"""crawlspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_fixture --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts one ``local[nproc]`` Spark session, sets up, measures for
``--seconds``, checks the outputs and prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the
same workload with spans around the program's public functions and reports
the per-layer metrics instead. Every metric is also printed by name and
unit on the lines before. All scratch files live under ``.perfbench/`` in
the checkout; the span file of a traced run is kept there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in
               ("crawlspark/__init__.py", "__spark_entry__.py", "bench.py",
                "tools/check_queries.py", "tests/crawl_fixtures.py",
                "BENCHMARK.json"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no crawlspark program next to {HERE}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # the program and its Python workers import crawlspark from the checkout
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import harness
    import crawl_workload
    import query_workload
    import tracing

    workload = {"crawl_fixture": crawl_workload,
                "queries_sf0.1": query_workload}[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, run_id)
    ev_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(work, exist_ok=True)
    try:
        t0 = time.perf_counter()
        spark, master, n = harness.start_session(
            work, f"perfbench-{args.workload}", ev_dir)
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark.sparkContext, run_id) if args.trace else None
        ctx = harness.Context(spark, work, args.seed, args.seconds, tracer)
        try:
            out = workload.run(ctx)
            out.e2e["peak_rss_mb"] = harness.peak_rss_mb(spark)
            if tracer is not None:
                tracer.count_jobs()
        finally:
            harness.stop_session(spark)
        out.info.insert(0, f"session master={master} nproc={n} "
                           f"shuffle_partitions={n} heap={harness.DRIVER_HEAP} "
                           f"start_s={session_s:.3f}")
        if tracer is not None:
            spans_path = os.path.join(base, "spans", f"{run_id}.jsonl")
            tracer.dump(spans_path)
            out.layers.update(workload.layer_metrics(
                out, tracer.spans, tracing.event_log_totals(ev_dir)))
            # a metric with no span behind it fails the run instead of
            # reading 0
            unmeasured = [m for m in workload.layer_names()
                          if m not in out.layers]
            out.check("trace_layers", not unmeasured,
                      f"no spans behind: {unmeasured}")
            out.info.extend(_span_summary(tracer.spans))
            out.info.append(f"spans written to {os.path.relpath(spans_path, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out.layers if args.trace else out.e2e
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing and not args.trace:
        raise RuntimeError(f"workload did not measure {missing}")
    # per-layer metrics of the other workload's layers read 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}
    n_bad = sum(1 for _, ok, _ in out.checks if not ok)
    attempted = out.attempted + len(out.checks)
    failed = out.failed + n_bad
    for line in out.info:
        print(f"perfbench: {line}")
    for name, ok, detail in out.checks:
        print(f"perfbench: check {name}: {'ok' if ok else 'MISMATCH'} {detail}")
    print(f"perfbench: failed_frac={failed / max(1, attempted):.4f} "
          f"({failed} of {attempted} operations and checks)")
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and bool(out.checks),
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def _span_summary(spans: list[dict]) -> list[str]:
    """Count, total and self seconds per span name, heaviest first."""
    from tracing import children, duration, self_time

    kids = children(spans)
    agg: dict[str, list[float]] = {}
    for s in spans:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0, 0])
        a[0] += 1
        a[1] += duration(s)
        a[2] += self_time(s, kids)
        a[3] += s.get("self_jobs", 0) or 0
    rows = sorted(agg.items(), key=lambda kv: -kv[1][1])
    return [f"span {name:<24} n={n:<4} total_s={tot:8.3f} self_s={own:8.3f} "
            f"self_jobs={jobs}" for name, (n, tot, own, jobs) in rows]


if __name__ == "__main__":
    sys.exit(main())
