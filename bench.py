"""Benchmark entry (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<key>": sec, ...}, "sf": 0.1,
   "frontier": {"n_urls": N, "urls_per_sec": ..., "wall_s": ...},
   "cpus": C}

The ``frontier`` block is the BASELINE.json north metric — frontier URLs
scheduled+deduped/sec — measured over a lazily generated synthetic frontier
(``spark.range`` + column exprs; nothing materialized up front, so the same
generator scales to 10^10 rows on a real cluster) pushed through the REAL
engine operators: first-seen supersede dedup (window), exact anti-join vs a
seen set, and salted per-host token-bucket admission (crawlspark.operators).

``--frontier-only`` mode (used by ``tools/bench_scaling.py``) runs just the
frontier job at an explicit parallelism so two runs at N and 4N cores can
evidence the north_rule's scaling-efficiency criterion in-sandbox.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: driver-contract queries timed at sf0.1 — the crawl-engine signature plans
#: plus the heaviest training-data ops (dedup family, ANN, text analysis).
HEADLINE = [
    "priority_pop", "dedup_seen", "upsert_merge", "mv_stats", "topk_stars",
    "scalar_suite", "dedup_exact", "dedup_minhash", "dedup_minhash_verified",
    "dedup_simhash", "dedup_phash", "ann_bruteforce", "ann_ivf",
    "quality_score", "multimodal_pipeline",
]

N_HOSTS = 100_000
N_STRATA = 8
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _url_expr(idcol, salt: int = 0):
    """URL string for a frontier id — host drawn log-uniform (Zipf-ish skew:
    low host ids dominate, mirroring a real web frontier / the reference's
    broad strata at github_api.py:460). ``salt`` varies the host draw so
    repeated bench runs have distinct lineage (defeats shuffle-file reuse,
    which would skip the map stages being measured)."""
    u = F.pmod(F.xxhash64(idcol, F.lit(f"host{salt}")), F.lit(1_000_000)) / 1_000_000.0
    host_id = F.least(
        F.lit(N_HOSTS - 1),
        F.floor(F.pow(F.lit(float(N_HOSTS)), u)) - 1).cast("long")
    host = F.concat(F.lit("host"), F.lpad(host_id.cast("string"), 6, "0"),
                    F.lit(".example.com"))
    url = F.concat(F.lit("http://"), host, F.lit("/img/img_"),
                   F.lpad(idcol.cast("string"), 12, "0"))
    return url, host


def synth_frontier(spark: SparkSession, n: int, salt: int = 0) -> DataFrame:
    """Lazy synthetic frontier: ~10% exact duplicates (ids ending in 9 repeat
    the url of id-9), Zipf-skewed hosts, 8 priority strata. Pure column exprs
    over ``spark.range`` — generation cost is part of the scan, and the full
    set is never materialized driver-side (SURVEY.md §7 hard part 6)."""
    dup_of = (F.when(F.pmod(F.col("id"), 10) == 9, F.col("id") - 9)
              .otherwise(F.col("id")))
    url, host = _url_expr(dup_of, salt)
    return (spark.range(n)
            .withColumn("url", url)
            .withColumn("url_hash", F.xxhash64(F.col("url")))
            .withColumn("host", host)
            .withColumn("host_hash", F.xxhash64(F.col("host")))
            .withColumn("priority",
                        F.pmod(F.xxhash64(dup_of, F.lit("p")),
                               F.lit(N_STRATA)).cast("int"))
            .withColumn("seq", dup_of.cast("long"))
            .withColumn("attempt", F.lit(0).cast("int"))
            .withColumn("not_before_epoch", F.lit(0).cast("int"))
            .drop("id"))


def synth_seen(spark: SparkSession, n_frontier: int, salt: int = 0) -> DataFrame:
    """url_seen covering 10% of the URL id space (every id ≡ 4 mod 10 — ids
    that are never dup targets, so the anti-join prunes real work)."""
    idcol = (F.col("id") * 10 + 4).cast("long")
    url, _ = _url_expr(idcol, salt)
    return (spark.range(n_frontier // 10)
            .select(F.xxhash64(url).alias("url_hash")))


def synth_budgets(spark: SparkSession) -> DataFrame:
    caps = F.array(F.lit(4), F.lit(8), F.lit(16), F.lit(32))
    cap = F.element_at(caps, (F.pmod(F.xxhash64("id"), F.lit(4)) + 1).cast("int"))
    host = F.concat(F.lit("host"), F.lpad(F.col("id").cast("string"), 6, "0"),
                    F.lit(".example.com"))
    return (spark.range(N_HOSTS)
            .select(
                host.alias("host"),
                # pre-keyed hash column, consistent with synth_frontier, so
                # admit(host_key="host_hash") joins without re-deriving
                F.xxhash64(host).alias("host_hash"),
                cap.cast("int").alias("capacity"),
                F.greatest(F.lit(1), (cap / 2).cast("int")).alias("refill_per_epoch"),
                cap.cast("int").alias("tokens"),
                F.lit(0).cast("int").alias("backoff_until_epoch")))


def bench_frontier(spark: SparkSession, n: int, batch_size: int = 10_000,
                   salt: int = 0) -> dict:
    """The north-metric job: schedule+dedup the whole synthetic frontier
    through the real operators; throughput = n / wall. ``batch_size`` matches
    the reference's default epoch batch (config.py:21 -> 10000)."""
    from crawlspark.operators import dedup, politeness

    frontier = synth_frontier(spark, n, salt)
    url_seen = synth_seen(spark, n, salt)
    budgets = synth_budgets(spark)

    t0 = time.perf_counter()
    # Late materialization: schedule on compact keys (~48 B/row) so URL/host
    # strings never enter the two shuffles — the 10^10-scale design where
    # scheduling moves 4x less data than row-at-a-time would.
    compact = frontier.select("url_hash", "host_hash", "priority", "seq",
                              "attempt", "not_before_epoch")
    cand = dedup.supersede(compact)                        # first-seen dedup
    # attempt/not_before_epoch are admission GATES, applied before the pop
    # (epoch.py filters them ahead of admit); past supersede they carry no
    # information, so drop them before the anti-join + admission shuffles —
    # ~32 B/row instead of ~48 B/row through both shuffle exchanges
    cand = cand.select("url_hash", "host_hash", "priority", "seq")
    fresh = cand.join(url_seen, "url_hash", "left_anti")   # persistent seen set
    admitted = politeness.admit(fresh, budgets, epoch=0, batch_size=batch_size,
                                host_key="host_hash")
    # materialize url/host for the admitted batch only (broadcast semi-join
    # back into the frontier scan; dups collapse to one row per url_hash)
    batch = (frontier
             .join(F.broadcast(admitted.select("url_hash")), "url_hash", "left_semi")
             .dropDuplicates(["url_hash"]))
    n_admitted = batch.count()
    wall = time.perf_counter() - t0
    return {"n_urls": n, "n_admitted": n_admitted, "wall_s": round(wall, 3),
            "urls_per_sec": round(n / wall, 1)}


def run_headline(spark: SparkSession) -> dict:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # untimed warm-up (JIT/codegen/FS metadata) so the first key isn't
    # charged for session warm-up
    (spark.read.parquet(f"{SF_DIR}/orders.parquet")
     .limit(1000).write.format("noop").mode("overwrite").save())
    # fork the Python worker daemon once so the mapInPandas queries measure
    # Arrow+decode throughput, not one-time worker cold-start
    (spark.range(64).repartition(8)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    # min-of-REPS per query (post-warmup): single-shot 1-2 s timings sit at
    # the stage-launch-noise floor and can't separate host co-tenancy from
    # code drift (r4's regression adjudication needed a manual same-box A/B);
    # the min over 3 reps is the code's cost on this box, not the noise's
    times: dict[str, float] = {}
    for key in HEADLINE:
        if key not in qs:
            continue
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            df = qs[key](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[key] = round(best, 3)
    return times


def latest_round_bench() -> dict | None:
    """Most recent driver-recorded BENCH_r{N}.json — the per-round ledger the
    current run is compared against (a query regressing >1.25x vs the prior
    round is flagged in the output)."""
    repo = os.path.dirname(os.path.abspath(__file__))
    # only the round ledgers BENCH_r<N>.json, newest round first — not the
    # BENCH_r<N>_<tag>.json side files (frozen/control copies)
    rounds = sorted(
        (int(m.group(1)), m.group(0)) for m in
        (re.fullmatch(r"BENCH_r(\d+)\.json", f) for f in os.listdir(repo))
        if m)
    for _, name in reversed(rounds):
        path = os.path.join(repo, name)
        with open(path) as fh:
            d = json.load(fh)
        if "queries" not in d and isinstance(d.get("parsed"), dict):
            d = d["parsed"]  # driver wraps the bench line under "parsed"
        if d.get("queries"):  # skip rounds the driver failed to parse (r4)
            d["_file"] = name
            return d
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--frontier-only", type=int, default=0, metavar="N_URLS",
                    help="run only the frontier job over N_URLS rows")
    ap.add_argument("--cpus", type=int, default=None,
                    help="cores for local[N] (default: SparkTuning's)")
    ap.add_argument("--master", type=str, default="",
                    help="master override, e.g. local-cluster[4,2,6144] "
                         "(real executor JVMs; used for the N vs 4N "
                         "executor scaling evidence)")
    ap.add_argument("--frontier-urls", type=int, default=10_000_000)
    ap.add_argument("--runs", type=int, default=2,
                    help="measured repetitions in --frontier-only mode (min wins)")
    args = ap.parse_args()

    from crawlspark.config import SparkTuning
    from crawlspark.session import get_spark

    extra = {}
    if args.frontier_only:
        # shuffle-path tuning for the scaling measurement: bigger in-flight
        # fetch window + larger map-side write buffers cut per-block overhead
        # on the (compressed, compact-key) shuffles being measured
        extra["spark.reducer.maxSizeInFlight"] = "96m"
        extra["spark.shuffle.file.buffer"] = "1m"
        # zstd over lz4: this box's scaling wall is SHARED memory bandwidth
        # (BENCH.md), so trading CPU for smaller shuffle blocks raises
        # wall-clock at the bandwidth-bound 4N level (~5% measured A/B)
        extra["spark.io.compression.codec"] = "zstd"
    if args.master.startswith("local-cluster"):
        # local-cluster[n,c,mem]: n separate executor JVMs with c cores each
        n_exec, n_cores, mem_mb = [
            int(x) for x in args.master.split("[")[1].rstrip("]").split(",")]
        args.cpus = n_exec * n_cores
        extra["spark.executor.memory"] = f"{max(1024, mem_mb - 512)}m"
    tuning = SparkTuning.for_cpus(
        args.cpus, app_name="crawlspark-bench", extra=extra,
        **({"master": args.master} if args.master else {}))
    args.cpus = tuning.shuffle_partitions
    spark = get_spark(tuning)
    spark.sparkContext.setLogLevel("ERROR")

    if args.frontier_only:
        # AQE off for the scaling measurement: its per-stage driver
        # re-planning is a fixed serial cost (~25% wall at this scale) that
        # the fixed-shape frontier job doesn't need — partition counts are
        # chosen explicitly
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # one JIT warm-up pass at 1/10 scale so codegen/JIT cost doesn't
        # pollute the scaling-efficiency comparison, then best-of-2 with a
        # per-run generator salt: each run has fresh lineage, so shuffle-file
        # reuse can't skip the map stages being measured
        bench_frontier(spark, max(100_000, args.frontier_only // 20), salt=99)
        fr = min((bench_frontier(spark, args.frontier_only, salt=i)
                  for i in range(args.runs)),
                 key=lambda r: r["wall_s"])
        print(json.dumps({"cpus": args.cpus, **fr}))
        return

    queries = run_headline(spark)
    fr = bench_frontier(spark, args.frontier_urls)
    # ONE compact machine JSON line, printed LAST and ALONE on stdout: the
    # driver records the tail of the run, and r4's line (inline notes +
    # regression blocks, ~2.3 KB) overflowed its capture window, leaving
    # BENCH_r04.json with "parsed": null. Prose context lives in BENCH.md;
    # the cross-round regression diff goes to stderr for humans.
    out = {
        "metric": "frontier URLs scheduled+deduped/sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "reps": REPS,                # per-query time = min over REPS runs
        "queries": queries,
        "sf": _sf_of(SF_DIR),
        "frontier": fr,
        "cpus": args.cpus,
    }
    prev = latest_round_bench()
    if prev is not None and prev.get("queries"):
        regressions = {}
        for k, t in queries.items():
            p = prev["queries"].get(k)
            if p and t > 1.25 * p:
                regressions[k] = {"prev_s": p, "now_s": t,
                                  "ratio": round(t / p, 2)}
        print(json.dumps({
            "vs_prev_round": {
                "file": prev["_file"],
                "prev_total_s": prev.get("value"),
                "regressions_gt_1.25x": regressions,
            }}, indent=1), file=sys.stderr)
    line = json.dumps(out)
    assert len(line) < 1200, f"bench line {len(line)}B risks the tail window"
    print(line)


if __name__ == "__main__":
    main()
