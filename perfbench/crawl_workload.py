"""``crawl_fixture``: a refresh crawl at test-fixture scale.

800 URLs over 40 Zipf hosts, batch 50, driven through
``plans.crawler.init_run`` and ``plans.crawler.run_crawl``. In-loop
maintenance (``compact_every``) and a short-TTL recrawl (``recrawl_every``)
run after every epoch, so the loop keeps re-admitting URLs instead of
draining. The operators touch tens of rows, so the time is the per-epoch
fixed cost plus the maintenance and forget passes.

Set-up: ``init_run`` on fresh stores (the median is ``setup_s``), then, on
the last store and untimed, epoch 0 with maintenance off. Epoch 0 of a store
runs on empty seen, retry and filter tables and is about half as many Spark
jobs as a later epoch, so it stays out of every measurement.

Timed region: ``run_crawl`` calls of one epoch each (the epoch, then
compaction and the recrawl pass; the loop resumes from the store), repeated
until ``--seconds`` have passed. A run always times at least one such step.
"""

from __future__ import annotations

import dataclasses
import os
import time

from harness import Context, Outcome, median, span
from tracing import children, duration, inclusive, self_time, subtree

SPEC = dict(n_images=60, n_urls=800, n_hosts=40, n_strata=4)
N_SETUPS = 3
STAGED_TABLES = ("crawl_log", "url_seen", "epoch_metrics", "seen_filter",
                 "politeness_budget", "retries")
TERMINAL = ("ok", "invalid_payload", "failed", "robots_denied")
# lazy plan builders called by run_epoch; their summed call time is epoch.plan_s
PLAN_BUILDERS = ("supersede", "not_seen", "admit_late_materialized",
                 "fetch_and_validate", "next_budgets")
# spans every run_epoch must contain; a missing one means a patch no longer
# sees the epoch's call (recrawl_pass also calls supersede and collect, so a
# count over the whole run would not show it)
EPOCH_SPANS = PLAN_BUILDERS + ("collect", "stage", "stage_pandas", "commit",
                               "snapshot", "updated_buckets")


def crawl_config():
    from crawlspark.config import CrawlConfig

    return CrawlConfig(batch_size=50, n_filter_buckets=8,
                       compact_every=1, compact_target_files=1,
                       vacuum_keep_last=2,
                       recrawl_every=1, recrawl_ttl_epochs=1)


def _dir_bytes(store, name: str) -> int:
    return sum(os.path.getsize(p) for p in store.files(name))


def _install_tracing(tracer) -> None:
    """Spans around the public functions each layer exposes."""
    import crawlspark.plans.crawler as crawler
    import crawlspark.plans.epoch as epoch_mod
    from crawlspark.operators import bloom, cuckoo, dedup, politeness
    from crawlspark.tables import SnapshotStore
    from pyspark.sql.classic.dataframe import DataFrame

    def files_written(rec, args, kwargs, out):
        rec["table"] = args[2] if len(args) > 2 else kwargs.get("name")
        rec["bytes"] = sum(os.path.getsize(os.path.join(args[0].root, f))
                           for f in out)

    def readmitted(rec, args, kwargs, out):
        rec["readmitted"] = int(out)

    tracer.patch(crawler, "maintain_store")
    tracer.patch(crawler, "recrawl_pass", annotate=readmitted)
    tracer.patch(SnapshotStore, "stage", annotate=files_written)
    tracer.patch(SnapshotStore, "stage_pandas", annotate=files_written)
    tracer.patch(SnapshotStore, "commit", jobs=False)
    tracer.patch(SnapshotStore, "snapshot", jobs=False)
    # both seen-filter backends, so the filter span survives a backend switch
    tracer.patch(bloom, "updated_buckets")
    tracer.patch(cuckoo, "updated_buckets")
    tracer.patch(dedup, "supersede")
    tracer.patch(dedup, "not_seen")
    tracer.patch(politeness, "admit_late_materialized")
    tracer.patch(politeness, "next_budgets")
    tracer.patch(epoch_mod, "fetch_and_validate")
    tracer.patch(DataFrame, "collect")
    tracer.patch(crawler, "run_epoch", count_around=True)


def run(ctx: Context) -> Outcome:
    import crawlspark.plans.crawler as crawler
    from crawlspark import datagen
    from crawlspark.tables import SnapshotStore
    from tests.crawl_fixtures import write_fixtures

    spark, out, cfg = ctx.spark, Outcome(), crawl_config()
    fx = os.path.join(ctx.work, "fixture")
    t0 = time.perf_counter()
    pdfs = write_fixtures(fx, datagen.GenSpec(seed=ctx.seed, **SPEC))
    out.info.append(f"datagen_s={time.perf_counter() - t0:.3f} "
                    f"(not in setup_s) urls={len(pdfs['frontier'])}")

    def read(name):
        return spark.read.parquet(os.path.join(fx, f"{name}.parquet"))

    # -- set-up: init_run on fresh stores, median reported -----------------
    setups, store = [], None
    for i in range(N_SETUPS):
        store = SnapshotStore(os.path.join(ctx.work, f"store{i}"))
        t0 = time.perf_counter()
        with span(ctx, "init_run"):
            crawler.init_run(spark, store, read("frontier"), read("robots"),
                             read("budgets"))
        setups.append(time.perf_counter() - t0)
    images = read("image_caption")
    t0 = time.perf_counter()
    warm = crawler.run_crawl(spark, store, images,
                             dataclasses.replace(cfg, compact_every=0,
                                                 recrawl_every=0),
                             max_epochs=1)
    out.info.append(f"untimed epoch 0: {time.perf_counter() - t0:.3f} s")

    # -- timed region: steady epochs -----------------------------------------
    walls, results = [], []
    real_run_epoch = crawler.run_epoch

    def timed_epoch(*args, **kwargs):
        t = time.perf_counter()
        res = real_run_epoch(*args, **kwargs)
        walls.append(time.perf_counter() - t)
        results.append(res)
        return res

    crawler.run_epoch = timed_epoch
    if ctx.tracer is not None:
        _install_tracing(ctx.tracer)
    crawl_s, overhead0 = 0.0, ctx.tracer.overhead_s if ctx.tracer else 0.0
    try:
        start = time.perf_counter()
        while time.perf_counter() - start < ctx.seconds:
            out.attempted += 1
            t = time.perf_counter()
            try:
                crawler.run_crawl(spark, store, images, cfg, max_epochs=1)
            except Exception as exc:  # a failed epoch is a result, not a crash
                out.failed += 1
                out.info.append(f"epoch failed: {exc!r}"[:300])
                break
            finally:
                crawl_s += time.perf_counter() - t
    finally:
        if ctx.tracer is not None:
            ctx.tracer.unpatch()
        crawler.run_epoch = real_run_epoch
    out.steps = len(walls)
    rows = sum(r.n_admitted + r.n_denied for r in results)
    out.e2e["setup_s"] = median(setups)
    out.e2e["step_s_p50"] = median(walls)
    out.e2e["work_per_s"] = rows / crawl_s if crawl_s > 0 else 0.0
    out.info.append(
        f"setup_s samples={[round(s, 3) for s in setups]}; "
        f"epochs={len(walls)} epoch_s={[round(w, 3) for w in walls]}; "
        f"crawl_log rows={rows} run_crawl_s={crawl_s:.3f}")
    if ctx.tracer is not None:
        out.layers["trace.overhead_s"] = (
            (ctx.tracer.overhead_s - overhead0) / max(1, len(walls)))

    # -- correctness (untimed) -------------------------------------------------
    # the first recrawl pass follows the first timed epoch
    _check(spark, store, cfg, pdfs, warm + results,
           results[0].epoch if results else warm[-1].epoch, out)
    if ctx.tracer is not None:
        _store_layers(spark, store, results, out)
    return out


def _store_layers(spark, store, results, out: Outcome) -> None:
    """Store sizes and EpochResult ratios for the per-layer report."""
    snap = store.snapshot()
    live = sum(_dir_bytes(store, t) for t in snap.tables)
    urls = store.read(spark, "crawl_log").select("url_hash").distinct().count()
    out.layers["store.bytes_per_url"] = live / urls if urls else 0.0
    out.layers["store.manifest_bytes"] = float(os.path.getsize(
        store._commit_path(snap.commit_id)))
    out.layers["filter.bytes"] = float(_dir_bytes(store, "seen_filter"))
    if results:
        n_adm = sum(r.n_admitted for r in results)
        out.layers["epoch.admitted"] = median(r.n_admitted for r in results)
        out.layers["epoch.denied"] = median(r.n_denied for r in results)
        out.layers["epoch.ok_frac"] = (sum(r.n_ok for r in results) / n_adm
                                       if n_adm else 0.0)


def _check(spark, store, cfg, pdfs, results, parity_last: int,
           out: Outcome) -> None:
    """Golden parity with ``CrawlOracle`` over epochs 0..``parity_last``
    (up to the first recrawl pass), then invariants over every epoch run."""
    from crawlspark.oracle.simulator import CrawlOracle

    log = store.read(spark, "crawl_log").toPandas()
    jobs = store.read(spark, "crawl_jobs").toPandas()
    epochs = [r.epoch for r in results]
    if not epochs:
        out.check("epochs_ran", False, "no epoch completed")
        return
    oracle = CrawlOracle(pdfs["frontier"], pdfs["robots"], pdfs["budgets"],
                         pdfs["image_caption"], cfg)
    for e in range(parity_last + 1):
        oracle.run_epoch(e)
    early = log[log["epoch"] <= parity_last]
    adm = early[early["admission_idx"].notna()]
    got = sorted((int(e), int(i), int(h)) for e, i, h in
                 zip(adm["epoch"], adm["admission_idx"], adm["url_hash"]))
    out.check("oracle_order", got == sorted(oracle.golden_order()),
              f"epochs 0..{parity_last}, {len(got)} admissions")
    seen = set(int(h) for h in early.loc[early["status"].isin(TERMINAL),
                                         "url_hash"])
    out.check("oracle_seen", seen == oracle.golden_seen(),
              f"{len(seen)} seen urls")

    term = early[early["status"].isin(TERMINAL)]
    out.check("terminal_once",
              not term["url_hash"].duplicated().any()
              and not log.duplicated(["epoch", "url_hash"]).any(),
              "one terminal row per url before the first forget, "
              "one row per url per epoch")
    cap = dict(zip(pdfs["budgets"]["host"], pdfs["budgets"]["capacity"]))
    per_host = (log[log["admission_idx"].notna()]
                .groupby(["epoch", "host"]).size())
    over = [(e, h, n) for (e, h), n in per_host.items() if n > cap.get(h, 0)]
    out.check("host_capacity", not over, f"over capacity: {over[:3]}")
    out.check("max_attempts", bool((log["attempt"] < cfg.max_attempts).all()))
    counts = log.groupby(["epoch", "status"]).size()
    bad = []
    done = jobs[jobs["status"] == "completed"].set_index("epoch")
    for r in results:
        c = {s: int(counts.get((r.epoch, s), 0)) for s in
             ("ok", "invalid_payload", "retry", "deferred", "failed",
              "robots_denied")}
        row = done.loc[r.epoch] if r.epoch in done.index else None
        want = (sum(c.values()), c["ok"], c["invalid_payload"] + c["failed"])
        have = (None if row is None else
                (int(row["records_processed"]), int(row["records_created"]),
                 int(row["records_updated"])))
        res = (r.n_admitted + r.n_denied, r.n_ok, r.n_invalid + r.n_failed)
        if have != want or res != want:
            bad.append((r.epoch, want, have, res))
    out.check("job_counters", not bad, f"mismatch: {bad[:2]}")


SPANNED = ("run_epoch", "maintain_store", "recrawl_pass", "init_run")
EVENT_LOG_KEYS = ("executor_run_s", "shuffle_write_bytes")


def layer_names() -> list[str]:
    """Every per-layer metric a traced run of this workload must report."""
    return ([f"epoch.{k}" for k in (
                "n", "jobs", "stages", "tasks", "jobs_around", "self_s",
                "collect_s", "collect_n", "plan_s", "collect_share",
                "stage_share", "filter_share", "admitted", "denied", "ok_frac")]
            + [f"store.{k}.{t}" for k in ("stage_s", "stage_jobs",
                                           "bytes_written")
               for t in STAGED_TABLES]
            + ["store.commit_s", "store.snapshot_s", "store.snapshot_n",
               "store.manifest_bytes", "store.bytes_per_url",
               "filter.update_s", "filter.bytes", "maintain.s",
               "maintain.jobs", "maintain.bytes_rewritten", "recrawl.s",
               "recrawl.readmitted", "trace.overhead_s", "trace.step_s_p50"]
            + [f"{n}.{k}" for n in SPANNED for k in EVENT_LOG_KEYS])


def layer_metrics(out: Outcome, spans: list[dict], ev: dict) -> dict:
    """Per-layer numbers from the traced run's spans and event log. A metric
    with no span (or no logged job) behind it is left out, not set to 0, so
    that a tracing miss shows as a missing metric."""
    kids = children(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    epochs = by_name.get("run_epoch", [])
    staged = {s.get("table") for s in by_name.get("stage", [])}
    m: dict[str, float] = {}

    def put(name: str, xs) -> None:
        xs = list(xs)
        if xs:
            m[name] = median(xs)

    def ev_sums(recs, key):
        """``key`` summed over the logged jobs of each span's subtree; spans
        whose subtree has no logged job are skipped."""
        for rec in recs:
            groups = [r["group"] for r in subtree(rec, kids) if r["group"] in ev]
            if groups:
                yield sum(ev[g][key] for g in groups)

    per_epoch: dict[str, list[float]] = {}
    tot = {"epoch": 0.0, "collect": 0.0, "stage": 0.0, "filter": 0.0}
    lacking: set[str] = set()
    for i, e in enumerate(epochs):
        sub = subtree(e, kids)
        lacking |= set(EPOCH_SPANS) - {s["name"] for s in sub}
        collects = [c for c in kids.get(e["id"], []) if c["name"] == "collect"]
        stages = [s for s in sub if s["name"] == "stage"]
        snaps = [s for s in sub if s["name"] == "snapshot"]
        spent = {"epoch": duration(e),
                 "collect": sum(map(duration, collects)),
                 "stage": sum(map(duration, stages)),
                 "filter": sum(duration(s) for s in sub
                               if s["name"] == "updated_buckets")}
        row = {
            "epoch.jobs": inclusive(e, kids, "self_jobs"),
            "epoch.stages": inclusive(e, kids, "self_stages"),
            "epoch.tasks": inclusive(e, kids, "self_tasks"),
            "epoch.jobs_around": e.get("jobs_around", 0),
            "epoch.self_s": self_time(e, kids),
            "epoch.collect_s": spent["collect"],
            "epoch.collect_n": len(collects),
            "epoch.plan_s": sum(duration(s) for s in sub
                                if s["name"] in PLAN_BUILDERS),
            "store.commit_s": sum(duration(s) for s in sub
                                  if s["name"] == "commit"),
            "store.snapshot_s": sum(map(duration, snaps)),
            "store.snapshot_n": len(snaps),
            "filter.update_s": spent["filter"],
        }
        for t in STAGED_TABLES:
            if t not in staged:
                continue
            mine = [s for s in stages if s.get("table") == t]
            row[f"store.stage_s.{t}"] = sum(map(duration, mine))
            row[f"store.stage_jobs.{t}"] = sum(inclusive(s, kids, "self_jobs")
                                               for s in mine)
            row[f"store.bytes_written.{t}"] = sum(s.get("bytes", 0) for s in mine)
        for k, v in row.items():
            per_epoch.setdefault(k, []).append(float(v))
        for k, v in spent.items():
            tot[k] += v
        out.info.append(
            f"epoch span {i}: s={spent['epoch']:.3f} jobs={row['epoch.jobs']} "
            f"jobs_around={row['epoch.jobs_around']} "
            f"stages={row['epoch.stages']} collect_s={spent['collect']:.3f} "
            f"stage_s={spent['stage']:.3f} "
            f"updated_buckets_s={spent['filter']:.3f}")
    out.check("trace_epoch_spans", epochs and not lacking,
              f"missing under run_epoch: {sorted(lacking)}")
    m.update({k: median(vs) for k, vs in per_epoch.items()})
    if epochs:
        for k in ("collect", "stage", "filter"):
            m[f"epoch.{k}_share"] = tot[k] / tot["epoch"]
        m["epoch.n"] = float(len(epochs))
    put("trace.step_s_p50", map(duration, epochs))

    for name in SPANNED:
        for key in EVENT_LOG_KEYS:
            put(f"{name}.{key}", ev_sums(by_name.get(name, []), key))
    maint = by_name.get("maintain_store", [])
    put("maintain.s", map(duration, maint))
    put("maintain.jobs", (inclusive(r, kids, "self_jobs") for r in maint))
    put("maintain.bytes_rewritten",
        (sum(s.get("bytes", 0) for s in subtree(r, kids) if s["name"] == "stage")
         for r in maint))
    recrawls = by_name.get("recrawl_pass", [])
    put("recrawl.s", map(duration, recrawls))
    if recrawls:
        m["recrawl.readmitted"] = float(sum(r.get("readmitted", 0)
                                            for r in recrawls))
    return m
