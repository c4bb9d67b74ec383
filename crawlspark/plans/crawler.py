"""Multi-epoch crawl driver: init, epoch loop, resume, termination.

Maps the reference's job lifecycle (T1/T2/T7/T8/T11 in SURVEY.md §2.8):

* ``init_run``   — stage the frontier one file-set per priority stratum
                   (manual partition pruning, analog of the ordered strata
                   list /root/reference/src/infrastructure/github_api.py:221-462),
                   robots + budget dims, and commit snapshot 0.
* ``run_crawl``  — epoch loop; each epoch is one atomic snapshot commit, so a
                   kill between epochs resumes exactly (analog of last_cursor
                   checkpointing, /root/reference/src/application/use_cases.py:68-74).
* termination    — K consecutive epochs with zero progress (analog of the
                   empty-page / stratum-exhaustion logic, github_api.py:562-581).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators.bloom import latest_filter
from ..operators.dedup import robots_flag
from ..operators.recrawl import recrawl_pass
from ..tables import CommitConflictError, SnapshotStore, ordered_files
from .epoch import EpochResult, record_failed_epoch, run_epoch

# In-loop compaction is incremental (bin-pack): only files below this size
# are absorbed, so steady-state maintenance is O(new small files), never
# O(table).
COMPACT_SMALL_FILE_BYTES = 64 << 20
# url_seen is maintained key-hash BUCKETED (merge_buckets file-sets) so the
# TTL-recrawl forget is a bucket-scoped DELETE, never an O(table) rewrite.
# At production scale this is sized so one bucket ~ one task's worth of seen
# rows; a store keeps the count its first bucketing recorded.
USEEN_N_BUCKETS = 16


def init_run(spark: SparkSession, store: SnapshotStore, frontier: DataFrame,
             robots: DataFrame, budgets: DataFrame) -> None:
    """Commit snapshot 0: frontier split by priority (file-level partition
    pruning), broadcast dims, exact per-stratum remaining counts. The
    ``robots_denied`` flag is precomputed here (enqueue-time evaluation of
    the static per-run robots dim) so epoch scheduling never needs URL
    strings before materialization."""
    frontier = robots_flag(frontier, robots)
    counts = {int(r["priority"]): int(r["n"]) for r in
              frontier.groupBy("priority").agg(F.count("*").alias("n")).collect()}
    files_by_priority: dict[str, list[str]] = {}
    appends = {"frontier": stage_strata(store, frontier, files_by_priority),
               "robots": store.stage(robots, "robots")}
    replaces = {"politeness_budget": store.stage(budgets, "politeness_budget")}
    # Carry pre-init snapshot meta forward (the reference's setup order runs
    # migrations BEFORE init — migrations_applied must survive init), but
    # NOT crawl-lifecycle keys: re-initializing an existing store starts the
    # crawl state fresh (a stale fallback_added would silently disable
    # broadening on the new run).
    _CRAWL_KEYS = {"remaining_by_priority", "frontier_files_by_priority",
                   "last_epoch", "cum_terminal", "counters", "fallback_added"}
    prior_meta = {k: v for k, v in store.snapshot().meta.items()
                  if k not in _CRAWL_KEYS}
    store.commit(epoch=-1, appends=appends, replaces=replaces, meta={
        **prior_meta,
        "remaining_by_priority": {str(k): v for k, v in counts.items()},
        "frontier_files_by_priority": files_by_priority,
        "last_epoch": -1,
    })


def broaden_frontier(spark: SparkSession, store: SnapshotStore,
                     fallback: DataFrame) -> None:
    """T9: append broader, lower-priority strata to a drained frontier — the
    analog of the reference extending its search-query list with 8 broad
    fallback queries when all strata exhaust below target
    (/root/reference/src/infrastructure/github_api.py:588-604). One atomic
    commit: new stratum files + bumped remaining counters + the
    ``fallback_added`` flag (so a resumed run never re-broadens)."""
    snap = store.snapshot()
    fallback = robots_flag(fallback, store.read(spark, "robots"))
    counts = {int(r["priority"]): int(r["n"]) for r in
              fallback.groupBy("priority").agg(F.count("*").alias("n")).collect()}
    remaining = {int(k): int(v) for k, v in
                 snap.meta.get("remaining_by_priority", {}).items()}
    for p, n in counts.items():
        remaining[p] = remaining.get(p, 0) + n
    files_by_p = {k: list(v) for k, v in
                  snap.meta.get("frontier_files_by_priority", {}).items()}
    store.commit(
        epoch=int(snap.meta.get("last_epoch", -1)),
        appends={"frontier": stage_strata(store, fallback, files_by_p)},
        meta={**snap.meta,
              "remaining_by_priority": {str(k): v for k, v in remaining.items()},
              "frontier_files_by_priority": files_by_p,
              "fallback_added": True})


def stage_strata(store: SnapshotStore, rows: DataFrame,
                 pins: dict[str, list[str]]) -> list[str]:
    """Stage frontier rows one file per priority stratum, clustered by
    (host, seq), in one write. Appends each stratum's new files to ``pins``
    (a ``frontier_files_by_priority`` map) and returns them all."""
    staged = store.stage_groups(
        rows.withColumn("_stratum", F.col("priority")), "frontier",
        "_stratum", sort_cols=("host", "seq"))
    for p, fs in staged.items():
        pins[p] = pins.get(p, []) + fs
    return ordered_files(staged)


def compact_frontier_strata(spark: SparkSession, store: SnapshotStore,
                            target_files: int = 1) -> tuple | None:
    """Plan a frontier compaction WITHIN each priority's pinned file list
    (VERDICT r4 #6). The pin map (``frontier_files_by_priority``) grows by
    one file set per discovery batch / broadening, so a long-running ingest
    stream would put O(batches) files behind every epoch's pop scan, and
    generic compaction rightly refuses meta-pinned tables (the rewritten
    paths would dangle). Here each oversized stratum is rewritten into one
    file re-clustered by (host, seq), the layout init_run stages; strata
    at or under the target keep their exact files. A plan like
    ``SnapshotStore.compact``'s, with the rewritten pin map as its meta, so
    the file list and the pins land in the same commit."""
    snap = store.snapshot()
    files_by_p = {k: list(v) for k, v in
                  snap.meta.get("frontier_files_by_priority", {}).items()}
    oversized = [p for p in sorted(files_by_p, key=int)
                 if len(files_by_p[p]) > target_files]
    if not oversized:
        return None
    # label each stratum from its pin key, not a row column: the pin map,
    # not the rows, defines which stratum a file belongs to
    slice_df = None
    for p in oversized:
        part = (store.read_files(spark, "frontier", files_by_p[p])
                .withColumn("_stratum", F.lit(int(p))))
        slice_df = (part if slice_df is None else slice_df
                    .unionByName(part, allowMissingColumns=True))
    staged = store.stage_groups(slice_df, "frontier", "_stratum",
                                sort_cols=("host", "seq"))
    new_map = {**files_by_p, **{p: staged.get(p, []) for p in oversized}}
    pinned_before = {f for fs in files_by_p.values() for f in fs}
    # preserve any frontier files outside the pin map (there are none in the
    # current writers, but a foreign append must survive maintenance)
    unpinned = [f for f in snap.tables.get("frontier", [])
                if f not in pinned_before]
    return (ordered_files(new_map) + unpinned,
            {"frontier_files_by_priority": new_map},
            sum(len(files_by_p[p]) for p in oversized))


def maintain_store(spark: SparkSession, store: SnapshotStore,
                   cfg: CrawlConfig) -> dict[str, int]:
    """Between-epoch table maintenance, the only code that publishes it
    (the run loop and the CLI ``compact`` call it): plan every table's
    compaction, publish all the rewrites in ONE commit, then expire old
    snapshots. Storage-layer only — identical crawl results with or without
    it (loop-parity-tested). Returns the files absorbed per rewritten
    table ({} when the pass yields).

    ``url_seen`` is maintained BUCKETED (key-hash file-sets), which keeps
    the TTL-recrawl forget (operators.recrawl.forget_urls) a bucket-scoped
    DELETE instead of an O(table) rewrite at 10^10 seen rows.
    ``seen_filter`` is folded to its newest row per bucket.

    Each planner reads the current snapshot and the commit requires the
    store to still be at ``snap`` (Iceberg's base-snapshot validation), so
    every plan is against one snapshot. A commit landing in between
    (notably a streaming fold_batch, whose stream never redelivers) would
    otherwise be clobbered: its appends, pins and cursors. The pass then
    warns and yields, vacuum included, since a writer is active; the next
    pass replans and a later vacuum reclaims the staged files."""
    snap = store.snapshot()
    plans = {}
    for name in sorted(snap.tables):
        if name == "url_seen":
            # the first pass records the bucket spec; later passes keep the
            # recorded one, whatever its count (re-bucketing is offline)
            spec = (() if snap.meta.get("bucket_spec", {}).get(name)
                    else ("url_hash", USEEN_N_BUCKETS))
            plans[name] = store.compact_bucketed(spark, name, *spec)
        elif (name == "frontier"
                and snap.meta.get("frontier_files_by_priority")):
            # meta-pinned strata: compact within each priority's pin list
            plans[name] = compact_frontier_strata(
                spark, store, target_files=cfg.compact_target_files)
        else:
            try:
                plans[name] = store.compact(
                    spark, name, target_files=cfg.compact_target_files,
                    small_file_bytes=COMPACT_SMALL_FILE_BYTES,
                    transform=latest_filter if name == "seen_filter"
                    else None)
            except ValueError:
                continue   # other meta-pinned tables stay as-is
    plans = {name: plan for name, plan in plans.items() if plan is not None}
    if plans:
        meta = dict(snap.meta)
        for _, plan_meta, _ in plans.values():
            meta.update(plan_meta)
        try:
            store.commit(epoch=snap.epoch, meta=meta,
                         replaces={n: p[0] for n, p in plans.items()},
                         require_base=snap.commit_id)
        except CommitConflictError:
            warnings.warn(
                "maintain_store: a concurrent commit landed between planning "
                "and publish; yielding this maintenance pass (staged "
                "rewrite files left for vacuum)")
            return {}
    store.vacuum(keep_last=cfg.vacuum_keep_last)
    return {name: plan[2] for name, plan in plans.items()}


def run_crawl(spark: SparkSession, store: SnapshotStore, images: DataFrame,
              cfg: CrawlConfig, max_epochs: int = 1000,
              stop_after_empty: int | None = None,
              fallback: DataFrame | None = None,
              target_results: int | None = None) -> list[EpochResult]:
    """Run epochs from the last committed snapshot until the frontier drains
    (``stop_after_empty`` consecutive zero-progress epochs), ``max_epochs``,
    or exhaustion of remaining counters. Safe to call repeatedly — it resumes
    from wherever the previous call (or a crash) left off.

    ``fallback``: optional broader frontier strata folded in ONCE, at the
    moment the crawl would otherwise terminate, iff cumulative terminal
    results are still below ``target_results`` (T9; github_api.py:588-604).
    The fold-in is recorded in snapshot meta, so resume never re-applies it.

    An epoch that raises is recorded as a ``crawl_jobs`` row with
    status='failed' + error_message before the exception propagates (T11,
    use_cases.py:168-191); no data from the failed epoch is committed and
    ``last_epoch`` does not advance, so the next call retries it.

    When ``cfg.compact_every`` > 0, every that-many epochs the append-heavy
    tables are compacted and old snapshots vacuumed (the loop is the single
    writer, so between-epoch maintenance is race-free); a 10^5-epoch crawl
    keeps O(target_files) files per table instead of O(epochs).

    When ``cfg.recrawl_every`` > 0, every that-many epochs a TTL recrawl
    pass (operators/recrawl.recrawl_pass) forgets the oldest
    terminally-crawled URLs past ``recrawl_ttl_epochs`` so the loop
    re-fetches them — a refresh crawl. Re-admissions count as progress, so
    a refresh crawl runs until ``max_epochs`` rather than terminating on a
    drained frontier (the reference's update loop likewise never
    self-terminates, use_cases.py run_update_crawl)."""
    snap = store.snapshot()
    if snap.commit_id < 0:
        raise RuntimeError("store not initialized; call init_run first")
    if stop_after_empty is None:
        # a zero-progress streak must outlast the longest backoff gate, or the
        # loop would abandon rows still waiting in the retry queue
        stop_after_empty = max(cfg.backoff_max_epochs,
                               cfg.secondary_backoff_epochs) + 1
    start = int(snap.meta.get("last_epoch", -1)) + 1
    total_terminal = int(snap.meta.get("cum_terminal", 0))
    fallback_added = bool(snap.meta.get("fallback_added", False))
    results: list[EpochResult] = []
    empty_streak = 0
    epoch = start
    while epoch < start + max_epochs:
        try:
            res = run_epoch(spark, store, images, cfg, epoch)
        except Exception as exc:
            record_failed_epoch(store, epoch, exc)
            raise
        results.append(res)
        if cfg.compact_every and (epoch + 1) % cfg.compact_every == 0:
            maintain_store(spark, store, cfg)
        n_readmitted = 0
        if cfg.recrawl_every and (epoch + 1) % cfg.recrawl_every == 0:
            n_readmitted = recrawl_pass(spark, store, cfg, epoch)
        total_terminal += res.n_terminal
        progressed = (res.n_admitted + res.n_denied + n_readmitted) > 0
        empty_streak = 0 if progressed else empty_streak + 1
        if empty_streak >= stop_after_empty:
            if (fallback is not None and not fallback_added
                    and (target_results is None
                         or total_terminal < target_results)):
                broaden_frontier(spark, store, fallback)
                fallback_added = True
                empty_streak = 0
                epoch += 1
                continue
            break
        epoch += 1
    return results
