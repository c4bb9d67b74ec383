"""Multi-epoch crawl driver: init, epoch loop, resume, termination.

Maps the reference's job lifecycle (T1/T2/T7/T8/T11 in SURVEY.md §2.8):

* ``init_run``   — stage the frontier one file-set per priority stratum
                   (identity(priority) partitions, analog of the ordered strata
                   list /root/reference/src/infrastructure/github_api.py:221-462),
                   robots + budget dims, and commit snapshot 0.
* ``run_crawl``  — epoch loop; each epoch is one atomic snapshot commit, so a
                   kill between epochs resumes exactly (analog of last_cursor
                   checkpointing, /root/reference/src/application/use_cases.py:68-74).
* termination    — K consecutive epochs with zero progress (analog of the
                   empty-page / stratum-exhaustion logic, github_api.py:562-581).
"""

from __future__ import annotations

import os
import warnings

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..config import CrawlConfig
from ..operators.bloom import latest_filter
from ..operators.dedup import robots_flag
from ..operators.recrawl import recrawl_pass
from ..tables import (CommitConflictError, SnapshotStore, ordered_files,
                      partition_label)
from .epoch import EpochResult, record_failed_epoch, run_epoch

# In-loop compaction is incremental (bin-pack): only files below this size
# are absorbed, so steady-state maintenance is O(new small files), never
# O(table).
COMPACT_SMALL_FILE_BYTES = 64 << 20
# url_seen is partitioned bucket(url_hash, USEEN_N_BUCKETS) so the TTL-recrawl
# forget is a bucket-scoped DELETE, never an O(table) rewrite. At production
# scale this is sized so one bucket ~ one task's worth of seen rows; a store
# keeps the spec its first init_run recorded.
USEEN_N_BUCKETS = 16
# the frontier is partitioned identity(priority): an epoch reads only the
# strata its prefix rule selects; files are clustered by (host, seq)
FRONTIER_SPEC = {"key": "priority", "sort": ["host", "seq"]}


def init_run(spark: SparkSession, store: SnapshotStore, frontier: DataFrame,
             robots: DataFrame, budgets: DataFrame) -> None:
    """Commit snapshot 0: frontier split by priority (file-level partition
    pruning), broadcast dims, exact per-stratum remaining counts, and the
    partition specs of ``frontier`` and ``url_seen``. The ``robots_denied``
    flag is precomputed here (enqueue-time evaluation of the static per-run
    robots dim) so epoch scheduling never needs URL strings before
    materialization. Re-running it on a store replaces the frontier, robots
    and budgets."""
    files, counts = stage_strata(store, robots_flag(frontier, robots))
    replaces = {"frontier": files,
                "robots": store.stage(robots, "robots"),
                "politeness_budget": store.stage(budgets, "politeness_budget")}
    # Carry pre-init snapshot meta forward (the reference's setup order runs
    # migrations BEFORE init — migrations_applied must survive init), but
    # NOT crawl-lifecycle keys: re-initializing an existing store starts the
    # crawl state fresh (a stale fallback_added would silently disable
    # broadening on the new run). A recorded partition spec wins: the
    # files it labelled may still be live.
    _CRAWL_KEYS = {"remaining_by_priority", "last_epoch", "cum_terminal",
                   "counters", "fallback_added"}
    prior_meta = {k: v for k, v in store.snapshot().meta.items()
                  if k not in _CRAWL_KEYS}
    store.commit(epoch=-1, replaces=replaces, meta={
        **prior_meta,
        "partition_spec": {
            "frontier": FRONTIER_SPEC,
            "url_seen": {"key": "url_hash", "n": USEEN_N_BUCKETS},
            **prior_meta.get("partition_spec", {})},
        "remaining_by_priority": {str(k): v for k, v in counts.items()},
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
    files, counts = stage_strata(
        store, robots_flag(fallback, store.read(spark, "robots")))
    remaining = {int(k): int(v) for k, v in
                 snap.meta.get("remaining_by_priority", {}).items()}
    for p, n in counts.items():
        remaining[p] = remaining.get(p, 0) + n
    store.commit(
        epoch=int(snap.meta.get("last_epoch", -1)),
        appends={"frontier": files},
        meta={**snap.meta,
              "remaining_by_priority": {str(k): v for k, v in remaining.items()},
              "fallback_added": True})


def stage_strata(store: SnapshotStore,
                 rows: DataFrame) -> tuple[list[str], dict[int, int]]:
    """Stage frontier rows one file per priority stratum (``FRONTIER_SPEC``),
    clustered by (host, seq), in one write. Returns the files and each
    stratum's row count, read from the staged files' parquet footers, so
    counting the enqueue costs no Spark job."""
    staged = store.stage_groups(
        rows.withColumn("_stratum", partition_label(FRONTIER_SPEC)),
        "frontier", "_stratum", sort_cols=FRONTIER_SPEC["sort"])
    counts = {int(p): sum(pq.ParquetFile(os.path.join(store.root, f))
                          .metadata.num_rows for f in fs)
              for p, fs in staged.items()}
    return ordered_files(staged), counts


def maintain_store(spark: SparkSession, store: SnapshotStore,
                   cfg: CrawlConfig) -> dict[str, int]:
    """Between-epoch table maintenance, the only code that publishes it
    (the run loop and the CLI ``compact`` call it): plan every table's
    ``SnapshotStore.compact``, publish all the rewrites in ONE commit, then
    expire old snapshots. Storage-layer only — identical crawl results with
    or without it (loop-parity-tested). Returns the files absorbed per
    rewritten table ({} when the pass yields).

    A partitioned table (``frontier`` by priority, ``url_seen`` by url_hash
    bucket, as recorded by ``init_run``) has its loose rows homed and its
    oversized partitions rewritten, which keeps the TTL-recrawl forget
    (operators.recrawl.forget_urls) a bucket-scoped DELETE instead of an
    O(table) rewrite at 10^10 seen rows. Other tables are bin-packed, and
    ``seen_filter`` is folded to its newest row per bucket.

    Each planner reads the current snapshot and the commit requires the
    store to still be at ``snap`` (Iceberg's base-snapshot validation), so
    every plan is against one snapshot. A commit landing in between
    (notably a streaming fold_batch, whose stream never redelivers) would
    otherwise be clobbered: its appends and cursors. The pass then warns
    and yields, vacuum included, since a writer is active; the next pass
    replans and a later vacuum reclaims the staged files."""
    snap = store.snapshot()
    plans = {}
    for name in sorted(snap.tables):
        plan = store.compact(
            spark, name, target_files=cfg.compact_target_files,
            small_file_bytes=COMPACT_SMALL_FILE_BYTES,
            transform=latest_filter if name == "seen_filter" else None)
        if plan is not None:
            plans[name] = plan
    if plans:
        try:
            store.commit(epoch=snap.epoch, meta=snap.meta,
                         replaces={n: p[0] for n, p in plans.items()},
                         require_base=snap.commit_id)
        except CommitConflictError:
            warnings.warn(
                "maintain_store: a concurrent commit landed between planning "
                "and publish; yielding this maintenance pass (staged "
                "rewrite files left for vacuum)")
            return {}
    store.vacuum(keep_last=cfg.vacuum_keep_last)
    return {name: plan[1] for name, plan in plans.items()}


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
