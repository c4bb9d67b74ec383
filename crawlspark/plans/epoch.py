"""One crawl epoch, cut at two materialization points (SURVEY.md §7 M1/M2/M3).

The reference's async page loop (/root/reference/src/infrastructure/
github_api.py:467-686 driving /root/reference/src/application/
use_cases.py:77-141) becomes a deterministic batch pipeline:

  pruned frontier scan ∪ retries
    -> supersede (one row per url_hash; retry copy wins)        [J2/J3]
    -> seen-filter probe + exact anti-join vs url_seen          [V2/J2]
    -> robots split (broadcast dim)                             [north_rule]
    -> backoff gate (not_before_epoch <= epoch)                 [T4/T5]
    -> token-bucket admission, global (priority, seq) order     [O1/T3]
  == materialization point 1: admitted + robots-denied keys ==
    -> string materialization for the scheduled key set
    -> deterministic fetch outcomes                             [T5/T6]
    -> payload validation vs the image+caption table            [V4/V5]
    -> one final status per row (a single CASE)
  == materialization point 2: the epoch rows ==
    -> ONE atomic commit: crawl_log, url_seen, retries,
       seen_filter, epoch_metrics, crawl_jobs(+meta), budgets   [S7/S13/T11]

The two materialization points are parquet files staged under the
``epoch_scratch`` table (never committed) and read back as plain scans.
Spark copies a reused subplan into every query that uses it, so without the
cut each of the epoch's writes and collects re-planned the whole upstream
DAG, and re-ran whatever of it was not cached. ``persist`` leaves the plan whole, and
``localCheckpoint`` was seen to duplicate retry-sourced rows; a file scan
is a real cut. The scratch files are deleted when the epoch ends, and
``SnapshotStore.vacuum`` reclaims them after a crash.

Scale levers (explicit, per north_rule):
  * **priority partition pruning** — the frontier is partitioned
    identity(priority), one file-set per stratum; an epoch reads only the shortest stratum prefix whose remaining
    row budget covers 2x batch_size (the prefix rule is part of the defined
    semantics: the oracle applies the identical rule, so parity holds).
    The rest of a 10^10-row frontier is never touched.
  * **salted two-phase per-host top-k** in admission (politeness.admit),
    with **late materialization**: the admission shuffles carry compact
    hashed keys only; URL/host strings rejoin after the first spill, for the
    scheduled key set only.
  * **seen-filter negative cache** (bloom or cuckoo) in front of the exact
    seen anti-join.
  * budgets and robots are **broadcast**; the popped batch is broadcast into
    the image-table join.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig, choose_prefix
from ..operators import dedup, politeness
from ..operators.validate import (OUTCOME_DEFERRED, OUTCOME_FETCHED,
                                  OUTCOME_RETRY, fetch_and_validate,
                                  outcome_col)
from ..tables import SnapshotStore, partition_state

BASE_TS = "2026-01-01 00:00:00"

LOG_COLS = ["epoch", "admission_idx", "url_hash", "url", "host", "image_id",
            "status", "attempt", "psnr_db", "caption_ok", "phash_ok",
            "fetched_at"]

FRONTIER_COLS = ["url", "url_hash", "host", "host_hash", "priority", "seq",
                 "image_id", "attempt", "not_before_epoch", "discovered_at"]

# scheduling columns (~36 B/row): everything up to admission runs on these
COMPACT_COLS = ["url_hash", "host_hash", "priority", "seq", "attempt",
                "not_before_epoch"]
# string/payload columns read back only for the admitted + denied key set
MATERIAL_COLS = ["url_hash", "url", "host", "image_id", "discovered_at"]

TERMINAL = ("ok", "invalid_payload", "failed", "robots_denied")
# per-epoch spill files: staged, read back, deleted — never committed
SCRATCH = "epoch_scratch"


def _job_schema():
    """Fixed arrow schema for crawl_jobs rows: completed and failed rows must
    stay column-compatible (the table is read as one parquet file set)."""
    import pyarrow as pa

    return pa.schema([
        ("job_id", pa.int64()), ("epoch", pa.int64()),
        ("status", pa.string()),
        ("records_processed", pa.int64()), ("records_created", pa.int64()),
        ("records_updated", pa.int64()), ("input_files", pa.string()),
        ("error_message", pa.string()),
    ])


def record_failed_epoch(store: SnapshotStore, epoch: int,
                        error: BaseException | str) -> None:
    """T11 failure half: persist a crawl_jobs row with status='failed' +
    error_message WITHOUT committing any data appends, so a user inspecting
    crawl_jobs can tell crash from not-run while resumability is untouched
    (ref: use_cases.py:168-191 finalizes status=failed with error_message;
    database.py:396-419 persists it). Meta is carried over unchanged —
    last_epoch does not advance, so the next run_crawl retries this epoch."""
    snap = store.snapshot()
    job_row = pd.DataFrame([{
        "job_id": epoch, "epoch": epoch, "status": "failed",
        "records_processed": 0, "records_created": 0, "records_updated": 0,
        "input_files": "", "error_message": str(error)[:1000],
    }])
    store.commit(
        epoch,
        appends={"crawl_jobs": store.stage_pandas(job_row, "crawl_jobs",
                                                  schema=_job_schema())},
        meta=snap.meta)


@dataclass
class EpochResult:
    epoch: int
    n_candidates: int = 0
    n_admitted: int = 0
    n_denied: int = 0
    n_ok: int = 0
    n_invalid: int = 0
    n_retry: int = 0
    n_deferred: int = 0
    n_failed: int = 0
    p_max: int = 0
    remaining_by_priority: dict = field(default_factory=dict)

    @property
    def n_terminal(self) -> int:
        return self.n_ok + self.n_invalid + self.n_failed + self.n_denied


def _ts(epoch: int):
    return F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(secs=F.lit(epoch))


def _spill(spark: SparkSession, store: SnapshotStore, df: DataFrame,
           scratch: list[str]) -> DataFrame:
    """Write ``df`` to the scratch table and return a scan of the files, so
    later plans start from a file read instead of ``df``'s whole plan.
    The staged paths are added to ``scratch`` for the caller to discard."""
    files = store.stage(df, SCRATCH)
    scratch.extend(files)
    return spark.read.parquet(*[os.path.join(store.root, f) for f in files])


def run_epoch(spark: SparkSession, store: SnapshotStore, images: DataFrame,
              cfg: CrawlConfig, epoch: int) -> EpochResult:
    snap = store.snapshot()
    remaining = {int(k): int(v)
                 for k, v in snap.meta.get("remaining_by_priority", {}).items()}
    # the frontier's strata are its partitions: labels on the files, so a
    # file appended under a stale committer's meta stays poppable
    strata, _ = partition_state(snap, "frontier")

    p_max = choose_prefix(remaining, cfg.batch_size)
    files = [f for p in sorted(strata or {}, key=int)
             if int(p) <= p_max and remaining.get(int(p), 0) > 0
             for f in strata[p]]
    res = EpochResult(epoch=epoch, p_max=p_max, remaining_by_priority=dict(remaining))

    # -- COMPACT scheduling read: every stage up to admission runs on hashed
    # keys + small ints only (parquet column pruning keeps URL/host strings
    # on disk); strings are read back below for the admitted + denied rows
    # only. robots_denied was precomputed at enqueue time (crawler.init_run /
    # ingest fold-in / broadening — the robots dim is static per run).
    frontier_paths = [os.path.join(store.root, f) for f in files]
    pending = None
    if files:
        pending = (spark.read.parquet(*frontier_paths)
                   .select(*COMPACT_COLS, "robots_denied")
                   .withColumn("src", F.lit("frontier")))
    retries_raw = store.read(spark, "retries")
    if retries_raw is not None:
        retries = (retries_raw
                   .select(*COMPACT_COLS)
                   # re-enqueued rows were robots-allowed by construction
                   .withColumn("robots_denied", F.lit(False))
                   .withColumn("src", F.lit("retry")))
        pending = retries if pending is None else pending.unionByName(retries)
    if pending is None:
        return res

    url_seen = store.read(spark, "url_seen")
    seen_filter = store.read(spark, "seen_filter")
    budgets = store.read(spark, "politeness_budget")

    cand = dedup.supersede(pending)
    cand = dedup.not_seen(cand, url_seen, seen_filter, cfg)
    cand = cand.filter(F.col("attempt") < cfg.max_attempts)
    gated = cand.filter(~F.col("robots_denied")
                        & (F.col("not_before_epoch") <= epoch))
    admitted_c = politeness.admit_late_materialized(
        gated, budgets, epoch, cfg.batch_size)

    scratch: list[str] = []
    try:
        # -- materialization point 1: the scheduling result. Admitted rows
        # carry admission_idx and their fetch outcome, robots-denied rows
        # NULL for both; the robots_denied column is the flag. Every later
        # plan starts from this file scan instead of re-planning supersede,
        # the seen gate and admission once per consumer.
        sched = _spill(spark, store, admitted_c
                       .withColumn("outcome", outcome_col(cfg, epoch))
                       .unionByName(cand.filter(F.col("robots_denied")),
                                    allowMissingColumns=True),
                       scratch)

        # -- string materialization: second column-pruned scan of the same
        # frontier files (+ the small retries table), semi-joined down to
        # the scheduled key set. At scale this reads string columns for a
        # few percent of the slice instead of shuffling them through the
        # dedup agg and both admission sorts. The supersede order columns
        # ride along so the duplicate-copy dedupe picks the SAME winner
        # dedup.supersede picked: canonicalization twins share url_hash but
        # differ in raw url/discovered_at.
        mat_cols = MATERIAL_COLS + ["attempt", "not_before_epoch",
                                    "priority", "seq"]
        strings = None
        if files:
            strings = spark.read.parquet(*frontier_paths).select(*mat_cols)
        if retries_raw is not None:
            rs = retries_raw.select(*mat_cols)
            strings = rs if strings is None else strings.unionByName(rs)
        strings = (strings.join(sched.select("url_hash"), "url_hash",
                                "left_semi")
                   .groupBy("url_hash")
                   .agg(F.max_by(F.struct(*MATERIAL_COLS),
                                 dedup.supersede_key()).alias("_w"))
                   .select("_w.*"))
        rows = sched.join(strings, "url_hash")
        fetched = rows.filter(F.col("outcome") == OUTCOME_FETCHED)
        checks = fetch_and_validate(fetched, images).select(
            "url_hash",
            # NULL for lossless fmts
            F.when(F.isnan("psnr_db"), F.lit(None).cast("double"))
            .otherwise(F.col("psnr_db")).alias("psnr_db"),
            "caption_ok", "phash_ok", "valid")
        transient = F.col("outcome") == OUTCOME_RETRY
        status = (F.when(F.col("robots_denied"), F.lit("robots_denied"))
                  .when(transient & (F.col("attempt") + 1 >= cfg.max_attempts),
                        F.lit("failed"))
                  .when(transient, F.lit("retry"))
                  .when(F.col("outcome") == OUTCOME_DEFERRED,
                        F.lit("deferred"))
                  .when(F.col("valid"), F.lit("ok"))
                  .otherwise(F.lit("invalid_payload")))

        # -- materialization point 2: one row per scheduled URL with its
        # final status. crawl_log, url_seen, retries, politeness_budget,
        # epoch_metrics and the counters are all projections of this scan.
        erows = _spill(spark, store, rows.join(checks, "url_hash", "left")
                       .select("url_hash", "host_hash", "url", "host",
                               "image_id", "priority", "seq", "attempt",
                               "src", "admission_idx", "discovered_at",
                               status.alias("status"), "psnr_db",
                               "caption_ok", "phash_ok"),
                       scratch)

        # ---- counters: one collect ------------------------------------------
        by_status: dict[str, int] = {}
        consumed: dict[int, int] = {}
        for r in (erows.groupBy("status", "src", "priority")
                  .agg(F.count("*").alias("n")).collect()):
            by_status[r["status"]] = by_status.get(r["status"], 0) + r["n"]
            # remaining decrement: frontier-sourced rows left their stratum
            if r["src"] == "frontier":
                p = int(r["priority"])
                consumed[p] = consumed.get(p, 0) + r["n"]
        res.n_ok = by_status.get("ok", 0)
        res.n_invalid = by_status.get("invalid_payload", 0)
        res.n_retry = by_status.get("retry", 0)
        res.n_deferred = by_status.get("deferred", 0)
        res.n_failed = by_status.get("failed", 0)
        res.n_denied = by_status.get("robots_denied", 0)
        res.n_admitted = (res.n_ok + res.n_invalid + res.n_retry
                          + res.n_deferred + res.n_failed)
        for p, n in consumed.items():
            remaining[p] = max(0, remaining.get(p, 0) - n)
        res.remaining_by_priority = remaining

        # ---- crawl_log ------------------------------------------------------
        crawl_log = erows.select(
            F.lit(epoch).cast("int").alias("epoch"),
            F.col("admission_idx").cast("long").alias("admission_idx"),
            "url_hash", "url", "host", "image_id", "status",
            F.col("attempt").cast("int").alias("attempt"),
            "psnr_db", "caption_ok", "phash_ok",
            _ts(epoch).alias("fetched_at"))

        # ---- new seen rows (terminal statuses: ok/invalid/failed/robots) ----
        new_seen = erows.filter(F.col("status").isin(*TERMINAL)).select(
            "url_hash", "host_hash",
            F.lit(epoch).cast("int").alias("first_seen_epoch"),
            F.col("priority").cast("int").alias("first_seen_priority"))

        # ---- retry / deferral re-enqueue ------------------------------------
        is_retry = F.col("status") == "retry"
        backoff_expr = F.least(
            F.lit(cfg.backoff_max_epochs),
            F.greatest(F.lit(cfg.backoff_min_epochs),
                       F.expr("shiftleft(1, attempt)")))  # 1 << (new_attempt-1)
        requeued = erows.filter(F.col("status").isin("retry", "deferred"))
        new_retries = requeued.select(
            "url", "url_hash", "host", "host_hash", "priority", "seq",
            "image_id",
            F.when(is_retry, F.col("attempt") + 1).otherwise(F.col("attempt"))
            .cast("int").alias("attempt"),
            F.when(is_retry, F.lit(epoch) + backoff_expr)
            .otherwise(F.lit(epoch + cfg.secondary_backoff_epochs))
            .cast("int").alias("not_before_epoch"),
            "discovered_at")

        # retries COMPACTION: the table is REPLACED each epoch with the live set
        # (new re-enqueues + prior rows not superseded / not terminal / not
        # admitted) instead of appended to — otherwise retry state grows without
        # bound across a long crawl. The kept-row rule is the oracle's exactly
        # (oracle/simulator.py run_epoch tail): re-enqueued, newly seen and
        # admitted rows are all epoch rows, so one anti-join against the epoch
        # rows drops the three of them. The oracle's "not in seen" needs no
        # O(history) anti-join against url_seen: by induction retries and
        # url_seen never share a url_hash (new retry rows passed the seen
        # gate and are not terminal; kept rows were disjoint already, and
        # this epoch's newly seen rows are epoch rows) — pinned by
        # tests/test_epoch_parity.py::test_retries_disjoint_from_url_seen.
        retries_next = new_retries
        if retries_raw is not None:
            kept = retries_raw.join(erows.select("url_hash"), "url_hash",
                                    "left_anti")
            retries_next = new_retries.unionByName(kept.select(*FRONTIER_COLS))

        # ---- budgets --------------------------------------------------------
        budgets_next = politeness.next_budgets(
            budgets, erows.filter(F.col("admission_idx").isNotNull()),
            erows.filter(F.col("status") == "deferred").select("host"),
            epoch, cfg.secondary_backoff_epochs)

        # ---- metrics per host bucket (T12) ----------------------------------
        metrics = (erows
                   .withColumn("host_bucket",
                               F.pmod(F.xxhash64("host"), F.lit(cfg.n_filter_buckets)).cast("int"))
                   .groupBy("host_bucket")
                   .agg(F.count("*").alias("n_popped"),
                        F.sum(F.when(F.col("status").isin("ok", "invalid_payload"), 1)
                              .otherwise(0)).alias("n_fetched"),
                        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_valid"))
                   .withColumn("epoch", F.lit(epoch).cast("int")))

        # ---- stage + single atomic commit -----------------------------------
        appends = {}
        # crawl_log is append-per-epoch, so each file's [min,max] epoch bound is
        # a single point — manifest stats make any epoch-windowed read of the
        # log O(window files), not O(history) (tables.files where=)
        appends["crawl_log"] = store.stage(crawl_log, "crawl_log",
                                           stats_cols=("epoch",))
        appends["url_seen"] = store.stage(new_seen, "url_seen")
        appends["epoch_metrics"] = store.stage(metrics, "epoch_metrics")
        # all_seen (prior url_seen + this epoch's rows) feeds the saturation
        # rebuild path only — touched iff a bucket crossed its threshold
        all_seen = new_seen.select("url_hash", "host_hash")
        if url_seen is not None:
            all_seen = (url_seen.select("url_hash", "host_hash")
                        .unionByName(all_seen))
        flt_new = dedup.seen_filter_ops(cfg).updated_buckets(
            new_seen, seen_filter, cfg.n_filter_buckets, epoch,
            all_seen=all_seen)
        fltf = store.stage(flt_new, "seen_filter")
        if fltf:
            appends["seen_filter"] = fltf

        job_row = pd.DataFrame([{
            "job_id": epoch, "epoch": epoch, "status": "completed",
            "records_processed": res.n_admitted + res.n_denied,
            "records_created": res.n_ok,
            "records_updated": res.n_invalid + res.n_failed,
            "input_files": ",".join(files),
            "error_message": None,
        }])
        appends["crawl_jobs"] = store.stage_pandas(job_row, "crawl_jobs",
                                                   schema=_job_schema())
        replaces = {
            "politeness_budget": store.stage(budgets_next, "politeness_budget"),
            "retries": store.stage(retries_next, "retries"),
        }
    finally:
        # the spills are read by the stages above and by nothing after
        # them; vacuum reclaims what a killed process leaves behind
        store.discard(scratch)

    # carry prior meta keys (fallback_added, discovery bookkeeping, ...)
    # forward — an epoch commit must never drop another component's state
    store.commit(epoch, appends=appends, replaces=replaces, meta={
        **snap.meta,
        "remaining_by_priority": {str(k): v for k, v in remaining.items()},
        "last_epoch": epoch,
        "cum_terminal": int(snap.meta.get("cum_terminal", 0)) + res.n_terminal,
        "counters": {"ok": res.n_ok, "invalid": res.n_invalid,
                     "retry": res.n_retry, "deferred": res.n_deferred,
                     "failed": res.n_failed, "denied": res.n_denied},
    })

    return res
