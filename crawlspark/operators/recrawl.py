"""Forget-for-recrawl: remove URLs from the persistent seen set (S6's
action side; ref: the reference re-crawls stale rows by re-fetching ids it
pops from ``get_repositories_for_update`` and relies on upsert semantics,
/root/reference/src/infrastructure/database.py — its in-memory
``seen_repo_ids`` set can simply ``discard``; a distributed negative cache
cannot, which is why the cuckoo backend exists).

``forget_urls`` makes a set of URLs eligible again in ONE atomic commit:

* ``url_seen``      — exact ground truth: anti-join the targets out
  through :meth:`crawlspark.tables.SnapshotStore.rewrite_partitions`, the
  store's scoped rewrite (the Iceberg ``DELETE WHERE`` analog: only the
  part of the table that can hold the targets is rewritten);
* ``seen_filter``   — the backend's ``forgotten_buckets``:
  - cuckoo clears one fingerprint per target — O(targets), touching only
    their buckets (the delete-capable filter's whole point);
  - bloom: bits are shared so nothing can be cleared without false
    negatives for OTHER urls — the touched buckets are REBUILT from the
    remaining seen rows (O(bucket), correct but strictly costlier; the
    trade tools/bench_cuckoo.py measures).

Either way the filter stays a strict superset of ``url_seen`` (FP-safe:
a stale maybe-seen only costs the exact check, which now misses, so the
URL is re-admitted; a false negative is impossible by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..tables import SnapshotStore
from . import dedup


def forget_urls(spark: SparkSession, store: SnapshotStore, cfg: CrawlConfig,
                targets: DataFrame, epoch: int,
                meta_extra: dict | None = None) -> int:
    """Remove ``targets`` (needs ``url_hash``; ``host_hash`` joined in from
    url_seen if absent) from the seen set + negative cache atomically.
    ``meta_extra`` rides the same commit (recrawl_pass uses it to bump
    ``remaining_by_priority`` atomically with the forget — a crash can never
    leave counters and seen set disagreeing). Returns the number of
    url_seen rows removed."""
    url_seen = store.read(spark, "url_seen")
    if url_seen is None:
        return 0
    snap = store.snapshot()
    keys = targets.select("url_hash").dropDuplicates(["url_hash"])

    hit = url_seen.join(keys, "url_hash", "left_semi").cache()
    n_forgotten = hit.count()
    if n_forgotten == 0:
        hit.unpersist()
        return 0
    remaining = url_seen.join(keys, "url_hash", "left_anti")

    files, _ = store.rewrite_partitions(
        spark, "url_seen", lambda rows: rows.join(keys, "url_hash", "left_anti"),
        scope=hit)

    appends: dict = {}
    seen_filter = store.read(spark, "seen_filter")
    if seen_filter is not None:
        flt_new = dedup.seen_filter_ops(cfg).forgotten_buckets(
            hit, remaining, seen_filter, cfg.n_filter_buckets, epoch)
        staged = store.stage(flt_new, "seen_filter")
        if staged:
            appends["seen_filter"] = staged

    store.commit(epoch, appends=appends, replaces={"url_seen": files}, meta={
        **snap.meta,
        **(meta_extra or {}),
        "last_forget": {"epoch": epoch, "n_forgotten": n_forgotten},
    })
    hit.unpersist()
    return n_forgotten


_TERMINAL_OK = ("ok", "invalid_payload")


def stale_targets(spark: SparkSession, store: SnapshotStore,
                  cfg: CrawlConfig, epoch: int) -> DataFrame | None:
    """Oldest-first top-k URLs whose LAST terminal crawl is at least
    ``recrawl_ttl_epochs`` epochs old — the action-side twin of the S6
    stale-rows scan (ref: ``get_repositories_for_update`` orders by
    ``last_crawled_at`` ASC with a LIMIT,
    /root/reference/src/infrastructure/database.py). A max-per-key
    aggregate (map-side partial) + TakeOrderedAndProject — no global sort
    of the log at scale.

    Manifest-stats windowing: a url's staleness needs its per-url max
    terminal epoch, which no single epoch window can answer — but it
    decomposes into two windowed scans over the epoch-bounded crawl_log
    files (``stage(stats_cols=("epoch",))`` at epoch.py commit time):

    * candidates — urls with a terminal row at ``epoch <= bound`` can only
      have such rows in files whose min epoch ``<= bound``; the max-per-key
      aggregate runs on THAT window only, and any url whose in-window max
      lands above the bound (straddling file) is filtered out row-wise;
    * exclusions — urls terminally crawled SINCE the bound appear in files
      whose max epoch ``> bound``; on a long-history store this window is
      O(ttl) files, and it is only projected to a distinct key set for the
      anti-join, never aggregated.

    Net: identical result to the full-log aggregate (pruning is purely an
    optimization; un-bounded pre-feature files stay in both windows), but
    the heavy per-url aggregate never touches files that cannot hold
    in-window rows, and nothing reads the whole log twice."""
    url_seen = store.read(spark, "url_seen")
    if not store.files("crawl_log") or url_seen is None:
        return None
    bound = epoch - cfg.recrawl_ttl_epochs
    old = store.read(spark, "crawl_log", where=("epoch", None, bound))
    if old is None:
        # no file can hold a row at or below the bound -> nothing is stale
        return spark.createDataFrame([], "url_hash bigint")
    last = (old.filter(F.col("status").isin(*_TERMINAL_OK))
            .groupBy("url_hash")
            .agg(F.max("epoch").alias("last_crawl_epoch")))
    stale = last.filter(F.col("last_crawl_epoch") <= F.lit(bound))
    recent = store.read(spark, "crawl_log", where=("epoch", bound + 1, None))
    if recent is not None:
        stale = stale.join(
            recent.filter(F.col("status").isin(*_TERMINAL_OK)
                          & (F.col("epoch") > F.lit(bound)))
            .select("url_hash"),
            "url_hash", "left_anti")
    # only currently-seen URLs: a URL forgotten by an earlier pass but not
    # yet re-crawled still has its old terminal log row — selecting it again
    # would double-bump the remaining counters for a single frontier row
    stale = stale.join(url_seen.select("url_hash"), "url_hash", "left_semi")
    # deterministic oldest-first top-k (url_hash tie-break, same discipline
    # as the frontier's ordering keys)
    return (stale.orderBy(F.asc("last_crawl_epoch"), F.asc("url_hash"))
            .limit(cfg.recrawl_topk).select("url_hash"))


def recrawl_pass(spark: SparkSession, store: SnapshotStore, cfg: CrawlConfig,
                 epoch: int) -> int:
    """TTL refresh: forget the staleist terminally-crawled URLs so the
    normal epoch loop re-admits them through the standard pop -> dedup ->
    politeness -> validate path (frontier rows persist in the store; the
    seen anti-join is what excludes them, so forgetting IS re-enqueueing).
    Bumps ``remaining_by_priority`` for the targets' strata in the SAME
    atomic commit, keeping choose_prefix's pruning rule and the termination
    counters consistent. Returns the number of URLs re-admitted."""
    targets = stale_targets(spark, store, cfg, epoch)
    if targets is None:
        return 0
    # at most recrawl_topk rows: collect once, so the remaining bump and the
    # forget scan a local frame, not the windowed crawl_log aggregate + top-k
    rows = targets.collect()
    if not rows:
        return 0
    targets = spark.createDataFrame(rows, targets.schema)
    frontier = store.read(spark, "frontier")
    meta_extra = None
    if frontier is not None:
        # ONE bump per url_hash, at its supersede-winner row's stratum —
        # mirroring the epoch's `consumed` decrement, which counts the one
        # admitted winner, never the duplicate frontier copies (epoch.py
        # "remaining decrement"); counting raw semi-join rows here would
        # inflate remaining by the ~duplicate rate on every recrawl cycle
        winners = dedup.supersede(
            frontier.select("url_hash", "priority", "seq", "attempt",
                            "not_before_epoch")
            .join(targets, "url_hash", "left_semi"))
        per_p = {int(r["priority"]): int(r["n"]) for r in
                 winners.groupBy("priority")
                 .agg(F.count("*").alias("n")).collect()}
        if per_p:
            remaining = {int(k): int(v) for k, v in
                         store.snapshot().meta.get(
                             "remaining_by_priority", {}).items()}
            for p, n in per_p.items():
                remaining[p] = remaining.get(p, 0) + n
            meta_extra = {"remaining_by_priority":
                          {str(k): v for k, v in remaining.items()}}
    return forget_urls(spark, store, cfg, targets, epoch,
                       meta_extra=meta_extra)
