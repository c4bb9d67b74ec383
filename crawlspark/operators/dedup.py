"""Frontier dedup + eligibility operators (J2/J3, F-family in SURVEY.md §2).

* ``supersede``      — one row per url_hash across frontier ∪ retries: the
                       retry copy (higher attempt / later backoff) wins,
                       otherwise first-seen order (lowest priority, seq) —
                       dedup-at-arrival semantics of the reference's seen-set
                       check (/root/reference/src/infrastructure/github_api.py:548-555).
                       The engine's one supersede; its reference is
                       ``oracle.simulator.supersede_rows``
                       (tests/test_politeness.py).
* ``not_seen``       — exact anti-join against url_seen, fronted by the
                       seen-filter probe (negative cache; positives are
                       always re-checked exactly, so filter FPs never drop
                       or spuriously admit a URL).
* ``seen_filter_ops`` — the seen-filter backend module (bloom or cuckoo) a
                       config selects.
* ``robots_flag``    — per-host disallow-prefix flag with the robots table
                       broadcast (north_rule), evaluated at enqueue time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from . import bloom as bloom_ops
from . import cuckoo as cuckoo_ops


def supersede_key():
    """Lexicographic winner key for :func:`supersede` as a max-comparable
    struct: (attempt desc, not_before desc, priority asc, seq asc). Shared
    with the epoch's string-materialization dedupe so the url/discovered_at
    that rejoin after admission always belong to the supersede winner."""
    return F.struct(
        F.col("attempt").alias("a"),
        F.col("not_before_epoch").alias("b"),
        (-F.col("priority")).alias("p"),
        (-F.col("seq")).alias("s"))


def supersede(pending: DataFrame) -> DataFrame:
    """Collapse to one row per url_hash: max attempt wins (a retry replaces
    the original frontier row), then latest backoff, then first-seen order.

    Implemented as an aggregation (``max_by`` over a lexicographic struct
    key) rather than a window: map-side partial aggregation collapses
    duplicates to one candidate per (url_hash, map partition) BEFORE the
    shuffle, where a window must shuffle and globally sort every row — the
    scale-relevant difference at 10^10 frontier rows. (Struct agg buffers
    plan as SortAggregate, not HashAggregate; the partial combine is the
    win, asserted in tests/test_plan_shape.py.)"""
    cols = pending.columns
    # struct comparison is lexicographic: (attempt desc, not_before desc,
    # priority asc, seq asc) == max over (attempt, not_before, -priority, -seq)
    order_key = supersede_key()
    return (pending.groupBy("url_hash")
            .agg(F.max_by(F.struct(*cols), order_key).alias("_w"))
            .select("_w.*"))


_SEEN_FILTERS = {"bloom": bloom_ops, "cuckoo": cuckoo_ops}


def seen_filter_ops(cfg: CrawlConfig):
    """The seen-filter backend module ``cfg.seen_filter_backend`` names.
    Both expose ``probe``, ``updated_buckets`` and ``forgotten_buckets``
    with the same signatures, so callers go through the returned module and
    never branch on the backend."""
    return _SEEN_FILTERS[cfg.seen_filter_backend]


def not_seen(candidates: DataFrame, url_seen: DataFrame | None,
             seen_filter: DataFrame | None, cfg: CrawlConfig) -> DataFrame:
    """Rows whose url_hash is not in the persistent seen set."""
    if url_seen is None:
        return candidates
    if seen_filter is not None:
        probed = seen_filter_ops(cfg).probe(candidates, seen_filter,
                                            cfg.n_filter_buckets)
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        checked = maybe.join(url_seen.select("url_hash"), "url_hash", "left_anti")
        return fresh.unionByName(checked)
    return candidates.join(url_seen.select("url_hash"), "url_hash", "left_anti")


def robots_flag(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Adds ``robots_denied:boolean`` by broadcast per-host disallow
    prefixes. The path is parsed JVM-side (parse_url) and prefix-tested with
    a higher-order array function — no Python on this path.

    Evaluated at ENQUEUE time (init_run / discovery fold-in / broadening):
    robots rules are a per-run static dim, so enqueue-time and pop-time
    evaluation produce the identical denied set — and precomputing lets the
    epoch's scheduling stages run entirely on compact columns (no URL
    strings until materialization)."""
    if robots is None:
        return candidates.withColumn("robots_denied", F.lit(False))
    joined = candidates.join(
        F.broadcast(robots.select("host", "disallow_prefixes")), "host", "left")
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    denied_cond = F.coalesce(
        F.exists("disallow_prefixes", lambda p: path.startswith(p)),
        F.lit(False))
    return (joined.withColumn("robots_denied", denied_cond)
            .drop("disallow_prefixes"))
