"""Engine configuration.

All crawl semantics are parameterized here so the Spark engine and the
pure-Python oracle (``crawlspark.oracle.simulator``) consume the identical
constants — integer math only, per the ordering-parity requirement
(SURVEY.md §7 hard part 1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    """Semantics of one crawl run (shared engine <-> oracle).

    Every field is either crawl semantics the oracle reads or loop cadence a
    caller sets (the CLI, the benchmark); storage and filter tuning are
    module constants where they are used (``bloom``/``cuckoo`` sizing and
    rebuild thresholds, ``plans.crawler`` compaction and url_seen bucketing).

    Mirrors the reference's knobs:
      * ``batch_size``    — epoch pop cap (ref: batch 2000-20000,
                            /root/reference/src/main.py:132-137, ci_crawler.py:75-78)
      * ``max_attempts``  — retry cap (ref: tenacity stop_after_attempt(5),
                            /root/reference/src/infrastructure/github_api.py:70-74)
      * backoff           — exponential, integer epochs, min/max clamps
                            (ref: wait_exponential(multiplier=1, min=4, max=60) sec,
                            github_api.py:70-74; we count in epochs)
      * secondary backoff — additive host-level deferral
                            (ref: min(60, delay+10) sec, github_api.py:103-108)
    """

    batch_size: int = 200
    max_attempts: int = 5
    backoff_min_epochs: int = 1
    backoff_max_epochs: int = 8
    secondary_backoff_epochs: int = 2
    # Deterministic fetch simulation: outcome = mix(url_hash, attempt, epoch) % 1000.
    transient_fail_per_mille: int = 100   # -> status 'retry'
    secondary_limit_per_mille: int = 20   # -> status 'deferred' + host backoff
    # Host-hash bucket count of the seen filter and of epoch_metrics.
    n_filter_buckets: int = 64
    # Negative-cache backend: "bloom" (10 bits/item, ~1.2% FPP, no deletes)
    # or "cuckoo" (16-bit fingerprints x 4 slots, ~0.012% FPP, O(1)/item
    # deletion -> recrawl/forget without a bucket rebuild). Both share the
    # two-phase probe->exact-verify contract, so the crawl SEMANTICS
    # (ordering, final seen set) are backend-invariant — asserted by
    # tests/test_cuckoo.py's loop-parity test. Read only by
    # operators.dedup.seen_filter_ops.
    seen_filter_backend: str = "bloom"
    # TTL recrawl (0 = off): every `recrawl_every` epochs, forget the
    # oldest-terminally-crawled URLs whose last crawl is >= recrawl_ttl_epochs
    # old (up to recrawl_topk per pass) so the normal epoch loop re-admits
    # them — the action side of the S6 stale-rows scan (the reference's
    # get_repositories_for_update refresh flow).
    recrawl_every: int = 0
    recrawl_ttl_epochs: int = 20
    recrawl_topk: int = 1000
    # Periodic table maintenance inside the crawl loop (0 = off): every
    # `compact_every` epochs, append-per-epoch tables are rewritten to
    # `compact_target_files` files and snapshots older than
    # `vacuum_keep_last` commits are expired. Pure storage-layer operation —
    # crawl semantics (ordering, seen set, counters) are unchanged, which
    # tests/test_compaction.py's loop-parity test asserts.
    compact_every: int = 0
    compact_target_files: int = 4
    vacuum_keep_last: int = 3

    def backoff_epochs(self, attempt: int) -> int:
        """Exponential backoff in epochs for a row about to carry `attempt`
        (1-based after increment). min/max-clamped, integer-only."""
        return min(self.backoff_max_epochs,
                   max(self.backoff_min_epochs, 1 << (attempt - 1)))


def _local_cpus() -> int:
    """Cores for a local session: ``SPARK_GRAFT_CPUS`` or ``os.cpu_count()``."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _half_ram() -> str:
    """Half of physical RAM in whole GiB (at least 1), capped at 16g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, ram // 2 >> 30))}g"


@dataclass(frozen=True)
class SparkTuning:
    """Spark session tuning used by session.get_spark(). The defaults size
    a local session to the machine: one task slot and one shuffle partition
    per core, half of RAM for the driver heap."""

    master: str = field(default_factory=lambda: f"local[{_local_cpus()}]")
    shuffle_partitions: int = field(default_factory=_local_cpus)
    # capped at 16g, with throughput GC: allocation-heavy codegen (string
    # concat/lpad in the URL generator) measured ~50x faster at 32 threads
    # than with the G1 default on a 32g heap (GC contention collapse)
    driver_memory: str = field(default_factory=_half_ram)
    app_name: str = "crawlspark"
    extra: dict = field(default_factory=dict)
    gc_opts: str = "-XX:+UseParallelGC"

    @classmethod
    def for_cpus(cls, cpus: int | None = None, **kw) -> "SparkTuning":
        """The machine-sized defaults, or ``local[cpus]`` with ``cpus``
        shuffle partitions when an entry point is given explicit cores."""
        if cpus:
            kw = {"master": f"local[{cpus}]", "shuffle_partitions": cpus, **kw}
        return cls(**kw)


def choose_prefix(remaining: dict, batch_size: int) -> int:
    """Smallest priority-stratum prefix whose cumulative remaining rows cover
    2*batch_size (margin for politeness deferrals); the last stratum if the
    frontier is nearly drained. Part of the crawl semantics proper — both the
    Spark engine and the oracle apply this identical rule, so file-level
    partition pruning never perturbs ordering parity."""
    total = 0
    ps = sorted(remaining)
    p_max = ps[-1] if ps else 0
    for p in ps:
        total += remaining[p]
        if total >= 2 * batch_size:
            return p
    return p_max


FETCH_MIX_A = 0x9E3779B97F4A7C15  # splitmix64 golden-ratio constant
FETCH_MIX_B = 0xBF58476D1CE4E5B9
FETCH_MIX_C = 0x94D049BB133111EB


def fetch_outcome_per_mille(url_hash: int, attempt: int, epoch: int) -> int:
    """Deterministic per-fetch outcome draw in [0, 1000): splitmix64-style
    integer mixing of (url_hash, attempt, epoch). Pure int math — identical in
    the oracle and in the vectorized fetch-sim UDF."""
    x = (url_hash + FETCH_MIX_A * (attempt + 1) + epoch * 0x632BE59BD9B4E019) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * FETCH_MIX_B) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * FETCH_MIX_C) & 0xFFFFFFFFFFFFFFFF
    x = x ^ (x >> 31)
    return int(x % 1000)


def fetch_outcome_per_mille_np(url_hash, attempt, epoch: int):
    """Vectorized twin of :func:`fetch_outcome_per_mille` (numpy uint64,
    natural mod-2^64 wraparound). ``url_hash`` and ``attempt`` are arrays."""
    import numpy as np

    with np.errstate(over="ignore"):
        x = (url_hash.astype(np.uint64)
             + np.uint64(FETCH_MIX_A) * (attempt.astype(np.uint64) + np.uint64(1))
             + np.uint64(epoch) * np.uint64(0x632BE59BD9B4E019))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(FETCH_MIX_B)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(FETCH_MIX_C)
        x = x ^ (x >> np.uint64(31))
    return (x % np.uint64(1000)).astype("int64")
