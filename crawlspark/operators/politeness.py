"""Per-host token-bucket politeness admission (T3/T4/V6 in SURVEY.md).

Reference behavior being reproduced: the crawler sleeps until reset when the
API budget is near exhaustion (/root/reference/src/infrastructure/
github_api.py:166-181,494-499) and applies an additive host-level backoff on
secondary rate limits (github_api.py:103-108). Our per-host analog: an
integer token bucket ``(capacity, refill_per_epoch, tokens, backoff_until_epoch)``
per host; an epoch admits at most ``avail(h) = 0 if epoch < backoff_until(h)
else min(capacity, tokens + refill)`` rows per host, in global crawl order
``(priority, seq, url_hash)``.

Admission itself is pure window algebra (JVM, whole-stage codegen) — no UDF on
the hot path. The per-host skew kill (north_rule) is a two-phase top-k:

  phase 1: rank within (host, salt = pmod(url_hash, SALTS)) and keep
           rank <= avail(h)  — a mega-host's millions of candidate rows
           collapse to at most SALTS * avail rows without ever hashing the
           whole host into one task;
  phase 2: rank within host on the survivors (tiny groups) vs avail tokens.

Phase 1 is lossless: any row in the host's true top-``avail`` by global
order is also in the top-``avail`` of its salt group. Any smaller cap would
drop rows of a host whose tokens exceed it.

:func:`admit` is the engine's one admission implementation; the reference
semantics it must reproduce are ``oracle.simulator.host_availability`` and
``admit_rows``, which ``tests/test_politeness.py`` compares it against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_SALTS = 16
ORDER_COLS = ("priority", "seq", "url_hash")


def availability(budgets: DataFrame, epoch: int,
                 extra_cols: tuple = ()) -> DataFrame:
    """Per-host available tokens this epoch (integer math only)."""
    return budgets.select(
        "host",
        F.when(F.lit(epoch) < F.col("backoff_until_epoch"), F.lit(0))
        .otherwise(F.least(F.col("capacity"),
                           F.col("tokens") + F.col("refill_per_epoch")))
        .cast("int").alias("avail"),
        "capacity", "refill_per_epoch", "backoff_until_epoch",
        *extra_cols,
    )


def _order():
    return [F.asc(c) for c in ORDER_COLS]


def admit(candidates: DataFrame, budgets: DataFrame, epoch: int,
          batch_size: int, host_key: str = "host",
          derive_missing_host_key: bool = False) -> DataFrame:
    """Returns the admitted batch with ``admission_idx`` (0-based position in
    global crawl order) — the engine's TakeOrderedAndProject with a per-host
    cap. ``budgets`` is broadcast (small dim per north_rule).

    ``host_key="host_hash"`` lets a caller schedule on compact hashed keys
    (late materialization: URL/host strings never enter the shuffles).
    ``budgets`` must already carry that column (the caller guarantees it
    matches the candidates' hashing). If it does not, the call FAILS unless
    ``derive_missing_host_key=True``, in which case the key is derived with
    the engine's canonical md5-based ``hash64`` (functions.urls.hash64_col) —
    only correct when the candidates were keyed with the same function; a
    silent mismatch would make the broadcast join match nothing and return an
    empty batch (a scheduling stall with no error), hence the fail-fast."""
    if host_key != "host" and host_key in budgets.columns:
        avail = availability(budgets, epoch, extra_cols=(host_key,))
    else:
        avail = availability(budgets, epoch)
        if host_key != "host":
            if not derive_missing_host_key:
                raise ValueError(
                    f"budgets has no column {host_key!r}; pass budgets with "
                    "that column (keyed identically to the candidates) or "
                    "set derive_missing_host_key=True to derive it with the "
                    "canonical functions.urls.hash64_col")
            from ..functions.urls import hash64_col

            avail = avail.withColumn(host_key, hash64_col(F.col("host")))

    w_salt = (Window.partitionBy(host_key, F.pmod(F.col("url_hash"), F.lit(N_SALTS)))
              .orderBy(*_order()))
    w_host = Window.partitionBy(host_key).orderBy(*_order())

    # broadcast-join avail BEFORE the windows: hosts with no budget this
    # epoch (backed off / drained) drop before any sort, and phase 1 caps at
    # each host's own avail — both prune shuffle volume; phase 1 stays
    # lossless (a row in the host's true top-avail is in its salt group's
    # top-avail)
    budgeted = (candidates
                .join(F.broadcast(avail.select(host_key, "avail")),
                      host_key, "left")
                .na.fill({"avail": 0})
                .filter(F.col("avail") > 0))
    pruned = (budgeted
              .withColumn("_sr", F.row_number().over(w_salt))
              .filter(F.col("_sr") <= F.col("avail"))
              .drop("_sr"))
    ranked = (pruned
              .withColumn("_hr", F.row_number().over(w_host))
              .filter(F.col("_hr") <= F.col("avail"))
              .drop("_hr", "avail"))
    admitted = (ranked.orderBy(*_order()).limit(batch_size)
                .withColumn(
                    "admission_idx",
                    F.row_number().over(Window.orderBy(*_order())) - 1))
    return admitted


def admit_late_materialized(candidates: DataFrame, budgets: DataFrame,
                            epoch: int, batch_size: int) -> DataFrame:
    """Late-materialization wrapper over :func:`admit` (north_rule): the two
    admission window shuffles carry COMPACT hashed keys only
    (url_hash, host_hash, priority, seq — ~32 B/row); every other column
    (URL/host strings, image_id, timestamps) rejoins through a broadcast
    join of the admitted key set — ``batch_size`` rows, never the frontier.
    At 10^10 frontier rows this moves ~4x fewer bytes through the sorts than
    shuffling full rows, and the rejoin is O(batch).

    Requires ``candidates`` unique per url_hash (post-supersede — true on the
    epoch path). Budgets may carry ``host_hash`` pre-keyed; otherwise it is
    derived with the canonical hash64 (both fixture and streaming paths key
    hosts with functions.urls.hash64)."""
    compact = candidates.select("url_hash", "host_hash", "priority", "seq")
    keys = admit(compact, budgets, epoch, batch_size,
                 host_key="host_hash",
                 derive_missing_host_key="host_hash" not in budgets.columns)
    return candidates.join(
        F.broadcast(keys.select("url_hash", "admission_idx")), "url_hash")


def next_budgets(budgets: DataFrame, admitted: DataFrame, deferred_hosts: DataFrame,
                 epoch: int, secondary_backoff_epochs: int) -> DataFrame:
    """Post-epoch bucket state: every host refills (clamped), admitted counts
    are debited, hosts that hit a secondary limit get
    ``backoff_until = epoch + secondary_backoff`` (additive deferral analog of
    github_api.py:103-108). ``deferred_hosts``: DataFrame[host] (distinct)."""
    avail = availability(budgets, epoch)
    debits = admitted.groupBy("host").agg(F.count("*").cast("int").alias("_used"))
    newly_backed = deferred_hosts.select("host").distinct() \
        .withColumn("_new_backoff", F.lit(epoch + secondary_backoff_epochs))
    return (avail
            .join(debits, "host", "left").na.fill({"_used": 0})
            .join(newly_backed, "host", "left")
            .select(
                "host", "capacity", "refill_per_epoch",
                (F.col("avail") - F.col("_used")).cast("int").alias("tokens"),
                F.greatest(F.col("backoff_until_epoch"),
                           F.coalesce(F.col("_new_backoff"), F.lit(0)))
                .cast("int").alias("backoff_until_epoch"),
            ))
