"""Structured-Streaming ingest of URL discoveries into the frontier.

The reference's crawl is pull-based (its async page loop,
/root/reference/src/infrastructure/github_api.py:467-686, has no push
source), so the batch epoch loop in ``plans.crawler`` is the primary engine.
This module is the push-shaped complement a production crawler needs: newly
*discovered* URLs (outlinks, sitemap hits, resubmissions) arrive as a stream
and are folded into the frontier table continuously, deduped against
url_seen, while per-host discovery rates are tracked with event-time windows
+ watermarks (late discoveries tolerated up to the watermark).

Spark-first shape:
  * file/rate source -> ``withWatermark`` -> window agg (JVM only), and
  * ``foreachBatch`` for the frontier fold-in (the sink needs the same
    supersede/anti-join/atomic-commit semantics as a batch epoch, which a
    streaming sink can't express directly — exactly the micro-batch pattern
    Structured Streaming documents for upsert sinks).

At 10^10 scale the stream is partitioned by the same host-hash buckets as
the frontier, so fold-in commits touch only the buckets that saw discoveries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import dedup
from ..plans.crawler import stage_strata
from ..tables import SnapshotStore

DISCOVERY_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("seq", T.LongType()),
    T.StructField("image_id", T.StringType()),
    T.StructField("discovered_at", T.TimestampType()),
])


def discovery_file_stream(spark: SparkSession, path: str,
                          max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming source over a directory of discovery parquet files (the
    offline stand-in for a Kafka topic of outlink discoveries)."""
    return (spark.readStream
            .schema(DISCOVERY_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def enrich_discoveries(raw: DataFrame) -> DataFrame:
    """Canonical frontier columns from raw discoveries — all JVM exprs except
    the canonicalize+hash pandas UDF (V1, vectorized per north_rule)."""
    from ..functions.urls import canonical_url_udf, hash64_col

    canon = canonical_url_udf()
    with_canon = raw.withColumn("_canon", canon(F.col("url")))
    host = F.coalesce(F.parse_url(F.col("_canon"), F.lit("HOST")), F.lit(""))
    return (with_canon
            .withColumn("url_hash", hash64_col(F.col("_canon")))
            .withColumn("host", host)
            .withColumn("host_hash", hash64_col(host))
            .withColumn("attempt", F.lit(0).cast("int"))
            .withColumn("not_before_epoch", F.lit(0).cast("int"))
            .drop("_canon"))


def host_discovery_rates(discoveries: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed per-host discovery counts with late-data tolerance
    (watermark). Pure JVM window agg — streaming state is bounded by the
    watermark horizon x active hosts."""
    host = F.coalesce(F.parse_url(F.col("url"), F.lit("HOST")), F.lit(""))
    return (discoveries
            .withColumn("host", F.lower(host))
            .withWatermark("discovered_at", watermark)
            .groupBy(F.window("discovered_at", window).alias("w"), "host")
            .agg(F.count("*").alias("n_discovered"))
            .select(F.col("w.start").alias("window_start"), "host",
                    "n_discovered"))


def fold_batch(spark: SparkSession, store: SnapshotStore,
               batch_df: DataFrame, batch_id: int,
               cursor_tag: str | None = None) -> None:
    """One micro-batch of the frontier fold-in (the foreachBatch body,
    module-level so replay semantics are directly testable).

    Exactly-once: foreachBatch is at-least-once — after a crash between the
    snapshot commit and the streaming checkpoint advance, the SAME batch_id
    is replayed. The snapshot commit carries a per-checkpoint batch cursor
    (``discovery_cursors[cursor_tag]``) in the same atomic rename, so a
    replayed batch is detected and skipped outright (the classic
    transactional-sink batch-id pattern). The cursor is scoped by
    ``cursor_tag`` (the checkpoint dir) because batch ids restart at 0 for
    a NEW query lineage — a fresh stream must not be skipped by an old
    stream's cursor. Even without the cursor the fold is idempotent (the
    url_seen/frontier anti-joins drop already-folded rows), but the guard
    makes replay O(1) instead of a full dedup pass."""
    if cursor_tag is not None:
        done = int(store.snapshot().meta.get("discovery_cursors", {})
                   .get(cursor_tag, -1))
        if batch_id <= done:
            if batch_id < done:
                # crash-replay re-delivers only the LAST committed batch
                # (batch_id == done); ANY batch id strictly below the
                # cursor means the cursor tag is being reused across query
                # lineages (e.g. a wiped checkpoint dir with a path-based
                # tag) — skipping here would silently drop new discoveries
                # (r6, ADVICE: previously only batch_id + 1 < done warned,
                # silently passing the equally-suspicious done - 1 case)
                import warnings
                warnings.warn(
                    f"fold_batch: batch_id {batch_id} is below cursor "
                    f"{done} for tag {cursor_tag!r} — possible reused "
                    "cursor tag across query lineages; refusing to treat "
                    "as replay would double-fold, so skipping, but audit "
                    "discovery_cursors if this tag's checkpoint was wiped")
            return
    if batch_df.isEmpty():
        return
    batch = dedup.supersede(batch_df.select(
        "url", "url_hash", "host", "host_hash", "priority", "seq",
        "image_id", "attempt", "not_before_epoch", "discovered_at"))
    # enqueue-time robots evaluation: staged frontier rows carry the
    # robots_denied flag so epoch scheduling stays on compact columns
    batch = dedup.robots_flag(batch, store.read(spark, "robots"))
    seen = store.read(spark, "url_seen")
    if seen is not None:
        batch = batch.join(seen.select("url_hash"), "url_hash", "left_anti")
    enqueued = store.read(spark, "frontier")
    if enqueued is not None:
        batch = batch.join(enqueued.select("url_hash"), "url_hash",
                           "left_anti")
    # the batch is read once, by the staging write; the per-stratum counts
    # come from the staged files' footers
    staged, counts = stage_strata(store, batch)
    if not staged:
        # nothing new — no commit (no manifest churn for all-dup batches);
        # the cursor intentionally does not advance, replaying a no-op
        # batch is another no-op
        return
    snap = store.snapshot()
    remaining = {int(k): int(v) for k, v in
                 snap.meta.get("remaining_by_priority", {}).items()}
    for p, n in counts.items():
        remaining[p] = remaining.get(p, 0) + n
    cursors = dict(snap.meta.get("discovery_cursors", {}))
    if cursor_tag is not None:
        cursors[cursor_tag] = int(batch_id)
    store.commit(
        epoch=int(snap.meta.get("last_epoch", -1)),
        appends={"frontier": staged},
        meta={**snap.meta,
              "remaining_by_priority":
                  {str(k): v for k, v in remaining.items()},
              "discovery_cursors": cursors,
              "last_discovery_batch": int(batch_id)})


def lineage_tag(checkpoint_dir: str) -> str:
    """Cursor tag for THIS query lineage: Structured Streaming stamps
    ``<checkpoint>/metadata`` with a fresh query id when (and only when) the
    checkpoint dir is new, so a wiped-and-recreated dir gets a NEW id and its
    batch ids restarting at 0 can never be skipped by the old lineage's
    cursor (that cursor lives under the old id) — the same txnAppId scoping
    Delta's idempotent-writes doc prescribes for foreachBatch sinks. Falls
    back to the absolute path only if the metadata file is unreadable (the
    pre-start window; foreachBatch bodies always run after it exists)."""
    import json
    import os
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return "qid:" + str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        return os.path.abspath(checkpoint_dir)


def fold_into_frontier(spark: SparkSession, stream: DataFrame,
                       store: SnapshotStore, checkpoint_dir: str):
    """foreachBatch sink: per micro-batch, supersede-dedup within the batch,
    drop urls already in url_seen or already enqueued, then append to the
    stratum files and bump the remaining counters — one atomic snapshot
    commit per micro-batch, resumable like any epoch and exactly-once under
    foreachBatch replay (see :func:`fold_batch`)."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # resolved per batch, not at wiring time: the query id file is
        # written by .start(), after this function returns
        fold_batch(spark, store, batch_df, batch_id,
                   cursor_tag=lineage_tag(checkpoint_dir))

    return (stream.writeStream
            .foreachBatch(_fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
