"""merge_into under heavy key skew (the 100-TB MERGE story, VERDICT r2 #7).

One key holds 50% of a 20k-row update batch. The dedup stage must collapse
it map-side (partial_max_by — one candidate per map partition reaches the
shuffle), correctness must hold (newest update wins for every key, exactly
one row per key), and replaying the same merge must be a no-op. AQE
skew-join stays enabled in the session as the backstop for target-side skew
(session.py sets spark.sql.adaptive.skewJoin.enabled=true).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.tables import (SnapshotStore, dedup_updates, merge_into,
                               partition_state)

N = 20_000
HOT = 7  # the skewed key


def _skewed_updates(spark):
    """Even ids all map to key HOT (50% of the batch); odd ids are unique
    keys. newer_col = ts = id, so the winner for HOT is ts = N-2."""
    return spark.range(N).select(
        F.when(F.col("id") % 2 == 0, F.lit(HOT))
        .otherwise(F.col("id") + 1_000_000).alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("payload"))


def test_dedup_updates_partial_agg_under_skew(spark):
    """The skew neutralizer: the hot key collapses BEFORE the shuffle
    (partial_max_by in the plan, never a Window), so a 50%-hot update batch
    shuffles at most one hot-key row per map partition."""
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        dedup_updates(_skewed_updates(spark), "k", "ts")
        ._jdf.queryExecution(), "formatted")
    assert "partial_max_by" in plan
    assert "Window" not in plan


@pytest.mark.parametrize("n_buckets", [None, 8],
                         ids=["wholesale", "bucketed"])
def test_merge_into_correct_under_skew(spark, tmp_path, n_buckets):
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(epoch=-1, meta={"last_epoch": -1})

    # seed target: keys 0..99 with ts=-1 (HOT among them), so the skewed
    # batch exercises both MATCHED-newer and NOT-MATCHED arms
    seed = spark.range(100).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("ts"),
        F.lit(0).cast("long").alias("payload"))
    merge_into(spark, store, "t", seed, "k", newer_col="ts",
               n_buckets=n_buckets)

    merge_into(spark, store, "t", _skewed_updates(spark), "k", newer_col="ts",
               n_buckets=n_buckets)
    got = store.read(spark, "t")

    # one row per key, no duplicates from the hot key
    assert got.count() == got.select("k").distinct().count()
    hot = got.filter(F.col("k") == HOT).collect()
    assert len(hot) == 1
    assert hot[0]["ts"] == N - 2           # newest even id wins
    assert hot[0]["payload"] == 2 * (N - 2)
    # untouched seed keys keep their rows; updated unique keys landed
    assert got.filter(F.col("ts") == -1).count() == 99   # all but HOT
    assert got.filter(F.col("k") >= 1_000_000).count() == N // 2

    # replaying the identical skewed batch is a no-op (idempotent MERGE)
    before = sorted(map(tuple, got.collect()))
    merge_into(spark, store, "t", _skewed_updates(spark), "k", newer_col="ts",
               n_buckets=n_buckets)
    after = sorted(map(tuple, store.read(spark, "t").collect()))
    assert before == after


def test_partition_scoped_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100-TB MERGE promise made concrete: with n_buckets, the table is
    maintained as pmod(xxhash64(key), N) bucket file-sets and a merge
    touching keys of ONE bucket leaves every other bucket's files at their
    exact paths — only buckets containing updated keys are rewritten."""
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(epoch=-1, meta={"last_epoch": -1})
    NB = 8

    seed = spark.range(2000).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
        F.col("id").alias("payload"))
    merge_into(spark, store, "t", seed, "k", newer_col="ts", n_buckets=NB)
    map_before, _ = partition_state(store.snapshot(), "t")
    assert set(map_before) == {str(b) for b in range(NB)}  # 2000 keys span all

    # updates confined to the bucket of key 1: pick keys sharing that bucket
    b1 = spark.range(2000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(NB)).cast("int").alias("b"))
    target_bucket = b1.filter(F.col("k") == 1).collect()[0]["b"]
    some_keys = [r["k"] for r in
                 b1.filter(F.col("b") == target_bucket).limit(20).collect()]
    updates = spark.createDataFrame([(int(k), 5, -1) for k in some_keys],
                                    "k long, ts long, payload long")
    merge_into(spark, store, "t", updates, "k", newer_col="ts", n_buckets=NB)

    map_after, _ = partition_state(store.snapshot(), "t")
    for b in range(NB):
        if b == target_bucket:
            assert map_after[str(b)] != map_before[str(b)]   # rewritten
        else:
            assert map_after[str(b)] == map_before[str(b)]   # exact paths kept

    # merged content is correct: updated keys carry ts=5/payload=-1
    got = store.read(spark, "t")
    assert got.count() == 2000
    upd = got.filter(F.col("k").isin([int(k) for k in some_keys]))
    assert upd.filter((F.col("ts") == 5) & (F.col("payload") == -1)).count() \
        == len(some_keys)


def test_merge_no_straggler_partition_after_dedup(spark):
    """Downstream of the dedup, keys are unique, so the shuffle partitions
    feeding the anti-join are balanced — no partition holds more than a few
    times the mean (the hot key's 10k raw rows never reach this stage)."""
    deduped = dedup_updates(_skewed_updates(spark), "k", "ts")
    sizes = (deduped.repartition(8, "k")
             .withColumn("p", F.spark_partition_id())
             .groupBy("p").count().collect())
    counts = [r["count"] for r in sizes]
    assert max(counts) <= 3 * (sum(counts) / len(counts))
