"""Skew-hardened LSH candidate pair generation (VERDICT r3 item 4).

A band/sign bucket holding k near-identical documents puts k^2 candidate
pairs into ONE task under the naive bucket self-join — the mega-cluster
failure of LSH dedup at 10^10 docs. ``textops._bucket_cells`` routes
buckets over the cap into salted triangle cells whose pair count is ~cap^2
regardless of cluster size; ``_skew_safe_bucket_pairs`` joins those cells
and dedup_embedding scores them in Arrow. These tests assert that both
consumers emit the IDENTICAL pair set through the salted cells (each
unordered pair exactly once, id-ordered) and that per-task pair counts are
bounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from crawlspark.textops import _skew_safe_bucket_pairs


def _naive_pairs(df):
    a = df.select(F.col("bucket").alias("_bk"),
                  F.struct("id", "bucket").alias("a"))
    b = df.select(F.col("bucket").alias("_bk"),
                  F.struct("id", "bucket").alias("b"))
    return (a.join(b, "_bk").filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("x"), F.col("b.id").alias("y")))


def _ids(pairs_df):
    return sorted((r["x"], r["y"]) for r in
                  pairs_df.select(F.col("a.id").alias("x"),
                                  F.col("b.id").alias("y")).collect())


def test_salted_pairs_identical_to_naive(spark):
    """Mixed bucket sizes straddling the cap: one mega-bucket (forced onto
    the salted path), several normal ones — identical pair set, every
    unordered pair exactly once, id-ordered."""
    rng = np.random.RandomState(7)
    rows = []
    # mega-cluster: 300 members of bucket 0 (cap=32 -> S=10 salt cells)
    rows += [(i, 0) for i in range(300)]
    # normal buckets of assorted sizes, including exactly-at-cap
    nid = 1000
    for b, size in [(1, 32), (2, 5), (3, 1), (4, 33)]:
        rows += [(nid + i, b) for i in range(size)]
        nid += 1000
    rng.shuffle(rows)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "bucket"]),
                               "id long, bucket int")

    got = _ids(_skew_safe_bucket_pairs(df, "bucket", "id", cap=32))
    want = sorted((r["x"], r["y"]) for r in _naive_pairs(df).collect())
    assert len(got) == len(set(got))   # no pair twice (diagonal-cell dedup)
    assert got == want
    # sanity: the mega-bucket really contributes its full triangle
    assert sum(1 for x, y in got if x < 300 and y < 300) == 300 * 299 // 2


def test_salted_pairs_bounded_per_task(spark):
    """~1k identical docs in one bucket: the naive join materializes all
    ~500k pairs in a single task; the salted path spreads the triangle over
    salt cells so no task holds more than a small fraction."""
    k = 1000
    df = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(k, dtype=np.int64),
                      "bucket": np.zeros(k, dtype=np.int32)}),
        "id long, bucket int")
    total = k * (k - 1) // 2

    # AQE's partition coalescing would re-merge the tiny test cells into a
    # few partitions (at real scale its ~64MB target keeps them separate);
    # disable it so the measurement shows the CELL distribution the salting
    # creates
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled")
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # at test scale the sides fit under the broadcast threshold and the join
    # would run in the 4 input partitions; at real mega-cluster scale they
    # don't — force the shuffle join the salting is designed for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = _skew_safe_bucket_pairs(df, "bucket", "id", cap=64)
        per_task = (pairs.withColumn("p", F.spark_partition_id())
                    .groupBy("p").count().collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       old_coalesce)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)

    counts = [r["count"] for r in per_task]
    assert sum(counts) == total            # nothing lost, nothing duplicated
    # cap=64, k=1000 -> S=16 -> 136 cells of ~(k/S)^2 ~ 3.9k pairs spread
    # over 64 shuffle partitions; the naive plan would put ALL pairs in one
    assert max(counts) <= total // 8
    assert len(counts) >= 16               # genuinely spread out


def test_embedding_arrow_cells_identical_across_cap(spark, tmp_path):
    """r6: dedup_embedding's Arrow in-bucket scorer groups the cells of
    ``_bucket_cells``, the routing the pair join uses. Forcing a mega-bucket
    through a tiny cap must yield the IDENTICAL pair set and cosines as the
    pure normal path (cap -> inf), exercising diagonal and off-diagonal
    cells end to end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawlspark.textops import dedup_embedding

    rng = np.random.RandomState(11)
    n, dim = 300, 64
    base = rng.randn(n, dim).astype("float32")
    base[:, :4] = np.abs(base[:, :4]) + 0.1   # one sign-bucket for all rows
    # plant near-dup clusters so pairs actually clear the 0.30 threshold
    for c in range(0, n, 25):
        base[c:c + 10] = base[c] + 0.01 * rng.randn(10, dim).astype("float32")
        base[c:c + 10, :4] = np.abs(base[c:c + 10, :4]) + 0.1
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array([r for r in base.tolist()],
                              type=pa.list_(pa.float32())),
        "label": pa.array(np.zeros(n, dtype="int32"), type=pa.int32()),
    })
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    wide = dedup_embedding(spark, str(tmp_path), cap=10 ** 9)
    salted = dedup_embedding(spark, str(tmp_path), cap=32)
    a = sorted(map(tuple, wide.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b
    assert len(a) == len(set(a))           # each unordered pair once
    assert len(a) >= 100                   # the clusters really matched
