"""``SnapshotStore.stage_groups``: one partitioned write per grouped rewrite.

Partition-scoped rewrites (``compact``, ``merge_into``, ``forget_urls``,
the frontier strata writers) stage a frame split by an integer label in ONE
Spark write job instead of one ``stage`` per group. These tests pin the
write count, the per-file layout (one label per file, no label column), the
label-free schema fingerprint, the stats bounds and partition labels, and
the emptied-bucket mapping.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from crawlspark.config import CrawlConfig
from crawlspark.operators import recrawl
from crawlspark.tables import SnapshotStore, partition_state
from tests.crawl_fixtures import commit_plan, record_spec

NB = 8


@pytest.fixture
def writes(monkeypatch):
    """Paths of every ``DataFrameWriter.parquet`` call while active."""
    seen: list[str] = []
    real = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        seen.append(path)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    return seen


def _bucket(spark, keys):
    return {int(r["k"]): int(r["b"]) for r in spark.createDataFrame(
        [(k,) for k in keys], "k long").select(
            "k", F.pmod(F.xxhash64("k"), F.lit(NB)).cast("int").alias("b"))
        .collect()}


def _seen_rows(spark, lo, hi, epoch=0):
    return spark.range(lo, hi, numPartitions=1).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 13).alias("host_hash"),
        F.lit(epoch).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))


def _append(store, name, files):
    snap = store.snapshot()
    store.commit(max(snap.epoch, 0), appends={name: files}, meta=snap.meta)


def _bucketed_seen(spark, tmp_path, n=400):
    store = SnapshotStore(str(tmp_path / "st"))
    _append(store, "url_seen", store.stage(_seen_rows(spark, 0, n), "url_seen"))
    record_spec(store, "url_seen", {"key": "url_hash", "n": NB})
    commit_plan(store, "url_seen", store.compact(spark, "url_seen"))
    return store


def test_stage_groups_one_label_per_file_without_label_column(
        spark, tmp_path, writes):
    store = SnapshotStore(str(tmp_path / "st"))
    df = spark.range(300).withColumn("g", (F.col("id") % 3).cast("int"))
    groups = store.stage_groups(df, "t", "g", sort_cols=("id",))
    assert len(writes) == 1
    assert sorted(groups) == ["0", "1", "2"]
    for g, rels in groups.items():
        assert len(rels) == 1                 # one task, one file per label
        table = pq.read_table(os.path.join(store.root, rels[0]))
        assert table.column_names == ["id"]
        ids = table.column("id").to_pylist()
        assert ids == sorted(ids)
        assert {i % 3 for i in ids} == {int(g)}
    assert sum(len(pq.read_table(os.path.join(store.root, r)))
               for rels in groups.values() for r in rels) == 300


def test_stage_groups_records_stats_in_next_manifest(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"))
    df = spark.range(100).withColumn("g", (F.col("id") / 50).cast("int"))
    groups = store.stage_groups(df, "t", "g", stats_cols=("id",))
    _append(store, "t", [f for rels in groups.values() for f in rels])
    stats = store.snapshot().stats
    assert stats[groups["0"][0]]["id"] == [0, 49]
    assert stats[groups["1"][0]]["id"] == [50, 99]
    assert all("__schema__" in stats[f]
               for rels in groups.values() for f in rels)
    # each file's label is its partition in the manifest
    assert all(stats[f]["__part__"] == int(g)
               for g, rels in groups.items() for f in rels)


def test_compact_bucketed_is_one_write(spark, tmp_path, writes):
    store = _bucketed_seen(spark, tmp_path)
    assert len(writes) == 2                   # the stage + the bucketing
    m0, _ = partition_state(store.snapshot(), "url_seen")
    assert set(m0) == {str(b) for b in range(NB)}

    # loose rows spread over every bucket: still one rewrite, absorbing the
    # loose file and every bucket's file
    _append(store, "url_seen",
            store.stage(_seen_rows(spark, 1000, 1040, 1), "url_seen"))
    del writes[:]
    assert commit_plan(store, "url_seen",
                       store.compact(spark, "url_seen")) == 1 + NB
    assert len(writes) == 1
    m1, loose = partition_state(store.snapshot(), "url_seen")
    assert loose == [] and all(len(fs) == 1 for fs in m1.values())
    assert store.read(spark, "url_seen").count() == 440


def test_grouped_bucketing_keeps_plain_reads(spark, tmp_path):
    """Grouped files fingerprint like stage()'d ones: a bucketed table with
    a loose per-epoch append still reads without mergeSchema."""
    store = _bucketed_seen(spark, tmp_path)
    assert not store.needs_merge("url_seen")
    _append(store, "url_seen",
            store.stage(_seen_rows(spark, 1000, 1010, 1), "url_seen"))
    assert not store.needs_merge("url_seen")
    commit_plan(store, "url_seen", store.compact(spark, "url_seen"))
    assert not store.needs_merge("url_seen")


def test_forget_is_one_write_over_buckets_and_loose(spark, tmp_path, writes):
    store = _bucketed_seen(spark, tmp_path)
    _append(store, "url_seen",
            store.stage(_seen_rows(spark, 400, 430, 1), "url_seen"))
    before = store.snapshot()
    before_map, loose = partition_state(before, "url_seen")
    assert len(loose) == 1
    targets = [3, 41, 77, 150, 299, 405]
    buckets = _bucket(spark, targets)
    assert len({buckets[k] for k in targets if k < 400}) >= 3

    del writes[:]
    n = recrawl.forget_urls(
        spark, store, CrawlConfig(),
        spark.createDataFrame([(k,) for k in targets], "url_hash long"), 2)
    assert n == len(targets)
    assert len(writes) == 1

    after = store.snapshot()
    after_map, after_loose = partition_state(after, "url_seen")
    touched = {str(buckets[k]) for k in targets if k < 400}
    for b in before_map:
        if b in touched:
            assert after_map[b] != before_map[b]
        else:
            assert after_map[b] == before_map[b]
    # the forget homes the loose rows of the buckets it touches; the rest
    # stay loose, rewritten into one new loose file
    assert len(after_loose) == 1 and after_loose != loose
    got = store.read(spark, "url_seen")
    assert got.count() == 430 - len(targets)
    assert got.filter(F.col("url_hash").isin(*targets)).count() == 0


def test_forget_emptying_a_bucket_maps_it_to_no_files(spark, tmp_path):
    store = _bucketed_seen(spark, tmp_path, n=100)
    before_map, _ = partition_state(store.snapshot(), "url_seen")
    buckets = _bucket(spark, range(100))
    b0 = buckets[0]
    victims = [k for k, b in buckets.items() if b == b0]

    n = recrawl.forget_urls(
        spark, store, CrawlConfig(),
        spark.createDataFrame([(k,) for k in victims], "url_hash long"), 1)
    assert n == len(victims)
    after = store.snapshot()
    after_map, _ = partition_state(after, "url_seen")
    assert after_map.get(str(b0), []) == []
    assert not set(before_map[str(b0)]) & set(after.tables["url_seen"])
    assert store.read(spark, "url_seen").count() == 100 - len(victims)
