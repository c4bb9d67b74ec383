"""Manifest-stats file skipping (Iceberg manifest column bounds analog).

``stage(stats_cols=...)`` records each staged file's per-column [min, max]
from the parquet footer into the next commit manifest; ``files``/``read``
with ``where=(col, lo, hi)`` skip files whose bounds cannot intersect. The
contract under test: pruning is PURELY an optimization — pruned-read +
row filter == full-read + row filter, always — while the file list itself
shrinks to O(window) for an epoch-clustered table. Files/manifests written
before the feature carry no bounds and are never skipped (safe fallback),
and compaction re-collects bounds so maintenance never disables pruning.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.tables import SnapshotStore
from tests.crawl_fixtures import commit_plan


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "store"))


def _epoch_df(spark, epoch: int, n: int = 50):
    return (spark.range(n)
            .select((F.col("id") + epoch * 1000).alias("url_hash"),
                    F.lit(epoch).cast("int").alias("epoch"),
                    (F.col("id") % 7).alias("host_hash")))


def _commit_epochs(spark, store, epochs, stats=True):
    for e in epochs:
        files = store.stage(_epoch_df(spark, e).coalesce(1), "crawl_log",
                            stats_cols=("epoch",) if stats else None)
        store.commit(epoch=e, appends={"crawl_log": files})


def test_window_read_skips_out_of_range_files(spark, store):
    _commit_epochs(spark, store, range(10))
    all_files = store.files("crawl_log")
    assert len(all_files) == 10

    pruned = store.files("crawl_log", where=("epoch", 3, 5))
    assert len(pruned) == 3          # exactly the three in-window files

    got = (store.read(spark, "crawl_log", where=("epoch", 3, 5))
           .filter((F.col("epoch") >= 3) & (F.col("epoch") <= 5)))
    want = (store.read(spark, "crawl_log")
            .filter((F.col("epoch") >= 3) & (F.col("epoch") <= 5)))
    assert sorted(got.collect()) == sorted(want.collect())


def test_open_bounds(spark, store):
    _commit_epochs(spark, store, range(6))
    assert len(store.files("crawl_log", where=("epoch", 4, None))) == 2
    assert len(store.files("crawl_log", where=("epoch", None, 1))) == 2
    assert len(store.files("crawl_log", where=("epoch", None, None))) == 6
    # empty window: read returns None, the "no matching rows" signal
    assert store.read(spark, "crawl_log", where=("epoch", 99, None)) is None


def test_unstatted_files_are_never_skipped(spark, store):
    _commit_epochs(spark, store, [0, 1], stats=False)   # pre-feature files
    _commit_epochs(spark, store, [2, 3], stats=True)
    pruned = store.files("crawl_log", where=("epoch", 3, 3))
    # the two unstatted files must survive the prune; epoch-2 is skipped
    assert len(pruned) == 3
    got = (store.read(spark, "crawl_log", where=("epoch", 3, 3))
           .filter(F.col("epoch") == 3))
    assert got.count() == 50


def test_stats_follow_replaces_and_compaction(spark, store):
    _commit_epochs(spark, store, range(8))
    n_absorbed = commit_plan(store, "crawl_log", store.compact(
        spark, "crawl_log", target_files=2))
    assert n_absorbed == 8
    snap = store.snapshot()
    rels = snap.tables["crawl_log"]
    assert len(rels) == 2
    # compaction re-collected the bounds for the tracked column
    assert all("epoch" in snap.stats.get(r, {}) for r in rels)
    # dropped files left no stale stats entries behind
    assert set(snap.stats) <= set(rels)
    # pruning still correct after compaction (bounds now span ranges)
    got = (store.read(spark, "crawl_log", where=("epoch", 6, 7))
           .filter(F.col("epoch") >= 6))
    assert got.count() == 100


def test_pending_stats_not_committed_for_unreferenced_files(spark, store):
    files = store.stage(_epoch_df(spark, 1).coalesce(1), "crawl_log",
                        stats_cols=("epoch",))
    # commit something ELSE: the staged file is not referenced, its stats
    # must not leak into the manifest
    store.commit(epoch=0, appends={})
    assert store.snapshot().stats == {}
    # a later commit that references it picks the pending bounds up
    store.commit(epoch=1, appends={"crawl_log": files})
    assert store.snapshot().stats[files[0]]["epoch"] == [1, 1]


def test_cli_export_epoch_window(spark, store, tmp_path):
    _commit_epochs(spark, store, range(5))
    out = str(tmp_path / "win.csv")
    from crawlspark.__main__ import main
    rc = main(["export", "--store", store.root, "--table", "crawl_log",
               "--format", "csv", "--out", out, "--single-file",
               "--since-epoch", "2", "--until-epoch", "3"])
    assert rc == 0
    import csv
    part = next(f for f in sorted(os.listdir(out))
                if f.startswith("part-") and f.endswith(".csv"))
    with open(os.path.join(out, part)) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 100
    assert {r["epoch"] for r in rows} == {"2", "3"}
