"""Partition labels live on the data files.

The frontier is partitioned identity(priority) and url_seen
bucket(url_hash, n); each file's label sits in its manifest stats entry,
so no snapshot meta value names a data file. These tests pin:

- across a crawl loop with maintenance, recrawl and vacuum after every
  epoch, no commit's meta holds a live data-file path;
- frontier files appended by a ``fold_batch`` that lands while an epoch is
  running stay poppable, although the epoch commits from an older
  snapshot's meta;
- re-running ``init_run`` replaces the frontier and robots instead of
  appending a second copy.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os

from pyspark.sql import functions as F

from crawlspark.plans.crawler import broaden_frontier, init_run, run_crawl
from crawlspark.streaming import ingest
from crawlspark.tables import partition_state
from tests.crawl_fixtures import SMALL, SMALL_CFG, init_store, \
    write_fixtures


def _images(spark, fx):
    return spark.read.parquet(os.path.join(fx, "image_caption.parquet"))


def test_meta_names_no_data_file(spark, tmp_path, monkeypatch):
    fx = str(tmp_path / "fx")
    write_fixtures(fx, SMALL)
    store = init_store(spark, fx, str(tmp_path / "st"))
    cfg = dataclasses.replace(SMALL_CFG, compact_every=1,
                              compact_target_files=1, vacuum_keep_last=2,
                              recrawl_every=1, recrawl_ttl_epochs=1)
    real_commit = store.commit
    checked = []

    def checking_commit(*args, **kwargs):
        snap = real_commit(*args, **kwargs)
        blob = json.dumps(snap.meta)
        live = [f for fs in snap.tables.values() for f in fs]
        assert not [f for f in live if f in blob], snap.commit_id
        checked.append(snap.commit_id)
        return snap

    monkeypatch.setattr(store, "commit", checking_commit)
    run_crawl(spark, store, _images(spark, fx), cfg, max_epochs=3)
    # epoch, maintenance and forget commits were all checked
    assert len(checked) >= 7
    snap = store.snapshot()
    for name in ("frontier", "url_seen"):
        parts, loose = partition_state(snap, name)
        assert parts and loose == [], name


def test_fold_during_epoch_stays_poppable(spark, tmp_path, monkeypatch):
    fx = str(tmp_path / "fx")
    write_fixtures(fx, SMALL)
    store = init_store(spark, fx, str(tmp_path / "st"))
    images = _images(spark, fx)
    run_crawl(spark, store, images, SMALL_CFG, max_epochs=1)

    # discoveries on budgeted hosts at priority 0, ordered ahead of every
    # enqueued row of that stratum
    rows = [(f"http://host000{i % 2 * 2}.example.com/img/folded_{i}", 0,
             -100 + i, f"img_{i:012d}", dt.datetime(2026, 1, 1))
            for i in range(8)]
    disc = ingest.enrich_discoveries(
        spark.createDataFrame(rows, ingest.DISCOVERY_SCHEMA))
    folded = {r["url_hash"] for r in disc.select("url_hash").collect()}
    real_stage = store.stage
    raced = []

    def racing_stage(df, name, *a, **kw):
        # the epoch has taken its snapshot and is staging its outputs
        if name == "crawl_log" and not raced:
            ingest.fold_batch(spark, store, disc, 0, cursor_tag="race")
            raced.append(store.snapshot().commit_id)
        return real_stage(df, name, *a, **kw)

    monkeypatch.setattr(store, "stage", racing_stage)
    run_crawl(spark, store, images, SMALL_CFG, max_epochs=1)
    monkeypatch.undo()
    assert raced
    snap = store.snapshot()
    assert snap.commit_id == raced[0] + 1          # the epoch's commit
    assert int(snap.meta["remaining_by_priority"]["0"]) > 0
    parts, _ = partition_state(snap, "frontier")
    fold_files = store.read_files(spark, "frontier", parts["0"]).filter(
        F.col("seq") < 0)
    assert fold_files.count() == len(folded)

    run_crawl(spark, store, images, SMALL_CFG, max_epochs=2)
    logged = {r["url_hash"] for r in store.read(spark, "crawl_log")
              .filter(F.col("epoch") >= 2).select("url_hash").collect()}
    assert folded <= logged


def test_init_run_twice_replaces_frontier_and_robots(spark, tmp_path):
    fx = str(tmp_path / "fx")
    pdfs = write_fixtures(fx, SMALL)
    store = init_store(spark, fx, str(tmp_path / "st"))

    def read(name):
        return spark.read.parquet(os.path.join(fx, f"{name}.parquet"))

    init_run(spark, store, read("frontier"), read("robots"), read("budgets"))
    snap = store.snapshot()
    assert store.read(spark, "robots").count() == len(pdfs["robots"])
    assert store.read(spark, "frontier").count() == len(pdfs["frontier"])
    parts, loose = partition_state(snap, "frontier")
    assert loose == [] and sorted(parts) == ["0", "1", "2", "3"]
    assert all(len(fs) == 1 for fs in parts.values())
    remaining = {int(k): v for k, v in
                 snap.meta["remaining_by_priority"].items()}
    assert remaining == pdfs["frontier"].groupby("priority").size().to_dict()

    fallback = read("frontier").limit(20).withColumn(
        "priority", F.lit(9).cast("int"))
    broaden_frontier(spark, store, fallback)
    snap = store.snapshot()
    assert int(snap.meta["remaining_by_priority"]["9"]) == 20
    assert store.read(spark, "frontier").count() \
        == len(pdfs["frontier"]) + 20
