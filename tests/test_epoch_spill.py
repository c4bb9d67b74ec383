"""The epoch's two materialization points, checked at fixture scale:

* every frame an epoch stages or collects after the first spill plans from
  a file scan, so its optimized logical plan stays small;
* retry-sourced rows (``attempt >= 1``) are admitted once and counted once;
* ``epoch_metrics`` rows do not depend on how Spark partitions the work.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from crawlspark import datagen
from crawlspark.plans.crawler import run_crawl
from crawlspark.plans.epoch import SCRATCH
from crawlspark.tables import SnapshotStore

from .crawl_fixtures import SMALL_CFG, init_store, write_fixtures

SPEC = datagen.GenSpec(seed=11, n_images=40, n_urls=240, n_hosts=8,
                       n_strata=3)
# a high transient-failure rate and a one-epoch backoff put retry-sourced
# rows back into the admitted batch from epoch 1 on
CFG = dataclasses.replace(SMALL_CFG, transient_fail_per_mille=300,
                          backoff_max_epochs=1)
N_EPOCHS = 3
MAX_PLAN_NODES = 100


def _plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan()
               .treeString().splitlines())


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    """A 3-epoch crawl with every staged and collected frame's plan size
    recorded in call order, tagged with the epoch it ran in."""
    tmp = str(tmp_path_factory.mktemp("spill"))
    fx = os.path.join(tmp, "fx")
    write_fixtures(fx, SPEC)
    store = init_store(spark, fx, os.path.join(tmp, "store"))
    images = spark.read.parquet(os.path.join(fx, "image_caption.parquet"))

    frames: list[tuple[str, int]] = []
    real_stage, real_collect = SnapshotStore.stage, DataFrame.collect

    def stage(self, df, name, *args, **kwargs):
        frames.append((name, _plan_nodes(df)))
        return real_stage(self, df, name, *args, **kwargs)

    def collect(self):
        frames.append(("collect", _plan_nodes(self)))
        return real_collect(self)

    mp = pytest.MonkeyPatch()
    mp.setattr(SnapshotStore, "stage", stage)
    mp.setattr(DataFrame, "collect", collect)
    results = []
    try:
        for _ in range(N_EPOCHS):
            frames.append(("epoch", 0))
            results += run_crawl(spark, store, images, CFG, max_epochs=1)
    finally:
        mp.undo()
    log = store.read(spark, "crawl_log").toPandas()
    return dict(store=store, results=results, frames=frames, log=log,
                fx=fx, images=images, tmp=tmp)


def test_frames_after_first_spill_plan_small(crawl):
    epochs: list[list[tuple[str, int]]] = []
    for name, n in crawl["frames"]:
        if name == "epoch":
            epochs.append([])
        else:
            epochs[-1].append((name, n))
    assert len(epochs) == N_EPOCHS
    for frames in epochs:
        names = [name for name, _ in frames]
        # materialization point 1 is the epoch's first write, point 2 its
        # second; everything else reads from them
        assert names[:2] == [SCRATCH, SCRATCH]
        after = frames[1:]
        assert {"collect", "crawl_log", "url_seen", "retries",
                "politeness_budget", "epoch_metrics"} <= {n for n, _ in after}
        big = [(name, n) for name, n in after if n > MAX_PLAN_NODES]
        assert not big, f"plans above {MAX_PLAN_NODES} nodes: {big}"


def test_retry_rows_admitted_once_and_counted(crawl):
    log, results = crawl["log"], crawl["results"]
    assert [r.epoch for r in results] == list(range(N_EPOCHS))
    adm = log[log["admission_idx"].notna()]
    # the crawl exercised the path: retry-sourced rows were re-admitted
    assert (adm["attempt"] >= 1).any()
    assert not log.duplicated(["epoch", "url_hash"]).any()
    assert (adm.groupby("epoch").size() <= CFG.batch_size).all()
    for r in results:
        counts = log[log["epoch"] == r.epoch]["status"].value_counts()
        got = {s: int(counts.get(s, 0)) for s in
               ("ok", "invalid_payload", "retry", "deferred", "failed",
                "robots_denied")}
        assert got == {"ok": r.n_ok, "invalid_payload": r.n_invalid,
                       "retry": r.n_retry, "deferred": r.n_deferred,
                       "failed": r.n_failed, "robots_denied": r.n_denied}
        assert r.n_admitted == int((adm["epoch"] == r.epoch).sum())
    # the spills are gone once each epoch ends
    sdir = os.path.join(crawl["store"].root, SCRATCH)
    assert not [f for f in os.listdir(sdir) if f.endswith(".parquet")]


def test_epoch_metrics_independent_of_shuffle_partitions(crawl, spark):
    """Same crawl, a different shuffle partition count: same metric rows."""
    store = init_store(spark, crawl["fx"], os.path.join(crawl["tmp"], "p7"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        run_crawl(spark, store, crawl["images"], CFG, max_epochs=1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = store.read(spark, "epoch_metrics").toPandas()
    want = (crawl["store"].read(spark, "epoch_metrics")
            .filter("epoch = 0").toPandas())
    assert sorted(got.columns) == ["epoch", "host_bucket", "n_fetched",
                                   "n_popped", "n_valid"]
    assert not got.duplicated(["epoch", "host_bucket"]).any()
    assert _rows(got) == _rows(want)


def _rows(pdf) -> list[tuple]:
    return sorted(map(tuple, pdf.itertuples(index=False)))
