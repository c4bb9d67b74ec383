"""Shared helpers for crawl-engine tests: write datagen fixtures to a tmp dir,
init a SnapshotStore, build the oracle."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from crawlspark import datagen
from crawlspark.config import CrawlConfig
from crawlspark.oracle.simulator import CrawlOracle
from crawlspark.plans.crawler import init_run
from crawlspark.tables import SnapshotStore

SMALL = datagen.GenSpec(seed=42, n_images=60, n_urls=400, n_hosts=10,
                        n_strata=4)
SMALL_CFG = CrawlConfig(batch_size=50, n_filter_buckets=8)


def write_fixtures(tmp: str, spec: datagen.GenSpec) -> dict:
    pdfs = {
        "image_caption": datagen.gen_image_caption(spec),
        "frontier": datagen.gen_frontier(spec),
        "robots": datagen.gen_robots(spec),
        "budgets": datagen.gen_budgets(spec),
    }
    os.makedirs(tmp, exist_ok=True)
    for name, pdf in pdfs.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(tmp, f"{name}.parquet"))
    return pdfs


def init_store(spark, tmp: str, store_dir: str) -> SnapshotStore:
    store = SnapshotStore(store_dir)
    frontier = spark.read.parquet(os.path.join(tmp, "frontier.parquet"))
    robots = spark.read.parquet(os.path.join(tmp, "robots.parquet"))
    budgets = spark.read.parquet(os.path.join(tmp, "budgets.parquet"))
    init_run(spark, store, frontier, robots, budgets)
    return store


def commit_plan(store: SnapshotStore, name: str, plan) -> int:
    """Publish one ``SnapshotStore.compact`` plan ``(files, n_absorbed)``
    for table ``name`` on its own, the way ``maintain_store`` publishes a
    pass; returns the files absorbed (0 for a None plan)."""
    if plan is None:
        return 0
    files, n_absorbed = plan
    snap = store.snapshot()
    store.commit(snap.epoch, replaces={name: files}, meta=snap.meta)
    return n_absorbed


def record_spec(store: SnapshotStore, name: str, spec: dict) -> None:
    """Record table ``name``'s partition spec, as ``init_run`` does for
    ``frontier`` and ``url_seen``."""
    snap = store.snapshot()
    specs = {**snap.meta.get("partition_spec", {}), name: spec}
    store.commit(snap.epoch, meta={**snap.meta, "partition_spec": specs})


def make_oracle(pdfs: dict, cfg: CrawlConfig) -> CrawlOracle:
    return CrawlOracle(pdfs["frontier"], pdfs["robots"], pdfs["budgets"],
                       pdfs["image_caption"], cfg)
