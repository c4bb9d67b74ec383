"""End-to-end integration of the push and pull halves of the engine: a
discovery stream folds into the frontier (streaming.ingest), then the batch
epoch loop crawls the combined frontier to drain. The invariant that makes
the whole pipeline correct at 10^10 URLs: after drain, url_seen holds
EXACTLY one row per distinct canonical URL ever enqueued (initial frontier
union streamed discoveries, twins collapsed), and no URL is fetched 'ok'
twice.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow  # module-scoped multi-trigger stream + crawl loop (minutes)

from crawlspark import datagen
from crawlspark.config import CrawlConfig
from crawlspark.functions.urls import url_hash64
from crawlspark.plans.crawler import run_crawl
from crawlspark.streaming import ingest
from tests.crawl_fixtures import SMALL, init_store, write_fixtures

DISC_COLS = ["url", "priority", "seq", "image_id", "discovered_at"]


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("fx")
    pdfs = write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path_factory.mktemp("store")))

    # discoveries: a fresh slice (seed 77 -> mostly new urls) + exact twins
    # of the first 30 initial-frontier urls (must dedupe against url_seen /
    # the enqueued frontier, never crawl twice)
    disc_spec = datagen.GenSpec(seed=77, n_images=SMALL.n_images,
                                n_urls=200, n_hosts=SMALL.n_hosts,
                                n_strata=SMALL.n_strata)
    disc = datagen.gen_frontier(disc_spec)[DISC_COLS]
    twins = pdfs["frontier"][DISC_COLS].iloc[:30].copy()
    twins["url"] = twins["url"].str.replace("http://host", "http://HOST",
                                            n=1, regex=False)
    disc = pd.concat([disc, twins], ignore_index=True)
    disc["priority"] = disc["priority"].astype("int32")
    disc["seq"] = np.arange(len(disc), dtype=np.int64) + 10_000
    disc["discovered_at"] = (
        pd.Timestamp("2026-01-01T00:00:00Z")
        + pd.to_timedelta(disc["seq"], unit="s")).astype("datetime64[us, UTC]")

    ddir = str(tmp_path_factory.mktemp("disc"))
    for i, chunk in enumerate((disc.iloc[:120], disc.iloc[120:])):
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(ddir, f"chunk-{i}.parquet"))

    raw = ingest.discovery_file_stream(spark, ddir)
    q = ingest.fold_into_frontier(spark, ingest.enrich_discoveries(raw),
                                  store, str(tmp_path_factory.mktemp("ckpt")))
    q.awaitTermination(300)

    images = spark.createDataFrame(pdfs["image_caption"])
    run_crawl(spark, store, images, CrawlConfig(batch_size=60),
              max_epochs=300)
    expected_hashes = {url_hash64(u) for u in
                       list(pdfs["frontier"]["url"]) + list(disc["url"])}
    return dict(store=store, expected=expected_hashes)


def test_seen_set_is_exactly_the_distinct_canonical_urls(spark, drained):
    seen = drained["store"].read(spark, "url_seen").toPandas()
    assert len(seen) == seen["url_hash"].nunique()       # one row per url
    assert set(seen["url_hash"]) == drained["expected"]  # nothing lost/extra


def test_no_url_fetched_ok_twice(spark, drained):
    log = drained["store"].read(spark, "crawl_log").toPandas()
    ok = log[log["status"] == "ok"]
    assert ok["url_hash"].is_unique
    # every url_hash in the log reached exactly one terminal status
    terminal = log[log["status"].isin(
        ["ok", "invalid_payload", "failed", "robots_denied"])]
    assert terminal["url_hash"].is_unique

