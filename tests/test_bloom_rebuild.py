"""Bloom seen-filter saturation handling (V2 hardening; VERDICT r3 item 1).

A bucket's bit array is sized from its FIRST batch and thereafter only
accumulates set bits, so across epochs its FPP climbs toward 1 and the
negative cache silently degrades into "exact anti-join for everything".
``updated_buckets(all_seen=...)`` rebuilds a bucket whose post-update FPP
estimate crosses ``FPP_REBUILD`` at ``BITS_PER_ITEM`` per ACTUAL item, restoring the design-point FPP. These tests drive one bucket
past capacity and assert: the rebuild fires, FPP returns below threshold,
FP-safety holds (every seen hash still probes maybe_seen — bits are set for
all of them by construction), untouched buckets keep the incremental path,
and fresh-URL probe selectivity recovers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlspark.operators import bloom

K = bloom.NUM_HASHES
BPI = bloom.BITS_PER_ITEM
MIN_BITS = bloom.MIN_BITS   # 8192-bit floor per bucket


def _seen_pdf(start: int, n: int, host_hash: int = 0) -> pd.DataFrame:
    # spread hashes over the 60-bit space (same magnitude as hash64 output)
    h = (np.arange(start, start + n, dtype=np.uint64)
         * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(4)
    return pd.DataFrame({"url_hash": h.astype(np.int64),
                         "host_hash": np.int64(host_hash)})


def _seen_df(spark, start, n, host_hash=0):
    return spark.createDataFrame(_seen_pdf(start, n, host_hash),
                                 "url_hash long, host_hash long")


def _filters_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, bloom.FILTER_SCHEMA)


def _selectivity(spark, filters, start, n, host_hash=0) -> float:
    """Fraction of FRESH (never-seen) candidates the filter routes to the
    exact anti-join (maybe_seen=True) — the bloom's false-positive cost."""
    cand = _seen_df(spark, start, n, host_hash)
    probed = bloom.probe(cand, filters, n_buckets=2)
    return probed.filter(F.col("maybe_seen")).count() / n


def test_saturation_rebuild_restores_fpp_and_fp_safety(spark):
    # epoch 0: bucket 0 gets 50 items -> array sized at the 8192-bit floor
    f0 = bloom.updated_buckets(_seen_df(spark, 0, 50), None,
                               n_buckets=2, epoch=0).toPandas()
    assert len(f0) == 1 and int(f0["bucket"].iloc[0]) == 0
    assert len(f0["bits"].iloc[0]) * 8 == MIN_BITS

    # epoch 1: +2500 items WITHOUT rebuild -> same array, FPP blows past 0.05
    filters = _filters_df(spark, f0)
    f1 = bloom.updated_buckets(_seen_df(spark, 50, 2500), filters,
                               n_buckets=2, epoch=1).toPandas()
    assert len(f1["bits"].iloc[0]) * 8 == MIN_BITS   # bits only ever set
    assert int(f1["n_items"].iloc[0]) == 2550
    fpp_before = bloom.fpp_estimate(2550, MIN_BITS, K)
    assert fpp_before > 0.05
    table1 = pd.concat([f0, f1], ignore_index=True)
    sel_before = _selectivity(spark, _filters_df(spark, table1), 100_000, 2000)
    assert sel_before > 0.15   # saturated: most fresh URLs hit the slow path

    # epoch 2: +50 items to bucket 0 (saturated -> rebuild) and 30 items to
    # bucket 1 (fresh -> normal incremental creation)
    all_seen = _seen_df(spark, 0, 2650)   # includes epoch 2's bucket-0 rows
    new = (_seen_df(spark, 2600, 50, host_hash=0)
           .unionByName(_seen_df(spark, 500_000, 30, host_hash=1)))
    f2 = bloom.updated_buckets(new, _filters_df(spark, table1),
                               n_buckets=2, epoch=2,
                               all_seen=all_seen).toPandas()
    f2 = f2.set_index("bucket").sort_index()

    # bucket 0 rebuilt: sized at BITS_PER_ITEM x actual items, FPP at design
    m2 = len(f2.loc[0, "bits"]) * 8
    assert m2 == (BPI * 2650 + 7) // 8 * 8
    assert int(f2.loc[0, "n_items"]) == 2650
    assert bloom.fpp_estimate(2650, m2, K) < 0.05

    # bucket 1 took the normal path: fresh floor-sized array, not a rebuild
    assert len(f2.loc[1, "bits"]) * 8 == MIN_BITS
    assert int(f2.loc[1, "n_items"]) == 30

    # FP-safety after rebuild: EVERY seen hash still probes maybe_seen=True
    table2 = pd.concat([table1, f2.reset_index()], ignore_index=True)
    filters2 = _filters_df(spark, table2)
    seen_cand = _seen_df(spark, 0, 2650).unionByName(
        _seen_df(spark, 500_000, 30, host_hash=1))
    probed = bloom.probe(seen_cand, filters2, n_buckets=2)
    assert probed.filter(~F.col("maybe_seen")).count() == 0

    # selectivity recovered: fresh URLs skip the exact anti-join again
    sel_after = _selectivity(spark, filters2, 100_000, 2000)
    assert sel_after < 0.05
    assert sel_after < sel_before / 3


def test_forget_that_empties_a_bucket_writes_its_row(spark):
    """The ``n_items`` invariant (the latest filter row of each bucket
    counts that bucket's seen rows) holds for a forget that empties a
    bucket: bloom writes an ``n_items`` 0 row at ``MIN_BITS`` for it, as
    cuckoo does, instead of leaving the pre-forget row newest."""
    seen = spark.createDataFrame([(i, i % 2) for i in range(20)],
                                 "url_hash long, host_hash long")
    f0 = bloom.updated_buckets(seen, None, n_buckets=2, epoch=0).toPandas()
    hit = seen.filter(F.col("host_hash") == 1)
    rest = seen.filter(F.col("host_hash") == 0)
    forgot = bloom.forgotten_buckets(hit, rest, _filters_df(spark, f0),
                                     n_buckets=2, epoch=1)
    latest = bloom.latest_filter(
        _filters_df(spark, f0).unionByName(forgot)).toPandas()
    assert dict(zip(latest["bucket"], latest["n_items"])) == {0: 10, 1: 0}
    row = latest[latest["bucket"] == 1].iloc[0]
    assert len(row["bits"]) * 8 == MIN_BITS and not any(row["bits"])


def test_no_rebuild_below_threshold(spark):
    """Under-threshold buckets keep the incremental path even when the
    rebuild machinery is armed (all_seen supplied)."""
    f0 = bloom.updated_buckets(_seen_df(spark, 0, 50), None,
                               n_buckets=2, epoch=0).toPandas()
    out = bloom.updated_buckets(_seen_df(spark, 50, 50),
                                _filters_df(spark, f0),
                                n_buckets=2, epoch=1,
                                all_seen=_seen_df(spark, 0, 100)).toPandas()
    assert len(out) == 1
    assert len(out["bits"].iloc[0]) * 8 == MIN_BITS   # incremental, no resize
    assert int(out["n_items"].iloc[0]) == 100


@pytest.mark.slow
def test_rebuild_fires_inside_the_real_crawl_loop(spark, tmp_path,
                                                  monkeypatch):
    """End-to-end: a crawl whose single seen-filter bucket outgrows its
    bit-array floor must trigger the fpp rebuild INSIDE run_epoch's commit
    path (FPP_REBUILD + MIN_BITS read by updated_buckets), leaving a resized
    filter whose n_items matches the url_seen table exactly — while the
    crawl itself stays correct (unique terminal statuses, unique seen
    rows). The 1024-bit floor puts the saturation point at ~164 items, well
    inside what the SMALL fixture crawl reaches."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.crawler import run_crawl
    from tests.crawl_fixtures import SMALL, init_store, write_fixtures

    monkeypatch.setattr(bloom, "MIN_BITS", 1 << 10)
    cfg = CrawlConfig(batch_size=50, n_filter_buckets=1)
    fx = str(tmp_path / "fx")
    pdfs = write_fixtures(fx, SMALL)
    store = init_store(spark, fx, str(tmp_path / "store"))
    images = spark.createDataFrame(pdfs["image_caption"])
    run_crawl(spark, store, images, cfg, max_epochs=60)

    seen = store.read(spark, "url_seen").toPandas()
    assert seen["url_hash"].is_unique
    n_seen = len(seen)
    # enough distinct URLs crawled to push fpp(n, 1024, 4) past 0.05
    assert n_seen > 200

    flt = store.read(spark, "seen_filter").toPandas()
    latest = flt.sort_values("epoch").iloc[-1]
    m_bits = len(latest["bits"]) * 8
    # only a rebuild can resize: the incremental path keeps the configured
    # floor forever, so a larger array proves the rebuild fired in-loop
    assert m_bits > bloom.MIN_BITS
    # the rebuilt filter tracks the seen set exactly (rebuild reads all_seen)
    assert int(latest["n_items"]) == n_seen
    assert bloom.fpp_estimate(n_seen, m_bits, bloom.NUM_HASHES) \
        < bloom.FPP_REBUILD

    log = store.read(spark, "crawl_log").toPandas()
    terminal = log[log["status"].isin(
        ["ok", "invalid_payload", "failed", "robots_denied"])]
    assert terminal["url_hash"].is_unique


@pytest.mark.slow
def test_filter_tracks_the_seen_set_across_forgets(spark, tmp_path):
    """In a TTL-recrawl loop a forget writes its rebuilt rows with the same
    epoch as that epoch's update rows. The newest row per bucket must be
    the forget's, so the next epoch's update builds on it: after every
    epoch and forget, the latest ``n_items`` of each bucket equals the
    url_seen rows in that bucket, as it does without recrawl."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.crawler import run_crawl
    from tests.crawl_fixtures import SMALL, init_store, write_fixtures

    nb = 8
    cfg = CrawlConfig(batch_size=50, n_filter_buckets=nb, recrawl_every=1,
                      recrawl_ttl_epochs=1, recrawl_topk=20)
    fx = str(tmp_path / "fx")
    pdfs = write_fixtures(fx, SMALL)
    store = init_store(spark, fx, str(tmp_path / "store"))
    images = spark.createDataFrame(pdfs["image_caption"])
    for _ in range(4):
        run_crawl(spark, store, images, cfg, max_epochs=1)
        seen = store.read(spark, "url_seen").toPandas()
        want = (seen["host_hash"] % nb).value_counts().to_dict()
        latest = bloom.latest_filter(
            store.read(spark, "seen_filter")).toPandas()
        got = dict(zip(latest["bucket"], latest["n_items"]))
        # a bucket a forget emptied has an n_items 0 row
        want = {b: want.get(b, 0) for b in set(got) | set(want)}
        assert got == want, store.snapshot().meta.get("last_forget")
    assert store.snapshot().meta["last_forget"]["n_forgotten"] > 0
