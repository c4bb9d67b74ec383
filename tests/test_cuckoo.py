"""Cuckoo seen-filter backend (V2 alternative; north_rule's "bloom/cuckoo").

Three layers:

* numpy core — structural FP-safety (no false negatives without overflow),
  designed FP rate, delete semantics, bounded-kick overflow detection;
* Spark state functions — updated/rebuild/deleted bucket rows through the
  cogroup boundary, saturation-triggered rebuild, overflow degradation
  (probe answers maybe-seen for everything, never drops);
* crawl-loop parity — the negative cache is a pure optimization, so the
  engine's golden seen set and crawl ordering must be IDENTICAL under
  backend="cuckoo" (with the rebuild path deliberately forced by a tiny
  table floor) to the pure-Python oracle; plus forget_urls (recrawl) on
  both backends.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.operators import cuckoo, dedup, recrawl
from crawlspark.plans.crawler import run_crawl
from tests.crawl_fixtures import SMALL, init_store, make_oracle, write_fixtures

B = cuckoo.SLOTS


def _hashes(start: int, n: int) -> np.ndarray:
    h = (np.arange(start, start + n, dtype=np.uint64)
         * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(4)
    return h.astype(np.int64)


def _seen_df(spark, start, n, host_hash=0):
    pdf = pd.DataFrame({"url_hash": _hashes(start, n),
                        "host_hash": np.int64(host_hash)})
    return spark.createDataFrame(pdf, "url_hash long, host_hash long")


def _filters_df(spark, pdf):
    return spark.createDataFrame(pdf, cuckoo.FILTER_SCHEMA)


# ---------------------------------------------------------------- numpy core

def test_core_no_false_negatives_across_loads():
    for n, m in [(100, 64), (5000, 2048), (58000, 16384)]:   # up to load 0.89
        h = np.unique(_hashes(0, n))
        tab = np.zeros((m, B), dtype=np.uint16)
        assert cuckoo._insert_batch(tab, h) == 0
        assert cuckoo._probe_batch(tab, h).all()


def test_core_fp_rate_near_design_point():
    h = np.unique(_hashes(0, 100_000))
    tab = np.zeros((1 << 15, B), dtype=np.uint16)
    assert cuckoo._insert_batch(tab, h) == 0
    fresh = _hashes(10_000_000, 100_000)
    fp_rate = cuckoo._probe_batch(tab, fresh).mean()
    # design point ~2b/2^16 = 0.012%; allow generous slack
    assert fp_rate < 0.002


def test_core_delete_removes_without_false_negatives():
    h = np.unique(_hashes(0, 40_000))
    tab = np.zeros((1 << 14, B), dtype=np.uint16)
    assert cuckoo._insert_batch(tab, h) == 0
    keep, gone = h[:20_000], h[20_000:]
    n_del = cuckoo._delete_batch(tab, gone)
    assert n_del == len(gone)                 # every copy found and cleared
    assert cuckoo._probe_batch(tab, keep).all()   # FP-safety for the rest
    assert cuckoo._probe_batch(tab, gone).mean() < 0.002  # fp residue only
    # deleting absent hashes is a no-op
    assert cuckoo._delete_batch(tab, _hashes(99_000_000, 100)) == 0


def test_core_overflow_detected_not_dropped():
    tab = np.zeros((16, B), dtype=np.uint16)      # capacity 64
    over = cuckoo._insert_batch(tab, np.unique(_hashes(0, 200)))
    assert over > 0                               # reported, caller flags


def test_backends_share_one_interface():
    """Callers pick the backend module once (dedup.seen_filter_ops) and call
    through it, so both modules must take the same arguments."""
    import inspect

    from crawlspark.operators import bloom

    for name in ("probe", "updated_buckets", "forgotten_buckets"):
        assert (inspect.signature(getattr(bloom, name))
                == inspect.signature(getattr(cuckoo, name)))
    assert dedup.seen_filter_ops(CrawlConfig()) is bloom
    assert dedup.seen_filter_ops(
        CrawlConfig(seen_filter_backend="cuckoo")) is cuckoo


# ------------------------------------------------------------- Spark state

def test_first_batch_sizing_and_probe(spark, monkeypatch):
    monkeypatch.setattr(cuckoo, "MIN_ROWS", 64)
    f0 = cuckoo.updated_buckets(_seen_df(spark, 0, 300), None, n_buckets=2,
                                epoch=0).toPandas()
    assert len(f0) == 1 and int(f0["bucket"].iloc[0]) == 0
    # sized at alpha<=0.5: 300 items -> >=600 slots -> >=256 rows (pow2)
    assert len(f0["slots"].iloc[0]) // 2 >= 600
    assert not bool(f0["overflow"].iloc[0])
    filters = _filters_df(spark, f0)
    probed = cuckoo.probe(_seen_df(spark, 0, 300), filters, 2)
    assert probed.filter(~F.col("maybe_seen")).count() == 0   # no false neg
    fresh = cuckoo.probe(_seen_df(spark, 500_000, 2000), filters, 2)
    assert fresh.filter(F.col("maybe_seen")).count() <= 4     # ~0.012% FPP


def test_saturation_rebuild_grows_bucket(spark, monkeypatch):
    monkeypatch.setattr(cuckoo, "MIN_ROWS", 8)
    f0 = cuckoo.updated_buckets(_seen_df(spark, 0, 100), None, n_buckets=2,
                                epoch=0).toPandas()
    cap0 = len(f0["slots"].iloc[0]) // 2
    # push load past LOAD_REBUILD with all_seen supplied -> rebuild path
    all_seen = _seen_df(spark, 0, 100 + 400)
    f1 = cuckoo.updated_buckets(_seen_df(spark, 100, 400), _filters_df(spark, f0),
                                n_buckets=2, epoch=1,
                                all_seen=all_seen).toPandas()
    cap1 = len(f1["slots"].iloc[0]) // 2
    assert cap1 > cap0                         # rebuilt bigger (alpha 0.5)
    assert not bool(f1["overflow"].iloc[0])
    assert int(f1["n_items"].iloc[0]) == 500
    table = pd.concat([f0, f1], ignore_index=True)   # latest-per-bucket wins
    probed = cuckoo.probe(_seen_df(spark, 0, 500), _filters_df(spark, table), 2)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_overflow_degrades_to_all_maybe_seen(spark, monkeypatch):
    # no all_seen -> the overloaded bucket must flag overflow
    monkeypatch.setattr(cuckoo, "MIN_ROWS", 8)
    f0 = cuckoo.updated_buckets(_seen_df(spark, 0, 30), None, n_buckets=2,
                                epoch=0).toPandas()
    f1 = cuckoo.updated_buckets(_seen_df(spark, 30, 400), _filters_df(spark, f0),
                                n_buckets=2, epoch=1).toPandas()
    assert bool(f1["overflow"].iloc[0])
    table = pd.concat([f0, f1], ignore_index=True)
    # EVERYTHING routes to the exact check — degraded, never dropped
    fresh = cuckoo.probe(_seen_df(spark, 900_000, 50), _filters_df(spark, table), 2)
    assert fresh.filter(F.col("maybe_seen")).count() == 50
    # and the saturation census flags it for rebuild next commit
    sat = cuckoo.saturated_buckets(_seen_df(spark, 430, 1),
                                   _filters_df(spark, table), 2)
    assert sat == [0]


def test_forgotten_buckets_clears_fingerprints(spark):
    f0 = cuckoo.updated_buckets(_seen_df(spark, 0, 2000), None, n_buckets=2,
                                epoch=0).toPandas()
    f1 = cuckoo.forgotten_buckets(_seen_df(spark, 0, 800),
                                  _seen_df(spark, 800, 1200),
                                  _filters_df(spark, f0),
                                  n_buckets=2, epoch=1).toPandas()
    assert int(f1["n_items"].iloc[0]) == 1200
    table = pd.concat([f0, f1], ignore_index=True)
    kept = cuckoo.probe(_seen_df(spark, 800, 1200), _filters_df(spark, table), 2)
    assert kept.filter(~F.col("maybe_seen")).count() == 0     # FP-safety
    gone = cuckoo.probe(_seen_df(spark, 0, 800), _filters_df(spark, table), 2)
    assert gone.filter(F.col("maybe_seen")).count() <= 2      # fp residue


# --------------------------------------------------------- crawl-loop parity

CUCKOO_CFG = CrawlConfig(batch_size=50, n_filter_buckets=8,
                         seen_filter_backend="cuckoo")
# tiny floor (32-slot tables) so the in-loop saturation rebuild path
# actually fires at 400 urls
TINY_MIN_ROWS = 8


@pytest.fixture(scope="module")
def cuckoo_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("fixtures")
    pdfs = write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path_factory.mktemp("store")))
    images = spark.read.parquet(str(tmp / "image_caption.parquet"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cuckoo, "MIN_ROWS", TINY_MIN_ROWS)
        results = run_crawl(spark, store, images, CUCKOO_CFG, max_epochs=60)
    oracle = make_oracle(pdfs, CUCKOO_CFG)
    oracle.run(max_epochs=60)
    return dict(store=store, results=results, oracle=oracle,
                log=store.read(spark, "crawl_log").toPandas(),
                seen=store.read(spark, "url_seen").toPandas())


@pytest.mark.slow
def test_loop_parity_seen_set(cuckoo_run):
    engine_seen = set(cuckoo_run["seen"]["url_hash"].tolist())
    assert engine_seen == cuckoo_run["oracle"].golden_seen()


@pytest.mark.slow
def test_loop_parity_ordering(cuckoo_run):
    admitted = cuckoo_run["log"][
        cuckoo_run["log"]["admission_idx"].notna()].sort_values(
        ["epoch", "admission_idx"])
    engine_order = list(zip(admitted["epoch"].astype(int),
                            admitted["admission_idx"].astype(int),
                            admitted["url_hash"].astype(int)))
    assert engine_order == cuckoo_run["oracle"].golden_order()


@pytest.mark.slow
def test_loop_rebuild_fired_and_filter_consistent(cuckoo_run, spark):
    """The tiny MIN_ROWS floor must have forced at least one in-loop rebuild
    (growing some bucket past the floor), and the final filter must be a
    strict superset of url_seen (zero false negatives end-to-end)."""
    flt = cuckoo_run["store"].read(spark, "seen_filter")
    latest = cuckoo.latest_filter(flt).toPandas()
    assert (latest["slots"].str.len() // 2 > TINY_MIN_ROWS * B).any()
    assert not latest["overflow"].any()
    seen = spark.createDataFrame(
        cuckoo_run["seen"][["url_hash", "host_hash"]])
    probed = cuckoo.probe(seen, flt, CUCKOO_CFG.n_filter_buckets)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


# ------------------------------------------------------------- forget_urls

@pytest.mark.parametrize("backend", ["cuckoo", "bloom"])
@pytest.mark.slow
def test_forget_urls_readmits(spark, tmp_path_factory, monkeypatch, backend):
    monkeypatch.setattr(cuckoo, "MIN_ROWS", TINY_MIN_ROWS)
    cfg = CrawlConfig(batch_size=50, n_filter_buckets=8,
                      seen_filter_backend=backend)
    tmp = tmp_path_factory.mktemp(f"fx_{backend}")
    write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path_factory.mktemp(f"st_{backend}")))
    images = spark.read.parquet(str(tmp / "image_caption.parquet"))
    run_crawl(spark, store, images, cfg, max_epochs=8)

    seen = store.read(spark, "url_seen").toPandas()
    assert len(seen) > 40
    targets_pdf = seen.sample(n=20, random_state=1)[["url_hash", "host_hash"]]
    targets = spark.createDataFrame(targets_pdf)
    n = recrawl.forget_urls(spark, store, cfg, targets, epoch=999)
    assert n == 20

    seen2 = store.read(spark, "url_seen")
    assert seen2.count() == len(seen) - 20
    # forgotten urls flow through dedup.not_seen again; the rest still don't
    flt = store.read(spark, "seen_filter")
    out_f = dedup.not_seen(targets, seen2, flt, cfg)
    assert out_f.count() == 20
    still_pdf = seen.drop(targets_pdf.index)[["url_hash", "host_hash"]].head(30)
    out_s = dedup.not_seen(spark.createDataFrame(still_pdf), seen2, flt, cfg)
    assert out_s.count() == 0
    assert store.snapshot().meta["last_forget"]["n_forgotten"] == 20
