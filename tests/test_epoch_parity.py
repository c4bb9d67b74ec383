"""Crawl-semantics golden tests: the Spark engine's crawl ordering, final
URL-seen set, per-row statuses and validation flags must equal the pure-Python
reference-semantics oracle under the same seed list + politeness budget
(north_rule; SURVEY.md §5.2)."""

import math

import pytest

pytestmark = pytest.mark.slow  # module-scoped full crawl vs oracle simulator (minutes)

from crawlspark.plans.crawler import run_crawl
from tests.crawl_fixtures import SMALL, SMALL_CFG, init_store, make_oracle, write_fixtures


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("fixtures")
    pdfs = write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path_factory.mktemp("store")))
    images = spark.read.parquet(str(tmp / "image_caption.parquet"))
    results = run_crawl(spark, store, images, SMALL_CFG, max_epochs=60)
    oracle = make_oracle(pdfs, SMALL_CFG)
    oracle.run(max_epochs=60)
    log_pdf = store.read(spark, "crawl_log").toPandas()
    seen_pdf = store.read(spark, "url_seen").toPandas()
    return dict(store=store, results=results, oracle=oracle, log=log_pdf,
                seen=seen_pdf)


def test_crawl_completed(crawl_run):
    assert len(crawl_run["results"]) > 3
    assert crawl_run["log"].shape[0] > 100
    statuses = set(crawl_run["log"]["status"])
    # every lifecycle path exercised by the fixture
    assert {"ok", "robots_denied"}.issubset(statuses)
    assert statuses & {"retry", "deferred", "failed"}, statuses


def test_golden_seen_set(crawl_run):
    engine_seen = set(crawl_run["seen"]["url_hash"].tolist())
    assert engine_seen == crawl_run["oracle"].golden_seen()


def test_golden_crawl_ordering(crawl_run):
    log = crawl_run["log"]
    admitted = log[log["admission_idx"].notna()].sort_values(
        ["epoch", "admission_idx"])
    engine_order = list(zip(admitted["epoch"].astype(int),
                            admitted["admission_idx"].astype(int),
                            admitted["url_hash"].astype(int)))
    assert engine_order == crawl_run["oracle"].golden_order()


def test_statuses_and_validation_flags_match(crawl_run):
    log = crawl_run["log"]
    admitted = log[log["admission_idx"].notna()]
    engine = {(int(r.epoch), int(r.url_hash)):
              (r.status, None if r.psnr_db is None or math.isnan(r.psnr_db)
               else round(float(r.psnr_db), 6),
               r.caption_ok, r.phash_ok)
              for r in admitted.itertuples()}
    oracle = {(e["epoch"], e["url_hash"]):
              (e["status"],
               None if e["psnr_db"] is None else round(float(e["psnr_db"]), 6),
               e["caption_ok"], e["phash_ok"])
              for e in crawl_run["oracle"].st.log
              if e["admission_idx"] is not None}
    assert engine == oracle


def test_robots_denied_match(crawl_run):
    log = crawl_run["log"]
    eng = set(map(tuple, log[log["status"] == "robots_denied"]
                  [["epoch", "url_hash"]].astype(int).values.tolist()))
    orc = {(e["epoch"], e["url_hash"]) for e in crawl_run["oracle"].st.log
           if e["status"] == "robots_denied"}
    assert eng == orc
    # denied rows must never have been fetched
    denied_hashes = {u for _, u in orc}
    fetched = log[log["status"].isin(["ok", "invalid_payload"])]
    assert denied_hashes.isdisjoint(set(fetched["url_hash"].astype(int)))


def test_politeness_invariant(crawl_run):
    """No host exceeds its capacity in any epoch (budget property, §5.5)."""
    import pandas as pd

    log = crawl_run["log"]
    admitted = log[log["admission_idx"].notna()]
    per = admitted.groupby(["epoch", "host"]).size().reset_index(name="n")
    caps = {r["host"]: int(r["capacity"])
            for r in make_caps().to_dict("records")}
    for r in per.itertuples():
        assert r.n <= caps[r.host], (r.epoch, r.host, r.n)


def make_caps():
    from crawlspark import datagen

    return datagen.gen_budgets(SMALL)[["host", "capacity"]]


def test_retry_cap(crawl_run):
    """No url fetched more than max_attempts times (github_api.py:71 analog)."""
    log = crawl_run["log"]
    admitted = log[log["admission_idx"].notna()]
    counts = admitted.groupby("url_hash").size()
    assert int(counts.max()) <= SMALL_CFG.max_attempts


def test_dedup_idempotence(crawl_run):
    """Each url_hash reaches a terminal status at most once."""
    log = crawl_run["log"]
    terminal = log[log["status"].isin(
        ["ok", "invalid_payload", "failed", "robots_denied"])]
    assert not terminal.duplicated(subset=["url_hash"]).any()


def test_payload_invariants_hold(crawl_run):
    """Valid rows: caption + phash ok, and lossy rows have psnr >= 40."""
    log = crawl_run["log"]
    ok = log[log["status"] == "ok"]
    assert len(ok) > 50
    assert ok["caption_ok"].all() and ok["phash_ok"].all()
    lossy = ok[ok["psnr_db"].notna()]
    assert (lossy["psnr_db"] >= 40.0).all()
    assert len(lossy) > 0


def test_retries_disjoint_from_url_seen(crawl_run):
    """At every commit no retries row is for an already-seen URL. The retries
    compaction relies on this to skip an O(history) anti-join against
    url_seen. A terminal row leaked into retries changes no crawl order (the
    seen gate drops it again each epoch), so only this check catches it."""
    import pyarrow.parquet as pq

    store = crawl_run["store"]

    def hashes(name, cid):
        return {h for f in store.files(name, cid)
                for h in pq.read_table(f, columns=["url_hash"])
                .column("url_hash").to_pylist()}

    n_retry_commits = 0
    for cid in store.commits():
        retries = hashes("retries", cid)
        n_retry_commits += bool(retries)
        assert not retries & hashes("url_seen", cid), cid
    assert n_retry_commits > 3
