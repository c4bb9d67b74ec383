"""TTL recrawl: the action side of the S6 stale-rows scan.

The reference refreshes stale rows by popping ids from
``get_repositories_for_update`` (ordered by last_crawled_at ASC, LIMIT k)
and re-fetching them through the normal pipeline
(/root/reference/src/infrastructure/database.py,
src/application/use_cases.py). Here the same semantics are a *forget*:
frontier rows persist in the store and the epoch pop excludes them only via
the url_seen anti-join, so removing a URL from url_seen (+ the negative
cache) IS re-enqueueing it — the re-fetch then flows through the standard
pop -> dedup -> politeness -> validate path with all its ordering and
budget rules intact. ``remaining_by_priority`` is bumped in the same
atomic commit, so choose_prefix's stratum pruning stays consistent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.operators import recrawl
from crawlspark.plans.crawler import run_crawl
from crawlspark.tables import partition_state
from tests.crawl_fixtures import SMALL, commit_plan, init_store, \
    record_spec, write_fixtures

TERMINAL = ("ok", "invalid_payload")


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """A crawl run to frontier exhaustion (the recrawl starting point)."""
    cfg = CrawlConfig(batch_size=50, n_filter_buckets=8)
    tmp = tmp_path_factory.mktemp("fx_recrawl")
    write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path_factory.mktemp("st_recrawl")))
    images = spark.read.parquet(str(tmp / "image_caption.parquet"))
    run_crawl(spark, store, images, cfg, max_epochs=60)
    return dict(store=store, images=images, cfg=cfg)


def _last_terminal(spark, store):
    log = store.read(spark, "crawl_log")
    return (log.filter(F.col("status").isin(*TERMINAL))
            .groupBy("url_hash").agg(F.max("epoch").alias("e")))


@pytest.mark.slow
def test_stale_targets_oldest_first_topk(drained, spark):
    store, cfg0 = drained["store"], drained["cfg"]
    last_epoch = int(store.snapshot().meta["last_epoch"])
    cfg = CrawlConfig(**{**cfg0.__dict__, "recrawl_ttl_epochs": 0,
                         "recrawl_topk": 10})
    targets = recrawl.stale_targets(spark, store, cfg, last_epoch).toPandas()
    assert len(targets) == 10
    # oldest-first: every target's last terminal epoch <= every non-target's
    last = _last_terminal(spark, store).toPandas().set_index("url_hash")["e"]
    tgt = set(targets["url_hash"])
    max_tgt = max(last[h] for h in tgt)
    min_rest = min(e for h, e in last.items() if h not in tgt)
    assert max_tgt <= min_rest
    # ttl excludes recent crawls
    cfg_hi = CrawlConfig(**{**cfg0.__dict__, "recrawl_ttl_epochs": 10_000,
                            "recrawl_topk": 10})
    assert recrawl.stale_targets(spark, store, cfg_hi, last_epoch).count() == 0


@pytest.mark.slow
def test_recrawl_pass_bumps_remaining_and_is_idempotent(drained, spark):
    store, cfg0 = drained["store"], drained["cfg"]
    last_epoch = int(store.snapshot().meta["last_epoch"])
    n_seen0 = store.read(spark, "url_seen").count()
    rem0 = {int(k): int(v) for k, v in
            store.snapshot().meta["remaining_by_priority"].items()}
    cfg = CrawlConfig(**{**cfg0.__dict__, "recrawl_ttl_epochs": 0,
                         "recrawl_topk": 25})
    n = recrawl.recrawl_pass(spark, store, cfg, last_epoch)
    assert n == 25
    assert store.read(spark, "url_seen").count() == n_seen0 - 25
    rem1 = {int(k): int(v) for k, v in
            store.snapshot().meta["remaining_by_priority"].items()}
    assert sum(rem1.values()) == sum(rem0.values()) + 25
    # a second pass at the same epoch must NOT re-select the already-
    # forgotten urls (their stale log rows persist): it picks the next-
    # oldest 25 still-seen urls, never double-bumping for one frontier row
    n2 = recrawl.recrawl_pass(spark, store, cfg, last_epoch)
    assert n2 == 25
    assert store.read(spark, "url_seen").count() == n_seen0 - 50
    rem2 = {int(k): int(v) for k, v in
            store.snapshot().meta["remaining_by_priority"].items()}
    assert sum(rem2.values()) == sum(rem0.values()) + 50


@pytest.mark.slow
def test_refresh_crawl_refetches_forgotten(drained, spark):
    """Continuing the loop with recrawl_every set re-fetches the forgotten
    URLs through the standard path: new terminal log rows at later epochs,
    url_seen restored, and the refresh keeps the loop alive (re-admissions
    count as progress)."""
    store, images, cfg0 = drained["store"], drained["images"], drained["cfg"]
    # state after the two passes above: 50 urls forgotten
    n_seen_before = store.read(spark, "url_seen").count()
    last = _last_terminal(spark, store)
    seen_now = store.read(spark, "url_seen").select("url_hash")
    forgotten = last.join(seen_now, "url_hash", "left_anti")
    n_forgotten = forgotten.count()
    assert n_forgotten == 50
    epoch_before = int(store.snapshot().meta["last_epoch"])

    cfg = CrawlConfig(**{**cfg0.__dict__, "recrawl_every": 3,
                         "recrawl_ttl_epochs": 10_000,  # no NEW forgets
                         "recrawl_topk": 25})
    run_crawl(spark, store, images, cfg, max_epochs=40)

    log = store.read(spark, "crawl_log")
    refetched = (log.filter(F.col("status").isin(*TERMINAL))
                 .filter(F.col("epoch") > epoch_before)
                 .join(forgotten.select("url_hash"), "url_hash", "left_semi"))
    n_refetched = refetched.select("url_hash").distinct().count()
    assert n_refetched == n_forgotten            # every forgotten url refreshed
    assert store.read(spark, "url_seen").count() == n_seen_before + n_forgotten
    # remaining counters drained back down by exactly the re-admissions
    # (every terminal refetch decrements the stratum it was re-counted into)
    seen_hashes = {r["url_hash"] for r in
                   store.read(spark, "url_seen").select("url_hash").collect()}
    assert {r["url_hash"] for r in last.select("url_hash").collect()
            } <= seen_hashes


def test_bucketed_forget_rewrites_only_touched_buckets(spark, tmp_path):
    """When url_seen is key-hash bucketed, forget_urls must do a
    bucket-scoped DELETE: untouched buckets keep their exact file paths,
    targets are gone, everything else survives."""
    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"))
    seen = spark.range(400).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 13).alias("host_hash"),
        F.lit(0).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))
    store.commit(0, appends={"url_seen": store.stage(seen, "url_seen")})
    record_spec(store, "url_seen", {"key": "url_hash", "n": 8})
    assert commit_plan(store, "url_seen", store.compact(spark, "url_seen")) > 0
    # loose append after bucketing (the per-epoch url_seen append shape)
    extra = spark.range(400, 430).select(
        F.col("id").alias("url_hash"), (F.col("id") % 13).alias("host_hash"),
        F.lit(1).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))
    store.commit(1, appends={"url_seen": store.stage(extra, "url_seen")},
                 meta=store.snapshot().meta)

    # targets: 5 keys that land in a known subset of buckets, plus one from
    # the loose slice
    targets = spark.createDataFrame(
        [(7,), (15,), (23,), (31,), (405,)], "url_hash long")
    tgt_buckets = {int(r["_b"]) for r in targets.select(
        F.pmod(F.xxhash64("url_hash"), F.lit(8)).cast("int").alias("_b"))
        .distinct().collect()}
    before = store.snapshot()
    before_map, _ = partition_state(before, "url_seen")

    cfg = CrawlConfig()
    n = recrawl.forget_urls(spark, store, cfg, targets, epoch=2)
    assert n == 5

    after = store.snapshot()
    after_map, _ = partition_state(after, "url_seen")
    for b in range(8):
        if b in tgt_buckets:
            assert after_map[str(b)] != before_map[str(b)]
        else:
            # untouched bucket: exact same file paths survive the commit
            assert after_map[str(b)] == before_map[str(b)]
    got = store.read(spark, "url_seen")
    assert got.count() == 430 - 5
    assert got.filter(F.col("url_hash").isin(7, 15, 23, 31, 405)).count() == 0
    # the bucket map stays consistent: scoped reads via the map see all rows
    mapped = {f for fs in after_map.values() for f in fs}
    assert mapped <= set(after.tables["url_seen"])


@pytest.mark.slow
def test_loop_with_bucketed_maintenance_and_ttl_recrawl(spark, tmp_path,
                                                       monkeypatch):
    """The production wiring end-to-end: the crawl loop maintains url_seen
    bucketed (compact_every) AND runs TTL recrawl passes (recrawl_every), so
    forget_urls takes the bucket-scoped path against a live bucket map. The
    store must stay self-consistent throughout: the bucket map references
    only live files, url_seen rows stay unique per url_hash, and recrawl
    actually re-fetches (crawl_log grows a second terminal row for
    forgotten urls)."""
    from crawlspark.plans import crawler
    from tests.crawl_fixtures import SMALL, init_store, write_fixtures

    monkeypatch.setattr(crawler, "USEEN_N_BUCKETS", 4)
    tmp = tmp_path / "fx"
    write_fixtures(str(tmp), SMALL)
    store = init_store(spark, str(tmp), str(tmp_path / "st"))
    images = spark.read.parquet(str(tmp / "image_caption.parquet"))
    cfg = CrawlConfig(batch_size=80, n_filter_buckets=8,
                      compact_every=2,
                      recrawl_every=4, recrawl_ttl_epochs=2,
                      recrawl_topk=25)
    run_crawl(spark, store, images, cfg, max_epochs=24)

    snap = store.snapshot()
    seen = store.read(spark, "url_seen")
    # uniqueness survived forget+re-crawl cycles
    assert seen.count() == seen.select("url_hash").distinct().count()
    # bucket map consistent with the manifest after interleaved
    # compact (maintenance) and scoped deletes (recrawl)
    bmap, _ = partition_state(snap, "url_seen")
    assert bmap, "maintenance never bucketed url_seen"
    assert snap.meta["partition_spec"]["url_seen"]["n"] == 4
    mapped = {f for fs in bmap.values() for f in fs}
    assert mapped <= set(snap.tables["url_seen"])
    # TTL refresh really re-fetched: some url has >1 terminal log row
    log = store.read(spark, "crawl_log")
    refetched = (log.filter(F.col("status").isin(*TERMINAL))
                 .groupBy("url_hash").count().filter(F.col("count") > 1))
    assert refetched.count() > 0


@pytest.mark.slow
def test_maintenance_survives_bucket_count_change_across_resume(
        spark, tmp_path):
    """A store bucketed with another count than maintenance's own
    (``USEEN_N_BUCKETS``) must not crash maintenance: once a bucket spec is
    recorded, maintenance defers to it (re-bucketing is an explicit offline
    operation)."""
    from crawlspark.plans.crawler import maintain_store
    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"))
    seen = spark.range(100).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).alias("host_hash"),
        F.lit(0).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))
    store.commit(0, appends={"url_seen": store.stage(seen, "url_seen")})
    record_spec(store, "url_seen", {"key": "url_hash", "n": 4})
    commit_plan(store, "url_seen", store.compact(spark, "url_seen"))
    assert store.snapshot().meta["partition_spec"]["url_seen"]["n"] == 4
    # maintenance with a DIFFERENT bucket count of its own: no crash, the
    # recorded spec wins
    extra = spark.range(100, 120).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).alias("host_hash"),
        F.lit(1).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))
    store.commit(1, appends={"url_seen": store.stage(extra, "url_seen")},
                 meta=store.snapshot().meta)
    maintain_store(spark, store, CrawlConfig())
    assert store.snapshot().meta["partition_spec"]["url_seen"]["n"] == 4
    assert set(partition_state(store.snapshot(), "url_seen")[0]) \
        <= {"0", "1", "2", "3"}
    assert store.read(spark, "url_seen").count() == 120


def test_bucketed_forget_preserves_evolved_schema(spark, tmp_path):
    """If url_seen's live files span >1 schema fingerprint (schema
    evolution), the bucket-scoped DELETE must union schemas when rewriting —
    a plain read would take the first footer's schema and silently drop the
    newer column from every rewritten file (ADVICE r4)."""
    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"))
    v1 = spark.range(100).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 7).alias("host_hash"),
        F.lit(0).cast("int").alias("first_seen_epoch"),
        F.lit(1).cast("int").alias("first_seen_priority"))
    store.commit(0, appends={"url_seen": store.stage(v1, "url_seen")})
    record_spec(store, "url_seen", {"key": "url_hash", "n": 4})
    assert commit_plan(store, "url_seen", store.compact(spark, "url_seen")) > 0
    # evolved loose append: a new column the bucketed files lack
    v2 = spark.range(100, 130).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 7).alias("host_hash"),
        F.lit(5).cast("int").alias("first_seen_epoch"),
        F.lit(2).cast("int").alias("first_seen_priority"),
        F.concat(F.lit("src-"), F.col("id").cast("string")).alias("source"))
    store.commit(1, appends={"url_seen": store.stage(v2, "url_seen")},
                 meta=store.snapshot().meta)
    assert store.schema_variants("url_seen") > 1

    # targets hit bucketed files AND the evolved loose file
    targets = spark.createDataFrame([(3,), (41,), (105,)], "url_hash long")
    cfg = CrawlConfig()
    assert recrawl.forget_urls(spark, store, cfg, targets, epoch=2) == 3

    got = store.read(spark, "url_seen")
    assert "source" in got.columns            # evolved column survived
    assert got.count() == 130 - 3
    kept_v2 = got.filter(F.col("url_hash") >= 100)
    assert kept_v2.count() == 29
    # the rewritten loose slice kept its values, not nulls
    assert kept_v2.filter(F.col("source").isNull()).count() == 0
    assert (got.filter(F.col("url_hash") < 100)
            .filter(F.col("source").isNotNull()).count() == 0)


def test_stale_targets_windows_the_log_scan(spark, tmp_path, monkeypatch):
    """On a long-history store the stale-candidate aggregate must run on the
    old-epoch file window only (manifest epoch bounds), with the recent
    window touched just for the exclusion key set — and the result must be
    identical to a brute-force full-log computation, including urls whose
    old terminal row is superseded by a recent one (VERDICT r4 #5)."""
    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"))
    n_urls, n_epochs = 60, 20
    # url u is terminally crawled at every epoch e where e % (u % 7 + 2) == 0
    # -> varied per-url last-crawl epochs across the history
    rows = []
    for e in range(n_epochs):
        for u in range(n_urls):
            if e % (u % 7 + 2) == 0:
                rows.append((u, u % 11, e,
                             "ok" if (u + e) % 5 else "invalid_payload"))
            elif (u + e) % 13 == 0:
                rows.append((u, u % 11, e, "retry"))   # non-terminal noise
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["url_hash", "host_hash", "epoch",
                                      "status"])
    for e in range(n_epochs):
        df = spark.createDataFrame(pdf[pdf["epoch"] == e]).coalesce(1)
        store.commit(epoch=e, appends={"crawl_log": store.stage(
            df, "crawl_log", stats_cols=("epoch",))})
    seen = spark.range(n_urls).select(F.col("id").alias("url_hash"))
    store.commit(epoch=n_epochs,
                 appends={"url_seen": store.stage(seen, "url_seen")},
                 meta={"last_epoch": n_epochs - 1})

    cfg = CrawlConfig(recrawl_ttl_epochs=8, recrawl_topk=15)
    epoch = n_epochs  # bound = 12
    bound = epoch - cfg.recrawl_ttl_epochs

    # spy on the where= windows the scan actually requests
    calls = []
    real_read = SnapshotStore.read

    def spy(self, spark_, name, commit_id=None, where=None):
        calls.append((name, where))
        return real_read(self, spark_, name, commit_id=commit_id, where=where)

    monkeypatch.setattr(SnapshotStore, "read", spy)
    got = recrawl.stale_targets(spark, store, cfg, epoch).toPandas()
    wheres = [w for n, w in calls if n == "crawl_log"]
    assert ("epoch", None, bound) in wheres
    assert ("epoch", bound + 1, None) in wheres
    assert (None in wheres) is False          # never a full-log read
    # and the windows genuinely prune: old window excludes the recent files
    assert len(store.files("crawl_log", where=("epoch", None, bound))) == \
        bound + 1
    assert len(store.files("crawl_log", where=("epoch", bound + 1, None))) \
        == n_epochs - bound - 1

    # brute force over the FULL log
    full = pdf[pdf["status"].isin(["ok", "invalid_payload"])]
    last = full.groupby("url_hash")["epoch"].max()
    want = last[last <= bound].sort_values().index
    want_k = set()
    cur = sorted(((last[u], u) for u in want))[:cfg.recrawl_topk]
    want_k = [u for _, u in cur]
    assert sorted(got["url_hash"]) == sorted(want_k)

    # a ttl pushing the bound below epoch 0 yields an EMPTY frame (not None)
    cfg_hi = CrawlConfig(recrawl_ttl_epochs=10_000, recrawl_topk=5)
    assert recrawl.stale_targets(spark, store, cfg_hi, epoch).count() == 0
