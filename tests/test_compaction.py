"""SnapshotStore maintenance: small-file compaction (Iceberg
rewrite_data_files analog) and vacuum (expire_snapshots analog). An
append-per-epoch table accumulates one file set per commit; compaction must
collapse the files without changing content, keep time travel alive until
vacuum, and keep every row of a partitioned table (the stratum-pruned
frontier) in its own partition.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.plans.crawler import FRONTIER_SPEC, stage_strata
from crawlspark.tables import SnapshotStore, partition_state
from tests.crawl_fixtures import commit_plan, record_spec


@pytest.fixture()
def appended_store(spark, tmp_path):
    """A store with 5 commits of 2-partition appends to 'log' (10 files)."""
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(epoch=-1, meta={"last_epoch": -1})
    for e in range(5):
        df = (spark.range(e * 100, (e + 1) * 100)
              .select(F.col("id"), (F.col("id") % 7).alias("host_hash"))
              .repartition(2))
        store.commit(epoch=e, appends={"log": store.stage(df, "log")},
                     meta={"last_epoch": e})
    return store


def test_compact_preserves_content(spark, appended_store):
    store = appended_store
    pre = store.read(spark, "log")
    pre_rows = sorted(map(tuple, pre.collect()))
    assert len(store.files("log")) == 10

    n = commit_plan(store, "log", store.compact(spark, "log", target_files=2))
    assert n == 10
    assert len(store.files("log")) == 2
    post = store.read(spark, "log")
    assert sorted(map(tuple, post.collect())) == pre_rows
    # already compact -> no-op
    assert store.compact(spark, "log", target_files=2) is None


def test_time_travel_survives_compaction_until_vacuum(spark, appended_store):
    store = appended_store
    pre_cid = store.snapshot().commit_id
    commit_plan(store, "log", store.compact(spark, "log", target_files=1))
    # the pre-compaction snapshot still resolves to the old files on disk
    old = store.read(spark, "log", commit_id=pre_cid)
    assert old.count() == 500

    deleted = store.vacuum(keep_last=1)
    assert len(deleted) == 10          # the 10 pre-compaction files
    assert store.read(spark, "log").count() == 500   # live table intact
    for rel in deleted:
        assert not os.path.exists(os.path.join(store.root, rel))
    # expired manifests are gone too
    assert store.commits() == [store.snapshot().commit_id]


def test_vacuum_reclaims_crash_orphans(spark, appended_store):
    store = appended_store
    # a crashed epoch: staged but never committed
    orphan = store.stage(spark.range(10).select("id"), "log")
    assert os.path.exists(os.path.join(store.root, orphan[0]))
    deleted = store.vacuum(keep_last=len(store.commits()))
    assert orphan[0] in deleted
    assert store.read(spark, "log").count() == 500


@pytest.mark.slow
def test_crawl_loop_with_maintenance_is_parity(spark, tmp_path):
    """compact_every inside run_crawl is storage-layer only: a crawl with
    periodic compaction+vacuum produces byte-identical crawl_log/url_seen to
    the same crawl without it, while keeping O(target_files) files per table
    instead of O(epochs)."""
    import dataclasses

    from crawlspark.plans.crawler import run_crawl
    from tests.crawl_fixtures import SMALL, SMALL_CFG, init_store, \
        write_fixtures

    from crawlspark import datagen

    fx = str(tmp_path / "fx")
    write_fixtures(fx, SMALL)
    images = spark.createDataFrame(datagen.gen_image_caption(SMALL))

    def crawl(store_dir, cfg):
        store = init_store(spark, fx, store_dir)
        run_crawl(spark, store, images, cfg, max_epochs=7)
        return store

    plain = crawl(str(tmp_path / "plain"), SMALL_CFG)
    compacted = crawl(str(tmp_path / "compacted"),
                      dataclasses.replace(SMALL_CFG, compact_every=2,
                                          compact_target_files=1,
                                          vacuum_keep_last=2))

    for table in ("crawl_log", "url_seen"):
        a = sorted(repr(sorted(r.asDict().items()))
                   for r in plain.read(spark, table).collect())
        b = sorted(repr(sorted(r.asDict().items()))
                   for r in compacted.read(spark, table).collect())
        assert a == b, table
    # the maintained store stays small: compacted tables at <= target + the
    # appends since the last maintenance tick (epoch 6 ran after the tick)
    assert len(compacted.files("crawl_log")) < len(plain.files("crawl_log"))
    # vacuum expired old manifests: far fewer than the plain run's
    # init + 7 epoch commits
    assert len(compacted.commits()) <= 5 < len(plain.commits())


def test_compact_keeps_rows_in_their_partitions(spark, tmp_path):
    """Compacting a partitioned table rewrites its oversized partitions and
    homes its loose rows, and every row lands in the partition its own key
    labels: a file's ``__part__`` is the priority of every row in it."""
    store = _partitioned_frontier_store(spark, tmp_path)
    # a loose append holding rows of both strata
    loose = store.stage(_frontier_rows(spark, 500, 520, F.col("id") % 2)
                        .coalesce(1), "frontier")
    store.commit(epoch=1, appends={"frontier": loose},
                 meta=store.snapshot().meta)
    before = sorted(map(tuple, store.read(spark, "frontier").collect()))

    assert commit_plan(store, "frontier", store.compact(
        spark, "frontier", target_files=1)) == 7
    snap = store.snapshot()
    parts, still_loose = partition_state(snap, "frontier")
    assert still_loose == [] and set(parts) == {"0", "1"}
    for p, fs in parts.items():
        assert len(fs) == 1
        got = store.read_files(spark, "frontier", fs)
        assert {r["priority"] for r in got.select("priority")
                .distinct().collect()} == {int(p)}
    assert sorted(map(tuple, store.read(spark, "frontier").collect())) \
        == before


def test_binpack_compaction_leaves_large_files_untouched(spark, appended_store):
    """Incremental (bin-pack) compaction: with small_file_bytes set, only
    files below the threshold are absorbed; already-compacted large files
    keep their EXACT paths (never re-read, never rewritten) and content is
    preserved. Per-epoch maintenance is O(new small files), not O(table)."""
    store = appended_store
    pre_rows = sorted(map(tuple, store.read(spark, "log").collect()))

    # make one file decisively "large": full-table compact into 1 file first
    assert commit_plan(store, "log",
                       store.compact(spark, "log", target_files=1)) == 10
    big = store.snapshot().tables["log"]
    assert len(big) == 1
    big_size = os.path.getsize(os.path.join(store.root, big[0]))

    # then 3 more small appends (epoch tail after the last maintenance tick)
    for e in range(5, 8):
        df = (spark.range(e * 100, (e + 1) * 100)
              .select(F.col("id"), (F.col("id") % 7).alias("host_hash"))
              .repartition(2))
        store.commit(epoch=e, appends={"log": store.stage(df, "log")},
                     meta={"last_epoch": e})
    assert len(store.files("log")) == 7   # 1 big + 6 small

    n = commit_plan(store, "log", store.compact(
        spark, "log", target_files=1,
        small_file_bytes=big_size))                # big file is >= threshold
    assert n == 6                                  # only the smalls absorbed
    post_files = store.snapshot().tables["log"]
    assert len(post_files) == 2
    assert big[0] in post_files                    # exact path survived
    # content preserved: original 500 rows + the 300 appended
    all_rows = sorted(map(tuple, store.read(spark, "log").collect()))
    assert len(all_rows) == 800
    assert pre_rows == [r for r in all_rows if r[0] < 500]

    # bin-pack is idempotent at steady state: nothing small left to absorb
    # beyond the target, so the next pass is a no-op
    small_now = [f for f in store.snapshot().tables["log"]
                 if os.path.getsize(os.path.join(store.root, f)) < big_size]
    assert store.compact(spark, "log", target_files=len(small_now),
                         small_file_bytes=big_size) is None


def test_vacuum_reclaims_crashed_stage_dirs(spark, appended_store):
    """A crash during stage() BEFORE the rename loop leaves the whole
    .stage-<hex> temp dir behind; vacuum must remove it (its files are by
    definition unreferenced — paths are only recorded after rename)."""
    store = appended_store
    crashed = os.path.join(store.root, "log", ".stage-deadbeef")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-0.parquet"), "wb") as fh:
        fh.write(b"torn")
    deleted = store.vacuum(keep_last=len(store.commits()))
    assert "log/.stage-deadbeef" in deleted
    assert not os.path.exists(crashed)
    assert store.read(spark, "log").count() == 500   # live table intact


def test_vacuum_and_commit_purge_orphaned_pending_stats(spark, appended_store):
    """Bounds entries staged for files that never get committed must not
    accumulate in the driver forever: vacuum purges entries for the orphan
    files it reclaims, and commit purges entries whose files vanished by any
    other means (ADVICE r4: unbounded driver-memory leak in a long-lived
    store instance)."""
    store = appended_store
    orphan = store.stage(spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("host_hash")), "log",
        stats_cols=["id"])
    assert orphan[0] in store._pending_stats
    store.vacuum(keep_last=len(store.commits()))     # reclaims the orphan file
    assert orphan[0] not in store._pending_stats

    # commit-path purge: the staged file vanishes externally, the next commit
    # (which never references it) must drop its pending entry
    gone = store.stage(spark.range(5).select(
        F.col("id"), (F.col("id") % 3).alias("host_hash")), "log")
    os.remove(os.path.join(store.root, gone[0]))
    store.commit(epoch=99, meta=store.snapshot().meta)
    assert gone[0] not in store._pending_stats

    # a staged file still on disk awaiting its commit is NOT purged
    pending = store.stage(spark.range(5).select(
        F.col("id"), (F.col("id") % 3).alias("host_hash")), "log")
    store.commit(epoch=100, meta=store.snapshot().meta)
    assert pending[0] in store._pending_stats
    store.commit(epoch=101, appends={"log": pending},
                 meta=store.snapshot().meta)
    assert pending[0] not in store._pending_stats    # adopted, not leaked


def test_needs_merge_schema_decision():
    """{None, sig} is not evidence of two schemas (pre-feature files keep
    the single-footer fast path), but a lone unknown among known sigs still
    forces the merge, and all-unknown reverts to the plain read."""
    from crawlspark.tables import _needs_merge_schema

    assert not _needs_merge_schema([])
    assert not _needs_merge_schema([None, None])          # pre-feature table
    assert not _needs_merge_schema(["a", "a", "a"])       # homogeneous
    assert _needs_merge_schema([None, "a", "a"])          # unknown != same
    assert _needs_merge_schema([None, "a"])
    assert _needs_merge_schema(["a", "b"])                # evolved
    assert _needs_merge_schema([None, "a", "b"])


def test_commit_require_base_conflict(spark, appended_store):
    """Optimistic concurrency (r6, ADVICE item 1): a commit planned against
    a snapshot that is no longer current must be refused, not silently
    clobber the interleaved commit."""
    from crawlspark.tables import CommitConflictError

    store = appended_store
    base = store.snapshot().commit_id
    # interleaved writer lands first
    df = spark.range(1000, 1010).select(
        F.col("id"), (F.col("id") % 7).alias("host_hash"))
    store.commit(epoch=99, appends={"log": store.stage(df, "log")},
                 meta={"last_epoch": 99})
    with pytest.raises(CommitConflictError):
        store.commit(epoch=100, replaces={"log": []}, require_base=base)
    # the interleaved commit survives untouched
    assert store.snapshot().meta["last_epoch"] == 99
    assert store.snapshot().tables["log"]
    # and a replanned commit against the CURRENT snapshot goes through
    store.commit(epoch=100, meta={"last_epoch": 100},
                 require_base=store.snapshot().commit_id)
    assert store.snapshot().meta["last_epoch"] == 100


def _frontier_rows(spark, lo, hi, priority):
    return spark.range(lo, hi).select(
        F.col("id").alias("seq"), (F.col("id") % 5).alias("host"),
        priority.cast("int").alias("priority"))


def _stage_stratum(spark, store, lo, hi, p):
    """Stage one priority-``p`` frontier file labelled with its partition."""
    return stage_strata(store, _frontier_rows(spark, lo, hi, F.lit(p)))[0]


def _partitioned_frontier_store(spark, tmp_path):
    """A store whose frontier is partitioned identity(priority), 2 strata
    of 3 files each, with discovery cursor 7."""
    store = SnapshotStore(str(tmp_path / "store"))
    record_spec(store, "frontier", FRONTIER_SPEC)
    files = []
    for p in (0, 1):
        for i in range(3):
            lo = p * 50 + i * 17
            files += _stage_stratum(spark, store, lo, min(lo + 17,
                                                          p * 50 + 50), p)
    snap = store.snapshot()
    store.commit(epoch=0, appends={"frontier": files},
                 meta={**snap.meta, "discovery_cursors": {"ckpt": 7}})
    return store


def _fold_batch_commit(spark, store, n_files=1):
    """Land what ``ingest.fold_batch`` commits: new priority-0 frontier
    files and the discovery cursor 7 -> 8. Returns the files."""
    staged = [f for i in range(n_files) for f in _stage_stratum(
        spark, store, 900 + 10 * i, 910 + 10 * i, 0)]
    snap = store.snapshot()
    store.commit(epoch=1, appends={"frontier": staged},
                 meta={**snap.meta, "discovery_cursors": {"ckpt": 8}})
    return staged


def test_frontier_pin_compaction_yields_on_concurrent_commit(
        spark, tmp_path, recwarn, monkeypatch):
    """maintain_store REPLACES the frontier list and meta wholesale from
    its planning snapshot; if a commit (e.g. a streaming fold_batch) lands
    in between, it must yield instead of clobbering the interleaved
    commit's appends/cursors (r6, ADVICE item 1)."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.crawler import maintain_store

    store = _partitioned_frontier_store(spark, tmp_path)
    # interpose: after maintenance's planning snapshot is taken, land a
    # commit
    real_snapshot = store.snapshot
    fired = {"done": False}

    def racing_snapshot(*a, **kw):
        snap = real_snapshot(*a, **kw)
        if not fired["done"]:
            fired["done"] = True
            _fold_batch_commit(spark, store)
        return snap

    monkeypatch.setattr(store, "snapshot", racing_snapshot)
    absorbed = maintain_store(spark, store, CrawlConfig(
        compact_target_files=1, vacuum_keep_last=1))
    monkeypatch.undo()
    assert absorbed == {}
    assert [w for w in recwarn.list
            if "concurrent commit" in str(w.message)]
    # the racing commit's meta advances survive
    assert store.snapshot().meta["discovery_cursors"]["ckpt"] == 8
    # the pass yielded before its vacuum
    assert store.commits() == [0, 1, 2]


def test_maintenance_yields_on_commit_during_another_tables_stage(
        spark, tmp_path, recwarn, monkeypatch):
    """The race lands while maintenance stages a non-frontier table, after
    the frontier's rewrite is planned: one commit for the whole pass means
    the stale frontier plan never lands, so the racing commit's cursor and
    labelled frontier files survive, and no vacuum runs."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.crawler import maintain_store

    store = _partitioned_frontier_store(spark, tmp_path)
    for e in range(3):
        snap = store.snapshot()
        store.commit(epoch=e, meta=snap.meta, appends={"log": store.stage(
            spark.range(e * 10, e * 10 + 10).coalesce(1), "log")})
    log_files = store.snapshot().tables["log"]
    raced = {}
    real_stage = store.stage

    def racing_stage(df, name, *a, **kw):
        if name == "log" and not raced:
            raced["files"] = _fold_batch_commit(spark, store, n_files=4)
        return real_stage(df, name, *a, **kw)

    monkeypatch.setattr(store, "stage", racing_stage)
    absorbed = maintain_store(spark, store, CrawlConfig(
        compact_target_files=1, vacuum_keep_last=1))
    monkeypatch.undo()
    assert absorbed == {}
    assert [w for w in recwarn.list
            if "concurrent commit" in str(w.message)]
    snap = store.snapshot()
    assert snap.meta["discovery_cursors"]["ckpt"] == 8
    assert len(raced["files"]) == 4
    pins, loose = partition_state(snap, "frontier")
    assert set(raced["files"]) <= set(pins["0"])
    assert set(raced["files"]) <= set(snap.tables["frontier"])
    assert {f for fs in pins.values() for f in fs} == \
        set(snap.tables["frontier"])
    assert loose == []
    assert snap.tables["log"] == log_files
    # no vacuum: every manifest is still there
    assert store.commits() == list(range(snap.commit_id + 1))


def test_maintenance_pass_is_one_commit_and_keeps_the_epoch_commit(
        spark, tmp_path):
    """Every table's rewrite lands in ONE commit, so with
    ``vacuum_keep_last=2`` the last epoch's commit survives the pass. The
    pass buckets url_seen, compacts the pinned frontier strata and folds
    seen_filter to its newest row per bucket, where a same-epoch tie (the
    epoch's update, then the forget's lower count) goes to the forget."""
    from crawlspark.config import CrawlConfig
    from crawlspark.plans.crawler import maintain_store

    store = _partitioned_frontier_store(spark, tmp_path)
    record_spec(store, "url_seen", {"key": "url_hash", "n": 4})
    for e in range(3):
        flt = spark.createDataFrame(
            [(b, 10 * e + b, e) for b in range(4)],
            "bucket int, n_items long, epoch int")
        appends = {
            "log": store.stage(spark.range(e * 10, e * 10 + 10)
                               .coalesce(1), "log"),
            "url_seen": store.stage(spark.range(e * 10, e * 10 + 10)
                                    .withColumnRenamed("id", "url_hash")
                                    .coalesce(1), "url_seen"),
            "seen_filter": store.stage(flt.coalesce(1), "seen_filter")}
        if e == 2:     # the forget after epoch 2 lowers buckets 0 and 1
            appends["seen_filter"] += store.stage(
                spark.createDataFrame([(0, 3, 2), (1, 4, 2)],
                                      "bucket int, n_items long, epoch int")
                .coalesce(1), "seen_filter")
        store.commit(epoch=e, appends=appends, meta=store.snapshot().meta)
    epoch_cid = store.snapshot().commit_id

    absorbed = maintain_store(spark, store, CrawlConfig(
        compact_target_files=1, vacuum_keep_last=2))
    assert absorbed == {"frontier": 6, "log": 3, "seen_filter": 4,
                        "url_seen": 3}
    snap = store.snapshot()
    assert snap.commit_id == epoch_cid + 1
    # the epoch commit is still readable, files and all
    assert store.snapshot(epoch_cid).commit_id == epoch_cid
    assert store.read(spark, "log", commit_id=epoch_cid).count() == 30
    assert store.commits() == [epoch_cid, epoch_cid + 1]

    assert len(snap.tables["log"]) == 1
    assert store.read(spark, "log").count() == 30
    seen_parts, seen_loose = partition_state(snap, "url_seen")
    assert seen_loose == [] and seen_parts
    assert store.read(spark, "url_seen").count() == 30
    pins, _ = partition_state(snap, "frontier")
    assert all(len(fs) == 1 for fs in pins.values())
    assert [f for p in sorted(pins, key=int) for f in pins[p]] == \
        snap.tables["frontier"]
    assert store.read(spark, "frontier").count() == 100
    assert snap.meta["discovery_cursors"] == {"ckpt": 7}
    folded = sorted(map(tuple, store.read(spark, "seen_filter").collect()))
    assert folded == [(0, 3, 2), (1, 4, 2), (2, 22, 2), (3, 23, 2)]


@pytest.mark.slow
def test_seen_filter_fold_keeps_loop_parity(spark, tmp_path):
    """With maintenance after every epoch, seen_filter holds at most one
    row per bucket, and the crawl and the newest filter row per bucket
    equal those of the same crawl without maintenance."""
    import dataclasses

    from crawlspark import datagen
    from crawlspark.operators.bloom import latest_filter
    from crawlspark.plans.crawler import run_crawl
    from tests.crawl_fixtures import SMALL, SMALL_CFG, init_store, \
        write_fixtures

    fx = str(tmp_path / "fx")
    write_fixtures(fx, SMALL)
    images = spark.createDataFrame(datagen.gen_image_caption(SMALL))

    def crawl(store_dir, cfg):
        store = init_store(spark, fx, store_dir)
        run_crawl(spark, store, images, cfg, max_epochs=4)
        return store

    plain = crawl(str(tmp_path / "plain"), SMALL_CFG)
    folded = crawl(str(tmp_path / "folded"),
                   dataclasses.replace(SMALL_CFG, compact_every=1,
                                       compact_target_files=1,
                                       vacuum_keep_last=2))

    def rows(store, table):
        return sorted(repr(sorted(r.asDict().items()))
                      for r in store.read(spark, table).collect())

    for table in ("crawl_log", "url_seen"):
        assert rows(plain, table) == rows(folded, table), table
    assert folded.read(spark, "seen_filter").count() \
        <= SMALL_CFG.n_filter_buckets
    assert plain.read(spark, "seen_filter").count() \
        > SMALL_CFG.n_filter_buckets

    def latest(store):
        return sorted(map(tuple, latest_filter(store.read(
            spark, "seen_filter")).collect()))

    assert latest(plain) == latest(folded)


def test_read_merges_schema_for_pre_feature_file_like_compact(
        spark, tmp_path):
    """ADVICE item 2: a pre-feature file (no recorded schema fingerprint)
    holding an evolved schema must be merge-read by the READ path exactly
    as compact() would merge it — previously read() gated on known-sig
    count only and silently dropped the evolved column."""
    import os as _os

    from crawlspark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "store"))
    # one fingerprinted file with the base schema
    base = spark.range(5).select(F.col("id"), F.lit("x").alias("a"))
    store.commit(epoch=0, appends={"t": store.stage(base.coalesce(1), "t")})
    # one PRE-FEATURE file (written outside stage(), so no fingerprint)
    # carrying an evolved schema with an extra column
    raw_dir = _os.path.join(store.root, "t", "legacy")
    (spark.range(5, 10)
     .select(F.col("id"), F.lit("y").alias("a"), F.lit(1).alias("extra"))
     .coalesce(1).write.mode("overwrite").parquet(raw_dir))
    legacy = [_os.path.join("t", "legacy", f)
              for f in _os.listdir(raw_dir) if f.endswith(".parquet")]
    store.commit(epoch=1, appends={"t": legacy})

    assert store.needs_merge("t")          # None sig among known sigs
    df = store.read(spark, "t")
    assert "extra" in df.columns           # evolved column visible
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows[7] == 1 and rows[2] is None
