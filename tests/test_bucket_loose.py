"""Loose-file handling in the bucketed table layer.

The epoch loop appends url_seen rows WITHOUT re-bucketing (an O(batch)
append — re-bucketing per epoch would be O(table)). Those appended files
("loose" — listed in the table but carrying no partition label in the
manifest) can hold any bucket's keys, so
:meth:`SnapshotStore.rewrite_partitions`, the one scoped rewrite behind
``compact``, ``merge_into`` and ``forget_urls``, reads every loose file
along with the touched buckets and applies one rule: a row goes to its
bucket if that bucket is touched (or no file is partitioned yet); any other
row stays loose. This file pins:

- ``merge_into`` (scoped path): the matched-row newer-wins check must SEE
  loose rows (or a stale loose row silently survives a newer update);
  loose rows of the updated buckets are homed, the rest stay loose, and
  untouched buckets keep their exact paths.
- ``compact``: scoped by the loose rows themselves, so every loose
  row is homed; only buckets that received loose rows are rewritten and
  every other bucket keeps its exact file paths (O(loose rows), never
  O(table)).
- the recorded partition spec wins: a merge without ``n_buckets`` stays
  scoped and keeps the map live, a different ``n_buckets`` is refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.operators import recrawl
from crawlspark.tables import SnapshotStore, merge_into, partition_state
from tests.crawl_fixtures import commit_plan, record_spec

NB = 8


def _store(tmp_path):
    store = SnapshotStore(str(tmp_path / "store"))
    store.commit(epoch=-1, meta={"last_epoch": -1})
    return store


def _rows(spark, ks_ts_payload):
    return spark.createDataFrame(
        [(int(k), int(t), int(p)) for k, t, p in ks_ts_payload],
        "k long, ts long, payload long")


def _seed_bucketed(spark, store, n=400):
    seed = spark.range(n).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("ts"),
        F.col("id").alias("payload"))
    merge_into(spark, store, "t", seed, "k", newer_col="ts", n_buckets=NB)


def _append_loose(spark, store, rows):
    """What the epoch loop does: stage + append, unpartitioned."""
    snap = store.snapshot()
    store.commit(epoch=snap.epoch,
                 appends={"t": store.stage(_rows(spark, rows), "t")},
                 meta=snap.meta)


def test_bucket_state_classifies_loose_files(spark, tmp_path):
    store = _store(tmp_path)
    _seed_bucketed(spark, store)
    m0, loose0 = partition_state(store.snapshot(), "t")
    assert m0 is not None and loose0 == []

    _append_loose(spark, store, [(9001, 1, 1)])
    m1, loose1 = partition_state(store.snapshot(), "t")
    assert m1 == m0
    mapped = {f for fs in m1.values() for f in fs}
    assert loose1 and not set(loose1) & mapped

    # an unbucketed table: map is None, every file is loose
    store.commit(epoch=0, appends={"u": store.stage(
        _rows(spark, [(1, 1, 1)]), "u")}, meta=store.snapshot().meta)
    snap_u = store.snapshot()
    m_u, loose_u = partition_state(snap_u, "u")
    assert m_u is None and loose_u == snap_u.tables["u"]


def test_scoped_merge_newer_wins_against_loose_row(spark, tmp_path):
    """A loose file carries the ONLY copy of key 9007 (ts=10, appended
    after the last bucketing — the epoch-loop shape: appends insert NEW
    keys). An update with ts=5 must lose to it; an update with ts=20 must
    supersede it — i.e. the matched-row check reads loose files, not just
    the touched bucket's mapped files."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store)
    _append_loose(spark, store, [(9007, 10, 777)])

    # stale update loses: key 9007 keeps the loose row's ts=10 version
    merge_into(spark, store, "t", _rows(spark, [(9007, 5, -1)]), "k",
               newer_col="ts", n_buckets=NB)
    got = store.read(spark, "t").filter(F.col("k") == 9007).collect()
    assert len(got) == 1 and got[0]["ts"] == 10 and got[0]["payload"] == 777

    _append_loose(spark, store, [(9008, 10, 888)])
    # newer update wins over the loose version of key 9008
    merge_into(spark, store, "t", _rows(spark, [(9008, 20, -2)]), "k",
               newer_col="ts", n_buckets=NB)
    got = store.read(spark, "t").filter(F.col("k") == 9008).collect()
    assert len(got) == 1 and got[0]["ts"] == 20 and got[0]["payload"] == -2
    # and the re-homed loose keys are single-copy (no duplicate from the
    # merge having read their loose files)
    all_rows = store.read(spark, "t")
    assert all_rows.count() == all_rows.select("k").distinct().count()


def _bucket_of(spark, keys):
    return {int(r["k"]): int(r["b"]) for r in spark.createDataFrame(
        [(int(k),) for k in keys], "k long").select(
            "k", F.pmod(F.xxhash64("k"), F.lit(NB)).cast("int").alias("b"))
        .collect()}


def _assert_layout(snap, name):
    """Every table file is in exactly one bucket or loose, never both."""
    m, loose = partition_state(snap, name)
    mapped = [f for fs in m.values() for f in fs]
    assert len(mapped) == len(set(mapped))
    assert not set(mapped) & set(loose)
    assert set(mapped) | set(loose) == set(snap.tables[name])


def test_scoped_merge_rehomes_loose_rows_into_buckets(spark, tmp_path):
    """One rule for loose rows: a merge homes the loose rows of the buckets
    it touches and leaves every other loose row loose. Untouched buckets
    keep exactly their paths, every table file is either mapped or loose,
    and the table content is the correct merge result."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store, n=400)
    map_before, _ = partition_state(store.snapshot(), "t")

    # loose rows: NEW keys 10000.. spread over every bucket
    loose_keys = list(range(10_000, 10_032))
    _append_loose(spark, store, [(k, 1, k) for k in loose_keys])

    # update confined to key 1's bucket
    merge_into(spark, store, "t", _rows(spark, [(1, 5, -1)]), "k",
               newer_col="ts", n_buckets=NB)

    snap = store.snapshot()
    _assert_layout(snap, "t")
    m_after, loose_after = partition_state(snap, "t")
    buckets = _bucket_of(spark, [1] + loose_keys)
    b1 = buckets[1]
    assert m_after[str(b1)] != map_before[str(b1)]
    for b in range(NB):
        if b != b1:
            assert m_after[str(b)] == map_before[str(b)]

    # loose rows outside the touched bucket stay loose; those inside it
    # now live in its rewritten files
    stay = {k for k in loose_keys if buckets[k] != b1}
    assert stay and stay != set(loose_keys)
    assert {r["k"] for r in store.read_files(spark, "t", loose_after)
            .select("k").collect()} == stay
    homed = store.read_files(spark, "t", m_after[str(b1)])
    assert homed.filter(F.col("k") >= 10_000).count() \
        == len(loose_keys) - len(stay)

    got = store.read(spark, "t")
    assert got.count() == 400 + 32
    assert got.filter(F.col("k") == 1).collect()[0]["ts"] == 5
    assert got.filter(F.col("k") >= 10_000).count() == 32


def test_recorded_bucket_spec_wins_over_merge_params(spark, tmp_path):
    """A merge without ``n_buckets`` on a bucketed table is still the
    scoped merge: the map stays live, so a later compaction reads no dead
    files and brings back no pre-merge rows. A merge with a different
    ``n_buckets`` is refused."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store, n=100)
    merge_into(spark, store, "t", _rows(spark, [(7, 5, -1)]), "k",
               newer_col="ts")
    commit_plan(store, "t", store.compact(spark, "t"))

    snap = store.snapshot()
    mapped = {f for fs in partition_state(snap, "t")[0].values()
              for f in fs}
    assert mapped <= set(snap.tables["t"])
    got = store.read(spark, "t")
    assert got.count() == 100
    assert got.select("k").distinct().count() == 100
    assert got.filter(F.col("k") == 7).collect()[0]["ts"] == 5

    with pytest.raises(ValueError, match="partitioned as"):
        merge_into(spark, store, "t", _rows(spark, [(8, 5, -1)]), "k",
                   newer_col="ts", n_buckets=2 * NB)


def test_compact_bucketed_initial_then_incremental(spark, tmp_path):
    store = _store(tmp_path)
    # unbucketed table built from appends only
    _append_loose(spark, store, [(i, 0, i) for i in range(200)])
    _append_loose(spark, store, [(i, 0, i) for i in range(200, 400)])

    # initial bucketing needs a recorded spec: without one, compact
    # bin-packs and labels no file
    n_files_before = len(store.snapshot().tables["t"])
    assert store.compact(spark, "t", target_files=n_files_before) is None
    assert partition_state(store.snapshot(), "t")[0] is None
    record_spec(store, "t", {"key": "k", "n": NB})
    n_absorbed = commit_plan(store, "t", store.compact(spark, "t"))
    assert n_absorbed == n_files_before
    snap = store.snapshot()
    assert snap.meta["partition_spec"]["t"] == {"key": "k", "n": NB}
    m0, loose0 = partition_state(snap, "t")
    assert loose0 == [] and set(m0) == {str(b) for b in range(NB)}

    # no-op when nothing is loose
    assert store.compact(spark, "t") is None
    assert partition_state(store.snapshot(), "t")[0] == m0

    # incremental: loose rows confined to key 1's bucket -> ONLY that
    # bucket rewritten, all others keep exact paths
    b1 = spark.range(2).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(NB)).cast("int").alias("b")) \
        .collect()[1]["b"]
    keys_b1 = [r["k"] for r in spark.range(1000, 5000).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(NB)).cast("int").alias("b"))
        .filter(F.col("b") == b1).limit(10).collect()]
    _append_loose(spark, store, [(k, 1, -1) for k in keys_b1])
    n_loose = len(partition_state(store.snapshot(), "t")[1])
    assert n_loose >= 1
    # absorbed: the loose files plus the one touched bucket's files
    assert commit_plan(store, "t", store.compact(spark, "t")) \
        == n_loose + len(m0[str(b1)])

    m1, loose1 = partition_state(store.snapshot(), "t")
    assert loose1 == []
    assert m1[str(b1)] != m0[str(b1)]
    for b in range(NB):
        if b != b1:
            assert m1[str(b)] == m0[str(b)]

    got = store.read(spark, "t")
    assert got.count() == 400 + len(keys_b1)
    assert got.filter(F.col("ts") == 1).count() == len(keys_b1)

    # re-bucketing with conflicting params is refused
    with pytest.raises(ValueError, match="partitioned as"):
        store.rewrite_partitions(spark, "t", lambda rows: rows,
                                 spec={"key": "k", "n": 16})


def test_scoped_merge_then_compact_roundtrip(spark, tmp_path):
    """Interleave the three callers of the scoped rewrite the way the crawl
    loop does: merge, loose append, compact, loose append, merge, loose
    append, forget, compact — on url_seen, the table ``forget_urls``
    rewrites. The final content must equal the plain (wholesale) result of
    the same sequence, and every file stays mapped or loose."""
    store = _store(tmp_path)

    def rows(triples):
        return spark.createDataFrame(
            [(int(k), int(t), int(p)) for k, t, p in triples],
            "url_hash long, ts long, payload long")

    def append_loose(triples):
        snap = store.snapshot()
        store.commit(epoch=snap.epoch, meta=snap.meta, appends={
            "url_seen": store.stage(rows(triples), "url_seen")})

    merge_into(spark, store, "url_seen", rows((k, 0, k) for k in range(100)),
               "url_hash", newer_col="ts", n_buckets=NB)
    append_loose((200 + i, 1, i) for i in range(10))
    commit_plan(store, "url_seen", store.compact(spark, "url_seen"))
    append_loose((300 + i, 1, i) for i in range(10))
    merge_into(spark, store, "url_seen",
               rows([(0, 9, 99), (205, 9, 99), (305, 9, 99)]),
               "url_hash", newer_col="ts", n_buckets=NB)
    append_loose((400 + i, 1, i) for i in range(10))
    forgotten = [3, 207, 307, 405, 9999]      # 9999 was never seen
    assert recrawl.forget_urls(
        spark, store, CrawlConfig(),
        spark.createDataFrame([(k,) for k in forgotten], "url_hash long"),
        epoch=1) == 4
    _assert_layout(store.snapshot(), "url_seen")
    commit_plan(store, "url_seen", store.compact(spark, "url_seen"))
    snap = store.snapshot()
    _assert_layout(snap, "url_seen")
    assert partition_state(snap, "url_seen")[1] == []

    got = {(r["url_hash"], r["ts"], r["payload"])
           for r in store.read(spark, "url_seen").collect()}
    expect = {(k, 0, k) for k in range(1, 100)}
    expect |= {(200 + i, 1, i) for i in range(10) if i != 5}
    expect |= {(300 + i, 1, i) for i in range(10) if i != 5}
    expect |= {(400 + i, 1, i) for i in range(10)}
    expect |= {(0, 9, 99), (205, 9, 99), (305, 9, 99)}
    expect = {r for r in expect if r[0] not in forgotten}
    assert got == expect


def test_scoped_merge_preserves_evolved_columns(spark, tmp_path):
    """A loose append that carries a column the bucketed files lack (schema
    evolution) must keep it through a scoped merge: the merge reads the
    touched buckets plus the loose files, and a plain read would take one
    footer's schema and drop the newer column from every rewritten file."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store, n=100)
    snap = store.snapshot()
    evolved = spark.range(500, 508).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("ts"),
        F.col("id").alias("payload"),
        F.concat(F.lit("src-"), F.col("id").cast("string")).alias("src"))
    store.commit(epoch=snap.epoch, appends={"t": store.stage(evolved, "t")},
                 meta=snap.meta)
    assert store.read(spark, "t").filter(F.col("src").isNotNull()).count() == 8

    merge_into(spark, store, "t", _rows(spark, [(1, 5, -1)]), "k",
               newer_col="ts", n_buckets=NB)

    got = store.read(spark, "t")
    assert "src" in got.columns
    assert got.count() == 108
    assert got.filter(F.col("src").isNotNull()).count() == 8
    assert got.filter(F.col("k") == 1).collect()[0]["ts"] == 5
