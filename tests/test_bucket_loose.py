"""Loose-file handling in the bucketed table layer.

The epoch loop appends url_seen rows WITHOUT re-bucketing (an O(batch)
append — re-bucketing per epoch would be O(table)). Those appended files
("loose" — listed in the table but absent from the ``merge_buckets`` map)
can hold any bucket's keys, so every bucket-scoped operation must treat
them as touching EVERY bucket until :meth:`SnapshotStore.compact_bucketed`
absorbs them. This file pins the two consumers:

- ``merge_into`` (scoped path): the matched-row newer-wins check must SEE
  loose rows (or a stale loose row silently survives a newer update), and
  loose rows must be re-homed into their buckets by the merge.
- ``compact_bucketed``: absorbs loose files incrementally — only buckets
  that actually received loose rows are rewritten; every other bucket keeps
  its exact file paths (O(loose rows), never O(table)).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.tables import SnapshotStore, bucket_state, merge_into

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
    """What the epoch loop does: stage + append, no bucket-map update."""
    snap = store.snapshot()
    store.commit(epoch=snap.epoch,
                 appends={"t": store.stage(_rows(spark, rows), "t")},
                 meta=snap.meta)


def test_bucket_state_classifies_loose_files(spark, tmp_path):
    store = _store(tmp_path)
    _seed_bucketed(spark, store)
    m0, loose0 = bucket_state(store.snapshot(), "t")
    assert m0 is not None and loose0 == []

    _append_loose(spark, store, [(9001, 1, 1)])
    m1, loose1 = bucket_state(store.snapshot(), "t")
    assert m1 == m0
    mapped = {f for fs in m1.values() for f in fs}
    assert loose1 and not set(loose1) & mapped

    # an unbucketed table: map is None, every file is loose
    store.commit(epoch=0, appends={"u": store.stage(
        _rows(spark, [(1, 1, 1)]), "u")}, meta=store.snapshot().meta)
    snap_u = store.snapshot()
    m_u, loose_u = bucket_state(snap_u, "u")
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


def test_scoped_merge_rehomes_loose_rows_into_buckets(spark, tmp_path):
    """After a merge, no loose files remain (their rows were re-homed:
    updated keys into their rewritten buckets, untouched keys appended to
    their own buckets), the table content is the correct merge result, and
    buckets that had neither updates nor loose rows keep exact paths."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store, n=400)
    map_before = store.snapshot().meta["merge_buckets"]["t"]

    # loose rows: one NEW key per bucket (ids 10000.. spread over buckets)
    loose_rows = [(10_000 + i, 1, i) for i in range(32)]
    _append_loose(spark, store, loose_rows)

    # update confined to key 1's bucket
    merge_into(spark, store, "t", _rows(spark, [(1, 5, -1)]), "k",
               newer_col="ts", n_buckets=NB)

    snap = store.snapshot()
    m_after, loose_after = bucket_state(snap, "t")
    assert loose_after == []          # everything re-homed
    # every table file is accounted to exactly one bucket
    assert sorted(f for fs in m_after.values() for f in fs) \
        == sorted(snap.tables["t"])

    b_of_1 = spark.range(2).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(NB)).cast("int").alias("b")) \
        .collect()[1]["b"]
    for b in range(NB):
        if b == b_of_1:
            continue
        # untouched buckets: original mapped files all still present
        # (re-homed loose rows arrive as APPENDED files, never a rewrite)
        assert set(map_before[str(b)]) <= set(m_after[str(b)])

    got = store.read(spark, "t")
    assert got.count() == 400 + 32
    assert got.filter(F.col("k") == 1).collect()[0]["ts"] == 5
    assert got.filter(F.col("k") >= 10_000).count() == 32


def test_compact_bucketed_initial_then_incremental(spark, tmp_path):
    store = _store(tmp_path)
    # unbucketed table built from appends only
    _append_loose(spark, store, [(i, 0, i) for i in range(200)])
    _append_loose(spark, store, [(i, 0, i) for i in range(200, 400)])

    # initial bucketing: params required, whole table absorbed
    with pytest.raises(ValueError, match="bucket_spec"):
        store.compact_bucketed(spark, "t")
    n_files_before = len(store.snapshot().tables["t"])
    n_absorbed = store.compact_bucketed(spark, "t", key="k", n_buckets=NB)
    assert n_absorbed == n_files_before
    snap = store.snapshot()
    assert snap.meta["bucket_spec"]["t"] == {"key": "k", "n": NB}
    m0, loose0 = bucket_state(snap, "t")
    assert loose0 == [] and set(m0) == {str(b) for b in range(NB)}

    # no-op when nothing is loose
    assert store.compact_bucketed(spark, "t") == 0
    assert store.snapshot().meta["merge_buckets"]["t"] == m0

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
    n_loose = len(bucket_state(store.snapshot(), "t")[1])
    assert n_loose >= 1
    assert store.compact_bucketed(spark, "t") == n_loose

    m1, loose1 = bucket_state(store.snapshot(), "t")
    assert loose1 == []
    assert m1[str(b1)] != m0[str(b1)]
    for b in range(NB):
        if b != b1:
            assert m1[str(b)] == m0[str(b)]

    got = store.read(spark, "t")
    assert got.count() == 400 + len(keys_b1)
    assert got.filter(F.col("ts") == 1).count() == len(keys_b1)

    # re-bucketing with conflicting params is refused
    with pytest.raises(ValueError, match="bucketed as"):
        store.compact_bucketed(spark, "t", key="k", n_buckets=16)


def test_scoped_merge_then_compact_roundtrip(spark, tmp_path):
    """Interleave the two consumers the way the crawl loop does: merge,
    loose append, compact, loose append, merge — the final content must
    equal the plain (wholesale) merge result on the same sequence."""
    store = _store(tmp_path)
    _seed_bucketed(spark, store, n=100)
    _append_loose(spark, store, [(200 + i, 1, i) for i in range(10)])
    store.compact_bucketed(spark, "t")
    _append_loose(spark, store, [(300 + i, 1, i) for i in range(10)])
    merge_into(spark, store, "t",
               _rows(spark, [(0, 9, 99), (205, 9, 99), (305, 9, 99)]),
               "k", newer_col="ts", n_buckets=NB)

    got = {(r["k"], r["ts"], r["payload"])
           for r in store.read(spark, "t").collect()}
    expect = {(k, 0, k) for k in range(1, 100)}
    expect |= {(200 + i, 1, i) for i in range(10) if i != 5}
    expect |= {(300 + i, 1, i) for i in range(10) if i != 5}
    expect |= {(0, 9, 99), (205, 9, 99), (305, 9, 99)}
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
