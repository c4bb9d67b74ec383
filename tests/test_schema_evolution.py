"""Schema evolution in the snapshot store (Iceberg add/drop-column analog).

Plain ``spark.read.parquet(files...)`` takes the FIRST file's footer schema,
silently dropping columns added by later epochs — at 10^5 epochs a schema
migration would corrupt every subsequent read. The store records a schema
fingerprint per staged file in the commit manifest; the read path unions
schemas (``mergeSchema``) only when live files actually disagree, so a
homogeneous table (the overwhelmingly common case) keeps the single-footer
fast path. Compaction unifies: after a rewrite the table is homogeneous at
the evolved schema and the fast path returns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.tables import SnapshotStore
from tests.crawl_fixtures import commit_plan, record_spec


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "store"))


def _v1(spark, n=20, base=0):
    return (spark.range(n).select(
        (F.col("id") + base).alias("url_hash"),
        F.lit(1).cast("int").alias("epoch")))


def _v2(spark, n=20, base=1000):
    return (spark.range(n).select(
        (F.col("id") + base).alias("url_hash"),
        F.lit(2).cast("int").alias("epoch"),
        F.lit("img-x").alias("image_fmt")))   # the added column


def test_added_column_survives_read(spark, store):
    store.commit(0, appends={"t": store.stage(_v1(spark).coalesce(1), "t")})
    store.commit(1, appends={"t": store.stage(_v2(spark).coalesce(1), "t")})
    assert store.schema_variants("t") == 2

    df = store.read(spark, "t")
    assert set(df.columns) == {"url_hash", "epoch", "image_fmt"}
    got = {(r["epoch"], r["image_fmt"]) for r in
           df.select("epoch", "image_fmt").distinct().collect()}
    assert got == {(1, None), (2, "img-x")}
    assert df.count() == 40


def test_homogeneous_table_stays_single_variant(spark, store):
    store.commit(0, appends={"t": store.stage(_v1(spark).coalesce(1), "t")})
    store.commit(1, appends={"t": store.stage(_v1(spark, base=50)
                                              .coalesce(1), "t")})
    assert store.schema_variants("t") == 1
    assert store.read(spark, "t").count() == 40


def test_compaction_unifies_evolved_schema(spark, store):
    store.commit(0, appends={"t": store.stage(_v1(spark).coalesce(1), "t")})
    store.commit(1, appends={"t": store.stage(_v2(spark).coalesce(1), "t")})
    assert commit_plan(store, "t",
                       store.compact(spark, "t", target_files=1)) == 2
    # rewrite unified the schema: fast path back, evolved column intact
    assert store.schema_variants("t") == 1
    df = store.read(spark, "t")
    assert set(df.columns) == {"url_hash", "epoch", "image_fmt"}
    assert df.count() == 40
    assert df.filter(F.col("image_fmt").isNull()).count() == 20


def test_dropped_column_reads_null_for_new_files(spark, store):
    # "drop" = later files simply stop carrying the column
    store.commit(0, appends={"t": store.stage(_v2(spark).coalesce(1), "t")})
    store.commit(1, appends={"t": store.stage(_v1(spark, base=2000)
                                              .coalesce(1), "t")})
    df = store.read(spark, "t")
    assert "image_fmt" in df.columns
    assert df.filter(F.col("image_fmt").isNull()).count() == 20


def test_bucketed_maintenance_handles_evolved_loose_files(spark, store):
    # initial bucketing at v1, then loose v2 appends with an added column:
    # compact must fold them in without dropping the new column
    store.commit(0, appends={"t": store.stage(_v1(spark, n=40), "t")})
    record_spec(store, "t", {"key": "url_hash", "n": 4})
    assert commit_plan(store, "t", store.compact(spark, "t")) > 0
    store.commit(2, appends={"t": store.stage(_v2(spark, n=10,
                                                  base=5000), "t")},
                 meta=store.snapshot().meta)   # carry partition_spec forward
    assert commit_plan(store, "t", store.compact(spark, "t")) > 0
    df = store.read(spark, "t")
    assert set(df.columns) == {"url_hash", "epoch", "image_fmt"}
    assert df.count() == 50
    assert df.filter(F.col("image_fmt") == "img-x").count() == 10
