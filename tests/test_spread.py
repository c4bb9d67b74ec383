"""spread_scan (crawlspark/functions/spread.py) contract tests.

The r6 optimization spreads single-row-group scans before hash-heavy map
stages. These tests pin the helper's two load-bearing properties:

  1. adaptivity — it repartitions a narrow scan up to defaultParallelism
     and leaves an already-wide DataFrame untouched (the production-layout
     no-op guarantee), and
  2. value-neutrality — the minhash candidate generator (the heaviest
     consumer) produces identical results with and without the spread.

The masks-broadcast size gate in dedup_minhash_verified is covered by the
plan-shape assertion: at test scale the verify joins must be broadcast
(no SortMergeJoin against the mask table). When ``documents`` is a
directory table the gate has no footer to read: it must skip the forced
broadcast instead of raising, and the query must return the same rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.functions.spread import spread_scan


SF001 = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_spread_widens_narrow_scan(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet") \
        .select("doc_id", "text")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target, \
        "precondition: the fixture scan must be narrower than the session"
    out = spread_scan(docs, "doc_id")
    assert out.rdd.getNumPartitions() == target
    # keyed repartition, not round-robin: no sortBeforeRepartition sort
    plan = _plan(out)
    assert "REPARTITION_BY_NUM" in plan
    assert "hashpartitioning(doc_id" in plan


def test_spread_is_noop_on_wide_input(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet") \
        .select("doc_id", "text")
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target * 2, F.col("doc_id"))
    out = spread_scan(wide, "doc_id")
    # already at/above parallelism: the plan must be returned untouched
    assert out is wide


def test_minhash_candidates_identical_without_spread(spark, monkeypatch):
    import crawlspark.textops as T

    spread = T.QUERIES["dedup_minhash"](spark, SF001).collect()
    monkeypatch.setattr(T, "spread_scan", lambda df, key: df)
    unspread = T.QUERIES["dedup_minhash"](spark, SF001).collect()
    assert spread == unspread
    assert len(spread) > 0


def test_verified_mask_joins_broadcast_at_small_scale(spark):
    import crawlspark.textops as T

    df = T.QUERIES["dedup_minhash_verified"](spark, SF001)
    plan = _plan(df)
    # the n_docs * 8*(1+n_chunks) < 32MB gate must take the broadcast path
    # here, and no sort-merge join may touch the candidate-pair stream
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_verified_falls_back_on_directory_documents(spark, tmp_path):
    import crawlspark.textops as T

    for name in os.listdir(SF001):
        if name != "documents.parquet":
            os.symlink(os.path.join(SF001, name), tmp_path / name)
    (spark.read.parquet(f"{SF001}/documents.parquet").repartition(3)
     .write.parquet(str(tmp_path / "documents.parquet")))
    assert (tmp_path / "documents.parquet").is_dir()

    df = T.QUERIES["dedup_minhash_verified"](spark, str(tmp_path))
    expected = T.QUERIES["dedup_minhash_verified"](spark, SF001).collect()
    assert df.collect() == expected
    assert len(expected) > 0
