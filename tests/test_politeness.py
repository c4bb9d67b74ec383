"""Operator-level tests for admission + supersede (SURVEY.md §5.5).

* window-algebra ``admit`` == the oracle's token-bucket admission
  (``host_availability`` + ``admit_rows``, T3/V6)
* ``admit(host_key="host_hash")`` (compact-key / late-materialization path
  used by bench.py) == string-host path
* ``supersede`` == the oracle's ``supersede_rows`` (J2/J3 dedup)
* politeness invariant: no host ever exceeds its available tokens
"""

from __future__ import annotations

import pandas as pd
import pytest

from crawlspark import datagen
from crawlspark.operators import dedup, politeness
from crawlspark.oracle.simulator import (admit_rows, host_availability,
                                         supersede_rows)

SPEC = datagen.GenSpec(seed=7, n_images=50, n_urls=600, n_hosts=12, n_strata=4)
SUPERSEDE_KEY = ["url_hash", "attempt", "not_before_epoch", "priority", "seq"]


@pytest.fixture(scope="module")
def pdfs():
    return datagen.gen_frontier(SPEC), datagen.gen_budgets(SPEC)


@pytest.fixture(scope="module")
def dfs(spark, pdfs):
    frontier, budgets = pdfs
    return spark.createDataFrame(frontier), spark.createDataFrame(budgets)


def _admitted_keys(df) -> list[tuple]:
    pdf = df.select("admission_idx", "url_hash").toPandas()
    return sorted(map(tuple, pdf.itertuples(index=False)))


def test_admit_equals_grouped_map(dfs, pdfs):
    frontier, budgets = dfs
    frontier_pdf, budgets_pdf = pdfs
    cand = dedup.supersede(frontier)
    brows = budgets_pdf.to_dict("records")
    avail = host_availability(
        {r["host"]: (int(r["capacity"]), int(r["refill_per_epoch"]))
         for r in brows},
        {r["host"]: int(r["tokens"]) for r in brows},
        {r["host"]: int(r["backoff_until_epoch"]) for r in brows},
        epoch=0)
    oracle_cand = supersede_rows(frontier_pdf.to_dict("records"))
    # 80: the global cap bites; 10 000: only the per-host buckets do
    for batch_size in (80, 10_000):
        a = politeness.admit(cand, budgets, epoch=0, batch_size=batch_size)
        expected = [(i, int(r["url_hash"])) for i, r in
                    enumerate(admit_rows(oracle_cand, avail, batch_size))]
        assert _admitted_keys(a) == expected
        assert expected


def test_admit_big_host_equals_oracle(spark):
    """A host whose tokens exceed any per-salt cap: phase 1 must keep its
    salt groups' top-``avail`` rows, so all 2000 of its tokens are spent,
    as the oracle's ``admit_rows`` spends them."""
    cand = pd.DataFrame({"url_hash": range(1, 3001), "host": "big.example",
                         "priority": 0, "seq": range(3000)})
    budgets = pd.DataFrame([{"host": "big.example", "capacity": 2000,
                             "refill_per_epoch": 0, "tokens": 2000,
                             "backoff_until_epoch": 0}])
    avail = host_availability({"big.example": (2000, 0)},
                              {"big.example": 2000}, {}, epoch=0)
    a = politeness.admit(spark.createDataFrame(cand),
                         spark.createDataFrame(budgets), epoch=0,
                         batch_size=5000)
    expected = [(i, int(r["url_hash"])) for i, r in
                enumerate(admit_rows(cand.to_dict("records"), avail, 5000))]
    assert len(expected) == 2000
    assert _admitted_keys(a) == expected


def test_admit_host_hash_key_equivalent(dfs):
    frontier, budgets = dfs
    cand = dedup.supersede(frontier)
    by_host = politeness.admit(cand, budgets, epoch=0, batch_size=80)
    # gen_budgets carries no host_hash; candidates are keyed with the
    # canonical hash64, so explicit opt-in derivation is correct here
    by_hash = politeness.admit(cand, budgets, epoch=0, batch_size=80,
                               host_key="host_hash",
                               derive_missing_host_key=True)
    assert _admitted_keys(by_host) == _admitted_keys(by_hash)
    # without the opt-in, a missing budgets column fails fast instead of
    # silently admitting nothing
    with pytest.raises(ValueError, match="host_hash"):
        politeness.admit(cand, budgets, epoch=0, batch_size=80,
                         host_key="host_hash")


def test_supersede_hash_agg_equals_window(spark, pdfs):
    frontier, _ = pdfs
    # the frontier already holds url twins (priority/seq decide); add a
    # retry copy of the first 120 rows (higher attempt and later backoff
    # must win) and a same-attempt copy of the next 60 (later seq must lose)
    retry = frontier.iloc[:120].assign(
        attempt=frontier["attempt"].iloc[:120] + 2,
        not_before_epoch=frontier["not_before_epoch"].iloc[:120] + 3)
    later = frontier.iloc[120:180].assign(
        seq=frontier["seq"].iloc[120:180] + 10_000)
    pending = pd.concat([frontier, retry, later], ignore_index=True)
    a = dedup.supersede(spark.createDataFrame(pending)).toPandas()
    b = pd.DataFrame(supersede_rows(pending.to_dict("records")))
    assert a["url_hash"].is_unique
    pd.testing.assert_frame_equal(
        a[SUPERSEDE_KEY].sort_values(SUPERSEDE_KEY).reset_index(drop=True),
        b[SUPERSEDE_KEY].sort_values(SUPERSEDE_KEY).reset_index(drop=True),
        check_dtype=False)
    assert (b["attempt"] == 2).sum() == retry["url_hash"].nunique()


def test_no_host_exceeds_budget(dfs):
    frontier, budgets = dfs
    cand = dedup.supersede(frontier)
    admitted = politeness.admit(cand, budgets, epoch=0, batch_size=10_000)
    per_host = admitted.groupBy("host").count().toPandas().set_index("host")["count"]
    avail = politeness.availability(budgets, 0).toPandas().set_index("host")["avail"]
    for host, n in per_host.items():
        assert n <= avail[host], f"{host} admitted {n} > avail {avail[host]}"
