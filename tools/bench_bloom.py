"""Measure bloom seen-filter probe selectivity before/after the saturation
rebuild (VERDICT r3 #1 "done" criterion).

Scenario: a bucket sized from its first epoch's batch accumulates items for
many epochs without resizing. Probe selectivity here = the fraction of
FRESH (never-seen) candidates the filter routes to the exact anti-join
(maybe_seen=True) — pure false-positive cost; at saturation it approaches
1.0 and the negative cache is worthless. The fpp-triggered rebuild
(bloom.rebuild_buckets via updated_buckets(all_seen=...)) resizes the
bucket at BITS_PER_ITEM x actual items and restores the design FPP. Records
BLOOM_BENCH.json; tools/bench_scaling.write_bench_md folds it into BENCH.md.

Usage: python tools/bench_bloom.py [n_initial] [n_grown] [n_probe]
Only a run at the default sizes rewrites BLOOM_BENCH.json and BENCH.md;
a run with explicit sizes only prints its numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _seen_pdf(start: int, n: int) -> pd.DataFrame:
    h = (np.arange(start, start + n, dtype=np.uint64)
         * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(4)
    return pd.DataFrame({"url_hash": h.astype(np.int64),
                         "host_hash": np.zeros(n, dtype=np.int64)})


# the recorded sizes: only a run at these rewrites BLOOM_BENCH.json
# and BENCH.md
DEFAULT_SIZES = (5_000, 200_000, 200_000)


def main() -> None:
    sizes = tuple(int(a) for a in sys.argv[1:])
    sizes += DEFAULT_SIZES[len(sizes):]
    n_initial, n_grown, n_probe = sizes

    from pyspark.sql import functions as F

    from crawlspark.operators import bloom
    from crawlspark.session import get_spark

    spark = get_spark()
    k = bloom.NUM_HASHES

    def seen_df(start, n):
        return spark.createDataFrame(_seen_pdf(start, n),
                                     "url_hash long, host_hash long")

    def filters_df(pdf):
        return spark.createDataFrame(pdf, bloom.FILTER_SCHEMA)

    def selectivity(filters):
        probed = bloom.probe(seen_df(10_000_000, n_probe), filters,
                             n_buckets=1)
        return probed.filter(F.col("maybe_seen")).count() / n_probe

    # epoch 0 sizes the bucket; later epochs only set bits
    f0 = bloom.updated_buckets(seen_df(0, n_initial), None, 1,
                               epoch=0).toPandas()
    m_bits = len(f0["bits"].iloc[0]) * 8
    f1 = bloom.updated_buckets(seen_df(n_initial, n_grown), filters_df(f0),
                               1, epoch=1).toPandas()
    n_total = n_initial + n_grown
    fpp_before = bloom.fpp_estimate(n_total, m_bits, k)
    t0 = time.perf_counter()
    sel_before = selectivity(filters_df(pd.concat([f0, f1])))
    probe_wall_before = round(time.perf_counter() - t0, 3)

    # epoch 2: rebuild fires (all_seen supplied)
    t0 = time.perf_counter()
    f2 = bloom.updated_buckets(seen_df(n_total, 1000),
                               filters_df(pd.concat([f0, f1])),
                               1, epoch=2,
                               all_seen=seen_df(0, n_total + 1000)).toPandas()
    rebuild_wall = round(time.perf_counter() - t0, 3)
    m_bits_after = len(f2["bits"].iloc[0]) * 8
    fpp_after = bloom.fpp_estimate(int(f2["n_items"].iloc[0]), m_bits_after, k)
    t0 = time.perf_counter()
    sel_after = selectivity(filters_df(pd.concat([f0, f1, f2])))
    probe_wall_after = round(time.perf_counter() - t0, 3)

    out = {
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
        "n_items": n_total + 1000,
        "n_probe": n_probe,
        "m_bits_before": m_bits,
        "m_bits_after": m_bits_after,
        "fpp_est_before": round(fpp_before, 4),
        "fpp_est_after": round(fpp_after, 4),
        "probe_selectivity_before": round(sel_before, 4),
        "probe_selectivity_after": round(sel_after, 4),
        "rebuild_wall_s": rebuild_wall,
        "probe_wall_before_s": probe_wall_before,
        "probe_wall_after_s": probe_wall_after,
    }
    print(json.dumps(out, indent=2))
    if sizes != DEFAULT_SIZES:
        print("explicit sizes: BLOOM_BENCH.json and BENCH.md not rewritten")
        return
    with open(os.path.join(REPO, "BLOOM_BENCH.json"), "w") as fh:
        json.dump(out, fh, indent=2)

    from tools.bench_scaling import load_runs, write_bench_md
    write_bench_md(load_runs())
    print("wrote BENCH.md")


if __name__ == "__main__":
    main()
