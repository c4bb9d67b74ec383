"""Measure the bloom-vs-cuckoo seen-filter trade the config option
`seen_filter_backend` exposes (crawlspark/operators/cuckoo.py docstring):

* memory (bits/item at design-point sizing),
* measured FPP on fresh candidates (the probe-selectivity cost),
* insert + probe throughput (numpy core — the same kernels the Spark
  cogroup UDFs call, so per-bucket costs transfer directly),
* and the headline difference: cost to FORGET 1% of items (recrawl/TTL).
  Cuckoo clears fingerprints in O(deleted); bloom's shared bits force a
  full rebuild from the remaining seen set, O(bucket).

Backend-invariance of crawl SEMANTICS (ordering + final seen set) is
asserted separately by tests/test_cuckoo.py's loop-parity tests; this tool
records only the performance envelope. Writes CUCKOO_BENCH.json;
tools/bench_scaling.write_bench_md folds it into BENCH.md.

Usage: python tools/bench_cuckoo.py [n_items] [n_probe]
Only a run at the default sizes rewrites CUCKOO_BENCH.json and BENCH.md;
a run with explicit sizes only prints its numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from crawlspark.operators import bloom, cuckoo  # noqa: E402

K = bloom.NUM_HASHES
BPI = bloom.BITS_PER_ITEM
B = cuckoo.SLOTS
FORGET_FRAC = 0.01


def _hashes(start: int, n: int) -> np.ndarray:
    h = (np.arange(start, start + n, dtype=np.uint64)
         * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(4)
    return h.astype(np.int64)


# the recorded sizes: only a run at these rewrites CUCKOO_BENCH.json
# and BENCH.md
DEFAULT_SIZES = (1_000_000, 1_000_000)


def main() -> None:
    sizes = tuple(int(a) for a in sys.argv[1:])
    sizes += DEFAULT_SIZES[len(sizes):]
    n_items, n_probe = sizes

    seen = np.unique(_hashes(0, n_items))
    fresh = _hashes(100_000_000, n_probe)
    forget = seen[:: int(1 / FORGET_FRAC)]

    # ---- bloom at the 10 bits/item design point
    m_bits = 1 << int(np.ceil(np.log2(len(seen) * BPI)))
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    t0 = time.perf_counter()
    bloom._set_bits(bits, seen, K)
    bl_insert = time.perf_counter() - t0
    t0 = time.perf_counter()
    bl_hit = bloom._probe_bits(bits, fresh, K)
    bl_probe = time.perf_counter() - t0
    assert bloom._probe_bits(bits, seen, K).all()
    # forget: shared bits -> rebuild from the remaining rows
    remaining = np.setdiff1d(seen, forget, assume_unique=True)
    t0 = time.perf_counter()
    bits2 = np.zeros(m_bits // 8, dtype=np.uint8)
    bloom._set_bits(bits2, remaining, K)
    bl_forget = time.perf_counter() - t0
    assert bloom._probe_bits(bits2, remaining, K).all()

    # ---- cuckoo at alpha-0.5 sizing (16-bit fp, 4 slots)
    m_rows = cuckoo._size_rows(len(seen), cuckoo.MIN_ROWS)
    tab = np.zeros((m_rows, B), dtype=np.uint16)
    t0 = time.perf_counter()
    n_over = cuckoo._insert_batch(tab, seen)
    ck_insert = time.perf_counter() - t0
    assert n_over == 0
    t0 = time.perf_counter()
    ck_hit = cuckoo._probe_batch(tab, fresh)
    ck_probe = time.perf_counter() - t0
    assert cuckoo._probe_batch(tab, seen).all()
    # forget: clear one stored copy per target, O(deleted)
    t0 = time.perf_counter()
    n_del = cuckoo._delete_batch(tab, forget)
    ck_forget = time.perf_counter() - t0
    assert n_del == len(forget)
    assert cuckoo._probe_batch(tab, remaining).all()

    out = {
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
        "n_items": int(len(seen)),
        "n_probe": n_probe,
        "n_forgotten": int(len(forget)),
        "bloom": {
            "bits_per_item": round(m_bits / len(seen), 1),
            "fpp_measured": round(float(bl_hit.mean()), 5),
            "insert_mitems_s": round(len(seen) / bl_insert / 1e6, 1),
            "probe_mitems_s": round(n_probe / bl_probe / 1e6, 1),
            "forget_wall_s": round(bl_forget, 3),
            "forget_cost": "O(bucket) rebuild from remaining seen rows",
        },
        "cuckoo": {
            "bits_per_item": round(m_rows * B * 16 / len(seen), 1),
            "fpp_measured": round(float(ck_hit.mean()), 5),
            "insert_mitems_s": round(len(seen) / ck_insert / 1e6, 1),
            "probe_mitems_s": round(n_probe / ck_probe / 1e6, 1),
            "forget_wall_s": round(ck_forget, 3),
            "forget_cost": "O(deleted) fingerprint clears",
        },
    }
    print(json.dumps(out, indent=2))
    if sizes != DEFAULT_SIZES:
        print("explicit sizes: CUCKOO_BENCH.json and BENCH.md not rewritten")
        return
    with open(os.path.join(REPO, "CUCKOO_BENCH.json"), "w") as fh:
        json.dump(out, fh, indent=2)

    from tools.bench_scaling import load_runs, write_bench_md
    write_bench_md(load_runs())
    print("wrote BENCH.md")


if __name__ == "__main__":
    main()
