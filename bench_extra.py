"""Extra benchmarks for the optimization rounds (guide §1.4): per-query
noop-sink isolation timings + ``.explain("formatted")`` capture.

NOT part of the driver contract — ``bench.py`` stays the frozen measurement.
This harness exists so each optimization can be measured and its plan shape
recorded (``plans/r06/<query>_{before,after}.txt``) without touching the
frozen bench.

Usage::

  python bench_extra.py --tag before [--reps 3] [key ...]
  python bench_extra.py --tag after  --plans-dir plans/r06 dedup_minhash

Prints one JSON line per query: {"key": ..., "secs": [..], "min": ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--tag", default=None,
                    help="suffix for plan files (before/after); omit to skip "
                         "plan capture")
    ap.add_argument("--plans-dir", default="plans/r06")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-time", action="store_true",
                    help="capture plans only, skip the timed noop writes")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from crawlspark.config import SparkTuning
    from crawlspark.session import get_spark

    spark = get_spark(SparkTuning(app_name="crawlspark-bench-extra"))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    keys = args.keys or [
        "priority_pop", "dedup_seen", "upsert_merge", "mv_stats",
        "topk_stars", "scalar_suite", "dedup_exact", "dedup_minhash",
        "dedup_minhash_verified", "dedup_simhash", "dedup_phash",
        "ann_bruteforce", "ann_ivf", "quality_score", "multimodal_pipeline",
    ]

    # same warm-up discipline as bench.py: session + python worker daemon
    (spark.read.parquet(f"{SF_DIR}/orders.parquet")
     .limit(1000).write.format("noop").mode("overwrite").save())
    (spark.range(64).repartition(8)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())

    if args.tag:
        os.makedirs(args.plans_dir, exist_ok=True)

    for key in keys:
        if key not in qs:
            print(json.dumps({"key": key, "error": "unknown"}))
            continue
        if args.tag:
            df = qs[key](spark, SF_DIR)
            with open(os.path.join(args.plans_dir,
                                   f"{key}_{args.tag}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        if args.no_time:
            print(json.dumps({"key": key, "plan": "captured"}))
            continue
        secs = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{key}")
            t0 = time.perf_counter()
            df = qs[key](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({"key": key, "secs": secs, "min": min(secs),
                          "sf": SF_DIR}), flush=True)


if __name__ == "__main__":
    main()
