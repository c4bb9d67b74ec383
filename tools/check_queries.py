"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and its oracle_sql() on DuckDB, compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_queries.py [key ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main(keys=None):
    import __spark_entry__ as entrymod
    from crawlspark.config import SparkTuning
    from crawlspark.session import get_spark

    spark = get_spark(SparkTuning(app_name="check-queries"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = keys or sorted(qs)
    n_pass = n_fail = n_skip = 0
    for k in keys:
        fn = qs[k]
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {k:<22} spark error: {str(e)[:160]}")
            n_fail += 1
            continue
        if k not in oracles:
            print(f"SKIP  {k:<22} rows={len(srows)} (no oracle; rows-only check)")
            n_skip += 1
            continue
        try:
            res = con.execute(oracles[k])
            dcols = [d[0] for d in res.description]
            # fetch via Arrow, not fetchall(): fetchall() collapses DuckDB's
            # HUGEINT/DECIMAL to Python int and hides typed-width mismatches
            # the driver's normalization sees (r4's quality_score red row)
            dtab = res.fetch_arrow_table()
            widths = [f"{f.name}:{f.type}" for f in dtab.schema
                      if "decimal" in str(f.type)]
            drows = ([tuple(vals) for vals in
                      zip(*(c.to_pylist() for c in dtab.columns))]
                     if dtab.num_rows else [])
        except Exception as e:
            print(f"FAIL  {k:<22} duckdb error: {str(e)[:160]}")
            n_fail += 1
            continue
        problems = []
        if widths:
            # DuckDB HUGEINT/DECIMAL in the oracle output hash-mismatches
            # Spark int64 under the driver's typed normalization even when
            # values are equal — CAST the oracle column to BIGINT.
            problems.append(f"oracle decimal-typed cols {widths}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        elif value_hash(srows, scols) != value_hash(drows, dcols):
            problems.append("value-hash mismatch")
        if problems:
            print(f"FAIL  {k:<22} {'; '.join(problems)}")
            if "value-hash mismatch" in problems and srows and drows:
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(norm_cell(r[i]) for i in so) for r in srows)
                dset = sorted("|".join(norm_cell(r[i]) for i in do) for r in drows)
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                for a, b in diff:
                    print(f"        spark:  {a[:150]}")
                    print(f"        duckdb: {b[:150]}")
            n_fail += 1
        else:
            print(f"PASS  {k:<22} rows={len(srows)}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
