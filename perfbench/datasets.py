"""Seeded inputs for the benchmark workloads.

Only the generated parquet reaches the program. The crawl inputs come from
``crawlspark.datagen`` through the test suite's ``write_fixtures``;
:func:`write_query_tables` writes the ten tables the training-data queries
read (TPC-H-shaped star schema plus events, documents and embeddings) with
the schemas of the repo's test data, scaled by a TPC-H-style scale factor.
At sf0.1 its row counts, value domains, document vocabulary and duplicate
counts were compared with that test data; perfbench/README.md has the
figures.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_from(rng, start: str, n_days: int, n: int) -> pd.Series:
    base = np.datetime64(start, "D")
    days = base + rng.randint(0, n_days, n).astype("timedelta64[D]")
    return pd.Series(days.astype("datetime64[us]"))


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents of 10-99 words over a 30-word vocabulary. 5%
    are near duplicates (another document plus the token ``dup``; a source
    may itself be a near duplicate, so short chains occur) and n/600 are
    exact copies, so the dedup queries have real pairs to find. Sources of
    near duplicates are distinct, so they add no exact duplicates."""
    lens = rng.randint(10, 100, n)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in lens]
    n_near = n // 20
    for i, src in zip(rng.choice(n, n_near, replace=False),
                      rng.choice(n, n_near, replace=False)):
        texts[i] = texts[src] + " dup"
    n_exact = max(2, n // 600)
    for i, src in zip(rng.choice(n, n_exact, replace=False),
                      rng.randint(0, n, n_exact)):
        texts[i] = texts[src]
    text = pd.Series(texts)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": text.str.len().astype(np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x),
        "label": rng.randint(0, 10, n).astype(np.int32),
    })


def write_query_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the query tables at scale factor ``sf`` (lineitem has
    ``6e6 * sf`` rows) and return their row counts."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = np.int32, np.int64
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32),
                                "r_name": _REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.randint(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.randint(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.randint(1, 51, n_part).astype(i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.randint(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_from(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.randint(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.randint(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.randint(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.randint(1, 8, n_line).astype(i32),
            "l_quantity": rng.randint(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.randint(0, 11, n_line) / 100.0,
            "l_tax": rng.randint(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days_from(rng, "1995-01-02", 2499, n_line)}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": pd.Series(np.datetime64("2024-01-01T00:00:00", "us")
                            + np.sort(rng.randint(0, 30 * 86_400_000_000, n_ev,
                                                  dtype=i64)).astype("timedelta64[us]")),
            "user_id": rng.randint(0, max(1, int(15_000 * sf)), n_ev).astype(i64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    emb_schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    for name, df in frames.items():
        schema = emb_schema if name == "embeddings" else None
        pq.write_table(pa.Table.from_pandas(df, schema=schema,
                                            preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in frames.items()}
