r"""Partitioned bloom URL-seen filter (V2 in SURVEY.md §2.9; north_rule).

The reference keeps an in-memory Python set of seen ids
(/root/reference/src/infrastructure/github_api.py:463,548-555). At 10^10 URLs
an exact set probe per candidate means a full shuffle against the url_seen
table every epoch; the bloom filter is a *negative cache* that lets the bulk
of genuinely-new URLs skip that shuffle:

  candidates --cogroup probe--> definitely-new  ----------------+--> union
                           \--> maybe-seen --exact left_anti ---+

False positives only cost an extra exact check; false negatives are impossible
(bits only ever turn on), so no URL can be dropped (SURVEY.md §7 hard part 3).

State: one row per bucket ``(bucket=pmod(host_hash, N), bits:binary,
n_items:int64, epoch:int32)``, appended per epoch (only touched buckets);
readers take the latest row per bucket. Probe and update run as
``cogroup(...).applyInPandas`` so each bucket's bit array crosses the Arrow
boundary once per task, never once per row.

The seen-filter interface, shared with :mod:`crawlspark.operators.cuckoo`
(``dedup.seen_filter_ops`` picks the module): :func:`probe`,
:func:`updated_buckets` and :func:`forgotten_buckets`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FILTER_SCHEMA = "bucket int, bits binary, n_items long, epoch int"
_PROBE_SCHEMA = "url_hash long, maybe_seen boolean"

# Design point: 10 bits per item and 4 hashes, ~1.2% FPP.
BITS_PER_ITEM = 10
NUM_HASHES = 4
# Floor size of a bucket's bit array (bits). Keeps tiny first batches from
# allocating degenerate arrays; also the saturation scale for small
# deployments (the FPP crosses FPP_REBUILD near 0.16 x this many items).
MIN_BITS = 1 << 13
# Saturation guard: a bucket whose post-update FPP estimate exceeds this is
# rebuilt from the full seen set at BITS_PER_ITEM per actual item — without
# it, at 10^10 URLs the negative cache silently degrades to "exact anti-join
# for everything". Each operator reads these constants on the driver into
# locals its Arrow closures capture.
FPP_REBUILD = 0.05

# independent bit positions via splitmix-style remix of the 60-bit url hash
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions for each hash; double hashing h1 + i*h2 mod m."""
    with np.errstate(over="ignore"):
        x = hashes.astype(np.uint64)
        h1 = (x ^ (x >> np.uint64(33))) * _MIX1
        h1 = h1 ^ (h1 >> np.uint64(29))
        h2 = (x * _MIX2) ^ (x >> np.uint64(31))
        h2 = h2 | np.uint64(1)  # odd, so strides cover the table
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        pos = (h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)
    return pos


def _probe_bits(bits: np.ndarray, hashes: np.ndarray, k: int) -> np.ndarray:
    m_bits = bits.size * 8
    pos = _positions(hashes, k, m_bits)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit_idx = (pos & np.uint64(7)).astype(np.uint8)
    hit = (bits[byte_idx] >> bit_idx) & 1
    return hit.all(axis=1)


def _set_bits(bits: np.ndarray, hashes: np.ndarray, k: int) -> None:
    m_bits = bits.size * 8
    pos = _positions(hashes, k, m_bits)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    bit_idx = (pos & np.uint64(7)).astype(np.uint8).ravel()
    np.bitwise_or.at(bits, byte_idx, np.uint8(1) << bit_idx)


def _new_bits(n_items: int, bits_per_item: int, min_bits: int) -> np.ndarray:
    """A zeroed bit array sized at ``bits_per_item`` bits per item, with a
    ``min_bits`` floor, rounded up to whole bytes."""
    return np.zeros((max(min_bits, bits_per_item * n_items) + 7) // 8,
                    dtype=np.uint8)


def latest_filter(filters: DataFrame | None) -> DataFrame | None:
    """Collapse the append-only filter table to the newest row per bucket.

    Ties on ``epoch`` go to the smaller ``n_items``: a bucket's only
    same-epoch pair is that epoch's update and the forget that follows it
    (``forget_urls`` runs after the epoch, stamped with its number), and a
    forget only lowers ``n_items`` — a bloom rebuild counts exactly the
    remaining rows, cuckoo subtracts the deleted count. So the later write
    always wins, whatever order the files are read in."""
    if filters is None:
        return None
    w = Window.partitionBy("bucket").orderBy(F.desc("epoch"),
                                             F.asc("n_items"))
    return (filters.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def probe(candidates: DataFrame, filters: DataFrame | None,
          n_buckets: int) -> DataFrame:
    """Adds boolean ``maybe_seen`` to candidates (keyed by ``url_hash`` and
    ``host_hash``). With no filter state yet, everything is definitely new."""
    if filters is None:
        return candidates.withColumn("maybe_seen", F.lit(False))
    k = NUM_HASHES
    cand_b = candidates.withColumn("bucket",
                                   F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
    flt = latest_filter(filters)

    def _probe(cand_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame({"url_hash": pd.Series(dtype="int64"),
                                 "maybe_seen": pd.Series(dtype="bool")})
        hashes = cand_pdf["url_hash"].to_numpy()
        if flt_pdf.empty:
            seen = np.zeros(len(cand_pdf), dtype=bool)
        else:
            bits = np.frombuffer(flt_pdf["bits"].iloc[0], dtype=np.uint8)
            seen = _probe_bits(bits, hashes, k)
        return pd.DataFrame({"url_hash": hashes, "maybe_seen": seen})

    probed = (cand_b.select("bucket", "url_hash").groupBy("bucket")
              .cogroup(flt.groupBy("bucket"))
              .applyInPandas(_probe, schema=_PROBE_SCHEMA)
              .dropDuplicates(["url_hash"]))
    return candidates.join(probed, "url_hash", "left").na.fill({"maybe_seen": False})


def saturated_buckets(new_seen: DataFrame, filters: DataFrame,
                      n_buckets: int) -> list[int]:
    """Buckets whose post-update FPP estimate would exceed ``FPP_REBUILD``:
    per-bucket new-item counts joined against the current filter state, the
    standard bloom FPP ``(1 - e^(-k*n/m))^k`` evaluated as JVM exprs. The
    result is driver bookkeeping (<= n_buckets rows) steering THIS commit's
    rebuild routing. Buckets with no prior filter row cannot saturate — a
    fresh bucket is sized at ``BITS_PER_ITEM`` per item on creation."""
    k = NUM_HASHES
    counts = (new_seen
              .withColumn("bucket",
                          F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
              .groupBy("bucket").agg(F.count("*").alias("n_new")))
    state = latest_filter(filters).select(
        "bucket", "n_items", (F.length("bits") * 8).cast("double").alias("m_bits"))
    n_total = (F.col("n_items") + F.col("n_new")).cast("double")
    fpp = F.pow(F.lit(1.0) - F.exp(-F.lit(float(k)) * n_total / F.col("m_bits")),
                F.lit(float(k)))
    return sorted(r["bucket"] for r in counts.join(state, "bucket")
                  .filter(fpp > FPP_REBUILD).select("bucket").collect())


def rebuild_buckets(all_seen: DataFrame, buckets: list[int],
                    n_buckets: int, epoch: int) -> DataFrame:
    """Fresh filter rows for ``buckets``, rebuilt from the FULL seen set at
    ``BITS_PER_ITEM`` per actual item — the saturation answer: the new array
    is sized to the bucket's real cardinality, restoring the design-point FPP
    (~1.2% at 10 bits / 4 hashes). ``all_seen`` needs url_hash + host_hash
    and must include the current epoch's new rows. One cogroup+applyInPandas
    pass over only the listed buckets' rows — O(bucket), not O(table). Every
    listed bucket gets a row: one with no seen rows left is ``n_items`` 0 at
    ``MIN_BITS``. FP-safety holds by construction: every seen hash sets its
    bits in the rebuilt array, so no false negatives are possible."""
    k, bits_per_item, min_bits = NUM_HASHES, BITS_PER_ITEM, MIN_BITS
    sb = (all_seen
          .withColumn("bucket",
                      F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
          .filter(F.col("bucket").isin([int(b) for b in buckets])))
    wanted = all_seen.sparkSession.createDataFrame(
        [(int(b),) for b in buckets], "bucket int")

    def _build(pdf: pd.DataFrame, want: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].unique()
        bits = _new_bits(len(hashes), bits_per_item, min_bits)
        _set_bits(bits, hashes, k)
        return pd.DataFrame({"bucket": [int(want["bucket"].iloc[0])],
                             "bits": [bits.tobytes()],
                             "n_items": [len(hashes)], "epoch": [epoch]})

    return (sb.select("bucket", "url_hash").groupBy("bucket")
            .cogroup(wanted.groupBy("bucket"))
            .applyInPandas(_build, schema=FILTER_SCHEMA))


def updated_buckets(new_seen: DataFrame, filters: DataFrame | None,
                    n_buckets: int, epoch: int,
                    all_seen: DataFrame | None = None) -> DataFrame:
    """New filter rows for buckets receiving items this epoch (append these;
    untouched buckets keep their previous row). ``new_seen`` needs
    ``url_hash`` + ``host_hash``.

    Saturation handling: a bucket's bit array is sized from its FIRST batch
    and thereafter only accumulates set bits, so across enough epochs its
    FPP climbs toward 1 and the negative cache silently degrades to "exact
    anti-join for everything" — the precise failure the two-phase design
    exists to avoid (SURVEY §4.2). When ``all_seen`` (the full seen set
    INCLUDING this epoch's rows) is supplied, buckets whose post-update
    :func:`fpp_estimate` would exceed ``FPP_REBUILD`` are rebuilt from
    scratch at ``BITS_PER_ITEM`` per actual item
    (:func:`rebuild_buckets`) instead of bit-or-updated; all other buckets
    take the normal incremental path. The rebuild touches only the
    saturated buckets' seen rows — per-epoch maintenance stays O(new items
    + saturated buckets), never O(all buckets)."""
    k, bits_per_item, min_bits = NUM_HASHES, BITS_PER_ITEM, MIN_BITS
    nb = new_seen.withColumn("bucket",
                             F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
    flt = latest_filter(filters)

    sat: list[int] = []
    if all_seen is not None and flt is not None:
        sat = saturated_buckets(new_seen, filters, n_buckets)
    if sat:
        rebuilt = rebuild_buckets(all_seen, sat, n_buckets, epoch)
        nb = nb.filter(~F.col("bucket").isin(sat))

    if flt is None:
        spark = new_seen.sparkSession
        flt = spark.createDataFrame([], FILTER_SCHEMA)

    def _update(new_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if new_pdf.empty:
            return pd.DataFrame(
                {"bucket": pd.Series(dtype="int32"),
                 "bits": pd.Series(dtype=object),
                 "n_items": pd.Series(dtype="int64"),
                 "epoch": pd.Series(dtype="int32")})
        bucket = int(new_pdf["bucket"].iloc[0])
        hashes = new_pdf["url_hash"].to_numpy()
        if flt_pdf.empty:
            bits = _new_bits(len(hashes), bits_per_item, min_bits)
            n_old = 0
        else:
            bits = np.frombuffer(flt_pdf["bits"].iloc[0], dtype=np.uint8).copy()
            n_old = int(flt_pdf["n_items"].iloc[0])
        _set_bits(bits, hashes, k)
        return pd.DataFrame({"bucket": [bucket], "bits": [bits.tobytes()],
                             "n_items": [n_old + len(hashes)],
                             "epoch": [epoch]})

    updated = (nb.select("bucket", "url_hash").groupBy("bucket")
               .cogroup(flt.groupBy("bucket"))
               .applyInPandas(_update, schema=FILTER_SCHEMA))
    if sat:
        updated = updated.unionByName(rebuilt)
    return updated


def forgotten_buckets(hit: DataFrame, remaining: DataFrame,
                      filters: DataFrame, n_buckets: int,
                      epoch: int) -> DataFrame:
    """New filter rows after ``hit`` leaves the seen set. Bits are shared,
    so clearing one would false-negative other URLs: the buckets ``hit``
    touches are instead rebuilt from ``remaining`` (the seen set after the
    forget) — O(bucket), the cost cuckoo's delete avoids; a bucket the
    forget empties gets an ``n_items`` 0 row, as cuckoo's does. Both frames
    need ``url_hash`` + ``host_hash``; ``filters`` is not read (a rebuild
    needs no prior state)."""
    touched = sorted(r["bucket"] for r in hit.select(
        F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int")
        .alias("bucket")).distinct().collect())
    return rebuild_buckets(remaining, touched, n_buckets, epoch)


def fpp_estimate(n_items: int, m_bits: int, k: int) -> float:
    """Standard bloom FPP estimate (per-partition lineage metric)."""
    if m_bits <= 0:
        return 1.0
    return float((1.0 - np.exp(-k * n_items / m_bits)) ** k)
