r"""Partitioned cuckoo URL-seen filter (V2 in SURVEY.md §2.9; north_rule's
"bloom/cuckoo" alternative backend).

Same two-phase contract as :mod:`crawlspark.operators.bloom` — a *negative
cache* in front of the exact ``url_seen`` anti-join:

  candidates --cogroup probe--> definitely-new  ----------------+--> union
                           \--> maybe-seen --exact left_anti ---+

and the same state shape (one latest row per ``pmod(host_hash, N)`` bucket,
append-only, cogroup'd so each bucket's table crosses the Arrow boundary once
per task). What cuckoo adds over bloom is **deletion**: a fingerprint can be
removed in O(1) per item, so "forget this URL" (recrawl scheduling, TTL
expiry) costs one small per-bucket row append instead of the full-bucket
rebuild bloom needs. The reference keeps an in-memory Python ``set`` that it
mutates freely (/root/reference/src/infrastructure/github_api.py:463,548-555);
``seen_repo_ids.discard`` semantics need a delete-capable filter at scale.

Design (partial-key cuckoo hashing, Fan et al. 2014, public):

* 16-bit nonzero fingerprints, ``SLOTS`` = 4 per row, ``m`` rows (power of
  2); a row is one little-endian uint64, which the hot paths exploit;
* row1 = h(x) & (m-1); row2 = row1 ^ (h'(fp) & (m-1)) — an involution, so
  either row recovers the other without the original key;
* batch insert is fully vectorized (no per-row Python, per input_hint):
  rank-within-row free-slot placement rounds alternating row1/row2, plus
  bounded vectorized eviction rounds (one kicker per row per round);
* FP-safety is structural: an insert NEVER silently drops — if the bounded
  kicks can't place every fingerprint the bucket marks ``overflow=true``,
  probe then answers maybe-seen for everything in that bucket (degrading to
  the exact path, never to a false negative), and the epoch loop's
  saturation check rebuilds the bucket at the design-point load factor —
  the exact discipline of bloom's FPP-triggered rebuild.

At 10 bits/item the bloom design point is ~1.2% FPP; cuckoo at 16-bit
fingerprints / 4 slots is ~2b/2^16 ≈ 0.012% FPP at ~32-38 bits/item once
headroom (alpha 0.5 sizing, 0.85 rebuild trigger) is counted — the classic
memory-vs-FPP-vs-deletability trade measured in tools/bench_cuckoo.py.

It exposes the same three functions as bloom, with the same signatures
(``dedup.seen_filter_ops`` picks the module): :func:`probe`,
:func:`updated_buckets` and :func:`forgotten_buckets`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import latest_filter

FILTER_SCHEMA = ("bucket int, slots binary, n_items long, "
                 "overflow boolean, epoch int")
_PROBE_SCHEMA = "url_hash long, maybe_seen boolean"

_MIX1 = np.uint64(0xBF58476D1CE4E5B9)   # splitmix-style remix (public)
_FP_MIX = np.uint64(0x9E3779B97F4A7C15)
_ALT_MIX = np.uint64(0x5BD1E995)         # MurmurHash2 constant (public)

_MAX_ROUNDS = 64     # bounded vectorized kick rounds per batch insert
_DEL_SWEEPS = 4      # bounded delete sweeps (collision retry)

SLOTS = 4            # fingerprints per row: one row is one uint64
# Floor row count of a bucket's table.
MIN_ROWS = 1 << 9
# Rebuild a bucket from the full seen set when its post-insert load factor
# would cross this (4-slot cuckoo degrades past ~0.95; 0.85 leaves kick
# headroom) — the analog of bloom.FPP_REBUILD. Each operator reads these
# constants on the driver into locals its Arrow closures capture.
LOAD_REBUILD = 0.85


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprints (0 marks an empty slot)."""
    with np.errstate(over="ignore"):
        f = ((hashes.astype(np.uint64) * _FP_MIX) >> np.uint64(48))
    f = f.astype(np.uint16)
    return np.where(f == 0, np.uint16(1), f)


def _row1(hashes: np.ndarray, m_rows: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = hashes.astype(np.uint64)
        h = (x ^ (x >> np.uint64(33))) * _MIX1
        h = h ^ (h >> np.uint64(29))
    return (h & np.uint64(m_rows - 1)).astype(np.int64)


def _alt_row(rows: np.ndarray, fps: np.ndarray, m_rows: int) -> np.ndarray:
    """The partner row: rows ^ (h'(fp) & (m-1)). Involution — applying it
    twice returns the input, so a stored fingerprint's other row is always
    recoverable without the original key (what makes kicks possible)."""
    with np.errstate(over="ignore"):
        h = fps.astype(np.uint64) * _ALT_MIX
        h = h ^ (h >> np.uint64(13))
    return (rows.astype(np.int64)
            ^ (h & np.uint64(m_rows - 1)).astype(np.int64))


# Lookup tables for the row-as-uint64 layout (4 uint16 slots per row).
# _NFREE_LUT[pat] = popcount of the 4-bit free pattern; _SLOT_LUT[pat, j] =
# column of the j-th free slot (garbage past nfree, masked by the caller).
_NFREE_LUT = np.array([bin(p).count("1") for p in range(16)], dtype=np.int64)
_SLOT_LUT = np.full((16, 4), 0, dtype=np.int64)
for _p in range(16):
    _cols = [c for c in range(4) if _p >> c & 1]
    for _j, _c in enumerate(_cols):
        _SLOT_LUT[_p, _j] = _c
_FPMASK = np.uint64(0xFFFF)


def _free_pattern(tab: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """4-bit free-slot pattern per row, via ONE uint64 gather per row
    (a (m,4) uint16 row is one little-endian uint64) instead of a (n,4)
    uint16 gather — the batch-insert hot path."""
    v = tab.reshape(-1).view(np.uint64)[rows]
    pat = ((v & _FPMASK) == 0).astype(np.int64)
    pat |= (((v >> np.uint64(16)) & _FPMASK) == 0).astype(np.int64) << 1
    pat |= (((v >> np.uint64(32)) & _FPMASK) == 0).astype(np.int64) << 2
    pat |= ((v >> np.uint64(48)) == 0).astype(np.int64) << 3
    return pat


def _place_round(tab: np.ndarray, fp: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Vectorized free-slot placement: pending fingerprints ``fp`` target
    rows ``r``; items landing on the same row compete by rank for that
    row's free slots. Writes winners into ``tab``; returns the placed mask
    (aligned with ``fp``)."""
    n = fp.size
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(r, kind="stable")
    r_s = r[order]
    fp_s = fp[order]
    idx = np.arange(n)
    grp_start = np.empty(n, dtype=bool)
    grp_start[0] = True
    grp_start[1:] = r_s[1:] != r_s[:-1]
    starts = np.flatnonzero(grp_start)
    counts = np.diff(np.append(starts, n))
    rank = idx - np.repeat(starts, counts)      # position within row group
    pat = _free_pattern(tab, r_s)
    can = rank < _NFREE_LUT[pat]
    slot = _SLOT_LUT[pat, np.minimum(rank, SLOTS - 1)]
    flat = r_s[can] * SLOTS + slot[can]         # distinct (row, slot) pairs
    tab.reshape(-1)[flat] = fp_s[can]
    placed = np.zeros(n, dtype=bool)
    placed[order] = can
    return placed


def _insert_batch(tab: np.ndarray, hashes: np.ndarray) -> int:
    """Insert unique ``hashes`` into ``tab`` (m, SLOTS). Returns the number
    of fingerprints that could NOT be placed within the kick budget (callers
    must then mark the bucket overflowed — nothing is silently dropped)."""
    m = tab.shape[0]
    fp = _fingerprints(hashes)
    r = _row1(hashes, m)
    alt = _alt_row(r, fp, m)
    for rnd in range(_MAX_ROUNDS):
        if fp.size == 0:
            return 0
        placed = _place_round(tab, fp, r)
        keep = ~placed
        fp, r, alt = fp[keep], r[keep], alt[keep]
        if fp.size == 0:
            return 0
        # Eviction: one kicker per distinct full row swaps with the victim
        # in slot (rnd % SLOTS); the victim re-enters pending aimed at ITS
        # partner row. Everyone else retries their own partner row.
        order = np.argsort(r, kind="stable")
        r_s = r[order]
        first = np.empty(r_s.size, dtype=bool)
        first[0] = True
        first[1:] = r_s[1:] != r_s[:-1]
        kicker = order[first]                   # indices into pending
        rows_k = r[kicker]
        slot_k = rnd % SLOTS
        victims = tab[rows_k, slot_k].copy()    # nonzero: rows are full here
        tab[rows_k, slot_k] = fp[kicker]
        v_alt = _alt_row(rows_k, victims, m)
        rest = np.ones(fp.size, dtype=bool)
        rest[kicker] = False
        # next round's pending: displaced victims aim at THEIR partner row
        # (alt = the row they were just kicked from); non-kickers swap
        # r <-> alt to retry their own partner row.
        fp = np.concatenate([victims, fp[rest]])
        r, alt = (np.concatenate([v_alt, alt[rest]]),
                  np.concatenate([rows_k, r[rest]]))
    return int(fp.size)


def _row_has_fp(tab: np.ndarray, rows: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """fp present in any of the row's 4 slots — one uint64 gather per row."""
    v = tab.reshape(-1).view(np.uint64)[rows]
    f = fp.astype(np.uint64)
    return (((v & _FPMASK) == f)
            | (((v >> np.uint64(16)) & _FPMASK) == f)
            | (((v >> np.uint64(32)) & _FPMASK) == f)
            | ((v >> np.uint64(48)) == f))


def _probe_batch(tab: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    m = tab.shape[0]
    fp = _fingerprints(hashes)
    r1 = _row1(hashes, m)
    r2 = _alt_row(r1, fp, m)
    return _row_has_fp(tab, r1, fp) | _row_has_fp(tab, r2, fp)


def _delete_batch(tab: np.ndarray, hashes: np.ndarray) -> int:
    """Clear one stored copy per unique hash. Vectorized sweeps: each sweep
    resolves same-slot collisions by first-come unique; unresolved items
    retry (another copy may sit in the partner row). Items with no matching
    fingerprint are conservative no-ops (never present, or already gone).
    Returns the number of fingerprints actually cleared."""
    hashes = np.unique(hashes)
    if hashes.size == 0:
        return 0
    m, b = tab.shape[0], SLOTS
    fp = _fingerprints(hashes)
    r1 = _row1(hashes, m)
    r2 = _alt_row(r1, fp, m)
    pend = np.arange(fp.size)
    n_deleted = 0
    for _ in range(_DEL_SWEEPS):
        if pend.size == 0:
            break
        f = fp[pend]
        cand_rows = np.concatenate(
            [np.repeat(r1[pend, None], b, axis=1),
             np.repeat(r2[pend, None], b, axis=1)], axis=1)     # (n, 2b)
        cand_slot = np.tile(np.arange(b), 2)[None, :]            # (1, 2b)
        vals = tab[cand_rows, cand_slot]
        match = vals == f[:, None]
        has = match.any(axis=1)
        first = match.argmax(axis=1)
        sel = np.arange(pend.size)
        flat = cand_rows[sel, first] * b + np.tile(np.arange(b), 2)[first]
        # same slot claimed twice in one sweep -> first claimant wins,
        # the loser retries next sweep (a second copy may exist elsewhere)
        flat_h = flat[has]
        uniq, ui = np.unique(flat_h, return_index=True)
        tab.ravel()[uniq] = 0
        n_deleted += uniq.size
        winner = np.zeros(flat_h.size, dtype=bool)
        winner[ui] = True
        pend = pend[has][~winner]
    return n_deleted


def _size_rows(n_items: int, min_rows: int, alpha: float = 0.5) -> int:
    """Power-of-two row count targeting load factor ``alpha`` — headroom so
    bounded kicks essentially never overflow before the LOAD_REBUILD
    trigger fires."""
    need = max(int(min_rows), int(np.ceil(n_items / (SLOTS * alpha)))
               if n_items else int(min_rows))
    return 1 << int(np.ceil(np.log2(max(1, need))))


def _unpack(blob: bytes) -> np.ndarray:
    arr = np.frombuffer(blob, dtype=np.uint16).copy()
    return arr.reshape(-1, SLOTS)


def probe(candidates: DataFrame, filters: DataFrame | None,
          n_buckets: int) -> DataFrame:
    """Adds boolean ``maybe_seen`` (keyed by ``url_hash`` + ``host_hash``).
    Overflowed buckets answer maybe-seen for everything — degrading to the
    exact path, never dropping a URL."""
    if filters is None:
        return candidates.withColumn("maybe_seen", F.lit(False))
    cand_b = candidates.withColumn(
        "bucket", F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
    flt = latest_filter(filters)

    def _probe(cand_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame({"url_hash": pd.Series(dtype="int64"),
                                 "maybe_seen": pd.Series(dtype="bool")})
        hashes = cand_pdf["url_hash"].to_numpy()
        if flt_pdf.empty:
            seen = np.zeros(len(cand_pdf), dtype=bool)
        elif bool(flt_pdf["overflow"].iloc[0]):
            seen = np.ones(len(cand_pdf), dtype=bool)
        else:
            seen = _probe_batch(_unpack(flt_pdf["slots"].iloc[0]), hashes)
        return pd.DataFrame({"url_hash": hashes, "maybe_seen": seen})

    probed = (cand_b.select("bucket", "url_hash").groupBy("bucket")
              .cogroup(flt.groupBy("bucket"))
              .applyInPandas(_probe, schema=_PROBE_SCHEMA)
              .dropDuplicates(["url_hash"]))
    return candidates.join(probed, "url_hash", "left").na.fill({"maybe_seen": False})


def saturated_buckets(new_seen: DataFrame, filters: DataFrame,
                      n_buckets: int) -> list[int]:
    """Buckets whose post-insert load factor would exceed ``LOAD_REBUILD``, or
    that already overflowed — driver bookkeeping (<= n_buckets rows)
    steering THIS commit's rebuild routing, exactly like
    :func:`bloom.saturated_buckets`."""
    counts = (new_seen
              .withColumn("bucket",
                          F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
              .groupBy("bucket").agg(F.count("*").alias("n_new")))
    state = latest_filter(filters).select(
        "bucket", "n_items", "overflow",
        (F.length("slots") / 2).cast("double").alias("capacity"))
    load = (F.col("n_items") + F.col("n_new")).cast("double") / F.col("capacity")
    return sorted(r["bucket"] for r in counts.join(state, "bucket")
                  .filter((load > LOAD_REBUILD) | F.col("overflow"))
                  .select("bucket").collect())


def rebuild_buckets(all_seen: DataFrame, buckets: list[int],
                    n_buckets: int, epoch: int) -> DataFrame:
    """Fresh filter rows for ``buckets`` rebuilt from the FULL seen set at
    alpha=0.5 sizing. In-UDF retry doubles the table on the (vanishingly
    rare at alpha 0.5) residual overflow — safe here because the raw hashes
    are in hand, unlike an in-place grow of fingerprint-only state."""
    min_rows = MIN_ROWS
    sb = (all_seen
          .withColumn("bucket",
                      F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
          .filter(F.col("bucket").isin([int(x) for x in buckets])))

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        hashes = pdf["url_hash"].unique()
        m = _size_rows(len(hashes), min_rows)
        for _ in range(3):
            tab = np.zeros((m, SLOTS), dtype=np.uint16)
            if _insert_batch(tab, hashes) == 0:
                return pd.DataFrame({
                    "bucket": [bucket], "slots": [tab.tobytes()],
                    "n_items": [len(hashes)], "overflow": [False],
                    "epoch": [epoch]})
            m *= 2
        tab = np.zeros((m, SLOTS), dtype=np.uint16)
        over = _insert_batch(tab, hashes) > 0
        return pd.DataFrame({
            "bucket": [bucket], "slots": [tab.tobytes()],
            "n_items": [len(hashes)], "overflow": [over], "epoch": [epoch]})

    return (sb.select("bucket", "url_hash").groupBy("bucket")
            .applyInPandas(_build, schema=FILTER_SCHEMA))


def updated_buckets(new_seen: DataFrame, filters: DataFrame | None,
                    n_buckets: int, epoch: int,
                    all_seen: DataFrame | None = None) -> DataFrame:
    """New filter rows for buckets receiving items this epoch (append these;
    untouched buckets keep their previous row) — the cuckoo analog of
    :func:`bloom.updated_buckets`, same saturation discipline: buckets whose
    post-insert load would cross ``LOAD_REBUILD`` (or that overflowed) are
    rebuilt from ``all_seen``, when supplied, at design-point sizing instead
    of updated."""
    min_rows = MIN_ROWS
    nb = new_seen.withColumn(
        "bucket", F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
    flt = latest_filter(filters)

    sat: list[int] = []
    if all_seen is not None and flt is not None:
        sat = saturated_buckets(new_seen, filters, n_buckets)
    rebuilt = None
    if sat:
        rebuilt = rebuild_buckets(all_seen, sat, n_buckets, epoch)
        nb = nb.filter(~F.col("bucket").isin(sat))

    if flt is None:
        flt = new_seen.sparkSession.createDataFrame([], FILTER_SCHEMA)

    def _update(new_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if new_pdf.empty:
            return pd.DataFrame(
                {"bucket": pd.Series(dtype="int32"),
                 "slots": pd.Series(dtype=object),
                 "n_items": pd.Series(dtype="int64"),
                 "overflow": pd.Series(dtype="bool"),
                 "epoch": pd.Series(dtype="int32")})
        bucket = int(new_pdf["bucket"].iloc[0])
        hashes = new_pdf["url_hash"].unique()
        if flt_pdf.empty:
            m = _size_rows(len(hashes), min_rows)
            tab = np.zeros((m, SLOTS), dtype=np.uint16)
            n_old, was_over = 0, False
        else:
            tab = _unpack(flt_pdf["slots"].iloc[0])
            n_old = int(flt_pdf["n_items"].iloc[0])
            was_over = bool(flt_pdf["overflow"].iloc[0])
        over = _insert_batch(tab, hashes) > 0 or was_over
        return pd.DataFrame({"bucket": [bucket], "slots": [tab.tobytes()],
                             "n_items": [n_old + len(hashes)],
                             "overflow": [over], "epoch": [epoch]})

    updated = (nb.select("bucket", "url_hash").groupBy("bucket")
               .cogroup(flt.groupBy("bucket"))
               .applyInPandas(_update, schema=FILTER_SCHEMA))
    if rebuilt is not None:
        updated = updated.unionByName(rebuilt)
    return updated


def forgotten_buckets(hit: DataFrame, remaining: DataFrame,
                      filters: DataFrame, n_buckets: int,
                      epoch: int) -> DataFrame:
    """New filter rows with ``hit``'s fingerprints removed — the operation
    bloom structurally cannot do (bits are shared; clearing one would
    false-negative other URLs). Cost: O(deleted items) touching only their
    buckets, vs bloom's full-bucket rebuild from ``remaining``, which this
    backend does not read. ``hit`` needs ``url_hash`` + ``host_hash``.
    Untouched buckets get no row (append result; latest-per-bucket readers
    see the rest)."""
    db = hit.withColumn(
        "bucket", F.pmod(F.col("host_hash"), F.lit(n_buckets)).cast("int"))
    flt = latest_filter(filters)

    def _delete(del_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"bucket": pd.Series(dtype="int32"),
             "slots": pd.Series(dtype=object),
             "n_items": pd.Series(dtype="int64"),
             "overflow": pd.Series(dtype="bool"),
             "epoch": pd.Series(dtype="int32")})
        if del_pdf.empty or flt_pdf.empty:
            return empty                       # nothing stored -> no-op
        bucket = int(del_pdf["bucket"].iloc[0])
        tab = _unpack(flt_pdf["slots"].iloc[0])
        n_del = _delete_batch(tab, del_pdf["url_hash"].to_numpy())
        n_items = max(0, int(flt_pdf["n_items"].iloc[0]) - n_del)
        return pd.DataFrame({"bucket": [bucket], "slots": [tab.tobytes()],
                             "n_items": [n_items],
                             "overflow": [bool(flt_pdf["overflow"].iloc[0])],
                             "epoch": [epoch]})

    return (db.select("bucket", "url_hash").groupBy("bucket")
            .cogroup(flt.groupBy("bucket"))
            .applyInPandas(_delete, schema=FILTER_SCHEMA))
