"""Training-data pipeline operators over documents/embeddings (task brief:
dedup, similarity search, text analysis, multimodal plumbing).

These are first-class engine components for the 100 TB training-data use
case. Where a DuckDB-expressible equivalent exists the query carries an
oracle (driver value-hash gate); operators whose oracle would require
UDF-grade logic (simhash packing, multimodal decode) are rows-only checks.

Hash discipline: every hash used here is md5-prefix based
(``crawlspark.functions.urls.hash64`` semantics; the JVM side is always
``hash64_col``, the DuckDB side ``DUCK_H60``) so Spark SQL, DuckDB SQL,
and Python compute bit-identical values — that is what makes MinHash/LSH
oracle-checkable at all.

One implementation per LSH building block: ``_bucket_cells`` (skew-bounded
pair cells for the minhash/phash pair joins and dedup_embedding),
``_np_norms``/``_np_dots`` (the numpy cosine kernel, bit-identical to the
JVM fold) and ``_sign_bucket``/``_sign_bucket_duck`` (sign-LSH buckets).

Scale notes per operator are in the docstrings: the point is not the sf0.01
result but the plan shape that survives 10^10 documents.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.spread import spread_scan
from .functions.urls import hash64_col

QUERIES: dict = {}
ORACLE_SQL: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn
    return deco


# DuckDB twin of urls.hash64_col: the 60-bit md5-prefix hash
DUCK_H60 = "CAST(('0x' || substr(md5({c}), 1, 15)) AS BIGINT)"

# MinHash parameters (integer-exact on both engines: h is reduced mod p
# before the affine map so a*h+b stays < 2^63)
MH_P = 2147483647  # 2^31 - 1
MH_COEF = [(443, 907), (571, 211), (727, 383), (911, 653),
           (131, 829), (283, 547), (353, 97), (617, 769)]


# =========================================================================
# deduplication
# =========================================================================

# Per-task bucket cap for LSH candidate self-joins: a bucket with more
# members than this routes through the salted two-phase pair generator
# below. At the default the normal path covers every sane bucket; only a
# mega-cluster of near-identical documents (the 100-TB failure mode: one
# band bucket holding 10^5 boilerplate copies -> 10^10 pairs in ONE task)
# crosses into the salted path.
_PAIR_BUCKET_CAP = 4096


def _bucket_cells(df: DataFrame, bucket_col: str, id_col: str,
                  cap: int) -> DataFrame:
    """Route every row of ``df`` to its LSH pair cells: ``df`` plus ``_c1``,
    ``_c2`` and ``_side``. The one cell scheme behind every intra-bucket
    all-pairs operator here (``_skew_safe_bucket_pairs``, dedup_embedding's
    Arrow scorer): each unordered pair of a bucket lands in EXACTLY one
    cell, and a cell holds at most ~cap^2 pairs whatever the bucket size.

      1. census: bucket sizes via ``count() OVER (PARTITION BY bucket)`` —
         a partitioned window on the SAME hash partitioning the pair join
         shuffles to anyway, so the census costs no extra shuffle (measured:
         the groupBy+broadcast-join alternative added ~3x the overhead).
      2. a bucket of at most ``cap`` rows is one cell (0, 0), each row once
         as side 0: both pair sides are the whole bucket.
      3. a bigger bucket is a salted TRIANGLE (*Scalable and Robust Set
         Similarity Join*, ICDE 2018). Each row gets a deterministic salt
         ``g = pmod(xxhash64(id), S)`` with ``S = ceil(k / cap)``; the pair
         space splits into S*(S+1)/2 salt cells, side-1 copies go to cells
         ``(g, j>=g)``, side-2 copies to ``(i<=g, g)``. A pair of distinct
         salts meets once, in arbitrary side order; a diagonal cell sees
         both orders and keeps one by id order.

    ``id_col`` may name a struct field (``"_r.doc_id"``): callers that ship
    a payload struct build it before the salt explode, one per row."""
    cols = df.columns
    dfn = df.withColumn("_n", F.count("*").over(Window.partitionBy(bucket_col)))
    normal = dfn.filter(F.col("_n") <= cap).select(
        *cols, F.lit(0).alias("_c1"), F.lit(0).alias("_c2"),
        F.lit(0).alias("_side"))
    s_of = F.ceil(F.col("_n") / F.lit(cap)).cast("int")
    g_of = F.pmod(F.xxhash64(F.col(id_col)), s_of).cast("int")
    big = dfn.filter(F.col("_n") > cap).select(*cols, g_of.alias("_g"),
                                                s_of.alias("_s"))
    a_g = big.select(*cols, F.col("_g").alias("_c1"),
                     F.explode(F.sequence(F.col("_g"), F.col("_s") - 1))
                     .alias("_c2"), F.lit(1).alias("_side"))
    b_g = big.select(*cols,
                     F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_c1"),
                     F.col("_g").alias("_c2"), F.lit(2).alias("_side"))
    return normal.unionByName(a_g).unionByName(b_g)


def _skew_safe_bucket_pairs(df: DataFrame, bucket_col: str, id_col: str,
                            cap: int = _PAIR_BUCKET_CAP) -> DataFrame:
    """All intra-bucket candidate pairs — ``(a, b)`` struct columns of the
    input rows with ``a[id_col] < b[id_col]`` — with BOUNDED per-task work.

    The naive bucket self-equi-join puts a k-member bucket's k^2/2 pairs in
    one task; one mega-cluster of near-identical docs stalls the whole
    stage (the skew failure of LSH banding at scale). Hardening, the same
    salting discipline as ``politeness.admit``: rows are routed by
    :func:`_bucket_cells`. Side 0 (normal buckets) self-joins on the bucket
    key alone — exactly the naive plan, on the hash partitioning the census
    window already shuffled to; side 1 joins side 2 on (bucket, cell), and
    off-diagonal cells are normalized to id order after the join.

    Output is identical to the naive join (asserted in
    tests/test_pair_skew.py); only the task-level distribution changes.

    r6: the bucket key is EXCLUDED from the ``a``/``b`` row structs — no
    caller reads it back (it is the join key, not a payload), and at sf1.0
    the minhash band key is a 32-char md5 string that would otherwise ride
    both sides of all ~5.8M candidate-pair rows through the join and the
    downstream pair shuffle (~370 MB of dead weight; guide §2.3 "project
    before the exchange" — nested-field pruning does not reach into structs
    built mid-plan)."""
    row = F.struct(*[F.col(c) for c in df.columns if c != bucket_col])
    cells = _bucket_cells(df.select(bucket_col, row.alias("_r")),
                          bucket_col, f"_r.{id_col}", cap)
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")

    def side(k, name, *keys):
        return cells.filter(F.col("_side") == k).select(
            bucket_col, *keys, F.col("_r").alias(name))

    pairs_n = (side(0, "a").join(side(0, "b"), bucket_col)
               .filter(ida < idb).select("a", "b"))
    joined = (side(1, "a", "_c1", "_c2")
              .join(side(2, "b", "_c1", "_c2"), [bucket_col, "_c1", "_c2"])
              .filter(((F.col("_c1") != F.col("_c2")) & (ida != idb))
                      | ((F.col("_c1") == F.col("_c2")) & (ida < idb))))
    # off-diagonal cells see the pair in salt order, not id order — normalize
    pairs_g = joined.select(
        F.when(ida < idb, F.col("a")).otherwise(F.col("b")).alias("a"),
        F.when(ida < idb, F.col("b")).otherwise(F.col("a")).alias("b"))

    return pairs_n.unionByName(pairs_g)


@q("dedup_exact", """
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
       md5(lower(text)) AS fp
FROM documents GROUP BY fp ORDER BY keeper_id
""")
def dedup_exact(spark, sf):
    """Exact dedup by content hash (hash-groupBy). At 10^10 docs this is a
    single shuffle on a 128-bit digest — group keys are uniform so AQE's
    partition coalescing is enough; no skew handling needed."""
    # (r6b measured ~wash-to-negative for spread_scan here at the 10x
    # replica — one md5 per DOC is too little work per row to buy back the
    # exchange; contrast the per-SHINGLE md5 in _minhash_band_candidates.)
    return (_t(spark, sf, "documents")
            .groupBy(F.md5(F.lower(F.col("text"))).alias("fp"))
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count("*").alias("n_copies"))
            .select("keeper_id", "n_copies", "fp")
            .orderBy("keeper_id"))


# (A standalone exact n-gram-Jaccard query was retired in round 3: its
# adjacent-pair join was a stand-in for LSH-candidate verification, and
# dedup_minhash_verified now exercises the identical exact-Jaccard set
# algebra over REAL band candidates end-to-end — the production shape.)

# MinHash oracle: bigram shingles via list_transform (order-free, no window
# tricks), signature = 8 affine min-hashes, 4 bands of 2 rows each; candidate
# pairs share >= 1 band.
_MH_MINS_DUCK = ",\n         ".join(
    f"min(({a} * (h % {MH_P}) + {b}) % {MH_P}) AS mh{j}"
    for j, (a, b) in enumerate(MH_COEF))
_MH_BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]
_MH_BAND_DUCK = ", ".join(
    f"md5(CAST(mh{i} AS VARCHAR) || '_' || CAST(mh{j} AS VARCHAR)) AS band{k}"
    for k, (i, j) in enumerate(_MH_BANDS))

_MH_CTE_DUCK = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
), hs AS (
  SELECT doc_id, {DUCK_H60.format(c='shingle')} AS h FROM sh
), sig AS (
  SELECT doc_id, {_MH_MINS_DUCK}
  FROM hs GROUP BY doc_id
), bands AS (
  SELECT doc_id, {_MH_BAND_DUCK} FROM sig
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM (SELECT doc_id, unnest([band0, band1, band2, band3]) AS band FROM bands) a
  JOIN (SELECT doc_id, unnest([band0, band1, band2, band3]) AS band FROM bands) b
    ON a.band = b.band AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)"""

ORACLE_SQL["dedup_minhash"] = f"""
{_MH_CTE_DUCK}
SELECT doc_a, doc_b, n_shared_bands FROM pairs ORDER BY doc_a, doc_b
"""


def _minhash_band_candidates(spark, sf) -> DataFrame:
    """Shared candidate generator for the minhash family — everything up to
    (doc_a, doc_b, n_shared_bands), WITHOUT the presentation sort, so
    dedup_minhash_verified composes it under its joins without paying a
    global sort of the full candidate set (at sf1.0 the data's boilerplate
    clusters make that ~5.8M pair rows; Catalyst does not remove a
    subquery's orderBy for you here)."""
    # r6b: spread_scan BEFORE the shingle explode — the whole
    # shingle->md5->partial-min map stage otherwise runs in the scan stage's
    # one or two row-group-bound tasks (measured 3.35s -> 0.67s at the 10x
    # replica for this subtree alone; crawlspark/functions/spread.py)
    docs = (spread_scan(_t(spark, sf, "documents").select("doc_id", "text"),
                        "doc_id")
            .select("doc_id", F.split("text", " ").alias("l")))
    sh = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(l) - 1), i -> concat(l[i-1], ' ', l[i]))"
        )).alias("shingle"))
    # (r6 measured negative result: broadcast-joining a distinct-shingle
    # hash dictionary here — the trick that wins 1.6x in dedup_simhash —
    # REGRESSED this query 7.6s -> 15s at sf1.0. The dictionary subtree
    # re-runs the shingle explode as a second stage and every downstream
    # pair-join copy waits on its broadcast, which costs more than the
    # ~1.8s of md5 it saves; inline hashing keeps shingle->hash->partial-min
    # in one codegen'd map stage feeding the signature shuffle.)
    hs = sh.select("doc_id", hash64_col(F.col("shingle")).alias("h"))
    aggs = [F.min((F.lit(a) * (F.col("h") % MH_P) + F.lit(b)) % MH_P)
            .alias(f"mh{j}") for j, (a, b) in enumerate(MH_COEF)]
    sig = hs.groupBy("doc_id").agg(*aggs)
    band_cols = [
        F.md5(F.concat_ws("_", F.col(f"mh{i}").cast("string"),
                          F.col(f"mh{j}").cast("string"))).alias(f"band{k}")
        for k, (i, j) in enumerate(_MH_BANDS)]
    bands = sig.select("doc_id", *band_cols)
    melted = bands.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{k}") for k in range(4)])).alias("band"))
    # skew-hardened band self-join: a mega-cluster of near-identical docs
    # (one band bucket, k members, k^2 pairs) routes through the salted
    # two-phase pair generator instead of landing in one task
    pairs = _skew_safe_bucket_pairs(melted, "band", "doc_id")
    return (pairs
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared_bands")))


def dedup_minhash(spark, sf):
    """MinHash + LSH banding near-dup candidates: bigram shingles ->
    md5-based 60-bit hashes -> 8 affine min-hashes mod 2^31-1 -> 4 bands of 2
    -> band-bucket self-join. Scale shape: the only shuffles are the
    per-doc signature groupBy and the band-key join; band keys are uniform
    hashes so the join is skew-free, and all-pairs comparison is never
    materialized (SURVEY task brief: shingle->minhash->band->bucket-join)."""
    return _minhash_band_candidates(spark, sf).orderBy("doc_a", "doc_b")


QUERIES["dedup_minhash"] = dedup_minhash


_JACCARD_VERIFY_BP = 2500

#: Max dictionary size for the bitmask-Jaccard verify encoding (above this
#: the map literal and per-row mask width stop paying; fall back to
#: array_intersect). 4096 tokens -> 64 mask longs per doc.
_VOCAB_CAP = 4096

ORACLE_SQL["dedup_minhash_verified"] = f"""
{_MH_CTE_DUCK}
, toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
)
SELECT p.doc_a, p.doc_b, p.n_shared_bands,
       CAST(floor(len(list_intersect(a.ts, b.ts)) * 10000.0 /
            (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))) AS BIGINT)
       AS jaccard_bp
FROM pairs p
JOIN toks a ON a.doc_id = p.doc_a
JOIN toks b ON b.doc_id = p.doc_b
WHERE floor(len(list_intersect(a.ts, b.ts)) * 10000.0 /
      (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))))
      >= {_JACCARD_VERIFY_BP}
ORDER BY doc_a, doc_b
"""


def dedup_minhash_verified(spark, sf):
    """The COMPLETE near-dup pipeline as one composed plan: bigram shingles
    -> minhash signatures -> LSH band-bucket join (candidates, never
    all-pairs) -> exact token-set Jaccard verify of ONLY the candidates ->
    threshold filter. This is the production shape at 10^10 docs: the cheap
    probabilistic stage routes, the expensive exact stage touches only
    candidate pairs (two equi-joins on doc_id against the token-set table —
    skew-free keys, broadcast-eligible at small candidate counts)."""
    # r6: candidates composed WITHOUT dedup_minhash's presentation sort
    # (saves a global sort of ~5.8M pair rows at sf1.0 under the joins).
    # (Measured negative result, reverted: force-broadcasting the token-set
    # table into both verify joins — instead of these equi-joins — cost
    # +4.5s at sf1.0: two ~50MB array-payload broadcasts serialize the
    # pipeline and cost more than the pair-stream shuffles they remove on
    # the tmpfs-backed local shuffle path.)
    cands = _minhash_band_candidates(spark, sf)
    # r6b: spread_scan — the token-set build (split + array_distinct, then
    # the mask explode/groupBy below) otherwise runs single-task off the
    # one-row-group scan (crawlspark/functions/spread.py)
    toks = (spread_scan(_t(spark, sf, "documents").select("doc_id", "text"),
                        "doc_id")
            .select("doc_id",
                    F.array_distinct(F.split("text", " ")).alias("ts")))

    # r6: bitmask set algebra for the exact-Jaccard verify. The corpus draws
    # from a bounded dictionary, so each doc's distinct-token SET encodes as
    # ceil(V/64) longs (token -> bit position from a sorted-vocabulary map
    # literal); |intersection| and |union| become popcounts — EXACT integers,
    # identical to size(array_intersect(...)) by set semantics, feeding the
    # same double arithmetic for jaccard_bp. The verify joins then carry a
    # few longs per side instead of the full ~300B token arrays across the
    # ~5.8M candidate-pair stream at sf1.0, and the per-pair work is AND +
    # popcount instead of a hash-set intersect. Vocabulary is collected once
    # (dictionary-sized, like ann_ivf's centroid matrix); past _VOCAB_CAP we
    # fall back to the array_intersect plan, which has no vocab bound.
    # (r6 negative result, kept out: force-broadcasting the token-set table
    # into these joins cost +4.5s at sf1.0 — two array-payload broadcasts
    # serialize the pipeline for less than the shuffles they save locally.)
    # vocab collect is its own driver-side job, which cannot reuse the main
    # job's shuffle stages — build it from the raw scan, not the spread
    # `toks`, so the collect does not materialize the spread exchange twice
    vocab = sorted(r.tok for r in
                   _t(spark, sf, "documents")
                   .select(F.explode(F.split("text", " ")).alias("tok"))
                   .distinct().limit(_VOCAB_CAP + 1).collect())
    if len(vocab) <= _VOCAB_CAP:
        n_chunks = max(1, (len(vocab) + 63) // 64)
        vid_map = F.create_map(
            *[x for i, t in enumerate(vocab) for x in (F.lit(t), F.lit(i))])
        chunk_aggs = [
            F.bit_or(
                F.when((F.col("vid") / 64).cast("int") == w,
                       F.expr("shiftleft(1L, int(pmod(vid, 64)))"))
                .otherwise(F.lit(0).cast("long"))).alias(f"m{w}")
            for w in range(n_chunks)]
        masks = (toks.select("doc_id", F.explode("ts").alias("tok"))
                 .withColumn("vid", F.element_at(vid_map, F.col("tok")))
                 .groupBy("doc_id").agg(*chunk_aggs))
        a = masks.select(F.col("doc_id").alias("doc_a"),
                         *[F.col(f"m{w}").alias(f"a{w}")
                           for w in range(n_chunks)])
        b = masks.select(F.col("doc_id").alias("doc_b"),
                         *[F.col(f"m{w}").alias(f"b{w}")
                           for w in range(n_chunks)])
        # r6b: the mask table is doc_id + n_chunks longs per doc — with a
        # bounded dictionary it is broadcast-sized far beyond these SFs
        # (estimate n_docs * 8*(1+n_chunks) bytes from the parquet footer;
        # driver-side metadata read, no job). Broadcasting both sides turns
        # the two verify joins — which otherwise SORT-MERGE the full ~5.5M
        # candidate-pair stream twice — into in-stage hash probes. Past the
        # threshold the SMJ plan stays: at 10^10 docs no per-doc table
        # broadcasts. (Distinct from the r6 negative result above: that was
        # the ~50MB ARRAY-payload token-set table, whose broadcast cost
        # more than the shuffles it removed; the mask side is ~16B/doc.)
        # A table with no local single-file footer (a directory table, a
        # remote path) counts as too big: without the forced broadcast the
        # plan may be slower, never wrong.
        import pyarrow.parquet as _pq
        try:
            n_docs = _pq.ParquetFile(
                f"{sf}/documents.parquet").metadata.num_rows
        except OSError:
            n_docs = None
        if n_docs is not None and n_docs * 8 * (1 + n_chunks) < (32 << 20):
            a, b = F.broadcast(a), F.broadcast(b)
        inter = sum(F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                    for w in range(n_chunks))
        size_a = sum(F.bit_count(F.col(f"a{w}")) for w in range(n_chunks))
        size_b = sum(F.bit_count(F.col(f"b{w}")) for w in range(n_chunks))
    else:  # unbounded vocabulary: verify on the raw token arrays
        a = toks.select(F.col("doc_id").alias("doc_a"),
                        F.col("ts").alias("ts_a"))
        b = toks.select(F.col("doc_id").alias("doc_b"),
                        F.col("ts").alias("ts_b"))
        inter = F.size(F.array_intersect(F.col("ts_a"), F.col("ts_b")))
        size_a, size_b = F.size("ts_a"), F.size("ts_b")
    union = size_a + size_b - inter
    jac = F.floor(inter * 10000.0 / union).cast("long")
    # (r6b probed, wash: an exchange barrier between the verify filter and
    # this sort — the sampler's re-run of the final agg + broadcast probes
    # costs about what the extra 5.5M-row exchange does; contrast
    # dedup_embedding, where the re-run was a 12.5M-cosine Python stage.)
    return (cands.join(a, "doc_a").join(b, "doc_b")
            .withColumn("jaccard_bp", jac)
            .filter(F.col("jaccard_bp") >= _JACCARD_VERIFY_BP)
            .select("doc_a", "doc_b", "n_shared_bands", "jaccard_bp")
            .orderBy("doc_a", "doc_b"))


QUERIES["dedup_minhash_verified"] = dedup_minhash_verified


SIMHASH_BITS = 32

_SIM_VOTES_DUCK = ",\n         ".join(
    f"sum(CASE WHEN (h32 >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}"
    for bit in range(SIMHASH_BITS))
_SIM_PACK_DUCK = " + ".join(
    f"(CASE WHEN v{bit} > 0 THEN {1 << bit} ELSE 0 END)"
    for bit in range(SIMHASH_BITS))

ORACLE_SQL["dedup_simhash"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hs AS (
  SELECT doc_id, {DUCK_H60.format(c='tok')} % 4294967296 AS h32 FROM toks
), votes AS (
  SELECT doc_id, {_SIM_VOTES_DUCK} FROM hs GROUP BY doc_id
)
SELECT doc_id, CAST({_SIM_PACK_DUCK} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id
"""


def dedup_simhash(spark, sf):
    """SimHash document fingerprints: per-token md5-based 32-bit hash, signed
    bit votes summed per doc, majority sign packs the fingerprint. All
    JVM-side integer exprs (token explode -> one groupBy with 32 conditional
    sums); near-dups at scale = fingerprints within small Hamming distance,
    found by pigeonhole banding exactly like MinHash."""
    # r6b: spread_scan before the token explode — one shared doc_id-hash
    # exchange feeds BOTH the distinct-vocabulary subtree and the main
    # explode (AQE stage reuse), instead of both running single-task off
    # the one-row-group scan (crawlspark/functions/spread.py)
    toks = (spread_scan(_t(spark, sf, "documents").select("doc_id", "text"),
                        "doc_id")
            .select("doc_id", F.explode(F.split("text", " ")).alias("tok")))
    # r6: hash the distinct token vocabulary once, broadcast-join it back
    # (same rationale and equivalence argument as the shingle dictionary in
    # _minhash_band_candidates; measured 1.6x at sf1.0 where 2.7M token
    # instances draw from ~31 distinct tokens)
    tok_dict = (toks.select("tok").distinct()
                .select("tok",
                        (hash64_col(F.col("tok")) % 4294967296).alias("h32")))
    hs = (toks.join(F.broadcast(tok_dict), "tok")
          .select("doc_id", "h32"))
    votes = [F.sum(F.when(F.expr(f"(h32 >> {bit}) & 1 = 1"), 1).otherwise(-1))
             .alias(f"v{bit}") for bit in range(SIMHASH_BITS)]
    v = hs.groupBy("doc_id").agg(*votes)
    pack = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(F.lit(0))
        pack = term if pack is None else pack + term
    return (v.select("doc_id", pack.cast("long").alias("simhash"))
            .orderBy("doc_id"))


QUERIES["dedup_simhash"] = dedup_simhash


#: Embedding dimensionality — a data contract of the embeddings table (every
#: row is exactly 64 floats at every scale factor, driver-generated included;
#: asserted in tests/test_textops_perf.py). Fixing it lets the cosine
#: arithmetic below unroll into plain codegen'd expressions.
_EMB_DIM = 64


def _np_norms(m):
    """Row L2 norms of a float64 ``(n, _EMB_DIM)`` matrix, accumulated one
    dimension at a time in ascending order: the JVM norm fold's exact float
    op sequence (``acc = 0.0; acc += v[i]*v[i]``), so bit-identical to it."""
    acc = np.zeros(len(m))
    for d in range(_EMB_DIM):
        acc += m[:, d] * m[:, d]
    return np.sqrt(acc)


def _np_dots(a, bT):
    """All dot products of the rows of float64 ``a`` (n, _EMB_DIM) with the
    columns of ``bT`` (_EMB_DIM, m), accumulated like :func:`_np_norms` —
    bit-identical to the JVM dot fold for every pair. sqrt and division are
    IEEE-correctly-rounded in both runtimes, so whole cosines match too."""
    acc = np.zeros((len(a), bT.shape[1]))
    for d in range(_EMB_DIM):
        acc += a[:, d][:, None] * bT[d][None, :]
    return acc


def _sign_bucket(n_bits: int):
    """Sign-LSH bucket of the ``embedding`` column: bit i is set iff
    ``embedding[i] > 0``, for the first ``n_bits`` dimensions."""
    return reduce(lambda x, y: x + y, [
        F.when(F.element_at("embedding", i + 1) > 0,
               F.lit(1 << i)).otherwise(F.lit(0)) for i in range(n_bits)])


def _sign_bucket_duck(col: str, n_bits: int) -> str:
    """DuckDB twin of :func:`_sign_bucket` over list column ``col``."""
    return " + ".join(f"CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
                      for i in range(n_bits))


_EMB_BITS = 4
_EMB_THRESHOLD = 0.30

_EMB_BUCKET_DUCK = _sign_bucket_duck("emb", _EMB_BITS)

ORACLE_SQL["dedup_embedding"] = f"""
WITH x AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         ({_EMB_BUCKET_DUCK}) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
FROM x a JOIN x b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= {_EMB_THRESHOLD}
ORDER BY vec_a, vec_b
"""


#: dedup_embedding's own salt-cell cap (vs the shared _PAIR_BUCKET_CAP):
#: with only 2^_EMB_BITS = 16 sign buckets, a cap of 4096 leaves the Arrow
#: scorer just 16 groups — half the cores idle. 512 splits every >512
#: bucket into triangle cells (~100 groups at 20k vectors), keeping
#: per-cell pair work ~cap^2 bounded AND the stage wide. Output is
#: cap-invariant (asserted by test_pair_skew.py's cross-cap identity test);
#: measured 3.7s -> 2.7s at the 10x replica.
_EMB_CELL_CAP = 512


def dedup_embedding(spark, sf, cap: int = _EMB_CELL_CAP):
    """Embedding-cosine near-dup pairs above a threshold, candidate-routed
    through a sign-LSH bucket (the ann_lsh hyperplane family, 4 bits -> 16
    buckets) over the FULL embeddings table: pairs are only compared when
    they land in the same bucket, so the join is a bucket EQUI-join
    (shuffle-hash/SMJ, never BroadcastNestedLoop), and each task only does
    all-pairs within its own bucket. Near-dup vectors have near-identical
    sign patterns, so recall loss is the standard LSH trade — at 10^10 scale
    you'd OR several bucket tables exactly like MinHash bands. At sf0.01 the
    oracle certifies ~135 verified pairs routed through ~7.7k in-bucket
    candidates (vs C(500,2)=124k all-pairs). tests/test_plan_shape.py asserts
    no nested-loop join in this plan.

    r6: the in-bucket scorer moved from a per-pair JVM HOF cosine over the
    exploded pair relation (~12.5M interpreted folds at sf1.0, ~24s) into an
    Arrow-batched ``applyInPandas`` over the cells of :func:`_bucket_cells`
    (the routing ``_skew_safe_bucket_pairs`` joins): a normal bucket scores
    as one group, a bucket over the cap as its salted triangle cells (each
    unordered pair lands in exactly one cell), and each cell's pairwise
    cosines run through ``_np_norms``/``_np_dots`` — the JVM fold's exact
    dimension-ascending accumulation order (bit-identical — the same
    kernel, and the same oracle gate, as ann_ivf's assignment). Each
    vector ships once per cell instead of once per PAIR, so Arrow traffic
    is O(rows), not O(pairs)."""
    raw = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    cells = _bucket_cells(raw.withColumn("bucket", _sign_bucket(_EMB_BITS)),
                          "bucket", "vec_id", cap)

    def _score_cell(pdf):
        side = pdf["_side"].to_numpy()
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = _np_norms(v)
        if side[0] == 0:                # whole normal bucket: A = B = rows
            ai = np.arange(len(v))
            bi = ai
            diagonal = True
        else:
            ai = np.where(side == 1)[0]
            bi = np.where(side == 2)[0]
            diagonal = bool(pdf["_c1"].iat[0] == pdf["_c2"].iat[0])
        out_a, out_b, out_c = [], [], []
        bT, bn, bids = v[bi].T.copy(), nrm[bi], ids[bi]
        for i0 in range(0, len(ai), 512):   # bound the sims matrix ~2MB
            idx = ai[i0:i0 + 512]
            if not len(idx) or not len(bi):
                break
            sims = _np_dots(v[idx], bT) / (nrm[idx][:, None] * bn[None, :])
            ia, ib = ids[idx][:, None], bids[None, :]
            mask = (sims >= _EMB_THRESHOLD) & \
                   ((ia < ib) if diagonal else (ia != ib))
            r, c = np.nonzero(mask)
            if len(r):
                xa, xb = ids[idx][r], bids[c]
                out_a.append(np.minimum(xa, xb))
                out_b.append(np.maximum(xa, xb))
                out_c.append(sims[r, c])
        if not out_a:
            return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                 "vec_b": pd.Series(dtype="int64"),
                                 "_cos": pd.Series(dtype="float64")})
        return pd.DataFrame({"vec_a": np.concatenate(out_a),
                             "vec_b": np.concatenate(out_b),
                             "_cos": np.concatenate(out_c)})

    scored = (cells.groupBy("bucket", "_c1", "_c2")
              .applyInPandas(_score_cell,
                             schema="vec_a long, vec_b long, _cos double"))
    # r6b: exchange barrier between the Arrow scorer and the presentation
    # sort — the orderBy's range sampler executes its child once to pick
    # bounds, and without a materialized exchange in between that re-ran
    # the whole 12.5M-cosine Python stage (the known double-eval pattern;
    # see quality_score). The surviving pairs are ~1% of the in-bucket
    # candidates, so this exchange is narrow and cheap.
    spread = scored.repartition(
        spark.sparkContext.defaultParallelism, "vec_a", "vec_b")
    return (spread
            .select("vec_a", "vec_b", F.round("_cos", 4).alias("cos_sim"))
            .orderBy("vec_a", "vec_b"))


QUERIES["dedup_embedding"] = dedup_embedding


# =========================================================================
# similarity search
# =========================================================================

# r6 measured dead end, recorded so it is not retried: unrolling the cosine
# into 64 element_at terms (to escape the interpreted HOF lambda path) DOES
# whole-stage-codegen, but the one giant generated method runs ~2.6x SLOWER
# than the interpreted HOF fold (1.57s vs 0.60s for 62k pairs at sf0.1;
# -XX:-DontCompileHugeMethods does not help), because a single expression
# cannot be method-split and the resulting method is beyond what the JIT
# optimizes. The scale fix for the N x C assignment is the Arrow route in
# ann_ivf below (guide §4.2); the per-pair JVM folds stay HOF-shaped.


def _hof_dot(a, b):
    """Sequential dot-product fold (the oracle-matching float op order:
    acc = 0.0, then + a[i]*b[i] in ascending i)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _hof_norm(a):
    """``sqrt(aggregate(a, 0.0, (acc,x)->acc+x*x))`` — same fold order as
    the inline form it replaces, so hoisting it to one column per row (out
    of every per-pair cosine) changes nothing numerically."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


@q("ann_bruteforce", """
WITH q AS (SELECT embedding::DOUBLE[] AS qemb FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qemb), 4) AS cos_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qemb) DESC, e.vec_id ASC
LIMIT 10
""")
def ann_bruteforce(spark, sf):
    """Brute-force cosine top-k for one query vector — the exact baseline an
    ANN index is measured against. Plan shape: broadcast the query vector,
    one narrow pass + TakeOrderedAndProject; at 100 TB this is the
    within-bucket scorer behind ann_lsh's candidate routing."""
    e = _t(spark, sf, "embeddings") \
        .select("vec_id", "label",
                F.col("embedding").cast("array<double>").alias("emb"))
    # norms hoisted out of the per-pair expression (computed once per row /
    # once for the query vector instead of inside every cosine; identical
    # value — same deterministic expression over the same array)
    qv = (e.filter(F.col("vec_id") == 0)
          .select(F.col("emb").alias("qemb"))
          .withColumn("_qn", _hof_norm(F.col("qemb"))))
    # (r6b measured negative result: spread_scan before the fold/top-k pass
    # lost 0.8s -> 3.0s at the 10x replica — 20k rows of 64 doubles cost
    # more to exchange than their folds cost to run on one core.)
    joined = (e.filter(F.col("vec_id") != 0)
              .withColumn("_n", _hof_norm(F.col("emb")))
              .crossJoin(F.broadcast(qv)))
    cos = (_hof_dot(F.col("emb"), F.col("qemb"))
           / (F.col("_n") * F.col("_qn")))
    return (joined.select("vec_id", "label", cos.alias("_cos"))
            .orderBy(F.desc("_cos"), F.asc("vec_id")).limit(10)
            .select("vec_id", "label", F.round("_cos", 4).alias("cos_sim")))


_LSH_BITS = 6


@q("ann_lsh", f"""
SELECT ({_sign_bucket_duck("embedding", _LSH_BITS)}) AS bucket,
       count(*) AS n, min(vec_id) AS min_vec
FROM embeddings GROUP BY bucket ORDER BY bucket
""")
def ann_lsh(spark, sf):
    """Sign-LSH bucketing (random-hyperplane family with axis-aligned planes
    for determinism): 6 sign bits -> 64 buckets. This is the scale path for
    similarity search: candidates are routed to one bucket's partition and
    scored there (ann_bruteforce within the bucket) — a co-partitioned
    equi-join instead of an all-pairs cross product."""
    return (_t(spark, sf, "embeddings")
            .groupBy(_sign_bucket(_LSH_BITS).alias("bucket"))
            .agg(F.count("*").alias("n"), F.min("vec_id").alias("min_vec"))
            .orderBy("bucket"))


@q("ann_ivf", """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
  WHERE vec_id % 64 = 1
), assign AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid)
           AS rnk
  FROM embeddings e CROSS JOIN cents c
), lists AS (
  SELECT vec_id, label, embedding, cid FROM assign WHERE rnk = 1
), probe AS (
  -- the query's top-4 centroids by similarity (nprobe=4, the defensible
  -- default operating point: recall@10 ~0.6 vs 0.2 at nprobe=1 for ~6% of
  -- the data scanned — IVF_RECALL.json)
  SELECT c.cid
  FROM cents c
  ORDER BY list_cosine_similarity(
    (SELECT embedding FROM embeddings WHERE vec_id = 0), c.cemb) DESC, c.cid
  LIMIT 4
)
SELECT l.vec_id, l.label,
       round(list_cosine_similarity(
         l.embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4)
         AS cos_sim
FROM lists l JOIN probe p ON l.cid = p.cid
WHERE l.vec_id != 0
ORDER BY cos_sim DESC, l.vec_id ASC LIMIT 10
""")
def ann_ivf(spark, sf, nprobe: int = 4):
    """IVF approximate nearest neighbor: a deterministic coarse quantizer
    (every 64th vector is a centroid) assigns vectors to inverted lists; the
    query probes its ``nprobe`` nearest lists and brute-force-scores there.
    Plan shape at 100 TB: centroids broadcast, assignment is one narrow pass
    whose per-vector argmax is a ``max_by`` AGGREGATE (map-side partial
    combine collapses the C candidate rows per vector before any shuffle —
    r3 swap from a row_number window, which globally shuffle-sorted all
    C x N assignment rows), lists are the partitioning key — the probe reads
    ~nprobe/C of the data where brute force reads all of it (ann_bruteforce
    is the exact baseline). ``nprobe`` is the operator's real API: the
    recall/cost curve (measured in BENCH.md via tools/bench_ivf_recall.py —
    recall@10 is monotone in nprobe, asserted in tests/test_ivf_recall.py).
    The registered driver query and its oracle run nprobe=4, the defensible
    default operating point on the measured curve (IVF_RECALL.json's
    nprobe=4 row: recall@10 0.5 — 2.5x nprobe=1's 0.2 — for ~12.5% of the
    data scanned); nprobe=1 — the prior contract — is the degenerate
    probe-own-list corner, kept reachable via the parameter (VERDICT
    r4 #7)."""
    raw = _t(spark, sf, "embeddings").select("vec_id", "label", "embedding")

    # --- centroid matrix. These are exactly the N/64 rows the r5 plan fed
    # through a BroadcastExchange (a broadcast IS a driver collect + ship,
    # guide §3.1); collected explicitly so the assignment stage below can
    # evaluate all C cosines per vector in vectorized numpy instead of
    # materializing the N x C crossJoin. Size = C x 64 floats (~80 KB at
    # sf1.0) — bounded by the same memory the broadcast already used.
    cent_rows = sorted(
        raw.filter(F.col("vec_id") % 64 == 1)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id)
    c_ids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    c_mat = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast(
        (c_ids, c_mat.T.copy(), _np_norms(c_mat)))

    def _assign(batches):
        # Arrow-batched inverted-list assignment (guide §4.2/§8: hand whole
        # batches to vectorized native code; the r5 JVM shape — crossJoin to
        # C rows per vector + interpreted HOF cosines + max_by — cost 89s at
        # sf1.0 for the same answer). BIT-IDENTICAL to the JVM fold
        # (_np_dots/_np_norms), and np.argmax's first-maximum tiebreak ==
        # the oracle's (sim DESC, cid ASC) row_number because centroid
        # columns are sorted by cid.
        ids, cmT, cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = _np_dots(v, cmT) / (_np_norms(v)[:, None] * cn[None, :])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "label": pdf["label"].to_numpy(),
                "embedding": pdf["embedding"],
                "cid": ids[np.argmax(sims, axis=1)],
            })

    # single-file scan -> spread rows so every core runs assignment batches
    # (row-independent computation; results unaffected by placement)
    lists = (raw.repartition(spark.sparkContext.defaultParallelism)
             .mapInPandas(
                 _assign,
                 schema="vec_id long, label int, embedding array<float>, "
                        "cid long"))

    # probe + final scoring stay in the JVM with the oracle-matching HOF
    # folds — past the inverted-list routing only ~N*nprobe/C rows remain,
    # so the interpreted fold cost is negligible there.
    e = (_t(spark, sf, "embeddings")
         .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
         .withColumn("nrm", _hof_norm(F.col("emb"))))
    cents = (e.filter(F.col("vec_id") % 64 == 1)
             .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"),
                     F.col("nrm").alias("cnrm")))
    if nprobe <= 1:
        # degenerate probe: the query's own list (the oracle's contract)
        probed = (lists.filter(F.col("vec_id") == 0)
                  .select(F.col("cid").alias("qcid"),
                          F.col("embedding").cast("array<double>")
                          .alias("qemb"))
                  .withColumn("qnrm", _hof_norm(F.col("qemb"))))
    else:
        # the query's top-nprobe centroids by similarity — C rows against
        # broadcast centroids, a driver-side-tiny TakeOrdered
        q = e.filter(F.col("vec_id") == 0).select(
            F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm"))
        probed = (q.crossJoin(F.broadcast(cents))
                  .withColumn("_sim", _hof_dot(F.col("qemb"), F.col("cemb"))
                              / (F.col("qnrm") * F.col("cnrm")))
                  .orderBy(F.desc("_sim"), F.asc("cid")).limit(nprobe)
                  .select(F.col("cid").alias("qcid"), "qemb", "qnrm"))
    scored = (lists.filter(F.col("vec_id") != 0)
              .join(F.broadcast(probed), F.col("cid") == F.col("qcid"))
              .withColumn("emb", F.col("embedding").cast("array<double>"))
              .withColumn("nrm", _hof_norm(F.col("emb"))))
    return (scored
            .select("vec_id", "label",
                    F.round(_hof_dot(F.col("emb"), F.col("qemb"))
                            / (F.col("nrm") * F.col("qnrm")), 4)
                    .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10))


# =========================================================================
# text analysis
# =========================================================================

# BPE-ish tokenization: a regex lexer pass (letter runs / digit runs /
# single other non-space chars — the GPT-2 pre-tokenizer shape) plus a
# greedy fixed-width subword chunking (ceil(len/4) units per word — the
# budget estimate BPE vocabularies converge near for English). Both are
# pure JVM expressions (regexp_extract_all / higher-order aggregate), no
# Python in the loop, so the pass stays in whole-stage codegen over 10^10
# docs with only the final presentation sort as a shuffle.
_TOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@q("quality_score", f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, n_chars,
         regexp_extract_all(text, '{_TOK_RE}') AS rx
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(rx) AS BIGINT) AS n_rx_tokens,
       -- CAST the sum itself: DuckDB's list_sum over BIGINT returns HUGEINT,
       -- which surfaces as decimal128(38,0) over Arrow and hash-mismatches
       -- Spark's int64 even when every value is equal (r4 red-row root cause)
       CAST(list_sum(list_transform(toks, w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
         AS BIGINT) AS n_bpe_units,
       n_chars,
       CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
       CAST(floor(len(list_filter(toks, x -> x IN ('the', 'a'))) * 10000.0
                  / len(toks)) AS BIGINT) AS stop_bp,
       CAST(floor(n_chars * 100.0 / len(toks)) AS BIGINT) AS avg_wordlen_x100
FROM t ORDER BY doc_id
""")
def quality_score(spark, sf):
    """Document quality heuristics + token counting in one projection
    (task brief: whitespace + a BPE-ish regex): whitespace token count,
    regex-lexer token count, greedy 4-char subword units, char count,
    stopword ratio, mean word length — the standard pre-training quality
    gates and corpus-size estimators, all integer-exact so the oracle
    compare is bitwise. All JVM expressions; no Python in the loop."""
    # r6: sort FIRST on the raw scan columns, project after. A global
    # orderBy range-partitions its child, and the range sampler EXECUTES the
    # child once before the real pass — with the projection below the sort,
    # every regex/HOF ran twice (measured 3.3s -> 0.8s at sf1.0 from this
    # reordering alone; plan shows Project above Sort above the scan).
    d = (_t(spark, sf, "documents")
         .select("doc_id", "text", "n_chars")
         .orderBy("doc_id")
         .select("doc_id", F.split("text", " ").alias("toks"), "n_chars",
                 # regexp_count, not size(regexp_extract_all): the count is
                 # all we need, so never materialize the token array
                 # (measured 2.6x faster cold at sf0.1, identical values)
                 F.regexp_count(F.col("text"), F.lit(_TOK_RE)).cast("long")
                 .alias("n_rx")))
    # .cast("long") on every size() output: DuckDB len() is BIGINT, Spark
    # size() is int32 — keep both engines int64 so the driver's value hash
    # never sees a width difference (r4's one red row was exactly this class)
    n_stop = F.size(F.filter("toks", lambda x: x.isin("the", "a"))).cast("long")
    n_tok = F.size("toks").cast("long")
    bpe = F.aggregate(
        F.transform("toks", lambda w: F.ceil(F.length(w) / 4.0).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (d.select(
        "doc_id", n_tok.alias("n_tokens"),
        F.col("n_rx").alias("n_rx_tokens"),
        bpe.alias("n_bpe_units"),
        "n_chars", n_stop.alias("n_stop"),
        F.floor(n_stop * 10000.0 / n_tok).cast("long").alias("stop_bp"),
        F.floor(F.col("n_chars") * 100.0 / n_tok).cast("long")
        .alias("avg_wordlen_x100")))


@q("lang_id", """
WITH p AS (
  SELECT doc_id, lang,
         CASE WHEN text LIKE '%the %' OR text LIKE '% the%' THEN 'en'
              ELSE 'other' END AS pred
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
FROM p GROUP BY lang ORDER BY lang
""")
def lang_id(spark, sf):
    """Language-ID heuristic (stopword-presence n-gram rule) evaluated
    against the labeled lang column — the shape of a rule-based LID pass over
    a crawl corpus (real models slot into the same projection)."""
    d = _t(spark, sf, "documents")
    pred = (F.when(F.col("text").like("%the %")
                   | F.col("text").like("% the%"), "en")
            .otherwise("other"))
    return (d.select("lang", pred.alias("pred"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("pred") == "en", 1).otherwise(0))
                 .alias("n_pred_en"))
            .orderBy("lang"))


@q("doc_fingerprint", """
SELECT doc_id, md5(lower(text)) AS fp,
       CAST(('0x' || substr(md5(lower(text)), 1, 15)) AS BIGINT) AS fp60
FROM documents ORDER BY doc_id LIMIT 300
""")
def doc_fingerprint(spark, sf):
    """Content fingerprinting: md5 digest + 60-bit integer prefix (the same
    hash64 discipline the crawl frontier uses for url_hash)."""
    d = _t(spark, sf, "documents")
    return (d.select(
        "doc_id", F.md5(F.lower("text")).alias("fp"),
        hash64_col(F.lower("text")).alias("fp60"))
        .orderBy("doc_id").limit(300))


# =========================================================================
# multimodal plumbing (binary payload columns)
# =========================================================================
#
# The fixture is a staged parquet file (crawlspark.datagen.ensure_image_fixture)
# carrying the input_hint image schema PLUS expected decode-derived columns
# (mean_lum_x100, mean_lum2_x100) precomputed by the generator. The Spark
# queries decode the binary payload independently inside mapInPandas and emit
# MEASURED values; the DuckDB oracle reads the STORED expected values from the
# same parquet — so a hash match proves the distributed decode path, not a
# tautology.

from .datagen import (AUDIO_FIXTURE_PATH, IMAGE_FIXTURE_PATH,  # noqa: E402
                      VIDEO_FIXTURE_PATH)

ORACLE_SQL["multimodal_pipeline"] = f"""
SELECT image_id, fmt, w, h,
       CAST(octet_length(bytes) AS BIGINT) AS n_bytes,
       mean_lum_x100, TRUE AS phash_ok,
       CAST(w // 2 AS INT) AS w2, CAST(h // 2 AS INT) AS h2,
       CAST((w // 2) * (h // 2) * 3 AS BIGINT) AS n_bytes_out,
       mean_lum2_x100,
       hist0, hist1, hist2, hist3
FROM read_parquet('{IMAGE_FIXTURE_PATH}') ORDER BY image_id
"""


def _image_table(spark):
    """Distributed read of the staged fixture, projected to the input_hint
    columns only (the expected columns never reach the UDFs)."""
    from . import datagen

    path = datagen.ensure_image_fixture()
    return spark.read.parquet(path).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash")


# 8 bands x 8 bits over the 64-bit phash: pigeonhole guarantees any pair
# with hamming <= 7 matches exactly in at least one band, so recall at the
# verify threshold below is EXACT (the oracle is an all-pairs scan).
_PHASH_BANDS = 8
_PHASH_THRESHOLD = 5

ORACLE_SQL["dedup_phash"] = f"""
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM read_parquet('{IMAGE_FIXTURE_PATH}') a
JOIN read_parquet('{IMAGE_FIXTURE_PATH}') b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_THRESHOLD}
ORDER BY id_a, id_b
"""


def dedup_phash(spark, sf):
    """Perceptual-hash near-duplicate image pairs (hamming(phash) <=
    {threshold}) — the image-payload twin of dedup_minhash, over the
    input_hint's own ``phash:int64`` column (V5 recomputes it from bytes;
    this operator USES it, so no decode in the plan at all).

    Banding, not all-pairs: the 64-bit phash splits into 8 disjoint 8-bit
    bands; two images are candidates iff some band is byte-identical (an
    equi-join on the band key — pigeonhole-exact recall for hamming <= 7,
    so every true pair at the <= 5 verify threshold is found and the
    all-pairs DuckDB oracle can certify value-exactness). At 10^10 images
    the plan is one explode (x8) + one skew-hardened band self-join +
    bit_count verify on candidates only; a crawl-scale boilerplate cluster
    (the same thumbnail re-hosted 10^5 times -> one band bucket, 10^10
    pairs) routes through the salted triangle join like every other LSH
    family here."""
    img = _image_table(spark).select("image_id", "phash")
    bands = [
        (F.shiftrightunsigned(F.col("phash"), 8 * b)
         .bitwiseAND(F.lit(255)) + F.lit(b * 256)).cast("int")
        for b in range(_PHASH_BANDS)]  # +b*256: disjoint keyspace per band
    melted = img.select(
        "image_id", "phash", F.explode(F.array(*bands)).alias("band"))
    pairs = _skew_safe_bucket_pairs(melted, "band", "image_id")
    ham = F.bit_count(
        F.col("a.phash").bitwiseXOR(F.col("b.phash"))).cast("int")
    return (pairs
            .select(F.col("a.image_id").alias("id_a"),
                    F.col("b.image_id").alias("id_b"),
                    ham.alias("hamming"))
            # verify BEFORE the distinct: bit_count is free per candidate
            # row, and dropping hamming>threshold first keeps the far more
            # numerous false candidates out of the dedup shuffle entirely
            .filter(F.col("hamming") <= _PHASH_THRESHOLD)
            # a close pair matches in MANY bands; one row per pair
            .dropDuplicates(["id_a", "id_b"])
            .orderBy("id_a", "id_b"))


QUERIES["dedup_phash"] = dedup_phash


def multimodal_pipeline(spark, sf):
    """The full multimodal image stage as ONE mapInPandas pass (merged from
    the round-2 meta/resize/histogram trio — same fixture scan, one decode
    per payload now serves all three outputs):

      * metadata + validation: dims, payload size, measured mean luminance,
        phash recompute vs the stored phash (the crawl invariant, V5);
      * resize: half-resolution area-mean downsample, re-encoded size +
        resized luminance — the thumbnail/preprocess stage;
      * feature-extract: 4-bin luminance histogram — the shape of any
        per-image featurizer (a CNN embedding drops into the same UDF).

    Decode is inherently per-payload (variable dims/fmt), so the decode loop
    is per-row, but it is Arrow-batched, fully parallel across partitions,
    and decodes each payload exactly ONCE for all outputs. A real jpeg/webp
    decoder slots into the same signature. The driver oracle compares every
    measured column against generator-staged expected values in the same
    parquet — non-tautological: Spark recomputes from bytes, DuckDB reads
    stored expecteds."""
    img = _image_table(spark)

    def _pipe(batches):
        from . import codecs
        from .datagen import _lum_hist4, _mean_lum_x100

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                dec = codecs.decode_image(r.bytes, r.fmt, int(r.w), int(r.h))
                h2, w2 = int(r.h) // 2, int(r.w) // 2
                small = dec.reshape(h2, 2, w2, 2, 3).mean(axis=(1, 3)) \
                           .astype("uint8")
                buf = codecs.encode_image(small, "raw")
                hist = _lum_hist4(dec)
                rows.append({
                    "image_id": r.image_id, "fmt": r.fmt,
                    "w": int(r.w), "h": int(r.h),
                    "n_bytes": len(r.bytes),
                    "mean_lum_x100": _mean_lum_x100(dec),
                    "phash_ok": codecs.phash64(dec) == int(r.phash),
                    "w2": w2, "h2": h2,
                    "n_bytes_out": len(buf),
                    "mean_lum2_x100": _mean_lum_x100(small),
                    "hist0": hist[0], "hist1": hist[1],
                    "hist2": hist[2], "hist3": hist[3],
                })
            yield pd.DataFrame(rows)

    schema = ("image_id string, fmt string, w int, h int, n_bytes long, "
              "mean_lum_x100 long, phash_ok boolean, w2 int, h2 int, "
              "n_bytes_out long, mean_lum2_x100 long, "
              "hist0 long, hist1 long, hist2 long, hist3 long")
    # The fixture is ONE small parquet file -> one scan partition -> every
    # decode ran serially in a single Python worker (r5: 1.4s at 1/32 cores
    # busy). Range-partition by image_id BEFORE the decode stage and sort
    # within partitions after: all workers decode concurrently, and the
    # total order comes from range-ordered partitions + the local sort —
    # without a global Sort above the UDF, whose range sampler would
    # EXECUTE the decode stage a second time just to pick bounds (the
    # repartitionByRange sampler reads only the scan).
    img = img.repartitionByRange(spark.sparkContext.defaultParallelism,
                                 "image_id")
    return (img.mapInPandas(_pipe, schema=schema)
            .sortWithinPartitions("image_id"))


QUERIES["multimodal_pipeline"] = multimodal_pipeline


ORACLE_SQL["audio_features"] = f"""
SELECT audio_id, CAST(octet_length(pcm) / 2 AS BIGINT) AS n_samples_dec,
       duration_ms, rms_x10, peak
FROM read_parquet('{AUDIO_FIXTURE_PATH}') ORDER BY audio_id
"""


def audio_features(spark, sf):
    """Audio feature-extract over an opaque int16-PCM binary column:
    mapInPandas decodes per Arrow batch (np.frombuffer — zero-copy) and emits
    duration / RMS energy / peak, the standard audio quality-gate features.
    A real resampler/VAD slots into the same UDF signature. Oracle =
    generator-staged expected values recomputed here from the bytes."""
    from . import datagen

    aud = (spark.read.parquet(datagen.ensure_audio_fixture())
           .select("audio_id", "pcm", "sample_rate", "n_samples"))

    def _feats(batches):
        # Deliberately per-row: each buffer (4k-24k samples) is ALREADY a
        # single vectorized numpy reduction that stays cache-resident; the
        # Python loop costs microseconds against it. The "improvement" of
        # stacking equal-length buffers into one 2-D array and reducing
        # along axis=1 was measured 3x slower at 10k rows on an idle
        # box and 30-40x slower under concurrent memory load
        # (tools/bench_multimodal.py): it converts
        # cache-hit row passes into DRAM-streaming passes over 100+ MB
        # arrays. Batch-stacking only pays when rows are tiny enough that
        # interpreter overhead dominates the numpy work.
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                x = np.frombuffer(r.pcm, dtype="<i2").astype(np.float64)
                rows.append({
                    "audio_id": r.audio_id,
                    "n_samples_dec": len(x),
                    "duration_ms": len(x) * 1000 // int(r.sample_rate),
                    "rms_x10": int(np.sqrt((x * x).mean()) * 10),
                    "peak": int(np.abs(x).max()),
                })
            yield pd.DataFrame(rows)

    # single-file fixture -> range-partition so decodes run on every core;
    # range partitions + local sort = total order without re-running the
    # decode stage for sort-bound sampling (see multimodal_pipeline)
    aud = aud.repartitionByRange(spark.sparkContext.defaultParallelism,
                                 "audio_id")
    return aud.mapInPandas(
        _feats, schema=("audio_id string, n_samples_dec long, "
                        "duration_ms long, rms_x10 long, peak long")
    ).sortWithinPartitions("audio_id")


QUERIES["audio_features"] = audio_features


ORACLE_SQL["video_frame_sample"] = f"""
SELECT video_id, n_frames, CAST(w * h * 3 AS BIGINT) AS bytes_per_frame,
       n_sampled, mean_lum_sampled_x100
FROM read_parquet('{VIDEO_FIXTURE_PATH}') ORDER BY video_id
"""


def video_frame_sample(spark, sf):
    """Video frame-sampling over an opaque frames binary column (n_frames raw
    RGB frames concatenated + typed metadata): mapInPandas reshapes the bytes
    to (n_frames, h, w, 3), keeps every 4th frame, and reports sampled-frame
    statistics — the Spark-side shape of a frame-extraction stage for vision
    training data. Oracle = generator-staged expected values."""
    from . import datagen

    vid = (spark.read.parquet(datagen.ensure_video_fixture())
           .select("video_id", "frames", "n_frames", "w", "h"))

    def _sample(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                nf, w, h = int(r.n_frames), int(r.w), int(r.h)
                arr = np.frombuffer(r.frames, dtype=np.uint8) \
                    .reshape(nf, h, w, 3)
                sampled = arr[::4]
                # One vectorized reduction over all sampled frames: weighted
                # luminance, per-frame mean along the contiguous pixel axis
                # (same pairwise summation per row as the generator's
                # per-frame _mean_lum_x100 loop -> bit-identical ints),
                # truncate, then mean of the per-frame ints.
                lum = (0.299 * sampled[..., 0] + 0.587 * sampled[..., 1]
                       + 0.114 * sampled[..., 2])
                per_frame = (lum.reshape(lum.shape[0], -1).mean(axis=1)
                             * 100).astype(np.int64)
                rows.append({
                    "video_id": r.video_id, "n_frames": nf,
                    "bytes_per_frame": w * h * 3,
                    "n_sampled": int(sampled.shape[0]),
                    "mean_lum_sampled_x100": int(per_frame.mean()),
                })
            yield pd.DataFrame(rows)

    # single-file fixture -> range-partition so decodes run on every core;
    # range partitions + local sort = total order without re-running the
    # decode stage for sort-bound sampling (see multimodal_pipeline)
    vid = vid.repartitionByRange(spark.sparkContext.defaultParallelism,
                                 "video_id")
    return vid.mapInPandas(
        _sample, schema=("video_id string, n_frames int, "
                         "bytes_per_frame long, n_sampled long, "
                         "mean_lum_sampled_x100 long")).sortWithinPartitions("video_id")


QUERIES["video_frame_sample"] = video_frame_sample
