"""Atomic snapshot table store — the offline stand-in for Iceberg.

No Iceberg runtime jars are available in this sandbox (no network), so the
engine's table layer is an explicit snapshot log over parquet files with the
same guarantees the design relies on:

* **atomic multi-table commit** — one epoch's outputs (crawl_log, url_seen,
  retries, metrics, budgets, seen_filter, crawl_jobs) become visible together
  or not at all (the commit is a single ``os.rename`` of a manifest file);
* **snapshot isolation / time travel** — readers resolve a commit id to a
  complete file list per table;
* **resume from last committed snapshot** — a crashed epoch leaves only
  unreferenced staged files, which readers never see (north_rule resumability;
  reference analog: crawl_jobs.last_cursor checkpointing,
  /root/reference/src/application/use_cases.py:68-74,103-117).

On a real cluster this class is swapped for Iceberg ``MERGE INTO`` / snapshot
reads; the engine only uses ``stage``/``stage_groups``/``stage_pandas`` +
``commit`` (write, then publish atomically), ``snapshot``/``read``/
``read_files``/``files``/``needs_merge``, ``rewrite_partitions`` (the one
scoped rewrite of a partitioned table: ``MERGE INTO`` / ``DELETE WHERE``)
and ``compact``/``vacuum``/``discard`` (maintenance), so the swap is
config-only (SURVEY.md §7 M0). The rewrites stage files and return a plan
without committing, so ``plans.crawler.maintain_store`` publishes a whole
maintenance pass in one commit.

**Partitioned tables.** A table may carry one partition spec, recorded once
in meta ``partition_spec[name]``: identity(``key``) or bucket(``key``,
``n``) = ``pmod(xxhash64(key), n)``, plus an optional write ``sort``. Like
an Iceberg manifest entry, each file :meth:`SnapshotStore.stage_groups`
writes records its partition label in its stats entry (``__part__``), so a
table's ``{label: files}`` map and its loose files (appended unpartitioned,
e.g. the epoch's per-epoch url_seen rows) are derived from the snapshot
(:func:`partition_state`). No meta value names a data file, so an append
that lands under a committer with stale meta keeps its label.

Commit manifest ``_log/commit-%012d.json``::

    {"commit_id": 3, "epoch": 2, "tables": {"crawl_log": ["crawl_log/ab...parquet", ...]},
     "meta": {...}}

Each manifest carries the **complete** file list of every live table (like an
Iceberg manifest list), so a reader needs exactly one manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Snapshot:
    commit_id: int
    epoch: int
    tables: dict  # name -> list[str] (paths relative to store root)
    meta: dict
    # relpath -> {col: [min, max], "__schema__": sig, "__empty__": bool,
    # "__part__": label} — per-file column bounds, schema fingerprint and
    # partition label recorded at stage time (Iceberg manifest column stats /
    # schema tracking / partition tuple), used for scan-planning file skips,
    # schema-evolution detection and partition layout; absence of a
    # file/col entry means "no information" (the file is always read, with
    # the plain first-footer schema; a file without a label is loose), so
    # old manifests stay valid.
    stats: dict = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.stats is None:
            object.__setattr__(self, "stats", {})


_EMPTY = Snapshot(commit_id=-1, epoch=-1, tables={}, meta={})


class CommitConflictError(RuntimeError):
    """A commit planned against a snapshot that is no longer current
    (optimistic-concurrency failure — see SnapshotStore.commit)."""


def _schema_sig(fields) -> str:
    """Short stable fingerprint of schema fields (names + types, ordered).
    Two files with the same fingerprint are read-compatible without schema
    merging; distinct fingerprints among a table's live files mean the
    table evolved and the reader must union schemas."""
    import hashlib
    blob = ";".join(f"{f.name}:{f.dataType.simpleString()}"
                    for f in fields)
    return hashlib.md5(blob.encode()).hexdigest()[:12]


def _needs_merge_schema(sigs: "list[str | None]") -> bool:
    """Whether a set of files must be read with mergeSchema, from their
    recorded schema fingerprints (None = pre-feature file, fingerprint
    unknown). {None, sig} is NOT evidence of two schemas — discarding None
    keeps the single-footer fast path for tables with pre-feature files —
    but a lone unknown among known-identical sigs still forces the merge:
    unknown means unknown, not same. All-unknown reverts to the plain read
    (the pre-feature behavior)."""
    known = {s for s in sigs if s is not None}
    return len(known) > 1 or (len(known) == 1 and any(s is None for s in sigs))


def _file_stats(path: str, cols: tuple | list) -> dict:
    """Min/max per requested numeric column from the parquet footer (row
    group statistics — already computed by the writer, so collection is one
    footer read, no data scan). Columns without footer stats are omitted."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        # an empty part file (common under fixed shuffle partitioning on
        # small epochs) can never satisfy any predicate — mark it so pruned
        # reads skip it outright
        return {"__empty__": True}
    idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        j = idx.get(c)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            out[c] = [lo, hi]
    return out


class SnapshotStore:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        os.makedirs(os.path.join(self.root, "_log"), exist_ok=True)
        # stats collected by stage(stats_cols=...) awaiting their commit;
        # commit() moves entries for files it references into the manifest
        self._pending_stats: dict[str, dict] = {}

    # -- log ----------------------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.root, "_log")

    def _commit_path(self, commit_id: int) -> str:
        return os.path.join(self._log_dir(), f"commit-{commit_id:012d}.json")

    def commits(self) -> list[int]:
        out = []
        for f in os.listdir(self._log_dir()):
            if f.startswith("commit-") and f.endswith(".json"):
                out.append(int(f[len("commit-"):-len(".json")]))
        return sorted(out)

    def snapshot(self, commit_id: int | None = None) -> Snapshot:
        ids = self.commits()
        if not ids:
            return _EMPTY
        cid = ids[-1] if commit_id is None else commit_id
        with open(self._commit_path(cid)) as fh:
            d = json.load(fh)
        return Snapshot(commit_id=d["commit_id"], epoch=d["epoch"],
                        tables=d["tables"], meta=d.get("meta", {}),
                        stats=d.get("stats", {}))

    # -- staging ------------------------------------------------------------

    def stage(self, df: "DataFrame", name: str,
              stats_cols: tuple | list | None = None) -> list[str]:
        """Write a DataFrame's parquet files under the table dir WITHOUT
        registering them. Returns store-relative paths for a later commit.
        Invisible to readers until the commit manifest lands.

        ``stats_cols`` records per-file min/max bounds for those columns in
        the NEXT commit's manifest (read from the parquet footers the writer
        already produced — no extra scan). Readers passing ``where=`` to
        :meth:`read`/:meth:`files` then skip files whose bounds cannot
        match — the Iceberg manifest-stats scan-planning step, which is what
        keeps an epoch-windowed crawl_log query O(window) instead of
        O(history) at 10^5 epochs."""
        return self._write(df, name, stats_cols).get(None, [])

    def stage_groups(self, df: "DataFrame", name: str, by: str,
                     stats_cols: tuple | list | None = None,
                     sort_cols: tuple | list = ()) -> dict[str, list[str]]:
        """Stage ``df`` split by the integer label column ``by`` in ONE
        write job (Iceberg's partitioned write behind ``DELETE WHERE`` /
        ``rewrite_data_files``). Returns ``{str(label): paths}``; a label
        with no rows is absent, and rows with a NULL label go to one
        unlabeled (loose) file under key None. One task, so one file, per
        label, clustered by ``sort_cols``. The label is neither written nor
        fingerprinted, so the files read exactly like :meth:`stage`'d ones;
        it is recorded as the file's ``__part__`` in the next manifest."""
        df = df.repartition(by).sortWithinPartitions(by, *sort_cols)
        return self._write(df, name, stats_cols, by=by)

    def _write(self, df: "DataFrame", name: str,
               stats_cols: tuple | list | None,
               by: str | None = None) -> dict:
        """Write, rename, fingerprint and stats for :meth:`stage` (files
        under key None) and :meth:`stage_groups` (files under their label,
        recorded as ``__part__``; NULL-label files under key None)."""
        tdir = os.path.join(self.root, name)
        os.makedirs(tdir, exist_ok=True)
        tmp = os.path.join(tdir, f".stage-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        (writer if by is None else writer.partitionBy(by)).parquet(tmp)
        # schema fingerprint per staged file (driver-side, no extra I/O):
        # lets the read path detect schema evolution across a table's live
        # files and union schemas only then (Iceberg tracks schema in table
        # metadata for the same reason — plain parquet read takes the FIRST
        # file's schema and silently drops columns added later)
        sig = _schema_sig(f for f in df.schema.fields if f.name != by)
        out: dict = {}
        # files sit in tmp itself, or in tmp/<by>=<label>/ when grouped
        for src, _, names in sorted(os.walk(tmp)):
            label = os.path.basename(src).partition("=")[2] or None
            if label == "__HIVE_DEFAULT_PARTITION__":   # a NULL label
                label = None
            for f in sorted(names):
                if f.endswith(".parquet"):
                    dst = f"{uuid.uuid4().hex}-{f}"
                    os.rename(os.path.join(src, f), os.path.join(tdir, dst))
                    rel = f"{name}/{dst}"
                    out.setdefault(label, []).append(rel)
                    entry = self._pending_stats.setdefault(rel, {})
                    entry["__schema__"] = sig
                    if label is not None:
                        entry["__part__"] = int(label)
                    if stats_cols:
                        entry.update(
                            _file_stats(os.path.join(tdir, dst), stats_cols))
        # _SUCCESS and the emptied label dirs
        shutil.rmtree(tmp)
        return out

    def discard(self, rels: list[str]) -> None:
        """Delete staged files that will never be committed (per-epoch
        scratch spills) and forget their pending stats. Missing files are
        skipped; :meth:`vacuum` reclaims whatever a crash left behind."""
        for rel in rels:
            path = os.path.join(self.root, rel)
            if os.path.exists(path):
                os.remove(path)
            self._pending_stats.pop(rel, None)

    def stage_pandas(self, pdf, name: str, schema=None) -> list[str]:
        """Stage a pandas DataFrame directly via pyarrow (driver-side small
        tables: budgets, seen_filter buckets, crawl_jobs rows)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tdir = os.path.join(self.root, name)
        os.makedirs(tdir, exist_ok=True)
        dst = f"{uuid.uuid4().hex}-part-0.parquet"
        table = (pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
                 if schema is not None
                 else pa.Table.from_pandas(pdf, preserve_index=False))
        pq.write_table(table, os.path.join(tdir, dst))
        return [f"{name}/{dst}"]

    # -- commit -------------------------------------------------------------

    def commit(self, epoch: int, appends: dict | None = None,
               replaces: dict | None = None, meta: dict | None = None,
               require_base: int | None = None) -> Snapshot:
        """Atomically publish staged files. ``appends[name]`` extends the
        table's file list; ``replaces[name]`` swaps it wholesale (small state
        tables: politeness budgets). One rename = all-or-nothing.

        ``require_base`` is optimistic concurrency (the Iceberg
        base-snapshot validation): when set, the commit refuses to land if
        the store's current commit_id no longer equals it — i.e. someone
        committed between this writer's planning snapshot and now. Wholesale
        REPLACE writers (maintenance that rewrites tables from a planning
        snapshot, i.e. maintain_store) must pass it:
        without the check a concurrent append/commit's rows and meta
        advances would be silently clobbered by the stale plan (r6, ADVICE
        item 1)."""
        cur = self.snapshot()
        if require_base is not None and cur.commit_id != require_base:
            raise CommitConflictError(
                f"commit planned against snapshot {require_base} but the "
                f"store is now at {cur.commit_id}; replan from the current "
                "snapshot (a concurrent commit landed in between)")
        tables = {k: list(v) for k, v in cur.tables.items()}
        for name, files in (appends or {}).items():
            tables.setdefault(name, [])
            tables[name] = tables[name] + list(files)
        for name, files in (replaces or {}).items():
            tables[name] = list(files)
        # stats lifecycle follows the file list: carry forward bounds and
        # partition labels of files still live (from the CURRENT snapshot,
        # so a concurrent append keeps its label under a stale committer),
        # adopt pending entries of newly referenced files, drop entries of
        # files replaced away
        live = {f for fs in tables.values() for f in fs}
        stats = {f: v for f, v in cur.stats.items() if f in live}
        for f in list(self._pending_stats):
            if f in live:
                stats[f] = self._pending_stats.pop(f)
            elif not os.path.exists(os.path.join(self.root, f)):
                # staged file vanished without ever being referenced (vacuumed
                # orphan / external delete) — its bounds can never be adopted,
                # so keeping the entry is a slow driver-memory leak
                del self._pending_stats[f]
        cid = cur.commit_id + 1
        payload = {"commit_id": cid, "epoch": epoch, "tables": tables,
                   "meta": meta or {}, "stats": stats}
        tmp = os.path.join(self._log_dir(), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = self._commit_path(cid)
        if os.path.exists(final):  # concurrent committer lost the race
            os.remove(tmp)
            raise RuntimeError(f"commit {cid} already exists")
        os.rename(tmp, final)
        return Snapshot(commit_id=cid, epoch=epoch, tables=tables,
                        meta=meta or {}, stats=stats)

    # -- maintenance --------------------------------------------------------

    def compact(self, spark: "SparkSession", name: str,
                target_files: int = 1,
                small_file_bytes: int | None = None,
                transform=None) -> tuple | None:
        """Plan a small-file compaction — the Iceberg ``rewrite_data_files``
        analog: an append-per-epoch table accumulates one file set per
        commit (10^5 files behind every scan after 10^5 epochs), and
        compaction rewrites them, through ``transform`` when given. Old
        manifests still reference the old files, which stay on disk until
        :meth:`vacuum`.

        A partitioned table is rewritten through :meth:`rewrite_partitions`,
        touching the partitions that receive loose rows or hold more than
        ``target_files`` files; every other partition keeps its exact files.

        An unpartitioned table is bin-packed into ``target_files`` files.
        With ``small_file_bytes`` set, compaction is INCREMENTAL (Iceberg's
        bin-pack): only files smaller than the threshold are absorbed;
        already-compacted large files keep their exact paths and are never
        re-read or rewritten, so per-epoch maintenance is O(new small
        files), not O(table). ``None`` rewrites the whole table.

        A plan, not a commit: returns ``(files, n_absorbed)`` — the table's
        new file list and the number of files it replaces — or None when
        there is nothing to do."""
        snap = self.snapshot()
        rels = snap.tables.get(name, [])
        parts, loose = partition_state(snap, name)
        if parts is not None:
            oversized = [p for p, fs in parts.items() if len(fs) > target_files]
            if not loose and not oversized:
                return None
            files, _ = self.rewrite_partitions(
                spark, name, transform or (lambda rows: rows), labels=oversized)
            return files, len(set(rels) - set(files))
        if small_file_bytes is None:
            absorb, keep = list(rels), []
        else:
            absorb, keep = [], []
            for r in rels:
                size = os.path.getsize(os.path.join(self.root, r))
                (absorb if size < small_file_bytes else keep).append(r)
        if len(absorb) <= target_files:
            return None
        raw_sigs = [snap.stats.get(r, {}).get("__schema__") for r in absorb]
        reader = (spark.read.option("mergeSchema", "true")
                  if _needs_merge_schema(raw_sigs) else spark.read)
        df = reader.parquet(*[os.path.join(self.root, r) for r in absorb])
        if transform is not None:
            df = transform(df)
        staged = self.stage(df.repartition(target_files), name,
                            stats_cols=_tracked(snap, absorb))
        return keep + staged, len(absorb)

    def rewrite_partitions(self, spark: "SparkSession", name: str, transform,
                           scope: "DataFrame | None" = None, labels=(),
                           spec: dict | None = None) -> tuple[list, dict]:
        """The one scoped rewrite of a partitioned table, behind
        :meth:`compact`, :func:`merge_into` and
        :func:`crawlspark.operators.recrawl.forget_urls` (Iceberg
        ``rewrite_data_files`` / ``MERGE INTO`` / ``DELETE WHERE``).

        The table's spec is the recorded ``partition_spec[name]``; a passed
        ``spec`` is recorded on first use and must match afterwards (a
        different one raises). With neither, the whole table is rewritten
        unpartitioned.

        Touched are the partitions in ``labels`` and those the ``scope``
        rows fall in (no scope: those the loose rows fall in). Their files
        plus every loose file are read, passed through ``transform`` (which
        gets None for an empty slice) and written in ONE
        :meth:`stage_groups` job. A row goes to its partition if that
        partition is touched, or if no file of the table is partitioned
        yet; any other row stays loose. Untouched partitions keep their
        exact files, so the cost is O(touched partitions + loose), never
        O(table).

        Nothing is committed: returns the table's new file list and the
        meta to commit with it (the spec, when this call records it), so a
        caller can publish the rewrite atomically with its own changes."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        rels = snap.tables.get(name, [])
        recorded = snap.meta.get("partition_spec", {}).get(name)
        if recorded is not None and spec not in (None, recorded):
            raise ValueError(
                f"table {name!r} is partitioned as {recorded}; "
                "repartitioning requires a fresh full rewrite (drop the spec "
                "first)")
        spec = recorded or spec
        tracked = _tracked(snap, rels)

        def read(files):
            return self.read_files(spark, name, files) if files else None

        if spec is None:
            return self.stage(transform(read(rels)), name,
                              stats_cols=tracked), {}
        label = partition_label(spec)
        parts, loose = partition_state(snap, name)
        if not parts:
            # nothing partitioned yet: the whole table, every row homed
            touched, files = None, rels
        else:
            scope = read(loose) if scope is None else scope
            touched = {str(p) for p in labels}
            if scope is not None:
                touched |= {str(r["_p"]) for r in scope.select(
                    label.alias("_p")).distinct().collect()
                    if r["_p"] is not None}
            files = [f for p in sorted(touched, key=int)
                     for f in parts.get(p, [])] + loose
            # a NULL label is no partition: those rows stay loose
            label = F.when(label.isin([int(p) for p in touched]), label)
        staged = self.stage_groups(
            transform(read(files)).withColumn("_part", label), name, "_part",
            stats_cols=tracked, sort_cols=spec.get("sort", ()))
        still_loose = staged.pop(None, [])
        new_parts = staged if touched is None else {
            **parts, **{p: staged.get(p, []) for p in touched}}
        meta = {} if recorded else {"partition_spec": {
            **snap.meta.get("partition_spec", {}), name: spec}}
        return ordered_files(new_parts) + still_loose, meta

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data files not referenced by any of the last ``keep_last``
        commit manifests, plus the older manifests themselves — the Iceberg
        ``expire_snapshots`` analog. Time travel keeps working across the
        retained commits; anything older is gone. Also reclaims orphans from
        crashed epochs (staged files whose commit never landed). Single
        writer only: never run concurrently with an in-flight stage+commit,
        whose not-yet-referenced files would look like orphans. Returns the
        deleted store-relative paths."""
        ids = self.commits()
        if not ids:
            return []
        keep_ids = ids[-max(1, keep_last):]
        live: set[str] = set()
        for cid in keep_ids:
            for files in self.snapshot(cid).tables.values():
                live.update(files)
        deleted: list[str] = []
        for entry in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, entry)
            if entry == "_log" or not os.path.isdir(tdir):
                continue
            for f in sorted(os.listdir(tdir)):
                rel = f"{entry}/{f}"
                path = os.path.join(tdir, f)
                if f.startswith(".stage-") and os.path.isdir(path):
                    # a crash during stage() before the rename loop leaves
                    # the whole temp dir behind; its files are by definition
                    # unreferenced (paths are only recorded after rename)
                    shutil.rmtree(path)
                    deleted.append(rel)
                elif rel not in live and f.endswith(".parquet"):
                    os.remove(path)
                    deleted.append(rel)
        for cid in ids:
            if cid not in keep_ids:
                os.remove(self._commit_path(cid))
        # pending-stats entries follow their files: a staged-but-never-
        # committed file just reclaimed above (or removed by any earlier
        # means) must not leave its bounds entry behind, or a long-lived
        # store instance leaks driver memory one orphan at a time
        for rel in list(self._pending_stats):
            if not os.path.exists(os.path.join(self.root, rel)):
                del self._pending_stats[rel]
        return deleted

    # -- read ---------------------------------------------------------------

    def files(self, name: str, commit_id: int | None = None,
              where: tuple | None = None) -> list[str]:
        """Table file list at a snapshot. ``where=(col, lo, hi)`` (either
        bound may be None) drops files whose recorded [min, max] bounds for
        ``col`` cannot intersect the interval — manifest-stats scan
        planning. Files without recorded bounds are always kept, so the
        prune is purely an optimization: the caller still applies the same
        predicate row-wise and gets identical results with or without it."""
        snap = self.snapshot(commit_id)
        rels = snap.tables.get(name, [])
        if where is not None:
            col, lo, hi = where
            kept = []
            for r in rels:
                st = snap.stats.get(r, {})
                if st.get("__empty__"):
                    continue
                b = st.get(col)
                if b is not None and ((hi is not None and b[0] > hi)
                                      or (lo is not None and b[1] < lo)):
                    continue
                kept.append(r)
            rels = kept
        return [os.path.join(self.root, f) for f in rels]

    def needs_merge(self, name: str, commit_id: int | None = None) -> bool:
        """Whether reads of this table's live files must union schemas —
        the SAME decision rule as compact()'s (``_needs_merge_schema`` over
        the raw per-file fingerprints, None for pre-feature files), exposed
        so every read/rewrite path agrees about evolution. Before r6 the
        read paths gated on ``schema_variants() > 1`` (known sigs only),
        so a pre-feature file with an evolved schema was plain-read
        (columns silently dropped) yet merge-read by compact() —
        inconsistent results for the same file set (ADVICE item 2)."""
        snap = self.snapshot(commit_id)
        sigs = [snap.stats.get(r, {}).get("__schema__")
                for r in snap.tables.get(name, [])]
        return _needs_merge_schema(sigs)

    def schema_variants(self, name: str,
                        commit_id: int | None = None) -> int:
        """Number of distinct schema fingerprints among a table's live
        files (recorded at stage time). 0 = no fingerprints (pre-feature
        files only), 1 = homogeneous, >1 = the table's schema evolved and
        reads must union schemas."""
        snap = self.snapshot(commit_id)
        sigs = set()
        for r in snap.tables.get(name, []):
            st = snap.stats.get(r)
            if st and "__schema__" in st:
                sigs.add(st["__schema__"])
        return len(sigs)

    def read_files(self, spark: "SparkSession", name: str,
                   rels: list[str]) -> "DataFrame":
        """Read some of table ``name``'s live files (paths relative to the
        store root), unioning schemas exactly when :meth:`needs_merge` says
        the table evolved. A scoped rewrite reads a slice of the table this
        way: a plain read takes one footer's schema and would drop a newer
        column from every file it rewrites."""
        paths = [os.path.join(self.root, f) for f in rels]
        if self.needs_merge(name):
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        return spark.read.parquet(*paths)

    def read(self, spark: "SparkSession", name: str,
             commit_id: int | None = None,
             where: tuple | None = None) -> "DataFrame | None":
        """Read a table at a snapshot; None if no files survive. ``where``
        skips files by manifest bounds (see :meth:`files`) — the caller must
        still filter rows (kept files may hold out-of-range rows too).

        Schema evolution: when the live files carry >1 recorded schema
        fingerprint the read unions schemas (``mergeSchema`` — columns
        added later read as null in older files, Iceberg's add/drop-column
        semantics); a homogeneous table keeps the plain single-footer read,
        so evolution support costs nothing until a table actually evolves."""
        fs = self.files(name, commit_id, where=where)
        if not fs:
            return None
        if self.needs_merge(name, commit_id):
            return spark.read.option("mergeSchema", "true").parquet(*fs)
        return spark.read.parquet(*fs)


def _tracked(snap: Snapshot, rels: list[str]) -> list[str] | None:
    """The columns whose bounds ``rels`` carry, so a rewrite keeps tracking
    them and never silently disables manifest-stats pruning."""
    return sorted({c for r in rels for c in snap.stats.get(r, {})
                   if not c.startswith("__")}) or None


def partition_label(spec: dict):
    """A row's partition label under ``spec``: identity(key) or, with
    ``n``, bucket(key, n) = ``pmod(xxhash64(key), n)``."""
    from pyspark.sql import functions as F

    key = F.col(spec["key"])
    if spec.get("n") is None:
        return key.cast("int")
    return F.pmod(F.xxhash64(key), F.lit(int(spec["n"]))).cast("int")


def partition_state(snap: Snapshot,
                    name: str) -> tuple[dict | None, list[str]]:
    """(``{str(label): files}``, loose files) for a table, derived from the
    ``__part__`` labels in the manifest stats; the map is None when the
    table has no recorded partition spec (every file is loose). Loose files
    (e.g. the epoch loop's per-epoch url_seen appends) can hold any
    partition's rows, so :meth:`SnapshotStore.rewrite_partitions` reads
    them with every rewrite until :meth:`SnapshotStore.compact` homes
    their rows."""
    files = snap.tables.get(name, [])
    if name not in snap.meta.get("partition_spec", {}):
        return None, list(files)
    parts: dict[str, list[str]] = {}
    loose = []
    for f in files:
        label = snap.stats.get(f, {}).get("__part__")
        if label is None:
            loose.append(f)
        else:
            parts.setdefault(str(label), []).append(f)
    return parts, loose


def ordered_files(files_by_label: dict) -> list[str]:
    """A table's file list from its ``{label: files}`` map, in label
    order."""
    return [f for k in sorted(files_by_label, key=int)
            for f in files_by_label[k]]


def dedup_updates(updates: "DataFrame", key: str,
                  newer_col: str | None = None) -> "DataFrame":
    """One winner per key within an updates batch (newest when ordered,
    arbitrary-first otherwise) — a map-side partial aggregation, same shape
    as operators.dedup.supersede. This is the MERGE skew story at 100 TB: a
    hot key holding half the update batch collapses to ONE candidate per map
    partition BEFORE the shuffle (partial_max_by), so the reduce side of the
    dedup receives at most n_map_partitions rows for the hot key and the
    downstream anti-join runs on already-unique keys (no skewed side left
    for AQE to split, though AQE skew-join remains on as the backstop).
    Asserted in tests/test_merge_skew.py."""
    from pyspark.sql import functions as F

    if newer_col is not None:
        cols = updates.columns
        return (updates.groupBy(key)
                .agg(F.max_by(F.struct(*cols), F.col(newer_col))
                     .alias("_w"))
                .select("_w.*"))
    return updates.dropDuplicates([key])


def merge_into(spark: "SparkSession", store: SnapshotStore, name: str,
               updates: "DataFrame", key: str,
               newer_col: str | None = None,
               n_buckets: int | None = None) -> None:
    """S7 batch upsert: ``MERGE INTO <name> USING updates ON t.key = s.key
    WHEN MATCHED [AND t.newer_col < s.newer_col] THEN UPDATE *
    WHEN NOT MATCHED THEN INSERT *`` — the reference's staging+ON CONFLICT
    merge (/root/reference/src/infrastructure/database.py:174-271; the
    conditional form is the newer-wins merge, SCHEMA_EVOLUTION.md:94-110).

    Emulated on the parquet snapshot backend as: (updates that win) UNION
    (target rows not superseded), committed as an atomic table replace. On
    Iceberg this function is one ``MERGE INTO`` statement; the join below is
    the exact distributed plan Iceberg would run (shuffle on the key, AQE
    skew-safe), so the emulation carries the same scale shape.

    ``n_buckets`` makes the merge PARTITION-SCOPED (the Iceberg
    bucket-partitioned MERGE) through :meth:`SnapshotStore.rewrite_partitions`:
    the table is kept as ``pmod(xxhash64(key), n_buckets)`` bucket
    file-sets, and a merge rewrites ONLY buckets containing updated keys
    (plus the loose files, which can hold any key) — untouched buckets keep
    their exact files. The first bucketed merge on an unbucketed table
    performs the one-time full bucketing; the table's recorded partition
    spec wins thereafter, so a merge without ``n_buckets`` stays scoped and a
    different ``n_buckets`` raises. The matched-row check and the anti-join
    read only that slice (the bucket is a pure function of the key, so
    matches cannot live elsewhere)."""
    from pyspark.sql import functions as F

    updates = dedup_updates(updates, key, newer_col).persist()
    snap = store.snapshot()

    def upsert(target):
        """(updates that win) UNION (target rows not superseded); a column
        only one side has (schema evolution) reads as null on the other. With
        ``newer_col``, updates NOT newer than their matched target row are
        dropped first. The target version is max(newer_col) per key — one
        row per key reaches the join (partial-agg map-side), so the check
        stays well-defined even if a transient duplicate key exists
        (contract: appends never duplicate a merged table's keys; merges are
        the mutation path)."""
        if target is None:
            return updates
        won = updates
        if newer_col is not None:
            t_keyed = (target.groupBy(key)
                       .agg(F.max(newer_col).alias("_t_newer")))
            won = (updates.join(t_keyed, key, "left")
                   .filter(F.col("_t_newer").isNull()
                           | (F.col(newer_col) > F.col("_t_newer")))
                   .drop("_t_newer"))
        return (target.join(won.select(key), key, "left_anti")
                .unionByName(won, allowMissingColumns=True))

    files, meta = store.rewrite_partitions(
        spark, name, upsert, scope=updates,
        spec={"key": key, "n": int(n_buckets)} if n_buckets else None)
    store.commit(epoch=int(snap.meta.get("last_epoch", -1)),
                 replaces={name: files}, meta={**snap.meta, **meta})
    updates.unpersist()


def upsert_row(spark: "SparkSession", store: SnapshotStore, name: str,
               row: dict, key: str, newer_col: str | None = None) -> None:
    """S8 single-row upsert convenience — the degenerate one-row batch
    through :func:`merge_into` (ref: single ON CONFLICT DO UPDATE,
    database.py:120-172). Schema follows the existing table when present."""
    target = store.read(spark, name)
    if target is not None:
        updates = spark.createDataFrame([row], schema=target.schema)
    else:
        updates = spark.createDataFrame([row])
    merge_into(spark, store, name, updates, key, newer_col=newer_col)
