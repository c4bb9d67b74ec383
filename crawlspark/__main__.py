"""crawlspark CLI — the reference's command surface, Spark-first.

Maps /root/reference/src/main.py's typer commands onto the engine:

  datagen    write seeded synthetic fixtures (image+caption table per
             input_hint, frontier, robots, budgets)
  init       stage fixtures into a SnapshotStore and commit snapshot 0
  crawl      run epochs from the last committed snapshot (crawl-stars
             analog; resume is implicit — it continues wherever the store
             left off, main.py:124-143 / use_cases.py:68-74)
  export     crawl_log/url_seen/... -> CSV / JSONL / JSON-array artifact
             (export-data, main.py:190-230)
  health     composed per-component status dict (health-check,
             main.py:233-273)
  migrate    sorted .sql executor (setup-database, main.py:104-114)
  top        top-k crawled rows by a metric + job summary (the show-data
             surface, /root/reference/show_data.py:25-75: ORDER BY metric
             DESC listing, row total, crawl-job info)
  compact    one maintenance pass (plans.crawler.maintain_store): every
             table compacted in one commit, then snapshot expiry (the
             Iceberg rewrite_data_files / expire_snapshots pair an
             append-per-epoch store needs at scale)
  pipeline   init -> crawl -> export -> health summary (run-pipeline,
             main.py:276-340)

Usage: python -m crawlspark <command> [options]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(cpus: int | None = None):
    from .config import SparkTuning
    from .session import get_spark

    return get_spark(SparkTuning.for_cpus(cpus, app_name="crawlspark-cli"))


def cmd_datagen(args) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import datagen

    spec = datagen.GenSpec(seed=args.seed, n_images=args.images,
                           n_urls=args.urls, n_hosts=args.hosts,
                           n_strata=args.strata)
    os.makedirs(args.out, exist_ok=True)
    tables = {
        "image_caption": datagen.gen_image_caption(spec),
        "frontier": datagen.gen_frontier(spec),
        "robots": datagen.gen_robots(spec),
        "budgets": datagen.gen_budgets(spec),
    }
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(args.out, f"{name}.parquet"))
        print(f"{name}: {len(pdf)} rows")
    return 0


def cmd_init(args) -> int:
    from .plans.crawler import init_run
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    init_run(
        spark, store,
        frontier=spark.read.parquet(os.path.join(args.fixtures, "frontier.parquet")),
        robots=spark.read.parquet(os.path.join(args.fixtures, "robots.parquet")),
        budgets=spark.read.parquet(os.path.join(args.fixtures, "budgets.parquet")))
    snap = store.snapshot()
    print(json.dumps({"commit_id": snap.commit_id,
                      "remaining": snap.meta.get("remaining_by_priority")}))
    return 0


def cmd_crawl(args) -> int:
    from .config import CrawlConfig
    from .plans.crawler import run_crawl
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    images = spark.read.parquet(args.images)
    cfg = CrawlConfig(batch_size=args.batch_size,
                      compact_every=getattr(args, "compact_every", 0),
                      recrawl_every=getattr(args, "recrawl_every", 0),
                      recrawl_ttl_epochs=getattr(args, "recrawl_ttl", 20),
                      recrawl_topk=getattr(args, "recrawl_topk", 1000))
    fallback = (spark.read.parquet(args.fallback)
                if args.fallback else None)
    results = run_crawl(spark, store, images, cfg,
                        max_epochs=args.max_epochs, fallback=fallback,
                        target_results=args.target)
    for r in results:
        print(f"epoch {r.epoch}: admitted={r.n_admitted} ok={r.n_ok} "
              f"invalid={r.n_invalid} retry={r.n_retry} "
              f"deferred={r.n_deferred} failed={r.n_failed} "
              f"denied={r.n_denied}")
    print(json.dumps({"epochs": len(results),
                      "terminal": sum(r.n_terminal for r in results)}))
    return 0


def cmd_export(args) -> int:
    from pyspark.sql import functions as F

    from .sources.export import export_csv, export_json
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    lo, hi = args.since_epoch, args.until_epoch
    windowed = lo is not None or hi is not None
    # manifest-stats file skip first, then the row-wise filter the skip is
    # an optimization of (files without recorded bounds are still read)
    df = store.read(spark, args.table,
                    where=("epoch", lo, hi) if windowed else None)
    if df is None:
        print(f"table {args.table!r} has no "
              + ("rows in that epoch window" if windowed else "data"),
              file=sys.stderr)
        return 1
    if windowed:
        if "epoch" not in df.columns:
            print(f"table {args.table!r} has no epoch column", file=sys.stderr)
            return 1
        if lo is not None:
            df = df.filter(F.col("epoch") >= lo)
        if hi is not None:
            df = df.filter(F.col("epoch") <= hi)
    if args.format == "csv":
        export_csv(df, args.out, single_file=args.single_file)
    elif args.format == "json":
        export_json(df, args.out, single_file=args.single_file)
    else:
        export_json(df, args.out, array_file=True)
    print(json.dumps({"table": args.table, "rows": df.count(),
                      "out": args.out, "format": args.format}))
    return 0


def cmd_health(args) -> int:
    from .sources.export import health_check
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    hc = health_check(spark, store)
    print(json.dumps(hc, default=str, indent=2))
    return 0 if hc["status"] in ("healthy", "uninitialized") else 2


def cmd_migrate(args) -> int:
    from .sources.migrate import run_migrations
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    if store.snapshot().commit_id < 0:
        store.commit(epoch=-1, meta={"last_epoch": -1})
    ran = run_migrations(spark, store, args.dir)
    print(json.dumps({"applied": ran}))
    return 0


def cmd_top(args) -> int:
    """Top-k crawl_log rows by a metric, formatted like the reference's
    show-data listing (show_data.py:25-75), plus the latest job row. The
    top-k is a TakeOrderedAndProject plan (no global sort materialization)."""
    from pyspark.sql import functions as F

    from .sources.export import health_check
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    df = store.read(spark, args.table)
    if df is None:
        print(f"table {args.table!r} has no data", file=sys.stderr)
        return 1
    if args.metric not in df.columns:
        print(f"metric {args.metric!r} not in {args.table} columns "
              f"{df.columns}", file=sys.stderr)
        return 1
    cols = list(dict.fromkeys(
        c for c in ("url", "host", "image_id", "status", args.metric,
                    "epoch", "fetched_at") if c in df.columns))
    rows = (df.filter(F.col(args.metric).isNotNull())
            .orderBy(F.desc(args.metric)).limit(args.k)
            .select(*cols).collect())
    total = df.count()

    widths = {c: max(len(c), *(len(str(r[c])[:40]) for r in rows)) if rows
              else len(c) for c in cols}
    header = "  ".join(c.ljust(widths[c]) for c in cols)
    print(header)
    print("-" * len(header))
    for r in rows:
        print("  ".join(str(r[c])[:40].ljust(widths[c]) for c in cols))
    print(f"\ntotal rows: {total}")
    last_job = health_check(spark, store).get("last_job")
    if last_job:
        print("last job: " + json.dumps(last_job, default=str))
    return 0


def cmd_compact(args) -> int:
    """One maintenance pass, the crawl loop's own ``maintain_store``: every
    table compacted in one commit, then snapshot expiry (the Iceberg
    rewrite_data_files / expire_snapshots maintenance pair)."""
    from .config import CrawlConfig
    from .plans.crawler import maintain_store
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    compacted = maintain_store(spark, store, CrawlConfig(
        compact_target_files=args.target_files,
        vacuum_keep_last=args.keep_last))
    print(json.dumps({"compacted_files": compacted,
                      "commit_id": store.snapshot().commit_id}))
    return 0


def cmd_pipeline(args) -> int:
    """init -> crawl -> export CSV+JSON -> health summary (run-pipeline)."""
    rc = cmd_init(args)
    if rc:
        return rc
    args.images = os.path.join(args.fixtures, "image_caption.parquet")
    args.fallback = None
    args.target = None
    rc = cmd_crawl(args)
    if rc:
        return rc
    from .sources.export import export_csv, export_json, health_check
    from .tables import SnapshotStore

    spark = _spark(args.cpus)
    store = SnapshotStore(args.store)
    log = store.read(spark, "crawl_log")
    export_csv(log, os.path.join(args.export_dir, "crawl_log_csv"),
               single_file=True)
    export_json(log, os.path.join(args.export_dir, "crawl_log_json"),
                single_file=True)
    print(json.dumps(health_check(spark, store), default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="crawlspark", description=__doc__)
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("datagen", help="write synthetic fixtures")
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--images", type=int, default=1000)
    p.add_argument("--urls", type=int, default=5000)
    p.add_argument("--hosts", type=int, default=50)
    p.add_argument("--strata", type=int, default=8)
    p.set_defaults(fn=cmd_datagen)

    p = sub.add_parser("init", help="commit snapshot 0 from fixtures")
    p.add_argument("--fixtures", required=True)
    p.add_argument("--store", required=True)
    p.set_defaults(fn=cmd_init)

    p = sub.add_parser("crawl", help="run epochs (resumes automatically)")
    p.add_argument("--store", required=True)
    p.add_argument("--images", required=True)
    p.add_argument("--max-epochs", type=int, default=1000)
    p.add_argument("--batch-size", type=int, default=200)
    p.add_argument("--fallback", default=None,
                   help="parquet of broader strata folded in on exhaustion")
    p.add_argument("--target", type=int, default=None,
                   help="terminal-result target gating the fallback fold-in")
    p.add_argument("--compact-every", type=int, default=0,
                   help="compact+vacuum the store every N epochs (0 = off)")
    p.add_argument("--recrawl-every", type=int, default=0,
                   help="TTL refresh: forget the staleist crawled URLs "
                        "every N epochs so the loop re-fetches them (0 = off)")
    p.add_argument("--recrawl-ttl", type=int, default=20,
                   help="minimum age (epochs since last terminal crawl) "
                        "before a URL is recrawl-eligible")
    p.add_argument("--recrawl-topk", type=int, default=1000,
                   help="max URLs forgotten per recrawl pass")
    p.set_defaults(fn=cmd_crawl)

    p = sub.add_parser("export", help="export a table")
    p.add_argument("--store", required=True)
    p.add_argument("--table", default="crawl_log")
    p.add_argument("--format", choices=["csv", "json", "json-array"],
                   default="csv")
    p.add_argument("--out", required=True)
    p.add_argument("--single-file", action="store_true")
    p.add_argument("--since-epoch", type=int, default=None,
                   help="epoch window lower bound (manifest-stats file skip)")
    p.add_argument("--until-epoch", type=int, default=None,
                   help="epoch window upper bound")
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("health", help="composed status dict")
    p.add_argument("--store", required=True)
    p.set_defaults(fn=cmd_health)

    p = sub.add_parser("migrate", help="run sorted .sql migrations")
    p.add_argument("--store", required=True)
    p.add_argument("--dir", default="migrations")
    p.set_defaults(fn=cmd_migrate)

    p = sub.add_parser("compact", help="one maintenance pass: compact "
                       "every table in one commit, then vacuum")
    p.add_argument("--store", required=True)
    p.add_argument("--target-files", type=int, default=1)
    p.add_argument("--keep-last", type=int, default=2,
                   help="commits whose files vacuum keeps")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("top", help="top-k crawled rows by a metric")
    p.add_argument("--store", required=True)
    p.add_argument("--table", default="crawl_log")
    p.add_argument("--metric", default="psnr_db")
    p.add_argument("--k", type=int, default=5)
    p.set_defaults(fn=cmd_top)

    p = sub.add_parser("pipeline", help="init -> crawl -> export -> health")
    p.add_argument("--fixtures", required=True)
    p.add_argument("--store", required=True)
    p.add_argument("--export-dir", required=True)
    p.add_argument("--max-epochs", type=int, default=1000)
    p.add_argument("--batch-size", type=int, default=200)
    p.set_defaults(fn=cmd_pipeline)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
