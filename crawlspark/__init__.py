"""crawlspark — a from-scratch PySpark-native URL-frontier + fetch scheduler
with the crawl semantics of MohibShaikh/Github-Crawler (reference at
/root/reference, studied for behavior only), over image+caption tables.

Layout:
  __main__.py   CLI (datagen, crawl, pipeline, health, export, ...)
  codecs.py     pure-numpy image codecs / phash / PSNR (shared with oracle)
  config.py     crawl semantics constants (shared with oracle)
  datagen.py    deterministic synthetic fixtures (FIXTURES.md)
  session.py    SparkSession factory
  tables.py     atomic snapshot table store (Iceberg-style commit log)
  queries.py    driver-contract operator queries + DuckDB oracle SQL
  textops.py    training-data queries: dedup, similarity search, text
  functions/    URL canonicalization/hashing, scan-spreading helper
  operators/    dedup, politeness, bloom and cuckoo seen filters,
                recrawl/forget, validation
  plans/        the epoch crawl job and the multi-epoch driver loop
  streaming/    Structured-Streaming discovery ingest into the frontier
  sources/      export sinks and the migration executor
  oracle/       pure-Python reference-semantics simulator (parity golden)
"""

__version__ = "0.1.0"
