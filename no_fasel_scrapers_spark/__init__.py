"""no_fasel_scrapers_spark — a PySpark-native crawl/extract analytics engine.

A from-scratch rebuild of the *capabilities* of N0-0NE-Dev/no-fasel-scrapers
(sequential requests/BeautifulSoup catalog scrapers) as a distributed
URL-frontier + fetch-scheduler + extraction engine on Spark DataFrames:

- ``functions/``  — pure-column scalar functions (URL canonicalization, the
  reference's string cleanups reproduced byte-identically) and vectorized
  Arrow UDF extractors for the per-site HTML shapes.
- ``operators/``  — frontier scheduling, bloom URL-seen filtering,
  per-host politeness, robots gating, dedup (exact/minhash/simhash),
  similarity search, text-quality analysis, merge-precedence unions,
  nested record assembly.
- ``sources/``    — an Iceberg-shaped catalog (partitioned parquet +
  JSON snapshot manifests locally; binds to real Iceberg on a cluster)
  and the deterministic synthetic pages generator used by tests/bench.
- ``plans/``      — the crawl wave-loop job and the derived batch jobs
  (trending, postprocess, all-content index) mirroring the reference DAG.
- ``streaming/``  — incremental frontier processing via Structured
  Streaming foreachBatch (optional path; waves are the batch analog).

Design notes live in /root/repo/SURVEY.md. Reference file:line citations in
docstrings point at /root/reference (studied for behavior, not copied).
"""

__version__ = "0.1.0"
