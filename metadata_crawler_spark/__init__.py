"""metadata_crawler_spark — a PySpark-native crawl frontier + fetch scheduler.

A from-scratch re-realization of the capabilities of
freva-org/metadata-crawler (reference at /root/reference, read-only):
discovery/crawl -> dedup/seen-set -> normalize/extract -> prioritized,
batched, resumable ingest — expressed as DataFrame dataflow over
parquet/Iceberg-style tables of Common-Crawl-shaped web pages
(url, warc_ts, html, text, lang) instead of an asyncio harvest loop.

Layout
------
- ``functions``  column-level building blocks (URL canonicalization,
  hashing, HTML text extraction, lang-id, quality scoring).
- ``operators``  dataflow operators (seen-set / Bloom dedup, frontier
  scheduling, versioning, near-dup families, similarity search).
- ``sources``    deterministic fixture generation + table/manifest IO.
- ``plans``      the round-loop crawl driver (micro-batch rounds with
  atomic, resumable commits and per-partition lineage metrics).
- ``streaming``  Structured-Streaming variants of the round loop.

Importing the package guards ``zipimport`` against the per-task
zip-directory re-reads of pyspark's Python workers (:mod:`.zipguard`).
"""

from .zipguard import install as _install_zipguard

_install_zipguard()

__version__ = "0.1.0"
