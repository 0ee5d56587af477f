"""cdc_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Capabilities mirror getsentry/cdc (reference at /root/reference, studied in
SURVEY.md) re-expressed Spark-first:

- ``loggen``   — deterministic synthetic wal2json-style change-log generator
                 (the reference's WAL-tail input, ``cdc/sources/backends/
                 postgres_logical.py``).
- ``parse``    — frame parser + wal2json payload decode as vectorized column
                 expressions (reference ``parse_message_with_headers``,
                 ``postgres_logical.py:37-80``).
- ``dedup``    — last-writer-wins max-LSN reduce per (repo, path).
- ``lake``     — Iceberg-semantics lake table: key-sorted parquet data files
                 + atomic JSON snapshot log, idempotent commits keyed by
                 (epoch, lsn high-watermark), lazy schema evolution,
                 merge-on-read appends folded by compaction (the
                 reference's absent consumer side, ``cdc/__main__.py:87-92``).
- ``apply``    — the foreachBatch body: control-event extraction, epoch schema
                 projection, dedup, merge, lineage metrics.
- ``stream``   — Structured Streaming wiring (readStream over WAL segments,
                 checkpointing; the reference's pump loop ``cdc/producer.py``).
- ``oracle``   — single-threaded reference replayer for sha256 equality checks.
- ``functions``— training-data ops: dedup (minhash/simhash/jaccard), text
                 analysis, similarity search, multimodal plumbing.
"""

__version__ = "0.1.0"
