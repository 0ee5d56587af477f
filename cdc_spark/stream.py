"""Structured Streaming wiring — the reference's pump loop, Spark-style.

The reference's single-threaded producer loop (``/root/reference/cdc/
producer.py:41-161``: fetch -> write -> poll -> scheduled tasks) maps onto
the microbatch engine: the file-stream source over WAL segment dirs is the
replication slot (its offset log under ``checkpointLocation`` is the slot's
restart LSN, reference S3), ``maxFilesPerTrigger`` is the backpressure knob
(reference ``BufferError`` retry, ``cdc/producer.py:84-94``), and the
offset-log/commit-log pair brackets each batch exactly like write-position /
flush-position tracking (``cdc/sources/__init__.py:82-106``). In production
the same pipeline reads ``format("kafka")`` — only this module changes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .apply import CdcApply
from .config import EngineConfig
from .sources import build_source


def start_stream(
    spark: SparkSession,
    source_dir: str | None,
    cfg: EngineConfig,
    *,
    framed: bool = False,
    available_now: bool = True,
    processing_time: str | None = None,
    fail_after_batches: int | None = None,
    source: str = "file-segments",
    source_conf: dict | None = None,
) -> tuple[StreamingQuery, CdcApply]:
    """Start the WAL-tail -> lake pipeline.

    The input comes from the source-backend registry (``sources.py``):
    ``source`` names the backend, ``source_conf`` its config; the default
    file-segments backend keeps the historical ``source_dir``/``framed``
    shorthand. ``fail_after_batches`` injects a crash for kill-and-resume
    tests.
    """
    conf = dict(source_conf or {})
    if source == "file-segments":
        conf.setdefault("path", source_dir)
        conf.setdefault("framed", framed)
    df = build_source(spark, cfg, source, conf)

    # binary pgoutput wire: the Relation timeline is cross-batch state, so
    # the wire->envelope decode runs per microbatch against a persistent
    # registry (idempotent under replay; see pgoutput.PgOutputDecoder)
    decode = None
    if conf.get("wire_format") == "pgoutput":
        import os as _os

        from .pgoutput import PgOutputDecoder

        decode = PgOutputDecoder(
            conf.get(
                "relation_registry",
                _os.path.join(cfg.lake_root, "_pgoutput_relations.json"),
            )
        )

    applier = CdcApply(spark, cfg)
    n_seen = {"batches": 0}

    def _fb(batch_df, batch_id: int) -> None:
        if decode is not None:
            batch_df = decode(batch_df)
        # The STREAMING path persists each microbatch for the duration of
        # its apply even though batch replay does not: the engine derives
        # numInputRows from the source scans the batch plan executes, so
        # unpersisted recompute would multiple-count delivered rows in
        # StreamingQueryProgress — a monitoring invariant (reference
        # stats semantics) worth one cache materialization per trigger.
        batch_df = batch_df.persist()
        try:
            applier.apply_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()
        n_seen["batches"] += 1
        if fail_after_batches is not None and n_seen["batches"] >= fail_after_batches:
            raise RuntimeError("injected failure for kill-and-resume test")

    writer = df.writeStream.foreachBatch(_fb).option(
        "checkpointLocation", cfg.checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start(), applier


def run_to_completion(
    spark: SparkSession, source_dir: str, cfg: EngineConfig, **kw
) -> CdcApply:
    """Bounded replay: consume everything currently in ``source_dir`` and
    stop (the reference's graceful drain, ``cdc/producer.py:27-44``)."""
    q, applier = start_stream(spark, source_dir, cfg, available_now=True, **kw)
    q.awaitTermination()
    return applier


def replay_batches(
    spark: SparkSession,
    dfs,
    cfg: EngineConfig,
    start_batch_id: int = 0,
) -> CdcApply:
    """Batch-mode replay: apply pre-split DataFrames as consecutive batches
    (deterministic batching for tests and benchmarks, no streaming engine)."""
    applier = CdcApply(spark, cfg)
    for i, df in enumerate(dfs):
        applier.apply_batch(df, start_batch_id + i)
    return applier
