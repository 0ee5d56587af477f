"""CLI — the reference's entry points (``/root/reference/cdc/__main__.py``),
Spark-style, runnable as ``python -m cdc_spark ...`` locally or shipped to a
cluster with ``spark-submit --py-files cdc_spark.zip cdc_spark/__main__.py``.

Commands (reference parity):

- ``producer``  — tail WAL segments, forward framed StreamMessages to a sink
                  (the reference's main pipeline; Kafka when the jar+brokers
                  exist, parquet otherwise).
- ``consumer``  — tail WAL segments, apply to the lake (exactly-once upsert;
                  the command the reference raises NotImplementedError for,
                  ``cdc/__main__.py:87-92``).
- ``snapshot``  — export the lake's live view as the reference's snapshot
                  directory layout (metadata.json + csv.gz + complete.json).
- ``snapshot-abort`` — print the wire-format abort control message (the
                  engine's atomic publish makes a true abort a no-op: an
                  unpublished snapshot never existed).
- ``loggen``    — generate a deterministic synthetic change log (testing).
"""

from __future__ import annotations

import argparse
import os
import sys


def _session(cpus: str, shuffle: int | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        if cpus
        else SparkSession.builder
    )
    b = b.appName("cdc-spark").config("spark.sql.session.timeZone", "UTC").config(
        "spark.sql.adaptive.enabled", "true"
    )
    if shuffle:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle))
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cdc_spark")
    p.add_argument("--cpus", default="*", help="local[N] cores; empty = cluster")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("consumer", help="WAL-tail -> lake upsert (exactly-once)")
    c.add_argument("--config", default=None,
                   help="YAML config file (jsonschema-validated); replaces "
                        "--source/--lake/--checkpoint")
    c.add_argument("--source", default=None)
    c.add_argument("--lake", default=None)
    c.add_argument("--checkpoint", default=None)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--max-files-per-trigger", type=int, default=None)
    c.add_argument("--framed", action="store_true", help="source is wire frames")
    c.add_argument("--continuous", action="store_true",
                   help="keep running (default: drain available and stop)")
    c.add_argument("--trigger", default="10 seconds")

    f = sub.add_parser("producer", help="WAL-tail -> framed StreamMessages sink")
    f.add_argument("--source", required=True)
    f.add_argument("--checkpoint", required=True)
    f.add_argument("--sink", default="parquet", choices=["parquet", "json", "kafka"])
    f.add_argument("--sink-path")
    f.add_argument("--kafka-bootstrap")
    f.add_argument("--topic", default="cdc")

    s = sub.add_parser("snapshot", help="export lake live view(s) as snapshot dir")
    s.add_argument("--lake", required=True)
    s.add_argument("--table", dest="tables", action="append", default=None,
                   help="repeatable; one coordinated snapshot over all")
    s.add_argument("--out", required=True)
    s.add_argument("--snapshot-id", required=True)
    s.add_argument("--product", default="cdc")

    a = sub.add_parser("snapshot-abort")
    a.add_argument("--snapshot-id", required=True)

    g = sub.add_parser("loggen", help="generate a synthetic change log")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--repos", type=int, default=1000)
    g.add_argument("--seg-size", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--framed", action="store_true")

    args = p.parse_args(argv)

    if args.cmd == "snapshot-abort":
        from cdc_spark.snapshot import abort_snapshot_message

        sys.stdout.write(abort_snapshot_message(args.snapshot_id).decode() + "\n")
        return 0

    shuffle = None
    if args.cpus and args.cpus.isdigit():
        shuffle = int(args.cpus)
    elif args.cpus == "*":
        shuffle = os.cpu_count()
    spark = _session(args.cpus, shuffle)
    try:
        if args.cmd == "consumer":
            from cdc_spark.config import EngineConfig, load_config
            from cdc_spark.stream import start_stream

            if args.config:
                cfg, doc = load_config(args.config)
                src = doc["source"]
                backend = src.pop("backend")
                q, _ = start_stream(
                    spark, None, cfg,
                    available_now=not args.continuous,
                    processing_time=args.trigger if args.continuous else None,
                    source=backend, source_conf=src,
                )
            else:
                if not (args.source and args.lake and args.checkpoint):
                    p.error("consumer needs --config or --source/--lake/--checkpoint")
                cfg = EngineConfig(
                    lake_root=args.lake,
                    checkpoint=args.checkpoint,
                    n_buckets=args.buckets,
                    max_files_per_trigger=args.max_files_per_trigger,
                )
                q, _ = start_stream(
                    spark, args.source, cfg,
                    framed=args.framed,
                    available_now=not args.continuous,
                    processing_time=args.trigger if args.continuous else None,
                )
            q.awaitTermination()
        elif args.cmd == "producer":
            from cdc_spark.config import EngineConfig
            from cdc_spark.forward import start_forward

            cfg = EngineConfig(
                lake_root=args.sink_path or "/tmp/cdc_forward",
                checkpoint=args.checkpoint,
            )
            q = start_forward(
                spark, args.source, cfg,
                sink=args.sink, sink_path=args.sink_path,
                kafka_bootstrap=args.kafka_bootstrap, topic=args.topic,
            )
            q.awaitTermination()
        elif args.cmd == "snapshot":
            from cdc_spark.lake import LakeTable
            from cdc_spark.snapshot import export_csv

            tables = args.tables or ["repos"]
            lakes = {
                t: LakeTable(spark, os.path.join(args.lake, t)) for t in tables
            }
            dest = export_csv(
                lakes, args.out, snapshot_id=args.snapshot_id, product=args.product
            )
            sys.stdout.write(dest + "\n")
        elif args.cmd == "loggen":
            from cdc_spark.loggen import change_log, to_frames, write_segments

            df = change_log(
                spark, args.events, n_repos=args.repos, seed=args.seed
            )
            if args.framed:
                df = to_frames(df)
            n = write_segments(df, args.out, seg_size=args.seg_size)
            sys.stdout.write(f"{n} segments\n")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
