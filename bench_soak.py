#!/usr/bin/env python
"""Sustained-ingest soak (one-off, NOT the driver bench): N consecutive
multi-million-event batches into ONE growing lake — the flat-profile
evidence for the north rule's sustained-throughput criterion, re-run per
round so merge-path changes are caught if they degrade with lake age.

Prints one JSON line: per-batch seconds, sustained ev/s, end state.
Env: SOAK_EVENTS (default 40_000_000), SOAK_BATCHES (10),
SPARK_GRAFT_CPUS (32), SOAK_NEARDUP=1 to run the COMPOSED product —
every batch also maintains the incremental MinHash index + pairs lake
(cfg.neardup_index) — whose per-batch overhead must stay flat too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import tmpfs_local_dir

    with tmpfs_local_dir() as local_dir:
        _soak(local_dir)


def _soak(local_dir: str | None) -> None:
    n_events = int(os.environ.get("SOAK_EVENTS", 40_000_000))
    n_batches = int(os.environ.get("SOAK_BATCHES", 10))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    neardup = os.environ.get("SOAK_NEARDUP", "0") == "1"
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cdc-spark-soak")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_spark.apply import CdcApply
    from cdc_spark.config import EngineConfig
    from cdc_spark.loggen import change_log

    per = n_events // n_batches
    work = tempfile.mkdtemp(prefix="cdc_soak_")
    try:
        cfg = EngineConfig(
            lake_root=os.path.join(work, "lake"),
            checkpoint=os.path.join(work, "ckpt"),
            n_buckets=32,
            shuffle_partitions=cpus,
            compact_every=4,
            neardup_index=neardup,
            # the soak keyspace is 2000 repos x 200 paths: let the index
            # auto-size its banding for the real steady-state corpus
            neardup_corpus_hint=400_000 if neardup else None,
        )
        applier = CdcApply(spark, cfg)
        # warmup (JIT/codegen), untimed, separate lake
        wcfg = EngineConfig(
            lake_root=os.path.join(work, "wl"),
            checkpoint=os.path.join(work, "wc"), n_buckets=32,
        )
        CdcApply(spark, wcfg).apply_batch(
            change_log(spark, 200_000, n_repos=2000, n_paths=200, seed=7), 0
        )
        secs = []
        t_all = time.time()
        for i in range(n_batches):
            b = change_log(
                spark, per, n_repos=2000, n_paths=200, delete_rate=0.05,
                dup_rate=0.01, start_lsn=1 + i * per, seed=42,
            )
            t0 = time.time()
            applier.apply_batch(b, i)
            secs.append(round(time.time() - t0, 1))
        total = time.time() - t_all
        lake = applier.lake_for("repos").refresh()
        print(json.dumps({
            "metric": "soak_events_per_sec",
            "value": round(n_events / total, 1),
            "unit": "ev/s",
            "events": n_events,
            "batch_secs": secs,
            "total_sec": round(total, 1),
            "lake_version": lake.version,
            "data_files": len(lake.meta["files"]),
            "cpus": cpus,
            "neardup_index": neardup,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
