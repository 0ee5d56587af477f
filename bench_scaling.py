#!/usr/bin/env python
"""Two-cluster-size scaling benchmark (BASELINE.json north rule).

No real cluster exists in this sandbox, so the N -> 4N executor criterion is
evidenced by running the SAME steady-state ingest job on the SAME input shape
at local[2] / local[8] / local[32] (fresh JVM each), reporting sustained
events/sec at each level plus pairwise scaling efficiency, and calibrating
against the VM's own hardware ceilings (pure-CPU scaling and memory-bandwidth
scaling measured with multiprocessing probes) — on a single-socket VM every
data-moving workload shares one memory controller, which a real
multi-executor cluster does not.

Usage: python bench_scaling.py [events_per_batch] [n_batches]
Child mode (internal): python bench_scaling.py --child <cpus> <per> <nb>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def run_child(cpus: int, per_batch: int, n_batches: int) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import tmpfs_local_dir

    with tmpfs_local_dir() as local_dir:
        _child(cpus, per_batch, n_batches, local_dir)


def _child(cpus: int, per_batch: int, n_batches: int, local_dir) -> None:
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"cdc-scaling-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_spark.config import EngineConfig
    from cdc_spark.loggen import change_log
    from cdc_spark.apply import CdcApply

    work = tempfile.mkdtemp(
        prefix=f"cdc_scale_{cpus}_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        cfg = EngineConfig(
            lake_root=os.path.join(work, "lake"),
            checkpoint=os.path.join(work, "ckpt"),
            n_buckets=64,
            shuffle_partitions=cpus,
        )
        applier = CdcApply(spark, cfg)
        timed = 0.0
        # batch 0 is the JIT/codegen warmup at full size, excluded from timing
        for i in range(n_batches):
            log = change_log(
                spark, per_batch,
                n_repos=5000, n_paths=200, delete_rate=0.05, dup_rate=0.01,
                start_lsn=1 + i * per_batch, seed=42,
            )
            t = time.time()
            applier.apply_batch(log, i)
            d = time.time() - t
            if i > 0:
                timed += d
        n_timed = (n_batches - 1) * per_batch
        print(json.dumps({
            "cpus": cpus, "sec": timed, "events": n_timed,
            "events_per_sec": n_timed / timed,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def _sha_work(_):
    import hashlib

    h = b"x" * 64
    for _ in range(600_000):
        h = hashlib.sha256(h).digest()
    return 1


def _bw_work(_):
    import numpy as np

    a = np.ones(25_000_000, dtype=np.float64)  # 200 MB
    b = np.empty_like(a)
    t = time.time()
    for _ in range(8):
        np.copyto(b, a)
    return 8 * a.nbytes * 2 / (time.time() - t) / 1e9


def _calibrate_cpu() -> dict:
    """Hardware ceiling probe: pure-CPU scaling via multiprocessing sha256
    (no JVM, no memory pressure)."""
    from multiprocessing import Pool

    work = _sha_work
    out = {}
    for n in (2, 8, 32):
        t = time.time()
        with Pool(n) as p:
            p.map(work, range(n))
        out[n] = n / (time.time() - t)  # units of work per second
    return {
        "sha_units_per_sec": {str(k): round(v, 2) for k, v in out.items()},
        "cpu_speedup_8_to_32": round(out[32] / out[8], 3),
        "cpu_speedup_2_to_8": round(out[8] / out[2], 3),
    }


def _calibrate_bandwidth() -> dict:
    """Hardware ceiling probe: aggregate memory bandwidth (copy) at each
    parallelism level."""
    from multiprocessing import Pool

    bw = _bw_work
    out = {}
    for n in (2, 8, 32):
        with Pool(n) as p:
            out[n] = sum(p.map(bw, range(n)))
    return {
        "copy_gb_per_sec": {str(k): round(v, 1) for k, v in out.items()},
        "bw_speedup_8_to_32": round(out[32] / out[8], 3),
        "bw_speedup_2_to_8": round(out[8] / out[2], 3),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        run_child(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
        return
    per_batch = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    results = {}
    for cpus in (2, 8, 32):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus),
             str(per_batch), str(n_batches)],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(line, flush=True)

    summary = {
        "events_per_batch": per_batch,
        "timed_batches": n_batches - 1,
        "events_per_sec": {
            str(c): round(r["events_per_sec"], 1) for c, r in results.items()
        },
        "engine_speedup_8_to_32": round(
            results[32]["events_per_sec"] / results[8]["events_per_sec"], 3
        ),
        "engine_speedup_2_to_8": round(
            results[8]["events_per_sec"] / results[2]["events_per_sec"], 3
        ),
        "scaling_efficiency_8_to_32": round(
            results[32]["events_per_sec"] / results[8]["events_per_sec"] / 4, 3
        ),
        "scaling_efficiency_2_to_8": round(
            results[8]["events_per_sec"] / results[2]["events_per_sec"] / 4, 3
        ),
        "hw_calibration_cpu": _calibrate_cpu(),
        "hw_calibration_bandwidth": _calibrate_bandwidth(),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
