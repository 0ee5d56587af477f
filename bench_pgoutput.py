#!/usr/bin/env python
"""pgoutput wire-decode throughput probe (one-off, NOT the driver bench).

Materializes a binary pgoutput stream from the deterministic loggen
envelope (encode is the test harness, excluded from timing), then times
the wire -> ENVELOPE decode (parse_pgoutput: JVM routing + Arrow-batched
tuple walk + JVM envelope lift) and, for context, the TEXT frame path
(to_frames -> parse_frames, pure column expressions) over the same
events. Runs at two parallelism levels for the N -> 4N scaling datapoint.

Prints one JSON line. Env: PGO_EVENTS (default 2_000_000),
PGO_CPUS ("8,32").
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

BASE = "/tmp/bench_pgoutput"
HERE = os.path.dirname(os.path.abspath(__file__))


def _one(cpus: int, n: int) -> dict:
    """Run encode-once + timed decode in a FRESH process (clean JVM)."""
    code = f"""
import sys, time, shutil
sys.path.insert(0, {HERE!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[{cpus}]")
         .appName("pgo-probe")
         .config("spark.sql.shuffle.partitions", "{cpus}")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from cdc_spark.loggen import change_log, to_frames
from cdc_spark.pgoutput import encode_envelope, parse_pgoutput
from cdc_spark.parse import parse_frames

log = change_log(spark, {n}, n_repos=1000, n_paths=200, seed=9,
                 content_repeat=4)
wire = encode_envelope(log)
wire.write.mode("overwrite").parquet("{BASE}/wire")
to_frames(log).write.mode("overwrite").parquet("{BASE}/frames")

w = spark.read.parquet("{BASE}/wire")
t0 = time.time(); n_bin = parse_pgoutput(w).count(); bin_s = time.time() - t0
f = spark.read.parquet("{BASE}/frames")
t0 = time.time(); n_txt = parse_frames(f).count(); txt_s = time.time() - t0
print("RESULT", n_bin, round(bin_s, 2), n_txt, round(txt_s, 2))
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3000,
        env={**os.environ, "PYTHONPATH": HERE},
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    if not line:
        raise RuntimeError(out.stderr[-2000:])
    n_bin, bin_s, n_txt, txt_s = line[0].split()[1:]
    return {
        "cpus": cpus,
        "binary_rows": int(n_bin),
        "binary_sec": float(bin_s),
        "binary_ev_s": round(int(n_bin) / float(bin_s)),
        "text_rows": int(n_txt),
        "text_sec": float(txt_s),
        "text_ev_s": round(int(n_txt) / float(txt_s)),
    }


def main() -> None:
    n = int(os.environ.get("PGO_EVENTS", 2_000_000))
    cpus = [int(c) for c in os.environ.get("PGO_CPUS", "8,32").split(",")]
    runs = [_one(c, n) for c in cpus]
    shutil.rmtree(BASE, ignore_errors=True)
    eff = None
    if len(runs) >= 2 and runs[-1]["cpus"] > runs[0]["cpus"]:
        ratio = runs[-1]["cpus"] / runs[0]["cpus"]
        eff = round(
            (runs[-1]["binary_ev_s"] / runs[0]["binary_ev_s"]) / ratio, 3
        )
    print(json.dumps({
        "metric": "pgoutput_decode_ev_s",
        "value": runs[-1]["binary_ev_s"],
        "unit": "events/sec",
        "events": n,
        "runs": runs,
        "binary_scaling_efficiency": eff,
    }))


if __name__ == "__main__":
    main()
