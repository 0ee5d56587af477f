#!/usr/bin/env python
"""Product-quantization scale probe (one-off, NOT the driver bench):
encode throughput + CODES-ONLY ADC search latency over a synthetic
clustered corpus at two
parallelism levels — evidence for the two PQ scale claims: (1) encode is
ONE pass over the corpus (broadcast codebooks, map-side scoring,
partial-aggregated min_by), (2) ADC search reads ONLY the n x m codes
table (the raw vectors are written but never scanned at search time).

Each parallelism level runs in a FRESH process (clean JVM). The corpus is
deterministic pseudo-random cluster centers + small per-vector noise, so
ADC has real structure to rank. Prints one JSON line. Env: PQ_VECS
(default 200_000), PQ_DIM (64), PQ_CPUS ("8,32")."""

from __future__ import annotations

import json
import os
import subprocess
import sys

BASE = "/tmp/bench_pq"
HERE = os.path.dirname(os.path.abspath(__file__))


def _one(cpus: int, n: int, dim: int) -> dict:
    code = f"""
import sys, time
sys.path.insert(0, {HERE!r})
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[{cpus}]")
         .appName("pq-probe")
         .config("spark.sql.shuffle.partitions", "{cpus}")
         .config("spark.driver.memory", "8g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from cdc_spark.functions.pq import pq_codes, pq_adc_topk, ivfpq_topk

n, dim, n_clusters = {n}, {dim}, 256
rng = spark.range(n)
# cluster center c = id % n_clusters; coord d = center hash +- noise
center = (F.col("id") % n_clusters).cast("string")
coords = [
    (F.pmod(F.xxhash64(center, F.lit(f"c{{d}}")), F.lit(2001)).cast("double")
     - 1000.0) / 1000.0
    + (F.pmod(F.xxhash64(F.col("id").cast("string"), F.lit(f"n{{d}}")),
              F.lit(201)).cast("double") - 100.0) / 2000.0
    for d in range(dim)
]
vecs = rng.select(F.col("id").alias("vec_id"),
                  F.array(*coords).alias("v"))
vecs.write.mode("overwrite").parquet("{BASE}/vecs")
e = spark.read.parquet("{BASE}/vecs")

t0 = time.time()
codes, books = pq_codes(e, n)
codes.write.mode("overwrite").parquet("{BASE}/codes")
books.write.mode("overwrite").parquet("{BASE}/books")
enc_s = time.time() - t0

# search phase: the production shape — ADC over the STORED codes only
# (no retrain, no raw-vector scan; `index=` short-circuits the encode)
stored = (spark.read.parquet("{BASE}/codes"),
          spark.read.parquet("{BASE}/books"))
q = e.filter(F.col("vec_id") < 64).select(
    F.col("vec_id").alias("query_id"), "v")
t0 = time.time()
topk = pq_adc_topk(e, q, n, index=stored)
n_out = topk.count()
search_s = time.time() - t0

# ivfpq end-to-end (coarse train via sampled two-level + residual encode
# + probed search) — ONE number for the composed operator's full cost
t0 = time.time()
n_ivfpq = ivfpq_topk(e, q, n).count()
ivfpq_s = time.time() - t0
print("RESULT", round(enc_s, 2), round(search_s, 2), n_out,
      round(ivfpq_s, 2), n_ivfpq)
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3000,
        env={**os.environ, "PYTHONPATH": HERE},
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    if not line:
        raise RuntimeError(out.stderr[-2000:])
    enc_s, search_s, n_out, ivfpq_s, n_iv = line[0].split()[1:]
    return {
        "cpus": cpus,
        "encode_sec": float(enc_s),
        "encode_vecs_per_sec": round(n / float(enc_s)),
        "adc_search_sec": float(search_s),
        "topk_rows": int(n_out),
        "ivfpq_e2e_sec": float(ivfpq_s),
        "ivfpq_rows": int(n_iv),
    }


def main() -> None:
    n = int(os.environ.get("PQ_VECS", 200_000))
    dim = int(os.environ.get("PQ_DIM", 64))
    cpus = [int(c) for c in os.environ.get("PQ_CPUS", "8,32").split(",")]
    runs = [_one(c, n, dim) for c in cpus]
    import shutil

    shutil.rmtree(BASE, ignore_errors=True)
    eff = None
    if len(runs) >= 2 and runs[-1]["cpus"] > runs[0]["cpus"]:
        ratio = runs[-1]["cpus"] / runs[0]["cpus"]
        eff = round(
            (runs[-1]["encode_vecs_per_sec"] / runs[0]["encode_vecs_per_sec"])
            / ratio,
            3,
        )
    print(json.dumps({
        "metric": "pq_encode_vecs_per_sec",
        "value": runs[-1]["encode_vecs_per_sec"],
        "unit": "vecs/sec",
        "vecs": n,
        "dim": dim,
        "runs": runs,
        "encode_scaling_efficiency": eff,
    }))


if __name__ == "__main__":
    main()
