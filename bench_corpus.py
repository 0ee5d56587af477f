#!/usr/bin/env python
"""Corpus-scale probe (one-off, NOT the driver bench): evidence that the
round-4 auto-sizing rules hold their promises as the corpus grows.

Sections (each prints one JSON line; a final line aggregates):

1. ``ivf50k``  — 50k clustered 64-d vectors: two-level quantizer
   (auto nlist=224 -> 15 coarse x 15 sub) vs the flat nlist=224 quantizer
   the round-3 verdict flagged: recall@5 against exact search, wall time,
   and the assign-score row volume each shape pays.
2. ``realistic`` — realistic_docs at 5k / 50k / 500k: auto-sized MinHash
   banding (the rule picks (16,4,4) / (24,3,8) / (36,3,12)) and SimHash —
   candidates/doc and planted-dup recall must stay flat-ish while docs
   grow 100x.
3. ``embedding`` — clustered vectors at 5k / 50k / 500k with 5-member
   latent near-dup groups: auto band bits (12 / 15 / 18) keep bucket
   occupancy ~constant, so blocked-join cost per doc is flat.
4. ``corpusops`` (NOT in the default set — run by name) — the corpus
   analytics ops (lm_surprisal, tfidf_topk, length_profile,
   source_overlap) on realistic_docs at 5k / 50k / 500k
   (``CORPUSOPS_SIZES`` overrides): wall time must grow ~linearly with
   the token count — these are groupBy/join pipelines with no
   corpus-squared stage.

Run: ``python bench_corpus.py [sections...]`` (default: all). Budget
~15-20 min for the full run at local[32]; results are recorded in
BENCH.md (this is builder evidence, not the driver's per-round bench).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time


def _driver_memory_gb(want: int = 24) -> int:
    """``want`` GB of driver heap, capped at three quarters of the host's
    physical memory (read from the host, so the probe never asks the JVM
    for more than the machine has)."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return max(1, min(want, host * 3 // 4))


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from bench import tmpfs_local_dir

    with tmpfs_local_dir() as local_dir:
        _run(local_dir)


def _run(local_dir: str | None) -> None:
    sections = set(sys.argv[1:]) or {"ivf50k", "realistic", "embedding"}
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cdc-spark-bench-corpus")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{_driver_memory_gb()}g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from cdc_spark.loggen import clustered_vectors, realistic_docs
    from cdc_spark.functions.similarity import (
        IVF_TOP_K,
        N_QUERIES,
        _topk_two_phase,
        _cos,
        _ivf_assign,
        ivf_autosize,
        ivf_centroids,
        ivf_search,
    )

    out: dict = {}

    # ------------------------------------------------- 1. IVF tree vs flat
    if "ivf50k" in sections:
        n = 50_000
        e = clustered_vectors(spark, n, dim=64, n_clusters=200).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        e = e.repartition(cpus).persist()
        e.count()
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        cand = e.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"))
        scored = (
            F.broadcast(q)
            .crossJoin(cand)
            .filter(F.col("query_id") != F.col("cand_id"))
            .select(
                "query_id", "cand_id",
                F.round(_cos(F.col("qv"), F.col("cv")), 4).alias("cosine"),
            )
        )
        t0 = time.time()
        exact = {
            (r["query_id"], r["cand_id"])
            for r in _topk_two_phase(
                scored, IVF_TOP_K, [F.desc("cosine"), F.asc("cand_id")]
            ).collect()
        }
        t_exact = time.time() - t0

        nlist = ivf_autosize(n)
        ncoarse = math.ceil(math.sqrt(nlist))
        nsub = math.ceil(nlist / ncoarse)

        t0 = time.time()
        two = {
            (r["query_id"], r["cand_id"])
            for r in ivf_search(e, nlist, n).collect()
        }
        t_two = time.time() - t0

        # the flat shape the verdict flagged: n x nlist broadcast scoring
        t0 = time.time()
        cents = ivf_centroids(e, dim=64, nlist=nlist)
        flat_assign_rows = _ivf_assign(e, cents).count()
        t_flat_assign = time.time() - t0

        out["ivf50k"] = {
            "n_vecs": n,
            "nlist_auto": nlist,
            "tree": f"{ncoarse}x{nsub}",
            "exact_sec": round(t_exact, 2),
            "two_level_sec": round(t_two, 2),
            "two_level_recall_at_5": round(
                len(exact & two) / max(len(exact), 1), 3
            ),
            "flat_train_assign_sec": round(t_flat_assign, 2),
            "assert_assign_all": flat_assign_rows == n,
            "scored_rows_flat": n * nlist,
            "scored_rows_two_level": n * (ncoarse + nsub),
            "scored_row_cut": round(nlist / (ncoarse + nsub), 1),
        }
        e.unpersist()
        print(json.dumps({"ivf50k": out["ivf50k"]}))

    # ------------------------------------- 2. realistic corpus, auto-sized
    if "realistic" in sections:
        from cdc_spark.functions.dedupe import (
            minhash_autosize,
            q_minhash_lsh_pairs,
            q_simhash_neardup_pairs,
        )

        res: dict = {}
        rwork = tempfile.mkdtemp(prefix="cdc_corpus500k_")
        try:
            for n in (5_000, 50_000, 500_000):
                p = os.path.join(rwork, f"n{n}")
                realistic_docs(spark, n).repartition(cpus).write.mode(
                    "overwrite"
                ).parquet(os.path.join(p, "documents.parquet"))
                planted = spark.range(37, n, 37).select(
                    (F.col("id") - 1).alias("doc_a"),
                    F.col("id").alias("doc_b"),
                )
                n_planted = planted.count()
                entry = {"banding_auto": minhash_autosize(n)}
                for name, fn in (
                    ("minhash", q_minhash_lsh_pairs),
                    ("simhash", q_simhash_neardup_pairs),
                ):
                    t0 = time.time()
                    pairs = fn(spark, p)
                    npairs = pairs.count()
                    hits = pairs.join(planted, ["doc_a", "doc_b"]).count()
                    entry[name] = {
                        "pairs": npairs,
                        "cands_per_doc": round(npairs / n, 3),
                        "planted_recall": round(hits / max(n_planted, 1), 3),
                        "sec": round(time.time() - t0, 2),
                    }
                res[f"n{n}"] = entry
                print(json.dumps({f"realistic_n{n}": entry}))
        finally:
            shutil.rmtree(rwork, ignore_errors=True)
        out["realistic"] = res

    # ------------------------- 3. embedding band bits auto-sizing growth
    if "embedding" in sections:
        from cdc_spark.functions.similarity import (
            EMB_BANDS,
            MAX_BUCKET_DOCS,
            _band_bucket_expr,
            emb_autosize_bits,
        )

        res = {}
        for n in (5_000, 50_000, 500_000):
            # 5-member latent near-dup groups
            e = clustered_vectors(spark, n, dim=64, n_clusters=n // 5)
            bits = emb_autosize_bits(n)
            t0 = time.time()
            parts = [
                e.select(
                    F.lit(band).alias("band"),
                    _band_bucket_expr(64, band, bits).alias("bucket"),
                )
                for band in range(EMB_BANDS)
            ]
            u = parts[0]
            for pp in parts[1:]:
                u = u.unionByName(pp)
            occ = u.groupBy("band", "bucket").count()
            row = occ.agg(
                F.count("*").alias("buckets"),
                F.max("count").alias("max_occ"),
                F.expr("percentile_approx(count, 0.99)").alias("p99_occ"),
                F.sum(
                    F.when(F.col("count") > MAX_BUCKET_DOCS, 1).otherwise(0)
                ).alias("dropped"),
            ).first()
            res[f"n{n}"] = {
                "bits_auto": bits,
                "buckets": row["buckets"],
                "max_occupancy": row["max_occ"],
                "p99_occupancy": int(row["p99_occ"]),
                "dropped_buckets": int(row["dropped"]),
                "sec": round(time.time() - t0, 2),
            }
            print(json.dumps({f"embedding_n{n}": res[f"n{n}"]}))
        out["embedding"] = res

    # ---------------- 4. corpus analytics ops: growth must track tokens
    if "corpusops" in sections:
        from cdc_spark.functions.cleaning import lm_surprisal
        from cdc_spark.functions.corpus import (
            length_profile,
            source_overlap,
            tfidf_topk,
        )

        res = {}
        cwork = tempfile.mkdtemp(prefix="cdc_corpusops_")
        try:
            sizes = [
                int(x)
                for x in os.environ.get(
                    "CORPUSOPS_SIZES", "5000,50000,500000"
                ).split(",")
            ]
            for n in sizes:
                p = os.path.join(cwork, f"n{n}", "documents.parquet")
                realistic_docs(spark, n).repartition(cpus).write.mode(
                    "overwrite"
                ).parquet(p)
                docs = spark.read.parquet(p)
                entry = {}
                for name, fn in (
                    (
                        "lm_surprisal",
                        lambda d: lm_surprisal(d.select("doc_id", "text")),
                    ),
                    (
                        "tfidf_topk",
                        lambda d: tfidf_topk(d.select("doc_id", "text")),
                    ),
                    (
                        "length_profile",
                        lambda d: length_profile(d.select("source", "text")),
                    ),
                    (
                        "source_overlap",
                        lambda d: source_overlap(d.select("source", "text")),
                    ),
                ):
                    t0 = time.time()
                    rows = fn(docs).count()
                    entry[name] = {
                        "rows": rows,
                        "sec": round(time.time() - t0, 2),
                    }
                res[f"n{n}"] = entry
                print(json.dumps({f"corpusops_n{n}": entry}))
        finally:
            shutil.rmtree(cwork, ignore_errors=True)
        out["corpusops"] = res

    print(json.dumps({"bench_corpus": out}))
    spark.stop()


if __name__ == "__main__":
    main()
