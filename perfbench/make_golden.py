#!/usr/bin/env python3
"""Record ``golden.json``: the pair-set digests of the three near-dup
operators on the fixed golden corpus, computed by each operator's DuckDB
oracle SQL from the query registry (not by the Spark operators). Run from
the root of a checkout when the corpus generator or an operator's intended
output changes:

    python3 perfbench/make_golden.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    import duckdb

    from harness import Checkout, cores, start_spark, stop_spark
    from stats import pair_digest
    from workloads import CorpusNearDup as C

    co = Checkout(ROOT, "golden", C.golden_seed, False)
    co.prepare()
    n, _ = cores()
    spark = start_spark(co, n, False)
    try:
        from cdc_spark.loggen import realistic_docs
        from cdc_spark.queries import registry

        path = co.path("golden", "documents.parquet")
        realistic_docs(spark, C.golden_docs, seed=C.golden_seed).write.parquet(path)
    finally:
        stop_spark(spark)
    out = {}
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
        for op in C.ops:
            rows = con.execute(
                f"SELECT doc_a, doc_b FROM ({registry()[op][1]})"
            ).fetchall()
            out[op] = list(pair_digest(rows))
    co.cleanup()
    doc = {
        "corpus_neardup": out,
        "corpus": {"generator": "cdc_spark.loggen.realistic_docs",
                   "n_docs": C.golden_docs, "seed": C.golden_seed},
    }
    with open(os.path.join(HERE, "golden.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(json.dumps(doc))
    return 0


if __name__ == "__main__":
    sys.exit(main())
