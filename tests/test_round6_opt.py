"""Round-6 optimization internals: every change here is result-preserving
by construction — these tests pin the equivalences and the new adaptive
picks (ngram rare-set broadcast guard, PQ assign kernel near-tie handling,
simhash kernel vs canonical plan)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_ngram_rare_broadcast_guard(spark, monkeypatch):
    """The stop-shingle filter's broadcast is guarded by a row budget; with
    the budget forced to 0 (shuffle-join fallback) the result is identical
    to the broadcast path."""
    import cdc_spark.functions.dedupe as dd

    sf = "/root/testdata/sf0.01"
    want = dd.q_ngram_jaccard_pairs(spark, sf).toPandas()
    monkeypatch.setattr(dd, "RARE_BROADCAST_MAX_ROWS", 0)
    got = dd.q_ngram_jaccard_pairs(spark, sf).toPandas()
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        want[cols].sort_values(cols).reset_index(drop=True),
        got[cols].sort_values(cols).reset_index(drop=True),
    )


def test_pq_assign_kernel_matches_canonical_on_ties(spark):
    """The Arrow-kernel nearest-codebook assignment must reproduce the
    canonical round(_l2, 6) + min_by(code, (d, code)) semantics EXACTLY —
    including 6-decimal rounding ties, which the kernel resolves with the
    same shortest-decimal HALF_UP rule. The fixture engineers exact and
    near ties: two codebook entries equidistant from a vector must resolve
    to the smaller code, and sub-1e-6 raw differences must follow the
    rounded comparison, not the raw one."""
    from cdc_spark.functions.pq import _l2, _pq_assign

    # codebook per sub: entries 0/1 symmetric around some vectors (exact
    # tie), entries 2/3 within <1e-6 of each other (rounding tie)
    books = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (0, 1, [2.0, 0.0]),
            (0, 2, [10.0, 0.0]),
            (0, 3, [10.0000004, 0.0]),
        ],
        "sub BIGINT, code BIGINT, cv ARRAY<DOUBLE>",
    )
    vecs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),        # exact tie 0 vs 1 -> code 0
            (2, 0, [0.4, 0.0]),        # clear win -> code 0
            (3, 0, [10.0000002, 0.0]),  # raw ties differ < 1e-6 -> rounded
            (4, 0, [9.0, 0.0]),        # clear win -> code 2
        ],
        "vec_id BIGINT, sub BIGINT, sv ARRAY<DOUBLE>",
    )
    got = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in _pq_assign(vecs, books).collect()
    }
    scored = vecs.join(F.broadcast(books), "sub").select(
        "vec_id", "sub", "code",
        F.round(_l2(F.col("sv"), F.col("cv")), 6).alias("d"),
    )
    want = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in scored.groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                F.col("code"), F.struct(F.col("d"), F.col("code"))
            ).alias("code")
        )
        .collect()
    }
    assert got == want
    assert got[(1, 0)] == 0  # exact tie -> smaller code


def test_simhash_kernel_matches_canonical(spark):
    """_simhash_kernel (the pair generator's full-compute path) must equal
    q_simhash (the canonical pruning-friendly plan) bit for bit, incl.
    multibyte text and Java-\\s-only token splitting (U+00A0 is NOT a
    Java whitespace and must stay inside tokens)."""
    import shutil
    import tempfile

    from cdc_spark.functions.dedupe import _simhash_kernel, q_simhash

    docs = [
        (0, "plain ascii words only here", "en", "s0"),
        (1, "nbsp stays glued but tabs\tsplit", "en", "s0"),
        (2, "café déjà-vu naïve façade", "fr", "s1"),
        (3, "emoji 🎉 mix 🚀 and ascii", "en", "s1"),
        (4, "", "en", "s2"),
        (5, "   \t\n ", "en", "s2"),
        (6, "repeat " * 50, "en", "s2"),
    ]
    d = tempfile.mkdtemp(prefix="simhash_eq_")
    try:
        spark.createDataFrame(
            docs, "doc_id BIGINT, text STRING, lang STRING, source STRING"
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        a = q_simhash(spark, d).toPandas()
        b = _simhash_kernel(spark, d).toPandas()
        pd.testing.assert_frame_equal(
            a.reset_index(drop=True), b.reset_index(drop=True)
        )
        # whitespace-only and empty docs are absent (explode semantics)
        assert set(a["doc_id"]) == {0, 1, 2, 3, 6}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_asof_cogroup_right_only_groups_pruned(spark):
    """asof_join_pandas drops right-only key groups before the cogroup
    (they emit nothing under left-as-of); result must equal the relational
    strategy on data where most order keys have no events."""
    from cdc_spark.functions.temporal import (
        asof_join_pandas,
        asof_join_relational,
    )

    events = spark.createDataFrame(
        [(1, 10, "2024-01-05 00:00:00"), (2, 20, "2024-02-01 12:00:00")],
        "event_id BIGINT, user_id BIGINT, ts_s STRING",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    orders = spark.createDataFrame(
        [(u, u * 100 + i, f"2024-01-0{1 + i} 00:00:00", float(u * 10 + i))
         for u in range(10, 60, 10) for i in range(3)],
        "user_id BIGINT, o_orderkey BIGINT, od_s STRING, o_totalprice DOUBLE",
    ).select(
        "user_id", "o_orderkey",
        F.col("od_s").cast("timestamp").alias("o_orderdate"), "o_totalprice",
    )
    a = asof_join_pandas(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_order=("o_orderkey",),
    ).toPandas()
    b = asof_join_relational(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        event_key="event_id", right_order=("o_orderkey",),
    ).toPandas()
    cols = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[cols].sort_values(cols).reset_index(drop=True),
        b[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )
