"""The vector kernels against the canonical Spark plans they replace, on
adversarial legal input: the nearest-centroid kernel
(``similarity._nearest``, behind ``_ivf_assign``, ``_sub_assign`` and
``_pq_assign``) and ``q_cosine_topk``'s scoring kernel."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_spark.functions.pq import _l2, _pq_assign
from cdc_spark.functions.similarity import (
    N_QUERIES,
    TOP_K,
    _cos,
    _ivf_assign,
    _nearest,
    _sub_assign,
    q_cosine_topk,
)
from cdc_spark.loggen import clustered_vectors

NAN = float("nan")
HALF = 0.0007071067811865475  # HALF * HALF == 5e-07: a 6-decimal half-way

#: case -> (rows (vec_id, group, vector), centroids (group, id, vector));
#: the ungrouped call scores every row against every centroid
CASES = {
    "exact_tie": (
        [(1, 0, [1.0, 1.0]), (2, 1, [1.0, 1.0]), (3, 1, [0.2, 0.9])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]), (0, 8, [-4.0, 0.5]),
         (1, 6, [0.0, 1.0]), (1, 2, [1.0, 0.0]), (1, 4, [-1.0, -1.0])],
    ),
    # raw scores < 1e-6 apart that round equal: the smaller id wins, not
    # the raw best; 5e-07 rounds HALF_UP on its decimal form to 1e-06
    "rounding_tie": (
        [(1, 0, [1.0, 0.0]), (2, 1, [5.0, 0.0]), (3, 2, [0.0, 1.0])],
        [(0, 4, [1.0, 4e-7 ** 0.5]), (0, 2, [1.0, 6e-7 ** 0.5]),
         (1, 7, [5.001, 0.0]), (1, 1, [5.0011, 0.0]),
         (2, 11, [HALF, 1.0]), (2, 10, [0.0011832, 1.0])],
    ),
    "duplicate_ids": (
        [(7, 0, [1.0, 0.2]), (7, 0, [0.1, 1.0]), (7, 1, [-1.0, -0.9]),
         (8, 1, [0.3, 0.4])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]),
         (1, 6, [0.0, 1.0]), (1, 4, [-1.0, -1.0])],
    ),
    # group 9 and the NULL group have no centroids; the ungrouped call
    # gets an empty centroid table
    "missing_group": (
        [(1, 0, [1.0, 1.0]), (2, 9, [1.0, 2.0]), (3, 1, [0.5, 0.4]),
         (4, None, [1.0, 0.0])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]),
         (1, 6, [0.0, 1.0]), (1, 4, [-1.0, -1.0])],
    ),
    "zero_vector": (
        [(1, 0, [0.0, 0.0]), (2, 0, [1.0, 1.0]), (3, 1, [1.0, 0.0])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]),
         (1, 6, [0.0, 1.0]), (1, 4, [-1.0, -1.0])],
    ),
    # NaN ranks above every number: it wins a max and loses a min, even
    # to an overflowed +inf distance (row 5)
    "nan_component": (
        [(1, 0, [NAN, 1.0]), (2, 1, [1.0, NAN]), (3, 0, [1.0, 1.0]),
         (4, 1, [0.5, 0.5]), (5, 1, [1e200, 1.0])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]),
         (1, 6, [0.0, 1.0]), (1, 1, [NAN, 0.0]), (1, 4, [-1.0, -1.0])],
    ),
    # a NULL vector, a NULL element and a short vector all score NULL
    "null_vector": (
        [(1, 0, None), (2, 0, [1.0, 1.0]), (2, 0, None), (3, 1, [0.3, 0.7]),
         (4, 1, [1.0, None]), (5, 0, [1.0])],
        [(0, 5, [2.0, 1.0]), (0, 3, [1.0, 2.0]),
         (1, 6, [0.0, 1.0]), (1, 4, [-1.0, -1.0])],
    ),
}


def _calls(metric, grouped, rows, cents):
    """(kernel, canonical): the assign under test and the plan it replaces
    — a broadcast join + round(_cos|_l2, 6) + max_by / min_by."""
    if grouped:
        g, cid, vec = (
            ("coarse", "sub_id", "v") if metric == "cos" else ("sub", "code", "sv")
        )
        r = rows.select("vec_id", F.col("g").alias(g), F.col("v").alias(vec))
        c = cents.select(F.col("g").alias(g), F.col("id").alias(cid), "cv")
        kernel = (_sub_assign if metric == "cos" else _pq_assign)(r, c)
        keys, out, joined = ["vec_id", g], cid, r.join(F.broadcast(c), g)
    else:
        r = rows.select("vec_id", "v")
        c = cents.select(F.col("id").alias("cent_id"), "cv")
        kernel = (
            _ivf_assign(r, c) if metric == "cos" else _nearest(
                r, c.withColumnRenamed("cent_id", "cell"), "l2", "cell"
            )
        )
        cid, vec = "cent_id", "v"
        keys, out, joined = ["vec_id"], "cell", r.crossJoin(F.broadcast(c))
    if metric == "cos":
        score = F.round(_cos(F.col(vec), F.col("cv")), 6)
        pick = F.max_by(cid, F.struct(score, -F.col(cid)))
    else:
        score = F.round(_l2(F.col(vec), F.col("cv")), 6)
        pick = F.min_by(cid, F.struct(score, F.col(cid)))
    return kernel, joined.groupBy(*keys).agg(pick.alias(out))


def _outcome(df):
    """Sorted rows, or "DIVIDE_BY_ZERO" when the plan raises that."""
    try:
        return sorted(tuple(r) for r in df.collect())
    except Exception as exc:  # Spark wraps the JVM / Python error
        if "DIVIDE_BY_ZERO" not in str(exc):
            raise
        return "DIVIDE_BY_ZERO"


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("metric", ["cos", "l2"])
def test_nearest_kernel_matches_canonical(spark, metric, case):
    """Grouped (coarse / subspace) and ungrouped calls return exactly the
    canonical plan's rows, or raise where it raises. The rows sit in one
    Arrow batch (coalesce(1)), so a NULL vector shares it with others."""
    rows_l, cents_l = CASES[case]
    rows = spark.createDataFrame(
        rows_l, "vec_id BIGINT, g BIGINT, v ARRAY<DOUBLE>"
    ).coalesce(1)
    cents = spark.createDataFrame(
        cents_l, "g BIGINT, id BIGINT, cv ARRAY<DOUBLE>"
    )
    for grouped in (True, False):
        c = cents.limit(0) if case == "missing_group" and not grouped else cents
        kernel, canonical = _calls(metric, grouped, rows, c)
        want = _outcome(canonical)
        assert _outcome(kernel) == want, (grouped, want)
        if case == "zero_vector":
            assert (want == "DIVIDE_BY_ZERO") == (metric == "cos")


def _corpus_plus(spark, extra, n=200, dim=64):
    """A clustered embedding corpus with ``extra`` constant vectors (or
    NULL) appended, as ``embeddings.parquet`` in a new directory."""
    e = clustered_vectors(spark, n, dim=dim).select("vec_id", "embedding")
    add = spark.createDataFrame(
        [(n + i, v if v is None else [v] * dim) for i, v in enumerate(extra)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    d = tempfile.mkdtemp(prefix="cos_topk_")
    e.unionByName(add).coalesce(1).write.parquet(
        os.path.join(d, "embeddings.parquet")
    )
    return d


def _canonical_topk(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        F.broadcast(q).crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("cand_id"),
            F.round(_cos(F.col("qv"), F.col("v")), 4).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def test_cosine_topk_zero_vector_raises(spark):
    """A zero-norm candidate divides by zero, as in the canonical plan —
    it does not rank first on a NaN score."""
    d = _corpus_plus(spark, [0.0])
    try:
        assert _outcome(_canonical_topk(spark, d)) == "DIVIDE_BY_ZERO"
        assert _outcome(q_cosine_topk(spark, d)) == "DIVIDE_BY_ZERO"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cosine_topk_null_vector_matches_canonical(spark):
    """A NULL-vector candidate scores NULL and ranks last."""
    d = _corpus_plus(spark, [None])
    try:
        got = _outcome(q_cosine_topk(spark, d))
        assert got == _outcome(_canonical_topk(spark, d))
        assert len(got) == N_QUERIES * TOP_K
    finally:
        shutil.rmtree(d, ignore_errors=True)
