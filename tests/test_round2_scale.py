"""Round-2 scale fixes: partitioned gap audit, the apply path's LWW reduce,
oracled multimodal features."""

import contextlib
import io
import os

import duckdb
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.monitor import gap_audit
from cdc_spark.oracle import assert_matches, replay

SF = "/root/testdata/sf0.001"


def test_gap_audit_matches_naive_and_handles_boundaries(spark):
    """Bucketed gap audit == the naive global-window formulation, including
    gaps that span multiple (empty) buckets and single-LSN gaps."""
    missing = (
        set(range(120, 480)) | set(range(1000, 1003)) | {2500}
        | set(range(4000, 4990))
    )
    lsns = [x for x in range(1, 5000) if x not in missing]
    df = spark.createDataFrame([(x,) for x in lsns], "lsn BIGINT")
    got = [
        (r["gap_start"], r["gap_end"])
        for r in gap_audit(df, "lsn", n_buckets=16).orderBy("gap_start").collect()
    ]
    prev = F.lag("lsn").over(Window.orderBy("lsn"))
    want = [
        (r["gap_start"], r["gap_end"])
        for r in df.select("lsn", prev.alias("p"))
        .filter(F.col("p").isNotNull() & (F.col("lsn") > F.col("p") + 1))
        .select((F.col("p") + 1).alias("gap_start"), (F.col("lsn") - 1).alias("gap_end"))
        .orderBy("gap_start")
        .collect()
    ]
    assert got == want == [(120, 479), (1000, 1002), (2500, 2500), (4000, 4989)]


def test_gap_audit_plan_has_no_single_partition_exchange(spark):
    df = spark.range(1, 100000).withColumnRenamed("id", "lsn").filter(
        F.pmod("lsn", F.lit(97)) != 0
    )
    out = gap_audit(df, "lsn")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange SinglePartition" not in buf.getvalue()


def test_gap_audit_empty_input(spark):
    df = spark.createDataFrame([], "lsn BIGINT")
    assert gap_audit(df, "lsn").count() == 0


def test_apply_with_tiny_dedup_broadcast_budget_matches_oracle(
    spark, tmpdir_factory_clean
):
    """E2E: the apply pipeline's LWW reduce stays result-identical to the
    LSN-ordered oracle across two batches."""
    root = tmpdir_factory_clean("db")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4,
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 1200, n_repos=10, delete_rate=0.1, dup_rate=0.04, seed=47)
    applier.apply_batch(log.filter(F.col("lsn") <= 600), 0)
    applier.apply_batch(log.filter(F.col("lsn") > 600), 1)
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_multimodal_features_matches_duckdb_oracle(spark):
    """The REAL mapInPandas decode path hash-matches the portable SQL fake."""
    from cdc_spark.functions.multimodal import (
        SQL_MULTIMODAL_FEATURES,
        q_multimodal_features,
    )

    got = q_multimodal_features(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = con.execute(SQL_MULTIMODAL_FEATURES).df()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        pd.testing.assert_series_equal(
            got[c].astype(str), want[c].astype(str), check_names=False
        )


def test_read_projection_keeps_filter_pushdown(spark, tmpdir_factory_clean):
    """The fold-cast lazy projection must not block predicate pushdown:
    the live view's _lsn (truncate) filter AND user key predicates reach
    the parquet scan even on an evolved table. The tombstone filter runs
    after the read-side LWW resolve, never in the scan: pushed below it, a
    delete would let the key's older live row win again."""
    import contextlib
    import io as _io

    root = tmpdir_factory_clean("pd")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    changes = {
        400: {"action": "add", "column": "stars", "type": "string"},
        900: {"action": "retype", "column": "stars", "type": "long"},
    }
    log = change_log(spark, 1200, n_repos=10, schema_changes=changes, seed=3)
    applier.apply_batch(log.filter(F.col("lsn") <= 600), 0)
    applier.apply_batch(log.filter(F.col("lsn") > 600), 1)
    lake = applier.lake_for("repos")
    df = lake.read().filter(F.col("repo") == "repo-3")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    for ln in pushed:
        assert "EqualTo(repo,repo-3)" in ln
        assert "_lsn" in ln and "_deleted" not in ln


def test_rate_backend_feeds_consumer_pipeline(spark, tmpdir_factory_clean):
    """Backend-agnostic consumer: the rate source drives the SAME apply
    pipeline into the lake; the materialized state matches the oracle over
    exactly the LSNs that were generated."""
    import time

    from cdc_spark.oracle import replay
    from cdc_spark.stream import start_stream

    root = tmpdir_factory_clean("ratec")
    cfg = EngineConfig(
        lake_root=os.path.join(root, "lake"),
        checkpoint=os.path.join(root, "ckpt"),
        n_buckets=4,
    )
    q, applier = start_stream(
        spark, None, cfg,
        available_now=False, processing_time="1 second",
        source="rate",
        source_conf={"rows_per_second": 2000, "n_repos": 8, "seed": 77},
    )
    deadline = time.time() + 90
    while time.time() < deadline:
        lake_dir = os.path.join(root, "lake", "repos")
        from cdc_spark.lake import LakeTable

        if LakeTable.exists(lake_dir) and LakeTable(spark, lake_dir).last_batch["id"] >= 1:
            break
        time.sleep(1)
    q.stop()
    q.awaitTermination()
    lake = applier.lake_for("repos").refresh()
    hwm = lake.last_batch["lsn_hwm"]
    assert hwm > 0
    # rate LSNs are contiguous 1..hwm-ish per trigger; replay exactly the
    # applied prefix (every lsn <= hwm was delivered in order by the source)
    want = replay(
        change_log(spark, int(hwm), n_repos=8, seed=77).toPandas(),
        cfg.base_fields,
    )
    from cdc_spark.oracle import assert_matches

    assert_matches(lake.read().toPandas(), want)


def test_training_pipeline_matches_oracle(spark):
    """The composed prep pipeline (quality filter -> exact dedup -> LSH
    near-dup removal -> corpus stats) hash-matches DuckDB end to end."""
    from cdc_spark.functions.pipeline import (
        q_training_pipeline,
        sql_training_pipeline,
    )

    got = q_training_pipeline(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    want = con.execute(sql_training_pipeline()).df()
    cols = sorted(got.columns)
    a = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    b = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert got["n_docs"].sum() > 0
