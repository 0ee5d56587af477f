"""The two physical merge strategies (broadcast-join vs shuffle-agg) must be
result-identical; only their data movement differs."""

import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay


def _run(spark, root, strategy_rows):
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    applier = CdcApply(spark, cfg)
    # a column whose name holds a dot (a quoted Postgres identifier) joins
    # mid-log, so later batches reduce it as a plain column name
    log = change_log(spark, 3000, n_repos=25, n_paths=8, delete_rate=0.1,
                     dup_rate=0.03, seed=53,
                     schema_changes={700: {"action": "add", "column": "a.b",
                                           "type": "long"}})
    for i in range(3):
        b = log.filter(F.pmod(F.xxhash64("lsn", F.lit(7)), F.lit(3)) == i)
        lake = applier.lake_for("repos")
        lake.broadcast_max_rows = strategy_rows
        applier.apply_batch(b, i)
    return applier.lake_for("repos"), log


def test_join_and_agg_strategies_identical(spark, tmpdir_factory_clean):
    r_join = tmpdir_factory_clean("j")
    r_agg = tmpdir_factory_clean("a")
    lake_j, log = _run(spark, r_join, strategy_rows=10_000_000)  # join path
    # force the agg fallback
    lake_a, _ = _run(spark, r_agg, strategy_rows=0)
    assert "a.b" in lake_a.read().columns
    pj = lake_j.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pa = lake_a.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(pj, pa)
    # and both match the oracle
    cfg_fields = EngineConfig().base_fields
    assert_matches(pj, replay(log.toPandas(), cfg_fields))


def test_join_strategy_does_not_shuffle_lake(spark, tmpdir_factory_clean):
    """Plan check: with the join strategy the old-file scan side reaches the
    union without an Exchange (only the small batch side repartitions)."""
    root = tmpdir_factory_clean("p")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    applier.apply_batch(change_log(spark, 1000, n_repos=10, seed=3), 0)
    lake = applier.lake_for("repos")
    old = lake._read_files(lake.meta["files"], lake.schema_fields())
    # the merge's keep_old shape: broadcast join then filter — no exchange
    bk = F.broadcast(
        lake.read(include_meta=True).select("repo", "path", F.col("_lsn").alias("_b"))
    )
    keep_old = old.join(bk, ["repo", "path"], "left").filter(
        F.col("_b").isNull() | (F.col("_b") <= F.col("_lsn"))
    )
    plan = keep_old._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the probe plan must not shuffle the parquet side
    assert "Exchange hashpartitioning" not in plan
