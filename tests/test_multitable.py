"""Multi-table routing (F2): one stream carrying several tables demuxes into
per-table lakes, each matching its own oracle replay; plus plan-level checks
that lake reads keep parquet pushdown."""

import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import DML_OPS, EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay


def test_multi_table_demux(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("mt2")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    a = change_log(spark, 1200, n_repos=10, delete_rate=0.1, table="repos",
                   truncate_lsns=(600,), seed=41)
    b = change_log(spark, 900, n_repos=6, delete_rate=0.05, table="issues",
                   start_lsn=5000, seed=43)
    log = a.unionByName(b)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log.filter(F.pmod("lsn", F.lit(2)) == 0), 0)
    applier.apply_batch(log.filter(F.pmod("lsn", F.lit(2)) == 1), 1)

    pdf = log.toPandas()
    for t in ("repos", "issues"):
        lake = applier.lake_for(t)
        assert lake.meta["table"] == t
        assert_matches(
            lake.read().toPandas(), replay(pdf, cfg.base_fields, table=t)
        )
    # truncate watermark is per-table
    assert applier.lake_for("repos").truncate_lsn == 600
    assert applier.lake_for("issues").truncate_lsn == -1


def test_lake_read_pushdown(spark, tmpdir_factory_clean):
    """Filters on the live view reach the parquet scan (PushedFilters) and
    the scan schema is pruned to the selected columns."""
    root = tmpdir_factory_clean("pd")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    applier.apply_batch(change_log(spark, 500, n_repos=10, seed=3), 0)
    lake = applier.lake_for("repos")
    q = lake.read().filter(F.col("repo") == "repo-1").select("repo", "path")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "repo" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "content" not in read_schema  # column pruning held


def test_multi_table_lineage_rows(spark, tmpdir_factory_clean):
    """A batch carrying two tables merges them on the thread pool; each
    table's metrics row carries the counts of its own merge, and they equal
    that table's deduped winners."""
    root = tmpdir_factory_clean("mtl")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    a = change_log(spark, 1200, n_repos=10, delete_rate=0.1, table="repos",
                   seed=41)
    b = change_log(spark, 900, n_repos=6, delete_rate=0.2, table="issues",
                   start_lsn=5000, seed=43)
    applier = CdcApply(spark, cfg)
    infos = applier.apply_batch(a.unionByName(b), 0)
    assert len(infos) == 2
    m = applier.metrics().toPandas().set_index("table")
    assert sorted(m.index) == ["issues", "repos"]
    pdf = a.unionByName(b).toPandas()
    for t, src in (("repos", a), ("issues", b)):
        live = replay(pdf, cfg.base_fields, table=t)
        winners = (
            src.filter(F.col("op").isin(*DML_OPS))
            .groupBy(*cfg.key).agg(F.max_by("op", "lsn").alias("op"),
                                         F.max("lsn").alias("lsn"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count(F.when(F.col("op") == "delete", 1)).alias("d"),
                 F.min("lsn").alias("lo"), F.max("lsn").alias("hi"))
            .collect()[0]
        )
        row = m.loc[t]
        assert row["upserts"] == winners["n"] - winners["d"] == len(live), t
        assert row["deletes"] == winners["d"], t
        assert (row["min_lsn"], row["max_lsn"]) == (winners["lo"], winners["hi"])
