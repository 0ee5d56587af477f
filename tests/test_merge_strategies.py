"""A copy-on-write merge runs one plan, 'agg' (union the touched buckets'
files with the batch, repartition by bucket, one LWW reduce): it must match
the LSN oracle and write each touched bucket back as exactly one file."""

import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import BASE_FIELDS, EngineConfig
from cdc_spark.lake import LakeTable
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay


def test_join_and_agg_strategies_identical(spark, tmpdir_factory_clean):
    """Every COW merge takes 'agg', and the lake equals the LSN oracle —
    also for a column whose name holds a dot (a quoted Postgres
    identifier) that joins mid-log, so later batches reduce it as a plain
    column name."""
    root = tmpdir_factory_clean("a")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 3000, n_repos=25, n_paths=8, delete_rate=0.1,
                     dup_rate=0.03, seed=53,
                     schema_changes={700: {"action": "add", "column": "a.b",
                                           "type": "long"}})
    infos = []
    for i in range(3):
        b = log.filter(F.pmod(F.xxhash64("lsn", F.lit(7)), F.lit(3)) == i)
        infos.extend(applier.apply_batch(b, i))
    assert {i["strategy"] for i in infos} == {"agg"}
    lake = applier.lake_for("repos")
    assert "a.b" in lake.read().columns
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_cow_merge_writes_one_file_per_affected_bucket(
    spark, tmpdir_factory_clean
):
    """Small batches into a lake many times their size: after every merge
    each bucket the batch touched holds exactly one data file, so COW
    buckets do not grow a file per merge."""
    root = tmpdir_factory_clean("onefile")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    # ~800 live keys from the first 3000 events, then 150-event batches:
    # the lake stays > 4x every batch
    log = change_log(spark, 3450, n_repos=40, n_paths=20, zipf=1.0,
                     delete_rate=0.05, dup_rate=0.03, seed=71)
    bounds = [0, 3000, 3150, 3300, 3450]
    infos = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        batch = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        (info,) = applier.apply_batch(batch, i)
        assert info["affected_buckets"]
        files = applier.lake_for("repos").meta["files"]
        for bkt in info["affected_buckets"]:
            assert sum(f["bucket"] == bkt for f in files) == 1, (i, bkt)
        infos.append(info)
    assert {i["strategy"] for i in infos} == {"agg"}
    lake = applier.lake_for("repos")
    assert sum(f["rows"] for f in lake.meta["files"]) > 4 * 150
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_cow_merge_shuffles_once_by_bucket(spark, tmpdir_factory_clean,
                                           monkeypatch):
    """The COW merge plan has ONE exchange, hash-partitioned on the bucket:
    the LWW reduce groups by (bucket, key) inside that partitioning and
    adds no key exchange of its own. The later batch still wins."""
    root = tmpdir_factory_clean("oneexchange")
    lake = LakeTable.create(
        spark, os.path.join(root, "t"), fields=list(BASE_FIELDS), n_buckets=4
    )
    ddl = ("repo STRING, path STRING, `commit` STRING, lang STRING, "
           "content STRING, _lsn BIGINT, _deleted BOOLEAN, "
           "_extra MAP<STRING,STRING>")

    def batch(lsn0):
        return spark.createDataFrame(
            [(f"repo-{i}", "a.py", "c", "py", f"v{lsn0 + i}", lsn0 + i,
              False, None) for i in range(40)],
            ddl,
        )

    plans = []
    write = LakeTable._write_data

    def spy(self, merged, out_dir):
        plans.append(merged._jdf.queryExecution().executedPlan().toString())
        write(self, merged, out_dir)

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    lake.merge(batch(100), batch_id=0, lsn_hwm=200)
    info = lake.merge(batch(300), batch_id=1, lsn_hwm=400)
    assert info["strategy"] == "agg" and len(info["affected_buckets"]) > 1
    exchanges = [l for l in plans[-1].splitlines() if "Exchange " in l]
    assert len(exchanges) == 1 and "_bucket" in exchanges[0], plans[-1]
    got = {r["repo"]: r["content"] for r in lake.read().collect()}
    assert got == {f"repo-{i}": f"v{300 + i}" for i in range(40)}
