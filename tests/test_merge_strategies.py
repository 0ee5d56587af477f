"""Every lake merge takes one plan, 'append': the deduped batch becomes
new key-range-sharded delta files, no old file is read or rewritten, and
reads resolve the max-LSN row per key. The lake must match the LSN oracle,
and a merge must write only its batch's winners."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.lake import LakeTable
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.snapshot import bootstrap


def test_join_and_agg_strategies_identical(spark, tmpdir_factory_clean):
    """Every merge takes 'append', and the lake equals the LSN oracle —
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
    assert {i["strategy"] for i in infos} == {"append"}
    lake = applier.lake_for("repos")
    assert "a.b" in lake.read().columns
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_merge_appends_only_the_batch_winners(spark, tmpdir_factory_clean):
    """Small batches into a bootstrapped lake: each merge adds only new
    files, whose rows sum to that batch's winners (upserts + deletes in the
    metrics table), and keeps every earlier file."""
    root = tmpdir_factory_clean("append")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    log = change_log(spark, 1500, n_repos=40, n_paths=20, zipf=1.0,
                     delete_rate=0.05, dup_rate=0.03, seed=71)
    watermark = 900
    pre = replay(log.filter(F.col("lsn") <= watermark).toPandas(),
                 cfg.base_fields)
    bootstrap(
        spark, cfg,
        spark.createDataFrame(
            pre[[n for n, _ in cfg.base_fields]],
            ", ".join(f"`{n}` string" for n, _ in cfg.base_fields),
        ),
        lsn_watermark=watermark,
    )
    applier = CdcApply(spark, cfg)
    bounds = [watermark, 1100, 1300, 1500]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        before = {f["path"] for f in applier.lake_for("repos").meta["files"]}
        batch = log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        (info,) = applier.apply_batch(batch, i)
        files = applier.lake_for("repos").meta["files"]
        assert before <= {f["path"] for f in files}, i
        new = [f for f in files if f["path"] not in before]
        met = applier.metrics().filter(F.col("batch_id") == i).toPandas()
        winners = int(met["upserts"].sum() + met["deletes"].sum())
        assert info["strategy"] == "append"
        assert info["files_written"] == len(new)
        assert sum(f["rows"] for f in new) == winners > 0, i
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_typed_scan_widens_int32_lsn_files(spark, tmpdir_factory_clean):
    """Files are read under the manifest's schema, not one file's footer:
    a file whose _lsn was stored as INT32 (as bootstraps below 2**31 once
    wrote it) reads as BIGINT next to INT64 files, and the later row
    wins."""
    lake = LakeTable.create(
        spark, os.path.join(tmpdir_factory_clean("typed"), "t"),
        fields=[("k", "long"), ("v", "string")], key=("k",), n_buckets=2,
    )

    def batch(rows, lsn_type):
        return spark.createDataFrame(
            rows, "k BIGINT, v STRING, _lsn BIGINT, _deleted BOOLEAN, "
                  "_extra MAP<STRING,STRING>",
        ).withColumn("_lsn", F.col("_lsn").cast(lsn_type))

    lake.merge(batch([(1, "a", 5, False, None), (2, "b", 5, False, None)],
                     "int"), batch_id=0, lsn_hwm=5)
    lake.merge(batch([(2, "b2", 7, False, None)], "long"),
               batch_id=1, lsn_hwm=7)
    stored = {
        str(pq.read_schema(os.path.join(lake.root, f["path"]))
            .field("_lsn").type)
        for f in lake.meta["files"]
    }
    assert stored == {"int32", "int64"}
    got = lake.read(include_meta=True)
    assert dict(got.dtypes)["_lsn"] == "bigint"
    assert {(r["k"], r["v"], r["_lsn"]) for r in got.collect()} == {
        (1, "a", 5), (2, "b2", 7)
    }
    assert lake.lookup((2,)).collect()[0]["v"] == "b2"


def test_merge_info_counts_match_the_batch(spark, tmpdir_factory_clean):
    """The merge counts what it appends on its own write: over a batch
    written as several shards, rows / deletes / min_lsn / max_lsn equal a
    direct aggregation of the batch, once (the range partitioner's sampling
    pass must not count again). A manifest-only commit counts nothing."""
    lake = LakeTable.create(
        spark, os.path.join(tmpdir_factory_clean("counts"), "t"),
        fields=[("k", "long"), ("v", "string")], key=("k",), n_buckets=2,
    )
    batch = spark.range(3000).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("v"),
        (F.col("id") * 3 + 11).alias("_lsn"),
        (F.col("id") % 7 == 0).alias("_deleted"),
        F.lit(None).cast("map<string,string>").alias("_extra"),
    )
    want = batch.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("_deleted"), 1)).alias("deletes"),
        F.min("_lsn").alias("min_lsn"),
        F.max("_lsn").alias("max_lsn"),
    ).collect()[0].asDict()
    info = lake.merge(batch, batch_id=0, lsn_hwm=want["max_lsn"])
    assert info["files_written"] > 1
    assert {k: info[k] for k in want} == want
    assert want["rows"] == 3000 and want["deletes"] == 429
    empty = lake.merge(None, batch_id=1, lsn_hwm=want["max_lsn"])
    assert empty["strategy"] is None and empty["files_written"] == 0
    assert {k: empty[k] for k in want} == {
        "rows": 0, "deletes": 0, "min_lsn": None, "max_lsn": None
    }
    assert lake.merge(batch, batch_id=1, lsn_hwm=0)["skipped"]
