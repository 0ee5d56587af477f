"""Crash-window robustness: a failure between the data-file write and the
manifest publish leaves an orphan staging dir that the retry must overwrite;
wide payloads take the narrow-dedup path end-to-end."""

import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay


def test_orphan_data_dir_from_pre_publish_crash(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("cr")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 1000, n_repos=10, delete_rate=0.1, seed=59)
    applier.apply_batch(log.filter(F.col("lsn") <= 500), 0)

    # simulate: batch 1 wrote data/v2 then died before publishing v2.json
    orphan = os.path.join(root, "repos", "data", "v2", "_bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-garbage.parquet"), "w") as fh:
        fh.write("not parquet")

    # retry of batch 1 must overwrite the orphan and commit cleanly
    applier.apply_batch(log.filter(F.col("lsn") > 500), 1)
    lake = applier.lake_for("repos")
    assert lake.version == 2
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))
    # no manifest file ever references the garbage
    for s in lake.snapshot_log():
        for f in s["files"]:
            assert "garbage" not in f["path"]


def test_wide_payload_narrow_dedup_end_to_end(spark, tmpdir_factory_clean):
    """KB-scale content exercises the LWW reduce + broadcast merge path the
    way real source files would."""
    root = tmpdir_factory_clean("wide")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4,
    )
    applier = CdcApply(spark, cfg)
    log = change_log(
        spark, 1500, n_repos=8, n_paths=4, delete_rate=0.1, dup_rate=0.05,
        content_repeat=32, seed=61,
    )
    applier.apply_batch(log.filter(F.col("lsn") <= 700), 0)
    applier.apply_batch(log.filter(F.col("lsn") > 700), 1)
    lake = applier.lake_for("repos")
    got = lake.read().toPandas()
    assert got["content"].str.len().max() > 1000
    assert_matches(got, replay(log.toPandas(), cfg.base_fields))
