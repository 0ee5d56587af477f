"""Lake hardening: optimistic-concurrency commit protection, time travel,
snapshot expiry / retention."""

import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.lake import ConcurrentCommitError, LakeTable
from cdc_spark.loggen import change_log


def _applied(spark, root, n_batches=3, n=900):
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, n, n_repos=10, delete_rate=0.1, seed=97)
    per = n // n_batches
    for i in range(n_batches):
        applier.apply_batch(
            log.filter(
                (F.col("lsn") > i * per) & (F.col("lsn") <= (i + 1) * per)
            ),
            i,
        )
    return applier.lake_for("repos"), log


def test_concurrent_commit_rejected(spark, tmpdir_factory_clean):
    """Two writers racing to publish the same version: the second one gets
    ConcurrentCommitError, never a silent clobber."""
    root = tmpdir_factory_clean("cc")
    lake, log = _applied(spark, root, n_batches=1, n=300)
    stale = LakeTable(spark, os.path.join(root, "repos"))
    # both see version V; first commit wins
    batch = (
        log.filter(F.col("lsn") <= 100)
        .select(
            "repo", "path", "commit", "lang", "content",
            F.col("lsn").alias("_lsn"), F.lit(False).alias("_deleted"),
            F.lit(None).cast("map<string,string>").alias("_extra"),
        )
    )
    lake.refresh().merge(batch, batch_id=1, lsn_hwm=301)
    with pytest.raises(ConcurrentCommitError):
        stale.merge(batch, batch_id=1, lsn_hwm=301)


def test_time_travel(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("tt")
    lake, _ = _applied(spark, root, n_batches=3)
    v_now = lake.version
    now_rows = lake.read().count()
    v1_rows = lake.read(version=1).count()
    assert v_now > 1
    assert 0 < v1_rows <= now_rows
    # reading an old version does not disturb the handle
    assert lake.version == v_now
    assert lake.read().count() == now_rows


def test_expire_snapshots(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("ex")
    lake, log = _applied(spark, root, n_batches=3)
    import pandas as pd

    # merges only append, so the expired versions' delta files are
    # unreferenced once compaction has folded them
    lake.compact()
    before = lake.read().toPandas()
    info = lake.expire_snapshots(keep_last=1)
    assert info["expired_versions"] and info["files_removed"] > 0
    after = lake.refresh().read().toPandas()
    pd.testing.assert_frame_equal(
        before.sort_values(["repo", "path"]).reset_index(drop=True),
        after.sort_values(["repo", "path"]).reset_index(drop=True),
    )
    # expired versions are gone for time travel
    with pytest.raises(FileNotFoundError):
        lake.read(version=1)
    # but the engine can still append
    applier = CdcApply(
        spark,
        EngineConfig(
            lake_root=root, checkpoint=os.path.join(root, "_ck2"), n_buckets=4
        ),
    )
    applier.apply_batch(change_log(spark, 100, n_repos=10, start_lsn=2000, seed=1), 99)
    assert applier.lake_for("repos").read().count() >= len(after)
