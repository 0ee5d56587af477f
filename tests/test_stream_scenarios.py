"""Streaming scenario tests (SURVEY.md §5): kill-and-resume, duplicate
delivery across restart, truncate + post-truncate inserts, metrics lineage."""

import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log, write_segments
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.stream import run_to_completion, start_stream


def _cfg(root, **kw):
    return EngineConfig(
        lake_root=os.path.join(root, "lake"),
        checkpoint=os.path.join(root, "ckpt"),
        n_buckets=8,
        **kw,
    )


def test_kill_and_resume(spark, tmpdir_factory_clean):
    """Crash after 2 microbatches, restart from checkpoint: no double-apply,
    final state equals the LSN-ordered oracle."""
    root = tmpdir_factory_clean("kr")
    log = change_log(spark, 3000, n_repos=25, delete_rate=0.1, dup_rate=0.03, seed=31)
    write_segments(log, os.path.join(root, "wal"), seg_size=500)

    cfg = _cfg(root, max_files_per_trigger=1)
    q, _ = start_stream(
        spark, os.path.join(root, "wal"), cfg, fail_after_batches=2
    )
    with pytest.raises(Exception):
        q.awaitTermination()

    # restart: Spark replays the failed batch, engine must skip re-committed
    applier = run_to_completion(spark, os.path.join(root, "wal"), cfg)
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))

    # exactly-once evidence: every committed batch id appears once in the
    # manifest chain, ids strictly increasing
    ids = [
        s["last_batch"]["id"]
        for s in lake.snapshot_log()
        if s["last_batch"]["id"] >= 0
    ]
    assert ids == sorted(set(ids))


def test_duplicate_segment_replay_via_new_checkpoint(spark, tmpdir_factory_clean):
    """Same WAL consumed twice (fresh checkpoint = full redelivery): final
    state unchanged — at-least-once input, exactly-once effect."""
    root = tmpdir_factory_clean("dup")
    log = change_log(spark, 1500, n_repos=15, delete_rate=0.1, seed=37)
    write_segments(log, os.path.join(root, "wal"), seg_size=300)

    cfg = _cfg(root)
    run_to_completion(spark, os.path.join(root, "wal"), cfg)
    # second pass from a fresh checkpoint replays everything
    cfg2 = EngineConfig(
        lake_root=cfg.lake_root,
        checkpoint=os.path.join(root, "ckpt2"),
        n_buckets=8,
    )
    applier = run_to_completion(spark, os.path.join(root, "wal"), cfg2)
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_truncate_mid_stream_and_late_truncate(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("tr")
    log = change_log(
        spark, 2500, n_repos=20, delete_rate=0.08, truncate_lsns=(1200,), seed=41
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    # batches split so the truncate arrives in batch 1, then a LATE-arriving
    # pre-truncate straggler (lsn < 1200) in batch 2 — must stay dead
    b0 = log.filter(F.col("lsn") <= 1100)
    b1 = log.filter((F.col("lsn") > 1150) & (F.col("lsn") <= 2000))
    late = log.filter((F.col("lsn") > 1100) & (F.col("lsn") <= 1150))
    b2 = log.filter(F.col("lsn") > 2000).unionByName(late)
    for i, b in enumerate([b0, b1, b2]):
        applier.apply_batch(b, i)
    lake = applier.lake_for("repos")
    assert lake.truncate_lsn == 1200
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))
    # all surviving rows post-date the truncate
    assert (
        lake.read(include_meta=True).agg(F.min("_lsn")).collect()[0][0] > 1200
    )


def test_metrics_lineage(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("mx")
    log = change_log(spark, 2000, n_repos=20, delete_rate=0.1, seed=43)
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    appended = {}
    for i, batch in enumerate(
        [log.filter(F.col("lsn") <= 1000), log.filter(F.col("lsn") > 1000)]
    ):
        before = {f["path"] for f in applier.lake_for("repos").meta["files"]}
        applier.apply_batch(batch, i)
        appended[i] = sum(
            f["rows"] for f in applier.lake_for("repos").meta["files"]
            if f["path"] not in before
        )
    m = applier.metrics().toPandas()
    assert not m["skipped"].any()
    # exactly one lineage row per (table, batch)
    assert sorted(zip(m["table"], m["batch_id"])) == [("repos", 0), ("repos", 1)]
    assert (m["upserts"] + m["deletes"] > 0).all()
    # lsn ranges don't cross batch boundaries
    assert m[m.batch_id == 0]["max_lsn"].max() <= 1000
    assert m[m.batch_id == 1]["min_lsn"].min() > 1000
    # the counts are the rows the merge appended
    for i, n in appended.items():
        row = m[m.batch_id == i].iloc[0]
        assert row["upserts"] + row["deletes"] == n > 0, i


def test_metrics_keep_the_real_row_of_a_replayed_batch(
    spark, tmpdir_factory_clean
):
    """A replayed batch adds a 'skipped' row under the same (table,
    batch_id); the reader keeps it next to the real row, whose counts
    survive."""
    root = tmpdir_factory_clean("mxr")
    log = change_log(spark, 600, n_repos=8, delete_rate=0.1, seed=44)
    applier = CdcApply(spark, _cfg(root))
    (first,) = applier.apply_batch(log, 0)
    (again,) = applier.apply_batch(log, 0)
    assert again["skipped"]
    m = applier.metrics().toPandas()
    assert list(m["batch_id"]) == [0, 0]
    assert sorted(m["skipped"]) == [False, True]
    real = m[~m["skipped"]].iloc[0]
    assert real["upserts"] + real["deletes"] == first["rows"] > 0
    assert m["upserts"].sum() == first["rows"] - first["deletes"]
    assert real["lake_version"] == first["version"]


def test_compaction_preserves_state(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("cp")
    log = change_log(spark, 1500, n_repos=12, delete_rate=0.15, seed=47)
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)
    lake = applier.lake_for("repos")
    before = lake.read().toPandas()
    info = lake.compact(tombstone_watermark_lsn=10_000)
    assert info["version"] == 2
    after = lake.read().toPandas()
    assert_matches(after, replay(log.toPandas(), cfg.base_fields))
    assert len(before) == len(after)
    # tombstones are physically gone
    full = lake._read_files(lake.meta["files"], lake.schema_fields())
    assert full.filter(F.col("_deleted")).count() == 0
