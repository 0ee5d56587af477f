"""Torture test: everything at once at a larger scale — 100k events, hot-key
zipf skew, duplicates, deletes, two truncates, three schema changes
(add/retype/drop), out-of-order segments, streamed in several microbatches
through the real engine, then sha256-compared row-for-row to the oracle."""

import os

import pytest

from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log, write_segments
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.stream import run_to_completion, start_stream

CHANGES = {
    20_000: {"action": "add", "column": "stars", "type": "long"},
    50_000: {"action": "retype", "column": "stars", "type": "string"},
    80_000: {"action": "drop", "column": "lang"},
}


def test_torture_full_stack(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("torture")
    log = change_log(
        spark,
        100_000,
        n_repos=300,
        n_paths=40,
        zipf=3.0,
        delete_rate=0.12,
        dup_rate=0.04,
        truncate_lsns=(35_000, 65_000),
        schema_changes=CHANGES,
        seed=12345,
    )
    write_segments(
        log, os.path.join(root, "wal"), seg_size=12_500, shuffle_window=2_000
    )
    cfg = EngineConfig(
        lake_root=os.path.join(root, "lake"),
        checkpoint=os.path.join(root, "ckpt"),
        n_buckets=16,
        max_files_per_trigger=3,
    )
    # crash after two microbatches, then resume from checkpoint
    q, _ = start_stream(
        spark, os.path.join(root, "wal"), cfg, fail_after_batches=2
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    applier = run_to_completion(spark, os.path.join(root, "wal"), cfg)
    lake = applier.lake_for("repos")

    got = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    assert len(got) == len(want) > 0
    assert_matches(got, want)

    # invariants: schema history recorded; every survivor post-dates the
    # last truncate; commit chain is strictly increasing
    assert [n for n, _ in lake.schema_fields()] == [
        "repo", "path", "commit", "content", "stars"
    ]
    assert lake.truncate_lsn == 65_000
    assert got.shape[0] == want.shape[0]
    ids = [s["last_batch"]["id"] for s in lake.snapshot_log()]
    assert ids == sorted(ids)
