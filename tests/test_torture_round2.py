"""Round-2 combined torture: one streaming run with EVERYTHING adversarial
at once — out-of-order segments, duplicate delivery, a truncate, a lossy
retype chain (string -> long -> string), control frames (B|/C|) on the wire,
a mid-run crash + resume, and maintenance mid-stream. Final state must
still byte-match the LSN-ordered oracle."""

import os

from pyspark.sql import functions as F

from cdc_spark.config import ENVELOPE_DDL, EngineConfig
from cdc_spark.loggen import change_log, to_frames, write_segments
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.stream import run_to_completion, start_stream

CHANGES = {
    700: {"action": "add", "column": "stars", "type": "string"},
    2100: {"action": "retype", "column": "stars", "type": "long"},
    2400: {"action": "retype", "column": "stars", "type": "string"},
}


def test_everything_at_once_crash_resume(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("t2")
    log = change_log(
        spark, 3000, n_repos=20, n_paths=6, delete_rate=0.1, dup_rate=0.05,
        truncate_lsns=(1500,), schema_changes=CHANGES, seed=97,
    )
    brackets = spark.createDataFrame(
        [
            (50_000, "begin", None, None, None, None, None, None, None,
             '{"xid": 1}'),
            (50_001, "commit", None, None, None, None, None, None, None, None),
        ],
        ENVELOPE_DDL,
    )
    wire = log.unionByName(brackets)
    write_segments(
        to_frames(wire), os.path.join(root, "wal"),
        seg_size=300, shuffle_window=150,
    )
    cfg = EngineConfig(
        lake_root=os.path.join(root, "lake"),
        checkpoint=os.path.join(root, "ckpt"),
        n_buckets=8,
        max_files_per_trigger=3,
        compact_every=3,  # maintenance mid-stream too
    )
    # crash after 2 batches, then resume from the checkpoint
    q, _ = start_stream(
        spark, os.path.join(root, "wal"), cfg, framed=True,
        fail_after_batches=2,
    )
    try:
        q.awaitTermination()
    except Exception:
        pass
    assert q.exception() is not None  # the injected crash really happened
    applier = run_to_completion(
        spark, os.path.join(root, "wal"), cfg, framed=True
    )
    lake = applier.lake_for("repos")
    assert dict(lake.schema_fields())["stars"] == "string"
    got = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    assert want["stars"].isna().any() and want["stars"].notna().any()
    assert_matches(got, want)
    # truncate really applied: no survivor older than the truncate LSN
    meta = lake.read(include_meta=True).toPandas()
    assert (meta["_lsn"] > 1500).all()
