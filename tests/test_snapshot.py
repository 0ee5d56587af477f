"""Snapshot subsystem: bootstrap + boundary filter, CSV export layout with
success marker, control-protocol JSON goldens (reference test_control.py),
formatter registry."""

import glob
import gzip
import json
import os

from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.snapshot import (
    abort_snapshot_message,
    bootstrap,
    export_csv,
    init_snapshot_message,
    loaded_snapshot_message,
    project_columns,
    snapshot_boundary_filter,
)


def test_control_protocol_golden():
    """JSON wire format of the control messages (reference
    control_protocol.py:21-54, test_control.py:32-46)."""
    assert json.loads(init_snapshot_message("abc", ["t1", "t2"], "snuba")) == {
        "event": "snapshot-init",
        "snapshot-id": "abc",
        "product": "snuba",
        "tables": ["t1", "t2"],
    }
    assert json.loads(abort_snapshot_message("abc")) == {
        "event": "snapshot-abort",
        "snapshot-id": "abc",
    }
    msg = json.loads(loaded_snapshot_message("abc", "snuba", 123))
    assert msg["event"] == "snapshot-loaded"
    assert msg["transaction-info"] == {"lsn-watermark": 123}


def test_bootstrap_then_stream(spark, tmpdir_factory_clean):
    """Bootstrap at watermark W, then replay a log overlapping W: events at
    or below W must be dropped (they're contained in the snapshot)."""
    root = tmpdir_factory_clean("bs")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    log = change_log(spark, 2000, n_repos=15, n_paths=5, delete_rate=0.1, seed=61)
    # snapshot state := oracle replay of the first 800 events
    watermark = 800
    pre = replay(log.filter(F.col("lsn") <= watermark).toPandas(), cfg.base_fields)
    initial = spark.createDataFrame(
        pre[[n for n, _ in cfg.base_fields]],
        ", ".join(f"`{n}` string" for n, _ in cfg.base_fields),
    )
    lake = bootstrap(spark, cfg, initial, lsn_watermark=watermark)
    assert lake.last_batch == {"id": -1, "lsn_hwm": watermark}

    applier = CdcApply(spark, cfg)
    # the source redelivers everything; the boundary filter drops <= W
    tail = snapshot_boundary_filter(log, lake)
    applier.apply_batch(tail, 0)
    got = applier.lake_for("repos").read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    # bootstrap rows all carry _lsn = watermark, so compare without _lsn
    assert_matches(got, want)


def test_bootstrap_lsn_is_bigint_for_small_batches(spark, tmpdir_factory_clean):
    """A bootstrap at a watermark below 2**31 stamps _lsn as BIGINT like
    every merge, so a read over the bootstrap files plus one small batch's
    files works (an INT32 _lsn used to fail that read with a parquet
    column type mismatch, crash-looping foreachBatch)."""
    import pyarrow.parquet as pq

    root = tmpdir_factory_clean("bs32")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    log = change_log(spark, 301, n_repos=40, n_paths=10, zipf=1.0,
                     delete_rate=0.0, seed=67)
    watermark = 300
    pre = replay(log.filter(F.col("lsn") <= watermark).toPandas(), cfg.base_fields)
    initial = spark.createDataFrame(
        pre[[n for n, _ in cfg.base_fields]],
        ", ".join(f"`{n}` string" for n, _ in cfg.base_fields),
    )
    lake = bootstrap(spark, cfg, initial, lsn_watermark=watermark)
    boot_files = [f["path"] for f in lake.meta["files"]]

    applier = CdcApply(spark, cfg)
    # one update: it touches a single key, so the bootstrap's other files
    # stay as they were written
    applier.apply_batch(snapshot_boundary_filter(log, lake), 0)
    got = applier.lake_for("repos").read().toPandas()
    assert_matches(got, replay(log.toPandas(), cfg.base_fields))
    assert {
        str(pq.read_schema(os.path.join(lake.root, p)).field("_lsn").type)
        for p in boot_files
    } == {"int64"}


def test_csv_export_layout_and_marker(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("ex")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 500, n_repos=8, seed=67)
    applier.apply_batch(log, 0)
    lake = applier.lake_for("repos")

    dest = export_csv(lake, root, snapshot_id="snap1", product="testp")
    assert os.path.basename(dest) == "cdc_snapshot_testp_snap1"
    meta = json.load(open(os.path.join(dest, "metadata.json")))
    assert meta["content"][0]["table"] == "repos"
    assert meta["transactions"]["lsn_watermarks"]["repos"] == 500
    csv_path = os.path.join(dest, "tables", "repos.csv.gz")
    assert os.path.exists(csv_path)
    with gzip.open(csv_path, "rt") as fh:
        header = fh.readline().strip()
    assert header.split(",") == [n for n, _ in lake.schema_fields()]
    # success marker written last
    assert json.load(open(os.path.join(dest, "complete.json")))["snapshot-id"] == "snap1"


def test_multi_table_export_golden_bytes(spark, tmpdir_factory_clean):
    """Coordinated multi-table snapshot, byte-exact against the reference's
    Postgres COPY CSV convention (reference test_postgres_snapshot.py:58-133:
    NULL -> empty, empty string -> \"\", embedded quotes doubled, datetime
    formatted to the second)."""
    import datetime

    from cdc_spark.lake import LakeTable

    root = tmpdir_factory_clean("mt")
    lake1 = LakeTable.create(
        spark, os.path.join(root, "test_snapshot"),
        fields=[("a", "long"), ("b", "string"), ("c", "timestamp")],
        key=("a",), n_buckets=2, table="test_snapshot",
    )
    ddl = (
        "a BIGINT, b STRING, c TIMESTAMP, _lsn BIGINT, _deleted BOOLEAN, "
        "_extra MAP<STRING,STRING>"
    )
    ts = datetime.datetime(2019, 6, 16, 6, 21, 39)
    rows = [
        (1, "test", ts, 1, False, None),       # basic
        (2, "test", None, 2, False, None),     # NULL
        (3, "", None, 3, False, None),         # empty string
        (4, 'tes"t', None, 4, False, None),    # escape
        (5, "I am NULL", None, 5, False, None),  # the string null
    ]
    lake1.merge(spark.createDataFrame(rows, ddl), batch_id=0, lsn_hwm=5)

    lake2 = LakeTable.create(
        spark, os.path.join(root, "other"),
        fields=[("a", "long"), ("b", "string")], key=("a",), n_buckets=2,
        table="other",
    )
    lake2.merge(
        spark.createDataFrame(
            [(9, "x", 1, False, None)],
            "a BIGINT, b STRING, _lsn BIGINT, _deleted BOOLEAN, "
            "_extra MAP<STRING,STRING>",
        ),
        batch_id=0, lsn_hwm=1,
    )

    dest = export_csv(
        {"test_snapshot": lake1, "other": lake2},
        root, snapshot_id="g1", product="p",
        columns={
            "test_snapshot": [
                {"name": "a"}, {"name": "b"},
                {"name": "c", "formatter": "datetime"},
            ]
        },
    )
    with gzip.open(os.path.join(dest, "tables", "test_snapshot.csv.gz"), "rt") as fh:
        body = fh.read()
    assert body == (
        "a,b,c\n"
        "1,test,2019-06-16 06:21:39\n"
        "2,test,\n"
        '3,"",\n'
        '4,"tes""t",\n'
        "5,I am NULL,\n"
    )
    with gzip.open(os.path.join(dest, "tables", "other.csv.gz"), "rt") as fh:
        assert fh.read() == "a,b\n9,x\n"
    meta = json.load(open(os.path.join(dest, "metadata.json")))
    assert [c["table"] for c in meta["content"]] == ["test_snapshot", "other"]
    assert meta["transactions"]["lsn_watermarks"] == {
        "test_snapshot": 5, "other": 1,
    }
    assert os.path.exists(os.path.join(dest, "complete.json"))


def test_formatter_projection(spark):
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05.678",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    out = project_columns(df, [{"name": "ts", "formatter": "datetime"}])
    assert str(out.collect()[0]["ts"]) == "2024-01-02 03:04:05"


def test_coordinate_snapshot_control_choreography(spark, tmpdir_factory_clean):
    """init -> dump -> loaded on success; init -> abort on failure
    (reference snapshot_coordinator.py:44-60)."""
    from cdc_spark.lake import LakeTable
    from cdc_spark.snapshot import coordinate_snapshot

    root = tmpdir_factory_clean("coord")
    lake = LakeTable.create(
        spark, os.path.join(root, "t1"),
        fields=[("a", "long"), ("b", "string")], key=("a",), n_buckets=2,
        table="t1",
    )
    lake.merge(
        spark.createDataFrame(
            [(1, "x", 5, False, None)],
            "a BIGINT, b STRING, _lsn BIGINT, _deleted BOOLEAN, "
            "_extra MAP<STRING,STRING>",
        ),
        batch_id=0, lsn_hwm=5,
    )
    msgs = []
    dest = coordinate_snapshot(
        {"t1": lake}, root, "c1", msgs.append, product="p"
    )
    events = [json.loads(m)["event"] for m in msgs]
    assert events == ["snapshot-init", "snapshot-loaded"]
    assert json.loads(msgs[1])["transaction-info"] == {"lsn-watermark": 5}
    assert os.path.exists(os.path.join(dest, "complete.json"))

    # failure path: unwritable output root -> abort announced, raised
    msgs2 = []
    import pytest as _pytest

    with _pytest.raises(Exception):
        coordinate_snapshot(
            {"t1": lake}, "/proc/definitely/not/writable", "c2", msgs2.append
        )
    assert [json.loads(m)["event"] for m in msgs2] == [
        "snapshot-init", "snapshot-abort",
    ]
