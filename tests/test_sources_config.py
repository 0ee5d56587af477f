"""Source-backend registry, rate backend determinism, YAML config wiring,
Kafka dry-run plan, and widened schema-evolution types."""

import json
import os
import subprocess
import sys
import time

import jsonschema
import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import ENVELOPE_DDL, EngineConfig, load_config
from cdc_spark.forward import forward_plan
from cdc_spark.loggen import change_log, write_segments
from cdc_spark.oracle import replay
from cdc_spark.sources import build_source, register_source, source_names


# ------------------------------------------------------------- registry


def test_registry_names_and_unknown(spark):
    assert {"file-segments", "rate", "kafka", "postgres-logical"} <= set(
        source_names()
    )
    with pytest.raises(KeyError):
        build_source(spark, EngineConfig(), "nope")


def test_postgres_wire_gate_and_kafka_gate(spark):
    # the postgres-logical backend is REAL now (pg_logical.py); a non-fake
    # wire needs psycopg2, absent in this container -> explicit gate
    from cdc_spark.pg_logical import connect_wire

    with pytest.raises(RuntimeError, match="psycopg2"):
        connect_wire("postgresql://x")
    df = build_source(
        spark, EngineConfig(), "postgres-logical",
        {"wire": "fake://gate-test", "slot_name": "s"},
    )
    assert df.isStreaming
    # jar absent in this container -> explicit gate, not a cryptic classpath error
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        build_source(spark, EngineConfig(), "kafka", {"bootstrap": "b:9092"})


def test_register_source_extension(spark):
    def fake(s, cfg, conf):
        return s.readStream.format("rate").load()

    register_source("_test_fake", fake)
    assert "_test_fake" in source_names()
    df = build_source(spark, EngineConfig(), "_test_fake")
    assert df.isStreaming


def test_rate_backend_matches_change_log(spark, tmpdir_factory_clean):
    """The rate backend's envelope must be byte-identical to the batch
    generator for the same LSNs (same seeded expressions)."""
    root = tmpdir_factory_clean("rate")
    df = build_source(
        spark, EngineConfig(), "rate",
        {"rows_per_second": 500, "n_repos": 9, "seed": 21},
    )
    assert df.isStreaming
    assert [f.name for f in df.schema] == [
        f.split()[0].strip("`") for f in ENVELOPE_DDL.split(", ")
    ]
    got = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            got[r["lsn"]] = (r["op"], r["repo"], r["path"], r["content"])

    q = df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", os.path.join(root, "ck")
    ).trigger(processingTime="1 second").start()
    deadline = time.time() + 60
    while not got and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    assert got, "rate source produced no rows in 60s"
    want = {
        r["lsn"]: (r["op"], r["repo"], r["path"], r["content"])
        for r in change_log(
            spark, max(got), n_repos=9, seed=21
        ).filter(F.col("lsn").isin(list(got))).collect()
    }
    assert got == want


# ------------------------------------------------------------- kafka plan


def test_forward_plan_kafka_dry_run():
    cfg = EngineConfig(checkpoint="/tmp/ck")
    plan = forward_plan(cfg, sink="kafka", kafka_bootstrap="b1:9092,b2:9092",
                        topic="cdc-main")
    assert plan["format"] == "kafka"
    assert plan["options"] == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "topic": "cdc-main",
        "checkpointLocation": "/tmp/ck",
    }
    with pytest.raises(ValueError):
        forward_plan(cfg, sink="kafka")
    file_plan = forward_plan(cfg, sink="parquet", sink_path="/tmp/out")
    assert file_plan["options"]["path"] == "/tmp/out"


# ------------------------------------------------------------- YAML config


def _write_yaml(root, body):
    path = os.path.join(root, "cdc.yml")
    with open(path, "w") as fh:
        fh.write(body)
    return path


def test_load_config_maps_and_validates(tmpdir_factory_clean):
    root = tmpdir_factory_clean("cfg")
    path = _write_yaml(root, f"""
version: 1
source:
  backend: file-segments
  path: {root}/wal
  framed: false
lake:
  root: {root}/lake
  checkpoint: {root}/ckpt
  buckets: 8
apply:
  compact_every: 4
""")
    cfg, doc = load_config(path)
    assert cfg.lake_root == f"{root}/lake"
    assert cfg.n_buckets == 8 and cfg.compact_every == 4
    assert doc["source"]["backend"] == "file-segments"

    # keys the schema does not list are rejected, not silently ignored
    head = "version: 1\nsource: {backend: x}\n"
    for body in (
        "lake: {root: /x, checkpoint: /y, salt: 2}\n",
        "lake: {root: /x, checkpoint: /y}\napply: {dedup_narrow: false}\n",
    ):
        with pytest.raises(jsonschema.ValidationError):
            load_config(_write_yaml(root, head + body))

    bad = _write_yaml(root, "version: 1\nsource: {backend: x}\nlake: {root: /x}\n")
    with pytest.raises(jsonschema.ValidationError):
        load_config(bad)
    bad2 = _write_yaml(root, "version: 2\nsource: {backend: x}\nlake: {root: /x, checkpoint: /y}\n")
    with pytest.raises(jsonschema.ValidationError):
        load_config(bad2)


def test_load_config_rejects_unknown_lake_and_apply_keys(tmp_path):
    """A misspelled lake/apply key raises instead of silently keeping the
    default; keys left out fall back to EngineConfig's own defaults; the
    source section stays open (backend configs pass through it)."""
    head = "version: 1\nsource: {backend: x, slot_name: s}\n"
    lake = "lake: {root: /x, checkpoint: /y}\n"
    path = tmp_path / "cfg.yml"
    for body in (
        "lake: {root: /x, checkpoint: /y, bukets: 8}\n",
        lake + "apply: {compact_evry: 4}\n",
    ):
        path.write_text(head + body)
        with pytest.raises(jsonschema.ValidationError):
            load_config(str(path))
    path.write_text(head + lake)
    cfg, doc = load_config(str(path))
    assert cfg == EngineConfig(lake_root="/x", checkpoint="/y")
    assert doc["source"]["slot_name"] == "s"


#: EngineConfig fields no engine code reads, each with the reason it stays
UNREAD_FIELDS = {
    # the session's spark.sql.shuffle.partitions decides shuffle widths;
    # the bench drivers (bench*.py, perfbench/) still pass the field
    "shuffle_partitions",
}


def test_every_config_field_is_read_and_every_yaml_key_sets_one(tmp_path):
    """Every EngineConfig field is read by the engine (as ``cfg.<name>``)
    unless allow-listed, and every lake/apply YAML key sets exactly one
    field that the engine reads."""
    import dataclasses
    import pathlib
    import re

    import cdc_spark
    from cdc_spark.config import CONFIG_SCHEMA

    src = "\n".join(
        p.read_text()
        for p in pathlib.Path(cdc_spark.__file__).parent.rglob("*.py")
    )
    fields = [f.name for f in dataclasses.fields(EngineConfig)]
    read = {f for f in fields if re.search(rf"\bcfg\.{f}\b", src)}
    assert set(fields) - read == UNREAD_FIELDS

    base = {"version": 1, "source": {"backend": "x"},
            "lake": {"root": "/r", "checkpoint": "/c"}}
    path = tmp_path / "cfg.yml"
    path.write_text(json.dumps(base))
    cfg0, _ = load_config(str(path))
    samples = {"integer": 7, "boolean": True, "string": "/s"}
    for section in ("lake", "apply"):
        props = CONFIG_SCHEMA["properties"][section]["properties"]
        for key, spec in props.items():
            types = spec["type"]
            value = samples[types[0] if isinstance(types, list) else types]
            doc = json.loads(json.dumps(base))
            doc.setdefault(section, {})[key] = value
            path.write_text(json.dumps(doc))
            cfg, _ = load_config(str(path))
            changed = [
                f for f in fields if getattr(cfg, f) != getattr(cfg0, f)
            ]
            assert len(changed) == 1, (section, key, changed)
            assert getattr(cfg, changed[0]) == value
            assert changed[0] in read - UNREAD_FIELDS, (section, key)


def test_cli_consumer_with_config_e2e(spark, tmpdir_factory_clean):
    """python -m cdc_spark consumer --config x.yml drains the WAL into the
    lake; final state matches the LSN-ordered oracle."""
    root = tmpdir_factory_clean("cli")
    log = change_log(spark, 1500, n_repos=12, delete_rate=0.1, seed=83)
    write_segments(log, os.path.join(root, "wal"), seg_size=400)
    path = _write_yaml(root, f"""
version: 1
source:
  backend: file-segments
  path: {root}/wal
lake:
  root: {root}/lake
  checkpoint: {root}/ckpt
  buckets: 4
""")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, "-m", "cdc_spark", "--cpus", "4", "consumer",
         "--config", path],
        capture_output=True, text=True, timeout=420, env=env, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    from cdc_spark.lake import LakeTable
    from cdc_spark.oracle import assert_matches

    lake = LakeTable(spark, os.path.join(root, "lake", "repos"))
    assert_matches(
        lake.read().toPandas(),
        replay(log.toPandas(), EngineConfig().base_fields),
    )


# --------------------------------------------------- widened evolution types


def _norm(pdf, cols):
    return (
        pdf[cols].astype(str).sort_values(cols, kind="stable").reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "changes",
    [
        # timestamp column then retype to string then to long (epoch secs)
        {
            300: {"action": "add", "column": "seen_at", "type": "timestamp"},
            900: {"action": "retype", "column": "seen_at", "type": "string"},
        },
        # decimal lifecycle: add decimal, retype to string
        {
            300: {"action": "add", "column": "score", "type": "decimal(18,6)"},
            900: {"action": "retype", "column": "score", "type": "string"},
        },
        # date
        {
            300: {"action": "add", "column": "d0", "type": "date"},
            900: {"action": "retype", "column": "d0", "type": "string"},
        },
        # long -> decimal
        {
            300: {"action": "add", "column": "score", "type": "long"},
            900: {"action": "retype", "column": "score", "type": "decimal(18,6)"},
        },
        # string -> timestamp (values are timestamp-formatted strings)
        {
            300: {"action": "add", "column": "seen_at", "type": "timestamp"},
            900: {"action": "retype", "column": "seen_at", "type": "string"},
            1300: {"action": "retype", "column": "seen_at", "type": "timestamp"},
        },
    ],
    ids=["ts-str", "dec-str", "date-str", "long-dec", "ts-str-ts"],
)
def test_evolution_new_types_match_oracle(spark, tmpdir_factory_clean, changes):
    root = tmpdir_factory_clean("ev")
    log = change_log(
        spark, 2000, n_repos=10, n_paths=4, schema_changes=changes, seed=53
    )
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    applier = CdcApply(spark, cfg)
    # two batches so the lazy file projection exercises the cast chain too
    applier.apply_batch(log.filter(F.col("lsn") <= 700), 0)
    applier.apply_batch(log.filter(F.col("lsn") > 700), 1)
    lake = applier.lake_for("repos")
    got = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    new_col = next(iter(changes.values()))["column"]
    assert want[new_col].notna().any()
    cols = [n for n, _ in lake.schema_fields()]
    import pandas as pd

    pd.testing.assert_frame_equal(_norm(got, cols), _norm(want, cols))


def test_stream_message_roundtrip_through_kafka_seam(spark):
    """Producer wire roundtrip: envelope -> to_stream_messages (Kafka-shaped
    key/value/headers) -> frames_from_stream_messages -> envelope. This is
    exactly what the kafka backend does after .load(), minus the broker."""
    from cdc_spark.forward import to_stream_messages
    from cdc_spark.sources import frames_from_stream_messages

    log = change_log(
        spark, 300, n_repos=6, n_paths=3, delete_rate=0.1,
        truncate_lsns=(150,),
        schema_changes={100: {"action": "add", "column": "stars", "type": "long"}},
        seed=7,
    )
    back = frames_from_stream_messages(to_stream_messages(log))
    cols = [
        "lsn", "op", "table", "repo", "path", "commit", "lang", "content",
        "schema_change",
    ]
    a = log.select(*cols, F.element_at("extra", "stars").alias("x")).orderBy(
        "lsn"
    ).toPandas().astype(str)
    b = back.select(*cols, F.element_at("extra", "stars").alias("x")).orderBy(
        "lsn"
    ).toPandas().astype(str)
    import pandas as pd

    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_yaml_round4_apply_knobs(tmp_path):
    """The round-4 streaming near-dup index is YAML-settable; neither key
    blocking width (file-side or batch-side) is."""
    import yaml

    from cdc_spark.config import load_config

    doc = {
        "version": 1,
        "source": {"backend": "file-segments", "path": "/tmp/x"},
        "lake": {"root": "/tmp/l", "checkpoint": "/tmp/c"},
        "apply": {"neardup_index": True},
    }
    p = tmp_path / "cfg.yml"
    p.write_text(yaml.safe_dump(doc))
    cfg, _ = load_config(str(p))
    assert cfg.neardup_index is True

    # no key blocking width is settable
    for knob, width in (("file_block_prefix", 4), ("key_block_prefix", 6)):
        bad = {**doc, "apply": {**doc["apply"], knob: width}}
        p.write_text(yaml.safe_dump(bad))
        with pytest.raises(jsonschema.ValidationError):
            load_config(str(p))


def test_unknown_wire_format_raises(spark, tmp_path):
    from cdc_spark.config import EngineConfig
    from cdc_spark.sources import file_segments_source

    cfg = EngineConfig(lake_root=str(tmp_path / "l"),
                       checkpoint=str(tmp_path / "c"))
    with pytest.raises(ValueError, match="unknown wire_format"):
        file_segments_source(
            spark, cfg, {"path": str(tmp_path), "wire_format": "pg_output"}
        )
