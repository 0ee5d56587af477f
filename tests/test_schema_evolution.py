"""Mid-stream schema evolution (E3): add/drop/retype replayed at the correct
LSN, including the hard case — control events delivered in a *later* batch
than data that post-dates them (out-of-order across batch boundaries)."""

import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import EngineConfig
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay

CHANGES = {
    900: {"action": "add", "column": "stars", "type": "long"},
    1800: {"action": "retype", "column": "stars", "type": "string"},
    2600: {"action": "drop", "column": "lang"},
}


def _cfg(root):
    return EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )


def test_add_retype_drop_single_batch(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("lake")
    log = change_log(
        spark, 3500, n_repos=30, n_paths=8, delete_rate=0.1,
        schema_changes=CHANGES, seed=13,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)
    lake = applier.lake_for("repos")
    assert [n for n, _ in lake.schema_fields()] == [
        "repo", "path", "commit", "content", "stars"
    ]
    assert dict(lake.schema_fields())["stars"] == "string"
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_schema_change_across_ordered_batches(spark, tmpdir_factory_clean):
    root = tmpdir_factory_clean("lake")
    log = change_log(
        spark, 3000, n_repos=20, n_paths=6, schema_changes=CHANGES, seed=17,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3001)]):
        applier.apply_batch(
            log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi)), i
        )
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_control_events_in_reverse_batch_order(spark, tmpdir_factory_clean):
    """Regression: a retype delivered in an EARLIER batch than its add must
    not no-op — the engine reconstructs epochs from the global (lsn, change)
    history, so arrival order is irrelevant."""
    root = tmpdir_factory_clean("rev")
    changes = {
        600: {"action": "add", "column": "stars", "type": "long"},
        1200: {"action": "retype", "column": "stars", "type": "string"},
    }
    log = change_log(
        spark, 2000, n_repos=12, n_paths=4, schema_changes=changes, seed=29,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    is_change = F.col("op") == "schema_change"
    # batch 0: all data + ONLY the retype; batch 1: the add arrives late
    applier.apply_batch(
        log.filter(~is_change | (F.col("lsn") == 1200)), 0
    )
    applier.apply_batch(log.filter(F.col("lsn") == 600), 1)
    lake = applier.lake_for("repos")
    assert dict(lake.schema_fields())["stars"] == "string"
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_late_delivered_add_column_resurrects_values(spark, tmpdir_factory_clean):
    """add-column event arrives one batch AFTER data rows that post-date it;
    the engine must still match the LSN-ordered oracle (values come back from
    the stored payload residue)."""
    root = tmpdir_factory_clean("lake")
    changes = {500: {"action": "add", "column": "stars", "type": "long"}}
    log = change_log(
        spark, 1500, n_repos=15, n_paths=5, schema_changes=changes, seed=23,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    # batch 0: everything EXCEPT the control event (rows with lsn>500 carry
    # stars in `extra` but the schema doesn't know the column yet)
    applier.apply_batch(log.filter(F.col("op") != "schema_change"), 0)
    assert [n for n, _ in applier.lake_for("repos").schema_fields()] == [
        n for n, _ in cfg.base_fields
    ]
    # batch 1: the late control event alone
    applier.apply_batch(log.filter(F.col("op") == "schema_change"), 1)
    lake = applier.lake_for("repos")
    got = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    assert "stars" in got.columns and want["stars"].notna().any()
    assert_matches(got, want)


@pytest.mark.parametrize("name", ["o'brien", "x`y", "back\\slash"])
def test_added_column_names_are_quoted(spark, tmpdir_factory_clean, name):
    """A schema-change ``add`` names a column from outside the program: a
    quote, backquote or backslash in it must neither break the batch's SQL
    nor change the values read back — on the apply staging, the late-add
    resurrect from ``_extra``, the retype fold, ``read`` and ``lookup``."""
    root = tmpdir_factory_clean("quoted")
    changes = {
        300: {"action": "add", "column": name, "type": "long"},
        700: {"action": "retype", "column": name, "type": "string"},
    }
    log = change_log(
        spark, 1000, n_repos=8, n_paths=4, schema_changes=changes, seed=31,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    # batch 0: the DML up to lsn 500, whose rows past 300 carry the column
    # in `extra` before the add arrives; batch 1: the rest and both events
    early = (F.col("op") != "schema_change") & (F.col("lsn") <= 500)
    applier.apply_batch(log.filter(early), 0)
    applier.apply_batch(log.filter(~early), 1)
    lake = applier.lake_for("repos")
    got = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    assert name in got.columns and want[name].notna().any()
    assert_matches(got, want)
    row = want[want[name].notna()].iloc[0]
    hit = lake.lookup((row["repo"], row["path"])).collect()
    assert [r[name] for r in hit] == [row[name]]
