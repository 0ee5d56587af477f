"""Regression tests for the round-2 ADVICE findings:

1. (high) per-file schema-change lineage is an LSN STAMP, not a list
   position — late-arriving lower-LSN control events must not shift the
   replay tail under existing files and NULL their values
2. (medium) an add/retype naming an un-castable type ('varchar', bare
   'decimal') is poison — skipped deterministically in engine AND oracle,
   never a crash-loop
3. (low) as-of join keeps events with no qualifying order as NULL rows in
   BOTH strategies and the DuckDB oracle (not a fixture accident)
4. (low) export_csv with a TableConfig column subset omitting every key
   column must not raise on the zero-column sort
5. (low) orphan GC never sweeps an in-flight writer's staging dir (version
   above the newest published manifest), regardless of mtime
+ point lookups prune to the files whose footer key range holds the key.
"""

import json
import os
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import BASE_FIELDS, EngineConfig
from cdc_spark.lake import LakeTable
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay

_MERGE_DDL = (
    "repo STRING, path STRING, `commit` STRING, lang STRING, content STRING, "
    "_lsn BIGINT, _deleted BOOLEAN, _extra MAP<STRING,STRING>"
)


def _cfg(root, **kw):
    kw.setdefault("n_buckets", 4)
    return EngineConfig(lake_root=root, checkpoint=os.path.join(root, "_ckpt"), **kw)


def test_late_lower_lsn_control_event_after_files_exist(spark, tmpdir_factory_clean):
    """ADVICE high: files written after a drop+re-add of column `stars`,
    then TWO lower-LSN control events arrive in a later batch. A positional
    change index would shift and replay the drop+re-add onto the stored
    values (silently NULLing them); the LSN stamp must keep them intact and
    the state must still match the LSN-ordered oracle."""
    root = tmpdir_factory_clean("latelsn")
    changes = {
        300: {"action": "add", "column": "stars", "type": "long"},
        900: {"action": "drop", "column": "stars"},
        1100: {"action": "add", "column": "stars", "type": "long"},
        50: {"action": "add", "column": "meta", "type": "string"},
        80: {"action": "retype", "column": "meta", "type": "long"},
    }
    log = change_log(
        spark, 2000, n_repos=12, n_paths=4, schema_changes=changes, seed=31
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    is_change = F.col("op") == "schema_change"
    # batch 0: all data + the three high-LSN changes -> files exist, stamped
    applier.apply_batch(
        log.filter(~is_change | F.col("lsn").isin(300, 900, 1100)), 0
    )
    lake = applier.lake_for("repos")
    stars_before = (
        lake.read().filter(F.col("stars").isNotNull()).count()
    )
    assert stars_before > 0, "fixture must have surviving stars values"
    # batch 1: the two EARLIER changes arrive late (no data rows)
    applier.apply_batch(log.filter(F.col("lsn").isin(50, 80)), 1)
    lake.refresh()
    got = lake.read()
    # the late events must not have re-replayed drop@900/add@1100 onto the
    # existing files: stored stars values survive
    assert got.filter(F.col("stars").isNotNull()).count() == stars_before
    assert_matches(got.toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_poison_schema_change_types_are_skipped(spark, tmpdir_factory_clean):
    """ADVICE medium: retype to 'varchar' and add of bare 'decimal' must be
    skipped (engine == oracle), not die later in sql_type during epoch
    projection."""
    root = tmpdir_factory_clean("poison")
    changes = {
        400: {"action": "add", "column": "stars", "type": "long"},
        700: {"action": "retype", "column": "stars", "type": "varchar"},
        800: {"action": "add", "column": "price", "type": "decimal"},
        900: {"action": "retype", "column": "stars", "type": "decimal(8,2)"},
    }
    log = change_log(
        spark, 1500, n_repos=10, n_paths=4, schema_changes=changes, seed=37
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)  # must not raise
    lake = applier.lake_for("repos")
    fields = dict(lake.schema_fields())
    assert fields["stars"] == "decimal(8,2)"  # valid retype applied
    assert "price" not in fields  # bare 'decimal' skipped
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_asof_keeps_events_with_no_qualifying_order(spark, tmpdir_factory_clean):
    """ADVICE low: an event whose user has NO order at all, and one whose
    orders are all AFTER ts, must appear with NULL right columns in both
    Spark strategies AND in the DuckDB oracle SQL."""
    from cdc_spark.functions.temporal import (
        SQL_ASOF,
        q_asof_join,
        q_asof_join_cogroup,
    )

    d = tmpdir_factory_clean("asofnull")
    spark.createDataFrame(
        [
            (1, "2024-03-01 10:00:00", 7, "c", 0.0, "{}"),
            (2, "2024-03-01 11:00:00", 8, "c", 0.0, "{}"),  # user 8: no orders
            (3, "2024-03-01 09:00:00", 9, "c", 0.0, "{}"),  # orders all later
        ],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [
            (100, 7, "F", 10.0, "2024-02-28 00:00:00", "1"),
            (101, 9, "F", 20.0, "2024-03-02 00:00:00", "1"),
        ],
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(f"{d}/orders.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'"
    )
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet/*.parquet'"
    )
    want = con.execute(SQL_ASOF).df()
    assert len(want) == 3 and want["o_orderkey"].isna().sum() == 2

    for q in (q_asof_join, q_asof_join_cogroup):
        got = q(spark, d).toPandas()
        assert len(got) == 3
        assert sorted(got["event_id"]) == [1, 2, 3]
        import pandas as pd

        a = got.sort_values("event_id").reset_index(drop=True)
        b = want.sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_export_csv_without_key_columns(spark, tmpdir_factory_clean):
    """ADVICE low: a column projection dropping every key column must still
    export (sorted by the first projected column, not a zero-arg sort)."""
    from cdc_spark.snapshot import export_csv

    root = tmpdir_factory_clean("csvnokey")
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(change_log(spark, 300, n_repos=6, seed=41), 0)
    lake = applier.lake_for("repos")
    dest = export_csv(
        lake,
        tmpdir_factory_clean("csvout"),
        "s1",
        compress=False,
        columns={"repos": [{"name": "lang"}, {"name": "commit"}]},
    )
    assert os.path.exists(os.path.join(dest, "complete.json"))
    with open(os.path.join(dest, "tables", "repos.csv")) as fh:
        header = fh.readline().strip()
    assert header == "lang,commit"


def test_orphan_gc_never_sweeps_inflight_staging(spark, tmpdir_factory_clean):
    """ADVICE low: files staged for a version ABOVE the newest published
    manifest belong to an in-flight writer — never swept, even past the
    mtime grace. Decided-version orphans still are."""
    root = tmpdir_factory_clean("gc")
    cfg = _cfg(root, n_buckets=2)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(change_log(spark, 200, n_repos=4, seed=43), 0)
    lake = applier.lake_for("repos").refresh()
    v = lake.version
    old = time.time() - 7200
    # a decided-version orphan (lost the race for an already-published v)
    decided = os.path.join(root, "repos", "data", f"v{v}-loser00", "_bucket=0")
    os.makedirs(decided)
    with open(os.path.join(decided, "part-x.parquet"), "wb") as fh:
        fh.write(b"x")
    os.utime(os.path.join(decided, "part-x.parquet"), (old, old))
    # an in-flight writer staging the NEXT (unpublished) version
    inflight = os.path.join(root, "repos", "data", f"v{v + 1}-active01", "_bucket=0")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-y.parquet"), "wb") as fh:
        fh.write(b"y")
    os.utime(os.path.join(inflight, "part-y.parquet"), (old, old))

    info = lake.expire_snapshots(keep_last=2, orphan_grace_s=3600)
    assert not os.path.exists(os.path.join(decided, "part-x.parquet"))
    assert os.path.exists(os.path.join(inflight, "part-y.parquet"))
    assert info["orphans_removed"] == 1


def _mk_batch(spark, keys, lsn0):
    rows = [
        (r, "src/main.py", f"c{lsn0 + i}", "py", f"body-{r}-{lsn0 + i}",
         lsn0 + i, False, None)
        for i, r in enumerate(keys)
    ]
    return spark.createDataFrame(rows, _MERGE_DDL)


def test_file_skipping_soak_equivalence(spark, tmpdir_factory_clean):
    """End-to-end apply with few buckets (every batch rewrites both): the
    final state must equal the LSN-ordered oracle."""
    root = tmpdir_factory_clean("rsoak")
    cfg = _cfg(root, n_buckets=2)
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 3000, n_repos=40, n_paths=6, delete_rate=0.12,
                     seed=47)
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3001)]):
        applier.apply_batch(
            log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi)), i
        )
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


def test_point_lookup_prunes_to_containing_files(spark, tmpdir_factory_clean):
    """lookup() must scan only files whose footer key range can contain
    the key — one file here despite two merges' worth of files (each merge
    appends key-range-sharded deltas)."""
    root = tmpdir_factory_clean("lookup")
    lake = LakeTable.create(
        spark, os.path.join(root, "t"), fields=list(BASE_FIELDS), n_buckets=1,
    )
    lake.merge(_mk_batch(spark, [f"repo-{c}" for c in "abcdefgh"], 100),
               batch_id=0, lsn_hwm=200)
    lake.merge(_mk_batch(spark, [f"repo-{c}" for c in "qrstuvwx"], 300),
               batch_id=1, lsn_hwm=400)
    assert len(lake.meta["files"]) >= 2
    picked = lake._files_for_key(("repo-s", "src/main.py"))
    assert len(picked) == 1
    assert picked[0]["min_key"] <= "repo-s" <= picked[0]["max_key"]
    got = lake.lookup(("repo-s", "src/main.py")).collect()
    assert len(got) == 1 and got[0]["content"] == "body-repo-s-302"
    # a missing key: zero candidate files when outside every range
    assert lake._files_for_key(("repo-zzz", "src/main.py")) == []
    assert lake.lookup(("repo-zzz", "src/main.py")).count() == 0


def test_legacy_change_idx_manifests_still_fold_chains(spark, tmpdir_factory_clean):
    """A lake written before the change_lsn stamp (files carrying the old
    positional change_idx) must still fold its retype chains on read."""
    root = tmpdir_factory_clean("legacy")
    changes = {
        500: {"action": "add", "column": "stars", "type": "long"},
        900: {"action": "retype", "column": "stars", "type": "string"},
    }
    log = change_log(spark, 1500, n_repos=8, n_paths=3,
                     schema_changes=changes, seed=61)
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)
    lake = applier.lake_for("repos")
    want = lake.read().toPandas()
    # rewrite the manifest as the old format: positional index instead of
    # the LSN stamp (every change was applied at write time -> idx = len)
    meta = json.loads(json.dumps(lake.meta))
    n_changes = len(meta["schema_changes"])
    for f in meta["files"]:
        del f["change_lsn"]
        f["change_idx"] = n_changes
    meta["version"] += 1
    from cdc_spark.lake import LakeTable

    LakeTable._publish(os.path.join(root, "repos"), meta)
    got = LakeTable(spark, os.path.join(root, "repos")).read().toPandas()
    assert_matches(got, replay(log.toPandas(), cfg.base_fields))
    key = ["repo", "path"]
    import pandas as pd

    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )


def test_stratified_sample_filter_matches_report(spark):
    """The map-side sample filter and the per-source report must agree."""
    from cdc_spark.functions.sampling import (
        q_sample_stratified,
        stratified_sample,
    )

    sf = "/root/testdata/sf0.01"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    kept = stratified_sample(d)
    rep = q_sample_stratified(spark, sf)
    total_kept = rep.agg(F.sum("n_kept")).first()[0]
    assert kept.count() == total_kept > 0
    per_src = {r["source"]: r["n_kept"] for r in rep.collect()}
    got = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert {k: v for k, v in per_src.items() if v > 0} == got
