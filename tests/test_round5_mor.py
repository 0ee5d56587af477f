"""Round-5 VERDICT item 1 substrate: the merge-on-read LakeTable layout,
since made the only one.

Commits append O(batch) key-range-sharded delta files; reads LWW-resolve
per key; compact() folds the deltas back. These tests pin the layout's
semantics: append cost, tombstones, truncate, idempotency, point-set file
pruning, and the resurrect-guard ordering in compact."""

import os

from pyspark.sql import functions as F

from cdc_spark.lake import LakeTable

FIELDS = [("k", "long"), ("v", "string")]


def _mk(spark, root, n_buckets=4):
    return LakeTable.create(
        spark, root, fields=list(FIELDS), key=("k",),
        n_buckets=n_buckets, table="t",
    )


def _ranges_hold_rows(lake):
    """Every manifest file carries its footer [min, max] key range, and
    the file's rows lie inside it."""
    for f in lake.meta["files"]:
        assert f["min_key"] is not None and f["min_key"] <= f["max_key"], f
        ks = lake.spark.read.parquet(os.path.join(lake.root, f["path"]))
        got = ks.agg(F.min("k"), F.max("k")).first()
        assert (got[0], got[1]) == (f["min_key"], f["max_key"]), f


def _batch(spark, rows, lsn, deleted=()):
    data = [(k, v, lsn, k in deleted, None) for k, v in rows]
    return spark.createDataFrame(
        data,
        "k BIGINT, v STRING, _lsn BIGINT, _deleted BOOLEAN, "
        "_extra MAP<STRING,STRING>",
    )


def _rows(lake):
    return {(r["k"], r["v"]) for r in lake.read().collect()}


def test_append_merge_never_reads_or_rewrites_old_files(
    spark, tmpdir_factory_clean
):
    lake = _mk(spark, tmpdir_factory_clean("mor1"))
    lake.merge(_batch(spark, [(1, "a"), (2, "b")], 1), batch_id=0, lsn_hwm=1)
    v1_files = {f["path"] for f in lake.meta["files"]}
    info = lake.merge(
        _batch(spark, [(2, "b2"), (3, "c")], 2), batch_id=1, lsn_hwm=2
    )
    assert info["strategy"] == "append"
    v2_files = {f["path"] for f in lake.meta["files"]}
    # every old file survives untouched; only new delta files were written
    assert v1_files <= v2_files
    _ranges_hold_rows(lake)
    # read resolves the LWW winner per key
    assert _rows(lake) == {(1, "a"), (2, "b2"), (3, "c")}


def test_mor_tombstone_delete_and_truncate(spark, tmpdir_factory_clean):
    lake = _mk(spark, tmpdir_factory_clean("mor2"))
    lake.merge(_batch(spark, [(1, "a"), (2, "b")], 1), batch_id=0, lsn_hwm=1)
    lake.merge(
        _batch(spark, [(1, "x")], 2, deleted={1}), batch_id=1, lsn_hwm=2
    )
    assert _rows(lake) == {(2, "b")}
    # a STALE resurrect attempt for k=1 (lsn below the tombstone) loses
    lake.merge(_batch(spark, [], 3), batch_id=2, lsn_hwm=3)
    lake.merge(
        _batch(spark, [(2, "b2"), (4, "d")], 4), batch_id=3, lsn_hwm=4,
        new_truncate_lsn=3,
    )
    assert _rows(lake) == {(2, "b2"), (4, "d")}


def test_mor_idempotent_replay(spark, tmpdir_factory_clean):
    lake = _mk(spark, tmpdir_factory_clean("mor3"))
    lake.merge(_batch(spark, [(1, "a")], 1), batch_id=0, lsn_hwm=1)
    v = lake.version
    info = lake.merge(_batch(spark, [(1, "a")], 1), batch_id=0, lsn_hwm=1)
    assert info["skipped"] and lake.refresh().version == v


def test_mor_compact_folds_deltas_and_keeps_result(
    spark, tmpdir_factory_clean
):
    lake = _mk(spark, tmpdir_factory_clean("mor4"))
    for i in range(4):
        lake.merge(
            _batch(spark, [(k, f"v{i}") for k in range(i, i + 6)], i + 1),
            batch_id=i, lsn_hwm=i + 1,
        )
    before = _rows(lake)
    n_before = len(lake.meta["files"])
    lake.compact()
    assert _rows(lake) == before
    assert len(lake.meta["files"]) < n_before
    # compacted files are range-clustered (disjoint footer ranges) with
    # one row per key
    _ranges_hold_rows(lake)
    spans = sorted((f["min_key"], f["max_key"]) for f in lake.meta["files"])
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
    total = sum(f["rows"] for f in lake.meta["files"])
    assert total == lake.read(include_meta=True).count()


def test_mor_compact_tombstone_sweep_cannot_resurrect(
    spark, tmpdir_factory_clean
):
    """Resolve-before-sweep ordering: key 1 has a live row (lsn 1) and a
    tombstone (lsn 2), both below the watermark. Sweeping the tombstone
    first would resurrect the lsn-1 row; the fold must kill both."""
    lake = _mk(spark, tmpdir_factory_clean("mor5"))
    lake.merge(_batch(spark, [(1, "a"), (2, "b")], 1), batch_id=0, lsn_hwm=1)
    lake.merge(
        _batch(spark, [(1, "dead")], 2, deleted={1}), batch_id=1, lsn_hwm=2
    )
    lake.compact(tombstone_watermark_lsn=100)
    assert _rows(lake) == {(2, "b")}
    # and the tombstone row is physically gone
    assert lake.read(include_meta=True).filter(F.col("_deleted")).count() == 0


def test_point_set_scan_prunes_delta_files(spark, tmpdir_factory_clean):
    """files_for_key_values keeps only files whose footer ranges can hold a
    probed key: with range-sharded deltas, probing a few keys reads a
    strict subset of the files."""
    lake = _mk(spark, tmpdir_factory_clean("mor6"))
    lake.append_shards = 8
    for i in range(3):
        rows = [(k, f"v{i}") for k in range(i * 1000, i * 1000 + 400)]
        lake.merge(_batch(spark, rows, i + 1), batch_id=i, lsn_hwm=i + 1)
    probe = [5, 7, 1003]
    files = lake.files_for_key_values(probe)
    assert 0 < len(files) < len(lake.meta["files"])
    raw = lake.scan_for_keys(probe)
    assert lake.last_scan_stats["files_read"] < lake.last_scan_stats[
        "files_total"
    ]
    live = lake.resolve_live(raw.filter(F.col("k").isin(probe)))
    assert {(r["k"], r["v"]) for r in live.collect()} == {
        (5, "v0"), (7, "v0"), (1003, "v1")
    }


def test_scan_for_keys_version_reads_pre_batch_state(
    spark, tmpdir_factory_clean
):
    lake = _mk(spark, tmpdir_factory_clean("mor7"))
    lake.merge(_batch(spark, [(1, "old")], 1), batch_id=0, lsn_hwm=1)
    v_before = lake.version
    lake.merge(_batch(spark, [(1, "new")], 2), batch_id=1, lsn_hwm=2)
    raw = lake.scan_for_keys([1], version=v_before)
    got = lake.resolve_live(raw.filter(F.col("k") == 1)).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "old")]


def test_cow_strategies_rejected_on_mor_and_vice_versa(
    spark, tmpdir_factory_clean
):
    """One layout, no strategy override: a batch commits as 'append', and
    a manifest-only commit (no batch) is legal and reports no strategy,
    writing no file."""
    lake = _mk(spark, tmpdir_factory_clean("mor8"))
    info = lake.merge(None, batch_id=0, lsn_hwm=1)
    assert info["strategy"] is None and info["files_written"] == 0
    assert lake.meta["files"] == []
    info = lake.merge(_batch(spark, [(1, "a")], 2), batch_id=1, lsn_hwm=2)
    assert info["strategy"] == "append" and info["files_written"] >= 1


def test_mor_resolve_spans_schema_epochs(spark, tmpdir_factory_clean):
    """LWW resolve must work across delta files written under DIFFERENT
    schema versions: _read_files projects every file group to the target
    schema BEFORE the resolve, so the winner comparison sees uniform
    columns (added column -> NULL on old rows)."""
    lake = _mk(spark, tmpdir_factory_clean("mor11"))
    lake.merge(_batch(spark, [(1, "a"), (2, "b")], 1), batch_id=0, lsn_hwm=1)
    schemas = [
        {"schema_id": 0, "fields": [["k", "long"], ["v", "string"]]},
        {
            "schema_id": 1,
            "fields": [["k", "long"], ["v", "string"], ["w", "long"]],
        },
    ]
    b2 = spark.createDataFrame(
        [(2, "b2", 7, 2, False, None)],
        "k BIGINT, v STRING, w BIGINT, _lsn BIGINT, _deleted BOOLEAN, "
        "_extra MAP<STRING,STRING>",
    )
    lake.merge(
        b2, batch_id=1, lsn_hwm=2, new_schemas=schemas, new_schema_id=1
    )
    got = {
        (r["k"], r["v"], r["w"]) for r in lake.read().collect()
    }
    assert got == {(1, "a", None), (2, "b2", 7)}
    # and a later old-row redelivery still loses to the evolved winner
    b3 = spark.createDataFrame(
        [(2, "stale", None, 1, False, None)],
        "k BIGINT, v STRING, w BIGINT, _lsn BIGINT, _deleted BOOLEAN, "
        "_extra MAP<STRING,STRING>",
    )
    lake.merge(b3, batch_id=2, lsn_hwm=3)
    assert {
        (r["k"], r["v"], r["w"]) for r in lake.read().collect()
    } == got


def test_mor_lookup_and_time_travel(spark, tmpdir_factory_clean):
    lake = _mk(spark, tmpdir_factory_clean("mor10"))
    lake.merge(_batch(spark, [(7, "a"), (8, "b")], 1), batch_id=0, lsn_hwm=1)
    v1 = lake.version
    lake.merge(_batch(spark, [(7, "a2")], 2), batch_id=1, lsn_hwm=2)
    assert [r["v"] for r in lake.lookup((7,)).collect()] == ["a2"]
    assert {
        (r["k"], r["v"]) for r in lake.read(version=v1).collect()
    } == {(7, "a"), (8, "b")}
