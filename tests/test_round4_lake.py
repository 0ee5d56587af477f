"""Round-4 VERDICT items 5-6: over-broadcast-budget batches (the
bucket-chunked merge strategy they once took is gone — they take 'agg')
and multi-interval key-range stats (batch-side prefix-block intervals +
per-row-group file intervals), which together fix the
round-3 BENCH caveat: a batch spanning both ends of the keyspace no longer
defeats file skipping."""

import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply, _fold_bstats
from cdc_spark.config import BASE_FIELDS, EngineConfig
from cdc_spark.lake import LakeTable, _coalesce_ranges
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay

_MERGE_DDL = (
    "repo STRING, path STRING, `commit` STRING, lang STRING, content STRING, "
    "_lsn BIGINT, _deleted BOOLEAN, _extra MAP<STRING,STRING>"
)


def _mk_batch(spark, keys, lsn0):
    rows = [
        (r, "src/main.py", f"c{lsn0 + i}", "py", f"body-{r}-{lsn0 + i}",
         lsn0 + i, False, None)
        for i, r in enumerate(keys)
    ]
    return spark.createDataFrame(rows, _MERGE_DDL)


# ------------------------------------------------------------ pure units
def test_coalesce_ranges():
    # overlapping + adjacent merge
    assert _coalesce_ranges([[1, 3], [2, 5], [7, 9]]) == [[1, 5], [7, 9]]
    # cap: narrowest gap closed first (ints)
    got = _coalesce_ranges([[0, 1], [3, 4], [100, 101], [103, 104]], cap=3)
    assert got == [[0, 4], [100, 101], [103, 104]] or got == [
        [0, 1], [3, 4], [100, 104]
    ]
    assert len(_coalesce_ranges([[i * 10, i * 10 + 1] for i in range(20)],
                                cap=4)) == 4
    # strings: still merges down to the cap, bounds stay true bounds
    got = _coalesce_ranges([["aa", "ab"], ["mm", "mn"], ["zy", "zz"]], cap=2)
    assert len(got) == 2 and got[0][0] == "aa" and got[-1][1] == "zz"


def test_fold_bstats_builds_intervals():
    raw = [
        {"bucket": 0, "min_lsn": 5, "max_lsn": 9, "upserts": 3, "deletes": 1,
         "min_key": "aaaa", "max_key": "aabb"},
        {"bucket": 0, "min_lsn": 2, "max_lsn": 7, "upserts": 2, "deletes": 0,
         "min_key": "zzaa", "max_key": "zzbb"},
        {"bucket": 1, "min_lsn": 1, "max_lsn": 1, "upserts": 1, "deletes": 0,
         "min_key": "mmmm", "max_key": "mmmm"},
    ]
    bstats, ranges = _fold_bstats(raw)
    assert [r["bucket"] for r in bstats] == [0, 1]
    b0 = bstats[0]
    assert (b0["min_lsn"], b0["max_lsn"]) == (2, 9)
    assert (b0["upserts"], b0["deletes"]) == (5, 1)
    assert (b0["min_key"], b0["max_key"]) == ("aaaa", "zzbb")
    # the hot+cold batch reports TWO intervals, not one folded range
    assert ranges[0] == [["aaaa", "aabb"], ["zzaa", "zzbb"]]
    assert ranges[1] == [["mmmm", "mmmm"]]


# ------------------------------------------------ over-budget merge batches
def _run(spark, root, broadcast_rows):
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=8
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 3000, n_repos=25, n_paths=8, delete_rate=0.1,
                     dup_rate=0.03, seed=53)
    infos = []
    for i in range(3):
        b = log.filter(F.pmod(F.xxhash64("lsn", F.lit(7)), F.lit(3)) == i)
        applier.lake_for("repos").broadcast_max_rows = broadcast_rows
        # pin the budget-only pick: this test exercises the broadcast
        # budget, not the round-6 batch/lake-ratio heuristic (which would
        # route these lake-sized batches to agg — covered by its own test)
        applier.lake_for("repos").join_min_lake_ratio = 0
        infos.extend(applier.apply_batch(b, i))
    return applier.lake_for("repos"), log, infos


def test_chunked_strategy_identical_and_selected(spark, tmpdir_factory_clean):
    """Batches over the broadcast budget whose buckets would bin-pack under
    it (the shape the deleted 'chunked' strategy took) take 'agg' and
    produce the same state as an all-'join' run and the oracle."""
    import pandas as pd

    r_join = tmpdir_factory_clean("jn")
    lake_j, log, infos_j = _run(spark, r_join, broadcast_rows=10_000_000)
    assert {i["strategy"] for i in infos_j} == {"join"}
    pj = lake_j.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    assert_matches(pj, replay(log.toPandas(), EngineConfig().base_fields))
    # ~1000 rows/batch over 8 buckets (~125 each): budget 400 bin-packs
    lake_a, _, infos = _run(spark, tmpdir_factory_clean("agg"), broadcast_rows=400)
    assert {i["strategy"] for i in infos} == {"agg"}
    got = lake_a.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, pj)


def test_chunked_falls_back_to_agg_when_one_bucket_too_big(
    spark, tmpdir_factory_clean
):
    """A single bucket over the broadcast budget — auto-pick must land on
    agg, result unchanged."""
    root = tmpdir_factory_clean("ckagg")
    lake_a, log, infos = _run(spark, root, broadcast_rows=20)
    assert {i["strategy"] for i in infos} == {"agg"}
    assert_matches(
        lake_a.read().toPandas(), replay(log.toPandas(), EngineConfig().base_fields)
    )


# ------------------------------- the round-3 caveat: hot+cold in ONE batch
def test_straddling_batch_still_skips_middle_files(spark, tmpdir_factory_clean):
    """BENCH round-3 caveat: a batch touching BOTH ends of the keyspace
    used to fold into one huge range and rewrite every file between. With
    interval lists the middle (cold) file survives untouched."""
    root = tmpdir_factory_clean("straddle")
    lake = LakeTable.create(
        spark, os.path.join(root, "t"), fields=list(BASE_FIELDS), n_buckets=1
    )
    mid = [f"mmmm-{c}" for c in "abcdefgh"]
    lake.merge(_mk_batch(spark, mid, 100), batch_id=0, lsn_hwm=200,
               batch_rows=len(mid))
    f_mid = next(f["path"] for f in lake.meta["files"])
    lows = [f"aaaa-{c}" for c in "abcd"]
    highs = [f"zzzz-{c}" for c in "abcd"]
    # the straddling batch, with its per-cluster intervals (what
    # _fold_bstats now produces): middle file must be left in place
    lake.merge(
        _mk_batch(spark, lows + highs, 300), batch_id=1, lsn_hwm=400,
        batch_rows=len(lows) + len(highs),
        bucket_key_ranges={0: [["aaaa-a", "aaaa-d"], ["zzzz-a", "zzzz-d"]]},
    )
    paths = {f["path"] for f in lake.meta["files"]}
    assert f_mid in paths
    # folded legacy tuple for the same batch would NOT have skipped: prove
    # the old behavior really was the caveat
    lake2 = LakeTable.create(
        spark, os.path.join(root, "t2"), fields=list(BASE_FIELDS), n_buckets=1
    )
    lake2.merge(_mk_batch(spark, mid, 100), batch_id=0, lsn_hwm=200,
                batch_rows=len(mid))
    f_mid2 = next(f["path"] for f in lake2.meta["files"])
    lake2.merge(
        _mk_batch(spark, lows + highs, 300), batch_id=1, lsn_hwm=400,
        batch_rows=len(lows) + len(highs),
        bucket_key_ranges={0: ("aaaa-a", "zzzz-d")},
    )
    assert f_mid2 not in {f["path"] for f in lake2.meta["files"]}
    # both lakes end at the same logical state
    a = lake.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    b = lake2.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_end_to_end_straddling_batch_skips(spark, tmpdir_factory_clean):
    """Same caveat through the FULL apply path: _fold_bstats' prefix-block
    intervals (apply.KEY_BLOCK_PREFIX) must let the cold file survive a
    hot+cold batch."""
    from cdc_spark.config import ENVELOPE_DDL

    root = tmpdir_factory_clean("estraddle")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"), n_buckets=1
    )
    applier = CdcApply(spark, cfg)
    lake = applier.lake_for("repos")

    def env_batch(keys, lsn0):
        rows = [
            (lsn0 + i, "insert", "repos", r, "p", f"c{lsn0 + i}", "py",
             f"body-{r}", None, None)
            for i, r in enumerate(keys)
        ]
        return spark.createDataFrame(rows, ENVELOPE_DDL)

    applier.apply_batch(env_batch([f"mmmm-{c}" for c in "abcdefgh"], 100), 0)
    f_mid = next(f["path"] for f in lake.meta["files"])
    applier.apply_batch(
        env_batch([f"aaaa-{c}" for c in "abcd"]
                  + [f"zzzz-{c}" for c in "abcd"], 300),
        1,
    )
    assert f_mid in {f["path"] for f in lake.refresh().meta["files"]}


def test_key_ranges_recorded_per_row_group(spark, tmpdir_factory_clean):
    """The manifest records per-row-group interval lists (coalesced) when
    the writer emits multiple row groups; legacy min/max stay the folds."""
    root = tmpdir_factory_clean("rgstats")
    lake = LakeTable.create(
        spark, os.path.join(root, "t"), fields=list(BASE_FIELDS), n_buckets=1
    )
    keys = [f"r{i:05d}" for i in range(0, 4000, 2)]
    spark.conf.set("parquet.block.size", "1024")  # tiny row groups
    try:
        lake.merge(_mk_batch(spark, keys, 10_000), batch_id=0,
                   lsn_hwm=20_000, batch_rows=len(keys))
    finally:
        spark.conf.unset("parquet.block.size")
    f = lake.meta["files"][0]
    assert f["key_ranges"] is not None and len(f["key_ranges"]) > 1
    from cdc_spark.lake import MAX_KEY_RANGES

    assert len(f["key_ranges"]) <= MAX_KEY_RANGES
    # intervals tile the folded range in order
    assert f["key_ranges"][0][0] == f["min_key"]
    assert f["key_ranges"][-1][1] == f["max_key"]
    los = [r[0] for r in f["key_ranges"]]
    assert los == sorted(los)
    # legacy manifests (no key_ranges) still prune via min/max
    from cdc_spark.lake import _file_ranges

    legacy = {"min_key": "a", "max_key": "b"}
    assert _file_ranges(legacy) == [["a", "b"]]
    assert _file_ranges({"min_key": None, "max_key": None}) is None


def test_fold_bstats_null_key_group_first(spark):
    """Accumulated min/max can start as None (all-null-key prefix group
    seen first) — a later non-null group must not TypeError."""
    raw = [
        {"bucket": 0, "min_lsn": 1, "max_lsn": 1, "upserts": 1, "deletes": 0,
         "min_key": None, "max_key": None},
        {"bucket": 0, "min_lsn": 2, "max_lsn": 2, "upserts": 1, "deletes": 0,
         "min_key": "abc", "max_key": "abd"},
    ]
    bstats, ranges = _fold_bstats(raw)
    assert bstats[0]["min_key"] == "abc" and bstats[0]["max_key"] == "abd"
    assert ranges[0] == [["abc", "abd"]]


# ------------------------------------------------- property-based invariants
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 10**6)).map(
            lambda t: [min(t), max(t)]
        ),
        min_size=1, max_size=40,
    ),
    st.integers(1, 8),
)
def test_coalesce_ranges_properties(ranges, cap):
    """For any interval set: output is <= cap, sorted, non-overlapping,
    covers every input point, and preserves the global bounds."""
    ranges = sorted(ranges, key=lambda r: (r[0], r[1]))
    out = _coalesce_ranges([list(r) for r in ranges], cap=cap)
    assert 1 <= len(out) <= cap
    assert all(a[1] < b[0] for a, b in zip(out, out[1:]))  # disjoint+sorted
    assert out[0][0] == min(r[0] for r in ranges)
    assert out[-1][1] == max(r[1] for r in ranges)
    for lo, hi in ranges:  # every input interval is covered by ONE output
        assert any(o[0] <= lo and hi <= o[1] for o in out)
