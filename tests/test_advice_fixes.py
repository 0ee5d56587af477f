"""Regression tests for the round-1 ADVICE findings:

1. control frames with no routable table must not poison the batch
2. a losing concurrent committer must not clobber the winner's data files
3. retype chains with lossy intermediates fold stepwise (engine == oracle)
4. poly hash of the empty string matches across Spark and DuckDB
5. table-name unescape rewrites ONLY the two reference escapes
"""

import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from cdc_spark.apply import CdcApply
from cdc_spark.config import BASE_FIELDS, ENVELOPE_DDL, EngineConfig
from cdc_spark.functions._portable import SEED, duck_poly_hash, spark_poly_hash
from cdc_spark.lake import ConcurrentCommitError, LakeTable
from cdc_spark.loggen import change_log
from cdc_spark.oracle import assert_matches, replay
from cdc_spark.parse import split_frame


def _cfg(root, **kw):
    kw.setdefault("n_buckets", 4)
    return EngineConfig(lake_root=root, checkpoint=os.path.join(root, "_ckpt"), **kw)


def test_control_frames_do_not_poison_batch(spark, tmpdir_factory_clean):
    """A begin/commit/generic frame (NULL table) in the stream must be
    ignored, not crash-loop the batch (ADVICE #1, high)."""
    root = tmpdir_factory_clean("nt")
    log = change_log(spark, 800, n_repos=10, n_paths=4, delete_rate=0.1, seed=71)
    junk = spark.createDataFrame(
        [
            (9001, "begin", None, None, None, None, None, None, None,
             json.dumps({"xid": 123})),
            (9002, "commit", None, None, None, None, None, None, None, None),
            (9003, "generic", None, None, None, None, None, None, None, None),
            # generic frame that decoded with no table at all
            (9004, "insert", None, "r", "p", None, None, "body", None, None),
        ],
        ENVELOPE_DDL,
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log.unionByName(junk), 0)  # must not raise
    lake = applier.lake_for("repos")
    full = log.unionByName(junk).toPandas()
    assert_matches(lake.read().toPandas(), replay(full, cfg.base_fields))


def test_malformed_change_bodies_do_not_poison_batch(
    spark, tmpdir_factory_clean
):
    """Framed change bodies that are not JSON, or whose column arrays do
    not zip into a name->value map, decode to op NULL and are dropped: the
    batch applies and the lake matches the oracle over the valid log."""
    from cdc_spark.loggen import to_frames
    from cdc_spark.parse import parse_frames

    root = tmpdir_factory_clean("badbody")
    log = change_log(spark, 800, n_repos=10, n_paths=4, delete_rate=0.1, seed=73)
    bad = [
        "{not json",
        '{"kind":"insert","columnnames":"repo","columnvalues":["r"]}',
        '{"kind":"insert","columnnames":["repo","path"],"columnvalues":["r"]}',
        '{"kind":"insert","columnnames":["repo","repo"],"columnvalues":["r","s"]}',
    ]
    junk = spark.createDataFrame(
        [(9001 + i, "M|repos|" + b) for i, b in enumerate(bad)],
        "lsn BIGINT, value STRING",
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(parse_frames(to_frames(log).unionByName(junk)), 0)
    lake = applier.lake_for("repos")
    assert_matches(lake.read().toPandas(), replay(log.toPandas(), cfg.base_fields))


_MERGE_DDL = (
    "repo STRING, path STRING, `commit` STRING, lang STRING, content STRING, "
    "_lsn BIGINT, _deleted BOOLEAN, _extra MAP<STRING,STRING>"
)


def test_concurrent_commit_loser_does_not_clobber(spark, tmpdir_factory_clean):
    """Two writers racing the same version: the loser raises
    ConcurrentCommitError and the winner's published data files survive
    (ADVICE #2: per-attempt staging dirs, loser's files are orphans)."""
    root = tmpdir_factory_clean("cc")
    lake_a = LakeTable.create(
        spark, root, fields=list(BASE_FIELDS), key=("repo", "path"), n_buckets=4
    )
    lake_b = LakeTable(spark, root)  # same table, stale view
    batch_a = spark.createDataFrame(
        [("r1", "p1", "c1", "py", "AAA", 1, False, None)], _MERGE_DDL
    )
    batch_b = spark.createDataFrame(
        [("r2", "p2", "c2", "py", "BBB", 2, False, None)], _MERGE_DDL
    )
    lake_a.merge(batch_a, batch_id=0, lsn_hwm=1)
    with pytest.raises(ConcurrentCommitError):
        lake_b.merge(batch_b, batch_id=0, lsn_hwm=2)
    # the winner's snapshot is intact after the loser's failed attempt
    assert [r["content"] for r in lake_a.read().collect()] == ["AAA"]
    # the advertised refresh-and-retry contract actually works
    lake_b.refresh()
    lake_b.merge(batch_b, batch_id=1, lsn_hwm=2)
    assert sorted(r["content"] for r in lake_b.read().collect()) == ["AAA", "BBB"]
    # the loser's staged files are orphans; expire_snapshots GCs them while
    # every referenced file survives
    import glob

    def n_files():
        return len(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                             recursive=True))

    n_files_before = n_files()
    info = lake_b.expire_snapshots(keep_last=10, orphan_grace_s=0)
    assert info["orphans_removed"] >= 1
    assert n_files() < n_files_before
    assert sorted(r["content"] for r in lake_b.refresh().read().collect()) == [
        "AAA", "BBB",
    ]


_CHAIN = {
    100: {"action": "add", "column": "stars", "type": "string"},
    1000: {"action": "retype", "column": "stars", "type": "long"},
    1100: {"action": "retype", "column": "stars", "type": "string"},
}


def test_retype_chain_lossy_intermediate_cross_batch(spark, tmpdir_factory_clean):
    """string -> long -> string with the retypes in a LATER batch than the
    stored string values: lazy projection must fold the chain stepwise
    ('stars-7' -> NULL -> NULL), not cast stored->current directly
    (ADVICE #3)."""
    root = tmpdir_factory_clean("rc")
    log = change_log(
        spark, 2000, n_repos=12, n_paths=4, schema_changes=_CHAIN, seed=31
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log.filter(F.col("lsn") <= 900), 0)
    applier.apply_batch(log.filter(F.col("lsn") > 900), 1)
    lake = applier.lake_for("repos")
    want = replay(log.toPandas(), cfg.base_fields)
    # the fixture must actually exercise both outcomes
    assert want["stars"].isna().any() and want["stars"].notna().any()
    assert_matches(lake.read().toPandas(), want)


def test_retype_chain_lossy_intermediate_single_batch(spark, tmpdir_factory_clean):
    """Same chain entirely inside one batch: the epoch projection must fold
    retypes stepwise too."""
    root = tmpdir_factory_clean("rc1")
    log = change_log(
        spark, 2000, n_repos=12, n_paths=4, schema_changes=_CHAIN, seed=37
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)
    lake = applier.lake_for("repos")
    want = replay(log.toPandas(), cfg.base_fields)
    assert want["stars"].isna().any() and want["stars"].notna().any()
    assert_matches(lake.read().toPandas(), want)


def test_poly_hash_empty_string_matches_duckdb(spark):
    """ADVICE #4: Spark sequence(1,0) = [1,0] would hash '' to 6727 while
    DuckDB range(1,1) is empty (seed 7); the guard makes both return SEED."""
    got_s = spark.sql(
        f"SELECT {spark_poly_hash('x')} AS h FROM (SELECT '' AS x)"
    ).collect()[0]["h"]
    got_d = duckdb.sql(f"SELECT {duck_poly_hash(chr(39) + chr(39))} AS h").fetchone()[0]
    assert got_s == got_d == SEED
    # non-empty unchanged
    s2 = spark.sql(
        f"SELECT {spark_poly_hash('x')} AS h FROM (SELECT 'abc' AS x)"
    ).collect()[0]["h"]
    d2 = duckdb.sql(f"SELECT {duck_poly_hash(chr(39) + 'abc' + chr(39))} AS h").fetchone()[0]
    assert s2 == d2


def test_table_unescape_only_reference_escapes(spark):
    """ADVICE #5: only \\\\ and \\| are escape sequences; 'a\\nb' stays."""
    rows = [(1, r"M|a\\b|{}"), (2, r"M|a\|b|{}"), (3, r"M|a\nb|{}")]
    df = spark.createDataFrame(rows, "lsn BIGINT, value STRING")
    out = {r["lsn"]: (r["table"], r["body"]) for r in split_frame(df).collect()}
    assert out[1] == ("a\\b", "{}")
    assert out[2] == ("a|b", "{}")
    assert out[3] == (r"a\nb", "{}")


def test_poison_schema_change_payloads_are_skipped(spark, tmpdir_factory_clean):
    """Malformed control payloads (bad JSON, add of an existing column, a
    key-column action, unknown action) must be skipped deterministically —
    not crash-loop the stream — and the oracle applies the identical rule."""
    root = tmpdir_factory_clean("poison")
    valid = {600: {"action": "add", "column": "stars", "type": "long"}}
    log = change_log(
        spark, 1500, n_repos=10, n_paths=4, schema_changes=valid, seed=101
    )
    poison_rows = [
        (9101, "schema_change", "repos", None, None, None, None, None, None,
         "{not json"),
        (9102, "schema_change", "repos", None, None, None, None, None, None,
         json.dumps({"action": "add", "column": "lang"})),       # dup add
        (9103, "schema_change", "repos", None, None, None, None, None, None,
         json.dumps({"action": "drop", "column": "repo"})),      # key column
        (9104, "schema_change", "repos", None, None, None, None, None, None,
         json.dumps({"action": "rename", "column": "lang"})),    # unknown
        (9105, "schema_change", "repos", None, None, None, None, None, None,
         json.dumps({"action": "retype", "column": "ghost", "type": "long"})),
    ]
    poison = spark.createDataFrame(poison_rows, ENVELOPE_DDL)
    full = log.unionByName(poison)
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(full.filter(F.col("lsn") <= 800), 0)
    applier.apply_batch(full.filter(F.col("lsn") > 800), 1)  # must not raise
    lake = applier.lake_for("repos")
    # the valid add applied; the poison did not corrupt the schema
    assert [n for n, _ in lake.schema_fields()] == [
        "repo", "path", "commit", "lang", "content", "stars"
    ]
    want = replay(full.toPandas(), cfg.base_fields)
    assert want["stars"].notna().any()
    assert_matches(lake.read().toPandas(), want)


def test_time_travel_projects_under_that_versions_changes(spark, tmpdir_factory_clean):
    """read(version=) on an evolved table must project files under THAT
    manifest's change history: before the retypes, stars reads back as the
    original strings; at head, the lossy chain yields NULLs."""
    root = tmpdir_factory_clean("tt")
    log = change_log(
        spark, 2000, n_repos=12, n_paths=4, schema_changes=_CHAIN, seed=41
    )
    cfg = _cfg(root)
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log.filter(F.col("lsn") <= 900), 0)   # add only
    lake = applier.lake_for("repos")
    v_before = lake.version
    applier.apply_batch(log.filter(F.col("lsn") > 900), 1)    # both retypes
    lake.refresh()

    old = lake.read(version=v_before).toPandas()
    assert old["stars"].notna().any()
    assert old["stars"].map(lambda v: v is None or v.startswith("stars-")).all()
    head = lake.read().toPandas()
    want = replay(log.toPandas(), cfg.base_fields)
    assert_matches(head, want)
