"""LWW dedup correctness vs a brute-force pandas oracle on seeded random
logs, across salt settings (SURVEY.md §5), and the apply pipeline's
hot-key plan shape."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdc_spark.dedup import lww_dedup
from cdc_spark.loggen import change_log


@pytest.mark.parametrize("salt", [1, 4, 16])
@pytest.mark.parametrize("seed", [1, 99])
def test_lww_matches_bruteforce(spark, salt, seed):
    log = change_log(
        spark, 3000, n_repos=10, n_paths=4, zipf=3.0, dup_rate=0.05, seed=seed
    ).select("repo", "path", "lsn", "op", "content")
    got = (
        lww_dedup(log, key=("repo", "path"), order_col="lsn", salt=salt)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pdf = log.toPandas()
    idx = pdf.groupby(["repo", "path"])["lsn"].idxmax()
    want = (
        pdf.loc[idx]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)[got.columns]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_hot_key_skew_zipf(spark):
    """Extreme zipf: most events hit one key; result still exact and the
    salted plan's partial aggregation bounds per-reducer rows."""
    log = change_log(spark, 5000, n_repos=3, n_paths=2, zipf=8.0, seed=5).select(
        "repo", "path", "lsn"
    )
    out = lww_dedup(log, key=("repo", "path"), order_col="lsn", salt=8)
    rows = out.collect()
    assert len(rows) == log.select("repo", "path").distinct().count()
    pdf = log.toPandas()
    want = pdf.groupby(["repo", "path"])["lsn"].max()
    for r in rows:
        assert r["lsn"] == want[(r["repo"], r["path"])]


def test_dedup_plan_has_partial_aggregation(spark):
    """The physical plan must partial-aggregate before the exchange (hot-key
    defusal happens map-side)."""
    log = change_log(spark, 100, seed=1).select("repo", "path", "lsn")
    plan = (
        lww_dedup(log, key=("repo", "path"), order_col="lsn")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial agg appears before the shuffle in Spark's plan output
    assert "partial_max_by" in plan or "PartialAggregate" in plan or "partial" in plan.lower()


# ---------------------------------------------------------------------------
# schema-replay skip-rule determinism: engine (lake.replay_changes) and the
# oracle's inline rule must agree on which changes take effect for ANY
# sequence of valid/invalid change payloads
# ---------------------------------------------------------------------------
import json as _json

from hypothesis import given, settings
from hypothesis import strategies as st

_BASE = [("repo", "string"), ("path", "string"), ("content", "string")]
_KEY = ("repo", "path")
_COLS = ["content", "stars", "repo", "ghost"]
_TYPES = ["string", "long", "double"]


def _apply_oracle_rule(fields, ch_json, key):
    """The skip rule as oracle.replay implements it, extracted."""
    try:
        ch = _json.loads(ch_json)
        action, column = ch["action"], ch["column"]
    except (ValueError, TypeError, KeyError):
        return fields
    if column in key:
        return fields
    names = [n for n, _ in fields]
    if action == "add" and column not in names:
        return fields + [(column, ch.get("type", "string"))]
    if action == "drop":
        return [f for f in fields if f[0] != column]
    if action == "retype" and column in names and "type" in ch:
        return [(n, ch["type"] if n == column else t) for n, t in fields]
    return fields


@st.composite
def _change_seq(draw):
    n = draw(st.integers(min_value=0, max_value=8))
    out = []
    for i in range(n):
        kind = draw(st.integers(min_value=0, max_value=4))
        if kind == 0:
            out.append((10 * (i + 1), "{broken json"))
        else:
            ch = {
                "action": draw(st.sampled_from(["add", "drop", "retype", "rename"])),
                "column": draw(st.sampled_from(_COLS)),
            }
            if draw(st.booleans()):
                ch["type"] = draw(st.sampled_from(_TYPES))
            out.append((10 * (i + 1), _json.dumps(ch)))
    return out


@settings(max_examples=200, deadline=None)
@given(_change_seq())
def test_replay_changes_matches_oracle_skip_rule(pairs):
    from cdc_spark.lake import replay_changes

    final, aligned, epochs = replay_changes(list(_BASE), pairs, _KEY)
    want = list(_BASE)
    for _lsn, cj in pairs:
        want = _apply_oracle_rule(want, cj, _KEY)
    assert final == want
    assert len(aligned) == len(pairs)
    # epochs' aligned indices are consistent: replaying aligned prefixes
    # reproduces each epoch's fields
    for lb, fields, aidx in epochs:
        w = list(_BASE)
        for ch in aligned[:aidx]:
            if ch is not None:
                w = _apply_oracle_rule(w, _json.dumps(ch), _KEY)
        assert fields == w


def test_apply_wide_fallback_hot_key_partial_aggregates_before_exchange(
    spark, tmpdir_factory_clean, monkeypatch
):
    """Hot-key skew needs no salt: the apply pipeline's LWW reduce on a
    zipf=8 log executes a partial max_by aggregate BELOW its key exchange
    (each map task ships at most one row per hot key), reads the batch
    ONCE (no semi-join back to the source), and the lake still matches the
    LSN oracle."""
    import os

    from cdc_spark import apply as apply_mod
    from cdc_spark.apply import CdcApply
    from cdc_spark.config import EngineConfig
    from cdc_spark.oracle import assert_matches, replay

    picked = []

    def spy(*a, **kw):
        out = lww_dedup(*a, **kw)
        picked.append(out)
        return out

    monkeypatch.setattr(apply_mod, "lww_dedup", spy)
    root = tmpdir_factory_clean("hot")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "c"), n_buckets=4
    )
    log = change_log(
        spark, 4000, n_repos=3, n_paths=2, zipf=8.0, delete_rate=0.1,
        dup_rate=0.05, seed=5,
    )
    applier = CdcApply(spark, cfg)
    applier.apply_batch(log, 0)
    assert_matches(
        applier.lake_for("repos").read().toPandas(),
        replay(log.toPandas(), cfg.base_fields),
    )

    [deduped] = picked
    deduped.collect()
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" not in final, plan
    # each of the log's own leaf scans (spark.range) is read exactly once
    src = log._jdf.queryExecution().executedPlan().toString()
    assert final.count("Range (") == src.count("Range (") > 0, plan
    lines = final.splitlines()
    ex = next(
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(repo" in ln
    )
    # the exchange's direct child is the map-side partial aggregate
    assert "partial_max_by" in lines[ex + 1], plan
