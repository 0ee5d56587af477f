"""Tests of the benchmark's own logic (no Spark): the ``_tail`` percentile
rule, digests, the commit-latency join, and layer attribution on a small
canned event log.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import commit_latencies  # noqa: E402


# ------------------------------------------------------------------ stats
@pytest.mark.parametrize(
    "n, want",
    [(1, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        rank = -(-int(round(want * 10)) * n // 1000)  # exact integer ceil
        assert n - rank >= stats.TAIL_MIN_BEYOND


def test_summarize_reports_tail_percentile_and_count():
    xs = list(range(1, 101))  # 100 samples -> p90, 10 beyond it
    s = stats.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "tail": 90, "tail_pct": 90.0}
    assert stats.summarize([3.0, 1.0])["tail"] is None
    assert stats.summarize([])["n"] == 0


def test_percentile_nearest_rank():
    assert stats.percentile([5, 1, 4, 2, 3], 50) == 3
    assert stats.percentile([5, 1, 4, 2, 3], 100) == 5
    assert stats.percentile([7], 99.9) == 7


def test_row_digest_is_order_independent_and_content_sensitive():
    rows = [("r1", "p1", "a"), ("r2", "p2", "b"), ("r3", "p3", None)]
    n, d = stats.row_digest(rows)
    assert (n, d) == stats.row_digest(list(reversed(rows)))
    assert d != stats.row_digest([("r1", "p1", "a"), ("r2", "p2", "c"),
                                  ("r3", "p3", None)])[1]
    # moving content between keys changes the digest
    assert d != stats.row_digest([("r1", "p1", "b"), ("r2", "p2", "a"),
                                  ("r3", "p3", None)])[1]


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9, 10, 10, 10, 11]) == pytest.approx(0.1)


# ------------------------------------------------------- commit latency
def test_commit_latency_joins_first_manifest_covering_segment():
    releases = [(100.0, 999), (100.5, 1999), (101.0, 2999), (101.5, 3999)]
    commits = [
        (99.0, -1),     # the empty table's first manifest
        (103.0, 2100),  # covers segment 0 and 1 (hwm >= 1999)
        (106.5, 3999),  # covers the rest
    ]
    lat, missing = commit_latencies(releases, commits)
    assert lat == pytest.approx([3.0, 2.5, 5.5, 5.0])
    assert missing == []


def test_commit_latency_reports_uncommitted_segments():
    lat, missing = commit_latencies([(1.0, 10), (2.0, 20)], [(5.0, 15)])
    assert lat == [4.0] and missing == [2.0]


def test_commit_latency_uses_mtime_order_not_listing_order():
    lat, _ = commit_latencies([(0.0, 10)], [(9.0, 50), (4.0, 12)])
    assert lat == [4.0]


# ------------------------------------------------------ event-log parsing
def _job(jid, t0, t1, group, sql=None, stages=(), batch=None, query=None):
    props = {"spark.jobGroup.id": group}
    if sql is not None:
        props["spark.sql.execution.id"] = str(sql)
    if batch is not None:
        props["streaming.sql.batchId"] = str(batch)
        props["sql.streaming.queryId"] = query
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": list(stages), "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _stage(sid, scopes):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "RDD Info": [{"Scope": json.dumps({"id": "1", "name": s})}
                                      for s in scopes]}}


def _task(sid, run_ms, *, shuffle_w=0, shuffle_r=0, records=0, out_bytes=0,
          out_records=0, ok=True):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": 10,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": shuffle_r},
                "Input Metrics": {"Records Read": records},
                "Output Metrics": {"Bytes Written": out_bytes,
                                   "Records Written": out_records}}}


def _sql(eid, plan):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": eid, "physicalPlanDescription": plan}


SRC = "Scan parquet Location: InMemoryFileIndex[file:/w/batches/b=0]"


@pytest.fixture()
def canned(tmp_path):
    """One replay batch (span ``pb1``) of a maintenance-enabled table: an
    adaptive helper job, the control aggregation, the lineage collect, the
    merge write and a compaction write; plus one unrelated set-up job."""
    ev = [
        *_job(0, 500, 900, "pb0", sql=0, stages=[0]),  # set-up write
        _sql(0, "Execute InsertIntoHadoopFsRelationCommand file:/w/in"),
        *_job(1, 1000, 1200, "pb1", stages=[1]),  # AQE helper, no SQL id
        *_job(2, 1200, 1500, "pb1", sql=1, stages=[2]),
        _sql(1, f"ObjectHashAggregate approx_count_distinct(xxhash64(repo)) {SRC}"),
        *_job(3, 1600, 2400, "pb1", sql=2, stages=[3, 4]),
        _sql(2, f"SortAggregate min(_lsn#12L) Join LeftSemi {SRC}"),
        *_job(4, 2500, 3500, "pb1", sql=3, stages=[5]),
        _sql(3, "Execute InsertIntoHadoopFsRelationCommand file:/w/lake/data/v2"),
        *_job(5, 3600, 4000, "pb1", sql=4, stages=[6]),
        _sql(4, "Execute InsertIntoHadoopFsRelationCommand file:/w/lake/data/v3"),
        _stage(1, ["Exchange"]),
        _stage(2, ["Scan parquet ", "ObjectHashAggregate"]),
        _stage(3, ["Scan parquet ", "Exchange"]),
        _stage(4, ["SortAggregate"]),
        _stage(5, ["Exchange"]),
        _stage(6, ["Exchange"]),
        _task(0, 400),
        _task(1, 100, shuffle_w=50),
        _task(2, 300, records=1000),
        _task(2, 300, records=1000, ok=False),
        _task(3, 500, records=1000, shuffle_w=4000),
        _task(4, 200, shuffle_r=4000, shuffle_w=100),
        _task(5, 900, shuffle_w=7000, out_bytes=9000, out_records=30),
        _task(6, 300, out_bytes=8000, out_records=40),
    ]
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    return tracing.load_eventlog(str(p))


def test_jobs_carry_their_stage_task_metrics(canned):
    jobs = {j["id"]: j for j in canned["jobs"]}
    assert jobs[2]["tasks"] == 2 and jobs[2]["failed_tasks"] == 1
    assert jobs[2]["input_records"] == 2000
    assert jobs[3]["task_s"] == pytest.approx(0.7)
    assert jobs[3]["shuffle_write_bytes"] == 4100
    assert jobs[1]["plan"] == "" and jobs[1]["sql"] is None


def test_layer_attribution_on_canned_batch(canned):
    batch = [j for j in canned["jobs"] if j["group"] == "pb1"]
    att = [(layer, j["id"]) for layer, j in tracing.attribute_batch(batch, True)]
    assert att == [
        ("apply.ctrl_agg", 1),  # the helper job joins the next classified job
        ("apply.ctrl_agg", 2),
        ("apply.lineage", 3),
        ("lake.merge", 4),
        ("lake.maintenance", 5),
    ]
    # without maintenance a second write would still be the merge's
    att = dict((j["id"], layer) for layer, j in tracing.attribute_batch(batch, False))
    assert att[5] == "lake.merge"


def test_cdc_layers_on_canned_batch(canned):
    batch = {"wall": 3.2, "maintenance": True, "source_mark": "/batches/b=",
             "jobs": [j for j in canned["jobs"] if j["group"] == "pb1"]}
    out = tracing.cdc_layers([batch], [1000], winners=40)
    v = {k: m["value"] for k, m in out.items()}
    assert v["apply.jobs_per_batch"] == 5
    assert v["sources.scan_passes_per_batch"] == 2  # ctrl + lineage executions
    assert v["sources.read_amplification"] == pytest.approx(3.0)
    assert v["apply.ctrl_agg_s"] == pytest.approx(0.5)  # 1.0-1.2 and 1.2-1.5
    assert v["apply.lineage_s"] == pytest.approx(0.8)
    assert v["lake.merge_s"] == pytest.approx(1.0)
    assert v["lake.maintenance_s"] == pytest.approx(0.4)
    # batch 1.0 s..4.2 s of wall; jobs cover 0.5 + 0.8 + 1.0 + 0.4
    assert v["apply.driver_gap_s"] == pytest.approx(3.2 - 2.7)
    assert v["dedup.exchange_bytes"] == 4100
    assert v["dedup.narrow_share"] == 1.0
    assert v["dedup.collapse_ratio"] == pytest.approx(0.04)
    assert v["lake.exchange_bytes"] == 7000
    assert v["lake.bytes_written"] == 9000
    assert v["lake.rows_rewritten_per_winner"] == pytest.approx(30 / 40)


def test_spark_totals_and_union(canned):
    jobs = [j for j in canned["jobs"] if j["group"] == "pb1"]
    t = tracing.spark_totals(jobs, n_cores=4, wall=4.0)
    assert t["spark.jobs"]["value"] == 5
    assert t["spark.tasks"]["value"] == 7
    assert t["spark.failed_tasks"]["value"] == 1
    assert t["spark.task_s"]["value"] == pytest.approx(2.6)
    assert t["spark.core_utilization"]["value"] == pytest.approx(2.6 / 16)
    assert t["spark.idle_share"]["value"] == pytest.approx(1 - 2.7 / 4.0)
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4


def test_op_layers_split_kernel_and_aggregate(tmp_path):
    ev = [
        *_job(0, 0, 1000, "pb7", sql=0, stages=[0, 1]),
        _sql(0, "MapInArrow"),
        _stage(0, ["Scan parquet ", "MapInArrow", "Exchange"]),
        _stage(1, ["HashAggregate"]),
        _task(0, 600, shuffle_w=500),
        _task(1, 300, shuffle_r=500),
    ]
    p = tmp_path / "app-2"
    p.write_text("\n".join(json.dumps(e) for e in ev))
    jobs = tracing.load_eventlog(str(p))["jobs"]
    out = tracing.op_layers("minhash", jobs, calls=2)
    assert out["minhash.kernel_task_s"]["value"] == pytest.approx(0.3)
    assert out["minhash.aggregate_task_s"]["value"] == pytest.approx(0.15)
    assert out["minhash.exchange_bytes"]["value"] == 250


# --------------------------------------------------------------- teardown
def test_reap_children_ends_orphaned_grandchildren(tmp_path):
    """A grandchild orphaned by its parent (as the JVM's Python workers are
    when the JVM exits) is adopted and ended before the benchmark exits."""
    import subprocess

    code = (
        "import subprocess, sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "import harness\n"
        "harness.become_subreaper()\n"
        "with open(sys.argv[2], 'w') as fh:\n"
        "    subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], check=True,\n"
        "                   stdout=fh)\n"
        "assert harness._children(), 'the orphan was not adopted'\n"
        "harness.reap_children(grace=0.2)\n"
        "assert not harness._children()\n"
    )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "orphan.pid"
    subprocess.run([sys.executable, "-c", code, here, str(out)], check=True,
                   timeout=60)
    assert not os.path.exists(f"/proc/{int(out.read_text())}")
