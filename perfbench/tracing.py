"""Per-layer figures for a traced run.

Two sources, neither inside ``cdc_spark``:

- the benchmark's own spans and what the engine already exposes
  (``apply_batch`` return values, lake manifests, ``CdcApply.metrics()``,
  ``StreamingQuery.recentProgress``): :func:`workload_layers`, called while
  Spark is still up;
- Spark's event log, parsed after the session stops: :func:`from_eventlog`.
  Each job is attributed to a batch (by the span's job group, or by the
  streaming batch id Spark stamps on micro-batch jobs) and to a layer by
  what the log records about it: the SQL plan it executed and the
  operator scopes of its stages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter

from stats import summarize

# ------------------------------------------------------------- event log


def load_eventlog(path: str) -> dict:
    """Jobs (with their stages' summed task metrics) and SQL plans from one
    uncompressed event-log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_scopes: dict[int, list[str]] = {}
    stage_acc: dict[int, dict] = {}
    plans: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                jid = e["Job ID"]
                sql = p.get("spark.sql.execution.id")
                batch = p.get("streaming.sql.batchId")
                jobs[jid] = {
                    "id": jid,
                    "group": p.get("spark.jobGroup.id"),
                    "query": p.get("sql.streaming.queryId"),
                    "batch": int(batch) if batch is not None else None,
                    "sql": int(sql) if sql is not None else None,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                names = []
                for r in si.get("RDD Info", []):
                    try:
                        names.append(json.loads(r.get("Scope") or "{}").get("name", ""))
                    except ValueError:
                        pass
                stage_scopes[si["Stage ID"]] = names
            elif ev == "SparkListenerTaskEnd":
                acc = stage_acc.setdefault(e["Stage ID"], _zero())
                _add_task(acc, e)
            elif ev.endswith("SQLExecutionStart"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
    for sid, acc in stage_acc.items():
        acc["scopes"] = stage_scopes.get(sid, [])
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid].setdefault("stage_metrics", []).append(acc)
    for j in jobs.values():
        j.setdefault("stage_metrics", [])
        j["plan"] = plans.get(j["sql"], "") if j["sql"] is not None else ""
        if j["end"] is None:
            j["end"] = j["start"]
        tot = _zero()
        for acc in j["stage_metrics"]:
            for k in tot:
                tot[k] += acc[k]
        j.update(tot)
    return {"jobs": sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))}


def _zero() -> dict:
    return {
        "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "input_records": 0, "output_bytes": 0, "output_records": 0,
        "spill_bytes": 0,
    }


def _add_task(acc: dict, e: dict) -> None:
    acc["tasks"] += 1
    reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        acc["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    inp = m.get("Input Metrics") or {}
    acc["input_records"] += inp.get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    acc["output_bytes"] += out.get("Bytes Written", 0)
    acc["output_records"] += out.get("Records Written", 0)


def union_s(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ attribution

#: plan markers of the apply pipeline's SQL executions (see cdc_spark/apply.py)
CTRL_MARK = "approx_count_distinct("
LINEAGE_MARK = "min(_lsn#"
WRITE_MARK = "InsertIntoHadoopFsRelationCommand"
NARROW_MARK = "LeftSemi"


def cdc_layer(plan: str) -> str | None:
    """Layer of one apply-pipeline SQL execution, from its physical plan."""
    if WRITE_MARK in plan:
        return "lake.write"
    if CTRL_MARK in plan:
        return "apply.ctrl_agg"
    if LINEAGE_MARK in plan:
        return "apply.lineage"
    return None


def attribute_batch(jobs: list[dict], maintenance: bool) -> list[tuple[str, dict]]:
    """``(layer, job)`` for the jobs of one batch, in submission order.

    A job without a SQL execution (an adaptive-execution stage or a
    broadcast) belongs to the next classified job. The first lake write is
    the merge; any later write in a maintenance batch is compaction."""
    out: list[tuple[str, dict]] = []
    pending: list[dict] = []
    writes = 0
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        layer = cdc_layer(j["plan"]) if j["plan"] else None
        if layer is None and not j["plan"]:
            pending.append(j)
            continue
        if layer == "lake.write":
            writes += 1
            layer = "lake.maintenance" if (maintenance and writes > 1) else "lake.merge"
        layer = layer or "apply.other"
        for p in pending:
            out.append((layer, p))
        pending = []
        out.append((layer, j))
    for p in pending:
        out.append(("apply.other", p))
    return out


def _mean(xs) -> float | None:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else None


def _m(value, unit, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


def cdc_layers(batches: list[dict], events: list[int], winners: int | None) -> dict:
    """Per-layer figures over CDC batches. ``batches``: ``{"wall": s,
    "jobs": [...], "maintenance": bool, "source_mark": str}``; ``events``:
    events delivered per batch; ``winners``: rows the dedup kept."""
    per = []
    for b in batches:
        att = attribute_batch(b["jobs"], b["maintenance"])
        by: dict[str, list[dict]] = {}
        for layer, j in att:
            by.setdefault(layer, []).append(j)
        src = [j for _, j in att if b["source_mark"] in j["plan"]]
        src_sql = {j["sql"] for j in src}
        src_in = [j for layer, j in att if layer in ("apply.ctrl_agg", "apply.lineage")]
        span = lambda js: union_s((j["start"], j["end"]) for j in js)  # noqa: E731
        per.append({
            "jobs": len(att),
            "scan_passes": len(src_sql),
            "source_records": sum(j["input_records"] for j in src_in),
            "scan_task_s": sum(
                a["task_s"] for j in src_in for a in j["stage_metrics"]
                if any(s.startswith("Scan") for s in a["scopes"])
            ),
            "ctrl_s": span(by.get("apply.ctrl_agg", [])),
            "lineage_s": span(by.get("apply.lineage", [])),
            "dedup_bytes": sum(j["shuffle_write_bytes"] for j in by.get("apply.lineage", [])),
            "narrow": any(NARROW_MARK in j["plan"] for j in by.get("apply.lineage", [])),
            "merge_s": span(by.get("lake.merge", [])),
            "merge_bytes": sum(j["shuffle_write_bytes"] for j in by.get("lake.merge", [])),
            "bytes_written": sum(j["output_bytes"] for j in by.get("lake.merge", [])),
            "rows_written": sum(j["output_records"] for j in by.get("lake.merge", [])),
            "maint_s": span(by.get("lake.maintenance", [])),
            "driver_gap_s": b["wall"] - span(j for _, j in att),
        })
    n_ev = sum(events)
    maint = [p["maint_s"] for p, b in zip(per, batches) if b["maintenance"]]
    return {
        "sources.scan_passes_per_batch": _m(_mean(p["scan_passes"] for p in per), "count"),
        "sources.read_amplification": _m(
            sum(p["source_records"] for p in per) / n_ev if n_ev else None, "ratio",
            base_events=n_ev),
        "sources.scan_task_s": _m(_mean(p["scan_task_s"] for p in per), "s"),
        "apply.jobs_per_batch": _m(_mean(p["jobs"] for p in per), "count"),
        "apply.ctrl_agg_s": _m(_mean(p["ctrl_s"] for p in per), "s"),
        "apply.lineage_s": _m(_mean(p["lineage_s"] for p in per), "s"),
        "apply.driver_gap_s": _m(_mean(p["driver_gap_s"] for p in per), "s"),
        "dedup.exchange_bytes": _m(_mean(p["dedup_bytes"] for p in per), "bytes"),
        "dedup.collapse_ratio": _m(
            winners / n_ev if winners is not None and n_ev else None, "ratio",
            winners=winners, dml_events=n_ev),
        "dedup.narrow_share": _m(_mean(float(p["narrow"]) for p in per), "share"),
        "lake.merge_s": _m(_mean(p["merge_s"] for p in per), "s"),
        "lake.exchange_bytes": _m(_mean(p["merge_bytes"] for p in per), "bytes"),
        "lake.bytes_written": _m(_mean(p["bytes_written"] for p in per), "bytes"),
        "lake.rows_rewritten_per_winner": _m(
            sum(p["rows_written"] for p in per) / winners if winners else None, "ratio"),
        "lake.maintenance_s": _m(_mean(maint), "s", maintenance_batches=len(maint)),
        "apply.batches": _m(len(per), "count"),
    }


def spark_totals(jobs: list[dict], n_cores: int, wall: float) -> dict:
    task_s = sum(j["task_s"] for j in jobs)
    busy = union_s((j["start"], j["end"]) for j in jobs)
    return {
        "spark.task_s": _m(task_s, "s"),
        "spark.core_utilization": _m(task_s / (n_cores * wall), "share",
                                     cores=n_cores, wall_s=wall),
        "spark.idle_share": _m(1.0 - busy / wall, "share"),
        "spark.jobs": _m(len(jobs), "count"),
        "spark.tasks": _m(sum(j["tasks"] for j in jobs), "count"),
        "spark.failed_tasks": _m(sum(j["failed_tasks"] for j in jobs), "count"),
        "spark.shuffle_bytes": _m(sum(j["shuffle_write_bytes"] for j in jobs), "bytes"),
        "spark.spill_bytes": _m(sum(j["spill_bytes"] for j in jobs), "bytes"),
        "spark.gc_s": _m(sum(j["gc_s"] for j in jobs), "s"),
    }


def op_layers(prefix: str, jobs: list[dict], calls: int) -> dict:
    """Kernel / exchange / aggregate split of one operator's jobs, per
    call. Kernel stages run an Arrow Python node; aggregate stages read a
    shuffle and run no kernel."""
    kernel = agg = 0.0
    for j in jobs:
        for a in j["stage_metrics"]:
            if any("Arrow" in s or "Python" in s for s in a["scopes"]):
                kernel += a["task_s"]
            elif a["shuffle_read_bytes"] > 0:
                agg += a["task_s"]
    calls = max(calls, 1)
    return {
        f"{prefix}.kernel_task_s": _m(kernel / calls, "s"),
        f"{prefix}.exchange_bytes": _m(
            sum(j["shuffle_write_bytes"] for j in jobs) / calls, "bytes"),
        f"{prefix}.aggregate_task_s": _m(agg / calls, "s"),
    }


# --------------------------------------------------------------- entry points


def workload_layers(w, spans) -> dict:
    """Figures that need the live session or the workload's own records."""
    out: dict = {}
    name = w.name
    if name in ("bulk_replay", "upsert_large_lake", "stream_tail"):
        lake = w.applier.lake_for("repos").refresh()
        mdir = os.path.join(lake.root, "metadata")
        out["lake.data_files_end"] = _m(len(lake.meta["files"]), "count")
        out["lake.manifest_bytes_end"] = _m(
            os.path.getsize(os.path.join(mdir, f"v{lake.version}.json")), "bytes")
        met = w.applier.metrics().toPandas()
        out["_winners"] = int(met["upserts"].fillna(0).sum() + met["deletes"].fillna(0).sum())
    if name in ("bulk_replay", "upsert_large_lake"):
        counts = Counter(str(r.get("strategy")) for res in w.results for r in res)
        for k, v in counts.items():
            out[f"lake.strategy.{k}"] = _m(v, "count")
        out["lake.files_rewritten_per_batch"] = _m(
            _mean(r["files_written"] for res in w.results for r in res), "count")
        kept = []
        for i in range(1, len(w.manifests)):
            if w.maintenance(i) or w.maintenance(i - 1):
                continue
            prev, cur = set(w.manifests[i - 1]), set(w.manifests[i])
            if prev:
                kept.append(len(prev & cur) / len(prev))
        out["lake.files_skipped_share"] = _m(_mean(kept), "share", batches=len(kept))
    if name == "upsert_large_lake":
        out["snapshot.bootstrap_s"] = _m(statistics.median(w.bootstrap_runs), "s",
                                         runs=w.bootstrap_runs)
    if name == "stream_tail":
        prog = w.progress
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in prog]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog]
        rows = [p["numInputRows"] for p in prog]
        out["stream.microbatches"] = _m(len(prog), "count")
        out["stream.rows_per_microbatch_p50"] = _m(summarize(rows)["p50"], "rows")
        out["stream.add_batch_s_p50"] = _m(summarize(add)["p50"], "s")
        out["stream.engine_overhead_s_p50"] = _m(
            summarize([t - a for t, a in zip(trig, add)])["p50"], "s")
        out["stream.backlog_segments_max"] = _m(w.backlog_max(), "count")
        out["stream.input_rows_ratio"] = _m(
            sum(rows) / w.delivered_events(), "ratio",
            input_rows=sum(rows), delivered=w.delivered_events())
        out["loadgen.lag_max_s"] = _m(w.lag_max, "s", bound_s=w.lag_bound_s)
        out["parse.frames_per_s"] = _m(_parse_rate(w), "frames/s")
    if name == "corpus_neardup":
        for op in w.ops:
            short = w.short[op]
            out[f"{short}.candidates_per_doc"] = _m(w.n_pairs[op] / w.n_docs, "ratio")
            out[f"{short}.planted_recall"] = _m(w.recall[op], "share")
    return out


def _parse_rate(w) -> float:
    """``parse_frames`` over the released framed segments into a ``noop``
    sink: frames per second, median of three passes."""
    from cdc_spark.parse import parse_frames

    paths = [os.path.join(w.watch, f"seg={seg}") for seg, _, _ in w.released]
    df = w.spark.read.schema("lsn BIGINT, value STRING").parquet(*paths)
    n = df.count()
    rates = []
    for _ in range(3):
        t = time.time()
        parse_frames(df).write.format("noop").mode("overwrite").save()
        rates.append(n / (time.time() - t))
    return statistics.median(rates)


def from_eventlog(w, co, spans, run_wall: float, winners: int | None = None) -> dict:
    files = [f for f in glob.glob(os.path.join(co.eventlog, "*")) if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no event log under {co.eventlog}")
    log = load_eventlog(max(files, key=os.path.getmtime))
    jobs = log["jobs"]
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    measured_spans = [s for s in spans.items
                      if s["name"] in ("apply_batch", "lookup") or s["name"].startswith("op:")]
    measured = [j for s in measured_spans for j in by_group.get(s["id"], [])]
    out: dict = {}
    if w.name in ("bulk_replay", "upsert_large_lake"):
        batches = [
            {"wall": s["end"] - s["start"], "jobs": by_group.get(s["id"], []),
             "maintenance": w.maintenance(s["batch"]), "source_mark": "/batches/b="}
            for s in spans.of("apply_batch")
        ]
        events = w.batch_events[: len(batches)]
        out.update(cdc_layers(batches, events, winners))
    if w.name == "upsert_large_lake":
        lookups = [j for s in spans.of("lookup") for j in by_group.get(s["id"], [])]
        scan_tasks = sum(j["tasks"] for j in lookups if "Scan parquet" in j["plan"])
        out["lake.lookup_files_read"] = _m(
            scan_tasks / max(len(spans.of("lookup")), 1), "count",
            note="scan tasks per lookup (one per file split)")
    if w.name == "stream_tail":
        qjobs = [j for j in jobs if j["query"] == w.query_id]
        measured += qjobs
        by_batch: dict[int, list[dict]] = {}
        for j in qjobs:
            by_batch.setdefault(j["batch"], []).append(j)
        walls = {p["batchId"]: p["durationMs"].get("addBatch", 0) / 1000.0
                 for p in w.progress}
        bids = sorted(b for b in by_batch if b in walls)
        rows = {p["batchId"]: p["numInputRows"] for p in w.progress}
        batches = [
            {"wall": walls[b], "jobs": by_batch[b], "maintenance": False,
             "source_mark": "Scan ExistingRDD"}
            for b in bids
        ]
        out.update(cdc_layers(batches, [rows[b] for b in bids], winners))
    if w.name == "corpus_neardup":
        for op in w.ops:
            short = w.short[op]
            ss = spans.of(f"op:{short}")
            out.update(op_layers(short, [j for s in ss for j in by_group.get(s["id"], [])],
                                 len(ss)))
    out.update(spark_totals(measured, w.n, run_wall))
    return out
