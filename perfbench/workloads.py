"""The benchmark's workloads. Each drives ``cdc_spark`` only through its
public API, from pre-written inputs, and verifies what it produced.

A workload object goes through ``setup(dir)`` (write the seeded inputs;
run several times, the last copy is used), ``warmup()`` (untimed, on
throwaway state), ``run(seconds)`` (the timed region), ``verify()`` and
``report()``. ``report()`` returns the workload's named metrics;
``generic()`` the two figures every workload has, ``throughput_per_s`` and
``latency_p50_s``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time

import pyarrow.parquet as pq

import check
from stats import pair_digest, summarize

KEY = ("repo", "path")


def _count_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _named(value, unit, **extra):
    return {"value": value, "unit": unit, **extra}


def _timing(prefix: str, values, unit: str = "s") -> dict:
    """``<prefix>_p50_s`` and ``<prefix>_tail_s`` with the tail's
    percentile and the sample count."""
    s = summarize(values)
    return {
        f"{prefix}_p50_s": _named(s["p50"], unit, n=s["n"],
                                  samples=[round(v, 4) for v in values]),
        f"{prefix}_tail_s": _named(
            s["tail"], unit, percentile=s["tail_pct"], n=s["n"]
        ),
    }


class Workload:
    name = ""
    loop = ""

    def __init__(self, spark, co, seed: int, spans, n_cores: int, seconds: float):
        self.spark = spark
        self.seconds = seconds
        self.co = co
        self.seed = seed
        self.spans = spans
        self.n = n_cores
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.inputs = None

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def cfg(self, root: str, **kw):
        from cdc_spark.config import EngineConfig

        return EngineConfig(
            lake_root=os.path.join(root, "lake"),
            checkpoint=os.path.join(root, "ckpt"),
            n_buckets=self.n_buckets,
            shuffle_partitions=self.n,
            **kw,
        )

    n_buckets = 8


# --------------------------------------------------------------- CDC helpers
def _write_log(spark, path: str, n_events: int, *, seed: int, start_lsn: int,
               per_batch: int | None = None, **kw) -> None:
    """A seeded change log, optionally split into ``b=<i>`` batch dirs of
    ``per_batch`` consecutive LSNs (duplicate deliveries stay in their
    original batch)."""
    from pyspark.sql import functions as F

    from cdc_spark.loggen import change_log

    log = change_log(spark, n_events, start_lsn=start_lsn, seed=seed, **kw)
    if per_batch:
        log = log.withColumn(
            "b", F.floor((F.col("lsn") - start_lsn) / per_batch).cast("int")
        )
        log.repartition("b").write.partitionBy("b").parquet(path)
    else:
        log.write.parquet(path)


class _Replay(Workload):
    """Closed loop over pre-written batch dirs: apply batch after batch
    while the next maintenance cycle fits in the time, or until the
    batches run out."""

    loop = "closed"
    batches = 0
    per_batch = 0
    start_lsn = 1
    log_kw: dict = {}

    def batch_dir(self, i: int) -> str:
        return os.path.join(self.inputs, "batches", f"b={i}")

    def write_batches(self, d: str) -> None:
        _write_log(
            self.spark, os.path.join(d, "batches"),
            self.batches * self.per_batch, seed=self.seed,
            start_lsn=self.start_lsn, per_batch=self.per_batch, **self.log_kw,
        )

    def setup_done(self) -> None:
        self.batch_events = [
            _count_rows(self.batch_dir(i)) for i in range(self.batches)
        ]

    def warmup(self) -> None:
        """The timed code path on throwaway state: the first batch (and its
        lookups) of this set-up's inputs; the run uses a later set-up's copy."""
        applier = self.make_applier()
        applier.apply_batch(self.spark.read.parquet(self.batch_dir(0)), 0)
        for probe in self.lookup_keys(random.Random(self.seed), 0):
            applier.lake_for("repos").lookup(probe).collect()

    def make_applier(self):
        from cdc_spark.apply import CdcApply

        return CdcApply(self.spark, self.cfg(self.inputs, **self.cfg_kw))

    cfg_kw: dict = {}

    def run(self, seconds: float) -> None:
        self.applier = self.make_applier()
        lake = self.applier.lake_for("repos")
        rng = random.Random(self.seed)
        self.latencies, self.results, self.probes = [], [], []
        self.lookup_latencies = []
        self.manifests = []
        # whole maintenance cycles only (merge commits plus their
        # compaction), and a new cycle only if one more, as long as the last,
        # still ends within the window: a run then holds the same mix of
        # commits however close its speed is to a cycle boundary
        cycle = self.cfg_kw.get("compact_every") or 1
        t0 = cycle_t0 = time.time()
        for i in range(self.batches):
            if i and i % cycle == 0:
                now = time.time()
                if 2 * now - cycle_t0 - t0 > seconds:
                    break
                cycle_t0 = now
            df = self.spark.read.parquet(self.batch_dir(i))
            self.attempted += 1
            with self.spans.span("apply_batch", batch=i) as sp:
                try:
                    res = self.applier.apply_batch(df, i)
                except Exception as e:  # a raised batch is a failed op
                    self.fail(f"batch {i}: {type(e).__name__}: {e}")
                    break
            self.latencies.append(sp["end"] - sp["start"])
            self.results.append(res)
            self.manifests.append([f["path"] for f in lake.refresh().meta["files"]])
            hwm = self.start_lsn + (i + 1) * self.per_batch - 1
            for probe in self.lookup_keys(rng, i):
                self.attempted += 1
                with self.spans.span("lookup", batch=i) as sp:
                    got = [r["content"] for r in lake.lookup(probe).collect()]
                self.lookup_latencies.append(sp["end"] - sp["start"])
                self.probes.append((probe, hwm, got))
        self.applied = len(self.latencies)

    def lookup_keys(self, rng, i: int):
        return []

    def maintenance(self, i: int) -> bool:
        """Whether applying batch ``i`` also ran lake maintenance."""
        every = self.cfg_kw.get("compact_every", 0)
        return bool(every) and (i + 1) % every == 0

    def event_globs(self) -> list[str]:
        return [
            os.path.join(self.batch_dir(i), "*.parquet")
            for i in range(self.applied)
        ]

    def expected_kw(self) -> dict:
        return {}

    def verify(self) -> None:
        self.attempted += 1
        want = check.expected_digest(self.event_globs(), **self.expected_kw())
        got = check.lake_digest(self.applier.lake_for("repos"))
        self.digest = {"expected": want, "lake": got}
        if want != got:
            self.fail(f"lake state {got} != expected {want}")
        if self.probes:
            exp = check.expected_lookups(
                self.event_globs(),
                [(k[0], k[1], hwm) for k, hwm, _ in self.probes],
                **self.expected_kw(),
            )
            for (k, hwm, got_rows), want_c in zip(self.probes, exp):
                if got_rows != ([] if want_c is None else [want_c]):
                    self.fail(f"lookup {k} at lsn {hwm}: {got_rows!r} != {want_c!r}")

    def replay_report(self) -> dict:
        events = sum(self.batch_events[: self.applied])
        out = {"ingest_events_per_s": _named(
            self.generic()["throughput_per_s"], "events/s", events=events)}
        out.update(_timing("batch_latency", self.latencies))
        return out

    def generic(self) -> dict:
        return {
            "throughput_per_s": sum(self.batch_events[: self.applied]) / sum(self.latencies),
            "latency_p50_s": summarize(self.latencies)["p50"],
        }


class BulkReplay(_Replay):
    name = "bulk_replay"
    n_buckets = 8
    batches = 6
    per_batch = 100_000
    log_kw = dict(n_repos=2000, n_paths=200, zipf=2.0, delete_rate=0.05,
                  dup_rate=0.01, content_repeat=1)

    def setup(self, d: str) -> None:
        self.write_batches(d)

    def report(self) -> dict:
        return self.replay_report()


class UpsertLargeLake(_Replay):
    name = "upsert_large_lake"
    n_buckets = 8
    lake_keys = 20_000
    batches = 16
    per_batch = 1_000
    watermark = 10_000_000
    start_lsn = watermark + 1
    #: maintenance (compaction + snapshot expiry) on every fourth commit
    cfg_kw = dict(compact_every=4)
    log_kw = dict(n_repos=2000, n_paths=200, zipf=2.0, delete_rate=0.05,
                  dup_rate=0.01, content_repeat=16)

    def setup(self, d: str) -> None:
        from pyspark.sql import functions as F

        from cdc_spark.loggen import change_log
        from cdc_spark.snapshot import bootstrap

        # the bootstrap snapshot: one row per key, uniform over the keyspace
        snap = (
            change_log(self.spark, self.lake_keys, n_repos=2000, n_paths=200,
                       zipf=1.0, delete_rate=0.0, seed=self.seed + 7,
                       content_repeat=16)
            .groupBy(*KEY)
            .agg(F.max_by(F.struct("commit", "lang", "content"), "lsn").alias("s"))
            .select(*KEY, "s.*")
        )
        snap.write.parquet(os.path.join(d, "snapshot"))
        self.write_batches(d)
        with self.spans.span("bootstrap") as sp:
            bootstrap(
                self.spark,
                self.cfg(d),
                self.spark.read.parquet(os.path.join(d, "snapshot")),
                lsn_watermark=self.watermark,
            )
        self.bootstrap_s = sp["end"] - sp["start"]
        self.bootstrap_runs = getattr(self, "bootstrap_runs", []) + [self.bootstrap_s]

    def setup_done(self) -> None:
        super().setup_done()
        keys = pq.read_table(
            os.path.join(self.inputs, "snapshot"), columns=list(KEY)
        )
        self.snapshot_keys = sorted(
            zip(keys.column("repo").to_pylist(), keys.column("path").to_pylist())
        )

    def lookup_keys(self, rng, i: int):
        """One seeded point read per commit, alternating a key of the
        bootstrap snapshot (a hit unless deleted since) and an absent key."""
        if i % 2 == 0:
            return [rng.choice(self.snapshot_keys)]
        return [(f"repo-absent-{rng.randrange(10**6)}", "src/0/file_0.txt")]

    def expected_kw(self) -> dict:
        return {
            "bootstrap_glob": os.path.join(self.inputs, "snapshot", "*.parquet"),
            "bootstrap_lsn": self.watermark,
        }

    def report(self) -> dict:
        out = self.replay_report()
        out.update(_timing("lookup_latency", self.lookup_latencies))
        return out


class StreamTail(Workload):
    name = "stream_tail"
    loop = "open"
    n_buckets = 8
    seg_events = 250
    #: the fixed open-loop rate: one segment of ``seg_events`` every
    #: ``interval_s`` (500 events/s). At 2000 events/s the lake, which every
    #: micro-batch rewrites, grew fast enough that commit latency kept
    #: rising within a 10 s run; at this rate it stays flat.
    interval_s = 0.5
    shuffle_window = 50
    lag_bound_s = 0.25
    drain_timeout_s = 60.0

    def n_segments(self, seconds: float) -> int:
        return int(seconds / self.interval_s) + 1

    def setup(self, d: str) -> None:
        from cdc_spark.loggen import change_log, to_frames, write_segments

        log = change_log(
            self.spark, self.n_segments(self.seconds) * self.seg_events,
            n_repos=2000, n_paths=200, zipf=2.0, delete_rate=0.05,
            dup_rate=0.01, seed=self.seed,
        )
        kw = dict(seg_size=self.seg_events, shuffle_window=self.shuffle_window,
                  seed=self.seed)
        write_segments(to_frames(log), os.path.join(d, "staged"), **kw)
        # the same rows as envelopes, identically segmented: the oracle's copy
        write_segments(log, os.path.join(d, "envelope"), **kw)

    def setup_done(self) -> None:
        import duckdb

        with duckdb.connect() as con:
            rows = con.execute(
                "SELECT seg, max(lsn), count(*) FROM read_parquet(?, "
                "hive_partitioning = true) GROUP BY seg ORDER BY seg",
                [os.path.join(self.inputs, "envelope", "seg=*", "*.parquet")],
            ).fetchall()
        self.segs = [(int(s), int(mx), int(n)) for s, mx, n in rows]

    def warmup(self) -> None:
        """A bounded stream over this set-up's first two segments, on a
        throwaway lake and checkpoint."""
        from cdc_spark.stream import run_to_completion

        wal = os.path.join(self.inputs, "warm_wal")
        os.makedirs(wal)
        for seg, _, _ in self.segs[:2]:
            os.rename(os.path.join(self.inputs, "staged", f"seg={seg}"),
                      os.path.join(wal, f"seg={seg}"))
        run_to_completion(self.spark, wal, self.cfg(os.path.join(self.inputs, "warm")),
                          framed=True)

    def _release(self, t0: float, seconds: float, stop: threading.Event) -> None:
        staged = os.path.join(self.inputs, "staged")
        for k, (seg, _mx, _n) in enumerate(self.segs):
            due = t0 + k * self.interval_s
            if due - t0 >= seconds or stop.is_set():
                return
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            src = os.path.join(staged, f"seg={seg}")
            for f in glob.glob(os.path.join(src, "*")):
                os.utime(f, (due, due))
            os.rename(src, os.path.join(self.watch, f"seg={seg}"))
            self.released.append((seg, due, time.time()))

    def run(self, seconds: float) -> None:
        from cdc_spark.stream import start_stream

        self.watch = os.path.join(self.inputs, "watch")
        os.makedirs(self.watch, exist_ok=True)
        cfg = self.cfg(self.inputs)
        self.released = []
        stop = threading.Event()
        q, self.applier = start_stream(
            self.spark, self.watch, cfg, framed=True, available_now=False
        )
        self.query_id = str(q.id)
        # a steady schedule starts once the query is up and idle
        t0 = time.time() + 1.0
        gen = threading.Thread(target=self._release, args=(t0, seconds, stop))
        gen.start()
        lake = self.applier.lake_for("repos")
        try:
            gen.join()
            self.attempted += len(self.released)
            hwm_needed = max(mx for s, mx, _ in self.segs if s <= self.released[-1][0])
            deadline = time.time() + self.drain_timeout_s
            while lake.refresh().last_batch["lsn_hwm"] < hwm_needed:
                if q.exception() is not None or time.time() > deadline:
                    break
                time.sleep(0.05)
            # the last micro-batch reports its progress after its commit
            last = lake.last_batch["id"]
            while not any(p["batchId"] >= last for p in q.recentProgress):
                if q.exception() is not None or time.time() > deadline:
                    break
                time.sleep(0.05)
        finally:
            stop.set()
            gen.join()
            q.stop()
        if q.exception() is not None:
            self.fail(f"streaming query failed: {q.exception()}")
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.t0 = t0
        self._commit_latencies(lake.root)

    def _commit_latencies(self, lake_root: str) -> None:
        """Join each released segment to the first manifest whose
        ``last_batch.lsn_hwm`` covers its highest LSN."""
        commits = []
        for m in glob.glob(os.path.join(lake_root, "metadata", "v*.json")):
            with open(m) as fh:
                hwm = json.load(fh)["last_batch"]["lsn_hwm"]
            commits.append((os.path.getmtime(m), hwm))
        seg_max = {s: mx for s, mx, _ in self.segs}
        releases = [(due, seg_max[seg]) for seg, due, _ in self.released]
        self.latencies, missing = commit_latencies(releases, commits)
        for due in missing:
            self.fail(f"segment due at {due:.3f} never committed")
        self.lag_max = max(actual - due for _, due, actual in self.released)
        if self.lag_max > self.lag_bound_s:
            self.fail(f"load generator ran {self.lag_max:.3f}s late")
        self.last_commit = max((t for t, _ in commits), default=self.t0)
        self.commit_times = [due + lat for due, lat in zip(
            (due for _, due, _ in self.released), self.latencies)]

    def backlog_max(self) -> int:
        """Most segments released but not yet committed at any instant."""
        events = sorted(
            [(due, 1) for _, due, _ in self.released]
            + [(t, -1) for t in self.commit_times]
        )
        cur = best = 0
        for _, d in events:
            cur += d
            best = max(best, cur)
        return best

    def verify(self) -> None:
        self.attempted += 1
        globs = [
            os.path.join(self.inputs, "envelope", f"seg={seg}", "*.parquet")
            for seg, _, _ in self.released
        ]
        want = check.expected_digest(globs)
        got = check.lake_digest(self.applier.lake_for("repos"))
        self.digest = {"expected": want, "lake": got}
        if want != got:
            self.fail(f"lake state {got} != expected {want}")

    def delivered_events(self) -> int:
        n_of = {s: n for s, _, n in self.segs}
        return sum(n_of[seg] for seg, _, _ in self.released)

    def report(self) -> dict:
        out = _timing("commit_latency", self.latencies)
        out["loadgen_lag_max_s"] = _named(self.lag_max, "s")
        out["delivered_events_per_s"] = _named(
            self.delivered_events() / (self.last_commit - self.t0), "events/s"
        )
        return out

    def generic(self) -> dict:
        return {
            "throughput_per_s": self.delivered_events() / (self.last_commit - self.t0),
            "latency_p50_s": summarize(self.latencies)["p50"],
        }


def commit_latencies(releases, commits):
    """``releases``: ``(due_time, segment max LSN)``; ``commits``:
    ``(manifest mtime, last_batch.lsn_hwm)``. A segment commits with the
    first manifest (by mtime) whose high-water mark reaches its highest LSN.
    Returns ``(latencies, dues of segments never committed)``."""
    commits = sorted(commits)
    out, missing = [], []
    for due, mx in releases:
        t = next((mt for mt, hwm in commits if hwm >= mx), None)
        if t is None:
            missing.append(due)
        else:
            out.append(t - due)
    return out, missing


class CorpusNearDup(Workload):
    name = "corpus_neardup"
    loop = "batch"
    n_docs = 800
    golden_docs = 300
    golden_seed = 9
    planted_every = 37
    #: ngram_jaccard_pairs is left out: its cold plus one warm call cost
    #: ~20 s on a 4-core machine, more than a run's budget allows
    ops = ("minhash_lsh_pairs", "simhash_neardup_pairs")
    short = {"minhash_lsh_pairs": "minhash", "simhash_neardup_pairs": "simhash"}
    #: planted-duplicate recall each operator must reach on the timed corpus
    recall_floor = {"minhash_lsh_pairs": 0.95, "simhash_neardup_pairs": 0.6}

    def setup(self, d: str) -> None:
        from cdc_spark.loggen import realistic_docs

        realistic_docs(self.spark, self.n_docs, seed=self.seed).repartition(
            self.n).write.parquet(os.path.join(d, "corpus", "documents.parquet"))

    def setup_done(self) -> None:
        pass

    def _pairs(self, op: str, corpus: str):
        from cdc_spark.queries import registry

        rows = registry()[op][0](self.spark, corpus).select("doc_a", "doc_b").collect()
        return [(r[0], r[1]) for r in rows]

    def warmup(self) -> None:
        """Warm every operator on the fixed golden corpus and check its pair
        set against the digests recorded from the DuckDB oracle."""
        from cdc_spark.loggen import realistic_docs

        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "golden.json")) as fh:
            golden = json.load(fh)["corpus_neardup"]
        corpus = self.co.path("warm", "golden")
        realistic_docs(self.spark, self.golden_docs, seed=self.golden_seed
                       ).repartition(self.n).write.parquet(
            os.path.join(corpus, "documents.parquet"))
        for op in self.ops:
            self.attempted += 1
            got = list(pair_digest(self._pairs(op, corpus)))
            if got != golden[op]:
                self.fail(f"{op} golden corpus pairs {got} != {golden[op]}")

    def run(self, seconds: float) -> None:
        corpus = os.path.join(self.inputs, "corpus")
        self.times = {op: [] for op in self.ops}
        self.digests = {op: set() for op in self.ops}
        self.recall = {}
        self.n_pairs = {}
        planted = {(i - 1, i) for i in range(self.planted_every, self.n_docs,
                                             self.planted_every)}
        t0 = time.time()
        while True:
            for op in self.ops:
                self.attempted += 1
                with self.spans.span(f"op:{self.short[op]}") as sp:
                    try:
                        pairs = self._pairs(op, corpus)
                    except Exception as e:
                        self.fail(f"{op}: {type(e).__name__}: {e}")
                        continue
                self.times[op].append(sp["end"] - sp["start"])
                self.digests[op].add(pair_digest(pairs))
                self.n_pairs[op] = len(pairs)
                self.recall[op] = len(planted & set(pairs)) / len(planted)
            if time.time() - t0 >= seconds:
                break

    def verify(self) -> None:
        for op in self.ops:
            self.attempted += 1
            if len(self.digests[op]) != 1:
                self.fail(f"{op} returned {len(self.digests[op])} different pair sets")
            if self.recall.get(op, 0.0) < self.recall_floor[op]:
                self.fail(f"{op} planted recall {self.recall.get(op)} < {self.recall_floor[op]}")

    def one_pass_s(self) -> float:
        return sum(summarize(self.times[op])["p50"] for op in self.ops)

    def report(self) -> dict:
        out = {}
        for op in self.ops:
            s = summarize(self.times[op])
            out[f"{self.short[op]}_pairs_s"] = _named(s["p50"], "s", n=s["n"])
        return out

    def generic(self) -> dict:
        return {
            "throughput_per_s": self.n_docs / self.one_pass_s(),
            "latency_p50_s": self.one_pass_s(),
        }


WORKLOADS = {w.name: w for w in (BulkReplay, StreamTail, UpsertLargeLake, CorpusNearDup)}
