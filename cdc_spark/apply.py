"""The foreachBatch body: control-event extraction, epoch schema projection,
LWW dedup, lake merge, lineage metrics.

This is the consumer the reference leaves as ``NotImplementedError``
(``/root/reference/cdc/__main__.py:87-92``), built to the north rule:

1. one control-plane aggregation job extracts per-table (lsn high-watermark,
   truncate watermark, schema-change list) — the only driver-side collect,
   and it is O(tables + schema changes), never O(rows);
2. DML rows are interpreted under the schema epoch their LSN falls in and
   projected into the batch-final schema (schema-evolution events replayed
   at the correct LSN, E3). The lake owns the schema: ``LakeTable.evolve``
   plans the epochs from its recorded history, ``LakeTable.merge`` records
   the batch's control events, and each epoch's staged rows are lifted by
   ``lake.project_to`` — the same cast-chain fold reads use;
3. one LWW max-LSN reduce per (repo, path), a single pass over the batch
   (A2/A3);
4. merge into the lake with one idempotent commit per (batch, table), keyed
   by (epoch, lsn_hwm) (E1/E2): the deduped batch is appended as
   key-range-sharded delta files, no old file is read or rewritten, and
   reads resolve the max-LSN row per key (see ``LakeTable.merge``);
5. one lineage row per (table, batch) — applied LSN range, upsert/delete
   counts and commit latency — appended to a queryable metrics table (C5 —
   the engine analog of the reference's DogStatsd timings,
   ``cdc/utils/stats.py:44-65``). The counts come from the merge's own
   write (``LakeTable.merge`` info), so no extra job counts them.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DML_OPS, EngineConfig
from .dedup import lww_dedup, sql_ident
from .lake import LakeTable, project_to, sql_str, sql_type
from .parse import BASE_COLUMNS


METRICS_DDL = (
    "table STRING, batch_id BIGINT, min_lsn BIGINT, max_lsn BIGINT, "
    "upserts BIGINT, deletes BIGINT, lake_version BIGINT, skipped BOOLEAN, "
    "commit_latency_s DOUBLE"
)


def read_metrics(spark: SparkSession, lake_root: str) -> DataFrame:
    """The lineage/metrics table under ``lake_root``: one row per (table,
    batch). At-least-once appended — a crash between the lake commit and
    the metrics write replays as a 'skipped' row next to the real one —
    so rows dedupe on (table, batch_id, skipped), which keeps the real
    row's counts. Scanned under ``METRICS_DDL`` (no schema-inference
    job)."""
    return (
        spark.read.schema(METRICS_DDL)
        .parquet(os.path.join(lake_root, "_metrics", "*"))
        .dropDuplicates(["table", "batch_id", "skipped"])
    )


def _stage_epoch(fields, key, consumed: str) -> list[str]:
    """``selectExpr`` text staging one epoch's DML rows under the epoch's
    own ``fields``: key columns as delivered, every other field's raw string
    interpreted as its epoch type (NULL on tombstones), the ``_lsn`` /
    ``_deleted`` bookkeeping, and the ``_extra`` payload residue not
    ``consumed`` by the final schema — kept so a late-delivered add-column
    can resurrect values (see lake.py ``META_FIELDS``)."""
    live = "op <> 'delete'"
    out = []
    for name, typ in fields:
        col = sql_ident(name)
        if name in key:
            out.append(col)
            continue
        raw = col if name in BASE_COLUMNS else f"element_at(extra, {sql_str(name)})"
        out.append(
            f"CASE WHEN {live} THEN try_cast({raw} AS {sql_type(typ)}) END AS {col}"
        )
    return out + [
        "lsn AS _lsn",
        "op = 'delete' AS _deleted",
        f"CASE WHEN {live} THEN map_filter(coalesce(extra, map()), "
        f"(k, v) -> NOT k IN ({consumed})) END AS _extra",
    ]


class CdcApply:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self._lakes: dict[str, LakeTable] = {}
        self._neardup_idx: dict = {}
        self._neardup_pairs: dict[str, LakeTable] = {}

    def lake_for(self, table: str) -> LakeTable:
        if table not in self._lakes:
            self._lakes[table] = LakeTable.open_or_create(
                self.spark,
                os.path.join(self.cfg.lake_root, table),
                fields=list(self.cfg.base_fields),
                key=self.cfg.key,
                n_buckets=self.cfg.n_buckets,
                table=table,
            )
        return self._lakes[table]

    # ------------------------------------------------------------ the batch
    def apply_batch(self, df: DataFrame, batch_id: int) -> list[dict]:
        """Apply one microbatch of envelope rows. Returns per-table commit
        info. Safe to re-run with the same batch_id (idempotent)."""
        t0 = time.time()
        # begin/commit brackets, generic frames, and any row that decoded
        # without a routable table (the reference's B|/C| bodies carry no
        # 'table' key) are dropped BEFORE the control groupBy — one malformed
        # or parity-format frame must never poison the batch (a foreachBatch
        # exception replays on restart, i.e. a crash loop). Mirrors the
        # reference's GenericMessage fallback (postgres_logical.py:76-80).
        df = df.filter(
            F.col("table").isNotNull()
            & ~F.col("op").isin("begin", "commit", "generic")
        )
        # control plane: ONE aggregation job, O(tables) result
        ctrl = (
            df.groupBy("table")
            .agg(
                F.max("lsn").alias("lsn_hwm"),
                F.max(F.when(F.col("op") == "truncate", F.col("lsn"))).alias(
                    "tr_lsn"
                ),
                F.max(F.when(F.col("op").isin(*DML_OPS), F.col("lsn"))).alias(
                    "dml_lsn"
                ),
                F.sort_array(
                    F.collect_set(
                        F.when(
                            F.col("op") == "schema_change",
                            F.struct("lsn", "schema_change"),
                        )
                    )
                ).alias("changes"),
            )
            .collect()
        )
        if len(ctrl) > 1:
            # demuxed tables write to independent lakes; run their merge
            # jobs concurrently (Spark schedules jobs from multiple
            # driver threads in parallel). Lakes are created up front so
            # the cache dict is not mutated across threads.
            from concurrent.futures import ThreadPoolExecutor

            for row in ctrl:
                self.lake_for(row["table"])
            with ThreadPoolExecutor(max_workers=min(4, len(ctrl))) as ex:
                results = list(
                    ex.map(
                        lambda row: self._apply_table(df, batch_id, row, t0),
                        ctrl,
                    )
                )
        else:
            results = [self._apply_table(df, batch_id, row, t0) for row in ctrl]
        self._maybe_maintain(batch_id, [r["table"] for r in ctrl])
        return results

    def _apply_table(self, df: DataFrame, batch_id: int, ctrl, t0: float) -> dict:
        table = ctrl["table"]
        lake = self.lake_for(table)
        key = lake.key

        # -- schema epochs (E3): the lake merges the batch's control events
        # into its global (lsn, change) history and replays the epoch chain
        # (collect_set dedupes duplicate-delivered control events; A3)
        batch_changes = [
            (c["lsn"], c["schema_change"]) for c in (ctrl["changes"] or [])
        ]
        _, final_fields, aligned, epochs = lake.evolve(batch_changes)

        # -- truncate watermark: rows at or below it are dead (F3)
        t_new = ctrl["tr_lsn"]
        t_eff = max(lake.truncate_lsn, t_new if t_new is not None else -1)

        data = df.filter(
            (F.col("table") == table)
            & F.col("op").isin(*DML_OPS)
            & (F.col("lsn") > F.lit(t_eff))
        )

        # -- epoch projection into the batch-final schema (E3): each epoch's
        # rows are staged under the epoch's own types, then lifted by the
        # lake's read-side projection, so writes and reads fold one
        # cast-chain rule
        consumed = ", ".join(sql_str(n) for n, _ in final_fields)
        parts = []
        for i, (lb, fields, aidx) in enumerate(epochs):
            ub = epochs[i + 1][0] if i + 1 < len(epochs) else None
            bounds = [f"lsn > {lb}"] if lb >= 0 else []
            bounds += [f"lsn < {ub}"] if ub is not None else []
            sub = data.where(" AND ".join(bounds)) if bounds else data
            staged = sub.selectExpr(*_stage_epoch(fields, key, consumed))
            # valid changes applied after this epoch (aligned index skips
            # the invalid entries)
            tail = [c for c in aligned[aidx:] if c is not None]
            parts.append(project_to(staged, fields, final_fields, tail))
        projected = parts[0]
        for p in parts[1:]:
            projected = projected.unionByName(p)

        # -- LWW dedup (A2) + merge (E1) under one persist: one max_by
        # reduce, partial-aggregated below its key exchange
        deduped = lww_dedup(projected, key=key, order_col="_lsn").persist()
        try:
            has_rows = ctrl["dml_lsn"] is not None and ctrl["dml_lsn"] > t_eff
            info = lake.merge(
                # no rows for this table past the truncate (control events
                # only): a manifest-only commit, no write job
                deduped if has_rows else None,
                batch_id=batch_id,
                lsn_hwm=ctrl["lsn_hwm"],
                new_truncate_lsn=t_new,
                schema_changes=batch_changes,
            )
            self._write_metrics(table, batch_id, info, t0)
            if self.cfg.neardup_index:
                # run even when the LAKE merge was a skipped replay: a
                # crash between lake commit and index update would
                # otherwise desync the index forever — the index's OWN
                # idempotent commit (per batch_id) dedupes true replays
                self._update_neardup_index(
                    table, deduped, ctrl["lsn_hwm"], batch_id,
                    truncated=t_new is not None,
                )
        finally:
            deduped.unpersist()
        return info

    def _neardups_lake(self, table: str) -> LakeTable:
        """The per-table candidate-pairs table — a LakeTable keyed
        (doc_a, doc_b), so pair persistence inherits idempotent
        batch commits (exactly-once through any crash/replay), LWW dedup
        of re-observed pairs, and normal lake maintenance."""
        lake = self._neardup_pairs.get(table)
        if lake is None:
            lake = self._neardup_pairs[table] = LakeTable.open_or_create(
                self.spark,
                os.path.join(self.cfg.lake_root, "_neardups", table),
                fields=[
                    ("doc_a", "long"),
                    ("doc_b", "long"),
                    ("batch_id", "long"),
                ],
                key=("doc_a", "doc_b"),
                n_buckets=self.cfg.n_buckets,
                table=f"{table}_neardups",
            )
        return lake

    def neardups(self, table: str, live_only: bool = False) -> DataFrame:
        """Queryable near-dup candidate pairs for ``table``: columns
        (doc_a, doc_b, batch_id) with doc_a < doc_b, where doc ids are
        ``xxhash64(*key)`` of the lake rows. EXACTLY one row per pair —
        the pairs lake's idempotent per-batch commits close the
        crash/replay windows, and its LWW resolve collapses
        re-observations (batch_id = the latest batch that surfaced the
        pair) — so readers need no dropDuplicates. Pairs are advisory
        history: they are not retracted when a document later changes or
        dies (an emitted candidate is not retractable from a streaming
        pipeline). ``live_only=True`` filters to pairs whose BOTH docs
        are still live in the lake (two semi-joins against the live key
        hashes, which are computed and locally checkpointed ONCE —
        O(pairs + live keys) with a single lake scan)."""
        if not live_only:
            return self._neardups_lake(table).refresh().read()
        return self._live_pairs(table)[1]

    def _live_pairs(self, table: str) -> tuple[DataFrame, DataFrame]:
        """``(live_ids, pairs)``: the ``doc_id`` hashes of ``table``'s live
        lake rows, locally checkpointed so its ONE lake scan feeds every
        consumer, and the pairs whose both docs are among them (two
        semi-joins)."""
        live_ids = (
            self.lake_for(table)
            .refresh()
            .read()
            .select(
                F.xxhash64(*[F.col(k) for k in self.cfg.key]).alias("doc_id")
            )
            .localCheckpoint(eager=False)
        )
        pairs = (
            self._neardups_lake(table)
            .refresh()
            .read()
            .join(
                live_ids.select(F.col("doc_id").alias("doc_a")), ["doc_a"], "semi"
            )
            .join(
                live_ids.select(F.col("doc_id").alias("doc_b")), ["doc_b"], "semi"
            )
            .select("doc_a", "doc_b", "batch_id")
        )
        return live_ids, pairs

    def neardup_clusters(self, table: str) -> DataFrame:
        """Dedup verdict over the CURRENT corpus from the streaming pair
        history: connected components
        (:func:`~cdc_spark.functions.cluster.connected_components`,
        alternating large-star/small-star — O(log^2 n) key-partitioned
        rounds, no driver graph state) over the live-filtered
        :meth:`neardups` pairs, joined back over the live lake keys.
        Returns (doc_id, cluster_id, is_canonical) for EVERY live doc —
        doc ids are the same ``xxhash64(*key)`` hashes the pairs speak,
        singletons self-cluster, and exactly one doc per cluster (the
        minimum hash) carries ``is_canonical = 1``. Keeping only
        canonical rows IS the near-dup-free training corpus; the
        live_only pair filter means documents deleted since a pair was
        emitted neither appear nor absorb survivors."""
        from .functions.cluster import dedup_clusters

        # ONE lake scan: the live hash set feeds both the pair filter and
        # the label join
        live_ids, pairs = self._live_pairs(table)
        return dedup_clusters(live_ids, pairs)

    def corpus_profile(self, table: str, by: str = "lang") -> DataFrame:
        """Corpus-shape report over the CURRENT lake content: the
        :func:`~cdc_spark.functions.corpus.length_profile` analytics
        (n_docs, total/min/max tokens, exact p50/p90 on integer ranks)
        grouped by the ``by`` column of the live rows — the
        materialized-corpus view of the same report the batch query runs
        on a documents table. One lake scan feeds the histogram groupBy;
        everything downstream is bounded by max document length, not
        corpus size. Output column ``source`` carries the ``by`` values
        (the operator's schema is reused verbatim)."""
        from .functions.corpus import length_profile

        live = self.lake_for(table).refresh().read()
        docs = live.select(
            F.coalesce(F.col(by).cast("string"), F.lit("")).alias("source"),
            F.coalesce(F.col("content").cast("string"), F.lit("")).alias(
                "text"
            ),
        )
        return length_profile(docs)

    def export_corpus(
        self,
        table: str,
        path: str,
        n_shards: int | None = None,
        seed: str | None = None,
    ) -> DataFrame:
        """Export the CURRENT lake content as deterministically
        pseudo-shuffled training shards (``shard=N`` parquet, rows sorted
        by ``pos``) — the handoff from the streaming ingest half to a
        training run. Doc identity is ``xxhash64(key columns)`` over the
        RAW key types — bit-identical to the ids in the :meth:`neardups`
        pairs lake and :meth:`neardup_clusters` verdicts, so the exported
        layout joins directly against both. The id rides along as a
        ``_doc_uid`` column (never shadowing a payload column of any
        name). Returns the (shard, pos, doc_id) layout. See
        :func:`cdc_spark.functions.export.write_shards` for the plan
        shape (portable-hash assignment + two-phase intra-shard rank)."""
        from .functions.export import N_SHARDS, SHUFFLE_SEED, write_shards

        lake = self.lake_for(table).refresh()
        live = lake.read()
        docs = live.select(
            F.xxhash64(*[F.col(k) for k in lake.key]).alias("_doc_uid"),
            "*",
        )
        return write_shards(
            docs,
            path,
            n_shards=N_SHARDS if n_shards is None else n_shards,
            seed=SHUFFLE_SEED if seed is None else seed,
            id_col="_doc_uid",
        )

    def _update_neardup_index(
        self, table: str, deduped: DataFrame, lsn_hwm: int, batch_id: int,
        truncated: bool = False,
    ) -> None:
        """Streaming near-dup screening — the composition of the engine's
        two halves the north rule describes: the CDC batch that just
        merged ALSO updates a persistent MinHash band index
        (:class:`~cdc_spark.functions.dedupe_index.MinHashIndex`, two
        LakeTables), so signatures are computed for exactly
        the rows this batch changed and index IO touches only files
        holding the batch's keys — never the corpus, never the whole
        index. Each batch's candidate pairs are committed to the
        queryable :meth:`neardups` lake under the SAME batch_id.

        Exactly-once pairs: ``MinHashIndex.update`` recomputes its
        (deterministic) pairs on replays too, and the pairs lake commit is
        idempotent per batch_id — so a crash between the index commit and
        the pairs commit replays into the pairs lake exactly once, and a
        replay after both committed skips cleanly.

        Invariant (tested): after any batch sequence — including a table
        TRUNCATE — the index's live bands equal ``minhash_bands``
        recomputed over the lake's live content: updates LWW-replace,
        deletes tombstone, and a truncate batch triggers
        :meth:`MinHashIndex.rebuild` from the post-merge lake state (a
        truncate kills rows the batch never names, so the row-by-row
        update cannot express it; the rebuild batch appends no pairs)."""
        from .functions.dedupe_index import MinHashIndex

        root = os.path.join(self.cfg.lake_root, "_neardup_index", table)
        idx = self._neardup_idx.get(table)
        if idx is None or idx.root != root:
            hint = self.cfg.neardup_corpus_hint
            if not hint:
                # seed the banding auto-sizer from the bootstrap corpus:
                # the index is created AFTER the batch's lake merge, so a
                # snapshot-bootstrapped table already shows its true size
                # in the manifest row counts (driver-side metadata sum, no
                # job; an upper bound — tombstones/stale MOR rows — which
                # only ever rounds the sizing rule UP a regime)
                hint = sum(
                    f.get("rows") or 0
                    for f in self.lake_for(table).refresh().meta["files"]
                ) or None
            idx = self._neardup_idx[table] = MinHashIndex(
                self.spark, root, n_buckets=self.cfg.n_buckets,
                corpus_hint=hint,
            )
        doc_id = F.xxhash64(*[F.col(k) for k in self.cfg.key]).alias(
            "doc_id"
        )
        if truncated:
            lake = self.lake_for(table).refresh()
            live = lake.read(include_meta=True)
            if "content" not in live.columns:
                return  # see the drop-guard below
            # rebuild corpus = the post-truncate live rows WITH their real
            # LSNs, plus this batch's deletes — so a doc updated and
            # deleted around the truncate resolves in the index exactly as
            # in the lake (the cast matches the update path: after a
            # retype both must fingerprint the same text)
            docs = live.select(
                doc_id,
                F.col("content").cast("string").alias("text"),
                F.col("_lsn"),
                F.lit(False).alias("_deleted"),
            ).unionByName(
                deduped.filter(F.col("_deleted")).select(
                    doc_id,
                    F.lit(None).cast("string").alias("text"),
                    F.col("_lsn"),
                    F.col("_deleted"),
                )
            )
            idx.rebuild(
                docs, lsn=lsn_hwm, batch_id=batch_id,
                truncate_lsn=lake.truncate_lsn,
            )
            return
        if "content" not in deduped.columns:
            # schema evolution may legally drop/retype non-key columns;
            # without content there is no document to fingerprint — skip
            # deterministically rather than crash-loop the stream (same
            # poison-tolerance policy as control-event handling)
            return
        docs = deduped.select(
            doc_id,
            F.col("content").cast("string").alias("text"),
            "_deleted",
            # per-row stamp: a stale redelivery that wins its own (later)
            # batch must lose the index's LWW resolve exactly as it loses
            # the lake's merge
            "_lsn",
        )
        pairs = idx.update(docs, lsn=lsn_hwm, batch_id=batch_id)
        self._neardups_lake(table).merge(
            pairs.select(
                "doc_a",
                "doc_b",
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.lit(lsn_hwm).cast("long").alias("_lsn"),
                F.lit(False).alias("_deleted"),
                F.lit(None).cast("map<string,string>").alias("_extra"),
            ),
            batch_id=batch_id,
            lsn_hwm=lsn_hwm,
        )

    # ---------------------------------------------------------- maintenance
    def _maybe_maintain(self, batch_id: int, tables: list[str]) -> None:
        """Periodic lake maintenance (cfg.compact_every): compaction drops
        rows dead to truncates plus tombstones older than the out-of-order
        bound, and snapshot expiry GCs unreferenced files — the engine
        analog of WAL reclamation after the reference's position commit.
        Re-running after a crash only produces another no-op compaction
        version; correctness never depends on maintenance having run."""
        every = self.cfg.compact_every
        if not every or batch_id < 0 or (batch_id + 1) % every:
            return
        for t in tables:
            lake = self.lake_for(t).refresh()
            hwm = lake.last_batch["lsn_hwm"]
            lake.compact(
                tombstone_watermark_lsn=max(-1, hwm - self.cfg.tombstone_lag)
            )
            lake.expire_snapshots(keep_last=self.cfg.expire_keep)
            # the near-dup band index (both its lakes) and the pairs table
            # are lakes too: without maintenance they accumulate one
            # manifest + one delta per batch forever — and compaction is
            # what folds the deltas back to one row per key, keeping
            # read-side resolve and point-set pruning costs flat
            idx = self._neardup_idx.get(t)
            aux = idx.maintenance_lakes() if idx is not None else []
            if self.cfg.neardup_index:
                aux.append(self._neardups_lake(t))
            for alake in aux:
                alake.refresh()
                ahwm = alake.last_batch["lsn_hwm"]
                alake.compact(
                    tombstone_watermark_lsn=max(
                        -1, ahwm - self.cfg.tombstone_lag
                    )
                )
                alake.expire_snapshots(keep_last=self.cfg.expire_keep)

    # -------------------------------------------------------------- metrics
    def _write_metrics(
        self, table: str, batch_id: int, info: dict, t0: float
    ) -> None:
        # per-table subdir: concurrent per-table appends must not share a
        # Hadoop _temporary staging dir
        path = os.path.join(self.cfg.lake_root, "_metrics", table)
        latency = time.time() - t0
        if info.get("skipped"):
            row = (table, batch_id, None, None, None, None,
                   info["version"], True, latency)
        else:
            row = (table, batch_id, info["min_lsn"], info["max_lsn"],
                   info["rows"] - info["deletes"], info["deletes"],
                   info["version"], False, latency)
        # one row: write driver-side (pyarrow) — a Spark write job per batch
        # just for a lineage row is pure fixed cost
        import pandas as pd

        os.makedirs(path, exist_ok=True)
        pd.DataFrame(
            [row],
            columns=["table", "batch_id", "min_lsn", "max_lsn", "upserts",
                     "deletes", "lake_version", "skipped", "commit_latency_s"],
        ).astype(
            {"min_lsn": "Int64", "max_lsn": "Int64", "upserts": "Int64",
             "deletes": "Int64"}
        ).to_parquet(os.path.join(path, f"b{batch_id}-{int(t0 * 1000)}.parquet"))

    def metrics(self) -> DataFrame:
        """Queryable lineage/metrics table (see :func:`read_metrics`): one
        row per (table, batch), plus a 'skipped' row for each replayed
        batch."""
        return read_metrics(self.spark, self.cfg.lake_root)
