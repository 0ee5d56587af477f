"""Snapshot subsystem — the reference's bootstrap path, Spark-style.

Reference behavior reproduced (SURVEY.md §3.2):

- ``PostgresSnapshot.dump`` (``/root/reference/cdc/snapshots/sources/
  postgres_snapshot.py:33-79``): a consistent full-table export inside one
  transaction, recording a transaction-id snapshot descriptor. Engine analog:
  ``bootstrap`` loads an initial table state into the lake as snapshot 0 and
  records the LSN watermark; the streaming apply then only replays events
  past it (F3).
- ``FileSnapshotDestination`` (``file_snapshot.py:34-119``): directory dump
  ``cdc_snapshot_<product>_<id>/`` with ``metadata.json``, per-table
  ``tables/<t>.csv[.gz]``, and a ``complete.json`` success marker written
  only on clean close. Engine analog: ``export_csv`` writes the same layout
  from the lake's live view (gzip csv via Spark's distributed writer).
- control protocol (``control_protocol.py:21-54``): snapshot-init /
  snapshot-abort / snapshot-loaded JSON messages. Engine analog: in-band
  control rows (LSN-ordered — strictly stronger than the reference's
  out-of-band Kafka topic) plus the same JSON wire encoding for
  interoperability.
- per-column formatters (``snapshot_types.py:59-91``): a registry with the
  reference's ``datetime`` formatter (DATE_TRUNC to seconds) and room for
  more — all column expressions, zero per-row Python.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .lake import LakeTable

# ---------------------------------------------------------------- formatters

FORMATTERS = {
    # reference format_datetime: DATE_TRUNC('second', col)::timestamp
    "datetime": lambda c: F.date_trunc("second", F.col(c)).cast("timestamp"),
}


def project_columns(df: DataFrame, columns: list[dict] | None) -> DataFrame:
    """Reference TableConfig projection: optional column subset, each with an
    optional formatter (postgres_snapshot.py:64-69, 82-88). ``columns`` is
    [{"name": ..., "formatter": ...?}, ...]; None means SELECT *."""
    if not columns:
        return df
    exprs = []
    for c in columns:
        fmt = c.get("formatter")
        if fmt:
            exprs.append(FORMATTERS[fmt](c["name"]).alias(c["name"]))
        else:
            exprs.append(F.col(c["name"]))
    return df.select(*exprs)


# ------------------------------------------------------------ control msgs


def init_snapshot_message(snapshot_id: str, tables: list[str], product: str) -> bytes:
    """Wire-compatible snapshot-init (control_protocol.py:21-33)."""
    return json.dumps(
        {
            "event": "snapshot-init",
            "snapshot-id": snapshot_id,
            "product": product,
            "tables": tables,
        }
    ).encode("utf-8")


def abort_snapshot_message(snapshot_id: str) -> bytes:
    """Wire-compatible snapshot-abort (control_protocol.py:36-41)."""
    return json.dumps(
        {"event": "snapshot-abort", "snapshot-id": snapshot_id}
    ).encode("utf-8")


def loaded_snapshot_message(snapshot_id: str, product: str, lsn_watermark: int) -> bytes:
    """snapshot-loaded with the transaction descriptor; the engine's
    descriptor is the LSN watermark (the reference's xmin/xmax/xip txid
    snapshot collapses to one number under total LSN order)."""
    return json.dumps(
        {
            "event": "snapshot-loaded",
            "snapshot-id": snapshot_id,
            "product": product,
            "transaction-info": {"lsn-watermark": lsn_watermark},
        }
    ).encode("utf-8")


# ----------------------------------------------------------------- bootstrap


def bootstrap(
    spark: SparkSession,
    cfg: EngineConfig,
    initial: DataFrame,
    lsn_watermark: int,
    table: str = "repos",
    columns: list[dict] | None = None,
) -> LakeTable:
    """Load a consistent initial table state as lake snapshot 0 and record
    the LSN watermark: change events at or below it are already contained in
    the bootstrap state and must be dropped on replay (the engine's
    SnapshotDescriptor semantics, F3). The commit records epoch -1 so the
    first streaming batch (epoch 0) applies normally."""
    root = os.path.join(cfg.lake_root, table)
    lake = LakeTable.create(
        spark, root,
        fields=list(cfg.base_fields), key=cfg.key,
        n_buckets=cfg.n_buckets, table=table,
    )
    df = project_columns(initial, columns)
    # _lsn is BIGINT in every data file: a bare literal below 2**31 would be
    # written as INT32
    batch = df.withColumn("_lsn", F.lit(lsn_watermark).cast("long")).withColumn(
        "_deleted", F.lit(False)
    ).withColumn("_extra", F.lit(None).cast("map<string,string>"))
    # snapshot 0 is a whole table, not one batch's delta: shard it like a
    # compaction (n_buckets range files), so the first compaction's input
    # is not a few files many times the size of every delta
    lake.append_shards = lake.n_buckets
    info = lake.merge(
        batch, batch_id=0, lsn_hwm=lsn_watermark,
        extra_summary={"bootstrap": True, "lsn_watermark": lsn_watermark},
    )
    assert not info["skipped"]
    # rewind the committed-batch key so streaming epoch 0..n still applies:
    # bootstrap is epoch -1 in the metadata
    meta = dict(lake.meta)
    meta["last_batch"] = {"id": -1, "lsn_hwm": lsn_watermark}
    meta["version"] = lake.version + 1
    meta["parent"] = lake.version
    LakeTable._publish(root, meta)
    return LakeTable(spark, root)


def snapshot_boundary_filter(df: DataFrame, lake: LakeTable) -> DataFrame:
    """Drop change events already contained in the bootstrap snapshot."""
    return df.filter(F.col("lsn") > F.lit(lake.last_batch["lsn_hwm"]))


# ---------------------------------------------------------- coordination


def coordinate_snapshot(
    lakes: "LakeTable | dict[str, LakeTable]",
    out_root: str,
    snapshot_id: str,
    control_sink,
    product: str = "cdc",
    compress: bool = True,
    columns: dict[str, list[dict]] | None = None,
) -> str:
    """The reference SnapshotCoordinator's choreography
    (``snapshot_coordinator.py:44-60``): announce snapshot-init on the
    control channel, dump every table, then announce snapshot-loaded with
    the transaction descriptor — or snapshot-abort if the dump fails.
    ``control_sink`` is any callable taking the wire-format bytes (a Kafka
    producer send, a file append, a test list)."""
    if isinstance(lakes, LakeTable):
        lakes = {lakes.meta["table"]: lakes}
    control_sink(
        init_snapshot_message(snapshot_id, sorted(lakes), product)
    )
    try:
        dest = export_csv(
            lakes, out_root, snapshot_id, product=product,
            compress=compress, columns=columns,
        )
    except Exception:
        control_sink(abort_snapshot_message(snapshot_id))
        raise
    hwm = max(lk.last_batch["lsn_hwm"] for lk in lakes.values())
    control_sink(loaded_snapshot_message(snapshot_id, product, hwm))
    return dest


# ---------------------------------------------------------------- CSV export


def export_csv(
    lakes: LakeTable | dict[str, LakeTable],
    out_root: str,
    snapshot_id: str,
    product: str = "cdc",
    compress: bool = True,
    columns: dict[str, list[dict]] | None = None,
) -> str:
    """Dump one or MANY lake live views as the reference's coordinated
    snapshot directory (snapshot_coordinator.py:44-60, file_snapshot.py:
    34-119): ONE metadata.json whose ``content`` lists every TableConfig,
    per-table ``tables/<t>.csv[.gz]``, and a single complete.json success
    marker written ONLY after every table file is durable — a crash mid-dump
    leaves no marker and consumers ignore the directory (state machine K4).

    ``columns`` maps table -> TableConfig column list (optional subset +
    formatter, see ``project_columns``). CSV bytes follow the reference's
    Postgres COPY CSV convention: NULL -> empty, empty string -> ``""``,
    embedded quotes doubled, minimal quoting, timestamps to the second."""
    import time

    if isinstance(lakes, LakeTable):
        lakes = {lakes.meta["table"]: lakes}
    columns = columns or {}
    name = f"cdc_snapshot_{product}_{snapshot_id}"
    dest = os.path.join(out_root, name)
    tables_dir = os.path.join(dest, "tables")
    os.makedirs(tables_dir, exist_ok=True)

    content = []
    for table, lake in lakes.items():
        cfg = {"table": table, "zip": bool(compress), "format": "csv"}
        cols = columns.get(table)
        cfg["columns"] = (
            [dict(c) for c in cols]
            if cols
            else [{"name": n} for n, _ in lake.schema_fields()]
        )
        content.append(cfg)
    with open(os.path.join(dest, "metadata.json"), "w") as fh:
        json.dump(
            {
                "snapshot_id": snapshot_id,
                "product": product,
                "transactions": {
                    "lsn_watermarks": {
                        t: lk.last_batch["lsn_hwm"] for t, lk in lakes.items()
                    },
                    "lake_versions": {t: lk.version for t, lk in lakes.items()},
                },
                "content": content,
                "start_timestamp": time.time(),
            },
            fh,
            indent=1,
        )

    ext = ".csv.gz" if compress else ".csv"
    for table, lake in lakes.items():
        df = project_columns(lake.read(), columns.get(table))
        tmp = os.path.join(tables_dir, f"_{table}_spark")
        # one file per table is the reference's layout (file_snapshot.py
        # one get_table_file per TableConfig) — coalesce(1) is forced by
        # that contract, not a scale choice; key-sorted for determinism
        # deterministic row order: surviving key columns first (byte-stable
        # against the golden files — the live view has one row per key, so
        # a full key prefix is already total), then every other projected
        # column as tie-breaker — a projection keeping only SOME (or no)
        # key columns would otherwise leave tie order to upstream
        # partitioning and flake diff-based snapshot comparisons (and a
        # zero-arg sort raises outright)
        keys_present = [k for k in lake.key if k in df.columns]
        sort_cols = [
            f"`{c}`" for c in keys_present
            + [c for c in df.columns if c not in keys_present]
        ]
        writer = (
            df.coalesce(1)
            .sortWithinPartitions(*sort_cols)
            .write.option("header", True)
            .option("escape", '"')          # CSV doubles quotes (COPY CSV)
            .option("emptyValue", '""')     # '' stays distinguishable from NULL
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        )
        if compress:
            writer = writer.option("compression", "gzip")
        writer.mode("overwrite").csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        os.rename(part, os.path.join(tables_dir, f"{table}{ext}"))
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)

    # success marker last — no marker, no snapshot
    with open(os.path.join(dest, "complete.json"), "w") as fh:
        json.dump(
            {
                "event": "snapshot-complete",
                "snapshot-id": snapshot_id,
                "finish_timestamp": time.time(),
            },
            fh,
        )
    return dest
