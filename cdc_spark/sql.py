"""SQL surface: expose lake tables and the change log to ``spark.sql``.

The reference has no query layer (its consumer was Snuba/ClickHouse); the
engine gives users the full Spark SQL surface over the lake's live view,
any time-travel version, the lineage metrics, and the snapshot log — so a
reference user's downstream queries port as plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .apply import read_metrics
from .config import EngineConfig
from .lake import LakeTable


def register_lake(
    spark: SparkSession,
    cfg: EngineConfig,
    table: str = "repos",
    *,
    prefix: str = "lake_",
    version: int | None = None,
) -> LakeTable:
    """Register ``<prefix><table>`` as a temp view over the live (or
    time-travelled) lake state, plus ``<prefix><table>_meta`` including the
    bookkeeping columns. Views re-resolve lazily per query plan, so register
    once per session and refresh after commits with ``refresh=True``."""
    import os

    lake = LakeTable(spark, os.path.join(cfg.lake_root, table))
    lake.read(version=version).createOrReplaceTempView(f"{prefix}{table}")
    lake.read(include_meta=True, version=version).createOrReplaceTempView(
        f"{prefix}{table}_meta"
    )
    return lake


def register_all(
    spark: SparkSession,
    cfg: EngineConfig,
    *,
    prefix: str = "lake_",
) -> dict[str, LakeTable]:
    """Discover every lake table under ``cfg.lake_root`` and register its
    live + meta views (the multi-table counterpart of ``register_lake``).
    Returns the table -> LakeTable map."""
    import os

    out: dict[str, LakeTable] = {}
    if not os.path.isdir(cfg.lake_root):
        return out
    for t in sorted(os.listdir(cfg.lake_root)):
        if t.startswith("_"):  # _metrics and friends
            continue
        if LakeTable.exists(os.path.join(cfg.lake_root, t)):
            out[t] = register_lake(spark, cfg, t, prefix=prefix)
    return out


def register_metrics(
    spark: SparkSession, cfg: EngineConfig, name: str = "lake_metrics"
) -> DataFrame:
    """Register ``name`` as a temp view over the lineage/metrics table
    (the same reader as ``CdcApply.metrics()``)."""
    df = read_metrics(spark, cfg.lake_root)
    df.createOrReplaceTempView(name)
    return df


def snapshot_log_df(spark: SparkSession, lake: LakeTable) -> DataFrame:
    """The manifest chain as a DataFrame (commit audit / lineage)."""
    rows = [
        (
            s["version"],
            s["last_batch"]["id"],
            s["last_batch"]["lsn_hwm"],
            s["schema_id"],
            s["truncate_lsn"],
            len(s["files"]),
            s.get("committed_at"),
        )
        for s in lake.snapshot_log()
    ]
    return spark.createDataFrame(
        rows,
        "version BIGINT, batch_id BIGINT, lsn_hwm BIGINT, schema_id BIGINT, "
        "truncate_lsn BIGINT, n_files BIGINT, committed_at DOUBLE",
    )
