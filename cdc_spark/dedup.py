"""Last-writer-wins dedup: max-LSN reduce per key.

The engine-side aggregation the north rule demands (SURVEY.md §2.5 A2/A3).
The reference guarantees strict per-event ordering via sequential ids
(``/root/reference/cdc/sources/__init__.py:91-92``) and is at-least-once
(``cdc/producer.py:84-94``), so the apply side must collapse duplicates and
out-of-order deliveries; keeping only the max-LSN row per (repo, path) does
both at once (a duplicate has the same LSN and identical payload, so either
copy winning is the same row).

Physical notes for 100 TB:
- ``max_by`` aggregates get Catalyst partial aggregation automatically: each
  map task pre-collapses its rows per key before the shuffle, so a hot repo
  contributes at most one row per map partition to the exchange — the usual
  skew defusal for *aggregation*.
- The apply pipeline runs ``lww_dedup``: one ``max_by`` reduce, one pass
  over the batch, with the partial aggregate below its key exchange, so hot
  keys need no salt.
- ``lww_dedup_narrow`` is a result-identical library variant that shuffles
  only (key, lsn) and semi-joins the broadcast winners back, reading its
  source twice.
- ``lww_dedup(salt > 1)`` is a result-identical two-phase variant kept for
  the operator library: phase 1 groups on (key, salt) spreading a hot key
  over ``salt`` reducers, phase 2 reduces the ≤salt survivors per key. Salt
  is derived from the LSN hash, so replays land on the same salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """``name`` as SQL identifier text: backquoted, inner backquotes
    doubled, so a dot, quote or backquote in a column name stays part of
    the name."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str):
    """``name`` as a literal column reference (see :func:`sql_ident`)."""
    return F.col(sql_ident(name))


def lww_dedup(
    df: DataFrame,
    key: tuple[str, ...] = ("repo", "path"),
    order_col: str = "lsn",
    salt: int = 1,
) -> DataFrame:
    """Keep only the max-``order_col`` row per ``key``. Preserves all other
    columns. Equivalent to Window row_number()==1 but shuffle-light: no sort,
    partial-aggregated map-side. Column names are backquoted, so names
    holding a dot (a quoted Postgres identifier, a schema-change ``add``)
    resolve as plain columns, not struct fields."""
    payload = [c for c in df.columns if c not in key]
    keys = [_col(k) for k in key]
    order = _col(order_col)
    agg = F.max_by(F.struct(*[_col(c) for c in payload]), order).alias("_s")

    if salt > 1:
        salt_col = F.pmod(F.xxhash64(order), F.lit(salt)).alias("_salt")
        df = (
            df.withColumn("_salt", salt_col)
            .groupBy(*keys, "_salt")
            .agg(agg)
            .select(*keys, F.col("_s.*"))
        )
    return df.groupBy(*keys).agg(agg).select(*keys, F.col("_s.*"))


def lww_dedup_narrow(
    df: DataFrame,
    key: tuple[str, ...] = ("repo", "path"),
    order_col: str = "lsn",
) -> DataFrame:
    """LWW dedup for WIDE payloads (large ``content``): shuffle only the
    narrow (key, lsn) projection to find each key's winning LSN, broadcast
    the winners, and recover full rows with a map-side semi join — the wide
    columns never enter an exchange. Right shape when payload bytes dominate
    (source-code content at 100 TB): shuffle volume drops from O(rows x
    row_width) to O(rows x key_width). The winner set must fit a broadcast.
    """
    winners = df.select(*key, order_col).groupBy(*key).agg(
        F.max(order_col).alias(order_col)
    )
    out = df.join(F.broadcast(winners), [*key, order_col], "left_semi")
    # duplicate deliveries share (key, lsn) with identical payloads: keep
    # one. This shuffle's input is already <=1 row/key (+dups), i.e. the
    # winner set — not the raw batch.
    return out.dropDuplicates(list(key))
