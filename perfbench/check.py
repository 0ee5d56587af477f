"""Independent correctness checks: the expected lake state recomputed in
DuckDB from the pre-written inputs, compared by row count and digest."""

from __future__ import annotations

import duckdb

from stats import row_digest

KEY = ("repo", "path")


def _events_sql(event_globs, max_lsn=None, bootstrap_glob=None, bootstrap_lsn=None):
    """All DML events (plus the bootstrap snapshot as inserts at its
    watermark LSN), optionally cut at ``max_lsn``."""
    files = ", ".join(f"'{g}'" for g in event_globs)
    cut = f" AND lsn <= {int(max_lsn)}" if max_lsn is not None else ""
    sql = (
        f"SELECT lsn, op, repo, path, content FROM read_parquet([{files}]) "
        f"WHERE op IN ('insert', 'update', 'delete'){cut}"
    )
    if bootstrap_glob:
        sql += (
            f" UNION ALL SELECT {int(bootstrap_lsn)} AS lsn, 'insert' AS op, "
            f"repo, path, content FROM read_parquet('{bootstrap_glob}')"
        )
    return sql


def expected_rows(event_globs, **kw) -> list[tuple]:
    """Per-key max-LSN last-writer-wins over the events, deletes dropped.
    Duplicate deliveries carry identical payloads, so LSN ties are benign."""
    sql = (
        "SELECT repo, path, arg_max(content, lsn) AS content, "
        "arg_max(op, lsn) AS op "
        f"FROM ({_events_sql(event_globs, **kw)}) GROUP BY repo, path"
    )
    with duckdb.connect() as con:
        rows = con.execute(sql).fetchall()
    return [(r, p, c) for r, p, c, op in rows if op != "delete"]


def expected_digest(event_globs, **kw) -> tuple[int, str]:
    return row_digest(expected_rows(event_globs, **kw))


def lake_digest(lake) -> tuple[int, str]:
    """Digest of the lake's live rows (read through the public reader)."""
    t = lake.refresh().read().select(*KEY, "content").toArrow()
    return row_digest(
        zip(*(t.column(c).to_pylist() for c in (*KEY, "content")))
    )


def expected_lookups(event_globs, probes, **kw) -> list[str | None]:
    """Expected content for each ``(repo, path, max_lsn)`` probe: the key's
    last write at or below ``max_lsn``, or None if absent or deleted."""
    out = []
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW ev AS {_events_sql(event_globs, **kw)}")
        for repo, path, max_lsn in probes:
            row = con.execute(
                "SELECT arg_max(op, lsn), arg_max(content, lsn) FROM ev "
                "WHERE repo = ? AND path = ? AND lsn <= ?",
                [repo, path, int(max_lsn)],
            ).fetchone()
            out.append(None if row[0] in (None, "delete") else row[1])
    return out
