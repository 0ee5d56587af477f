"""Driver-contract queries: each engine operator as a (Spark fn, oracle SQL)
pair over the shared testdata tables, with matching column names/values.

The CDC engine's natural input is a change log; the testdata has none, so a
deterministic change-log VIEW is derived from ``events`` identically in both
engines (event_id -> lsn, event_type -> op, user_id/event_id -> key), and
every operator from SURVEY.md §2 that is batch-expressible runs against it.
Training-data ops (dedup / text analysis / similarity) run on ``documents``
and ``embeddings``.

Float outputs are rounded to 4 decimals on both sides (the driver hash-
compares values); timestamps are formatted to strings (Spark is session-TZ,
DuckDB is naive UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# the derived change log (identical semantics in Spark and DuckDB SQL)
# --------------------------------------------------------------------------

CHG_SQL = """
SELECT event_id AS lsn,
       CASE WHEN event_type = 'error' THEN 'delete'
            WHEN event_type = 'signup' THEN 'insert'
            ELSE 'update' END AS op,
       't' || CAST(user_id % 4 AS VARCHAR) AS tbl,
       'repo-' || CAST(user_id % 40 AS VARCHAR) AS repo,
       'f' || CAST(event_id % 7 AS VARCHAR) AS path,
       md5(CAST(event_id AS VARCHAR)) AS commit,
       'u' || CAST(user_id AS VARCHAR) || ':' || event_type || '@'
           || CAST(event_id AS VARCHAR) AS content
FROM events
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _repo_path_ints():
    """(repo, path) as the two small ints they are built from — a
    bijection, so reducing on them equals reducing on the strings."""
    return F.pmod("user_id", F.lit(40)), F.pmod("event_id", F.lit(7))


def _chg_strings(lsn, r, p) -> dict:
    """The Spark form of ``CHG_SQL``'s op mapping and repo/path/content
    builders over a raw event row (``lsn`` = event_id, ``r``/``p`` from
    ``_repo_path_ints``) — shared by ``change_view`` and ``q_lww_dedup``
    so the two cannot drift apart."""
    et = F.col("event_type")
    return {
        "op": F.when(et == "error", F.lit("delete"))
        .when(et == "signup", F.lit("insert"))
        .otherwise(F.lit("update")),
        "repo": F.concat(F.lit("repo-"), r.cast("string")),
        "path": F.concat(F.lit("f"), p.cast("string")),
        "content": F.concat(
            F.lit("u"),
            F.col("user_id").cast("string"),
            F.lit(":"),
            et,
            F.lit("@"),
            lsn.cast("string"),
        ),
    }


def change_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    s = _chg_strings(F.col("event_id"), *_repo_path_ints())
    return e.select(
        F.col("event_id").alias("lsn"),
        s["op"].alias("op"),
        F.concat(F.lit("t"), F.pmod("user_id", F.lit(4)).cast("string")).alias("tbl"),
        s["repo"].alias("repo"),
        s["path"].alias("path"),
        F.md5(F.col("event_id").cast("string")).alias("commit"),
        s["content"].alias("content"),
    )


# --------------------------------------------------------------------------
# engine operators (SURVEY.md §2)
# --------------------------------------------------------------------------


def q_lww_dedup(spark, sf_dir):
    """A2: last-writer-wins per (repo, path) via max-LSN reduce.

    Plan note (result-identical to reducing the full change view): every
    output column is a deterministic function of the winner's RAW event
    row, and (repo, path) is a bijection of (user_id % 40, event_id % 7) —
    so the reduce groups on the two small ints and the string derivations
    (concat, op mapping) run on the ~|keys| winner rows only, not on every
    event (guide §2.3: shuffle keys and metadata, derive payloads after
    the reduce)."""
    from .dedup import lww_dedup

    e = _events(spark, sf_dir)
    r, p = _repo_path_ints()
    raw = e.select(
        F.col("event_id").alias("lsn"),
        "user_id",
        "event_type",
        r.alias("_r"),
        p.alias("_p"),
    )
    out = lww_dedup(raw, key=("_r", "_p"), order_col="lsn")
    s = _chg_strings(F.col("lsn"), F.col("_r"), F.col("_p"))
    return out.select(
        s["repo"].alias("repo"),
        s["path"].alias("path"),
        F.col("lsn").alias("last_lsn"),
        s["op"].alias("last_op"),
        s["content"].alias("last_content"),
    )


SQL_LWW = f"""
WITH chg AS ({CHG_SQL})
SELECT repo, path, lsn AS last_lsn, op AS last_op, content AS last_content
FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) rn
      FROM chg)
WHERE rn = 1
"""


def q_lww_dedup_salted(spark, sf_dir):
    """A2 salted two-phase variant — must be result-identical to q_lww_dedup."""
    from .dedup import lww_dedup

    chg = change_view(spark, sf_dir).select("repo", "path", "lsn", "op", "content")
    out = lww_dedup(chg, key=("repo", "path"), order_col="lsn", salt=8)
    return out.select(
        "repo",
        "path",
        F.col("lsn").alias("last_lsn"),
        F.col("op").alias("last_op"),
        F.col("content").alias("last_content"),
    )


def q_lww_dedup_narrow(spark, sf_dir):
    """A2 narrow variant — shuffles only (key, lsn), recovers the wide
    payload via broadcast semi-join; must be result-identical to
    q_lww_dedup (same oracle)."""
    from .dedup import lww_dedup_narrow

    chg = change_view(spark, sf_dir).select("repo", "path", "lsn", "op", "content")
    out = lww_dedup_narrow(chg, key=("repo", "path"), order_col="lsn")
    return out.select(
        "repo",
        "path",
        F.col("lsn").alias("last_lsn"),
        F.col("op").alias("last_op"),
        F.col("content").alias("last_content"),
    )


def q_cdc_materialize(spark, sf_dir):
    """E1 (batch-expressible MERGE): full change-log materialization — per-key
    LWW state, deletes filtered. The flagship query."""
    out = q_lww_dedup(spark, sf_dir)
    return out.filter(F.col("last_op") != "delete")


SQL_MATERIALIZE = SQL_LWW.replace("WHERE rn = 1", "WHERE rn = 1 AND op <> 'delete'")


def q_dup_collapse(spark, sf_dir):
    """A3: duplicate-delivery collapse — union the log with a sample of
    itself, dropDuplicates on lsn restores exact cardinality."""
    chg = change_view(spark, sf_dir)
    dups = chg.filter(F.pmod("lsn", F.lit(5)) == 0)
    collapsed = chg.unionAll(dups).dropDuplicates(["lsn"])
    return collapsed.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
    )


SQL_DUP_COLLAPSE = f"""
WITH chg AS ({CHG_SQL}),
dup AS (SELECT * FROM chg UNION ALL SELECT * FROM chg WHERE lsn % 5 = 0),
c AS (SELECT DISTINCT ON (lsn) * FROM dup)
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
FROM c
"""


def q_lsn_watermark(spark, sf_dir):
    """A1/O2-O3: per-op LSN high-watermark + counts (the flush-position
    bookkeeping as an aggregation)."""
    chg = change_view(spark, sf_dir)
    return (
        chg.groupBy("op")
        .agg(F.max("lsn").alias("lsn_hwm"), F.count("*").alias("n"))
        .orderBy("op")
    )


SQL_WATERMARK = f"""
WITH chg AS ({CHG_SQL})
SELECT op, max(lsn) AS lsn_hwm, count(*) AS n FROM chg GROUP BY op ORDER BY op
"""


def q_snapshot_boundary(spark, sf_dir):
    """F3: snapshot-boundary filter — only changes past the bootstrap
    watermark are replayed."""
    chg = change_view(spark, sf_dir)
    return (
        chg.filter(F.col("lsn") > 5000)
        .groupBy("op")
        .agg(F.count("*").alias("n"), F.min("lsn").alias("min_lsn"))
        .orderBy("op")
    )


SQL_SNAPSHOT_BOUNDARY = f"""
WITH chg AS ({CHG_SQL})
SELECT op, count(*) AS n, min(lsn) AS min_lsn
FROM chg WHERE lsn > 5000 GROUP BY op ORDER BY op
"""


def q_route_by_table(spark, sf_dir):
    """F2: per-table demux routing counts (table carried as metadata so
    consumers filter without parsing payloads)."""
    chg = change_view(spark, sf_dir)
    return (
        chg.groupBy("tbl")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("repo", "path").alias("n_keys"),
        )
        .orderBy("tbl")
    )


SQL_ROUTE = f"""
WITH chg AS ({CHG_SQL})
SELECT tbl, count(*) AS n, count(DISTINCT repo || '|' || path) AS n_keys
FROM chg GROUP BY tbl ORDER BY tbl
"""


def q_truncate_semantics(spark, sf_dir):
    """Truncate-at-LSN semantics: a truncate at lsn 7000 kills every key
    whose last change predates it; survivors are post-7000 non-deletes."""
    from .dedup import lww_dedup

    chg = change_view(spark, sf_dir).select("repo", "path", "lsn", "op")
    last = lww_dedup(chg, key=("repo", "path"), order_col="lsn")
    return (
        last.filter((F.col("lsn") > 7000) & (F.col("op") != "delete"))
        .select("repo", "path", F.col("lsn").alias("last_lsn"))
    )


SQL_TRUNCATE = f"""
WITH chg AS ({CHG_SQL})
SELECT repo, path, lsn AS last_lsn
FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) rn
      FROM chg)
WHERE rn = 1 AND lsn > 7000 AND op <> 'delete'
"""


def q_frame_parse(spark, sf_dir):
    """P2: the reference's frame format round-trip — construct
    ``M|<table>|<json>`` frames from documents, parse with the vectorized
    splitter (regex codegen, no Python)."""
    from .parse import split_frame

    d = _docs(spark, sf_dir)
    framed = d.select(
        F.col("doc_id").alias("lsn"),
        F.concat(
            F.lit("M|tbl_"),
            F.pmod("doc_id", F.lit(3)).cast("string"),
            F.lit("|"),
            F.to_json(F.struct(F.lit("insert").alias("kind"), F.col("lang"))),
        ).alias("value"),
    )
    out = split_frame(framed)
    return out.select(
        F.col("lsn").alias("doc_id"),
        F.col("frame_op"),
        F.col("table").alias("tbl"),
        F.get_json_object("body", "$.kind").alias("kind"),
        F.get_json_object("body", "$.lang").alias("lang"),
    )


SQL_FRAME_PARSE = """
WITH framed AS (
  SELECT doc_id AS lsn,
         'M|tbl_' || CAST(doc_id % 3 AS VARCHAR) || '|'
           || '{"kind":"insert","lang":"' || lang || '"}' AS value
  FROM documents)
SELECT lsn AS doc_id,
       'change' AS frame_op,
       regexp_extract(value, '^M\\|([^|]*)\\|', 1) AS tbl,
       json_extract_string(substring(value, 4 + length(regexp_extract(value, '^M\\|([^|]*)\\|', 1))), '$.kind') AS kind,
       json_extract_string(substring(value, 4 + length(regexp_extract(value, '^M\\|([^|]*)\\|', 1))), '$.lang') AS lang
FROM framed
"""


def q_wal2json_decode(spark, sf_dir):
    """P3: wal2json parallel-array decode — columnnames/columnvalues to a
    map, base columns lifted out."""
    d = _docs(spark, sf_dir)
    payload = d.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.lit("insert").alias("kind"),
                F.array(F.lit("lang"), F.lit("source")).alias("columnnames"),
                F.array(F.col("lang"), F.col("source")).alias("columnvalues"),
            )
        ).alias("body"),
    )
    w = F.from_json(
        F.col("body"),
        "kind STRING, columnnames ARRAY<STRING>, columnvalues ARRAY<STRING>",
    )
    m = F.map_from_arrays(w["columnnames"], w["columnvalues"])
    return payload.select(
        "doc_id",
        w["kind"].alias("kind"),
        F.element_at(m, "lang").alias("lang"),
        F.element_at(m, "source").alias("source"),
    )


SQL_WAL2JSON = """
SELECT doc_id, 'insert' AS kind, lang, source FROM documents
"""


def q_pgoutput_decode(spark, sf_dir):
    """P3 sibling for the binary wire: documents -> envelope rows -> pgoutput
    binary messages (Relation + Insert/Delete) -> ``parse_pgoutput`` -> the
    decoded envelope. The oracle is the direct projection, so the whole
    encode/decode walk (NUL-scan strings, length-prefixed tuples, as-of
    Relation resolution, extra-column lift) must be the identity."""
    from .pgoutput import encode_envelope, parse_pgoutput

    d = _docs(spark, sf_dir)
    env = d.select(
        F.col("doc_id").alias("lsn"),
        F.when(F.pmod("doc_id", F.lit(10)) == 0, F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("op"),
        F.lit("repos").alias("table"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.create_map(F.lit("src"), F.col("source")).alias("extra"),
        F.lit(None).cast("string").alias("schema_change"),
    )
    wire = encode_envelope(
        env, {0: {"action": "add", "column": "src", "type": "string"}}
    )
    back = parse_pgoutput(wire)
    return back.filter(F.col("op").isin("insert", "delete")).select(
        F.col("lsn").alias("doc_id"),
        "op",
        F.col("table").alias("tbl"),
        "repo",
        "lang",
        F.sha2("content", 256).alias("content_sha"),
        F.element_at("extra", F.lit("src")).alias("src"),
    )


SQL_PGOUTPUT = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN 'delete' ELSE 'insert' END AS op,
       'repos' AS tbl, source AS repo, lang,
       sha256(text) AS content_sha, source AS src
FROM documents
"""


def q_date_trunc(spark, sf_dir):
    """P5: the reference's only scalar formatter (DATE_TRUNC to seconds),
    aggregated per hour for a stable small result."""
    e = _events(spark, sf_dir)
    sec = F.date_trunc("hour", F.date_trunc("second", F.col("ts")))
    return (
        e.groupBy(F.date_format(sec, "yyyy-MM-dd HH:mm:ss").alias("hour"))
        .agg(F.count("*").alias("n"))
        .orderBy("hour")
    )


SQL_DATE_TRUNC = """
SELECT strftime(date_trunc('hour', date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n
FROM events GROUP BY 1 ORDER BY 1
"""


def q_content_sha256(spark, sf_dir):
    """P8: the per-row content sha256 invariant (built-in, JVM-side)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("content_sha256"))


SQL_SHA256 = "SELECT doc_id, sha256(text) AS content_sha256 FROM documents"


def q_payload_json_extract(spark, sf_dir):
    """P3 cousin: typed extraction from a JSON payload column (props)."""
    e = _events(spark, sf_dir)
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .filter(F.col("k") > 50)
    )


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
"""


def q_lsn_gaps(spark, sf_dir):
    """O1: LSN continuity audit — drop a deterministic subset of the log and
    report the observed gaps (the batch analog of the streaming gap monitor;
    the reference asserts sequential ids and crashes, ``cdc/sources/
    __init__.py:91-92`` — the engine surfaces gaps as data). Range-bucketed:
    no unpartitioned window (see monitor.gap_audit)."""
    from .monitor import gap_audit

    chg = change_view(spark, sf_dir).filter(
        F.pmod(F.floor(F.col("lsn") / 100), F.lit(7)) != 3
    )
    return gap_audit(chg, "lsn").orderBy("gap_start")


SQL_LSN_GAPS = f"""
WITH chg AS ({CHG_SQL}),
kept AS (SELECT lsn FROM chg WHERE (CAST(floor(lsn / 100) AS BIGINT) % 7) <> 3),
g AS (SELECT lsn, lag(lsn) OVER (ORDER BY lsn) AS prev FROM kept)
SELECT prev + 1 AS gap_start, lsn - 1 AS gap_end
FROM g WHERE prev IS NOT NULL AND lsn > prev + 1
ORDER BY gap_start
"""


def q_lineage_metrics(spark, sf_dir):
    """C5: per-bucket lineage of a deduped batch — applied LSN range +
    upsert/delete counts."""
    from .dedup import lww_dedup

    chg = change_view(spark, sf_dir).select("repo", "path", "lsn", "op")
    last = lww_dedup(chg, key=("repo", "path"), order_col="lsn")
    bucket = F.pmod(F.length("repo") * 7 + F.length("path") * 13 + F.col("lsn"), F.lit(16))
    return (
        last.groupBy(bucket.cast("int").alias("bucket"))
        .agg(
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)).alias("upserts"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("deletes"),
        )
        .orderBy("bucket")
    )


SQL_LINEAGE = f"""
WITH chg AS ({CHG_SQL}),
last AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) rn FROM chg)
  WHERE rn = 1)
SELECT CAST((length(repo) * 7 + length(path) * 13 + lsn) % 16 AS INT) AS bucket,
       min(lsn) AS min_lsn, max(lsn) AS max_lsn,
       CAST(sum(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS upserts,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS deletes
FROM last GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

_ENGINE_QUERIES = {
    "lww_dedup": (q_lww_dedup, SQL_LWW),
    "lww_dedup_salted": (q_lww_dedup_salted, SQL_LWW),
    "lww_dedup_narrow": (q_lww_dedup_narrow, SQL_LWW),
    "cdc_materialize": (q_cdc_materialize, SQL_MATERIALIZE),
    "dup_collapse": (q_dup_collapse, SQL_DUP_COLLAPSE),
    "lsn_watermark": (q_lsn_watermark, SQL_WATERMARK),
    "snapshot_boundary": (q_snapshot_boundary, SQL_SNAPSHOT_BOUNDARY),
    "route_by_table": (q_route_by_table, SQL_ROUTE),
    "truncate_semantics": (q_truncate_semantics, SQL_TRUNCATE),
    "frame_parse": (q_frame_parse, SQL_FRAME_PARSE),
    "wal2json_decode": (q_wal2json_decode, SQL_WAL2JSON),
    "pgoutput_decode": (q_pgoutput_decode, SQL_PGOUTPUT),
    "date_trunc_format": (q_date_trunc, SQL_DATE_TRUNC),
    "content_sha256": (q_content_sha256, SQL_SHA256),
    "payload_json_extract": (q_payload_json_extract, SQL_JSON_EXTRACT),
    "lineage_metrics": (q_lineage_metrics, SQL_LINEAGE),
    "lsn_gaps": (q_lsn_gaps, SQL_LSN_GAPS),
}


def registry() -> dict[str, tuple]:
    """name -> (spark_fn, oracle_sql | None); extended by functions/*."""
    out = dict(_ENGINE_QUERIES)
    from .functions import registry as fn_registry

    out.update(fn_registry())
    return out
