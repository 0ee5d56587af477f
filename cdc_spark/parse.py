"""Frame parsing + wal2json decode as vectorized column expressions.

Reference behavior being reproduced (NOT ported):

- ``parse_message_with_headers`` (``/root/reference/cdc/sources/backends/
  postgres_logical.py:37-80``): dispatch on the 2-byte prefix ``B|``/``C|``/
  ``G|``/``M|``; for ``M|`` find the first *unescaped* ``|`` to split the
  table name (escapes: ``\\\\`` -> ``\\``, ``\\|`` -> ``|``); anything
  unrecognized falls back to a generic message.
- wal2json change payloads with parallel arrays columnnames/columnvalues
  (``tests/cdc/sources/backends/test_parse_msg.py:14-23``).

The reference does this byte-at-a-time in Python. Here both steps are
whole-stage-codegen JVM expressions: the escape-aware split is one regex
(``(?:\\\\.|[^|\\\\])*`` — longest run of escaped-pairs/non-delimiters), the
unescape is one backreference replace, and the change-body decode is
``try_parse_json`` -> VARIANT. Zero per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import ENVELOPE_DDL

# the wal2json change-event fields the decode reads; the column arrays stay
# VARIANT until their shape is checked (see decode_wal2json)
WAL2JSON_TYPE = "struct<kind string, columnnames variant, columnvalues variant>"

GENERIC_DDL = "event STRING, `table` STRING, schema_change STRING"

BASE_COLUMNS = ("repo", "path", "commit", "lang", "content")

# longest prefix of escaped-pairs or non-(|,\) chars == everything up to the
# first unescaped delimiter (reference postgres_logical.py:56-68)
_TABLE_RE = r"^M\|((?:\\.|[^|\\])*)\|"


def envelope_base_extra(cols, is_change):
    """The name->value map lift shared by every wire front end (wal2json,
    pgoutput): typed base columns by name, everything else into ``extra``.
    ``cols`` is a map<string,string> column; ``is_change`` gates non-DML
    rows to NULL."""
    base = [
        F.when(is_change, F.element_at(cols, c)).alias(c) for c in BASE_COLUMNS
    ]
    extra = F.when(
        is_change,
        F.map_filter(cols, lambda k, _: ~k.isin(*[F.lit(c) for c in BASE_COLUMNS])),
    )
    return base, extra


def lock_envelope(df: DataFrame) -> DataFrame:
    """Project to ``ENVELOPE_DDL``'s exact column order/set — the contract
    every wire front end must emit."""
    names = [f.split()[0].strip("`") for f in ENVELOPE_DDL.split(", ")]
    return df.select(*[F.col(f"`{n}`") for n in names])


def split_frame(df: DataFrame, value: str = "value") -> DataFrame:
    """(lsn, value) -> (lsn, frame_op, table, body).

    frame_op: begin|commit|generic|change; ``table`` only for change frames
    (unescaped); ``body`` is the JSON payload after the frame header.
    Untagged input falls back to generic with the whole value as body,
    mirroring the reference's ``parse_generic_message`` fallback
    (``postgres_logical.py:76-80``).
    """
    v = F.col(value)
    tag = F.substring(v, 1, 2)
    esc_table = F.regexp_extract(v, _TABLE_RE, 1)
    is_m = tag == F.lit("M|")
    # unescape ONLY the two reference escapes (\\ -> \ and \| -> |); other
    # backslash sequences (e.g. a table literally named 'a\nb') pass through
    # untouched, exactly like the reference's byte parser
    # (postgres_logical.py:56-68) — stripping every escaped pair would route
    # foreign frames to a different table than the reference would.
    table = F.when(is_m, F.regexp_replace(esc_table, r"\\([\\|])", r"$1"))
    # body starts after 'M|' + esc_table + '|'
    m_body = v.substr(F.length(esc_table) + F.lit(4), F.length(v))
    frame_op = (
        F.when(tag == "B|", F.lit("begin"))
        .when(tag == "C|", F.lit("commit"))
        .when(tag == "G|", F.lit("generic"))
        .when(is_m, F.lit("change"))
        .otherwise(F.lit("generic"))
    )
    body = (
        F.when(is_m, m_body)
        .when(tag.isin("B|", "C|", "G|"), F.substring(v, 3, 2147483647))
        .otherwise(v)
    )
    return df.select(
        "lsn", frame_op.alias("frame_op"), table.alias("table"), body.alias("body")
    )


def decode_wal2json(split: DataFrame) -> DataFrame:
    """Split frames -> the fixed envelope (``ENVELOPE_DDL``).

    Change frames decode their wal2json body; the parallel columnnames /
    columnvalues arrays become a map, from which the fixed base columns are
    lifted out (typed fast path) and the remainder stays in ``extra`` for
    schema-evolved columns. Generic frames re-hydrate control ops
    (truncate / schema_change) from their JSON body.

    The change body goes ``try_parse_json`` -> VARIANT -> array<string>, so
    TRUE wal2json, whose columnvalues carry mixed JSON types (unquoted
    numbers/booleans — the reference's 16-Postgres-type fixture,
    ``tests/cdc/sources/backends/test_parse_msg.py:14-23``), keeps every
    value exact: a numeric never round-trips through a double. The decode
    never raises: a body that is not JSON, or whose column arrays are
    present but do not zip into a name->value map (not string arrays,
    unequal lengths, a null or repeated name), decodes to op NULL, which
    the apply path drops — a poison frame must not crash-loop the stream."""
    is_change = F.col("frame_op") == "change"
    # three projections, so the body is parsed and its arrays cast ONCE per
    # row: inlined, every envelope column would repeat the work
    parsed = split.select(
        "lsn",
        "frame_op",
        "table",
        F.from_json(F.col("body"), GENERIC_DDL).alias("_g"),
        F.try_variant_get(
            F.try_parse_json(F.when(is_change, F.col("body"))),
            "$",
            WAL2JSON_TYPE,
        ).alias("_w"),
    )
    arrays = parsed.select(
        "lsn",
        "frame_op",
        "table",
        "_g",
        F.col("_w.kind").alias("_kind"),
        (F.col("_w.columnnames").isNull() & F.col("_w.columnvalues").isNull())
        .alias("_absent"),
        *[
            F.try_variant_get(F.col(f"_w.{c}"), "$", "array<string>").alias(a)
            for c, a in (("columnnames", "_names"), ("columnvalues", "_values"))
        ],
    )
    names, values, g = F.col("_names"), F.col("_values"), F.col("_g")
    n = F.size(names)
    zips = (F.size(F.array_compact(F.array_distinct(names))) == n) & (
        n == F.size(values)
    )
    shaped = F.col("_absent") | F.coalesce(zips, F.lit(False))
    # both arrays gated, so map_from_arrays never sees a malformed pair
    cols = F.map_from_arrays(F.when(shaped, names), F.when(shaped, values))
    # generic frames re-hydrate only KNOWN control ops; anything else stays
    # 'generic' (reference: unrecognized payloads -> GenericMessage)
    known_ctrl = g["event"].isin("truncate", "schema_change", "begin", "commit")
    op = (
        F.when(is_change, F.when(shaped, F.col("_kind")))
        .when(
            F.col("frame_op") == "generic",
            F.when(known_ctrl, g["event"]).otherwise(F.lit("generic")),
        )
        .otherwise(F.col("frame_op"))
    )
    base, extra = envelope_base_extra(cols, is_change)
    table = F.coalesce(F.col("table"), g["table"])
    return arrays.select(
        "lsn",
        op.alias("op"),
        table.alias("table"),
        *base,
        extra.alias("extra"),
        F.when(~is_change, g["schema_change"]).alias("schema_change"),
    )


def parse_frames(df: DataFrame, value: str = "value") -> DataFrame:
    """Full wire-to-envelope pipeline: split_frame |> decode_wal2json."""
    return lock_envelope(decode_wal2json(split_frame(df, value)))


def with_content_hash(df: DataFrame, col: str = "content") -> DataFrame:
    """Per-row sha256(content) — the BASELINE invariant column (built-in,
    JVM-vectorized; P8 in SURVEY.md §2.2)."""
    return df.withColumn("content_sha256", F.sha2(F.col(col), 256))


def format_datetime(col):
    """The reference's only scalar formatter: DATE_TRUNC('second', col)
    (``/root/reference/cdc/snapshots/sources/postgres_snapshot.py:91-96``)."""
    return F.date_trunc("second", col).cast("timestamp")
