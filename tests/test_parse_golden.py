"""Golden-output frame-parser tests — the behavior cases of the reference's
parser suite (/root/reference/tests/cdc/sources/backends/test_parse_msg.py:31-83)
re-asserted against the vectorized Spark parser."""

import json

import pytest
from pyspark.sql import functions as F

from cdc_spark.parse import parse_frames, split_frame

WAL2JSON_INSERT = json.dumps(
    {
        "event": "change",
        "kind": "insert",
        "schema": "public",
        "table": "repos",
        "columnnames": ["repo", "path", "commit", "lang", "content", "stars"],
        "columnvalues": ["r1", "a/b.py", "abc123", "py", "print(1)", "7"],
    }
)

CASES = [
    # (frame value, expected op, expected table)
    ('B|{"event":"begin","xid":123123}', "begin", None),
    ('C|{"event":"commit","xid":123123}', "commit", None),
    ('G|{"event":"generic"}', "generic", None),
    ('{"event":"untagged"}', "generic", None),  # fallback, postgres_logical.py:76-80
    (f"M|table_with_unique|{WAL2JSON_INSERT}", "insert", "table_with_unique"),
    (f"M||{WAL2JSON_INSERT}", "insert", ""),  # empty table name
    # escape handling: asd\\asd\| -> asd\asd|   (postgres_logical.py:56-68)
    ("M|asd\\\\asd\\||" + WAL2JSON_INSERT, "insert", "asd\\asd|"),
    # malformed change bodies decode to op NULL instead of raising
    ("M|t|{not json", None, "t"),
    ("M|t|" + WAL2JSON_INSERT[:60], None, "t"),  # truncated body
    ('M|t|{"kind":"insert","columnnames":"repo","columnvalues":["r1"]}',
     None, "t"),
    # column arrays that cannot zip into a name->value map
    ('M|t|{"kind":"insert","columnnames":["repo","path"],"columnvalues":["r1"]}',
     None, "t"),
    ('M|t|{"kind":"insert","columnnames":["repo","repo"],"columnvalues":["a","b"]}',
     None, "t"),
    ('M|t|{"kind":"insert","columnnames":["repo",null],"columnvalues":["a","b"]}',
     None, "t"),
]


@pytest.mark.parametrize("value,op,table", CASES)
def test_frame_cases(spark, value, op, table):
    df = spark.createDataFrame([(1, value)], "lsn BIGINT, value STRING")
    row = parse_frames(df).collect()[0]
    assert row["op"] == op
    assert row["table"] == table
    assert row["lsn"] == 1


def test_wal2json_columns_decode(spark):
    df = spark.createDataFrame(
        [(5, f"M|repos|{WAL2JSON_INSERT}")], "lsn BIGINT, value STRING"
    )
    row = parse_frames(df).collect()[0]
    assert row["repo"] == "r1"
    assert row["path"] == "a/b.py"
    assert row["commit"] == "abc123"
    assert row["lang"] == "py"
    assert row["content"] == "print(1)"
    # non-base columns land in extra (schema-evolution payload residue)
    assert row["extra"] == {"stars": "7"}


TRUE_WAL2JSON = (
    '{"event":"change","kind":"insert","schema":"public","table":"t16",'
    '"columnnames":["c_int2","c_int2b","c_int4","c_int8","c_numeric",'
    '"c_float4","c_float8","c_bpchar","c_varchar","c_text","c_varbit",'
    '"c_timestamp","c_date","c_bool","c_json","c_tsvector",'
    '"repo","path","commit","lang","content"],'
    '"columntypes":["int2","int2","int4","int8","numeric","float4","float8",'
    '"bpchar","varchar","text","varbit","timestamp","date","bool","json",'
    '"tsvector","text","text","text","text","text"],'
    '"columnvalues":[1,2,3,4,5.5,6.5,7.5,"pad  ","vc","txt","101",'
    '"2019-01-01 00:00:00","2019-01-01",true,"{\\"k\\": 1}","\'x\':1'
)


def test_true_wal2json_mixed_types_variant_decode(spark):
    """The reference's 16-Postgres-type wal2json fixture shape: unquoted
    numbers and booleans in columnvalues. The decode canonicalizes every
    value to its exact string form, JVM-side — a 30-digit numeric does not
    round through a double."""
    body = (
        TRUE_WAL2JSON + '","r1","p1","c1","py","body text",'
        '123456789012345678901.123456789]}'
    ).replace('"content"]', '"content","c_big"]')
    df = spark.createDataFrame(
        [(9, "M|t16|" + body)], "lsn BIGINT, value STRING"
    )
    row = parse_frames(df).collect()[0]
    assert row["op"] == "insert"
    assert row["table"] == "t16"
    assert row["repo"] == "r1" and row["content"] == "body text"
    ex = row["extra"]
    assert ex["c_int2"] == "1" and ex["c_int8"] == "4"
    assert ex["c_numeric"] == "5.5" and ex["c_bool"] == "true"
    assert ex["c_bpchar"] == "pad  "  # bpchar padding preserved
    assert ex["c_varbit"] == "101"
    assert ex["c_json"] == '{"k": 1}'
    assert ex["c_big"] == "123456789012345678901.123456789"
    plan = parse_frames(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_body_is_exact_json(spark):
    df = spark.createDataFrame(
        [(1, f"M|t|{WAL2JSON_INSERT}"), (2, 'B|{"event":"begin","xid":1}')],
        "lsn BIGINT, value STRING",
    )
    rows = {r["lsn"]: r for r in split_frame(df).collect()}
    assert json.loads(rows[1]["body"]) == json.loads(WAL2JSON_INSERT)
    assert json.loads(rows[2]["body"]) == {"event": "begin", "xid": 1}


def test_escape_heavy_table_names(spark):
    """Escape-heavy payloads from the reference's parametrization."""
    cases = [
        ("M|\\\\|x|", "\\"),        # table '\' then body 'x|'
        ("M|\\||y", "|"),            # table '|'
        ("M|a\\|b\\\\c|z", "a|b\\c"),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(cases)], "lsn BIGINT, value STRING"
    )
    got = {r["lsn"]: r["table"] for r in split_frame(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}"


def test_parser_is_pure_columnar(spark):
    """No Python UDF in the parse plan (input_hint: zero per-row Python)."""
    df = spark.createDataFrame([(1, "B|{}")], "lsn BIGINT, value STRING")
    plan = parse_frames(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_content_hash_matches_hashlib(spark):
    """P8 cross-check: built-in sha2 vs hashlib on the same content."""
    import hashlib

    from cdc_spark.parse import with_content_hash

    df = spark.createDataFrame([("hello wal",)], "content STRING")
    got = with_content_hash(df).collect()[0]["content_sha256"]
    assert got == hashlib.sha256(b"hello wal").hexdigest()
