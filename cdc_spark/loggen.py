"""Deterministic synthetic change-log generator (Spark-native, seeded).

Produces the engine's WAL-tail input: a wal2json-style change log of
source-code repository rows (FIXTURES.md §1), mirroring the reference's
event taxonomy (``/root/reference/cdc/sources/types.py:47-71``) and wal2json
kinds (``/root/reference/tests/cdc/sources/backends/test_parse_msg.py:18``).

Everything is derived from ``spark.range`` + hash expressions — no driver-side
row materialization, no wall-clock, no RNG state — so the same parameters
always produce the same log at any scale (the nominal 10^10-event log is the
same code with a bigger ``n_events``; rate-generate per batch, never collect).

Knobs (FIXTURES.md §1): n_events, n_repos, n_paths, zipf skew, dup_rate
(duplicate-delivery injection), shuffle_window (out-of-order injection),
delete_rate, truncate_lsns, schema_changes, seed.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import ENVELOPE_DDL

LANGS = ("py", "js", "go", "rs", "md")


def _u(col, seed: int, salt: int):
    """Deterministic uniform [0,1) from a long column (xxhash64-based)."""
    return (F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(1 << 30))) / float(
        1 << 30
    )


def _h(col, seed: int, salt: int):
    """Deterministic non-negative long from a long column."""
    return F.pmod(F.xxhash64(col, F.lit(seed), F.lit(salt)), F.lit(1 << 62))


def dml_columns(
    lsn,
    *,
    n_repos: int = 100,
    n_paths: int = 50,
    zipf: float = 2.0,
    delete_rate: float = 0.08,
    table: str = "repos",
    seed: int = 42,
    content_repeat: int = 1,
) -> list:
    """The deterministic envelope column expressions keyed on an ``lsn``
    column — shared by the batch generator (over ``spark.range``) and the
    streaming rate backend (over the rate source's ``value``)."""
    u_repo = _u(lsn, seed, 1)
    repo_idx = F.floor(F.lit(float(n_repos)) * F.pow(u_repo, F.lit(float(zipf))))
    path_idx = F.pmod(_h(lsn, seed, 2), F.lit(n_paths))
    u_op = _u(lsn, seed, 3)
    commit_hex = F.lower(F.lpad(F.hex(_h(lsn, seed, 4)), 16, "0"))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(_h(lsn, seed, 5), F.lit(len(LANGS))) + 1).cast("int"),
    )
    body_rep = (
        (F.pmod(_h(lsn, seed, 6), F.lit(8)) + 1) * F.lit(content_repeat)
    ).cast("int")
    repo_s = F.concat(F.lit("repo-"), repo_idx.cast("string"))
    path_s = F.concat(
        F.lit("src/"), path_idx.cast("string"), F.lit("/file_"),
        F.pmod(_h(lsn, seed, 7), F.lit(7)).cast("string"), F.lit(".txt"),
    )
    content = F.concat(
        repo_s, F.lit(":"), path_s, F.lit("@"), commit_hex, F.lit("::"),
        F.repeat(F.substring(commit_hex, 1, 8), body_rep),
    )
    op = (
        F.when(u_op < F.lit(delete_rate), F.lit("delete"))
        .when(u_op < F.lit(delete_rate + 0.3), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return [
        lsn.alias("lsn"),
        op.alias("op"),
        F.lit(table).alias("table"),
        repo_s.alias("repo"),
        path_s.alias("path"),
        commit_hex.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    ]


def change_log(
    spark: SparkSession,
    n_events: int,
    *,
    n_repos: int = 100,
    n_paths: int = 50,
    zipf: float = 2.0,
    delete_rate: float = 0.08,
    dup_rate: float = 0.0,
    truncate_lsns: tuple[int, ...] = (),
    schema_changes: dict[int, dict] | None = None,
    table: str = "repos",
    start_lsn: int = 1,
    seed: int = 42,
    content_repeat: int = 1,
) -> DataFrame:
    """Build the change-log DataFrame with envelope ``ENVELOPE_DDL``.

    LSNs are ``start_lsn .. start_lsn+n_events-1``; LSNs listed in
    ``truncate_lsns`` / ``schema_changes`` become control events, the rest are
    DML. ``schema_changes`` maps lsn -> {"action": "add"|"drop"|"retype",
    "column": name, "type": t}. ``dup_rate`` re-emits a fraction of rows with
    identical (lsn, payload) — the reference's at-least-once delivery
    (``cdc/producer.py:84-94``) makes such duplicates a required input class.

    Zipf-like hot-repo skew: repo index = floor(n_repos * u^zipf) concentrates
    mass near repo 0 for zipf > 1, exercising hot-key dedup.
    """
    schema_changes = schema_changes or {}
    control_lsns = set(truncate_lsns) | set(schema_changes)

    df = spark.range(start_lsn, start_lsn + n_events).withColumnRenamed("id", "lsn")

    lsn = F.col("lsn")
    # variable-length deterministic body; sha256(content) is the invariant.
    # content_repeat scales bodies toward realistic source-file sizes
    # (default ~8-70 B; content_repeat=32 -> ~0.25-2 KB)
    base_cols = dml_columns(
        lsn, n_repos=n_repos, n_paths=n_paths, zipf=zipf,
        delete_rate=delete_rate, table=table, seed=seed,
        content_repeat=content_repeat,
    )

    # values for columns added by schema evolution (arrive via `extra`)
    extra_entries = []
    for c_lsn, ch in sorted(schema_changes.items()):
        if ch["action"] != "add":
            continue
        cname, ctype = ch["column"], ch.get("type", "string")
        h = _h(lsn, seed, 100 + c_lsn)
        if ctype in ("long", "double"):
            val = F.pmod(h, F.lit(100000)).cast("string")
        elif ctype == "boolean":
            val = (F.pmod(h, F.lit(2)) == 0).cast("string")
        elif ctype == "timestamp":
            val = F.date_format(
                F.timestamp_seconds(F.lit(1_600_000_000) + F.pmod(h, F.lit(1_000_000))),
                "yyyy-MM-dd HH:mm:ss",
            )
        elif ctype == "date":
            val = F.date_format(
                F.date_add(F.lit("2020-01-01").cast("date"), F.pmod(h, F.lit(2000)).cast("int")),
                "yyyy-MM-dd",
            )
        elif ctype.startswith("decimal"):
            val = F.concat(
                F.pmod(h, F.lit(100000)).cast("string"),
                F.lit("."),
                F.lpad(F.pmod(_h(lsn, seed, 200 + c_lsn), F.lit(1000)).cast("string"), 3, "0"),
            )
        else:
            val = F.concat(F.lit(cname + "-"), F.pmod(h, F.lit(1000)).cast("string"))
        extra_entries.append((cname, F.when(lsn > F.lit(c_lsn), val)))
    # a column dropped and re-ADDED appears once per add above — collapse to
    # one map entry per column (the latest add at or below the row's lsn
    # wins), else map_from_arrays raises DUPLICATED_MAP_KEY
    by_col: dict[str, list] = {}
    for cname, val in extra_entries:
        by_col.setdefault(cname, []).append(val)
    extra_entries = [
        (cname, F.coalesce(*reversed(vals)) if len(vals) > 1 else vals[0])
        for cname, vals in by_col.items()
    ]
    if extra_entries:
        pairs = []
        for name, val in extra_entries:
            pairs.extend([F.lit(name), val])
        extra = F.map_filter(F.map_from_arrays(
            F.array(*pairs[0::2]), F.array(*pairs[1::2])
        ), lambda _, v: v.isNotNull())
    else:
        extra = F.lit(None).cast("map<string,string>")

    dml = df.select(
        *base_cols,
        extra.alias("extra"),
        F.lit(None).cast("string").alias("schema_change"),
    )
    if control_lsns:
        dml = dml.filter(~lsn.isin(list(control_lsns)))

    out = dml
    if control_lsns:
        rows = []
        for t in truncate_lsns:
            rows.append((t, "truncate", table, None, None, None, None, None, None, None))
        for s_lsn, ch in schema_changes.items():
            rows.append(
                (s_lsn, "schema_change", table, None, None, None, None, None, None, json.dumps(ch))
            )
        ctrl = spark.createDataFrame(rows, ENVELOPE_DDL)
        out = out.unionByName(ctrl)

    if dup_rate > 0:
        dups = out.filter(_u(F.col("lsn"), seed, 9) < F.lit(dup_rate))
        out = out.unionByName(dups)
    return out


def write_segments(
    df: DataFrame,
    path: str,
    *,
    seg_size: int = 1000,
    shuffle_window: int = 0,
    seed: int = 42,
) -> int:
    """Write the log as ordered parquet WAL segments (``seg=K/`` dirs).

    ``shuffle_window`` > 0 jitters the segment assignment by up to that many
    LSNs, producing overlapping per-segment LSN ranges — the out-of-order
    delivery the engine must tolerate (the reference never reorders, but the
    engine's LWW reduce + per-key LSN guard make order irrelevant).
    Returns the number of segments written.
    """
    lsn = F.col("lsn")
    jitter = (
        F.pmod(_h(lsn, seed, 11), F.lit(2 * shuffle_window + 1)) - F.lit(shuffle_window)
        if shuffle_window > 0
        else F.lit(0)
    )
    seg = F.greatest(F.floor((lsn + jitter) / F.lit(seg_size)), F.lit(0))
    (
        df.withColumn("seg", seg)
        .repartition(F.col("seg"))
        .sortWithinPartitions("lsn")
        .write.partitionBy("seg")
        .mode("overwrite")
        .parquet(path)
    )
    import glob
    import os
    import time

    # Stamp MONOTONIC mtimes in segment order. A real WAL directory is
    # written sequentially, so segment K's files are never newer than
    # segment K+1's — but the parallel parquet job above finishes its
    # tasks in scheduler order, which would leak task-completion order
    # into Spark's file-stream batch delivery (FileStreamSource orders
    # new files by modification time; 'seg=10' also sorts before 'seg=2'
    # on the path tie-break). The envelope/framed wires tolerate
    # cross-batch reordering (LWW + per-row LSN stamps), but the binary
    # pgoutput decode relies on the WAL's own Relation-before-DML
    # delivery guarantee ACROSS microbatches — so the harness must be
    # faithful to it.
    segs = glob.glob(os.path.join(path, "seg=*"))
    base = time.time() - 2 * (len(segs) + 1)
    for k, seg_dir in enumerate(
        sorted(segs, key=lambda p: int(p.rsplit("=", 1)[1]))
    ):
        t = base + 2 * k
        for f in glob.glob(os.path.join(seg_dir, "*")):
            os.utime(f, (t, t))
    return len(segs)


def frame_value(df: DataFrame):
    """Column expression encoding envelope rows as the reference's framed
    wire format: ``M|<escaped table>|<wal2json JSON>`` for DML (escaping
    ``\\`` -> ``\\\\`` and ``|`` -> ``\\|`` exactly as the reference's
    parser expects, ``postgres_logical.py:45-68``), ``B|``/``C|`` for
    transaction brackets, ``G|`` generic for control events."""
    esc_table = F.regexp_replace(
        F.regexp_replace(F.col("table"), r"\\", r"\\\\"), r"\|", r"\\|"
    )
    base_names = F.array(*[F.lit(c) for c in ("repo", "path", "commit", "lang", "content")])
    base_vals = F.array(*[F.col(c) for c in ("repo", "path", "commit", "lang", "content")])
    extra_names = F.map_keys(F.coalesce(F.col("extra"), F.expr("map()")))
    extra_vals = F.map_values(F.coalesce(F.col("extra"), F.expr("map()")))
    wal2json = F.to_json(
        F.struct(
            F.lit("change").alias("event"),
            F.col("op").alias("kind"),
            F.lit("public").alias("schema"),
            F.col("table").alias("table"),
            F.concat(base_names, extra_names).alias("columnnames"),
            F.concat(base_vals, extra_vals).alias("columnvalues"),
        )
    )
    generic = F.to_json(
        F.struct(
            F.col("op").alias("event"),
            F.col("table").alias("table"),
            F.col("schema_change").alias("schema_change"),
        )
    )
    return (
        F.when(F.col("op") == "begin", F.concat(F.lit("B|"), generic))
        .when(F.col("op") == "commit", F.concat(F.lit("C|"), generic))
        .when(
            F.col("op").isin("insert", "update", "delete"),
            F.concat(F.lit("M|"), esc_table, F.lit("|"), wal2json),
        )
        .otherwise(F.concat(F.lit("G|"), generic))
    )


def to_frames(df: DataFrame) -> DataFrame:
    """(lsn, value) wire frames; the LSN rides outside the payload like
    wal_msg.data_start in the reference (``postgres_logical.py:176-181``)."""
    return df.select("lsn", frame_value(df).alias("value"))


def realistic_docs(
    spark: SparkSession,
    n_docs: int,
    vocab: int = 50_000,
    neardup_every: int = 37,
    seed: int = 9,
) -> DataFrame:
    """Deterministic document corpus with a REALISTIC text distribution for
    pair-generator benchmarks — unlike the cipher-slice probe (whose tiny
    shared vocabulary leaks shingles across slices and inflates pair
    semantics), this draws words from a ``vocab``-sized Zipf-ish
    distribution (u^2 skew: a common-word head, a long rare tail) so
    shingle document-frequencies look like natural text — unrelated docs
    share stopword-ish shingles but sit well below near-dup similarity,
    which is what keeps LSH candidate volume meaningful. Every
    ``neardup_every``-th doc is a TRUE near-duplicate of its predecessor
    (same body + one extra token), giving the near-dup operators a known
    linear-in-corpus signal to find. All generation is column expressions —
    executor-side, no driver data."""
    df = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    is_dup = (F.col("doc_id") % neardup_every == 0) & (F.col("doc_id") > 0)
    base = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    h0 = F.abs(F.xxhash64(base, F.lit(seed)))
    n_words = (F.pmod(h0, F.lit(160)) + 80).cast("int")
    # word = base-26 LETTER encoding of the Zipf-drawn index (alphabetic
    # tokens give the character-shingle space natural-text width; digit
    # tokens collapse it and inflate baseline similarity)
    widx = lambda i: F.floor(  # noqa: E731
        F.lit(float(vocab))
        * F.pow(
            F.pmod(F.abs(F.xxhash64(base, i, F.lit(seed))), F.lit(1_000_000))
            / F.lit(1_000_000.0),
            F.lit(2.0),
        )
    ).cast("long")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.concat(
            *[
                F.char(
                    F.lit(97)
                    + F.pmod(
                        (widx(i) / F.lit(26**k)).cast("long"), F.lit(26)
                    )
                )
                for k in range(4)
            ]
        ),
    )
    text = F.concat(
        F.array_join(words, " "),
        F.when(is_dup, F.lit(" xdup")).otherwise(F.lit("")),
    )
    return df.select(
        "doc_id",
        text.alias("text"),
        F.lit("en").alias("lang"),
        # the dup shares its BASE doc's source block, so source-blocked
        # operators (ngram_jaccard_pairs) can actually meet the pair
        F.concat(F.lit("s"), F.pmod(base, F.lit(5)).cast("string")).alias(
            "source"
        ),
        F.length(text).alias("n_chars"),
    )


def clustered_vectors(
    spark: SparkSession,
    n_vecs: int,
    dim: int = 64,
    n_clusters: int = 16,
    seed: int = 11,
) -> DataFrame:
    """Deterministic clustered embedding corpus for ANN probes: each vector
    is its latent cluster's ±1 corner plus small per-vector noise, all as
    column expressions (executor-side, no driver data). The latent
    structure gives IVF quantizers something real to recover, so recall
    against exact search is a meaningful quality signal."""
    df = spark.range(n_vecs).select(F.col("id").alias("vec_id"))
    c = F.pmod(F.col("vec_id"), F.lit(n_clusters))
    comps = []
    for d in range(dim):
        sign = F.when(
            F.pmod(F.abs(F.xxhash64(c, F.lit(d), F.lit(seed))), F.lit(2)) == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        noise = (
            F.pmod(
                F.abs(F.xxhash64(F.col("vec_id"), F.lit(d), F.lit(seed + 1))),
                F.lit(1_000),
            )
            / F.lit(5_000.0)
        )
        comps.append(sign + noise)
    return df.select(
        "vec_id", F.array(*comps).cast("array<float>").alias("embedding")
    )
