"""Temporal operators Spark lacks natively: as-of join and sessionization.

- As-of join: for each event, the latest order of the same customer with
  o_orderdate <= ts. Expressed relationally (range join + per-event max-LSN
  struct reduce — the same max_by shape as the LWW dedup); at scale the
  range join is bucketed by key so only same-key rows meet. A pandas
  ``merge_asof`` per key group (applyInPandas) is the alternative when the
  per-key fan-out is too wide; the relational form keeps everything in
  codegen and is the oracled default.
- Sessionization: gap > 30 min starts a new session per user (lag + running
  sum — the standard windowed formulation).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SESSION_GAP_MIN = 30


def q_asof_join(spark, sf_dir):
    """events asof-join orders on user_id = o_custkey, o_orderdate <= ts
    (latest such order). Events with no prior order are kept with NULLs
    (left as-of)."""
    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts")
        .filter(F.col("event_id") < 2000)  # bounded probe set
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate", "o_totalprice"
    )
    j = e.join(o, ["user_id"], "left").filter(
        F.col("o_orderdate").isNull() | (F.col("o_orderdate") <= F.col("ts"))
    )
    # deterministic tie-break: latest (o_orderdate, o_orderkey) — struct
    # ordering is lexicographic, so equal-date orders resolve by key on
    # every engine/strategy identically
    ord_key = F.struct(
        F.coalesce(
            F.col("o_orderdate").cast("timestamp").cast("long"), F.lit(-(2**62))
        ).alias("t"),
        F.coalesce(F.col("o_orderkey"), F.lit(-(2**62))).alias("k"),
    )
    picked = (
        j.groupBy("event_id")
        .agg(
            F.max_by(
                F.struct("user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice"),
                ord_key,
            ).alias("s")
        )
        .select("event_id", F.col("s.*"))
    )
    # events whose ONLY join rows were filtered out (all orders after ts)
    # must still appear with NULL order — re-left-join against the probe set
    out = e.join(
        picked.select(
            "event_id", "o_orderkey", "o_orderdate", "o_totalprice"
        ),
        "event_id",
        "left",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_date_s"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    ).orderBy("event_id")


SQL_ASOF = """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_id < 2000),
j AS (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) rn
  FROM e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       j.o_orderkey,
       strftime(j.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date_s,
       round(j.o_totalprice, 2) AS o_totalprice
FROM e LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)
ORDER BY event_id
"""


def q_sessionize(spark, sf_dir):
    """Per-user sessions: a gap > SESSION_GAP_MIN minutes starts a new
    session; emit per-session bounds and event count."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
    marked = e.withColumn(
        "new_s",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sid = F.sum("new_s").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    sess = marked.withColumn("session_id", sid)
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("start_s"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        )
        .orderBy("user_id", "session_id")
    )


SQL_SESSIONIZE = f"""
WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM m)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


_PD_NULL_DTYPE = {
    "bigint": "Int64", "int": "Int32", "double": "float64",
    "timestamp": "datetime64[us]", "timestamp_ntz": "datetime64[us]",
    "string": "object",
}


def asof_join_pandas(events, orders, *, on="user_id", left_ts="ts",
                     right_ts="o_orderdate", right_order=()):
    """The applyInPandas alternative for wide per-key fan-out: co-group both
    sides by key, run ``pd.merge_asof`` per group inside Arrow batches. Use
    when one key can have so many right-side rows that the relational range
    join's intermediate explodes (a hot key with 10^4 orders turns the range
    join into 10^8 intermediate rows); here data moves once (the cogroup
    shuffle) and the per-group merge is O(n log n).

    ``right_order`` breaks ties among equal ``right_ts`` rows (sorted
    ascending, the LAST row wins — i.e. the max of the tie-break columns),
    matching the relational strategy's max_by struct ordering so both
    strategies are result-identical and oracle-able."""
    import pandas as pd

    out_fields = [f"{c.name} {c.dataType.simpleString()}" for c in events.schema]
    right_cols = [c for c in orders.schema if c.name != on]
    out_fields += [f"{c.name} {c.dataType.simpleString()}" for c in right_cols]
    ddl = ", ".join(out_fields)
    right_dtypes = {
        c.name: _PD_NULL_DTYPE.get(c.dataType.simpleString(), "object")
        for c in right_cols
    }
    int_cols = [
        c.name for c in right_cols
        if c.dataType.simpleString() in ("bigint", "int")
    ]

    # left-as-of: a co-group with no left rows emits nothing (the merge
    # below returns empty), so right-only key groups are dead weight —
    # drop them BEFORE the cogroup exchange. Saves both the shuffle bytes
    # of their rows and (the dominant cost at many keys) one Python
    # applyInPandas invocation per dead group: measured 25.3s -> 4.4s on
    # the sf0.1 probe, where only ~1.9k of ~10k order keys have events.
    orders = orders.join(events.select(on).distinct(), on, "semi")

    def merge(le: pd.DataFrame, ri: pd.DataFrame) -> pd.DataFrame:
        if le.empty:
            out = le.copy()
            for c, dt in right_dtypes.items():
                out[c] = pd.Series([], dtype=dt)
            return out
        le = le.sort_values(left_ts, kind="stable")
        if ri.empty:
            for c, dt in right_dtypes.items():
                le[c] = pd.Series([None] * len(le), dtype=dt, index=le.index)
            return le
        ri = ri.sort_values([right_ts, *right_order], kind="stable")
        m = pd.merge_asof(
            le, ri.drop(columns=[on]), left_on=left_ts, right_on=right_ts
        )
        for c in int_cols:  # merge_asof floats unmatched ints; restore
            m[c] = m[c].astype("Int64")
        return m

    return (
        events.groupBy(on)
        .cogroup(orders.groupBy(on))
        .applyInPandas(lambda le, ri: merge(le, ri), ddl)
    )


def asof_join_relational(events, orders, *, on="user_id", left_ts="ts",
                         right_ts="o_orderdate", event_key="event_id",
                         right_order=()):
    """Generic relational as-of: key-bucketed range join + max_by reduce
    (partial-aggregated — a hot key contributes one row per map task to the
    exchange). ``right_order`` columns must be numeric (tie-break).
    Left-as-of: events with no qualifying order keep NULL right columns."""
    right_cols = [c for c in orders.columns if c != on]
    j = events.join(orders, [on], "left").filter(
        F.col(right_ts).isNull() | (F.col(right_ts) <= F.col(left_ts))
    )
    lo = F.lit(-(2**62))
    ord_key = F.struct(
        F.coalesce(F.col(right_ts).cast("timestamp").cast("long"), lo).alias("_t"),
        *[
            F.coalesce(F.col(c), lo).alias(f"_o{i}")
            for i, c in enumerate(right_order)
        ],
    )
    picked = (
        j.groupBy(event_key)
        .agg(F.max_by(F.struct(*right_cols), ord_key).alias("_s"))
        .select(event_key, F.col("_s.*"))
    )
    return events.join(picked, event_key, "left")


def asof_join(events, orders, *, on="user_id", left_ts="ts",
              right_ts="o_orderdate", event_key="event_id", right_order=(),
              max_fanout=10_000):
    """Fan-out-aware strategy pick: probe the hottest key's right-side
    count — an O(keys) aggregate reduced to ONE driver row — and route to
    the cogrouped ``merge_asof`` when a skewed key would explode the range
    join's |left/key| x |right/key| intermediate. Returns (DataFrame,
    strategy)."""
    hot = orders.groupBy(on).count().agg(F.max("count").alias("m")).first()
    if (hot["m"] or 0) > max_fanout:
        out = asof_join_pandas(
            events, orders, on=on, left_ts=left_ts, right_ts=right_ts,
            right_order=right_order,
        )
        return out, "cogroup"
    out = asof_join_relational(
        events, orders, on=on, left_ts=left_ts, right_ts=right_ts,
        event_key=event_key, right_order=right_order,
    )
    return out, "range_join"


def q_asof_join_cogroup(spark, sf_dir):
    """The cogrouped merge_asof strategy over the SAME probe set and oracle
    as q_asof_join — the fan-out-proof path for skewed keys."""
    e = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts")
        .filter(F.col("event_id") < 2000)
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate",
        "o_totalprice",
    )
    out = asof_join_pandas(
        e, o, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_order=("o_orderkey",),
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_date_s"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
    ).orderBy("event_id")


#: tumbling rollup window, minutes (epoch-aligned, so 15 | 60)
ROLLUP_MIN = 15


def _rollup_agg(events: "DataFrame", minutes: int) -> "DataFrame":
    """The shared tumbling-window aggregation used by BOTH the batch query
    and the streaming surface — every aggregate here must be streaming-safe
    (count / sum / max support incremental state merge; exact distinct does
    NOT, which is why the rollup carries no count-distinct column). Money
    sums in integer cents: double sums are order-dependent, so a
    cross-engine (and batch-vs-stream) hash match needs integer space."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(
            F.window(F.col("ts"), f"{minutes} minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("value_c"),
            F.max(cents).alias("vmax_c"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "value_c",
            "vmax_c",
        )
    )


def window_rollup(events, minutes: int = ROLLUP_MIN):
    """Batch tumbling-window rollup per event type: event count, value sum
    and max in integer cents. One partial-aggregated groupBy — the hypertable
    rollup shape: at 100 TB this is a single map-side-combined shuffle on
    (window, event_type), no windows, no Python."""
    return _rollup_agg(events, minutes)


def stream_window_rollup(
    events, minutes: int = ROLLUP_MIN, watermark: str = "30 minutes"
):
    """The SAME rollup over a STREAMING frame: late rows beyond
    ``watermark`` are dropped and closed windows emit finalized (append
    mode) — the Structured Streaming hypertable-rollup surface. Identical
    aggregation builder as :func:`window_rollup`, so a completed stream's
    output equals the batch rollup over the non-late rows by construction
    (asserted in tests/test_stream_rollup.py).

    Watermark fine print (standard microbatch semantics): the watermark is
    a LOWER bound, propagated with one batch of lag — batch N filters its
    input with the watermark derived from batches <= N-1, and evicts/emits
    closed windows with the one derived from batches <= N. A late row
    landing in the very next batch after the event that advanced the
    watermark can therefore still be merged; from the batch after that it
    is dropped."""
    return _rollup_agg(events.withWatermark("ts", watermark), minutes)


#: session gap, minutes (shared by batch query, stream surface, and oracle)
SESSION_WINDOW_MIN = 30


def _session_agg(events: "DataFrame", gap_min: int) -> "DataFrame":
    """Shared per-user session aggregation over Spark's built-in
    ``session_window`` — used by BOTH the batch query and the streaming
    surface (dynamic-gap session state is exactly what the built-in
    stateful operator implements; no applyInPandasWithState needed).

    Boundary semantics (measured, tests/test_stream_session.py): each
    event spans ``[ts, ts+gap)`` and Spark merges TOUCHING spans — an
    exact-gap tie (next ts == prev ts + gap) stays one session; a new
    session begins iff the gap is **strictly > gap_min**. That matches the
    lag-based ``q_sessionize`` split rule exactly. ``sess_end`` is
    ``last_ts + gap``, the built-in's window end. Money sums in integer
    cents (order-free)."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(
            F.session_window(F.col("ts"), f"{gap_min} minutes").alias("win"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"), F.sum(cents).alias("value_c"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "sess_start"
            ),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "sess_end"
            ),
            "n_events",
            "value_c",
        )
    )


def session_rollup(events, gap_min: int = SESSION_WINDOW_MIN):
    """Batch per-user session rollup. At 100 TB: ONE shuffle on user_id,
    then per-key in-memory session merge inside the built-in operator —
    no self-join, no window-function sort spill beyond the key group."""
    return _session_agg(events, gap_min)


def stream_session_rollup(
    events, gap_min: int = SESSION_WINDOW_MIN, watermark: str = "30 minutes"
):
    """The SAME session rollup over a STREAMING frame: open sessions live
    in the state store, merge with late-but-in-watermark arrivals, and
    emit finalized once the watermark passes ``last_ts + gap`` (append
    mode). Identical builder as :func:`session_rollup`, so a completed
    stream equals the batch rollup over the non-late rows
    (tests/test_stream_session.py)."""
    return _session_agg(events.withWatermark("ts", watermark), gap_min)


def q_session_rollup(spark, sf_dir):
    """Oracled batch instance over the events table."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    )
    return session_rollup(e).orderBy("user_id", "sess_start")


SQL_SESSION_ROLLUP = f"""
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w)
                       > {SESSION_WINDOW_MIN * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
       strftime(max(ts) + INTERVAL '{SESSION_WINDOW_MIN} minutes',
                '%Y-%m-%d %H:%M:%S') AS sess_end,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM s GROUP BY user_id, sid
ORDER BY user_id, sess_start
"""


def q_window_rollup(spark, sf_dir):
    """Oracled batch instance over the events table."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type", "value"
    )
    return window_rollup(e).orderBy("win_start", "event_type")


SQL_WINDOW_ROLLUP = f"""
SELECT strftime(time_bucket(INTERVAL '{ROLLUP_MIN} minutes', ts,
                            TIMESTAMP '1970-01-01 00:00:00'),
                '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vmax_c
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def registry() -> dict:
    return {
        "asof_join": (q_asof_join, SQL_ASOF),
        "asof_join_cogroup": (q_asof_join_cogroup, SQL_ASOF),
        "sessionize": (q_sessionize, SQL_SESSIONIZE),
        "window_rollup": (q_window_rollup, SQL_WINDOW_ROLLUP),
        "session_rollup": (q_session_rollup, SQL_SESSION_ROLLUP),
    }
