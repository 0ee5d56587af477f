"""Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
n-gram Jaccard. Spark-first: shingling/hashing via higher-order array
functions (codegen, no Python), candidate generation via hash-bucket
equi-joins — the shapes that survive 100 TB (shuffle on band buckets, never
an O(n^2) cross join)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ._portable import (
    MOD,
    duck_poly_hash,
    duck_shingles,
    mh_params,
    spark_poly_hash,
    spark_shingles,
)

K_MINHASH = 16
BANDS = 4  # 4 rows per band
#: 63, not 64: bit 63 stays unused so the signature is a non-negative BIGINT
#: and every shift/mask/xor is sign-safe in BOTH engines (DuckDB BIGINT has
#: no unsigned shift). 63 bits makes the banded blocking survive corpus
#:  growth: 4 bands of ~16 bits = 65 536 values per band, vs the round-2
#: 16-bit signature whose 8-bit bands (256 values) overflowed the
#: MAX_BAND_DOCS cap for EVERY bucket past ~0.5M docs and silently returned
#: nothing.
SIMHASH_BITS = 63
#: band layout over the 63-bit signature: 16+16+16+15 bits. Pigeonhole: any
#: pair within SIMHASH_MAX_HAMMING=3 flips leaves >=1 of the 4 bands
#: untouched, so recall at the threshold is exact (not probabilistic).
SIMHASH_BAND_BITS = 16
SIMHASH_BANDS = 4
#: shingle width for the MinHash family. 3-gram shingles make natural text
#: look self-similar (common trigrams dominate the min-hashes): measured at
#: sf0.1 they produced 7.46M candidate pairs from 5,000 docs — 60% of ALL
#: pairs, i.e. the banding was degenerate. 5-gram shingles restore
#: discrimination; the DuckDB oracle uses the same width.
MINHASH_SHINGLE_N = 5
#: band buckets holding more docs than this are dropped before the pair
#: join (a bucket that common carries no near-dup signal — usually empty or
#: boilerplate documents — while contributing k^2/2 join rows). Mirrored in
#: the oracle SQL, so it is part of the operator's semantics, not a silent
#: truncation.
MAX_BAND_DOCS = 1024

#: pivot of the LSH sizing rules: corpora at or below this many docs get
#: the fixture banding (which the static DuckDB oracles pin — the driver's
#: correctness fixture is sf0.01 = 500 docs, and sf0.1 = 5,000, both inside
#: this regime, so the oracle strings ARE the rule's output there).
AUTOSIZE_BASE = 5_000


def minhash_autosize(n_docs: int) -> tuple[int, int, int]:
    """``(k, n_bands, rows_per_band)`` from the corpus size — the sizing
    rule that makes the measured scale configs the DEFAULT instead of a
    knob.

    The false-candidate rate per pair is ~ b * s^r, constant per pair but
    QUADRATIC in pairs — so to keep candidates/doc flat as the corpus
    grows, r must rise with log(n): each decade past AUTOSIZE_BASE adds 4
    rows per band, multiplying moderate-similarity (s ~ 0.5) collision
    odds down ~16x — tracking the ~10x growth in docs sharing any bucket.

    Outputs by regime (s* = (1/b)^(1/r) is the collision threshold):

    - n <= 5e3:  (16, 4, 4)  s* ~ 0.71 — fixture config, oracle-pinned
    - n <= 5e4:  (24, 3, 8)  s* ~ 0.87 — measured in BENCH.md: 444x
      candidate cut at planted-dup recall 1.00 on the realistic corpus
    - n <= 5e5:  (36, 3, 12) s* ~ 0.91
    - each further decade: r += 4, b = 3, k = 3r
    """
    decades = max(
        0, math.ceil(math.log10(max(n_docs, 1) / AUTOSIZE_BASE))
    )
    if decades == 0:
        return K_MINHASH, BANDS, K_MINHASH // BANDS
    r = 4 + 4 * decades
    return 3 * r, 3, r


#: corpus-size cache: the sizing rules need ONE cheap count job per input
#: directory (metadata-only over parquet); memoized so every LSH query on
#: the same corpus shares it. Keyed on the parquet path's mtime so an
#: overwritten corpus re-counts (a stale count would silently pick the
#: wrong banding regime). At 100 TB the count would ride an existing
#: stats job (the apply path's HLL estimate) instead.
_NCACHE: dict = {}


def corpus_size(spark, sf_dir: str, table: str = "documents") -> int:
    import os

    path = f"{sf_dir}/{table}.parquet"
    try:
        stamp = os.path.getmtime(path)
    except OSError:
        stamp = None
    key = (table, sf_dir, stamp)
    if key not in _NCACHE:
        _NCACHE[key] = spark.read.parquet(path).count()
    return _NCACHE[key]


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------------------------------------ exact
def q_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash: canonical doc per text + duplicate count.
    At scale this is one hash-partitioned groupBy (partial-aggregated)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_copies"))
        .orderBy("text_md5")
    )


SQL_EXACT = """
SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 1
"""


# ----------------------------------------------------------------- minhash
_DUCK_SHINGLE_HASHES = f"""
sh AS (SELECT doc_id, unnest({duck_shingles('text', MINHASH_SHINGLE_N)}) AS sh
       FROM documents),
hs AS (SELECT doc_id, {duck_poly_hash('sh')} AS h FROM sh)
"""


def _shingle_pos_index(lens, n):
    """(idx, npos, seg_starts): flat code-array index of every full n-gram
    position across concatenated docs. ``lens`` int64 per-doc char counts;
    docs shorter than n contribute zero positions (they hash as one
    whole-string shingle, handled scalar by the callers)."""
    import numpy as np

    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    npos = np.where(lens >= n, lens - (n - 1), 0)
    seg = np.concatenate(([0], np.cumsum(npos)))
    total = int(seg[-1])
    base = np.repeat(starts, npos)
    off = np.arange(total, dtype=np.int64) - np.repeat(seg[:-1], npos)
    return base + off, npos, seg


def _codes_of(texts):
    """Concatenated code-point array (int64) of a list of strings —
    identical values to Spark's ascii(substring(text, i, 1)) per position
    (both are Unicode code points)."""
    import numpy as np

    joined = "".join(texts)
    return np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    ).astype(np.int64)


def _arrow_codes(col):
    """(codes, lens) for a null-free Arrow string array: concatenated
    code-point values (int64) and per-string code-point counts.

    Fast path: when the batch's UTF-8 payload is pure ASCII (the common
    corpus case), bytes ARE code points and byte offsets ARE code-point
    offsets, so both come straight out of the Arrow buffers with zero
    Python-object materialization. Otherwise falls back to the exact
    per-string UTF-32 decode (``_codes_of``)."""
    import numpy as np
    import pyarrow as pa

    odt = np.int64 if pa.types.is_large_string(col.type) else np.int32
    offsets = np.frombuffer(col.buffers()[1], dtype=odt)[
        col.offset : col.offset + len(col) + 1
    ]
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    seg = data[offsets[0] : offsets[-1]]
    if not (seg & 0x80).any():
        lens = (offsets[1:] - offsets[:-1]).astype(np.int64)
        return seg.astype(np.int64), lens
    texts = col.to_pylist()
    lens = np.fromiter(
        (len(t) for t in texts), dtype=np.int64, count=len(texts)
    )
    return _codes_of(texts), lens


def _poly_fold_codes(codes) -> int:
    """Scalar canonical poly hash over a code-point slice (empty -> SEED),
    for shorter-than-shingle docs."""
    acc = 7  # SEED
    for c in codes:
        acc = (acc * 31 + int(c)) % MOD
    return acc


def minhash_signature(docs, k: int = K_MINHASH):
    """Frame-level MinHash signatures over (doc_id, text): shingle ->
    polynomial hash -> k affine permutations -> per-doc min.

    Value-identical to the canonical explode(distinct shingles) -> hash ->
    groupBy-min formulation (the DuckDB oracle's shape), computed as an
    Arrow-batched NumPy kernel (guide §4.2): the per-shingle higher-order
    expressions fall outside whole-stage codegen (lambda functions are
    interpreted), so the rolling hash and the k affine mins run as ~n+k
    vectorized passes over the batch's concatenated code points instead —
    min is multiplicity-insensitive, so skipping the canonical
    array_distinct changes nothing. No per-shingle rows exist anywhere;
    the only shuffle left is the k-column per-doc aggregate that keeps
    duplicate doc_ids merging exactly as the canonical groupBy did.
    NULL-text rows are dropped, matching the canonical explode's
    behavior."""
    from pyspark.sql.types import LongType, StructField, StructType

    params = mh_params(k)
    n = MINHASH_SHINGLE_N
    narrow = docs.where(F.col("text").isNotNull()).select("doc_id", "text")
    id_field = narrow.schema.fields[0]
    out_schema = StructType(
        [id_field]
        + [StructField(f"mh{i}", LongType(), False) for i in range(k)]
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        A = np.array([a for a, _ in params], dtype=np.int64)
        B = np.array([b for _, b in params], dtype=np.int64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes, lens = _arrow_codes(rb.column(1))
            n_docs = len(lens)
            starts = np.concatenate(([0], np.cumsum(lens)))
            idx, npos, seg = _shingle_pos_index(lens, n)
            h = np.full(idx.shape, 7, dtype=np.int64)  # SEED
            for t in range(n):
                h = (h * 31 + codes[idx + t]) % MOD
            mh = np.empty((k, n_docs), dtype=np.int64)
            full = np.nonzero(npos > 0)[0]
            red = seg[:-1][full]
            for i in range(k):
                v = (A[i] * h + B[i]) % MOD
                if full.size:
                    mh[i, full] = np.minimum.reduceat(v, red)
            short = np.nonzero(npos == 0)[0]
            for d in short:
                hs = _poly_fold_codes(codes[starts[d] : starts[d + 1]])
                for i in range(k):
                    mh[i, d] = (int(A[i]) * hs + int(B[i])) % MOD
            yield pa.RecordBatch.from_arrays(
                [rb.column(0)] + [pa.array(mh[i]) for i in range(k)],
                schema=pa.schema(
                    [rb.schema.field(0)]
                    + [pa.field(f"mh{i}", pa.int64(), False) for i in range(k)]
                ),
            )

    per_row = narrow.mapInArrow(gen, out_schema)
    return per_row.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)]
    )


def minhash_bands(docs, k: int = K_MINHASH, n_bands: int = BANDS):
    """Frame-level band fingerprints over (doc_id, text): the signature
    banded into (doc_id, band, bkey) rows — the unit the LSH pair join and
    the incremental index both operate on."""
    if k % n_bands:
        raise ValueError(
            f"k={k} must divide into n_bands={n_bands} (r = k/b drives the "
            f"s* threshold; a silent remainder would band fewer rows than "
            f"requested)"
        )
    sig = minhash_signature(docs, k)
    rows_per_band = k // n_bands
    keys = []
    for bidx in range(n_bands):
        cols = [f"mh{bidx * rows_per_band + j}" for j in range(rows_per_band)]
        keys.append(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]))
    # posexplode of the band-key array == the historical union of one
    # select per band (pos is the band index), in ONE pass over the
    # signature instead of n_bands plan branches
    return sig.select(
        "doc_id", F.posexplode(F.array(*keys)).alias("band", "bkey")
    ).select("doc_id", F.col("band").cast("int").alias("band"), "bkey")


def q_minhash_signature(spark, sf_dir, k: int = K_MINHASH):
    """The oracled signature query (fixture k, stable column set)."""
    return minhash_signature(
        _docs(spark, sf_dir).select("doc_id", "text"), k
    ).orderBy("doc_id")


def sql_minhash_signature() -> str:
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MOD}) AS mh{i}"
        for i, (a, b) in enumerate(mh_params(K_MINHASH))
    )
    return f"WITH {_DUCK_SHINGLE_HASHES} SELECT doc_id, {mins} FROM hs GROUP BY doc_id ORDER BY doc_id"


def q_minhash_lsh_pairs(spark, sf_dir, k: int | None = None,
                        n_bands: int | None = None):
    """MinHash LSH candidate pairs: band the signature (``n_bands`` bands x
    ``k // n_bands`` rows), bucket-join docs sharing a band value.
    The join key is the band fingerprint — shuffle is by bucket, so cost
    scales with collisions, not with n^2.

    Banding is the precision knob (collision threshold s* ~ (1/b)^(1/r))
    and is AUTO-SIZED from the corpus: with ``k``/``n_bands`` unset, one
    cheap count job feeds :func:`minhash_autosize`, so a 50M-doc corpus
    gets scale banding by default instead of the fixture config (the
    round-2/3 verdict gap). Explicit values override the rule. The DuckDB
    oracle pins the rule's output for the n <= AUTOSIZE_BASE regime, which
    the driver's sf0.01 fixture (500 docs) is in — Spark computes the same
    banding there, so the hash comparison stays exact."""
    if k is None or n_bands is None:
        auto_k, auto_b, _ = minhash_autosize(corpus_size(spark, sf_dir))
        k = auto_k if k is None else k
        n_bands = auto_b if n_bands is None else n_bands
    banded = minhash_bands(
        _docs(spark, sf_dir).select("doc_id", "text"), k, n_bands
    )
    # banded is consumed three times below (occupancy guard + both sides of
    # the pair self-join); it is tiny (n_docs x n_bands short rows) while
    # its lineage holds ALL of the text hashing — localCheckpoint
    # materializes it once so the corpus is scanned/hashed exactly once
    # per query invocation (guide §3.3/§5: cut the plan where a small
    # intermediate is reused)
    banded = banded.localCheckpoint()
    # degenerate-bucket guard (MAX_BAND_DOCS): one partial-aggregated
    # groupBy over the band keys, then an equi-join filter — both shuffle on
    # the same key the pair join uses
    ok = (
        banded.groupBy("band", "bkey")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= MAX_BAND_DOCS)
        .select("band", "bkey")
    )
    banded = banded.join(ok, ["band", "bkey"])
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return pairs


def sql_lsh_pairs_ctes() -> str:
    """The pairs computation as a reusable CTE chain (no WITH keyword, no
    final SELECT): shingle hashes -> signatures -> bands -> occupancy cap ->
    ``pairs(doc_a, doc_b)``. Shared by :func:`sql_minhash_lsh_pairs` and
    downstream oracles that consume the pair set (e.g. the connected-
    components clustering oracle in :mod:`.cluster`)."""
    rows_per_band = K_MINHASH // BANDS
    band_selects = []
    for bidx in range(BANDS):
        cols = [f"mh{bidx * rows_per_band + j}" for j in range(rows_per_band)]
        key = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {bidx} AS band, {key} AS bkey FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {MOD}) AS mh{i}"
        for i, (a, b) in enumerate(mh_params(K_MINHASH))
    )
    return f"""{_DUCK_SHINGLE_HASHES},
sig AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
banded0 AS ({banded}),
ok AS (SELECT band, bkey FROM banded0 GROUP BY band, bkey
       HAVING count(*) <= {MAX_BAND_DOCS}),
banded AS (SELECT banded0.* FROM banded0 JOIN ok USING (band, bkey)),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id)"""


def sql_minhash_lsh_pairs() -> str:
    return f"""
WITH {sql_lsh_pairs_ctes()}
SELECT doc_a, doc_b FROM pairs
ORDER BY doc_a, doc_b
"""


def q_minhash_jaccard_pairs(spark, sf_dir):
    """LSH candidate pairs annotated with the MinHash Jaccard ESTIMATE
    (matching signature components / k) — the thresholding input an
    actual dedup pass applies to the candidate set before clustering.
    Integer space (n_match, jaccard_x1e4) so the cross-engine hash stays
    exact. Shape: the two signature lookups are equi-joins keyed by the
    pair's doc ids, so cost is O(pairs), and the component comparison is
    a flat column expression inside codegen."""
    sig = minhash_signature(
        _docs(spark, sf_dir).select("doc_id", "text"), K_MINHASH
    )
    pairs = q_minhash_lsh_pairs(spark, sf_dir, k=K_MINHASH, n_bands=BANDS)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(K_MINHASH)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(K_MINHASH)],
    )
    n_match = sum(
        [
            F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
            for i in range(K_MINHASH)
        ],
        F.lit(0),
    ).cast("long")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            F.expr(
                f"CAST((({' + '.join(f'CASE WHEN _a{i} = _b{i} THEN 1 ELSE 0 END' for i in range(K_MINHASH))}) * 10000) DIV {K_MINHASH} AS BIGINT)"
            ).alias("jaccard_x1e4"),
        )
        .orderBy("doc_a", "doc_b")
    )


def sql_minhash_jaccard_pairs() -> str:
    match = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(K_MINHASH)
    )
    return f"""
WITH {sql_lsh_pairs_ctes()}
SELECT p.doc_a, p.doc_b,
       CAST({match} AS BIGINT) AS n_match,
       CAST(({match}) * 10000 // {K_MINHASH} AS BIGINT) AS jaccard_x1e4
FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------------- simhash
#: the 63 signature bits come from 3 chained rehashes of the ~30-bit token
#: poly hash (h1=h, h2=(h1*h1+11)%MOD, h3=(h2*h1+17)%MOD), 21 low bits each
#: — 3 mod-mults per token instead of 63, with the identical formula in the
#: DuckDB oracle. Bit b reads ``(h[1+b//21] >> (b%21)) & 1``.
_SH_FIELD = 21  # bits taken from each rehash = fields per accumulator
_SH_W = 21      # accumulator field width (3 x 21 = 63 bits, sign-safe)
#: docs longer than this many CHARACTERS are EXCLUDED from signatures in
#: BOTH engines (an enforced bound, not a silent overflow): a whitespace
#: token is >= 2 chars incl. separator, so the bound caps per-doc token
#: counts at (2^22-1)/2 < 2^21, strictly below what a packed field can
#: count. Without the bound a field carry would
#: corrupt neighboring bit votes undetectably, and ANSI sum overflow on
#: the top field would crash the job. The filter runs BEFORE the explode
#: (a ~4 MB single doc never fans out), mirrored in the oracle. Pair such
#: pathological docs via the exact (jaccard) path instead.
SIMHASH_MAX_CHARS = (1 << 22) - 2


#: Java regex ``\s`` character class (Spark's split runs Java regex WITHOUT
#: UNICODE_CHARACTER_CLASS): exactly these six code points, nothing else —
#: the NumPy tokenizer below splits on precisely this set so its tokens are
#: identical to ``split(lower(trim(text)), '\\s+')``'s non-empty pieces
_JAVA_WS = (9, 10, 11, 12, 13, 32)


def _simhash_kernel(spark, sf_dir):
    """SimHash signatures as an Arrow-batched NumPy kernel — value-
    identical to :func:`q_simhash` (verified bit-exact at every SF and on
    the adversarial edge corpus) and ~2x faster at FULL compute, used by
    the pair generator which always needs the real signature values.

    ``lower(trim(text))`` stays a JVM expression (exact Spark semantics);
    the kernel splits on exactly Java's ``\\s`` six code points, hashes
    every token with the canonical per-step fold (vectorized over tokens,
    stepped over character positions), and reduces the 63 bit votes per
    doc into the same 21 carry-safe packed accumulators. The per-doc
    partials then flow through the SAME groupBy-sum + bit-recovery
    expressions as the canonical plan, so duplicate doc_ids keep merging
    votes identically. (:func:`q_simhash` itself keeps the canonical
    column-expression plan: an opaque kernel defeats the optimizer's
    column pruning, which consumers that don't read the signature —
    count-style aggregations — benefit from.)"""
    from pyspark.sql.types import LongType, StructField, StructType

    d = _docs(spark, sf_dir).filter(
        F.length("text") <= SIMHASH_MAX_CHARS
    )
    narrow = d.where(F.col("text").isNotNull()).select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("_lt")
    )
    id_field = narrow.schema.fields[0]
    out_schema = StructType(
        [id_field, StructField("n", LongType(), False)]
        + [
            StructField(f"a{k}", LongType(), False)
            for k in range(_SH_FIELD)
        ]
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes, lens = _arrow_codes(rb.column(1))
            n_docs = len(lens)
            doc_off = np.concatenate(([0], np.cumsum(lens)))
            ws = np.isin(codes, _JAVA_WS)
            nonws = ~ws
            prev = np.concatenate(([False], nonws[:-1]))
            prev[doc_off[:-1][lens > 0]] = False  # token runs never span docs
            tstart = np.nonzero(nonws & ~prev)[0]
            nxt = np.concatenate((nonws[1:], [False]))
            ends_mask = nonws & ~nxt
            # also cut runs at doc ends
            last_pos = doc_off[1:][lens > 0] - 1
            ends_fix = np.zeros(len(codes) + 1, dtype=bool)
            ends_fix[:-1] = ends_mask
            ends_fix[last_pos] |= nonws[last_pos]
            tend = np.nonzero(ends_fix[:-1])[0]
            # np.searchsorted maps each token to its doc
            tdoc = np.searchsorted(doc_off[1:], tstart, side="right")
            tlen = tend - tstart + 1
            n_tok = len(tstart)
            s = np.zeros((_SH_FIELD, n_docs), dtype=np.int64)
            ndoc = np.zeros(n_docs, dtype=np.int64)
            if n_tok:
                h1 = np.full(n_tok, 7, dtype=np.int64)  # SEED
                mx = int(tlen.max())
                for t in range(mx):
                    act = tlen > t
                    if not act.any():
                        break
                    h1[act] = (
                        h1[act] * 31 + codes[tstart[act] + t]
                    ) % MOD
                h2 = (h1 * h1 + 11) % MOD
                h3 = (h2 * h1 + 17) % MOD
                np.add.at(ndoc, tdoc, 1)
                for k in range(_SH_FIELD):
                    a = (
                        ((h1 >> k) & 1)
                        + (((h2 >> k) & 1) << _SH_W)
                        + (((h3 >> k) & 1) << (2 * _SH_W))
                    )
                    np.add.at(s[k], tdoc, a)
            keep = ndoc > 0  # no-token docs are absent (explode semantics)
            ind = pa.array(np.nonzero(keep)[0])
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(ind), pa.array(ndoc[keep])]
                + [pa.array(s[k][keep]) for k in range(_SH_FIELD)],
                schema=pa.schema(
                    [rb.schema.field(0), pa.field("n", pa.int64(), False)]
                    + [
                        pa.field(f"a{k}", pa.int64(), False)
                        for k in range(_SH_FIELD)
                    ]
                ),
            )

    packed = narrow.mapInArrow(gen, out_schema)
    agg = packed.groupBy("doc_id").agg(
        F.sum("n").alias("n"),
        *[F.sum(f"a{k}").alias(f"s{k}") for k in range(_SH_FIELD)],
    )
    bits = []
    for b in range(SIMHASH_BITS):
        k, g = b % _SH_FIELD, b // _SH_FIELD
        bits.append(
            f"(CASE WHEN 2 * ((s{k} >> {g * _SH_W}) & {(1 << _SH_W) - 1}) > n "
            f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        )
    sim = " + ".join(bits)
    return agg.select(
        "doc_id", F.expr(f"CAST({sim} AS BIGINT)").alias("simhash")
    ).orderBy("doc_id")


def q_simhash(spark, sf_dir):
    """SimHash (63-bit): token-hash bit votes summed per doc, sign -> bit.

    One explode + ONE narrow groupBy: per token the 63 bits are packed as
    bit-counts into 21 carry-safe BIGINT accumulators (3 x 21-bit fields
    each, counts bounded by SIMHASH_MAX_CHARS), so the aggregate is 21
    sums + a count — wide enough for 63
    independent votes, narrow enough to stay inside whole-stage codegen
    (63 separate sum() aggregates measured ~6x slower). Per-bit vote sign
    is recovered per doc as ``2*count_b > n_tokens``.

    This canonical column-expression plan is kept deliberately: consumers
    that never read the signature (count-style aggregations) let the
    optimizer prune the hash work entirely, which the Arrow kernel
    (:func:`_simhash_kernel`, used by the pair generator that always
    needs the values) cannot offer — an opaque kernel computes
    everything."""
    d = _docs(spark, sf_dir).filter(
        F.length("text") <= SIMHASH_MAX_CHARS
    )
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t"),
    ).filter(F.length("t") > 0)
    h = tok.select("doc_id", F.expr(spark_poly_hash("t")).alias("h")).select(
        "doc_id",
        F.col("h").alias("h1"),
        F.expr(f"(h * h + 11) % {MOD}").alias("h2"),
    )
    h = h.select(
        "doc_id", "h1", "h2", F.expr(f"(h2 * h1 + 17) % {MOD}").alias("h3")
    )
    accs = []
    for k in range(_SH_FIELD):
        fields = " + ".join(
            f"(((h{g + 1} >> {k}) & 1) << {g * _SH_W})" for g in range(3)
        )
        accs.append(F.expr(f"CAST({fields} AS BIGINT)").alias(f"a{k}"))
    packed = h.select("doc_id", *accs)
    agg = packed.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(f"a{k}").alias(f"s{k}") for k in range(_SH_FIELD)],
    )
    bits = []
    for b in range(SIMHASH_BITS):
        k, g = b % _SH_FIELD, b // _SH_FIELD
        bits.append(
            f"(CASE WHEN 2 * ((s{k} >> {g * _SH_W}) & {(1 << _SH_W) - 1}) > n "
            f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        )
    sim = " + ".join(bits)
    return agg.select(
        "doc_id", F.expr(f"CAST({sim} AS BIGINT)").alias("simhash")
    ).orderBy("doc_id")


def sql_simhash() -> str:
    votes = ", ".join(
        f"sum(((h{b // _SH_FIELD + 1} >> {b % _SH_FIELD}) & 1) * 2 - 1) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
  FROM documents WHERE length(text) <= {SIMHASH_MAX_CHARS}),
toknz AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
hs0 AS (SELECT doc_id, {duck_poly_hash('t')} AS h FROM toknz),
hs1 AS (SELECT doc_id, h AS h1, (h * h + 11) % {MOD} AS h2 FROM hs0),
hs AS (SELECT doc_id, h1, h2, (h2 * h1 + 17) % {MOD} AS h3 FROM hs1),
v AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM v ORDER BY doc_id
"""


# ---------------------------------------------------------- n-gram jaccard
JACCARD_THRESHOLD = 0.2
#: stop-shingle cap: shingles appearing in more than
#: max(MAX_SHINGLE_DF, REL_SHINGLE_DF * |source|) docs of a source are
#: dropped BEFORE the pair join (each shingle shared by k docs yields k^2/2
#: pair rows, so stop-shingles dominate cost while carrying no dedup
#: signal); set sizes use the same filtered sets so Jaccard stays a true
#: ratio. The cap is RELATIVE to the source's doc count: a fixed cap
#: silently redefines "rare" as the corpus grows (measured at 10x sf0.1 it
#: shrank shingle sets enough to inflate pairs 7.5x over linear); the
#: relative form keeps the operator's semantics scale-invariant while the
#: absolute floor keeps small corpora exact.
MAX_SHINGLE_DF = 64
REL_SHINGLE_DF = 0.01
#: broadcast budget (rows) for the sub-cap (source, shingle) key set in the
#: stop-shingle filter join — ~16 B/row payload, so 4M rows is tens of MB
#: framed; above it the filter falls back to a shuffle join
RARE_BROADCAST_MAX_ROWS = 4_000_000


def _trigram_hash_rows(docs):
    """(doc_id, source, text) -> exploded (doc_id, source, sh) rows: the
    canonical poly hash of every DISTINCT 3-gram shingle of each doc, as an
    Arrow-batched NumPy kernel. Value-identical to
    ``explode(array_distinct(spark_shingles(text, 3)))`` followed by
    ``spark_poly_hash`` (verified bit-exact incl. multibyte/astral text):
    trigrams are packed injectively into int64 (21 bits per code point + 1,
    zero tail-padded), deduped per doc with one lexsort, and hashed with
    three masked vector steps. Row order within a doc differs from the
    canonical positional order — downstream consumers are joins/groupBys
    (set semantics). NULL-text docs yield no rows (explode semantics)."""
    from pyspark.sql.types import LongType, StructField, StructType

    narrow = docs.where(F.col("text").isNotNull())
    in_fields = narrow.schema.fields
    out_schema = StructType(
        [in_fields[0], in_fields[1], StructField("sh", LongType(), False)]
    )

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        M21 = (1 << 21) - 1
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes, lens = _arrow_codes(rb.column(2))
            n_docs = len(lens)
            starts = np.concatenate(([0], np.cumsum(lens)))
            idx, npos, _seg = _shingle_pos_index(lens, 3)
            pack = (
                ((codes[idx] + 1) << 42)
                + ((codes[idx + 1] + 1) << 21)
                + (codes[idx + 2] + 1)
            )
            doc_rep = np.repeat(
                np.arange(n_docs, dtype=np.int64), npos
            )
            order = np.lexsort((pack, doc_rep))
            dr, pk = doc_rep[order], pack[order]
            if dr.size:
                keep = np.empty(dr.shape, dtype=bool)
                keep[0] = True
                keep[1:] = (dr[1:] != dr[:-1]) | (pk[1:] != pk[:-1])
                dr, pk = dr[keep], pk[keep]
            # short docs (len < 3): one whole-string shingle each
            short = np.nonzero(lens < 3)[0]
            if short.size:
                spk = np.zeros(short.size, dtype=np.int64)
                for j, ds in enumerate(short):
                    cs = codes[starts[ds] : starts[ds + 1]]
                    p = 0
                    if len(cs) >= 1:
                        p += (int(cs[0]) + 1) << 42
                    if len(cs) >= 2:
                        p += (int(cs[1]) + 1) << 21
                    spk[j] = p
                dr = np.concatenate((dr, short))
                pk = np.concatenate((pk, spk))
            f1 = (pk >> 42) & M21
            f2 = (pk >> 21) & M21
            f3 = pk & M21
            h = (7 * 31 + f1 - 1) % MOD
            h = np.where(f2 > 0, (h * 31 + f2 - 1) % MOD, h)
            h = np.where(f3 > 0, (h * 31 + f3 - 1) % MOD, h)
            h = np.where(pk == 0, 7, h)
            ind = pa.array(dr)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).take(ind),
                    rb.column(1).take(ind),
                    pa.array(h),
                ],
                schema=pa.schema(
                    [
                        rb.schema.field(0),
                        rb.schema.field(1),
                        pa.field("sh", pa.int64(), False),
                    ]
                ),
            )

    return narrow.mapInArrow(gen, out_schema)


def q_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs, blocked by source (never all-pairs):
    explode distinct shingles, drop stop-shingles (doc-frequency cap),
    self-join on (source, shingle-hash) to count the intersection, join
    per-doc set sizes, filter by threshold. The join key is the 8-byte
    portable hash of the shingle — less shuffle width, identical result in
    both engines (same hash)."""
    d = _docs(spark, sf_dir)
    # value-identical fused shingling, Arrow-batched (guide §4.2; the
    # canonical per-shingle string explode + higher-order poly hash is
    # interpreted, not codegen'd): every distinct 3-gram is packed
    # INJECTIVELY into one int64 ((code+1) per char, 21 bits each), so
    # deduping packed values IS the canonical distinct over shingle
    # strings, and the canonical poly hash is recovered from the packed
    # code points by three vectorized arithmetic steps. The exploded
    # (doc_id, source, sh) frame is then localCheckpointed: it is consumed
    # by three downstream plans (stop-shingle DF count, per-doc set sizes,
    # both sides of the intersection self-join), each of which would
    # otherwise re-shingle the corpus.
    sh = _trigram_hash_rows(
        d.select("doc_id", "source", "text")
    ).localCheckpoint()
    src_n = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    cap = F.greatest(
        F.lit(MAX_SHINGLE_DF),
        F.ceil(F.lit(REL_SHINGLE_DF) * F.col("n_docs")),
    )
    rare = (
        sh.groupBy("source", "sh")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(src_n), "source")  # O(sources) rows
        .filter(F.col("df") <= cap)
        .select("source", "sh", "df")
    ).persist()
    # rare is the DISTINCT sub-cap (source, shingle) set — orders of
    # magnitude smaller than the exploded frame. When it fits the
    # broadcast budget (the common case: distinct trigrams are bounded by
    # the charset, not the corpus), broadcast-joining it keeps the big
    # exploded side out of the exchange entirely (guide §3.1/§3.2 —
    # measured 5.8s -> 1.0s at sf1.0); a guarded count picks it, falling
    # back to the shuffle join when the distinct set is genuinely huge.
    n_rare = rare.count()
    rare_side = (
        F.broadcast(rare.select("source", "sh"))
        if n_rare <= RARE_BROADCAST_MAX_ROWS
        else rare.select("source", "sh")
    )
    # exact candidate-pair volume = sum over sub-cap shingles of
    # C(df, 2) — known BEFORE the pair join from the already-computed DF
    # aggregate. It sizes the pair-count exchange adaptively (guide §2:
    # derive partitioning from data size, never a constant)
    pair_volume = int(
        rare.select(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).cast("long")
        ).first()[0]
        or 0
    )
    # the filtered frame is consumed twice (sizes + pair join); checkpoint
    # it too so the rare-join runs once
    sh = sh.join(rare_side, ["source", "sh"]).localCheckpoint()
    rare.unpersist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    shz = sh.join(sizes, "doc_id")
    a = shz.select(
        "source", "sh",
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"),
    ).alias("a")
    b = shz.select(
        "source", "sh",
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"),
    ).alias("b")
    # length bound (the classic set-similarity-join filter), provably
    # below-threshold pairs dropped AT the join: jaccard <= min/(S - min)
    # where S = sza + szb, and round(j, 4) >= T needs j >= T - 0.00005,
    # so any pair with S > min * (1 + 1/(T - 0.00005)) (+ float margin)
    # cannot appear in the output no matter its intersection. Costs one
    # comparison per candidate row; on size-skewed corpora it prunes the
    # small-vs-huge candidate mass before the exchange.
    s_bound = 1.0 + 1.0 / (JACCARD_THRESHOLD - 0.00005) + 0.0003
    len_ok = (F.col("sza") + F.col("szb")) <= F.least(
        "sza", "szb"
    ) * F.lit(s_bound)
    raw_pairs = a.join(b, ["source", "sh"]).filter(
        (F.col("doc_a") < F.col("doc_b")) & len_ok
    ).select("doc_a", "doc_b")
    # Intersection counting: the candidate multiset has ~as many DISTINCT
    # pairs as rows (shared-shingle multiplicity is low for sub-cap
    # shingles), so the default partial+final hash aggregate degenerates:
    # partials reduce nothing while building |rows|-sized maps, and the
    # 32-partition final agg holds millions of entries per task (measured
    # 31s of a 40s query at 50k realistic docs — 177M candidate rows /
    # 122M distinct pairs). Repartitioning by the pair key FIRST, with a
    # width derived from the exact candidate volume (never a constant —
    # guide §2), bounds every aggregation map to ~1.5M entries.
    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        min(20000, pair_volume // 1_500_000 + 1),
    )
    counted = (
        raw_pairs.repartition(n_parts, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = (
        counted.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )
    return jac


def sql_ngram_jaccard_pairs() -> str:
    return f"""
WITH sh0 AS (
  SELECT doc_id, source, unnest({duck_shingles('text')}) AS sh0 FROM documents),
shall AS (SELECT doc_id, source, {duck_poly_hash('sh0')} AS sh FROM sh0),
srcn AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
rare AS (SELECT shall.source, sh
         FROM shall JOIN srcn USING (source)
         GROUP BY shall.source, sh
         HAVING count(*) <= greatest({MAX_SHINGLE_DF},
                CAST(ceil({REL_SHINGLE_DF} * max(n_docs)) AS BIGINT))),
sh AS (SELECT shall.* FROM shall JOIN rare USING (source, sh)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.source = b.source AND a.sh = b.sh
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------- simhash pairs
#: max Hamming distance for a SimHash near-dup pair. Candidates are blocked
#: by band equality over the 4 (16/16/16/15-bit) bands of the 63-bit
#: signature: any pair with <= 3 flips leaves at least one of the 4 bands
#: untouched (pigeonhole), so recall at this threshold is EXACT — and the
#: band value space (~65k per band) keeps buckets sparse as the corpus
#: grows, unlike the round-2 8-bit bands that the MAX_BAND_DOCS cap zeroed
#: out past ~0.5M docs.
SIMHASH_MAX_HAMMING = 3


def _simhash_band_ranges() -> list[tuple[int, int]]:
    """[(shift, mask_width_bits)] for the 4 bands over 63 bits."""
    out = []
    for i in range(SIMHASH_BANDS):
        shift = i * SIMHASH_BAND_BITS
        width = min(SIMHASH_BAND_BITS, SIMHASH_BITS - shift)
        out.append((shift, width))
    return out


def q_simhash_neardup_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 16-bit-band blocked candidate join + exact
    Hamming confirm (bit_count(xor)). Shuffle is by band value — scales
    with band collisions, never all-pairs. Signatures come from the
    Arrow kernel (full-compute path; value-identical to q_simhash) and
    are localCheckpointed: the banded frame feeds the occupancy guard
    plus both sides of the pair join, so the corpus is tokenized/hashed
    exactly once per invocation."""
    sig = _simhash_kernel(spark, sf_dir).localCheckpoint()
    parts = []
    for band, (shift, width) in enumerate(_simhash_band_ranges()):
        bval = F.shiftright("simhash", shift).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        parts.append(
            sig.select(
                "doc_id", "simhash", F.lit(band).alias("band"),
                bval.alias("bval"),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    # degenerate-bucket guard, same as MinHash LSH: a band value that
    # common carries no near-dup signal (boilerplate/empty docs) while
    # contributing k^2/2 join rows — dropped, mirrored in the oracle
    ok = (
        banded.groupBy("band", "bval")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= MAX_BAND_DOCS)
        .select("band", "bval")
    )
    banded = banded.join(ok, ["band", "bval"])
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def sql_simhash_neardup_pairs() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {band} AS band, "
        f"(simhash >> {shift}) & {(1 << width) - 1} AS bval FROM sig"
        for band, (shift, width) in enumerate(_simhash_band_ranges())
    )
    return f"""
WITH sig AS ({sql_simhash().strip()}),
banded0 AS ({band_selects}),
ok AS (SELECT band, bval FROM banded0 GROUP BY band, bval
       HAVING count(*) <= {MAX_BAND_DOCS}),
banded AS (SELECT banded0.* FROM banded0 JOIN ok USING (band, bval))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# -------------------------------------------------- benchmark decontamination
#: the held-out eval set: the first N_EVAL_DOCS doc_ids (a deterministic
#: stand-in for a real benchmark suite — in production this is a separate
#: tiny table). Corpus docs whose distinct-shingle overlap with any single
#: eval doc reaches DECON_OVERLAP are flagged as contaminated.
N_EVAL_DOCS = 25
DECON_OVERLAP = 0.5
DECON_SHINGLE_N = 5


def decontaminate_pairs(eval_docs, corpus_docs):
    """Flag (corpus doc_id, eval_doc, overlap) pairs where overlap =
    |corpus ∩ eval shingles| / |corpus shingles| >= DECON_OVERLAP.

    ``eval_docs`` / ``corpus_docs`` carry (doc_id, text). The 100 TB
    shape: the eval shingle set is tiny by definition — BROADCAST it, so
    the corpus side is one map-side equi-join on the 8-byte shingle hash
    plus one partial-aggregated groupBy; nothing corpus-sized ever shuffles
    except the (small) matched intersection. Taking the corpus as a
    DataFrame lets a pipeline shingle only its SURVIVORS instead of the
    whole table."""
    def _sh(docs):
        return docs.select(
            "doc_id",
            F.explode(
                F.expr(spark_shingles("text", DECON_SHINGLE_N))
            ).alias("s"),
        ).select("doc_id", F.expr(spark_poly_hash("s")).alias("h"))

    ev = (
        _sh(eval_docs)
        .select(F.col("doc_id").alias("eval_doc"), "h")
        .distinct()
    )
    # the corpus shingle stream feeds two consumers (per-doc set sizes +
    # the intersection join); checkpoint so the corpus is shingled once
    corp = _sh(corpus_docs).localCheckpoint()
    sizes = corp.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        corp.join(F.broadcast(ev), "h")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes, "doc_id")
        .select(
            "doc_id",
            "eval_doc",
            F.round(F.col("i") / F.col("sz"), 4).alias("overlap"),
        )
        .filter(F.col("overlap") >= DECON_OVERLAP)
    )


def q_decontaminate(spark, sf_dir):
    """The oracled instance over the documents table: eval holdout =
    doc_id < N_EVAL_DOCS, corpus = the rest."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return decontaminate_pairs(
        d.filter(F.col("doc_id") < N_EVAL_DOCS),
        d.filter(F.col("doc_id") >= N_EVAL_DOCS),
    ).orderBy("doc_id", "eval_doc")


def sql_decontaminate() -> str:
    return f"""
WITH sh0 AS (
  SELECT doc_id, unnest({duck_shingles('text', DECON_SHINGLE_N)}) AS s
  FROM documents),
sh AS (SELECT doc_id, {duck_poly_hash('s')} AS h FROM sh0),
ev AS (SELECT DISTINCT doc_id AS eval_doc, h FROM sh WHERE doc_id < {N_EVAL_DOCS}),
corp AS (SELECT * FROM sh WHERE doc_id >= {N_EVAL_DOCS}),
sizes AS (SELECT doc_id, count(*) AS sz FROM corp GROUP BY doc_id),
inter AS (SELECT c.doc_id, e.eval_doc, count(*) AS i
          FROM corp c JOIN ev e USING (h) GROUP BY 1, 2)
SELECT doc_id, eval_doc, round(i * 1.0 / sz, 4) AS overlap
FROM inter JOIN sizes USING (doc_id)
WHERE round(i * 1.0 / sz, 4) >= {DECON_OVERLAP}
ORDER BY doc_id, eval_doc
"""


def registry() -> dict:
    return {
        "exact_dedup": (q_exact_dedup, SQL_EXACT),
        "decontaminate": (q_decontaminate, sql_decontaminate()),
        "minhash_signature": (q_minhash_signature, sql_minhash_signature()),
        "minhash_lsh_pairs": (q_minhash_lsh_pairs, sql_minhash_lsh_pairs()),
        "minhash_jaccard_pairs": (
            q_minhash_jaccard_pairs,
            sql_minhash_jaccard_pairs(),
        ),
        "simhash": (q_simhash, sql_simhash()),
        "simhash_neardup_pairs": (
            q_simhash_neardup_pairs,
            sql_simhash_neardup_pairs(),
        ),
        "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, sql_ngram_jaccard_pairs()),
    }
