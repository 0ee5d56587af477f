"""Incremental embedding near-dup index — the vector-modality subclass of
:class:`~cdc_spark.functions.dedupe_index.PostingsIndex`: sign-projection
LSH postings persisted as merge-on-read lakes, so each batch of
new/changed vectors probes a file-pruned point-set lookup instead of
re-bucketing the whole corpus. The update/replay/tombstone/candidate
pipeline is the shared core's; this module supplies the modality:

- ``vectors``  key ``doc_id`` -> embedding. The doc-major lake stores the
  vector itself: it regenerates its band keys exactly (the superseded
  postings of a replaced or deleted vector), and the candidate stage needs
  it anyway for exact-cosine confirmation.
- signing: ``EMB_BANDS`` × ``bits`` literal ±1 dot products, pure codegen
  — no Python; ``bkey`` is the bucket zero-padded to fixed width so the
  postings lake's lexicographic footer intervals prune numerically.
- confirm: candidates are kept iff their exact cosine, read from the
  post-merge vectors lake, reaches ``NEARDUP_COSINE``.

Equivalence contract (oracled as ``emb_incremental``): for insert-only
batches whose buckets stay under ``MAX_BUCKET_DOCS``, the union of
per-batch confirmed pairs equals the one-shot
``embedding_neardup_pairs`` on the final corpus (identical banding, cap,
cosine threshold, and rounding).

The index is driven by any (doc_id, embedding) change feed. It is NOT
wired into the CDC apply path: the replication stream carries no vector
column — the in-stream near-dup screening composition is the text-side
MinHash index's job; this index serves the embedding half of the corpus
pipeline (e.g. nightly encoder output diffs).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedupe_index import PRUNE_MAX_KEYS, PostingsIndex
from .similarity import (
    EMB_BANDS,
    EMB_BAND_BITS,
    EMB_DIM,
    MAX_BUCKET_DOCS,
    NEARDUP_COSINE,
    _band_bucket_expr,
    _cos,
    emb_autosize_bits,
)

VEC_FIELDS = [("doc_id", "long"), ("embedding", "array<double>")]
VEC_KEY = ("doc_id",)

#: bkey zero-pad width: buckets are < 2^24 (bits clamped to 24), so 8
#: digits keep lexicographic order == numeric order for file pruning
_BKEY_W = 8


def emb_bands(
    vecs: DataFrame, dim: int, n_bands: int, bits: int
) -> DataFrame:
    """(doc_id, band, bkey) sign-bucket rows for a (doc_id, embedding)
    frame — the same literal ±1 hyperplane family as the one-shot
    operator (`similarity._band_bucket_expr`), bucket rendered as a
    fixed-width string key."""
    parts = [
        vecs.select(
            "doc_id",
            F.lit(band).cast("int").alias("band"),
            F.lpad(
                _band_bucket_expr(dim, band, bits).cast("string"),
                _BKEY_W,
                "0",
            ).alias("bkey"),
        )
        for band in range(n_bands)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class EmbIndex(PostingsIndex):
    """Persistent sign-bucket LSH index over an embedding corpus.

    Banding parameters are fixed at CREATION (persisted in
    ``emb_meta.json``) — signatures must stay comparable across batches,
    so resizing is a rebuild. With ``bits`` unset, creation applies the
    corpus rule (:func:`~cdc_spark.functions.similarity.emb_autosize_bits`)
    to ``corpus_hint``; without a hint the fixture width applies.

    ``update`` takes (doc_id, embedding[, _deleted][, _lsn]) and returns
    confirmed near-dup pairs ``(doc_a, doc_b, cosine)``.
    """

    OCC_CAP = MAX_BUCKET_DOCS
    DOC_STATS_KEY = "vector_lookup"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bits: int | None = None,
        n_bands: int = EMB_BANDS,
        dim: int = EMB_DIM,
        n_buckets: int = 8,
        corpus_hint: int | None = None,
    ):
        self._meta_path = os.path.join(root, "emb_meta.json")
        # parameters first (meta file is the source of truth once written:
        # a crash at ANY later point reopens with the same banding)
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as fh:
                stored = json.load(fh)
            self.bits = stored["bits"]
            self.n_bands = stored["n_bands"]
            self.dim = stored["dim"]
        else:
            if bits is None:
                bits = (
                    emb_autosize_bits(corpus_hint)
                    if corpus_hint
                    else EMB_BAND_BITS
                )
                rule = "autosize" if corpus_hint else "fixture"
            else:
                rule = "explicit"
            if not 1 <= bits <= 24:
                # the lexicographic bkey pad is 8 digits (= the 2^24 rule
                # clamp); wider buckets would silently truncate-collide
                raise ValueError(f"bits={bits} out of range [1, 24]")
            self.bits, self.n_bands, self.dim = bits, n_bands, dim
            os.makedirs(root, exist_ok=True)
            with open(self._meta_path, "w") as fh:
                json.dump(
                    {
                        "bits": bits,
                        "n_bands": n_bands,
                        "dim": dim,
                        "rule": rule,
                        "corpus_hint": corpus_hint,
                    },
                    fh,
                )
        super().__init__(
            spark, root, "vectors", VEC_FIELDS, VEC_KEY, "emb", n_buckets
        )
        self.vecs = self.lake  # the doc-major lake is the vector store

    def vectors(self) -> DataFrame:
        """The live corpus, doc-major: (doc_id, embedding)."""
        return self.lake.read()

    def _sign(self, vecs: DataFrame) -> DataFrame:
        return emb_bands(
            vecs.select(
                "doc_id", F.col("embedding").cast("array<double>").alias(
                    "embedding"
                )
            ),
            self.dim,
            self.n_bands,
            self.bits,
        )

    def _doc_rows(self, live: DataFrame, new_bands: DataFrame) -> DataFrame:
        return live.select(
            "doc_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )

    def _doc_tombstones(self, dead: DataFrame) -> DataFrame:
        return dead.select(
            "doc_id", F.lit(None).cast("array<double>").alias("embedding")
        )

    def _old_bands(self, old_live: DataFrame) -> DataFrame:
        # a stored vector re-signs to exactly its stored postings
        return self._sign(old_live).localCheckpoint(eager=False)

    def _confirm(self, cand: DataFrame) -> DataFrame:
        """Exact-cosine confirmation against the post-merge vectors lake,
        candidate-id-pruned (both sides come from the lake: the batch's
        own vectors are live in it after the commit)."""
        cand = cand.localCheckpoint(eager=False)
        crows = cand.head(PRUNE_MAX_KEYS + 1)
        if len(crows) <= PRUNE_MAX_KEYS:
            cids = sorted(
                {r["doc_a"] for r in crows} | {r["doc_b"] for r in crows}
            )
        else:
            cids = None
        cvecs = self.lake.resolve_live(
            self.lake.scan_for_keys(cids)
        ).select("doc_id", "embedding")
        self.last_update_stats["cosine_lookup"] = dict(
            self.lake.last_scan_stats
        )
        va = cvecs.select(
            F.col("doc_id").alias("doc_a"), F.col("embedding").alias("_va")
        )
        vb = cvecs.select(
            F.col("doc_id").alias("doc_b"), F.col("embedding").alias("_vb")
        )
        return (
            cand.join(va, ["doc_a"])
            .join(vb, ["doc_b"])
            .select(
                "doc_a",
                "doc_b",
                F.round(_cos(F.col("_va"), F.col("_vb")), 4).alias(
                    "cosine"
                ),
            )
            .filter(F.col("cosine") >= NEARDUP_COSINE)
            .distinct()
        )


def q_emb_incremental(spark, sf_dir):
    """Oracled equivalence instance: the embeddings table arrives as 3
    deterministic insert-only batches (vec_id % 3) into a fresh index; the
    union of per-batch confirmed pairs must equal the one-shot
    ``embedding_neardup_pairs`` (same oracle SQL; banding pinned to the
    fixture width, where the driver corpus sits under the occupancy cap
    and the equivalence is exact)."""
    import shutil
    import tempfile

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    root = tempfile.mkdtemp(prefix="cdc_emb_index_")
    try:
        idx = EmbIndex(spark, root, bits=EMB_BAND_BITS)
        out = None
        for i in range(3):
            pairs = idx.update(
                e.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i),
                lsn=i + 1,
                batch_id=i,
            )
            out = pairs if out is None else out.unionByName(pairs)
        return (
            out.distinct()
            .select(
                F.col("doc_a").alias("vec_a"),
                F.col("doc_b").alias("vec_b"),
                "cosine",
            )
            .orderBy("vec_a", "vec_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def registry() -> dict:
    from .similarity import sql_embedding_neardup_pairs

    return {
        "emb_incremental": (
            q_emb_incremental,
            sql_embedding_neardup_pairs(EMB_DIM),
        ),
    }
