"""Incremental LSH near-dup indexes — one shared core, two modalities.

:class:`PostingsIndex` is the core: band fingerprints persisted as two
merge-on-read :class:`~cdc_spark.lake.LakeTable` s, so each ingest batch
signs ONLY its new/changed documents and candidate pairs come from a
file-pruned point-set lookup against the stored index. Nobody re-signs
the whole corpus per batch, and nobody re-SCANS or re-WRITES the whole
index per batch either. The two lakes:

- the doc-major lake (``self.lake``), keyed by doc: the source of truth
  for LWW replacement on update, tombstoned deletes, and the rebuild
  anchor. What it stores is the subclass's choice.
- ``postings`` key ``(bkey, band, doc_id)``. The band-major secondary
  index: keyed so the candidate lookup's probe column (bkey) is the
  leading key, making footer-range file pruning effective. Its deltas are
  derived from the batch plus a doc-id-pruned point lookup on the
  doc-major lake (old fingerprints to tombstone), never from an index scan.

Like every LakeTable, both lakes are merge-on-read: commits append
O(batch) range-sharded deltas (their keys are uniform hashes, so a
rewrite-on-merge layout would rewrite the whole index every batch); reads
LWW-resolve; normal lake maintenance compacts. Per-batch cost is therefore
O(batch + files touched by the batch's keys) in reads, writes, AND
shuffles — never O(index).

The subclasses supply only the modality:

- :class:`MinHashIndex` (text): the doc-major ``bands`` lake stores the
  band fingerprints themselves, keyed ``(doc_id, band)`` — the old text is
  gone once a batch passes, so its old bands must be stored.
- :class:`~cdc_spark.functions.emb_index.EmbIndex` (vectors): the
  doc-major ``vectors`` lake stores the embedding, keyed ``doc_id`` — a
  vector re-signs exactly, and the cosine confirm step needs it anyway.

Equivalence contract (oracled as ``minhash_incremental`` and
``emb_incremental``): for insert-only batches whose buckets stay under the
index's occupancy cap, the UNION of per-batch candidate pairs equals the
one-shot full-recompute pairs on the final corpus — every pair's later doc
finds the earlier doc's postings already in the index. Above the cap the
two diverge by construction (the incremental run emitted pairs while the
bucket was still small; the full recompute drops the bucket wholesale) —
the cap is a degenerate-bucket guard, and an already-emitted candidate is
not retractable from a streaming pipeline.

Updates and deletes: each batch is LWW-collapsed to one row per doc
(:func:`collapse_batch`); a changed document's new bands REPLACE its old
ones (the matching old postings are tombstoned), and a deleted document
tombstones its doc-major rows and all its postings, so neither stale
fingerprints nor dead docs generate future pairs. Rows and tombstones stamp
with each row's own ``_lsn``, so a stale redelivery loses the LWW resolve
in both lakes. A corpus TRUNCATE — the one change no per-row batch can
express — has the :meth:`PostingsIndex.rebuild` path: one merge per lake
carrying the new corpus' rows plus a truncate watermark that kills every
older index row in O(1).

Exactly-once pairs: :meth:`PostingsIndex.update` is deterministic given
the post-merge index — it recomputes and RETURNS the batch's pairs on
replays too (both lake commits are idempotent per batch_id), so a caller
that persists pairs behind an idempotent commit (the apply path's
``_neardups`` LakeTable) gets exactly-once with no crash window between
the index commit and the pairs write.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..lake import LakeTable
from .dedupe import (
    BANDS,
    K_MINHASH,
    MAX_BAND_DOCS,
    minhash_autosize,
    minhash_bands,
)

#: doc-major lake: one row per (doc, band) carrying the band fingerprint
INDEX_FIELDS = [("doc_id", "long"), ("band", "int"), ("bkey", "string")]
INDEX_KEY = ("doc_id", "band")
#: band-major postings lake: the same rows keyed for bkey-range pruning
POSTING_FIELDS = [("bkey", "string"), ("band", "int"), ("doc_id", "long")]
POSTING_KEY = ("bkey", "band", "doc_id")

#: driver-side probe-set budget for point-set file pruning: batches whose
#: (doc, band) row count exceeds this skip the driver collect and fall back
#: to unpruned scans + shuffle joins (a bootstrap-sized batch approaches a
#: full recompute anyway, so pruning would buy nothing)
PRUNE_MAX_KEYS = 200_000


def collapse_batch(batch: DataFrame, default_lsn: int) -> DataFrame:
    """LWW-collapse a change batch to ONE row per doc_id BEFORE indexing:
    the max-``_lsn`` version wins, and at an exact LSN tie a tombstone
    beats a live row (deterministic). Without the collapse, a batch that
    folds a delete + re-insert of one doc stamps BOTH versions' index
    rows, leaving the read-side LWW to tie-break a live row against a
    tombstone at the same LSN — and the two lakes can resolve that tie
    differently. Two DISTINCT live payloads at one (doc_id, _lsn) are a
    caller contract violation (max_by picks one arbitrarily); identical
    redeliveries collapse safely. Shared by both indexes and PqIndex."""
    cols = batch.columns
    lsn_col = (
        F.coalesce(F.col("_lsn").cast("long"),
                   F.lit(default_lsn).cast("long"))
        if "_lsn" in cols
        else F.lit(default_lsn).cast("long")
    )
    del_col = (
        F.coalesce(F.col("_deleted"), F.lit(False))
        if "_deleted" in cols
        else F.lit(False)
    )
    s = batch.select(
        "doc_id",
        F.struct(*[F.col(c) for c in cols]).alias("_row"),
        lsn_col.alias("_l"),
        del_col.alias("_d"),
    )
    out = s.groupBy("doc_id").agg(
        F.expr("max_by(_row, struct(_l, _d))").alias("_row")
    )
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in cols])


def lsn_map(batch: DataFrame, lsn: int) -> DataFrame:
    """(doc_id, _row_lsn) of a collapsed batch: each row's own ``_lsn``,
    or the batch ``lsn`` where the row (or the frame) carries none."""
    row_lsn = F.lit(lsn).cast("long")
    if "_lsn" in batch.columns:
        row_lsn = F.coalesce(F.col("_lsn").cast("long"), row_lsn)
    return batch.select("doc_id", row_lsn.alias("_row_lsn"))


def stamp_rows(df: DataFrame, lsn_map: DataFrame, deleted: bool = False,
               broadcast: bool = False) -> DataFrame:
    """Attach the lake bookkeeping columns (per-row ``_lsn`` from the
    batch's lsn_map, ``_deleted``, empty ``_extra``) — the one stamping
    implementation shared by the incremental indexes."""
    right = F.broadcast(lsn_map) if broadcast else lsn_map
    j = df.join(right, ["doc_id"])
    return j.select(
        *[c for c in df.columns],
        F.col("_row_lsn").alias("_lsn"),
        F.lit(deleted).alias("_deleted"),
        F.lit(None).cast("map<string,string>").alias("_extra"),
    )


class PostingsIndex:
    """The shared incremental-index pipeline: the doc-major lake
    (``self.lake``), the band-major ``postings`` lake (``self.post``), and
    one :meth:`update` / :meth:`rebuild` path over both.

    A subclass supplies the modality: :meth:`_sign` (live docs -> (doc_id,
    band, bkey) rows), :meth:`_doc_rows` / :meth:`_doc_tombstones` (its
    doc-major delta), :meth:`_old_bands` (stored doc-major rows -> their
    bands), optionally :meth:`_confirm` (a filter over the candidate
    pairs), plus the two class attributes below.
    """

    #: a (band, bkey) bucket with more live postings than this emits no
    #: pairs (the one-shot operator's degenerate-bucket cap)
    OCC_CAP: int
    #: ``last_update_stats`` key of the doc-major point lookup's scan stats
    DOC_STATS_KEY: str

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        doc_lake: str,
        doc_fields: list,
        doc_key: tuple,
        table_prefix: str,
        n_buckets: int,
    ):
        # each lake guarded on its own: a crash between the two creates
        # must not brick the root
        self.spark = spark
        self.root = root
        self.lake = LakeTable.open_or_create(
            spark,
            os.path.join(root, doc_lake),
            fields=list(doc_fields),
            key=doc_key,
            n_buckets=n_buckets,
            table=f"{table_prefix}_{doc_lake}",
        )
        self.post = LakeTable.open_or_create(
            spark,
            os.path.join(root, "postings"),
            fields=list(POSTING_FIELDS),
            key=POSTING_KEY,
            n_buckets=n_buckets,
            table=f"{table_prefix}_postings",
        )
        self.last_update_stats: dict = {}

    def _confirm(self, cand: DataFrame) -> DataFrame:
        return cand

    def maintenance_lakes(self) -> list[LakeTable]:
        """Every lake this index owns — what periodic maintenance must
        compact and expire (compaction folds the merge-on-read deltas, so
        it is also what keeps per-batch read costs flat)."""
        return [self.lake, self.post]

    def postings(self) -> DataFrame:
        """The live index, band-major: (bkey, band, doc_id)."""
        return self.post.read()

    @staticmethod
    def _version_before(lake: LakeTable, batch_id: int) -> int | None:
        """The retained snapshot version holding the PRE-batch state: None
        (= current) on the normal path; on a crash replay — the lake has
        already committed ``batch_id`` — the newest older version. Replays
        only ever target the immediately-prior batch, so expire_keep >= 2
        guarantees retention."""
        if lake.last_batch["id"] < batch_id:
            return None
        mdir = os.path.join(lake.root, "metadata")
        versions = sorted(
            (
                int(f[1:-5])
                for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".json")
            ),
            reverse=True,
        )
        for v in versions:
            if lake._load_version(v)["last_batch"]["id"] < batch_id:
                return v
        raise RuntimeError(
            f"no retained pre-batch snapshot of {lake.root} for replayed "
            f"batch {batch_id}; keep expire_keep >= 2"
        )

    def update(self, docs: DataFrame, lsn: int, batch_id: int) -> DataFrame:
        """Apply one batch of corpus changes and return its candidate
        pairs.

        ``docs`` carries (doc_id, <payload>[, _deleted][, _lsn]) for the
        NEW / CHANGED / DELETED documents only — every job below is
        O(batch + files containing batch keys), never O(index). Steps:

        1. LWW-collapse the batch to one row per doc, then sign the live
           docs — the only signing pass, over exactly this frame;
        2. point-look-up the batch docs' OLD rows in the doc-major lake
           (doc-id-pruned ``scan_for_keys``; on a replay, at the retained
           pre-batch version) — their bands become postings tombstones
           for replaced/deleted bands;
        3. append-commit the doc-major delta (new rows + tombstones for
           deleted docs), then the band-major delta (new postings +
           old-posting tombstones) — both idempotent per batch_id;
        4. candidate pairs = the batch's bands against the post-merge
           live postings, read via bkey-pruned ``scan_for_keys`` and
           joined broadcast-side — new x old AND new x new in one join —
           with the ``OCC_CAP`` occupancy cap evaluated against the
           touched buckets' CURRENT live occupancy (a map-side-combined
           count over the same pruned read plus a semi-join — never an
           index-wide groupBy, and never a per-bucket window that would
           funnel a degenerate bucket through one task); then the
           subclass's confirm step.

        Returns (doc_a, doc_b[, ...]) with doc_a < doc_b, distinct. The
        result is deterministic given the post-merge index, and both
        commits are idempotent, so REPLAYS return the same pairs instead
        of None — callers persist them behind their own idempotent commit
        and the crash window between index commit and pairs write
        disappears.

        Out-of-order robustness: when ``docs`` carries a per-row ``_lsn``
        (the apply path passes the deduped batch's row LSNs), index rows
        and tombstones are stamped with IT, not the batch watermark — so a
        stale redelivery that wins its own (later) batch still LOSES the
        index's LWW resolve against the newer stored row, exactly as the
        stale row loses the lake's row-level LWW merge. Without the column
        every row stamps at ``lsn`` (insert-only callers).
        """
        return self._apply(docs, lsn, batch_id)

    def _apply(
        self,
        docs: DataFrame,
        lsn: int,
        batch_id: int,
        new_truncate_lsn: int | None = None,
        emit_pairs: bool = True,
    ) -> DataFrame | None:
        docs = collapse_batch(docs, lsn)
        has_del = "_deleted" in docs.columns
        live = docs.filter(~F.col("_deleted")) if has_del else docs
        lsns = lsn_map(docs, lsn)
        # lineage-free snapshot of this batch's fingerprints: consumed by
        # both lake deltas AND the pair join (without it the signing
        # would run once per consumer)
        new_bands = self._sign(live).localCheckpoint(eager=False)

        # driver-side probe sets for file pruning (BOTH collects capped at
        # PRUNE_MAX_KEYS — a bootstrap-sized batch, or a bulk purge, reads
        # the whole index anyway, and an unbounded driver collect is the
        # exact failure the budget exists to prevent)
        probe = new_bands.head(PRUNE_MAX_KEYS + 1)
        pruned = len(probe) <= PRUNE_MAX_KEYS
        dead_ids: list = []
        has_dead = False
        if has_del:
            drows = (
                docs.filter(F.col("_deleted"))
                .select("doc_id")
                .head(PRUNE_MAX_KEYS + 1)
            )
            has_dead = bool(drows)
            if len(drows) > PRUNE_MAX_KEYS:
                pruned = False
            else:
                dead_ids = [r[0] for r in drows]
        doc_ids = (
            sorted({r["doc_id"] for r in probe} | set(dead_ids))
            if pruned
            else None
        )
        bkeys = sorted({r["bkey"] for r in probe}) if pruned else None

        def _j(left, right, on, how="inner"):
            # broadcast only when the batch side is provably small
            if pruned:
                right = F.broadcast(right)
            return left.join(right, on, how)

        def _stamped(df, deleted=False):
            return stamp_rows(df, lsns, deleted=deleted, broadcast=pruned)

        # 2. old rows of the batch's docs (pre-batch state)
        try:
            v_before = self._version_before(self.lake, batch_id)
        except RuntimeError:
            if self.post.last_batch["id"] == batch_id:
                # FULL replay of the LATEST batch: both lakes already
                # committed it (so same-batch maintenance may have expired
                # the pre-batch snapshot — compaction versions share the
                # batch's last_batch id). Both merges below will skip,
                # making the old lookup inert, and the post-merge state the
                # pairs derive from is unchanged since the original run —
                # never crash-loop here. A replay of an OLDER batch (id <
                # last) still raises: its pairs would no longer be
                # deterministic, so the actionable retention error stands.
                v_before = None
            else:
                raise
        truncate_before = (
            self.lake.truncate_lsn
            if v_before is None
            else self.lake._load_version(v_before)["truncate_lsn"]
        )
        old_raw = self.lake.scan_for_keys(doc_ids, version=v_before)
        old_live = self.lake.resolve_live(
            _j(old_raw, lsns.select("doc_id"), ["doc_id"]),
            truncate_lsn=truncate_before,
        )
        doc_stats = dict(self.lake.last_scan_stats)
        # postings to tombstone: every old (doc, band) fingerprint the
        # batch does not re-assert identically (replaced OR deleted).
        # Tombstones stamp with the replacing row's lsn, so a STALE
        # replacement's tombstones lose the LWW resolve and the stored
        # newer posting survives.
        repl = (
            self._old_bands(old_live)
            .select("doc_id", "band", "bkey")
            .join(
                new_bands.select("doc_id", "band", "bkey"),
                ["doc_id", "band", "bkey"],
                "left_anti",
            )
        )
        # stored per-row LSN, on the doc-major lake's own key: a batch row
        # older than it is a stale redelivery — its POSTINGS must not go
        # live (their (bkey, band, doc) keys never collide with the stored
        # newer posting, so unlike the doc-major lake the postings LWW
        # cannot hide them)
        doc_key = list(self.lake.key)
        old_kv = old_live.select(*doc_key, F.col("_lsn").alias("_old_lsn"))

        # 3a. doc-major delta, stamped with each row's OWN lsn
        dbatch = _stamped(self._doc_rows(live, new_bands))
        if has_dead:
            dead = docs.filter(F.col("_deleted")).select("doc_id")
            dbatch = dbatch.unionByName(
                _stamped(self._doc_tombstones(dead), deleted=True)
            )
        self.lake.merge(
            dbatch, batch_id=batch_id, lsn_hwm=lsn,
            new_truncate_lsn=new_truncate_lsn,
        )
        self.lake.refresh()

        # 3b. band-major delta (old-posting tombstones carry the OLD bkey,
        # so they land in — and later prune with — the right key range)
        up = (
            _j(
                _stamped(new_bands.select("bkey", "band", "doc_id")),
                old_kv,
                doc_key,
                how="left",
            )
            .filter(
                F.col("_old_lsn").isNull()
                | (F.col("_lsn") >= F.col("_old_lsn"))
            )
            .drop("_old_lsn")
        )
        pbatch = up.unionByName(
            _stamped(repl.select("bkey", "band", "doc_id"), deleted=True)
        )
        self.post.merge(
            pbatch, batch_id=batch_id, lsn_hwm=lsn,
            new_truncate_lsn=new_truncate_lsn,
        )
        self.post.refresh()
        if not emit_pairs:
            return None

        # 4. candidate pairs from the bkey-pruned post-merge postings
        keys = new_bands.select("band", "bkey").distinct()
        raw = self.post.scan_for_keys(bkeys)
        matched = self.post.resolve_live(_j(raw, keys, ["band", "bkey"]))
        self.last_update_stats = {
            "pruned": pruned,
            self.DOC_STATS_KEY: doc_stats,
            "postings_lookup": dict(self.post.last_scan_stats),
        }
        # occupancy cap over the touched buckets only: the join above kept
        # EVERY live posting of each touched (band, bkey), so the count IS
        # the bucket's full current occupancy. A partial-aggregated
        # groupBy + (broadcast) semi-join — NOT a window over (band, bkey):
        # a degenerate bucket is exactly the case being filtered, and a
        # window would funnel its entire posting list through one task
        # before the filter could drop it, while the map-side-combined
        # count never materializes the bucket in one place
        matched = matched.localCheckpoint(eager=False)
        occ_ok = (
            matched.groupBy("band", "bkey")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= self.OCC_CAP)
            .select("band", "bkey")
        )
        matched_ok = _j(matched, occ_ok, ["band", "bkey"]).select(
            "band", "bkey", "doc_id"
        )
        cand = (
            _j(
                matched_ok,
                new_bands.select(
                    F.col("doc_id").alias("_new_doc"), "band", "bkey"
                ),
                ["band", "bkey"],
            )
            .filter(F.col("_new_doc") != F.col("doc_id"))
            .select(
                F.least("_new_doc", "doc_id").alias("doc_a"),
                F.greatest("_new_doc", "doc_id").alias("doc_b"),
            )
            .distinct()
        )
        return self._confirm(cand)

    def rebuild(
        self,
        docs: DataFrame,
        lsn: int,
        batch_id: int,
        truncate_lsn: int | None = None,
    ) -> None:
        """Full re-index — the recovery path after a table TRUNCATE (the
        one corpus change ``update`` cannot express row-by-row): the same
        pipeline as :meth:`update` (so LWW replacement, old-posting
        tombstones, and per-row LSN stamping all apply identically), fed
        the FULL post-truncate corpus and committed together with a
        truncate watermark that kills every pre-truncate index row in
        O(1); physical space is reclaimed by normal lake maintenance.
        Idempotent per ``batch_id`` like any lake commit; emits no pairs.

        ``truncate_lsn`` should be the table's truncate event LSN when
        ``docs`` carries per-row ``_lsn`` stamps (the apply path: live
        lake rows — all above that watermark by the lake's own truncate
        rule — plus the truncating batch's deletes as ``_deleted`` rows,
        so a doc both updated and deleted around the truncate resolves in
        the index exactly as in the lake). Without it the watermark
        defaults to ``lsn - 1``, matching uniform ``lsn`` stamps
        (insert-only callers: the index becomes exactly ``docs``)."""
        t = (lsn - 1) if truncate_lsn is None else truncate_lsn
        self._apply(
            docs, lsn, batch_id, new_truncate_lsn=t, emit_pairs=False
        )


class MinHashIndex(PostingsIndex):
    """Persistent band-fingerprint index over a document corpus.

    The banding parameters are fixed at CREATION (persisted in
    ``minhash_meta.json``): signatures must be comparable across batches,
    so an index never re-sizes itself — resizing is a rebuild. With
    ``k``/``n_bands`` unset, creation applies the corpus sizing rule
    (:func:`~cdc_spark.functions.dedupe.minhash_autosize`) to
    ``corpus_hint`` (the expected steady-state corpus size, e.g. the
    bootstrap snapshot's row count), so a 50M-doc stream gets scale
    banding by default instead of the fixture config; without a hint the
    fixture banding applies. The chosen rule is recorded in the meta file.

    ``update`` takes (doc_id, text[, _deleted][, _lsn]) and returns
    (doc_a, doc_b) candidate pairs.
    """

    OCC_CAP = MAX_BAND_DOCS
    DOC_STATS_KEY = "doc_lookup"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int | None = None,
        n_bands: int | None = None,
        n_buckets: int = 8,
        corpus_hint: int | None = None,
    ):
        self._meta_path = os.path.join(root, "minhash_meta.json")
        if LakeTable.exists(os.path.join(root, "bands")):
            with open(self._meta_path) as fh:
                stored = json.load(fh)
            self.k, self.n_bands = stored["k"], stored["n_bands"]
        else:
            if k is None or n_bands is None:
                if corpus_hint:
                    auto_k, auto_b, _ = minhash_autosize(corpus_hint)
                else:
                    auto_k, auto_b = K_MINHASH, BANDS
                k = auto_k if k is None else k
                n_bands = auto_b if n_bands is None else n_bands
                rule = "autosize"
            else:
                rule = "explicit"
            self.k, self.n_bands = k, n_bands
            os.makedirs(root, exist_ok=True)
            with open(self._meta_path, "w") as fh:
                json.dump(
                    {
                        "k": k,
                        "n_bands": n_bands,
                        "rule": rule,
                        "corpus_hint": corpus_hint,
                    },
                    fh,
                )
        super().__init__(
            spark, root, "bands", INDEX_FIELDS, INDEX_KEY, "minhash",
            n_buckets,
        )
        last = self.lake.last_batch
        if self.post.last_batch["id"] < 0 <= last["id"]:
            # round-4 index upgraded in place: backfill the postings lake
            # from the bands lake's live rows in one append commit stamped
            # with the SAME batch key, so the two lakes' replay detection
            # stays aligned. Gated on the postings COMMIT state, not the
            # directory's existence — a crash between create() and this
            # merge must retry the backfill on reopen, while a normal
            # mid-stream crash window (postings one batch behind) must NOT
            # backfill (its replay applies the missing delta, tombstones
            # included).
            from ..lake import ConcurrentCommitError

            try:
                self.post.merge(
                    self.lake.read(include_meta=True).select(
                        "bkey", "band", "doc_id", "_lsn", "_deleted",
                        "_extra",
                    ),
                    batch_id=last["id"],
                    lsn_hwm=last["lsn_hwm"],
                )
            except ConcurrentCommitError:
                pass  # a concurrent opener committed the same backfill
            self.post.refresh()

    def bands(self) -> DataFrame:
        """The live index, doc-major: (doc_id, band, bkey)."""
        return self.lake.read()

    def _sign(self, live: DataFrame) -> DataFrame:
        return minhash_bands(
            live.select("doc_id", "text"), self.k, self.n_bands
        )

    def _doc_rows(self, live: DataFrame, new_bands: DataFrame) -> DataFrame:
        return new_bands.select("doc_id", "band", "bkey")

    def _doc_tombstones(self, dead: DataFrame) -> DataFrame:
        # a deleted doc tombstones every band key it could hold
        return dead.crossJoin(
            self.spark.range(self.n_bands).select(
                F.col("id").cast("int").alias("band")
            )
        ).select("doc_id", "band", F.lit(None).cast("string").alias("bkey"))

    def _old_bands(self, old_live: DataFrame) -> DataFrame:
        return old_live  # the bands lake stores the fingerprints


def q_minhash_incremental(spark, sf_dir):
    """The oracled equivalence instance: the documents table arrives as 3
    deterministic insert-only batches (doc_id % 3) into a fresh index; the
    union of per-batch candidate pairs must equal the one-shot
    full-recompute LSH pairs (``sql_minhash_lsh_pairs`` is the oracle,
    fixture banding — the driver fixture's buckets sit far under the
    occupancy cap, where the equivalence is exact)."""
    import shutil
    import tempfile

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    root = tempfile.mkdtemp(prefix="cdc_mh_index_")
    try:
        idx = MinHashIndex(spark, root, k=K_MINHASH, n_bands=BANDS)
        out = None
        for i in range(3):
            pairs = idx.update(
                d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i),
                lsn=i + 1,
                batch_id=i,
            )
            out = pairs if out is None else out.unionByName(pairs)
        # materialize before the temp index is deleted (the returned frame
        # must not keep lineage into the removed files)
        return (
            out.distinct()
            .orderBy("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_neardup_stream(spark, sf_dir):
    """The COMPOSED product as an oracled query: the documents table is
    re-expressed as a 3-batch CDC insert stream and driven through the
    full apply pipeline with ``neardup_index=True`` — LWW dedup, lake
    merge, incremental index update, exactly-once pairs commit — and the
    accumulated :meth:`~cdc_spark.apply.CdcApply.neardups` table, mapped
    from key hashes back to doc ids, must equal the one-shot
    full-recompute LSH pairs (same insert-only equivalence contract as
    ``minhash_incremental``, but through the ENGINE's surface instead of
    the index's)."""
    import shutil
    import tempfile

    from ..apply import CdcApply
    from ..config import EngineConfig

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    env = d.select(
        (F.col("doc_id") + 1).cast("long").alias("lsn"),
        F.lit("insert").alias("op"),
        F.lit("docs").alias("table"),
        F.col("doc_id").cast("string").alias("repo"),
        F.lit("p").alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.col("text").alias("content"),
        F.lit(None).cast("map<string,string>").alias("extra"),
        F.lit(None).cast("string").alias("schema_change"),
        F.pmod(F.col("doc_id"), F.lit(3)).alias("_b"),
    )
    root = tempfile.mkdtemp(prefix="cdc_nd_stream_")
    try:
        cfg = EngineConfig(
            lake_root=root,
            checkpoint=os.path.join(root, "_ckpt"),
            n_buckets=4,
            neardup_index=True,
            # PIN the fixture banding regime: the oracle SQL hard-codes
            # K_MINHASH/BANDS, and without a hint the engine would seed
            # the autosizer from the bootstrap corpus size — correct in
            # production, but a silent oracle divergence past
            # AUTOSIZE_BASE docs (same reason q_minhash_incremental pins
            # k/n_bands explicitly)
            neardup_corpus_hint=1,
        )
        applier = CdcApply(spark, cfg)
        for i in range(3):
            applier.apply_batch(
                env.filter(F.col("_b") == i).drop("_b"), i
            )
        # map the pairs' key hashes back to doc ids (the oracle speaks
        # doc_id; xxhash64 is Spark-side only)
        ids = d.select(
            "doc_id",
            F.xxhash64(
                F.col("doc_id").cast("string"), F.lit("p")
            ).alias("_h"),
        )
        nd = applier.neardups("docs")
        out = (
            nd.join(ids.select(F.col("_h").alias("doc_a"),
                               F.col("doc_id").alias("_a")), ["doc_a"])
            .join(ids.select(F.col("_h").alias("doc_b"),
                             F.col("doc_id").alias("_b2")), ["doc_b"])
            .select(
                F.least("_a", "_b2").alias("doc_a"),
                F.greatest("_a", "_b2").alias("doc_b"),
            )
            .distinct()
            .orderBy("doc_a", "doc_b")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def registry() -> dict:
    from .dedupe import sql_minhash_lsh_pairs

    return {
        "minhash_incremental": (
            q_minhash_incremental,
            sql_minhash_lsh_pairs(),
        ),
        "neardup_stream": (
            q_neardup_stream,
            sql_minhash_lsh_pairs(),
        ),
    }
