"""Round-5 VERDICT items 1-5, 7-8: the incremental MinHash index is
O(batch) per update (merge-on-read deltas + point-set file pruning +
broadcast candidate joins), pairs are exactly-once through every crash
window, banding auto-sizes at creation, and the oracled query leaves no
temp residue."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.functions.dedupe import minhash_bands
from cdc_spark.functions.dedupe_index import MinHashIndex
from cdc_spark.functions.emb_index import EmbIndex, emb_bands

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega".split()
)


def _text(i: int) -> str:
    return " ".join(WORDS[(i + j) % len(WORDS)] + str((i * 7 + j) % 13)
                    for j in range(30))


def _frame(spark, ids, texts=None, deleted=()):
    rows = [(i, texts(i) if texts else _text(i), i in deleted) for i in ids]
    return spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, _deleted BOOLEAN"
    )


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def _bands_set(df):
    return {(r["doc_id"], r["band"], r["bkey"]) for r in df.collect()}


def _vec(i: int) -> list[float]:
    return [((i * 31 + d * 7 + 3) % 13 - 6) / 6.0 for d in range(8)]


class _Kind:
    """One index modality for the tests both indexes must pass: how to
    open it, the payload column a doc carries, and its live bands."""

    def __init__(self, name):
        self.name = name
        self.mh = name == "minhash"
        self.col, self.ddl, self.payload = (
            ("text", "STRING", _text) if self.mh
            else ("embedding", "ARRAY<DOUBLE>", _vec)
        )

    def open(self, spark, root):
        if self.mh:
            return MinHashIndex(spark, root)
        return EmbIndex(spark, root, bits=6, n_bands=3, dim=8, n_buckets=4)

    def frame(self, spark, rows):
        """rows: (doc_id, payload seed or None, deleted, lsn)"""
        return spark.createDataFrame(
            [(i, None if p is None else self.payload(p), d, l)
             for i, p, d, l in rows],
            f"doc_id BIGINT, {self.col} {self.ddl}, _deleted BOOLEAN, "
            "_lsn BIGINT",
        )

    def sign(self, idx, docs):
        if self.mh:
            return minhash_bands(docs.select("doc_id", "text"), idx.k,
                                 idx.n_bands)
        return emb_bands(docs, idx.dim, idx.n_bands, idx.bits)

    def doc_bands(self, idx):
        """The doc-major lake's live content, as bands."""
        if self.mh:
            return _bands_set(idx.bands())
        return _bands_set(self.sign(idx, idx.vectors()))


KINDS = [_Kind("minhash"), _Kind("emb")]


def test_postings_track_bands_through_update_delete(
    spark, tmpdir_factory_clean
):
    """The band-major postings lake is the doc-major bands lake re-keyed:
    after inserts, updates, and deletes the two live views hold the same
    rows — stale postings are tombstoned, not left to pair forever."""
    idx = MinHashIndex(spark, tmpdir_factory_clean("r5a"))
    idx.update(_frame(spark, range(10)), lsn=1, batch_id=0)
    # update doc 3's text, delete doc 4
    idx.update(
        _frame(spark, [3, 4], texts=lambda i: _text(i + 100),
               deleted={4}),
        lsn=2, batch_id=1,
    )
    want = _bands_set(idx.bands())
    got = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in idx.postings().collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize("kind", KINDS, ids=lambda k: k.name)
def test_crash_between_doc_and_postings_commit_replays_clean(
    spark, tmpdir_factory_clean, kind
):
    """Kill the update AFTER the doc-lake commit, BEFORE the postings
    commit; the replay must rebuild the postings delta from the RETAINED
    pre-batch doc-lake snapshot (not the post-commit state, which would
    lose the tombstones) and return the same pairs."""
    root = tmpdir_factory_clean("r5b")
    batch0 = kind.frame(spark, [(i, i, False, 1) for i in range(8)])
    idx = kind.open(spark, root)
    idx.update(batch0, lsn=1, batch_id=0)
    batch1 = kind.frame(spark, [(2, 52, False, 2), (5, None, True, 2)])

    real_merge = idx.post.merge

    def boom(*a, **k):
        raise RuntimeError("crash before postings commit")

    idx.post.merge = boom
    with pytest.raises(RuntimeError, match="crash"):
        idx.update(batch1, lsn=2, batch_id=1)
    idx.post.merge = real_merge
    assert idx.lake.refresh().last_batch["id"] == 1  # doc side committed
    assert idx.post.refresh().last_batch["id"] == 0  # postings did not

    # fresh process replays the batch
    idx2 = kind.open(spark, root)
    pairs = idx2.update(batch1, lsn=2, batch_id=1)
    assert pairs is not None
    assert kind.doc_bands(idx2) == _bands_set(idx2.postings())
    # and the invariant vs a never-crashed twin
    twin = kind.open(spark, tmpdir_factory_clean("r5b2"))
    twin.update(batch0, lsn=1, batch_id=0)
    twin_pairs = twin.update(batch1, lsn=2, batch_id=1)
    assert kind.doc_bands(idx2) == kind.doc_bands(twin)
    assert _bands_set(idx2.postings()) == _bands_set(twin.postings())
    assert _pairs(pairs) == _pairs(twin_pairs)


def test_replay_returns_same_pairs(spark, tmpdir_factory_clean):
    """update() is deterministic given the post-merge index: a full replay
    (both commits already applied) returns the SAME pairs instead of None
    — the property that lets callers persist pairs exactly-once behind an
    idempotent commit."""
    idx = MinHashIndex(spark, tmpdir_factory_clean("r5c"))
    idx.update(_frame(spark, range(6)), lsn=1, batch_id=0)
    b = _frame(spark, [10], texts=lambda i: _text(2))  # near-dup of doc 2
    first = _pairs(idx.update(b, lsn=2, batch_id=1))
    replay = _pairs(idx.update(b, lsn=2, batch_id=1))
    assert replay == first and (2, 10) in first


def test_update_io_is_pruned_and_broadcast(spark, tmpdir_factory_clean):
    """VERDICT #1/#7 'done' criteria: a small batch against a large index
    (a) reads only band-key/doc-id-intersecting files of each lake —
    asserted on the recorded scan stats — and (b) joins the index side
    against a BROADCAST batch side (no index shuffle before the join)."""
    idx = MinHashIndex(spark, tmpdir_factory_clean("r5d"))
    for lake in (idx.lake, idx.post):
        lake.append_shards = 8
    idx.update(_frame(spark, range(2000)), lsn=1, batch_id=0)
    # compact so the base is multi-file with tight ranges (8 range shards)
    for lake in (idx.lake, idx.post):
        lake.compact()
    # batch 1: one UPDATE of an existing doc (42 -> the doc-lake lookup
    # must read its file) and one new near-dup of doc 7
    pairs = idx.update(
        _frame(
            spark, [42, 3000],
            texts=lambda i: _text(142) if i == 42 else _text(7),
        ),
        lsn=2, batch_id=1,
    )
    st = idx.last_update_stats
    assert st["pruned"]
    assert 0 < st["doc_lookup"]["files_read"] < st["doc_lookup"][
        "files_total"
    ]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # no operator may funnel DATA through one task; the only permitted
    # SinglePartition exchanges are Spark's runtime bloom-filter builds
    # (they aggregate filter BYTES and add extra scan pruning)
    import re

    for m in re.finditer(r"Exchange SinglePartition", plan):
        assert "bloom_filter_agg" in plan[m.start():m.start() + 4000], (
            plan[max(0, m.start() - 2000):m.start() + 2000]
        )
    assert (7, 3000) in _pairs(pairs)
    # postings-side pruning, asserted on a 1-doc probe batch so it is
    # DETERMINISTIC: one doc carries at most n_bands distinct band keys —
    # strictly fewer than the 8 disjoint compacted range shards — so at
    # least one base file can never intersect the probe set, wherever the
    # range sampler drew the shard boundaries. (The 2-doc batch above has
    # up to 8 keys: enough to hit all 8 shards on an unlucky draw, which
    # made a files_read < files_total assertion on IT order-dependent.)
    pairs2 = idx.update(
        _frame(spark, [4000], texts=lambda i: _text(9)), lsn=3, batch_id=2
    )
    st = idx.last_update_stats
    assert st["pruned"]
    assert 0 < st["postings_lookup"]["files_read"] < st[
        "postings_lookup"
    ]["files_total"]
    assert (9, 4000) in _pairs(pairs2)


def test_autosize_at_creation_and_pinned_reopen(
    spark, tmpdir_factory_clean
):
    """VERDICT #5: with no explicit banding, creation applies the corpus
    sizing rule to the hint and records it; reopen keeps the pinned
    banding regardless of later hints."""
    import json

    root = tmpdir_factory_clean("r5e")
    idx = MinHashIndex(spark, root, corpus_hint=60_000)
    assert (idx.k, idx.n_bands) == (36, 3)  # minhash_autosize(60k)
    with open(os.path.join(root, "minhash_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["rule"] == "autosize" and meta["corpus_hint"] == 60_000
    re = MinHashIndex(spark, root, corpus_hint=5)  # hint ignored: stored
    assert (re.k, re.n_bands) == (36, 3)
    # no hint, no explicit args -> fixture banding, recorded as autosize
    idx2 = MinHashIndex(spark, tmpdir_factory_clean("r5e2"))
    assert (idx2.k, idx2.n_bands) == (16, 4)


def test_neardups_live_only_filters_dead_docs(spark, tmpdir_factory_clean):
    """neardups(live_only=True) keeps only pairs whose BOTH docs are
    still live in the lake; the full view keeps the advisory history."""
    from cdc_spark.apply import CdcApply
    from cdc_spark.config import EngineConfig

    root = tmpdir_factory_clean("r5j")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"),
        n_buckets=2, neardup_index=True,
    )
    applier = CdcApply(spark, cfg)

    def env(rows, lsns, op="insert"):
        return spark.createDataFrame(
            [
                (l, op, "repos", r, "p", None, None, t, None, None)
                for (r, t), l in zip(rows, lsns)
            ],
            "lsn BIGINT, op STRING, `table` STRING, repo STRING, "
            "path STRING, `commit` STRING, lang STRING, content STRING, "
            "extra MAP<STRING,STRING>, schema_change STRING",
        )

    text = " ".join(f"tok{i}" for i in range(40))
    applier.apply_batch(
        env([("a", text), ("b", text), ("c", text)], [1, 2, 3]), 0
    )
    assert applier.neardups("repos").count() == 3  # all 3 pairs
    # delete doc c: its pairs stay in history but leave the live view
    applier.apply_batch(env([("c", None)], [4], op="delete"), 1)
    assert applier.neardups("repos").count() == 3
    live = applier.neardups("repos", live_only=True)
    assert live.count() == 1  # only (a, b) survives
    assert set(live.columns) == {"doc_a", "doc_b", "batch_id"}


def test_apply_seeds_banding_from_bootstrap_corpus(
    spark, tmpdir_factory_clean
):
    """With no explicit hint, the apply path seeds the index's banding
    auto-sizer from the lake's manifest row count at creation — a
    snapshot-bootstrapped 50M-doc table gets scale banding by default
    instead of the fixture config (the round-4 defaults gap, closed at
    the engine surface)."""
    import json

    from cdc_spark.apply import CdcApply
    from cdc_spark.config import EngineConfig
    from cdc_spark.loggen import change_log

    root = tmpdir_factory_clean("r5i")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"),
        n_buckets=4, neardup_index=True,
    )
    applier = CdcApply(spark, cfg)
    # ~6.6k live keys (> AUTOSIZE_BASE) in the bootstrap batch
    log = change_log(spark, 20_000, n_repos=700, n_paths=10, seed=3)
    applier.apply_batch(log, 0)
    with open(
        os.path.join(root, "_neardup_index", "repos", "minhash_meta.json")
    ) as fh:
        meta = json.load(fh)
    assert meta["rule"] == "autosize" and meta["corpus_hint"] > 5_000
    assert (meta["k"], meta["n_bands"]) == (24, 3)  # the 5e4 regime


def test_oracled_query_leaves_no_temp_dirs(spark):
    """VERDICT #8: q_minhash_incremental materializes its result and
    removes its scratch index."""
    import tempfile

    from cdc_spark.functions.dedupe_index import q_minhash_incremental

    pat = os.path.join(tempfile.gettempdir(), "cdc_mh_index_*")
    before = set(glob.glob(pat))
    out = q_minhash_incremental(spark, "/root/testdata/sf0.001")
    assert out.count() > 0  # usable after the scratch dir is gone
    assert set(glob.glob(pat)) == before


def test_postings_backfill_retries_after_create_crash(
    spark, tmpdir_factory_clean
):
    """Round-4-upgrade path: a crash between the postings lake's create()
    and the backfill merge must RETRY the backfill on reopen (the gate is
    the postings COMMIT state, not directory existence) — and a wiped
    postings dir (same shape as a legacy single-lake index) backfills to
    exactly the bands lake's live rows."""
    import shutil

    root = tmpdir_factory_clean("r5h")
    idx = MinHashIndex(spark, root)
    idx.update(_frame(spark, range(6)), lsn=1, batch_id=0)
    idx.update(
        _frame(spark, [2], texts=lambda i: _text(99), deleted={2}),
        lsn=2, batch_id=1,
    )
    want = _bands_set(idx.bands())
    # legacy layout / crash before backfill: no postings commits on disk
    shutil.rmtree(os.path.join(root, "postings"))
    from cdc_spark.lake import LakeTable
    from cdc_spark.functions.dedupe_index import POSTING_FIELDS, POSTING_KEY

    LakeTable.create(
        spark, os.path.join(root, "postings"),
        fields=list(POSTING_FIELDS), key=POSTING_KEY,
        table="minhash_postings",
    )  # create published, backfill never ran
    re = MinHashIndex(spark, root)
    assert {
        (r["doc_id"], r["band"], r["bkey"])
        for r in re.postings().collect()
    } == want
    assert re.post.last_batch["id"] == re.lake.last_batch["id"]


@pytest.mark.parametrize("kind", KINDS, ids=lambda k: k.name)
def test_out_of_order_stale_batch_cannot_desync(
    spark, tmpdir_factory_clean, kind
):
    """A stale redelivery that wins its own LATER batch (cross-batch
    out-of-order delivery) must lose the index's row-level LWW in BOTH
    lakes: the doc-major rows resolve away, and the stale row's postings
    — whose keys never collide with the stored newer posting — are
    filtered against the stored per-doc-key LSN. Found by the round-5
    e2e verify drive (shuffle_window delivery)."""
    idx = kind.open(spark, tmpdir_factory_clean("r5g"))
    newer = kind.frame(spark, [(1, 1, False, 10)])
    idx.update(newer, lsn=10, batch_id=0)
    # batch 1 delivers the doc's OLDER version (lsn 5 < 10)
    idx.update(kind.frame(spark, [(1, 80, False, 5)]), lsn=20, batch_id=1)
    want = _bands_set(kind.sign(idx, newer))
    assert kind.doc_bands(idx) == want
    assert _bands_set(idx.postings()) == want
    # and a stale DELETE cannot kill the newer row either
    idx.update(kind.frame(spark, [(1, None, True, 7)]), lsn=30, batch_id=2)
    assert kind.doc_bands(idx) == want
    assert _bands_set(idx.postings()) == want


def test_folded_delete_and_reinsert_in_one_batch(
    spark, tmpdir_factory_clean
):
    """A batch carrying delete(doc, lsn=5) + re-insert(doc, lsn=6) must
    collapse to the re-insert in BOTH lakes — not stamp both versions and
    leave each lake's read-side LWW to tie-break bands against tombstones
    on its own."""
    idx = MinHashIndex(spark, tmpdir_factory_clean("r5i"))
    kind = KINDS[0]
    idx.update(kind.frame(spark, [(i, i, False, 1) for i in range(4)]),
               lsn=1, batch_id=0)
    idx.update(
        kind.frame(spark, [(1, None, True, 5), (1, 41, False, 6)]),
        lsn=6, batch_id=1,
    )
    live = kind.frame(
        spark, [(0, 0, False, 1), (1, 41, False, 6), (2, 2, False, 1),
                (3, 3, False, 1)],
    )
    want = _bands_set(kind.sign(idx, live))
    assert _bands_set(idx.bands()) == want
    assert _bands_set(idx.postings()) == want


def test_apply_crash_before_pairs_commit_is_exactly_once(
    spark, tmpdir_factory_clean
):
    """VERDICT #2 'done' criterion at the apply level: kill between the
    index commit and the pairs commit, replay, pairs present exactly
    once."""
    import shutil

    from cdc_spark.apply import CdcApply
    from cdc_spark.config import EngineConfig
    from cdc_spark.loggen import change_log

    root = tmpdir_factory_clean("r5f")
    cfg = EngineConfig(
        lake_root=root, checkpoint=os.path.join(root, "_ckpt"),
        n_buckets=2, neardup_index=True,
    )
    applier = CdcApply(spark, cfg)
    log = change_log(spark, 250, n_repos=6, n_paths=3, seed=11)
    applier.apply_batch(log, 0)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in applier.neardups("repos").collect()
    }
    # crash window: index committed batch 0, the pairs lake never did
    shutil.rmtree(os.path.join(root, "_neardups"))
    applier2 = CdcApply(spark, cfg)
    applier2.apply_batch(log, 0)  # replay
    nd = applier2.neardups("repos")
    got = [(r["doc_a"], r["doc_b"]) for r in nd.collect()]
    assert set(got) == want and len(got) == len(set(got))
