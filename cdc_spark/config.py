"""Engine configuration.

The reference wires components from jsonschema-validated YAML through a
registry (``cdc/utils/registry.py:9-14``, ``cdc/__main__.py:24-58``). Spark
needs far less wiring: one dataclass covering lake path, checkpoint path,
and the knobs that matter at scale (bucket count, trigger pacing, lake
maintenance). The YAML loader passes only the keys a document sets, so the
defaults live in ``EngineConfig`` alone, and the schema rejects unknown
``lake``/``apply`` keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field


#: The fixed envelope of the change-log stream (FIXTURES.md §1). ``extra``
#: carries values for columns added by schema evolution (wal2json carries
#: them in its parallel arrays; we pre-split the fixed base columns for the
#: vectorized fast path).
ENVELOPE_DDL = (
    "lsn BIGINT, op STRING, `table` STRING, repo STRING, path STRING, "
    "`commit` STRING, lang STRING, content STRING, "
    "extra MAP<STRING,STRING>, schema_change STRING"
)

#: Base lake schema — exactly the BASELINE input_hint shape.
BASE_FIELDS: list[tuple[str, str]] = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]

#: Merge key (reference routes per-table; rows are keyed by repo+path).
KEY_COLUMNS: tuple[str, str] = ("repo", "path")

#: Data-modifying ops (wal2json kinds; reference test_parse_msg.py:18).
DML_OPS = ("insert", "update", "delete")

#: Supported column types for schema evolution (retype uses try_cast).
#: ``decimal`` requires explicit precision/scale — ``decimal(p,s)`` — a bare
#: 'decimal' is rejected by lake.evolve_fields (the change is skipped as
#: poison, mirrored by oracle.replay). The oracle (oracle.py
#: convert/cast_string) mirrors every cast rule per the reference type
#: fixture (tests/cdc/sources/backends/test_parse_msg.py:20).
EVOLUTION_TYPES = (
    "string", "long", "double", "boolean", "timestamp", "date",
    "decimal(p,s)",
)


@dataclass
class EngineConfig:
    """Tuning knobs for the apply pipeline.

    n_buckets: the number of range-clustered files ``LakeTable.compact``
        folds a table into (size it so one file fits an executor). Merges
        append O(batch) deltas whatever its value.
    shuffle_partitions: not read by the engine — the session's
        ``spark.sql.shuffle.partitions`` decides every shuffle's width. The
        bench drivers still pass it; not settable from YAML.
    """

    lake_root: str = "/tmp/cdc_lake"
    checkpoint: str = "/tmp/cdc_checkpoint"
    n_buckets: int = 16
    #: streaming near-dup screening: when True, every applied batch ALSO
    #: updates a persistent MinHash band index (merge-on-read LakeTables
    #: under <lake_root>/_neardup_index/<table>) with exactly the rows it
    #: changed, and commits the batch's candidate pairs to the
    #: <lake_root>/_neardups/<table> lake (read via CdcApply.neardups()) —
    #: incremental dedup riding the CDC stream instead of re-shingling the
    #: corpus per batch. Off by default (extra jobs per batch).
    neardup_index: bool = False
    #: expected steady-state corpus size for the near-dup index: at index
    #: CREATION the LSH banding is auto-sized from this hint
    #: (functions.dedupe.minhash_autosize), so a 50M-doc stream gets scale
    #: banding by default. None = fixture banding (small corpora). The
    #: banding is pinned at creation (signatures must stay comparable);
    #: changing the hint later only affects NEW indexes.
    neardup_corpus_hint: int | None = None
    #: run lake maintenance every N committed batches (0 = off): compaction
    #: (fold the delta files every merge appends into one row per key, drop
    #: dead rows) + snapshot expiry keeping the newest ``expire_keep``
    #: manifests. It also bounds the delta depth that reads and point
    #: lookups pay; truncates and tombstones accumulate physically until
    #: it runs.
    compact_every: int = 0
    expire_keep: int = 8
    #: tombstones older than this many LSNs behind the high-watermark are
    #: dropped at compaction (the source's max out-of-orderness bound)
    tombstone_lag: int = 1_000_000
    shuffle_partitions: int = 32
    max_files_per_trigger: int | None = None
    key: tuple[str, ...] = KEY_COLUMNS
    base_fields: list[tuple[str, str]] = field(
        default_factory=lambda: list(BASE_FIELDS)
    )


#: jsonschema for the YAML config file — validated exactly like the
#: reference wires components (``cdc/__main__.py:24-58`` +
#: ``cdc/utils/registry.py:9-14``): a versioned document naming the source
#: backend (resolved through the sources registry) and the lake/apply knobs.
CONFIG_SCHEMA = {
    "type": "object",
    "properties": {
        "version": {"const": 1},
        "source": {
            "type": "object",
            "properties": {
                "backend": {"type": "string"},
                "path": {"type": "string"},
                "framed": {"type": "boolean"},
                "wire_format": {
                    "enum": ["envelope", "framed", "pgoutput"],
                },
                "relation_registry": {"type": "string"},
            },
            "required": ["backend"],
        },
        "lake": {
            "type": "object",
            "properties": {
                "root": {"type": "string"},
                "checkpoint": {"type": "string"},
                "buckets": {"type": "integer", "minimum": 1},
                "max_files_per_trigger": {"type": ["integer", "null"]},
            },
            "required": ["root", "checkpoint"],
            "additionalProperties": False,
        },
        "apply": {
            "type": "object",
            "properties": {
                "compact_every": {"type": "integer", "minimum": 0},
                "expire_keep": {"type": "integer", "minimum": 1},
                "tombstone_lag": {"type": "integer", "minimum": 0},
                "neardup_index": {"type": "boolean"},
                "neardup_corpus_hint": {
                    "type": ["integer", "null"], "minimum": 1,
                },
            },
            "additionalProperties": False,
        },
        "sink": {"type": "object"},
    },
    "required": ["version", "source", "lake"],
}


def load_config(path: str) -> tuple["EngineConfig", dict]:
    """Load + validate a YAML (or JSON — YAML superset) config file and map
    it onto an ``EngineConfig``. Returns ``(cfg, document)``; the document
    keeps the ``source``/``sink`` sections for the CLI to wire through the
    sources registry. Raises ``jsonschema.ValidationError`` on bad input."""
    import jsonschema
    import yaml

    with open(path) as fh:
        doc = yaml.safe_load(fh)
    jsonschema.validate(doc, CONFIG_SCHEMA)
    # only the keys the document sets: the defaults live in EngineConfig
    renames = {"root": "lake_root", "buckets": "n_buckets"}
    knobs = {**doc["lake"], **doc.get("apply", {})}
    cfg = EngineConfig(**{renames.get(k, k): v for k, v in knobs.items()})
    return cfg, doc
