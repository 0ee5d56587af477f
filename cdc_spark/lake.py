"""Iceberg-semantics lake table in pure PySpark (no Iceberg jar available).

The apply side the reference deliberately leaves unimplemented
(``/root/reference/cdc/__main__.py:87-92``), built per the north rule with
the commit discipline of the reference's snapshot destination state machine
(``cdc/snapshots/destinations/__init__.py:56-126``): data files are staged
first, the manifest is published last by an atomic rename, and a failure at
any point leaves no visible snapshot (the reference's ``complete.json``
success marker, ``file_snapshot.py:113-119``).

Layout (one table per directory):

    <root>/metadata/v<N>.json               -- manifests, atomic link publish
    <root>/data/v<N>-<attempt>/*.parquet    -- per-ATTEMPT staging dirs: a
                                               writer losing the manifest
                                               race leaves orphans (GC'd by
                                               expire_snapshots), never
                                               clobbers the winner

Manifest fields:
    version, table, key, n_buckets,
    schema_id, schemas        -- full schema-version history (E3)
    schema_changes            -- RAW (lsn, change_json) history; validity is
                                 re-derived on every read via replay_changes
    files                     -- [{path, schema_id, change_lsn,
                                 min_key, max_key, rows}]
                                 (paths rel. root; change_lsn = the highest
                                 schema-change LSN applied at write time —
                                 an LSN stamp, NOT a list position, because
                                 out-of-order control events insert into the
                                 MIDDLE of the LSN-sorted history and would
                                 shift positional indexes under existing
                                 files; min/max_key = the first key column's
                                 footer range, rows = row count)
    truncate_lsn              -- table-truncate watermark (O(1) truncate)
    last_batch                -- {id, lsn_hwm}: idempotent-commit key (E2);
                                 commits are keyed by (checkpoint epoch,
                                 LSN high-watermark) per the north rule

Manifests written before every table was merge-on-read may also carry a
layout flag and a per-file bucket number; both are ignored (a copy-on-write
file holds one row per key, so resolving it is the identity).

Scale design:
- Every table is merge-on-read: a merge appends the batch as key-range
  sharded, key-sorted delta files and never reads or rewrites an old file,
  so a commit costs O(batch), not O(table). Reads, point lookups and
  point-set scans resolve the max-LSN row per key across files
  (``resolve_live``); ``compact()`` folds the deltas back into
  ``n_buckets`` range-clustered files with one row per key, so the delta
  depth reads pay is bounded by how often maintenance runs.
- Old-schema files are never rewritten on schema evolution; reads project
  them into the current schema lazily (add -> null, drop -> pruned at the
  parquet scan, retype -> try_cast), exactly Iceberg's lazy evolution.
- Rows are sorted within files by key (``sortWithinPartitions``), so a
  file's footer [min, max] is the exact range point reads prune on.
- Tombstones: deletes keep a ``_deleted`` row carrying its LSN so later
  out-of-order (stale) updates for the key still lose the LWW race;
  ``compact()`` drops tombstones older than a caller-supplied watermark.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dedup import _col

_SQL_TYPES = {"string": "STRING", "long": "BIGINT", "double": "DOUBLE",
              "boolean": "BOOLEAN", "int": "INT", "timestamp": "TIMESTAMP",
              "date": "DATE", "map<string,string>": "MAP<STRING,STRING>",
              "array<float>": "ARRAY<FLOAT>",
              "array<double>": "ARRAY<DOUBLE>"}

_DECIMAL_RE = None  # compiled lazily (module import stays light)

#: engine bookkeeping columns stored in every data file. ``_extra`` keeps the
#: wal2json payload entries not consumed by the schema in force when the row
#: was applied, so a late-delivered add-column (control event arriving in a
#: later batch than data that post-dates it) can still resurrect the values —
#: without it the engine would silently drop them where the LSN-ordered
#: oracle keeps them.
META_FIELDS = [("_lsn", "long"), ("_deleted", "boolean"),
               ("_extra", "map<string,string>")]
_META_NAMES = {n for n, _ in META_FIELDS}


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first; refresh and retry."""


def evolve_fields(
    fields: list[tuple[str, str]], change: dict, key: tuple[str, ...]
) -> list[tuple[str, str]]:
    """Apply one schema-change event to a field list.

    The reference handles DDL operationally — a fresh snapshot signalled over
    the control topic (``cdc/snapshots/control_protocol.py:21-54``); the
    engine upgrades this to in-stream, LSN-ordered evolution. Key columns are
    immutable (they define row identity)."""
    action, column = change["action"], change["column"]
    if column in key:
        raise ValueError(f"cannot {action} key column {column}")
    names = [n for n, _ in fields]
    if action == "add":
        if column in names:
            raise ValueError(f"add: column {column} already exists")
        typ = change.get("type", "string")
        sql_type(typ)  # unknown type -> KeyError -> replay skips the event
        return fields + [(column, typ)]
    if action == "drop":
        return [f for f in fields if f[0] != column]
    if action == "retype":
        # validate the target type HERE, not lazily at epoch projection:
        # an invalid type marked valid would later raise an uncatchable
        # KeyError in sql_type inside foreachBatch and crash-loop the
        # stream on replay — the exact failure poison tolerance exists
        # to prevent. replay_changes deterministically skips it instead.
        sql_type(change["type"])
        return [(n, change["type"] if n == column else t) for n, t in fields]
    raise ValueError(f"unknown schema change action {action!r}")


def replay_changes(
    base_fields: list[tuple[str, str]],
    raw_pairs: list,
    key: tuple[str, ...],
) -> tuple[list[tuple[str, str]], list, list]:
    """Replay the raw ``(lsn, change_json)`` history from the base schema.

    Invalid payloads (unparseable JSON, add of an existing column, any
    action on a key column, unknown action) are SKIPPED deterministically —
    a poison control frame must never crash-loop the stream, and because
    validity depends on the state at the replay point (a late-arriving
    earlier change can flip it), the RAW history is what the manifest
    stores and every reader re-derives validity with this one function.

    Returns ``(final_fields, aligned, epochs)`` where ``aligned[i]`` is the
    parsed dict for ``raw_pairs[i]`` or None if skipped (aligned with the
    raw history, whose entries carry the LSNs per-file ``change_lsn``
    stamps compare against), and ``epochs`` is
    ``[(lower_lsn, fields, aligned_upper_idx)]`` — rows with
    ``lsn > lower_lsn`` (and below the next epoch's) were written under
    ``fields``, with ``aligned[aligned_upper_idx:]`` still ahead of them."""
    aligned: list = []
    epochs = [(-1, list(base_fields), 0)]
    for i, (c_lsn, c_json) in enumerate(raw_pairs):
        try:
            ch = json.loads(c_json)
            nxt = evolve_fields(epochs[-1][1], ch, key)
        except (ValueError, TypeError, KeyError):
            aligned.append(None)
            continue
        aligned.append(ch)
        epochs.append((int(c_lsn), nxt, i + 1))
    return epochs[-1][1], aligned, epochs


def sql_type(t: str) -> str:
    if t in _SQL_TYPES:
        return _SQL_TYPES[t]
    global _DECIMAL_RE
    if _DECIMAL_RE is None:
        import re

        _DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(\d+)\)")
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        return f"DECIMAL({m.group(1)},{m.group(2)})"
    raise KeyError(f"unsupported column type {t!r}")


def _ddl(fields: list[tuple[str, str]]) -> str:
    """Spark DDL of ``fields`` + META_FIELDS: the typed scan schema of a
    data file and the schema of an empty frame."""
    return ", ".join(
        f"`{n}` {sql_type(t)}" for n, t in list(fields) + META_FIELDS
    )


def _file_key_stats(path: str, key_col: str) -> tuple:
    """(min, max, rows) of ``key_col`` from the parquet FOOTER — a
    driver-side metadata read (no data scan, no job). Rows are key-sorted
    within files, so footer min/max are exact cluster bounds; point reads
    use them to skip files that cannot hold a key (Iceberg's
    lower/upper_bounds file skipping). Returns (None, None, rows) when the
    writer produced no stats (pruning then never skips)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = None
    for i in range(md.num_columns if md.num_row_groups else 0):
        if md.row_group(0).column(i).path_in_schema == key_col:
            idx = i
            break
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx).statistics if idx is not None else None
        if st is None or not st.has_min_max:
            return None, None, md.num_rows
        mn, mx = st.min, st.max
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode(), mx.decode()
            except UnicodeDecodeError:
                return None, None, md.num_rows
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
    if not isinstance(lo, (str, int)) or type(lo) is not type(hi):
        return None, None, md.num_rows
    return lo, hi, md.num_rows


def chain_for_column(
    name: str, tail: list[dict], present: bool, start_casts: list[str]
) -> tuple[str, list[str]]:
    """Walk the schema-change tail (changes applied AFTER a value was stored)
    for one column and return how to materialize it under the head schema:

    - ``("value", casts)``  -- fold ``casts`` onto the stored column value
    - ``("extra", casts)``  -- column added later; resurrect the raw string
      from ``_extra`` and fold ``casts`` (first cast = the add type)
    - ``("null", [])``      -- column was dropped after storage (a re-add
      gives pre-existing rows NULL, matching the LSN-ordered oracle)
    - ``("absent", [])``    -- no lineage found (caller falls back)

    Retype chains fold STEPWISE (string->long->string turns '007' into '7',
    never '007') so lazy projection byte-matches the oracle's per-event
    ``convert`` replay even through lossy intermediate types."""
    mode = "value" if present else "absent"
    casts = list(start_casts)
    for ch in tail:
        if ch is None or ch.get("column") != name:
            continue
        action = ch["action"]
        if action == "retype":
            if mode in ("value", "extra"):
                casts.append(ch["type"])
        elif action == "drop":
            mode, casts = "gone", []
        elif action == "add":
            if mode == "gone":
                mode = "null"
            elif mode == "absent":
                mode, casts = "extra", [ch.get("type", "string")]
    if mode == "gone":
        mode = "null"
    return mode, casts


def fold_cast_expr(raw_sql: str, casts: list[str], final_type: str) -> str:
    """Nest try_casts for each chain step; guarantee the final type."""
    expr = raw_sql
    for t in casts:
        expr = f"try_cast({expr} AS {sql_type(t)})"
    if not casts or casts[-1] != final_type:
        expr = f"try_cast({expr} AS {sql_type(final_type)})"
    return expr


def project_to(
    df: DataFrame,
    src_fields: list,
    dst_fields: list,
    changes_tail: list[dict] | None = None,
) -> DataFrame:
    """Project a frame carrying ``src_fields`` (+META) into ``dst_fields``:
    missing columns -> NULL, retypes -> try_cast, drops -> pruned. Column
    pruning + casts stay in the parquet scan / codegen (no shuffle).

    ``changes_tail`` is the ordered list of schema-change dicts applied
    between when these rows were written and the target schema; with it the
    projection folds the full per-column cast chain stepwise (see
    ``chain_for_column``). Without it (legacy files carrying no change
    index) the projection is a direct stored-type -> target-type cast."""
    src = dict(src_fields)
    exprs = []
    for name, typ in dst_fields + META_FIELDS:
        if name in _META_NAMES:
            exprs.append(f"try_cast(`{name}` AS {sql_type(typ)}) AS `{name}`")
            continue
        if changes_tail is None:
            if name in src:
                exprs.append(f"try_cast(`{name}` AS {sql_type(typ)}) AS `{name}`")
            else:
                # column added after this file was written: resurrect the
                # value from the row's unconsumed payload residue
                exprs.append(
                    f"try_cast(element_at(`_extra`, '{name}') AS {sql_type(typ)}) "
                    f"AS `{name}`"
                )
            continue
        mode, casts = chain_for_column(name, changes_tail, name in src, [])
        if mode == "value":
            e = fold_cast_expr(f"`{name}`", casts, typ)
        elif mode == "extra":
            e = fold_cast_expr(f"element_at(`_extra`, '{name}')", casts, typ)
        elif mode == "null":
            e = f"CAST(NULL AS {sql_type(typ)})"
        else:  # no lineage in the tail: legacy resurrect
            e = f"try_cast(element_at(`_extra`, '{name}') AS {sql_type(typ)})"
        exprs.append(f"{e} AS `{name}`")
    return df.selectExpr(*exprs)


class LakeTable:
    #: range shards per delta commit (``merge``): each shard is
    #: one key-sorted file with tight footer ranges, so later point-set
    #: reads (``files_for_key_values``) skip deltas that cannot contain the
    #: probed keys. Size to ~cluster write parallelism in production; small
    #: here so per-batch file count stays bounded between compactions.
    append_shards = 4

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._meta = self._load_current()

    # ------------------------------------------------------------- metadata
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        fields: list[tuple[str, str]],
        key: tuple[str, ...] = ("repo", "path"),
        n_buckets: int = 16,
        table: str = "repos",
    ) -> "LakeTable":
        """Publish an empty table (version 0). ``n_buckets`` is the number of
        range-clustered files ``compact()`` folds the table into."""
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        meta = {
            "version": 0,
            "table": table,
            "key": list(key),
            "n_buckets": n_buckets,
            "schema_id": 0,
            "schemas": [{"schema_id": 0, "fields": [list(f) for f in fields]}],
            "schema_changes": [],
            "files": [],
            "truncate_lsn": -1,
            "last_batch": {"id": -1, "lsn_hwm": -1},
            "parent": None,
            "committed_at": time.time(),
        }
        cls._publish(root, meta)
        return cls(spark, root)

    @classmethod
    def exists(cls, root: str) -> bool:
        d = os.path.join(root, "metadata")
        return os.path.isdir(d) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(d)
        )

    @classmethod
    def open_or_create(
        cls, spark: SparkSession, root: str, **create_kw
    ) -> "LakeTable":
        """The table published at ``root``, else a new one made by
        :meth:`create` with ``create_kw`` (ignored for an existing table:
        its manifest is the source of truth)."""
        if cls.exists(root):
            return cls(spark, root)
        return cls.create(spark, root, **create_kw)

    @staticmethod
    def _publish(root: str, meta: dict, replace: bool = False) -> None:
        """Atomic manifest publish: stage then hard-link into place. The
        link(2) fails if the version already exists, so two writers racing
        to commit the same version cannot clobber each other — the loser
        gets ``FileExistsError`` and must refresh + retry (optimistic
        concurrency, like Iceberg's catalog swap). No publish -> the
        snapshot never existed (reference K4 semantics)."""
        mdir = os.path.join(root, "metadata")
        final = os.path.join(mdir, f"v{meta['version']}.json")
        tmp = os.path.join(mdir, f".tmp.v{meta['version']}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh, indent=1)
        if replace:
            os.rename(tmp, final)
            return
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {meta['version']} already published at {root}"
            ) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _load_current(self) -> dict:
        mdir = os.path.join(self.root, "metadata")
        versions = [
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        ]
        with open(os.path.join(mdir, f"v{max(versions)}.json")) as fh:
            return json.load(fh)

    def refresh(self) -> "LakeTable":
        self._meta = self._load_current()
        return self

    # ------------------------------------------------------------ accessors
    @property
    def meta(self) -> dict:
        return self._meta

    @property
    def version(self) -> int:
        return self._meta["version"]

    @property
    def key(self) -> tuple[str, ...]:
        return tuple(self._meta["key"])

    @property
    def n_buckets(self) -> int:
        return self._meta["n_buckets"]

    @property
    def truncate_lsn(self) -> int:
        return self._meta["truncate_lsn"]

    @property
    def last_batch(self) -> dict:
        return self._meta["last_batch"]

    def schema_fields(self, schema_id: int | None = None) -> list[tuple[str, str]]:
        sid = self._meta["schema_id"] if schema_id is None else schema_id
        for s in self._meta["schemas"]:
            if s["schema_id"] == sid:
                return [tuple(f) for f in s["fields"]]
        raise KeyError(f"unknown schema_id {sid}")

    # -------------------------------------------------------------- reading
    def _parsed_changes(self, meta: dict | None = None) -> list:
        """The manifest's raw change history replayed through the validity
        filter — a list of ``(lsn, parsed_dict_or_None)`` pairs in LSN order
        (None = skipped poison entry). Per-file ``change_lsn`` stamps select
        each file's unapplied tail as ``lsn > stamp``."""
        m = meta or self._meta
        base = next(
            [tuple(f) for f in s["fields"]]
            for s in m["schemas"]
            if s["schema_id"] == 0
        )
        raw = m.get("schema_changes", [])
        _, aligned, _ = replay_changes(base, raw, tuple(m["key"]))
        return [(int(l), c) for (l, _), c in zip(raw, aligned)]

    def _read_files(
        self,
        files: list[dict],
        target_fields: list[tuple[str, str]],
        changes: list[dict] | None = None,
    ) -> DataFrame:
        """Read manifest files projected to ``target_fields`` (+META); no
        files give an empty frame of that schema.
        Files are grouped by (schema_id, change_lsn) so each group is one
        pruned, pushdown-friendly parquet scan whose per-column cast chain
        (the changes with ``lsn > change_lsn`` — an LSN comparison, robust
        to late-arriving control events inserting mid-history) is folded
        into the scan projection. ``changes`` is ``_parsed_changes()``
        output: LSN-ordered ``(lsn, parsed_or_None)`` pairs."""
        if not files:
            return self.spark.createDataFrame([], _ddl(target_fields))
        by_grp: dict[tuple, list[str]] = {}
        for f in files:
            grp = (f["schema_id"], f.get("change_lsn"), f.get("change_idx"))
            by_grp.setdefault(grp, []).append(os.path.join(self.root, f["path"]))
        parts = []
        for (sid, clsn, cidx), paths in by_grp.items():
            src_fields = self.schema_fields(sid)
            if changes is None:
                tail = None
            elif clsn is not None:
                tail = [c for l, c in changes if l > clsn]
            elif cidx is not None:
                # pre-round-3 manifest: the stamp is a POSITION into the
                # raw history; honor it so an upgraded lake keeps folding
                # its retype chains (new commits re-stamp with the LSN)
                tail = [c for _l, c in changes[cidx:]]
            else:
                tail = None
            # typed scan under the manifest's schema, not one file's footer:
            # no inference job, and a column stored narrower than declared
            # (an INT32 _lsn written by older bootstraps) widens on read
            df = self.spark.read.schema(_ddl(src_fields)).parquet(*paths)
            parts.append(project_to(df, src_fields, target_fields, tail))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _load_version(self, version: int) -> dict:
        with open(os.path.join(self.root, "metadata", f"v{version}.json")) as fh:
            return json.load(fh)

    def _lww_resolve(self, df: DataFrame) -> DataFrame:
        """The max-LSN row per key: the delta files of several merges can
        hold several rows per key. At an exact LSN tie a tombstone wins
        (``dedupe_index.collapse_batch``'s rule). One partial-aggregated
        ``max_by`` per column, not one over a row struct: Spark drops the
        aggregates of columns a read never selects, so the scan stays
        column-pruned (a struct would be read whole)."""
        order = F.struct(F.col("_lsn"), F.col("_deleted"))
        return df.groupBy(*[_col(k) for k in self.key]).agg(
            *[
                F.max_by(_col(c), order).alias(c)
                for c in df.columns
                if c not in self.key
            ]
        )

    def resolve_live(
        self, df: DataFrame, truncate_lsn: int | None = None
    ) -> DataFrame:
        """Apply the table's visibility rule to raw (+META) rows: truncate
        watermark, LWW resolve, tombstone drop. The resolve runs BEFORE
        the tombstone drop, which would otherwise resurrect an older live
        row of a deleted key.
        Callers that pre-filter a ``scan_for_keys`` frame MUST filter by
        whole keys or key PREFIXES only — a predicate that split a key's
        rows across the filter would corrupt the LWW resolve."""
        t = self.truncate_lsn if truncate_lsn is None else truncate_lsn
        df = self._lww_resolve(df.filter(F.col("_lsn") > F.lit(t)))
        return df.filter(~F.col("_deleted"))

    def _live_view(self, files: list[dict]) -> DataFrame:
        """The table's ONE visibility rule — project ``files`` to the
        current schema, resolve LWW winners, and drop tombstones +
        truncated rows. Shared by ``read`` and ``lookup`` so the predicate
        can never drift."""
        return self.resolve_live(
            self._read_files(
                files, self.schema_fields(), changes=self._parsed_changes()
            )
        )

    def read(self, include_meta: bool = False, version: int | None = None) -> DataFrame:
        """Live view: tombstones and truncated rows filtered out. Pass
        ``version`` for time travel to any retained snapshot (each manifest
        is self-contained: file list + schema history + watermarks)."""
        meta = self._meta if version is None else self._load_version(version)
        if version is not None:
            # evaluate under that snapshot's schema + watermarks
            saved, self._meta = self._meta, meta
            try:
                return self.read(include_meta=include_meta)
            finally:
                self._meta = saved
        live = self._live_view(self._meta["files"])
        if include_meta:
            return live
        return live.select(*[f"`{n}`" for n, _ in self.schema_fields()])

    def diff(self, v_old: int, v_new: int | None = None) -> DataFrame:
        """Release notes between two retained snapshots: (key..., change_op)
        where change_op is ``added`` / ``removed`` / ``changed``, comparing
        the live views of version ``v_old`` and ``v_new`` (None = current).
        One full-outer equi-join on the table key with map-side payload
        fingerprints — see :func:`cdc_spark.functions.versioning.frame_diff`."""
        from .functions.versioning import frame_diff

        old = self.read(version=v_old)
        new = self.read(version=v_new)
        return frame_diff(old, new, list(self.key))

    # -------------------------------------------------------------- lookups
    def _files_for_key(self, key_value: tuple) -> list[dict]:
        """Manifest files whose first-key-column footer [min, max] can
        contain ``key_value``. Driver-side metadata math only — no scan,
        no job."""
        kv = tuple(key_value)
        if len(kv) != len(self.key):
            raise ValueError(f"expected {len(self.key)} key values, got {len(kv)}")
        return self.files_for_key_values([kv[0]])

    def files_for_key_values(self, values) -> list[dict]:
        """Manifest files whose first-key-column footer ranges can contain
        ANY of ``values`` — the point-SET analog of ``_files_for_key``:
        driver-side interval-vs-sorted-list intersection over file metadata,
        no scan, no job. Files without stats are always kept (pruning may
        only skip provably irrelevant files); ``values=None`` disables
        pruning (all files — the over-cap fallback)."""
        import bisect

        if values is None:
            return list(self._meta["files"])
        vals = sorted(v for v in set(values) if v is not None)
        out = []
        for f in self._meta["files"]:
            lo, hi = f.get("min_key"), f.get("max_key")
            if lo is None or hi is None:
                out.append(f)
                continue
            try:
                i = bisect.bisect_left(vals, lo)
                if i < len(vals) and vals[i] <= hi:
                    out.append(f)
            except TypeError:  # mixed-type stats vs values: keep the file
                out.append(f)
        return out

    def scan_for_keys(
        self, values, version: int | None = None
    ) -> DataFrame:
        """RAW projected rows (+META — no LWW resolve, no live filter) read
        from ONLY the files that can contain any of the first-key-column
        ``values``. The caller narrows to its exact keys (whole keys or key
        prefixes), then applies :meth:`resolve_live` — together an
        O(probed-keys x file-size) point-set read instead of an O(table)
        scan, the shape that keeps per-batch index lookups flat as the
        table grows 100x. ``version`` reads an older retained snapshot
        (e.g. the pre-batch state during a crash replay). Records
        ``last_scan_stats = {files_total, files_read}`` for IO assertions."""
        meta = self._meta if version is None else self._load_version(version)
        saved, self._meta = self._meta, meta
        try:
            files = self.files_for_key_values(values)
            self.last_scan_stats = {
                "files_total": len(meta["files"]),
                "files_read": len(files),
            }
            return self._read_files(
                files, self.schema_fields(), changes=self._parsed_changes()
            )
        finally:
            self._meta = saved

    def lookup(self, key_value: tuple) -> DataFrame:
        """Point lookup for one key: scans ONLY the files whose footer key
        range can contain it (one compacted file plus the deltas whose
        range covers the key — the O(1)-ish read the per-file footer stats
        buy)."""
        live = self._live_view(self._files_for_key(key_value))
        cond = None
        for k, v in zip(self.key, key_value):
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else (cond & c)
        return live.filter(cond).select(
            *[f"`{n}`" for n, _ in self.schema_fields()]
        )

    # -------------------------------------------------------------- merging
    def _shard(self, df: DataFrame, n_shards: int) -> DataFrame:
        """Range-partition ``df`` on the key into ``n_shards`` partitions,
        each written as one file with a tight footer range (point reads
        skip files that miss a key)."""
        return df.repartitionByRange(
            max(1, int(n_shards)), *[F.col(k) for k in self.key]
        )

    def _write_files(
        self, df: DataFrame, version: int, schema_id: int, change_lsn: int
    ) -> list[dict]:
        """Write each partition of ``df`` (``_shard`` output) as one
        key-sorted file to a fresh per-attempt staging dir and return their
        manifest entries. A writer that loses the manifest race leaves only
        orphans there (GC'd by expire_snapshots), never clobbers the
        winner's published data. Empty files are not listed."""
        rel = f"data/v{version}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.root, rel)
        df.sortWithinPartitions(*self.key).write.mode("overwrite").parquet(
            out_dir
        )
        out = []
        for part in sorted(os.listdir(out_dir)):
            if not part.endswith(".parquet"):
                continue
            mn, mx, nrows = _file_key_stats(
                os.path.join(out_dir, part), self.key[0]
            )
            if nrows:
                out.append(
                    {
                        "path": f"{rel}/{part}",
                        "schema_id": schema_id,
                        "change_lsn": change_lsn,
                        "min_key": mn,
                        "max_key": mx,
                        "rows": nrows,
                    }
                )
        return out

    def merge(
        self,
        batch_df: DataFrame | None,
        batch_id: int,
        lsn_hwm: int,
        new_schemas: list[dict] | None = None,
        new_schema_id: int | None = None,
        new_truncate_lsn: int | None = None,
        extra_summary: dict | None = None,
        new_schema_changes: list | None = None,
    ) -> dict:
        """Append a batch as delta files + single atomic commit.

        ``batch_df`` must carry the FINAL (post-batch) schema fields + META;
        reads resolve the max-LSN row per key across every delta, so no old
        file is read or rewritten and the commit costs O(batch).
        ``new_schemas`` / ``new_schema_id`` publish schema evolution that
        happened inside the batch; ``new_truncate_lsn`` publishes a table
        truncate. Idempotent: a batch_id at or below the last committed one
        is skipped wholesale (exactly-once under Spark's replay-on-restart,
        E2). ``info["strategy"]`` is ``"append"``, or None for a
        manifest-only commit (no batch rows). ``info`` also carries the
        commit's lineage, counted on the write itself: ``rows`` appended,
        ``deletes`` among them, and their ``min_lsn`` / ``max_lsn`` (0, 0,
        None, None for a manifest-only commit).
        """
        cur = self._meta
        if batch_id <= cur["last_batch"]["id"]:
            return {"skipped": True, "version": cur["version"], "batch_id": batch_id}

        schema_id = new_schema_id if new_schema_id is not None else cur["schema_id"]
        truncate_lsn = (
            max(cur["truncate_lsn"], new_truncate_lsn)
            if new_truncate_lsn is not None
            else cur["truncate_lsn"]
        )
        new_version = cur["version"] + 1
        history = (
            new_schema_changes
            if new_schema_changes is not None
            else cur.get("schema_changes", [])
        )
        # LSN stamp: every change in the post-commit history is folded into
        # the values this merge writes, so the files' unapplied tail is
        # exactly the changes with lsn > this stamp (late-arriving lower-LSN
        # control events land BELOW it and are never replayed onto values
        # that already reflect them — see the manifest docstring)
        change_lsn = max((int(l) for l, _ in history), default=-1)
        written: list[dict] = []
        strategy = None
        counts = {"rows": 0, "deletes": 0, "min_lsn": None, "max_lsn": None}
        if batch_df is not None:
            # observed ABOVE the range exchange: below it, the range
            # partitioner's sampling job would run the counters a second time
            obs = Observation()
            written = self._write_files(
                self._shard(batch_df, self.append_shards).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.count(F.when(F.col("_deleted"), 1)).alias("deletes"),
                    F.min("_lsn").alias("min_lsn"),
                    F.max("_lsn").alias("max_lsn"),
                ),
                new_version, schema_id, change_lsn,
            )
            counts = obs.get
            strategy = "append"

        meta = {
            "version": new_version,
            "table": cur["table"],
            "key": cur["key"],
            "n_buckets": cur["n_buckets"],
            "schema_id": schema_id,
            "schemas": new_schemas if new_schemas is not None else cur["schemas"],
            "schema_changes": history,
            "files": written + cur["files"],
            "truncate_lsn": truncate_lsn,
            "last_batch": {"id": batch_id, "lsn_hwm": max(lsn_hwm, cur["last_batch"]["lsn_hwm"])},
            "parent": cur["version"],
            "committed_at": time.time(),
        }
        if extra_summary:
            meta["summary"] = extra_summary
        self._publish(self.root, meta)
        self._meta = meta
        return {
            "skipped": False,
            "version": new_version,
            "batch_id": batch_id,
            "files_written": len(written),
            "strategy": strategy,
            **counts,
        }

    # ----------------------------------------------------------- compaction
    def compact(self, tombstone_watermark_lsn: int | None = None) -> dict:
        """Fold the delta files into ``n_buckets`` range-clustered files with
        one row per key, dropping truncated rows and tombstones whose
        LSN is below ``tombstone_watermark_lsn`` (only safe once the source
        guarantees no event older than that watermark can still arrive —
        the engine analog of advancing the reference's replication slot via
        ``send_feedback``, ``postgres_logical.py:186-198``)."""
        cur = self._meta
        if not cur["files"]:
            return {"version": cur["version"], "compacted": 0}
        parsed_changes = self._parsed_changes()
        df = self._read_files(
            cur["files"], self.schema_fields(), changes=parsed_changes
        ).filter(F.col("_lsn") > F.lit(cur["truncate_lsn"]))
        # the range exchange clusters every key's rows in one partition, so
        # the resolve runs in place (no second exchange). It runs BEFORE
        # the tombstone sweep: dropping a tombstone first would resurrect
        # an older live row for the same key still sitting in an earlier
        # delta
        df = self._lww_resolve(self._shard(df, self.n_buckets))
        if tombstone_watermark_lsn is not None:
            df = df.filter(
                (~F.col("_deleted")) | (F.col("_lsn") > F.lit(tombstone_watermark_lsn))
            )
        new_version = cur["version"] + 1
        files = self._write_files(
            df, new_version, cur["schema_id"],
            max((l for l, _ in parsed_changes), default=-1),
        )
        meta = dict(cur)
        meta.update(
            version=new_version, files=files, parent=cur["version"],
            committed_at=time.time(),
        )
        self._publish(self.root, meta)
        self._meta = meta
        return {"version": new_version, "compacted": len(files)}

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_s: float = 3600.0
    ) -> dict:
        """Retention: drop manifests older than the newest ``keep_last`` and
        delete data files referenced only by them (Iceberg expire_snapshots
        semantics — the engine analog of the reference's WAL reclamation via
        ``send_feedback``, which lets Postgres discard acked segments).

        Also GCs ORPHAN data files — files under ``data/`` referenced by no
        manifest at all: the staging leftovers of crashed or
        concurrency-losing writers (each merge attempt stages under a unique
        dir, so a loser's files are guaranteed unreferenced). Only files
        older than ``orphan_grace_s`` are touched, so an in-flight writer's
        fresh staging dir is never swept from under it."""
        import time as _time

        mdir = os.path.join(self.root, "metadata")
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        keep = set(versions[-keep_last:])
        drop = [v for v in versions if v not in keep]
        live_files = set()
        for v in keep:
            live_files.update(f["path"] for f in self._load_version(v)["files"])
        removed = 0
        for v in drop:
            for f in self._load_version(v)["files"]:
                if f["path"] not in live_files:
                    p = os.path.join(self.root, f["path"])
                    if os.path.exists(p):
                        os.unlink(p)
                        removed += 1
            os.unlink(os.path.join(mdir, f"v{v}.json"))
        # orphan sweep: anything on disk no remaining manifest references.
        # Eligibility is tied to COMMIT LINEAGE, not just mtime: a staging
        # dir is named data/v<N>-<attempt>, and the attempt at version N is
        # decided only once some vN manifest is published — so files under
        # dirs with N > the newest published version belong to an in-flight
        # writer and are NEVER swept, no matter how long its (huge/slow)
        # staging write has been running. The mtime grace remains as a
        # second guard for decided versions.
        referenced = set(live_files)
        newest = max(versions) if versions else -1
        data_root = os.path.join(self.root, "data")
        orphans_removed = 0
        cutoff = _time.time() - orphan_grace_s
        if os.path.isdir(data_root):
            for dirpath, _dirs, files in os.walk(data_root):
                dirname = os.path.relpath(dirpath, data_root).split(os.sep)[0]
                try:
                    dir_version = int(dirname.split("-")[0].lstrip("v"))
                except ValueError:
                    dir_version = -1  # unrecognized layout: mtime-only rule
                for fn in files:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.root)
                    if rel in referenced or dir_version > newest:
                        continue
                    try:
                        if os.path.getmtime(full) <= cutoff:
                            os.unlink(full)
                            orphans_removed += 1
                    except OSError:
                        pass  # concurrent sweep / writer finishing up
        # sweep now-empty data dirs (same in-flight guard: only decided
        # versions — an active writer's staging/_temporary dirs hold no
        # .parquet direct children yet and must not be rmtree'd)
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                full = os.path.join(data_root, d)
                try:
                    if int(d.split("-")[0].lstrip("v")) > newest:
                        continue
                except ValueError:
                    pass
                for sub in sorted(os.listdir(full)):
                    subp = os.path.join(full, sub)
                    # emptiness must be checked RECURSIVELY: older lakes
                    # keep live data files in bucket partition dirs below
                    # the version dir, and a direct-children check would
                    # rmtree them
                    if os.path.isdir(subp) and not any(
                        x.endswith(".parquet")
                        for _, _, fn in os.walk(subp)
                        for x in fn
                    ):
                        import shutil

                        shutil.rmtree(subp, ignore_errors=True)
                if not os.listdir(full):
                    os.rmdir(full)
        return {
            "expired_versions": drop,
            "files_removed": removed,
            "orphans_removed": orphans_removed,
        }

    def snapshot_log(self) -> list[dict]:
        """All manifests oldest-first (time travel / lineage audit)."""
        mdir = os.path.join(self.root, "metadata")
        out = []
        for f in sorted(
            (f for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")),
            key=lambda f: int(f[1:-5]),
        ):
            with open(os.path.join(mdir, f)) as fh:
                out.append(json.load(fh))
        return out
