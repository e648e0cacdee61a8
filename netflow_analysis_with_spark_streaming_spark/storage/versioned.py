"""Versioned parquet tables: a dependency-free Delta-style table
format — manifest-log snapshots, time travel, copy-on-write upsert,
idempotent streaming commits.

The reference's store (Mongo upserted per record, README.md:132-153)
has no snapshot isolation, no history and no replay safety. Real
lakehouse formats (Delta/Iceberg/Hudi) solve this with an append-only
metadata log; this module implements the same core construction on
plain parquet + JSON, because the container ships no lakehouse jars:

- ``_log/{version:08d}.json`` manifests are immutable and list the
  COMPLETE data-file set visible at that version (copy-forward), so a
  reader of version N never sees a torn write: data files are written
  BEFORE the manifest, and the manifest appears atomically via a
  create-if-absent hard link. That link IS the multi-writer fence
  (Delta's "mutual exclusion on log record creation"): two committers
  racing for the same version number produce exactly one winner; the
  loser's stale-snapshot commit raises ``CommitConflictError`` instead
  of silently clobbering the winner's manifest, and the caller
  re-reads and retries (appends are order-independent, so a refreshed
  retry is always safe; replayed streaming batch ids resolve to
  no-ops on retry).
- past ``_DELTA_LOG_MIN_FILES`` live groups a record is instead a
  protocol-4 DELTA against its parent (O(change) bytes), with every
  ``_CHECKPOINT_EVERY``-th record written as a full manifest inline;
  ``_manifest`` replays a delta chain forward from the nearest full
  record. The ``_log/NNNNNNNN.json`` records alone define every
  snapshot — nothing else in ``_log`` is read.
- time travel = read any old manifest; history() lists the log.
- ``upsert`` is copy-on-write MERGE: current snapshot anti-joined on
  the key, unioned with the updates, written as a new snapshot — all
  distributed DataFrame ops, nothing row-shaped on the driver.
- streaming exactly-once: each manifest records the foreachBatch
  ``batch_id`` that produced it; a replayed batch id is a no-op
  BEFORE any write (same idempotent-commit construction as
  streaming/sinks.IdempotentParquetSink, lifted to table semantics).

Scale notes: manifests list file paths, so the log grows with commit
count, not data size; compaction folds small files. File-group
min/max stats ARE kept (the data-skipping index ``read``/``
snapshot_files`` prune with), range/z-order clustering keeps them
tight, and CHECK constraints are enforced at commit time. Reads go
through ``spark.read.parquet(*files)`` so all normal pushdown applies
within a snapshot.
"""

from __future__ import annotations

import base64
import datetime as _dt
import hashlib
import json
import os
import shutil
import time
import uuid
from decimal import Decimal, InvalidOperation
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

# --- bloom point-lookup index -------------------------------------------
# Per-file-group bloom filters over a column (Delta's bloom filter
# index analog): the build side hashes every row ENGINE-SIDE with
# md5() (a built-in, whole-stage codegen, no UDF) and the probe side
# replays the identical md5 in pure Python — so pruning needs no
# SparkSession and no cross-engine hash to stay in sync. Stored in the
# manifest per file group under the reserved stats key "__bloom__"
# (column names never collide: it is not a legal min/max entry).
# m=4096 bits / k=3 hashes => ~1% false positives at ~600 distinct
# keys per group, 512 bytes of manifest per (group, column).
_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_KEY = "__bloom__"
# exact row count of the file group, recorded AT WRITE TIME (from the
# count the stats agg already computes, or the just-written parquet
# footers — never a data scan). Powers metadata-only COUNT(*)
# (count_rows): at 100 TB an unfiltered count is a manifest read, not
# a table scan. Reserved like __bloom__ — not a min/max column.
_ROWS_KEY = "__rows__"
# stats entries that are not min/max columns; every site that derives
# "which columns have stats" must exclude these
_RESERVED_STATS_KEYS = frozenset({_BLOOM_KEY, _ROWS_KEY})
# compaction folds EVERY group's keys into one bloom, so the fixed
# per-group m saturates past ~1.5k distinct keys (~100% false
# positives while still paying a full-scan build job per column).
# compact() therefore sizes m from an approx distinct count — up to
# this ceiling (32 KiB of manifest per column, ~60k keys at <=50%
# fill); above it the column's bloom is dropped and the compacted
# group falls back to conservative (never-pruned) point reads.
_BLOOM_M_MAX = 1 << 18
# merge sources with at most this many DISTINCT keys probe per-group
# bloom indexes value-by-value (a bounded driver-side loop over the
# collected keys — the CDC / targeted-upsert case); bigger sources
# fall back to range pruning only
_MERGE_BLOOM_PROBE_MAX = 1024

# manifest protocol implemented by this module: bump when a manifest
# field changes READ semantics (e.g. a future tombstone format) so
# older readers fail loudly instead of returning wrong data.
# 2 = deletion vectors ("dvs"); 3 = column mapping ("column_mapping" /
# "retired_physical" — metadata-only RENAME/DROP COLUMN); 4 = delta-
# encoded commit records ("delta_of" + add/remove diffs against the
# parent snapshot, materialized back to a full snapshot on read). A
# table stamps the LOWEST protocol each record actually needs (a
# no-mapping full manifest stays at 2, readable by protocol-2
# readers) — Delta's feature-gated protocol discipline.
_WRITER_VERSION = 4
_WRITER_VERSION_MAPPING = 3
_WRITER_VERSION_NO_MAPPING = 2

# --- delta-encoded commit records (protocol 4) ---------------------------
# FORMAT.md's "known scale trade-off": a full manifest lists the
# snapshot's COMPLETE file-group set, so at N live groups every commit
# writes O(N) metadata and the log grows O(N^2). Past
# _DELTA_LOG_MIN_FILES live groups, commits instead write a DELTA
# record (adds/removes/stat+DV diffs against the parent — O(change)
# bytes), and every _CHECKPOINT_EVERY-th version writes its record as
# a FULL manifest inline, bounding read-side replay. The records alone
# define every snapshot. Small tables (and therefore protocol-2/3
# readers of them) are untouched: below the threshold every record is
# a full manifest.
_DELTA_LOG_MIN_FILES = 64
_CHECKPOINT_EVERY = 16
# commits that may DELETE their own manifest on a detected race
# (restore's vacuum-race rollback) must stay full: unlinking a delta
# record a concurrent commit already chained on would orphan the chain
_ALWAYS_FULL_ACTIONS = frozenset({"restore"})


def _stamp_protocol(
    column_mapping: dict | None, retired_physical: list | None
) -> int:
    """The LOWEST writer protocol a FULL manifest's features need —
    the single source of truth for the stamp, shared by _commit and
    vacuum's checkpoint rewrite so a future feature can't be stamped
    differently on the two paths (delta records always stamp
    _WRITER_VERSION directly)."""
    return (
        _WRITER_VERSION_MAPPING
        if (column_mapping or retired_physical)
        else _WRITER_VERSION_NO_MAPPING
    )

# --- change-feed action classification -----------------------------------
# EVERY action string a commit path can write must appear in exactly one
# of these sets — they are the single source of truth for feed_slices /
# read_change_feed, and tests/test_versioned.py's meta-test AST-scans the
# module's _commit call sites against them. Without that closed-world
# check, a future commit path with a new action string would wedge feed
# consumers at RUNTIME (an unclassified-action ValueError mid-stream)
# instead of failing a test at development time.
#
# row-preserving rewrites: same rows, new files — a feed window slides
# its file baseline across them and emits nothing
_FEED_ROW_PRESERVING = frozenset(
    {"compact", "rewrite_clustered", "rewrite_zordered", "analyze"}
)
# pure additions: the new file groups ARE the inserted rows. `clone`
# belongs here because a clone's version 0 has no predecessor in the
# DEST table — every file group is new to this table, so a feed window
# opened at 0 correctly reports the entire cloned snapshot as inserts
# (the clone does NOT import the source's change history).
_FEED_INSERT_ACTIONS = frozenset({"append", "clone"})
# capture-emitting: removed rows come from the commit's captured change
# group (delete_where / delete_where_dv with emit_changes=True);
# un-captured raises
_FEED_CAPTURE_ACTIONS = frozenset({"delete", "delete_dv"})
# typed-capture: the capture group carries BOTH directions, tagged
# per row in an embedded _change_type column (an update = delete of
# the preimage + insert of the postimage — merge/upsert with
# emit_changes=True, the Delta CDF-for-MERGE analog). Un-captured
# raises, exactly like the delete family — merge used to be an
# unconditional feed wall; now only an uncaptured one is.
_FEED_TYPED_CAPTURE_ACTIONS = frozenset({"merge", "upsert", "replace_where"})
# feed-breaking by construction: the rowset change is not derivable from
# manifests alone — consumers must recompute from a full snapshot
_FEED_BREAKING_ACTIONS = frozenset(
    {
        "overwrite",
        "restore",
        # schema-shape changes: a running stream cannot re-negotiate
        # its output schema mid-flight (Spark's own restriction), so a
        # rename/drop is a feed wall — consumers restart from a fresh
        # window, whose mapping is then constant end-to-end (the
        # invariant the partition readers rely on)
        "rename_column",
        "drop_column",
    }
)
_FEED_ALL_ACTIONS = (
    _FEED_ROW_PRESERVING
    | _FEED_INSERT_ACTIONS
    | _FEED_CAPTURE_ACTIONS
    | _FEED_TYPED_CAPTURE_ACTIONS
    | _FEED_BREAKING_ACTIONS
)
# what feed_slices(skip_change_commits=True) — Delta's
# skipChangeCommits — deliberately ignores: every file-CHANGING
# data operation, captured or not (insert-only consumption).
# Overwrite/restore/rename stay walls even then.
_SKIPPABLE_CHANGE_ACTIONS = (
    _FEED_CAPTURE_ACTIONS | _FEED_TYPED_CAPTURE_ACTIONS
)


def _footer_rows(abs_dir: str) -> int:
    """Exact row count of every parquet file under ``abs_dir``, read
    from the FOOTERS (file metadata) only — no data pages, no Spark
    job. Cost is one small metadata read per file: fine at write time
    (bounded by the files just written) and as the count_rows()
    fallback for legacy groups committed before __rows__ existed."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _dirnames, filenames in os.walk(abs_dir):
        for fn in filenames:
            if fn.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(dirpath, fn)).num_rows
    return total


def _as_datetime(col: str, v: object) -> _dt.datetime:
    """A temporal prune bound or stat as a naive local datetime — the
    form Spark collects timestamps in: ISO strings are parsed (the
    manifest JSON-stringifies temporal stats), dates widen to
    midnight (Spark's date-to-timestamp comparison), aware datetimes
    move to local time. Anything else raises a ValueError naming the
    column."""
    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v)
        except ValueError:
            raise ValueError(
                f"prune bound {v!r} for temporal column {col!r} is not "
                "an ISO date or timestamp"
            ) from None
    if isinstance(v, _dt.datetime):
        return v.astimezone().replace(tzinfo=None) if v.tzinfo else v
    if isinstance(v, _dt.date):
        return _dt.datetime.combine(v, _dt.time())
    raise ValueError(
        f"prune bound {v!r} for temporal column {col!r} is not a date, "
        "datetime or ISO string"
    )


def _stat_types(schema_json: str) -> dict[str, str]:
    """Column name -> type name from a record's schema JSON, every
    decimal precision folded to ``"decimal"`` — the ordering the
    skipping rule compares a column's bounds and stats under."""
    out = {}
    for f in json.loads(schema_json)["fields"]:
        t = f["type"]
        if isinstance(t, dict):
            t = t["type"]
        out[f["name"]] = "decimal" if t.startswith("decimal") else t
    return out


def _ordered(col: str, typ: str | None, v: object) -> object:
    """A prune bound or stat in its column type's order: dates and
    timestamps as datetimes, decimals as ``Decimal`` (the manifest
    JSON-stringifies both), anything else as is; None stays None."""
    if v is None:
        return None
    if typ in ("date", "timestamp", "timestamp_ntz"):
        return _as_datetime(col, v)
    if typ == "decimal" and not isinstance(v, Decimal):
        try:
            return Decimal(str(v))
        except InvalidOperation:
            raise ValueError(
                f"prune bound {v!r} for decimal column {col!r} is not a number"
            ) from None
    return v


def _group_may_match(
    stats: dict,
    types: dict[str, str],
    ranges=(),
    points=(),
) -> bool:
    """THE data-skipping rule: may a file group with manifest ``stats``
    hold a row matching every ``(col, lo, hi)`` range and every
    ``(col, values)`` point? ``types`` (``_stat_types``) orders each
    column's bounds and stats; a None bound is an open end. A group is
    dropped only when its stats PROVE no row can match — its [min, max]
    misses a range, or its bloom for a point's column holds none of the
    values. Missing stats, a NULL min/max or no bloom keep it. Raises a
    ValueError naming the column for bounds that cannot be compared, a
    ValueError for a NULL point, and a TypeError for a probe type the
    bloom cannot hash."""
    for col, values in points:
        if any(v is None for v in values):
            # the build side never indexes NULL keys, so a NULL probe
            # would prune groups that DO hold NULL rows
            raise ValueError(
                "bloom point lookup of NULL is not supported; "
                "use a full read with an IS NULL filter"
            )
        b = (stats.get(_BLOOM_KEY) or {}).get(col)
        if b:
            bits = base64.b64decode(b["b64"])
            if not any(
                all(
                    (bits[p // 8] >> (p % 8)) & 1
                    for p in _bloom_positions_py(v, b["m"], b["k"])
                )
                for v in values
            ):
                return False
    for col, lo, hi in ranges:
        typ = types.get(col)
        lo, hi = _ordered(col, typ, lo), _ordered(col, typ, hi)
        s = stats.get(col)
        if not s or s[0] is None or s[1] is None:
            continue
        flo, fhi = _ordered(col, typ, s[0]), _ordered(col, typ, s[1])
        try:
            if (lo is not None and fhi < lo) or (hi is not None and flo > hi):
                return False
        except (TypeError, InvalidOperation):
            raise ValueError(
                f"prune bounds ({lo!r}, {hi!r}) are not comparable "
                f"with the stats of column {col!r}"
            ) from None
    return True


def _bloom_positions_py(value: object, m: int = _BLOOM_M, k: int = _BLOOM_K) -> list[int]:
    """Probe-side bit positions. MUST mirror _bloom_position_cols:
    md5(f"{i}:{value}") first 8 hex digits as an int, mod m. ``value``
    is rendered with str(), which matches Spark's CAST(col AS STRING)
    for integer and string columns — the ONLY supported key types: a
    bool ("True" vs Spark's "true"), float ("1.0" vs "1.0"-ish repr
    drift) or date would hash differently on the two sides and turn
    the no-false-negative guarantee into silent wrong pruning, so
    anything else is rejected loudly."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            "bloom index keys must be integer or string columns; got "
            f"{type(value).__name__!s} probe {value!r}"
        )
    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def _bloom_position_cols(col: str, m: int = _BLOOM_M, k: int = _BLOOM_K):
    """Build-side bit positions as k JVM column expressions."""
    from pyspark.sql import functions as F

    return [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col(col).cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m
        )
        for i in range(k)
    ]


class CommitConflictError(RuntimeError):
    """A concurrent writer published this version first: the failed
    writer's snapshot (the file list it copied forward) is stale.
    Re-read the table state and retry the operation; nothing was
    committed and no data files are referenced by any manifest."""


class ConstraintViolationError(ValueError):
    """A write contained rows violating a CHECK constraint; nothing
    was committed. SQL CHECK semantics: a row violates only when the
    predicate evaluates to FALSE — NULL passes."""


class SchemaEvolutionError(ValueError):
    """An append's schema conflicts with the table's on a shared
    column (e.g. string vs long): the write is rejected BEFORE any
    file lands. Without this gate the conflict would surface only at
    the next mergeSchema READ — after the bad files are already
    committed and every reader is broken. Additive changes (new
    columns) and numeric widening (byte<short<int<long,
    float<double) evolve the table schema instead."""


def resolve_table_root(root: str) -> str:
    """Resolve a table ``root`` to the plain filesystem path every
    entry point uses. SQL DDL (``CREATE TABLE ... USING
    versioned_table OPTIONS (path ...)``) hands the option back
    catalog-QUALIFIED (``file:/x`` or ``file:///x``) rather than as
    the literal string the user wrote; the engine is
    local-filesystem-scoped, so a ``file:`` URI unwraps to its path
    and any other scheme refuses loudly instead of being treated as a
    relative directory name. Called by ``VersionedTable.__init__``
    itself (not just the sink/source option parsers): before that, a
    raw ``VersionedTable("file:///x/t")`` silently created a literal
    ``file:/`` junk tree under the CWD and read as an EMPTY table —
    a mistyped or catalog-qualified root yielded zero rows instead of
    an error."""
    if ":" not in root.split("/", 1)[0]:
        return root  # plain path (no scheme before the first slash)
    from urllib.parse import unquote, urlparse

    u = urlparse(root)
    if u.scheme == "file":
        if u.netloc not in ("", "localhost"):
            # file://host/x names a REMOTE authority — silently
            # resolving it to the local /x would open (or commit
            # into) a different table than the one named
            raise ValueError(
                f"versioned table paths are local-filesystem only; "
                f"{root!r} names remote authority {u.netloc!r}"
            )
        return unquote(u.path)
    raise ValueError(
        f"versioned table paths are local-filesystem only; got scheme "
        f"{u.scheme!r} in {root!r}"
    )


class VersionedTable:
    """A managed, versioned parquet table rooted at ``root``."""

    def __init__(
        self,
        root: str,
        *,
        delta_log_min_files: int | None = None,
        checkpoint_every: int | None = None,
    ) -> None:
        self.root = resolve_table_root(root)
        root = self.root
        self._log = os.path.join(root, "_log")
        self._data = os.path.join(root, "data")
        self._changes_dir = os.path.join(root, "changes")
        self._dv_dir = os.path.join(root, "dv")
        # delta-log knobs are WRITER-side only (every reader handles
        # both record forms): threshold below which commits stay full
        # manifests, and the full-checkpoint cadence in delta mode.
        # Overridable per handle for tests and tuning; mixed-handle
        # writers on one table are fine — the encoding is a per-commit
        # choice.
        self._delta_min = (
            _DELTA_LOG_MIN_FILES
            if delta_log_min_files is None
            else delta_log_min_files
        )
        self._ckpt_every = (
            _CHECKPOINT_EVERY if checkpoint_every is None else checkpoint_every
        )
        # materialized-snapshot memo for delta chains (records are
        # immutable once published; vacuum's checkpoint rewrite
        # invalidates its entry explicitly)
        self._mat_cache: dict[int, dict] = {}
        # incremental idempotency read-set (committed_batch_ids):
        # batch ids folded from versions <= _batch_scan_hwm
        self._batch_ids: set = set()
        self._batch_scan_hwm: int = -1
        os.makedirs(self._log, exist_ok=True)
        os.makedirs(self._data, exist_ok=True)

    # --- log plumbing ------------------------------------------------------

    def versions(self) -> list[int]:
        # strict NNNNNNNN.json match: a concurrent writer's staged
        # ".tmp-<uuid>.json" is momentarily visible in _log between its
        # write and unlink, and int("") on its empty first dot-segment
        # crashed any concurrent listing (latent until multi-writer
        # fencing made concurrent listings normal)
        return sorted(
            int(f[:-5])
            for f in os.listdir(self._log)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _load_record(self, version: int) -> dict:
        """One on-disk commit record, protocol-gated but NOT
        materialized — may be a full manifest or a protocol-4 delta
        record (has ``delta_of``)."""
        with open(os.path.join(self._log, f"{version:08d}.json"), encoding="utf-8") as f:
            m = json.load(f)
        # protocol gate (Delta's minReaderVersion): a manifest written
        # by a FUTURE writer may rely on semantics this reader does not
        # implement (the next deletion-vector-style feature) — reading
        # it as if it were current silently returns wrong data, so
        # fail loudly instead. Absent stamp = protocol 1 (pre-stamp
        # tables stay readable).
        wv = m.get("writer_version", 1)
        if wv > _WRITER_VERSION:
            raise ValueError(
                f"table {self.root} version {version} was written by "
                f"protocol {wv}; this reader implements protocol "
                f"{_WRITER_VERSION} — upgrade before reading"
            )
        return m

    def _manifest(self, version: int) -> dict:
        """The FULL materialized snapshot manifest of ``version``. For
        a full record this is the record itself; for a delta record
        (protocol 4) ``_materialize`` replays the chain back to the
        nearest full record. Memoized per handle (records are
        immutable; the memo is checked first, so hits skip the disk
        read). FileNotFoundError propagates when the version's OWN
        record is gone (genuinely vacuumed)."""
        hit = self._mat_cache.get(version)
        if hit is not None:
            return hit
        rec = self._load_record(version)
        m = rec if "delta_of" not in rec else self._materialize(version, rec)
        # small bound: a materialized snapshot is O(live files) in
        # memory (10s of MB at 1e5 groups), and ascending walks only
        # need the immediate predecessor to stay O(1) per version —
        # worst case after a clear is one replay to the nearest
        # checkpoint (< _CHECKPOINT_EVERY records)
        if len(self._mat_cache) > 8:
            self._mat_cache.clear()
        self._mat_cache[version] = m
        return m

    def _materialize(self, version: int, rec: dict) -> dict:
        """Replay ``version``'s delta record ``rec`` forward from the
        nearest full record (or memoized snapshot) behind it — the one
        chain walk every reader, vacuum and the floor-checkpoint
        rewrite share. A vacuum racing the walk can delete an ancestor
        AFTER rewriting the oldest survivor as a full checkpoint: the
        walk then restarts from a re-read top record, which now
        resolves through the rewritten checkpoint. A hole that
        persists across retries (a crash mid-vacuum left a doomed
        suffix) surfaces as FileNotFoundError."""
        for attempt in range(6):
            chain, base = [], rec
            try:
                while "delta_of" in base:
                    chain.append(base)
                    v = base["delta_of"]
                    base = self._mat_cache.get(v) or self._load_record(v)
                break
            except FileNotFoundError:
                if attempt == 5:
                    raise
                rec = self._load_record(version)
        return self._fold_chain(chain, base) if chain else base

    @staticmethod
    def _fold_chain(chain: list, base: dict) -> dict:
        """Fold delta records (newest-first ``chain``) onto a FULL
        ``base`` snapshot, returning the top version's materialized
        manifest. Pure function of its inputs."""
        files = set(base["files"])
        stats = dict(base.get("stats") or {})
        dvs = {g: list(x) for g, x in (base.get("dvs") or {}).items()}
        for r in reversed(chain):
            for f in r["remove_files"]:
                files.discard(f)
                stats.pop(f, None)
            files.update(r["add_files"])
            stats.update(r.get("stats_set") or {})
            for f in r.get("stats_del") or ():
                stats.pop(f, None)
            for g in r.get("dvs_del") or ():
                dvs.pop(g, None)
            dvs.update(
                {g: list(x) for g, x in (r.get("dvs_set") or {}).items()}
            )
        top = chain[0]
        m = {
            "version": top["version"],
            "writer_version": top["writer_version"],
            "ts": top["ts"],
            "action": top["action"],
            "files": sorted(files),
            "n_files": top["n_files"],
            "schema": top["schema"],
            "batch_id": top.get("batch_id"),
            "stats": {f: s for f, s in stats.items() if f in files},
            "changes": top.get("changes"),
            "dvs": dvs,
        }
        for k in ("column_mapping", "retired_physical", "provenance"):
            if k in top:
                m[k] = top[k]
        return m

    def _manifests(self):
        """All manifests MATERIALIZED, tolerant of a concurrent vacuum
        unlinking an old version between the listing and the open (the
        reader keeps the surviving history — exactly what vacuum's
        forfeit means)."""
        for v in self.versions():
            try:
                yield self._manifest(v)
            except FileNotFoundError:
                continue

    def _records(self):
        """All RAW commit records (full or delta), same vacuum
        tolerance. Per-commit metadata (version/ts/action/batch_id/
        n_files) lives on every record verbatim, so metadata-only
        scans read O(record) bytes per version instead of
        materializing O(live files) snapshots."""
        for v in self.versions():
            try:
                yield self._load_record(v)
            except FileNotFoundError:
                continue

    def history(self) -> list[dict]:
        return [
            {
                k: m.get(k)
                for k in ("version", "ts", "action", "batch_id", "n_files")
            }
            for m in self._records()
        ]

    def committed_batch_ids(self) -> set:
        """Every batch id any live commit carries — the idempotency
        read-set, consulted (up to twice) by EVERY batch-stamped
        write. Ids are plain ints (foreachBatch sinks) or
        per-query-scoped ``"<appId>#<batchId>"`` strings (the native
        streaming sink) — the set holds both. Incrementally maintained per handle: a commit's batch
        id is immutable, so only versions ABOVE the handle's
        high-water mark are read — O(new commits) per call instead of
        O(history), which on a long-retention streaming-ingest table
        (100k commits) is the difference between 100k tiny JSON opens
        per trigger and ~1. A fresh handle pays one full raw-record
        walk, then amortizes. Monotone state (set.add + int max), so
        handle-sharing threads converge — worst case duplicated
        reads, never a lost id. Ids of vacuumed commits stay in the
        memo: keeping MORE ids is the conservative direction for
        idempotency (a replay of a retention-expired batch must
        no-op, not re-land)."""
        vs = self.versions()
        for v in vs:
            if v <= self._batch_scan_hwm:
                continue
            try:
                b = self._load_record(v).get("batch_id")
            except FileNotFoundError:
                continue  # vacuumed between the listing and the read
            if b is not None:
                self._batch_ids.add(b)
        if vs:
            self._batch_scan_hwm = max(self._batch_scan_hwm, vs[-1])
        return self._batch_ids

    def _snapshot_state(self) -> tuple[int, list, dict]:
        """(next_version, files, stats) of the current snapshot. The
        returned next_version PINS the commit slot: passing it to
        ``_commit`` makes any commit that landed after this read a
        fence violation (link EEXIST -> CommitConflictError), instead
        of silently publishing a manifest built on the stale view —
        optimistic concurrency control, the version number doubling as
        the read-set validation."""
        vs = self.versions()
        if not vs:
            return 0, [], {}
        m = self._manifest(vs[-1])
        return vs[-1] + 1, m["files"], m.get("stats", {})

    @staticmethod
    def _nullsafe_key_cond(keys: list[str], left: str, right: str):
        """AND of null-safe key equalities between two aliased frames —
        NULL is a legal key value (grouping feeds produce them); plain
        equality would never match NULL==NULL and stale NULL-key rows
        would survive next to their replacements (found by the IVM
        fuzz). Shared by upsert and the three-clause merge so a fix to
        the matching rule can never apply to one and not the other."""
        from pyspark.sql import functions as F

        cond = None
        for k in keys:
            c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
            cond = c if cond is None else (cond & c)
        return cond

    @staticmethod
    def _require_full_row(current_cols, source_cols, what: str) -> None:
        """Additive-only schema evolution gate for row-contributing
        writes: a source missing an existing column would null it for
        every replaced row (whole-row copy-on-write) — silent data
        loss, rejected loudly. Shared by upsert and merge."""
        dropped = sorted(set(current_cols) - set(source_cols))
        if dropped:
            raise ValueError(
                f"{what} is missing existing columns {dropped}; "
                "contributing rows must carry the full row (matched rows "
                "are replaced whole — a missing column would be nulled). "
                "Only additive schema evolution is supported."
            )

    @staticmethod
    def _pinned_stats_cols(pinned_stats: dict) -> list[str] | None:
        """Default stats columns for a whole-snapshot rewrite: whatever
        the PINNED snapshot kept stats for (not a re-read — a racing
        commit must not change what this commit records); the reserved
        bloom/rows entries are not min/max columns."""
        return sorted(
            {
                c
                for st in pinned_stats.values()
                for c in st
                if c not in _RESERVED_STATS_KEYS
            }
        ) or None

    @staticmethod
    def _group_of(rel: str) -> str:
        """Normalize a manifest file entry to its group dir
        ('data/<group>'); clustered appends list subpaths
        ('data/<group>/_rb=N'), deletion vectors key whole groups."""
        return "/".join(rel.split("/")[:2])

    def _commit(
        self,
        files: list[str],
        action: str,
        schema_json: str,
        batch_id: int | None = None,
        stats: dict | None = None,
        version: int | None = None,
        changes: str | None = None,
        dvs: dict[str, list[str]] | None = None,
        inherit_dvs: bool = True,
        provenance: dict | None = None,
        column_mapping: dict[str, str] | None = None,
        retired_physical: list[str] | None = None,
    ) -> int:
        if version is None:
            version = (self.latest_version() + 1) if self.versions() else 0
        # one materialized parent read serves DV inheritance, mapping
        # inheritance AND the delta encoder below
        prev_m: dict = {}
        if version > 0:
            try:
                prev_m = self._manifest(version - 1)
            except FileNotFoundError:
                # ONLY a missing version-1 RECORD means "no parent"
                # (restore's race rollback unlinked it) — committing
                # with an empty parent then correctly yields a FULL
                # manifest with no inherited DVs/mapping for a
                # from-scratch slot. A broken delta CHAIN under a
                # live version-1 must propagate instead: swallowing
                # it would silently publish a snapshot that dropped
                # every inherited deletion vector and column mapping.
                if os.path.exists(
                    os.path.join(self._log, f"{version - 1:08d}.json")
                ):
                    raise
                prev_m = {}
        # Deletion vectors ride the manifest: {'data/<group>': [dv
        # group, ...]}. They PROPAGATE by default — a commit that
        # carries a file group forward carries its DVs with it, and a
        # commit that rewrites/drops the group sheds them (the key
        # vanishes from `files`). Rewrite paths read through read(),
        # which APPLIES DVs, so materialized survivors never
        # resurrect deleted rows. `inherit_dvs=False` is for restore,
        # which must adopt the TARGET snapshot's DV set verbatim.
        merged_dvs: dict[str, list[str]] = {}
        if inherit_dvs and prev_m:
            prev_dvs = prev_m.get("dvs") or {}
            if prev_dvs:
                # the live-group set costs O(files) string splits —
                # only pay it when there ARE vectors to carry
                # (profiled at 0.1 s/commit on a DV-free 131k-group
                # ingest table)
                live = {self._group_of(f) for f in files}
                merged_dvs = {
                    g: list(v) for g, v in prev_dvs.items() if g in live
                }
        for g, v in (dvs or {}).items():
            merged_dvs.setdefault(g, []).extend(v)
        # Column mapping rides the manifest like DVs do: inherited
        # verbatim from the parent unless the commit (rename/drop/
        # restore/clone) overrides it. {logical: physical} for every
        # column whose on-file name differs; retired_physical lists
        # on-file names that may never be (re)bound to a new logical
        # column (a dropped column's bytes still live in old files —
        # rebinding the name would resurrect them).
        if column_mapping is None:
            column_mapping = dict(prev_m.get("column_mapping") or {})
        if retired_physical is None:
            retired_physical = list(prev_m.get("retired_physical") or [])
        # hoisted: inside the stats comprehension below, `set(files)`
        # would rebuild per ITEM — O(groups^2) string hashing on every
        # commit (measured 0.3 s/commit at 3.3k groups)
        fileset = set(files)
        manifest = {
            "version": version,
            # readers at a lower protocol refuse this manifest; the
            # stamp is the LOWEST protocol the manifest needs — column
            # mapping requires 3, deletion-vector-era manifests stay
            # at 2 so protocol-2 readers keep working
            "writer_version": _stamp_protocol(column_mapping, retired_physical),
            # commit wall-clock (epoch seconds): powers TIMESTAMP AS OF
            # resolution and history auditing. Additive metadata only —
            # correctness never depends on it (clocks skew), which is
            # why it does not bump the writer protocol and pre-stamp
            # manifests stay readable (version_at_timestamp treats a
            # missing stamp as 0 = "since forever"). Clamped to the
            # parent's stamp so the log's stamps are NON-DECREASING
            # even across a backwards clock adjustment (Delta's
            # monotonization, applied at write time instead of read
            # time) — the invariant that lets version_at_timestamp /
            # startingTimestamp / vacuum-retain BISECT the log in
            # O(log versions) record reads instead of walking it.
            "ts": max(time.time(), float(prev_m.get("ts") or 0)),
            "action": action,
            "files": sorted(files),
            "n_files": len(files),
            "schema": schema_json,
            "batch_id": batch_id,
            # data-skipping index: {file: {col: [min, max]}} — what
            # Delta/Iceberg keep per data file; lets read() prune file
            # groups without opening them
            "stats": {f: s for f, s in (stats or {}).items() if f in fileset},
            # optional change-capture group ("changes/<uuid>"): the
            # rows this commit REMOVED, for CDF consumers
            "changes": changes,
            # deletion vectors: {'data/<group>': ['dv/<uuid>', ...]} —
            # positions in the group's files that reads must skip
            # (merge-on-read DELETE; absent/empty = none)
            "dvs": merged_dvs,
        }
        if column_mapping:
            manifest["column_mapping"] = column_mapping
        if retired_physical:
            manifest["retired_physical"] = sorted(retired_physical)
        if provenance is not None:
            # audit trail only (clone source, etc.) — additive
            # metadata, never read on the data path
            manifest["provenance"] = provenance
        # delta encoding decision (protocol 4): past the live-group
        # threshold, write O(change) diff records instead of the O(N)
        # full file list, checkpointing a full manifest every
        # _ckpt_every versions to bound read-side replay. Small tables
        # always write full manifests (and keep protocol <= 3).
        record = manifest
        if (
            prev_m
            and action not in _ALWAYS_FULL_ACTIONS
            and len(files) >= self._delta_min
            and self._ckpt_every > 0
            and version % self._ckpt_every != 0
        ):
            record = self._encode_delta_record(manifest, prev_m)
        tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(record, f, default=str)
        target = os.path.join(self._log, f"{version:08d}.json")
        try:
            # hard link = atomic CREATE-IF-ABSENT publish (rename would
            # silently overwrite a concurrent winner's manifest). A
            # crash before it leaves only unreferenced data files
            # (garbage, never torn reads); a concurrent writer that
            # claimed this version first makes the link raise EEXIST —
            # the commit fence.
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflictError(
                f"version {version} of {self.root} was committed by a "
                "concurrent writer; re-read table state and retry"
            ) from None
        finally:
            os.unlink(tmp)
        # the manifest we just built IS the published snapshot of
        # `version` (we won the fence) — memoize it so the NEXT commit
        # on this handle reads its parent from memory instead of
        # re-loading and re-materializing the record chain (profiled
        # at ~0.25 s/commit of JSON parse + set/sort replay at 131k
        # groups); same bound discipline as _manifest
        if record is not manifest:
            # delta-encoded: a cold materialization reports the
            # RECORD's protocol stamp — keep warm and cold identical
            manifest["writer_version"] = record["writer_version"]
        if len(self._mat_cache) > 8:
            self._mat_cache.clear()
        self._mat_cache[version] = manifest
        return version

    @staticmethod
    def _encode_delta_record(full: dict, prev: dict) -> dict:
        """Protocol-4 delta record: the commit's diff against its
        materialized parent. Stores adds/removes of file paths, the
        stat entries that changed, and the DV entries that changed —
        O(change) bytes where a full manifest is O(live files).
        Per-commit metadata (action, ts, schema, batch_id, changes,
        mapping — all small or per-commit) stays verbatim so
        materialization rebuilds the exact full manifest."""
        prev_files = set(prev["files"])
        cur_files = set(full["files"])
        prev_stats = prev.get("stats") or {}
        cur_stats = full["stats"]
        prev_dvs = prev.get("dvs") or {}
        cur_dvs = full["dvs"]
        rec = {
            "version": full["version"],
            "writer_version": _WRITER_VERSION,  # delta needs protocol 4
            "ts": full["ts"],
            "action": full["action"],
            "delta_of": full["version"] - 1,
            "add_files": sorted(cur_files - prev_files),
            "remove_files": sorted(prev_files - cur_files),
            "n_files": full["n_files"],
            "schema": full["schema"],
            "batch_id": full["batch_id"],
            "changes": full["changes"],
            "stats_set": {
                f: s
                for f, s in cur_stats.items()
                if prev_stats.get(f) != s
            },
            # stat entries dropped for files that stay live (rare —
            # rename rekeying passes full stats, so a diff suffices,
            # but guard the shape anyway)
            "stats_del": sorted(
                f
                for f in prev_stats
                if f in cur_files and f not in cur_stats
            ),
            "dvs_set": {
                g: v for g, v in cur_dvs.items() if prev_dvs.get(g) != v
            },
            "dvs_del": sorted(g for g in prev_dvs if g not in cur_dvs),
        }
        for k in ("column_mapping", "retired_physical", "provenance"):
            if k in full:
                rec[k] = full[k]
        return rec

    @staticmethod
    def _to_physical(df: DataFrame, mapping: dict[str, str] | None) -> DataFrame:
        """Translate LOGICAL column names to their on-file PHYSICAL
        names (column mapping: a rename never touches data, so files
        keep the original physical name forever — Delta's fixed-
        physical-name rule). No mapping (the common case) = the input
        plan unchanged."""
        if not mapping:
            return df
        for logical, physical in mapping.items():
            if physical != logical and logical in df.columns:
                df = df.withColumnRenamed(logical, physical)
        return df

    def _mapping(self, version: int | None = None) -> dict[str, str]:
        """{logical: physical} of snapshot ``version`` (empty when the
        table never renamed)."""
        if version is None:
            version = self.latest_version()
        if version is None or version < 0:
            return {}
        # mapping rides every record VERBATIM (full and delta), so no
        # snapshot materialization is needed to resolve it
        return dict(self._load_record(version).get("column_mapping") or {})

    def _mapping_identity(
        self, version: int | None
    ) -> tuple[dict[str, str], list[str]]:
        """(column_mapping, retired_physical) of snapshot ``version``
        in canonical form — the pair whose IDENTITY the blind-add and
        rewrite rebase policies both require: files written
        under one mapping must never be published under another."""
        if version is None or version < 0:
            return {}, []
        m = self._load_record(version)  # both fields per-record verbatim
        return (
            dict(m.get("column_mapping") or {}),
            sorted(m.get("retired_physical") or []),
        )

    def _write_files(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: dict[str, int] | None = None,
        mapping: dict[str, str] | None = None,
    ) -> tuple[list[str], dict]:
        """Write df as a new immutable file group; returns (paths,
        stats) — paths relative to the table root, stats the group's
        min/max per ``stats_cols`` (one tiny agg job — the
        data-skipping index) plus a bloom filter per ``bloom_cols``
        (point-lookup skipping where min/max can't help: high-
        cardinality keys whose per-group ranges all overlap). Returned,
        never stashed on the instance: two concurrent writers sharing
        one handle must not race on a mutable field (the commit fence
        protects the LOG, not local state)."""
        group = uuid.uuid4().hex
        out = os.path.join(self._data, group)
        # files land under PHYSICAL names; the stats/bloom aggs below
        # stay on the logical frame so the skipping index keys by the
        # names readers prune with. Default mapping = the current
        # snapshot's: safe under races because every publish path
        # requires mapping identity — rewrites via _rebase_rewrite's
        # walk, appends via _blind_add's _mapping_identity check
        # (which re-writes the group under the fresh mapping when a
        # rename/drop won the race) — so a published commit's files
        # always used its parent's mapping.
        if mapping is None:
            mapping = self._mapping()
        self._to_physical(df, mapping).write.mode("overwrite").parquet(out)
        # exact row count from the footers just written: driver-local
        # metadata reads bounded by THIS group's file count (change
        # volume, never table size), no extra Spark job
        stats: dict = {}
        path = f"data/{group}"
        stats[path] = {_ROWS_KEY: _footer_rows(out)}
        if stats_cols:
            from pyspark.sql import functions as F

            row = df.agg(
                *[F.min(c).alias(f"min_{c}") for c in stats_cols],
                *[F.max(c).alias(f"max_{c}") for c in stats_cols],
            ).collect()[0]
            stats[path].update(
                {c: [row[f"min_{c}"], row[f"max_{c}"]] for c in stats_cols}
            )
        if bloom_cols:
            blooms = {
                c: self._build_bloom(df, c, m=(bloom_m or {}).get(c, _BLOOM_M))
                for c in bloom_cols
            }
            stats.setdefault(path, {})[_BLOOM_KEY] = blooms
        return [path], stats

    @staticmethod
    def _build_bloom(df: DataFrame, col: str, m: int = _BLOOM_M) -> dict:
        """Distinct set-bit positions computed engine-side (the scan
        and hashing stay in whole-stage codegen; only <= m distinct
        positions reach the driver, bounded regardless of group size),
        packed into an m-bit bitmap. NULL keys are not indexed — a
        NULL point lookup is not supported, range stats handle it.

        Integer/string columns ONLY, rejected at BUILD time: for a
        double/timestamp column Spark's CAST AS STRING disagrees with
        the probe side's str() (e.g. "490.0" vs "490"), which would
        turn the no-false-negative guarantee into silent wrong
        pruning — the same contract _bloom_positions_py enforces on
        the probe side."""
        from pyspark.sql import functions as F

        dtype = df.schema[col].dataType
        if not VersionedTable._bloomable(dtype):
            raise TypeError(
                f"bloom index on column {col!r} of type {dtype.simpleString()}: "
                "only integer and string key columns are supported (other "
                "types stringify differently on the build and probe sides)"
            )

        pos = (
            df.where(F.col(col).isNotNull())
            .select(
                F.explode(F.array(*_bloom_position_cols(col, m=m))).alias("p")
            )
            .distinct()
            .collect()
        )
        bits = bytearray(m // 8)
        for r in pos:
            p = int(r["p"])
            bits[p // 8] |= 1 << (p % 8)
        return {
            "m": m,
            "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
        }

    # --- CHECK constraints -------------------------------------------------

    def _constraints_path(self) -> str:
        return os.path.join(self._log, "_constraints.json")

    def check_constraints(self) -> dict[str, str]:
        """{name: predicate_sql} currently enforced on writes."""
        try:
            with open(self._constraints_path(), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def set_check_constraint(self, name: str, predicate_sql: str) -> None:
        """Add/replace a CHECK constraint (Delta ``ADD CONSTRAINT``
        analog): every subsequent append/overwrite/upsert validates
        its incoming rows and raises ``ConstraintViolationError`` if
        any row evaluates the predicate to FALSE (NULL passes, SQL
        semantics). Existing data is NOT retro-validated — same as
        Delta, constraints gate writes, not history. Published via
        tmp+rename (atomic, last-writer-wins table property)."""
        cons = self.check_constraints()
        cons[name] = predicate_sql
        tmp = os.path.join(self._log, f".tmp-cons-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def drop_check_constraint(self, name: str) -> None:
        cons = self.check_constraints()
        cons.pop(name, None)
        tmp = os.path.join(self._log, f".tmp-cons-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cons, f)
        os.replace(tmp, self._constraints_path())

    def _constraints_referencing(self, column: str) -> list[str]:
        """Names of CHECK constraints whose predicate references
        ``column`` as an identifier. Conservative lexical scan: string
        literals are stripped first so 'value' inside a quoted string
        doesn't count, then the column must appear as a standalone
        identifier token (bare or backtick-quoted). Used by
        rename_column/drop_column to refuse mutating a constrained
        column — Delta's stance too — because otherwise every later
        write's _enforce would raise unresolved-column and the table
        would be wedged until the constraint is manually dropped."""
        import re

        hits = []
        # IGNORECASE: Spark resolves identifiers case-insensitively by
        # default (spark.sql.caseSensitive=false), so a constraint on
        # 'V' binds column 'v' — the guard must match the same way or
        # a rename slips past it and wedges _enforce anyway
        ident = re.compile(
            r"(?<![A-Za-z0-9_])" + re.escape(column) + r"(?![A-Za-z0-9_])",
            re.IGNORECASE,
        )
        for name, pred in self.check_constraints().items():
            stripped = re.sub(r"'(?:[^']|'')*'", "''", pred)
            if ident.search(stripped) or f"`{column.lower()}`" in stripped.lower():
                hits.append(name)
        return hits

    def _generated_path(self) -> str:
        return os.path.join(self._log, "_generated.json")

    def generated_columns(self) -> dict[str, str]:
        """{column: generation_expr_sql} — Delta GENERATED ALWAYS AS
        analog, applied on every ingest path."""
        try:
            with open(self._generated_path(), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def set_generated_column(self, name: str, expr_sql: str) -> None:
        """Declare ``name`` as a generated column: every subsequent
        write COMPUTES it from ``expr_sql`` when the incoming frame
        omits it, and VALIDATES equality when the frame provides it
        (Delta's GENERATED ALWAYS AS contract — a provided value that
        disagrees with the expression fails the write). The standard
        use is a derived partition/pruning key — e.g.
        ``set_generated_column("day", "CAST(ts AS DATE)")`` on an
        ingest table clustered/stats-indexed on ``day``: producers
        write raw events, the table derives the skipping column
        itself. Existing data is NOT retro-filled (same stance as
        CHECK constraints: table properties gate writes, not
        history). Published via tmp+rename like the constraints
        file."""
        gens = self.generated_columns()
        gens[name] = expr_sql
        tmp = os.path.join(self._log, f".tmp-gen-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(gens, f)
        os.replace(tmp, self._generated_path())

    def drop_generated_column(self, name: str) -> None:
        """Remove the generation rule (the column itself, if present
        in the schema, stays an ordinary column)."""
        gens = self.generated_columns()
        gens.pop(name, None)
        tmp = os.path.join(self._log, f".tmp-gen-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(gens, f)
        os.replace(tmp, self._generated_path())

    def _generated_referencing(self, column: str) -> list[str]:
        """Generated columns whose expression references ``column``
        (same conservative lexical scan as the constraints guard) —
        rename/drop must refuse these or every later write's
        generation would raise unresolved-column."""
        import re

        ident = re.compile(
            r"(?<![A-Za-z0-9_])" + re.escape(column) + r"(?![A-Za-z0-9_])",
            re.IGNORECASE,
        )
        hits = []
        for name, expr in self.generated_columns().items():
            stripped = re.sub(r"'(?:[^']|'')*'", "''", expr)
            if ident.search(stripped) or f"`{column.lower()}`" in stripped.lower():
                hits.append(name)
        return hits

    def _enforce(self, df: DataFrame) -> DataFrame:
        """The write gate every ingest path runs: (1) GENERATED
        columns materialize — computed from their expression when the
        frame omits them — and (2) CHECK constraints plus
        provided-generated-value equality validate in ONE aggregation
        pass (all violation counters in a single job — the extra
        write-path scan real systems fold into their write metrics);
        raises with per-rule counts. Returns the (possibly augmented)
        frame — callers rebind. Constraints run AFTER generation so a
        constraint may reference a generated column."""
        gens = self.generated_columns()
        cons = self.check_constraints()
        if not gens and not cons:
            return df
        from pyspark.sql import functions as F

        provided = [c for c in gens if c in df.columns]
        for col, expr in gens.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(pred), F.lit(True))).cast("long")
            ).alias(f"c_{name}")
            for name, pred in cons.items()
        ] + [
            # eqNullSafe: a NULL generated value only passes if the
            # expression also yields NULL for that row
            F.sum(
                (~F.col(c).eqNullSafe(F.expr(gens[c]))).cast("long")
            ).alias(f"g_{c}")
            for c in provided
        ]
        if not aggs:
            return df
        row = df.agg(*aggs).collect()[0]
        bad_c = {n: row[f"c_{n}"] for n in cons if row[f"c_{n}"]}
        bad_g = {c: row[f"g_{c}"] for c in provided if row[f"g_{c}"]}
        if bad_c or bad_g:
            parts = []
            if bad_c:
                parts.append(f"CHECK constraints {bad_c}")
            if bad_g:
                parts.append(
                    f"generated-column values disagreeing with their "
                    f"expression {bad_g}"
                )
            raise ConstraintViolationError(
                f"write to {self.root} violates (violating-row counts): "
                + "; ".join(parts)
            )
        return df

    # ordered widening chains: a pair of types in one chain merges to
    # the wider one (what parquet mergeSchema can reconcile at read);
    # every other mismatch on a shared name is a conflict
    _INT_CHAIN = ("byte", "short", "integer", "long")
    _FLOAT_CHAIN = ("float", "double")

    @classmethod
    def _merge_field_type(cls, old, new):
        """Widened type for a shared column, or None when the pair is
        irreconcilable. Non-atomic types (struct/array/map) must match
        exactly — evolving INSIDE a nested type is not supported (the
        Delta restriction too, pre-column-mapping)."""
        if old == new:
            return old
        from pyspark.sql.types import (
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
        )

        w = {
            "byte": ByteType(),
            "short": ShortType(),
            "integer": IntegerType(),
            "long": LongType(),
            "float": FloatType(),
            "double": DoubleType(),
        }
        on, nn = old.typeName(), new.typeName()
        for chain in (cls._INT_CHAIN, cls._FLOAT_CHAIN):
            if on in chain and nn in chain:
                return w[chain[max(chain.index(on), chain.index(nn))]]
        return None

    def _evolved_schema_json_of(self, incoming: StructType, version: int) -> str:
        """Append-path schema evolution (Delta mergeSchema-on-write):
        the committed manifest schema becomes the UNION of the current
        table schema and the incoming one — existing columns keep
        their position and widen along the numeric chains, net-new
        columns append, columns the frame omits are carried (their
        rows read NULL from the new files via mergeSchema). A shared
        name with irreconcilable types raises SchemaEvolutionError
        with every conflicting column named, and nothing is written.
        Also the reason the manifest schema (and therefore the feed
        stream's schema and empty-result schemas) never NARROWS when
        a producer appends a column subset. Pure metadata work (no
        DataFrame, no SparkSession), so the native streaming sink's
        driver-side commit runs it inside a data-source worker."""
        if version == 0:
            return incoming.json()
        prev_m = self._manifest(version - 1)
        cur = StructType.fromJson(json.loads(prev_m["schema"]))
        # column-mapping guard: a NET-NEW logical column may not take a
        # name that is (a) the on-file physical of a RENAMED column —
        # its writes would collide with the old bytes — or (b) a
        # RETIRED physical (a dropped column's bytes still live in old
        # files; rebinding the name would resurrect them on read).
        mapping = prev_m.get("column_mapping") or {}
        blocked = {p for l, p in mapping.items() if p != l} | set(
            prev_m.get("retired_physical") or []
        )
        if blocked:
            known = {f.name for f in cur.fields}
            hits = sorted(
                f.name
                for f in incoming.fields
                if f.name not in known and f.name in blocked
            )
            if hits:
                raise SchemaEvolutionError(
                    f"append to {self.root} adds column(s) {hits} whose "
                    "name is the on-file physical name of a renamed or "
                    "dropped column; pick a different name (physical "
                    "names are never rebound)"
                )
        return self._union_schemas(cur, incoming, f"append to {self.root}").json()

    @classmethod
    def _union_schemas(
        cls, cur: StructType, incoming: StructType, what: str
    ) -> StructType:
        """UNION of two schemas under the evolution rules (shared
        columns widen along the numeric chains, net-new columns
        append, ``cur``'s column order wins); irreconcilable shared
        names raise SchemaEvolutionError naming every conflict."""
        incoming_by_name = {f.name: f for f in incoming.fields}
        out: list[StructField] = []
        conflicts: dict[str, tuple[str, str]] = {}
        for f in cur.fields:
            hit = incoming_by_name.get(f.name)
            if hit is None:
                out.append(f)
                continue
            merged = cls._merge_field_type(f.dataType, hit.dataType)
            if merged is None:
                conflicts[f.name] = (
                    f.dataType.simpleString(),
                    hit.dataType.simpleString(),
                )
            else:
                out.append(StructField(f.name, merged, True))
        if conflicts:
            raise SchemaEvolutionError(
                f"{what} conflicts with the table schema "
                f"(column: table-type vs incoming-type): "
                + ", ".join(
                    f"{k}: {a} vs {b}" for k, (a, b) in sorted(conflicts.items())
                )
            )
        known = {f.name for f in cur.fields}
        out.extend(
            StructField(f.name, f.dataType, True)
            for f in incoming.fields
            if f.name not in known
        )
        return StructType(out)

    # --- table operations --------------------------------------------------

    def _publish(
        self,
        action: str,
        files: list[str],
        stats: dict,
        schema_json: str,
        version: int,
        batch_id: int | None = None,
        *,
        rebase=None,
        **commit_kw,
    ) -> int:
        """The one lost-race loop every commit goes through; ``_commit``
        is the one-attempt primitive (looked up per attempt, so a test
        can wrap it on the handle to inject a race). A loss to a commit
        of the SAME batch id (a replay racing itself) is a no-op that
        drops this attempt's own unpublished groups. Otherwise
        ``rebase(err, files, stats, schema_json, version)`` returns the
        next attempt or raises — the policy is chosen by what the
        commit read: ``_blind_add`` (nothing), ``_rebase_rewrite``
        (some groups), or None: fail closed (it replaces the snapshot
        it pinned)."""
        for _ in range(10):
            try:
                return self._commit(
                    files,
                    action,
                    schema_json,
                    batch_id,
                    stats=stats,
                    version=version,
                    **commit_kw,
                )
            except CommitConflictError as e:
                if batch_id is not None and batch_id in self.committed_batch_ids():
                    pinned = self._manifest(version - 1)["files"] if version else []
                    self._drop_groups(set(files) - set(pinned))
                    return self.latest_version()
                if rebase is None:
                    raise
                files, stats, schema_json, version = rebase(
                    e, files, stats, schema_json, version
                )
        raise CommitConflictError(
            f"{action} on {self.root} lost 10 consecutive version races"
        )

    def _drop_groups(self, files) -> None:
        """Delete this writer's own never-published file groups (a
        manifest entry may name a clustered sub-path of its group)."""
        for g in {self._group_of(f) for f in files}:
            shutil.rmtree(os.path.join(self.root, g), ignore_errors=True)

    def _blind_add(
        self,
        incoming: StructType,
        new: list[str],
        new_stats: dict,
        identity: tuple[dict[str, str], list[str]],
        rewrite=None,
    ):
        """Rebase policy of a BLIND ADD (the append family): it reads
        nothing, so it commutes — re-pin the fresh snapshot, re-union
        the schema against it, and carry the SAME written groups onto
        it. The groups bind to the column mapping ``identity`` they
        were written under; after a concurrent RENAME/DROP,
        ``rewrite(fresh_mapping)`` re-writes them (Spark callers), and
        without it (staged bytes, no SparkSession) the commit refuses."""

        def rebase(*_lost):
            nonlocal new, new_stats, identity
            version, prev_files, prev_stats = self._snapshot_state()
            fresh = self._mapping_identity(version - 1)
            if fresh != identity and rewrite is None:
                raise self._remap_refused()
            schema_json = self._evolved_schema_json_of(incoming, version)
            if fresh != identity:
                self._drop_groups(new)
                new, new_stats = rewrite(fresh[0])
                identity = fresh
            files = prev_files + new
            return files, {**prev_stats, **new_stats}, schema_json, version

        return rebase

    def _remap_refused(self) -> ValueError:
        return ValueError(
            f"table {self.root} changed its column mapping while "
            "the batch was being staged (concurrent RENAME/DROP "
            "COLUMN): the staged files bind to the old physical "
            "names — restart the stream to pin the new mapping"
        )

    def _rebase_rewrite(
        self,
        would_read,
        err: CommitConflictError,
        files: list[str],
        stats: dict,
        schema_json: str,
        attempt_version: int,
    ) -> tuple[list[str], dict, str, int]:
        """Rebase policy of a REWRITING commit (merge/upsert/delete/
        delete_dv/replace_where/compact_where/analyze). Delta-style
        conflict resolution at the Serializable level: the rewrite may
        rebase over the interleaved commits iff

        (a) every one of them only ADDED file groups with no deletion-
            vector change — blind appends. A drop, rewrite, or DV
            touch means our snapshot-derived survivors are stale
            (they could resurrect deleted rows), and
        (b) none of the appended groups could hold a row this
            operation READ: ``would_read(cur_version, added_groups)``
            applies the op's own stats/bloom pruning to the winners'
            groups. Non-empty means the serial-equivalent result
            differs — e.g. a concurrent append landed a row our DELETE
            predicate matches, or a key our MERGE source carries —
            so we fail closed exactly like Delta's
            ConcurrentAppendException.

        On success the next attempt is the FOLDED intent — our
        rewritten+carried groups plus the winners' appended groups by
        reference, stats merged, schema UNION (an append may have
        widened it), and the next version to claim. Re-raises ``err``
        otherwise.

        Scale rationale: with continuous streaming ingest, "append
        lands during a MERGE/DELETE" is the COMMON interleaving on a
        busy table — aborting the maintenance op each time makes
        large-table upkeep livelock-prone. Appends already auto-rebase
        over rewrites (blind add); this closes the other direction,
        while anything that could change the rewrite's input still
        fails closed."""
        cur = self.latest_version()
        pinned = attempt_version - 1
        pinned_m = self._manifest(pinned)
        walk_files = set(pinned_m["files"])
        walk_dvs = pinned_m.get("dvs") or {}
        walk_map = pinned_m.get("column_mapping") or {}
        walk_ret = pinned_m.get("retired_physical") or []
        for v in range(pinned + 1, cur + 1):
            m = self._manifest(v)
            v_files = set(m["files"])
            if not (v_files >= walk_files):
                raise err  # a group we may have read was rewritten/dropped
            v_dvs = m.get("dvs") or {}
            if v_dvs != walk_dvs:
                raise err  # concurrent merge-on-read delete: stale reads
            if (m.get("column_mapping") or {}) != walk_map or (
                m.get("retired_physical") or []
            ) != walk_ret:
                # concurrent RENAME/DROP COLUMN: our files were written
                # under the pinned mapping's physical names and our
                # schema under the old logical names — folding would
                # publish a manifest whose mapping no longer matches
                # its files. Fail closed; the caller re-plans.
                raise err
            walk_files, walk_dvs = v_files, v_dvs
        cur_m = self._manifest(cur)
        base = set(self._manifest(pinned)["files"])
        added = {f for f in cur_m["files"] if f not in base}
        if added and set(would_read(cur, added)) & added:
            raise err
        cur_stats = cur_m.get("stats") or {}
        have = set(files)
        folded = list(files) + [f for f in sorted(added) if f not in have]
        folded_stats = {
            **{f: cur_stats[f] for f in added if f in cur_stats},
            **stats,
        }
        folded_schema = self._union_schema_json(schema_json, cur_m["schema"])
        return folded, folded_stats, folded_schema, cur + 1

    def _union_schema_json(self, base_json: str, other_json: str) -> str:
        if base_json == other_json:
            return base_json
        return self._union_schemas(
            StructType.fromJson(json.loads(base_json)),
            StructType.fromJson(json.loads(other_json)),
            f"rebase of a rewrite on {self.root}",
        ).json()

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        # pin FIRST, replay-check second: any same-batch commit landing
        # before the pin is visible to the check (no-op); any landing
        # after it hits the version fence (resolved below). No window
        # admits a double commit.
        version, prev_files, prev_stats = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()  # replay: no-op before any write
        df = self._enforce(df)
        schema_json = self._evolved_schema_json_of(df.schema, version)
        # pin the mapping the files are physically written under: a
        # lost race re-writes the group if a concurrent rename/drop
        # changed it (renamed a->b then concurrent b->c: publishing the
        # stale group, appended 'b' bytes would surface under 'c' or
        # read NULL — silent mis-binding)
        identity = self._mapping_identity(version - 1)
        new, new_stats = self._write_files(
            df, stats_cols, bloom_cols, mapping=identity[0]
        )
        return self._publish(
            "append",
            prev_files + new,
            {**prev_stats, **new_stats},
            schema_json,
            version,
            batch_id,
            rebase=self._blind_add(
                df.schema,
                new,
                new_stats,
                identity,
                rewrite=lambda mapping: self._write_files(
                    df, stats_cols, bloom_cols, mapping=mapping
                ),
            ),
        )

    def commit_staged(
        self,
        groups: list[str],
        stats: dict[str, dict],
        incoming_schema_json: str,
        batch_id: int | None = None,
        write_mapping: dict | None = None,
        write_retired: list | None = None,
        overwrite: bool = False,
        write_generated: dict | None = None,
        base_version: int | None = None,
    ) -> int:
        """Publish PRE-STAGED file groups as one commit — the driver
        half of the native streaming sink (storage/stream_sink.py):
        executors already landed the parquet bytes under
        ``data/<group>/`` and shipped back per-group stats; this
        method is pure metadata, runnable WITHOUT a SparkSession
        (which the data-source worker process does not have).

        Mirrors ``append``'s discipline exactly: batch-id replay is a
        no-op (and deletes the staged groups — a replayed micro-batch
        re-staged the same rows, leaving them would double-land
        nothing but would leak garbage), the committed schema is the
        evolution UNION, and a lost version race auto-resolves by
        re-pinning (the blind-add policy). The one divergence is the
        column-mapping race: ``append`` re-WRITES its group under a
        fresh mapping, but staged bytes cannot be rewritten without
        Spark — so a concurrent rename/drop fails the commit closed
        with an actionable message (restart the stream; its next
        writer pins the new mapping). Every failure before publishing
        drops the staged groups. Tables with CHECK constraints
        are refused for the same no-SparkSession reason; tables with
        GENERATED columns are accepted only when ``write_generated``
        attests the staged files carry values computed for exactly
        the current definitions (the native sink's narrow arrow
        evaluator — stream_sink._compile_generated).

        ``overwrite=True`` replaces the snapshot it pinned, so a lost
        race fails closed (``CommitConflictError``) — re-pinning would
        silently discard the winner's rows. ``base_version`` fences a
        commit derived from a snapshot the caller read earlier (-1:
        the table was empty): if any commit landed after it,
        ``CommitConflictError`` raises instead of the blind re-pin —
        a rows-from-a-stale-read commit must never win a race."""
        if self.check_constraints():
            raise ValueError(
                f"table {self.root} has CHECK constraints; commit_staged "
                "cannot enforce SQL predicates — write via append"
            )
        gens = self.generated_columns()
        if (gens or write_generated) and write_generated != gens:
            # fail closed unless the STAGING side attests it
            # materialized exactly this generation set (the native
            # sink's narrow arrow evaluator pins the definitions at
            # writer creation, same discipline as the mapping
            # identity): a caller that never computed them, or a
            # definition added/changed/DROPPED while the batch was
            # staged (hence comparing when EITHER side is non-empty),
            # would publish files missing, disagreeing with, or
            # carrying a stale generated column
            raise ValueError(
                f"table {self.root} has generated columns; commit_staged "
                "requires the staged files to carry values computed for "
                "exactly the current definitions (restart the stream to "
                "re-pin them) — or write via append"
            )

        identity = (dict(write_mapping or {}), sorted(write_retired or []))
        version, prev_files, prev_stats = self._snapshot_state()
        try:
            if batch_id is not None and batch_id in self.committed_batch_ids():
                self._drop_groups(groups)
                return self.latest_version()
            if base_version is not None and version != base_version + 1:
                raise CommitConflictError(
                    f"table {self.root} moved past version {base_version} "
                    "while this commit's rows were derived from it"
                )
            # mapping identity FIRST: after a rename, schema evolution
            # would also fail but with a misleading "physical name"
            # message — the actionable diagnosis is the mapping race
            if self._mapping_identity(version - 1) != identity:
                raise self._remap_refused()
            incoming = StructType.fromJson(json.loads(incoming_schema_json))
            if overwrite:
                return self._publish(
                    "overwrite",
                    list(groups),
                    dict(stats),
                    incoming.json(),
                    version,
                    batch_id,
                )
            return self._publish(
                "append",
                prev_files + list(groups),
                {**prev_stats, **stats},
                self._evolved_schema_json_of(incoming, version),
                version,
                batch_id,
                # rows fenced on base_version were READ from it: a lost
                # race fails closed instead of re-pinning
                rebase=(
                    None
                    if base_version is not None
                    else self._blind_add(incoming, list(groups), dict(stats), identity)
                ),
            )
        except (CommitConflictError, ValueError):
            # raised before any publish: the staged groups are garbage
            self._drop_groups(groups)
            raise

    _LOCAL_ROW_TYPES = frozenset(
        {"byte", "short", "integer", "long", "float", "double", "string",
         "boolean", "binary", "date"}
    )

    def append_rows(
        self,
        rows: list[tuple],
        schema,
        batch_id: int | None = None,
        stats_cols: list[str] | None = None,
        overwrite: bool = False,
        base_version: int | None = None,
    ) -> int:
        """Land a SMALL driver-local row set as one commit with ZERO
        Spark jobs (round 15, guide §1.2 job-count): per-batch metrics
        and audit frames are a handful of rows BY CONSTRUCTION, yet the
        ``createDataFrame -> append`` path paid a full Spark job
        (parallelize + parquet write + commit) per micro-batch just to
        move bytes the driver already holds. Here the rows are written
        to one parquet file via pyarrow under Spark's own
        logical->arrow schema mapping — the exact staged format the
        native sink's executors produce — and published through
        ``commit_staged`` (pure metadata), so the read path, schema
        evolution, mapping-race handling and batch-id replay discipline
        are all the already-tested ones.

        ``schema`` is a pyspark StructType of NON-TEMPORAL scalars or
        arrays of them (the metrics/centroid-frame shapes), plus DATE
        columns (``datetime.date`` values; arrow date32 is zone-free).
        Timestamps would need the session-zone negotiation the Spark
        write path does, so they fail closed here. CHECK constraints /
        generated columns are refused by commit_staged (no SQL
        evaluator driver-side). ``overwrite=True`` publishes as a
        truncating overwrite commit (the retrain-replace shape; the
        maintained-view landing of storage/incremental.py), and
        ``base_version`` fences it against the snapshot the rows were
        derived from (see commit_staged). NOT for data frames:
        anything whose size scales with input belongs on the
        distributed ``append`` path.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        from .stream_sink import _staged_schema

        if not isinstance(schema, StructType):
            raise TypeError("append_rows requires a pyspark StructType")

        def _local_ok(dt) -> bool:
            if dt.typeName() == "array":
                return dt.elementType.typeName() in self._LOCAL_ROW_TYPES
            return dt.typeName() in self._LOCAL_ROW_TYPES

        bad = [f.name for f in schema.fields if not _local_ok(f.dataType)]
        if bad:
            raise TypeError(
                f"append_rows supports non-temporal scalar and date "
                f"columns only; {bad} are not (write via append)"
            )
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()  # replay: no staging, no-op
        schema_json = schema.json()
        write_mapping, write_retired = self._mapping_identity(
            self.latest_version()
        )
        pa_schema = _staged_schema(schema_json, write_mapping)
        names = [f.name for f in schema.fields]
        cols = [
            pa.array([r[i] for r in rows], type=pa_schema.field(i).type)
            for i in range(len(names))
        ]
        group = uuid.uuid4().hex
        gdir = os.path.join(self._data, group)
        os.makedirs(gdir, exist_ok=True)
        try:
            pq.write_table(
                pa.Table.from_arrays(cols, schema=pa_schema),
                os.path.join(gdir, "part-0.parquet"),
            )
            gstats: dict = {_ROWS_KEY: len(rows)}
            for c in stats_cols or []:
                i = names.index(c)
                vals = [r[i] for r in rows if r[i] is not None]
                if vals:
                    gstats[c] = [min(vals), max(vals)]
            return self.commit_staged(
                [f"data/{group}"],
                {f"data/{group}": gstats},
                schema_json,
                batch_id=batch_id,
                write_mapping=write_mapping,
                write_retired=write_retired,
                overwrite=overwrite,
                base_version=base_version,
            )
        except Exception:
            # commit_staged drops the group on its own failure paths;
            # anything else (a bad row shape) must not leak it either
            shutil.rmtree(gdir, ignore_errors=True)
            raise

    def append_all(
        self,
        dfs: list[DataFrame],
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> list[int]:
        """Land N independent frames as N CONSECUTIVE commits (list
        order = version order, same result as N sequential ``append``
        calls) with the expensive half — the file-group writes —
        running CONCURRENTLY (round 15, guide §2.6 overlap +
        VERDICT-r14 ask #4 staged-commit batching): each frame's
        parquet write is an independent Spark job submitted from a
        small thread pool, so the later frames' tasks back-fill the
        earlier frames' task tails instead of queuing behind a full
        commit cycle each; the commits themselves are pure metadata
        (``commit_staged``) and publish sequentially, which is what
        keeps version numbering — and therefore the change feed's
        per-commit slices — deterministic.

        Restrictions, all fail-closed: tables with CHECK constraints
        or GENERATED columns refuse (the publish half is
        ``commit_staged``, which cannot enforce/attest them — use
        sequential ``append``); a concurrent RENAME/DROP between
        staging and publish fails the remaining commits closed with
        the staged groups dropped (same stance as the native sink).
        No batch ids: streaming callers land one frame per batch and
        belong on ``append``."""
        if self.check_constraints() or self.generated_columns():
            raise ValueError(
                f"table {self.root} has CHECK constraints or generated "
                "columns; append_all publishes via commit_staged, which "
                "cannot enforce them — append sequentially"
            )
        from concurrent.futures import ThreadPoolExecutor

        write_mapping, write_retired = self._mapping_identity(
            self.latest_version()
        )

        def _stage(df: DataFrame) -> tuple[list[str], dict, str]:
            new, new_stats = self._write_files(
                df, stats_cols, bloom_cols, mapping=write_mapping
            )
            return new, new_stats, df.schema.json()

        with ThreadPoolExecutor(max_workers=min(4, len(dfs))) as pool:
            staged = list(pool.map(_stage, dfs))
        versions: list[int] = []
        try:
            for groups, stats, schema_json in staged:
                versions.append(
                    self.commit_staged(
                        list(groups),
                        stats,
                        schema_json,
                        write_mapping=write_mapping,
                        write_retired=write_retired,
                    )
                )
        except Exception:
            # a failed publish leaves every later frame's groups
            # unreferenced — drop them (and the failing frame's, which
            # commit_staged already dropped: rmtree is idempotent);
            # already-published commits stand, same as a sequential
            # caller that failed mid-list
            for groups, _, _ in staged[len(versions):]:
                self._drop_groups(groups)
            raise
        return versions

    def _write_clustered_group(
        self,
        df: DataFrame,
        col: str,
        n_groups: int,
        mapping: dict[str, str] | None = None,
    ) -> tuple[list[str], dict]:
        """Range-partition ``df`` on ``col`` and land each range as its
        own file group with tight min/max stats, under ``mapping``'s
        physical names (default: the current snapshot's); returns
        (files, stats) for the caller's commit."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
        )

        group = uuid.uuid4().hex
        out = os.path.join(self._data, group)
        if mapping is None:
            mapping = self._mapping()
        # Integral cluster keys (every engine call site): ONE Spark job
        # — write the ranged groups, then take each range's min/max/row
        # count from the parquet FOOTERS just written (driver-local
        # metadata reads bounded by the files of THIS group, the same
        # discipline as _footer_rows). The previous shape cost three
        # jobs plus a cache pin: count() to pin the sampled range
        # boundaries, the write, and a groupBy(_rb) stats agg — the
        # pin existed only because two downstream jobs had to observe
        # identical boundaries; with footer-derived stats a single job
        # observes them, so nothing needs pinning. Non-integral keys
        # keep the agg path: parquet truncates string statistics, so
        # footer min/max are not exact for them.
        if isinstance(
            df.schema[col].dataType,
            (ByteType, ShortType, IntegerType, LongType),
        ):
            ranged = df.repartitionByRange(n_groups, col)
            with_bucket = ranged.withColumn("_rb", F.spark_partition_id())
            self._to_physical(with_bucket, mapping).write.mode(
                "overwrite"
            ).partitionBy("_rb").parquet(out)
            footer = self._clustered_footer_stats(
                out, mapping.get(col, col)
            )
            if footer is not None:
                files = [f"data/{group}/_rb={rb}" for rb in sorted(footer)]
                stats = {
                    f"data/{group}/_rb={rb}": {
                        col: [footer[rb][0], footer[rb][1]],
                        _ROWS_KEY: footer[rb][2],
                    }
                    for rb in footer
                }
                return files, stats
            # a writer configuration without column statistics: fall
            # through to the agg path below (re-ranging is fine — the
            # fresh write replaces the directory wholesale)
        ranged = df.repartitionByRange(n_groups, col).cache()
        try:
            ranged.count()  # pin the sampled range boundaries
            with_bucket = ranged.withColumn("_rb", F.spark_partition_id())
            self._to_physical(with_bucket, mapping).write.mode(
                "overwrite"
            ).partitionBy("_rb").parquet(out)
            stat_rows = (
                with_bucket.groupBy("_rb")
                .agg(
                    F.min(col).alias("lo"),
                    F.max(col).alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
        finally:
            ranged.unpersist()
        files = [f"data/{group}/_rb={r['_rb']}" for r in stat_rows]
        stats = {
            f"data/{group}/_rb={r['_rb']}": {
                col: [r["lo"], r["hi"]],
                _ROWS_KEY: r["n"],
            }
            for r in stat_rows
        }
        return files, stats

    @staticmethod
    def _clustered_footer_stats(
        out: str, phys_col: str
    ) -> dict[int, tuple] | None:
        """Per-_rb (min, max, rows) of ``phys_col`` from the parquet
        footers under ``out`` — exact for integral columns (parquet
        stores full-width int statistics). Returns None if any row
        group lacks statistics (caller falls back to an agg job).
        All-NULL ranges surface as (None, None, rows), matching what
        F.min/F.max would have returned."""
        import pyarrow.parquet as pq

        result: dict[int, tuple] = {}
        for entry in sorted(os.listdir(out)):
            if not entry.startswith("_rb="):
                continue
            rb = int(entry.split("=", 1)[1])
            lo = hi = None
            rows = 0
            rb_dir = os.path.join(out, entry)
            for fn in sorted(os.listdir(rb_dir)):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(rb_dir, fn))
                rows += md.num_rows
                try:
                    ci = md.schema.to_arrow_schema().names.index(phys_col)
                except ValueError:
                    return None  # column pruned from footer: bail out
                for g in range(md.num_row_groups):
                    cc = md.row_group(g).column(ci)
                    st = cc.statistics
                    if st is None:
                        return None
                    if not st.has_min_max:
                        if (
                            st.has_null_count
                            and st.null_count == cc.num_values
                        ):
                            continue  # all-NULL row group: no range
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            result[rb] = (lo, hi, rows)
        return result

    def append_clustered(
        self, df: DataFrame, col: str, n_groups: int = 8
    ) -> int:
        """Range-clustered append: rows are range-partitioned on
        ``col`` and each range lands as its OWN file group with tight
        min/max stats — the 1-D z-order that makes stats pruning
        selective (a random layout gives every group the full value
        range, so nothing ever prunes)."""
        version, prev_files, prev_stats = self._snapshot_state()
        df = self._enforce(df)
        schema_json = self._evolved_schema_json_of(df.schema, version)
        identity = self._mapping_identity(version - 1)
        files, stats = self._write_clustered_group(
            df, col, n_groups, identity[0]
        )
        return self._publish(
            "append",
            prev_files + files,
            {**prev_stats, **stats},
            schema_json,
            version,
            rebase=self._blind_add(
                df.schema,
                files,
                stats,
                identity,
                rewrite=lambda mapping: self._write_clustered_group(
                    df, col, n_groups, mapping
                ),
            ),
        )

    def overwrite(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        version, _, _ = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()
        df = self._enforce(df)
        new, new_stats = self._write_files(df, stats_cols)
        return self._publish(
            "overwrite", new, new_stats, df.schema.json(), version, batch_id
        )

    def snapshot_files(
        self,
        version: int | None = None,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
        point: tuple[str, object] | list[tuple[str, object]] | None = None,
    ) -> list[str]:
        """The file groups a read must open — after stats pruning.
        ``prune=(col, lo, hi)`` drops every group whose recorded
        [min, max] for col cannot overlap [lo, hi]; groups without
        stats for col are conservatively kept. A LIST of such tuples
        prunes conjunctively (every predicate must overlap) — the
        multi-dimension case z-ordered layouts exist for. Bounds are
        ordered by the column's type (ISO strings, dates and datetimes
        on temporal columns; decimals numerically); None is an open end.

        ``point=(col, value)`` additionally consults the bloom index
        (groups written with ``bloom_cols``): a group whose bloom
        provably excludes ``value`` is dropped. Same conservative
        contract — no bloom for col, or a bloom hit (including false
        positives), keeps the group; absence of the key is the only
        thing a bloom can prove. Every decision is ``_group_may_match``."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(version)
        ranges = [prune] if isinstance(prune, tuple) else (prune or [])
        points = [point] if isinstance(point, tuple) else (point or [])
        if not ranges and not points:
            return m["files"]
        stats = m.get("stats") or {}
        types = _stat_types(m["schema"]) if ranges else {}
        points = [(col, [val]) for col, val in points]
        return [
            f
            for f in m["files"]
            if _group_may_match(stats.get(f) or {}, types, ranges, points)
        ]

    def restore(self, version: int) -> int:
        """Delta RESTORE analog: make snapshot ``version`` current
        again by committing a NEW version that references the old
        snapshot's files — the undo button for a bad write. History
        is preserved (the bad versions stay readable for forensics
        until vacuum); data files are shared by reference, nothing is
        rewritten. Fails closed if the target's files were already
        vacuumed away.

        Concurrent vacuum: the pre-check alone had a full
        check-then-commit race (vacuum's min_age_s grace protects
        young staged groups, not the old target groups restore is
        resurrecting), so file existence is re-verified AFTER the
        commit and a manifest caught referencing deleted groups is
        unpublished before raising. That NARROWS the race to the one
        interleaving it cannot close without a lock: a vacuum whose
        keep-set snapshot predates the restore commit can still
        delete the target groups after the re-verify passes (and
        readers can observe the doomed manifest in the
        commit-to-rollback window). Like Delta, restore and vacuum
        are maintenance operations that assume a single maintenance
        writer; run them under external coordination."""
        m = self._manifest(version)  # raises FileNotFoundError if gone
        needed = list(m["files"]) + [
            d for lst in (m.get("dvs") or {}).values() for d in lst
        ]
        for f in needed:
            if not os.path.exists(os.path.join(self.root, f)):
                raise ValueError(
                    f"cannot restore version {version}: group {f} "
                    "was vacuumed"
                )
        next_version, _, _ = self._snapshot_state()
        # second verify at the last instant before the atomic publish:
        # the observable doomed-manifest window is now [here, link]
        # instead of [pre-check, link] — the post-commit re-verify
        # below remains the backstop for a vacuum that wins even this
        gone_pre = [
            f for f in needed if not os.path.exists(os.path.join(self.root, f))
        ]
        if gone_pre:
            raise ValueError(
                f"cannot restore version {version}: data group(s) "
                f"{gone_pre} were vacuumed concurrently"
            )
        # retired physicals UNION, never un-retire: the abandoned
        # future's manifests (and their files) remain in history, so a
        # physical name retired there must stay unbindable even after
        # restoring past the drop
        cur_retired = set(
            self._manifest(next_version - 1).get("retired_physical") or []
        ) | set(m.get("retired_physical") or [])
        committed = self._publish(
            "restore",
            m["files"],
            m.get("stats", {}),
            m["schema"],
            next_version,
            # adopt the TARGET snapshot's deletion vectors verbatim —
            # inheriting the CURRENT version's would apply later
            # deletes to the restored rows
            dvs=m.get("dvs") or {},
            inherit_dvs=False,
            # same rule for the column mapping: the restored schema's
            # logical names must resolve to the TARGET's physicals
            column_mapping=m.get("column_mapping") or {},
            retired_physical=sorted(cur_retired),
        )
        # Once the restore manifest is current, these groups are live
        # again and any LATER vacuum keeps them; only a vacuum that ran
        # in the window between the pre-check and the link can have
        # removed them. Re-verify and roll the manifest back if so.
        gone = [
            f
            for f in needed
            if not os.path.exists(os.path.join(self.root, f))
        ]
        if gone:
            self._rollback_own_commit(committed)
            raise ValueError(
                f"cannot restore version {version}: data group(s) "
                f"{gone} were vacuumed concurrently; restore rolled back"
            )
        return committed

    def _rollback_own_commit(self, committed: int) -> None:
        """Unlink the manifest this operation JUST published — but
        only while nothing chained on it. A concurrent append may have
        claimed version committed+1 as a protocol-4 delta record whose
        replay base is this manifest; unlinking would then wedge the
        whole table (latest forever unreadable), which is strictly
        worse than the vacuum-damaged-but-addressable history the
        rollback is trying to avoid. So: skip the unlink if a child is
        already visible, and if one lands in the check-to-unlink
        window, put the manifest back (the slot is ours to re-fill —
        old slots are never claimed by other writers)."""
        path = os.path.join(self._log, f"{committed:08d}.json")
        try:
            rec = json.load(open(path, encoding="utf-8"))
        except (FileNotFoundError, json.JSONDecodeError):
            return
        latest = self.latest_version()
        if latest is not None and latest > committed:
            return  # a child already chained on us: keep the manifest
        try:
            os.unlink(path)
        except FileNotFoundError:
            return
        latest = self.latest_version()
        if latest is not None and latest > committed:
            # a child slipped into the window: restore its replay base
            tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(rec, f, default=str)
            try:
                os.link(tmp, path)
            except FileExistsError:
                pass  # someone else healed it
            finally:
                os.unlink(tmp)
            self._mat_cache.pop(committed, None)

    def clone(self, dest_root: str, version: int | None = None) -> "VersionedTable":
        """Zero-copy snapshot CLONE (Delta ``CLONE TABLE`` analog):
        materialize the source snapshot at ``version`` (default:
        latest) as version 0 of a NEW table at ``dest_root``, without
        rewriting any data. File groups (and the snapshot's deletion
        vectors) are HARDLINKED into the clone's root, so the clone is
        self-contained under FORMAT.md's root-relative rule — and,
        unlike Delta's shallow clones, a later ``vacuum`` on the
        source cannot break it: unlink drops one link, the clone's
        inode survives. Falls back to a physical copy per file when
        the destination is on a different filesystem (EXDEV).

        Safe because data/dv files are immutable by construction —
        every mutation path (append, CoW delete, DV delete, merge,
        compaction) writes NEW groups and re-manifests; nothing edits
        a landed parquet/DV file in place. Clone and source therefore
        evolve fully independently after the clone commit.

        What carries: the snapshot's rows, per-file stats, bloom
        indexes (stats travel inside the manifest), deletion vectors,
        and CHECK constraints (table property, like Delta CLONE).
        What does NOT: the source's change-feed history (the clone's
        feed starts at its own version 0, which reports the cloned
        snapshot as inserts) and older source versions (time-travel a
        specific ``version`` and clone that instead).

        Cloning an OLD source version races a concurrent source
        vacuum exactly like ``read(version=old)`` does — same
        contract: old versions are addressable until vacuumed."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise ValueError(f"cannot clone {self.root}: table has no commits")
        m = self._manifest(version)
        dest = VersionedTable(dest_root)
        if dest.versions():
            raise ValueError(
                f"clone destination {dest_root} already has commits; "
                "clone only creates NEW tables"
            )
        dvs = {g: list(v) for g, v in (m.get("dvs") or {}).items()}
        groups = {self._group_of(f) for f in m["files"]}
        groups.update(g for lst in dvs.values() for g in lst)
        for rel in sorted(groups):
            src_dir = os.path.join(self.root, rel)
            dst_dir = os.path.join(dest_root, rel)
            for dirpath, _dirnames, filenames in os.walk(src_dir):
                sub = os.path.relpath(dirpath, src_dir)
                out = dst_dir if sub == "." else os.path.join(dst_dir, sub)
                os.makedirs(out, exist_ok=True)
                for fn in filenames:
                    src_f = os.path.join(dirpath, fn)
                    dst_f = os.path.join(out, fn)
                    try:
                        os.link(src_f, dst_f)
                    except OSError:
                        # cross-device (EXDEV) or FS without hardlinks:
                        # degrade to a physical copy, same contract
                        shutil.copy2(src_f, dst_f)
        cons = self.check_constraints()
        if cons:
            tmp = os.path.join(dest._log, f".tmp-cons-{uuid.uuid4().hex}.json")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(cons, f)
            os.replace(tmp, dest._constraints_path())
        dest._publish(
            "clone",
            list(m["files"]),
            m.get("stats") or {},
            m["schema"],
            0,
            dvs=dvs,
            provenance={
                "cloned_from": os.path.abspath(self.root),
                "source_version": version,
            },
            # hardlinked files keep their physical column names — the
            # clone needs the source snapshot's mapping to read them
            column_mapping=m.get("column_mapping") or {},
            retired_physical=m.get("retired_physical") or [],
        )
        return dest

    def overwrite_clustered(
        self, df: DataFrame, col: str, n_groups: int = 8
    ) -> int:
        """Range-clustered OVERWRITE: the new snapshot is exactly
        ``df``, landed clustered on ``col`` with tight per-group stats
        — the refresh path for derived tables (e.g. a re-saved IVF
        posting list) where append_clustered would stack the new data
        on top of the stale snapshot."""
        version, _, _ = self._snapshot_state()
        df = self._enforce(df)
        files, stats = self._write_clustered_group(df, col, n_groups)
        return self._publish("overwrite", files, stats, df.schema.json(), version)

    def append_zordered(
        self,
        df: DataFrame,
        cols: tuple,
        n_groups: int = 16,
        bits: int = 8,
    ) -> int:
        """Multi-column Z-order clustered append: rows are sorted
        along the Morton curve of ``cols`` (N >= 2; each value
        linearly bucketized to ``bits`` bits off its min/max, bit
        streams interleaved N-ary) — then range-partitioned on the
        z-value so every file group is a locality CELL in every
        dimension. Manifest stats are recorded for all N columns, so
        prune() on ANY dimension skips groups (the property 1-D
        clustering lacks: its non-cluster columns span the full range
        in every file). With more columns use fewer ``bits`` — N*bits
        must fit a long, and per-dimension selectivity dilutes as
        1/2^(bits used per dim) anyway (the standard z-order trade).

        All expression-level (shift/and/add inside codegen); the only
        driver data is the 2-value min/max row. Numeric columns only —
        temporal callers pass unix micros."""
        df = self._enforce(df)  # same write gate as every other ingest path
        version, prev_files, prev_stats = self._snapshot_state()
        # schema gate BEFORE the write so a conflicting frame leaves
        # no orphan group behind
        schema_json = self._evolved_schema_json_of(df.schema, version)
        identity = self._mapping_identity(version - 1)
        written = self._write_zordered_group(df, cols, n_groups, bits, identity[0])
        if written is None:
            # empty (or all-NULL-keys) batch: no z-curve to compute —
            # land it through append's empty-tolerant path instead of
            # float(None) crashing (normal for filtered micro-batches)
            return self.append(df)
        files, stats = written
        return self._publish(
            "append",
            prev_files + files,
            {**prev_stats, **stats},
            schema_json,
            version,
            rebase=self._blind_add(
                df.schema,
                files,
                stats,
                identity,
                rewrite=lambda mapping: self._write_zordered_group(
                    df, cols, n_groups, bits, mapping
                ),
            ),
        )

    def rewrite_zordered(
        self,
        spark: SparkSession,
        cols: tuple,
        n_groups: int = 16,
        bits: int = 8,
    ) -> int:
        """OPTIMIZE ... ZORDER BY: rewrite the CURRENT snapshot along
        the Morton curve of N >= 2 columns in one commit — the N-D
        sibling of rewrite_clustered, for tables whose ingest order
        left every file spanning the key ranges. Old versions stay
        readable (time travel) until vacuum()."""
        if self.latest_version() is None:
            raise ValueError(f"table {self.root} has no committed version")
        version, _, _ = self._snapshot_state()
        df = self.read(spark, version=version - 1 if version else None)
        written = self._write_zordered_group(df, cols, n_groups, bits)
        if written is None:
            raise ValueError(
                "rewrite_zordered on an empty (or all-NULL-key) snapshot "
                "has no curve to sort along; compact() instead"
            )
        files, stats = written
        return self._publish(
            "rewrite_zordered", files, stats, df.schema.json(), version
        )

    def _write_zordered_group(
        self,
        df: DataFrame,
        cols: tuple,
        n_groups: int,
        bits: int,
        mapping: dict[str, str] | None = None,
    ) -> tuple[list[str], dict] | None:
        """Land ``df`` as one Morton-ordered file group over N >= 2
        columns, under ``mapping``'s physical names (default: the
        current snapshot's); returns (files, stats) for the caller's commit, or
        None when the frame has no non-NULL key tuple to bucketize.
        Bit i of column j lands at z-position ``len(cols)*i + j`` —
        the straight N-ary Morton interleave, all expression-level
        inside codegen. ``len(cols) * bits`` must fit a long (gated);
        with many columns lower ``bits`` per column is the right
        trade — the curve only needs enough resolution to separate
        n_groups locality cells."""
        from pyspark.sql import functions as F

        cols = tuple(cols)
        n = len(cols)
        if n < 2:
            raise ValueError("z-order needs at least two columns")
        if n * bits > 62:
            raise ValueError(
                f"{n} columns x {bits} bits = {n * bits} z-bits "
                "exceed a long; lower bits (resolution per column)"
            )
        row = df.agg(
            *[F.min(c).alias(f"lo_{j}") for j, c in enumerate(cols)],
            *[F.max(c).alias(f"hi_{j}") for j, c in enumerate(cols)],
        ).collect()[0]
        if any(row[f"lo_{j}"] is None for j in range(n)):
            return None
        top = (1 << bits) - 1

        def bucket(col: str, lo: float, span: float):
            return F.floor(
                (F.col(col).cast("double") - F.lit(lo)) / F.lit(span) * top
            ).cast("long")

        bs = []
        for j, c in enumerate(cols):
            lo = float(row[f"lo_{j}"])
            span = max(float(row[f"hi_{j}"]) - lo, 1e-12)
            bs.append(bucket(c, lo, span))
        z = F.lit(0).cast("long")
        for i in range(bits):
            for j, b in enumerate(bs):
                z = z + F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(1), n * i + j
                )
        ranged = df.withColumn("_z", z).repartitionByRange(n_groups, "_z").cache()
        try:
            ranged.count()
            group = uuid.uuid4().hex
            out = os.path.join(self._data, group)
            with_bucket = ranged.withColumn("_rb", F.spark_partition_id())
            self._to_physical(
                with_bucket.drop("_z"),
                self._mapping() if mapping is None else mapping,
            ).write.mode("overwrite").partitionBy("_rb").parquet(out)
            stat_rows = (
                with_bucket.groupBy("_rb")
                .agg(
                    *[F.min(c).alias(f"lo_{j}") for j, c in enumerate(cols)],
                    *[F.max(c).alias(f"hi_{j}") for j, c in enumerate(cols)],
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
        finally:
            ranged.unpersist()
        files = [f"data/{group}/_rb={r['_rb']}" for r in stat_rows]
        stats = {
            f"data/{group}/_rb={r['_rb']}": {
                **{
                    c: [r[f"lo_{j}"], r[f"hi_{j}"]]
                    for j, c in enumerate(cols)
                },
                _ROWS_KEY: r["n"],
            }
            for r in stat_rows
        }
        return files, stats

    def _ts_at(self, version: int) -> float:
        """Commit stamp of one version, O(record) bytes (never
        materializes). Missing stamp (pre-stamp history) reads as 0 =
        "since forever" — and pre-stamp records are always a history
        PREFIX (newer writers always stamp), so the 0s sort first and
        the non-decreasing invariant holds across an engine upgrade."""
        return float(self._load_record(version).get("ts") or 0)

    def _bisect_stamps(self, vs: list[int], ts: float, side: str) -> int | None:
        """Shared stamp-bisect for TIMESTAMP AS OF / startingTimestamp
        / vacuum-RETAIN resolution. ``side``: 'last_le' = latest
        version with stamp <= ts, 'last_lt' = latest with stamp < ts,
        'first_ge' = earliest with stamp >= ts. O(log versions) record
        reads on the clamp-written (non-decreasing) histories every
        protocol-4 writer produces.

        Legacy guard: a history written BEFORE the write-time clamp
        can carry a backwards clock step, and a bisect over disordered
        stamps resolves to a wrong version silently. Each probe is
        checked against the extremes of the probes already bracketing
        it — any proven inversion aborts to a LINEAR walk under
        prefix-max monotonization (Delta's read-time rule: a commit's
        effective stamp is the max of its own and every predecessor's,
        which is also exactly what the write-time clamp produces for
        new commits). Probe-level detection is best-effort — an
        inversion invisible to the ~log(n) probes can still misresolve
        — so ``fsck`` checks the FULL history for stamp monotonicity;
        run it once on any table imported from a pre-clamp engine, and
        ``monotonize_stamps()`` to repair what it flags (after which
        bisects are exact again)."""
        stamps: dict[int, float] = {}

        def at(i: int) -> float:
            if i not in stamps:
                stamps[i] = self._ts_at(vs[i])
            return stamps[i]

        lo, hi = 0, len(vs) - 1
        best: int | None = None
        left_max, right_min = float("-inf"), float("inf")
        disorder = False
        while lo <= hi:
            mid = (lo + hi) // 2
            s = at(mid)
            if s < left_max or s > right_min:
                disorder = True
                break
            if side == "first_ge":
                if s >= ts:
                    best = vs[mid]
                    hi = mid - 1
                    right_min = min(right_min, s)
                else:
                    lo = mid + 1
                    left_max = max(left_max, s)
            else:
                took = (s < ts) if side == "last_lt" else (s <= ts)
                if took:
                    best = vs[mid]
                    lo = mid + 1
                    left_max = max(left_max, s)
                else:
                    hi = mid - 1
                    right_min = min(right_min, s)
        if not disorder:
            return best
        # linear fallback: prefix-max monotonized stamps, early break
        # once the (now non-decreasing) effective stamp passes ts
        run = float("-inf")
        best = None
        for v in vs:
            run = max(run, self._ts_at(v))
            if side == "first_ge":
                if run >= ts:
                    return v
            elif run < ts if side == "last_lt" else run <= ts:
                best = v
            else:
                break
        return None if side == "first_ge" else best

    def version_at_timestamp(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution (the Delta rule): the LATEST
        version whose commit timestamp is <= ``ts`` — the snapshot a
        reader at that wall-clock instant would have seen. Raises if
        ``ts`` predates the first commit.

        O(log versions): commit stamps are non-decreasing by
        construction (``_commit`` clamps each stamp to its parent's —
        Delta's read-time monotonization, applied at write time), so
        the resolution BISECTS the version list with one raw-record
        read per probe instead of walking every manifest. On a
        1000-commit streaming-ingest table that is ~10 tiny JSON reads
        instead of 1000 (measured: tests/test_versioned.py
        ``test_timestamp_resolution_bisects``). Pre-clamp histories
        with a backwards clock step fall back to a linear prefix-max
        walk when the probes prove an inversion (``_bisect_stamps``)."""
        vs = self.versions()
        best = self._bisect_stamps(vs, ts, "last_le")
        if best is None:
            raise ValueError(
                f"table {self.root} has no version at or before "
                f"timestamp {ts} (first commit is newer)"
            )
        return best

    def monotonize_stamps(self) -> int:
        """One-time repair for PRE-CLAMP histories (engines before the
        write-time stamp clamp): rewrite every record whose commit
        stamp decreases below its predecessor's to the running
        prefix-max — Delta's read-time monotonization, applied once at
        rest — so TIMESTAMP AS OF / startingTimestamp / vacuum-RETAIN
        bisects are exact again (``fsck`` reports the disorder that
        warrants this). Stamps are additive metadata (correctness
        never depends on them), each rewrite is an atomic
        ``os.replace`` of one record, and file sets are untouched, so
        concurrent READERS are unaffected; run it without concurrent
        WRITERS (a writer clamping against a not-yet-rewritten parent
        could reintroduce a smaller stamp). Returns the number of
        records rewritten."""
        run = float("-inf")
        fixed = 0
        for v in self.versions():
            try:
                rec = self._load_record(v)
            except FileNotFoundError:
                continue  # vacuumed under us
            ts_v = float(rec.get("ts") or 0)
            if ts_v < run:
                rec["ts"] = run
                tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
                with open(tmp, "w", encoding="utf-8") as f:
                    json.dump(rec, f, default=str)
                os.replace(tmp, os.path.join(self._log, f"{v:08d}.json"))
                self._mat_cache.pop(v, None)
                fixed += 1
            else:
                run = ts_v
        return fixed

    def restore_to_timestamp(self, ts: float) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF: restore to the
        snapshot a reader at wall-clock ``ts`` would have seen
        (``version_at_timestamp`` resolution), with restore's full
        vacuum-race discipline."""
        return self.restore(self.version_at_timestamp(ts))

    def _created_ts(self) -> float | None:
        """Creation timestamp for DESCRIBE DETAIL: manifest 0's commit
        ts when it survives, else the OLDEST surviving manifest's
        (vacuum deletes manifests past the retention horizon, so a
        long-lived table's version 0 is gone in the steady state —
        detail() must not raise on exactly the tables it matters
        for)."""
        for v in self.versions():
            try:
                return self._load_record(v).get("ts") or None
            except FileNotFoundError:
                continue
        return None

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one metadata-only summary of the current
        snapshot — version, protocol, file/row counts, on-disk bytes
        of the LIVE data groups, schema, column mapping, deletion-
        vector presence, CHECK constraints, and commit timestamp. No
        SparkSession, no data pages; byte sizes are os.stat walks of
        the live groups (bounded by file count)."""
        lv = self.latest_version()
        if lv is None:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(lv)
        size = 0
        for f in m["files"]:
            base = os.path.join(self.root, f)
            for dirpath, _dirs, files in os.walk(base):
                for fn in files:
                    try:
                        size += os.path.getsize(os.path.join(dirpath, fn))
                    except OSError:
                        pass
        return {
            "format": "versioned-manifest/parquet",
            "location": os.path.abspath(self.root),
            "version": lv,
            "writer_version": m.get("writer_version", 1),
            "num_files": len(m["files"]),
            "num_rows": self.count_rows(lv),
            "size_bytes": size,
            "created_ts": self._created_ts(),
            "last_modified_ts": (m.get("ts") or None),
            "schema": m["schema"],
            "column_mapping": m.get("column_mapping") or {},
            "retired_physical": m.get("retired_physical") or [],
            "has_deletion_vectors": bool(m.get("dvs")),
            "check_constraints": self.check_constraints(),
            "generated_columns": self.generated_columns(),
            "num_versions": len(self.versions()),
        }

    def count_rows(self, version: int | None = None) -> int:
        """Metadata-only COUNT(*) (Delta/Iceberg's metadata-only
        query): the snapshot's exact row count computed WITHOUT a
        SparkSession and without touching a single data page. Per
        group the count comes from the manifest's ``__rows__`` stat
        (recorded at write time); a legacy group committed before the
        stat existed falls back to its parquet FOOTERS (metadata
        reads, still no data scan). Deletion-vector positions subtract
        exactly: DVs on one group are disjoint by construction
        (delete_where_dv matches against the DV-APPLIED read, so an
        already-invalidated row can never be re-invalidated), and only
        positions in LIVE files count — a subgroup rewrite can orphan
        part of a carried vector; reads ignore those positions (the
        anti-join key never matches) and so does the count.

        Scale: at 100 TB an unfiltered ``SELECT COUNT(*)`` becomes one
        manifest read — O(file groups) driver work, zero executor
        work — instead of a full scan. DV reads (the ``file`` column
        of the position lists) are bounded by DELETE volume, never
        table size."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(version)
        stats = m.get("stats") or {}
        total = 0
        for f in m["files"]:
            n = stats.get(f, {}).get(_ROWS_KEY)
            total += (
                int(n)
                if n is not None
                else _footer_rows(os.path.join(self.root, f))
            )
        # One delete_where_dv commit writes a single positions dir but
        # lists it under EVERY data group it hit; dedupe before
        # subtracting (mirrors _apply_dvs) or a multi-group DV delete
        # would be subtracted once per group. Subtract only positions
        # in LIVE files: DVs ride at GROUP granularity while rewrites
        # drop individual subgroup files (a pruned merge/delete on one
        # _rb range of a clustered group), so a carried vector can
        # reference files no longer in the snapshot — reads already
        # ignore those positions (the anti-join key never matches),
        # and the count must too. Cost: the DV parquet's `file` column
        # — a read bounded by DELETE volume, never table size, still
        # no Spark job.
        dv_paths = {d for lst in (m.get("dvs") or {}).values() for d in lst}
        if dv_paths:
            import pyarrow.parquet as pq

            live_dirs = set(m["files"])
            for d in sorted(dv_paths):
                ddir = os.path.join(self.root, d)
                for fn in os.listdir(ddir):
                    if not fn.endswith(".parquet"):
                        continue
                    col = pq.read_table(
                        os.path.join(ddir, fn), columns=["file"]
                    ).column("file")
                    for fp in col.to_pylist():
                        if fp.rsplit("/", 1)[0] in live_dirs:
                            total -= 1
        return total

    def metadata_min_max(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """Metadata-only MIN/MAX of ``col``: (min, max) straight from
        the manifest's data-skipping stats — no SparkSession, no scan —
        or None when not derivable. Derivable needs (a) every group to
        carry min/max for ``col`` (a group of all-NULL values records
        [None, None] and min/max ignore NULLs, so it simply doesn't
        contribute — unless EVERY group is all-NULL, which returns
        None like SQL's NULL min) and (b) no deletion vectors anywhere
        in the snapshot: a DV may have invalidated exactly the extremal
        row, making the recorded bound an over-approximation. Callers
        fall back to a real scan on None — the contract is
        exact-or-refuse, never approximate."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(version)
        if m.get("dvs"):
            return None
        stats = m.get("stats") or {}
        los: list = []
        his: list = []
        for f in m["files"]:
            s = stats.get(f, {}).get(col)
            if s is None:
                return None  # unindexed group: bound unknown
            if s[0] is None or s[1] is None:
                continue  # all-NULL group contributes nothing
            los.append(s[0])
            his.append(s[1])
        if not los:
            return None
        return (min(los), max(his))

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
        point: tuple[str, object] | list[tuple[str, object]] | None = None,
        timestamp: float | None = None,
    ) -> DataFrame:
        """The snapshot at ``version`` (default: latest). Old versions
        stay readable until vacuum() — that IS time travel.
        ``timestamp`` is the TIMESTAMP AS OF form (epoch seconds,
        resolved via ``version_at_timestamp``; mutually exclusive
        with ``version``).

        ``prune`` applies manifest-stats file skipping BEFORE the scan
        and ``point`` bloom-index skipping (see snapshot_files) — the
        caller still applies the exact row filter; pruning is a
        superset guarantee, same contract as parquet row-group stats
        one level up."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version= or timestamp=, not both")
            version = self.version_at_timestamp(timestamp)
        if version is None:
            version = self.latest_version()
        files = self.snapshot_files(version, prune, point)
        if not files:
            m = self._manifest(version if version is not None else self.latest_version())
            schema = StructType.fromJson(json.loads(m["schema"]))
            return spark.createDataFrame([], schema)
        df = self._read_files(spark, version, files)
        return self._apply_dvs(spark, df, version, files)

    def as_view(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        timestamp: float | None = None,
    ) -> str:
        """Register a snapshot as a temp view so plain ``spark.sql``
        queries run over the versioned table — the SQL-interop half
        of the Delta `CREATE TABLE ... USING delta` story that a
        metastore normally provides. The view binds ONE snapshot
        (pinned at registration: DataFrame reads of an immutable file
        set — later commits do not leak in, exactly time travel's
        contract); re-register to follow the head. ``version=`` /
        ``timestamp=`` expose AS OF directly in the SQL workflow.
        Returns ``name`` for call chaining."""
        self.read(spark, version=version, timestamp=timestamp).createOrReplaceTempView(
            name
        )
        return name

    def _read_files(
        self,
        spark: SparkSession,
        version: int,
        files,
        with_change_col: bool = False,
    ) -> DataFrame:
        """Schema-driven scan of ``files`` under the MANIFEST schema
        of ``version`` — the Delta discipline: the log, not parquet
        footers, owns the table schema. This kills the footer-merge
        inference job a ``mergeSchema`` read runs (it opens EVERY
        footer before planning — real money at 100 TB file counts)
        and makes evolved groups readable: the reader NULL-pads
        columns a file predates and up-casts numerics a file wrote
        narrower (int->long, float->double), which footer merging
        refuses outright (CANNOT_MERGE_SCHEMAS). Sound because the
        append-path evolution gate (_evolved_schema_json_of) guarantees
        every committed file's schema is a subset-or-widenable of its
        version's manifest schema."""
        m = self._manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if with_change_col:
            # typed capture groups embed the per-row direction tag
            # alongside the data columns (never a table column — the
            # feed source refuses tables that name one _change_type)
            schema = StructType(
                list(schema.fields)
                + [StructField("_change_type", StringType(), False)]
            )
        mapping = m.get("column_mapping") or {}
        paths = [os.path.join(self.root, f) for f in sorted(set(files))]
        if not mapping:
            return spark.read.schema(schema).parquet(*paths)
        # column mapping: scan under the PHYSICAL schema (files keep
        # their original on-file names forever — a rename is metadata
        # only), then project back to logical names. A DROPPED
        # column's physical simply isn't in the logical schema, so
        # the scan never reads it (column pruning does the "delete").
        physical = StructType(
            [
                StructField(
                    mapping.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                )
                for f in schema.fields
            ]
        )
        df = spark.read.schema(physical).parquet(*paths)
        for logical, phys in mapping.items():
            if phys != logical and phys in df.columns:
                df = df.withColumnRenamed(phys, logical)
        return df

    def _apply_dvs(
        self, spark: SparkSession, df: DataFrame, version: int, files: list[str]
    ) -> DataFrame:
        """Merge-on-read: anti-join away the positions any deletion
        vector marks dead in the groups being read. No DVs (the
        common case) = the input plan unchanged. The DV side is
        deleted-row-count sized and broadcast; the join key is
        (root-relative file subpath, parquet row index) computed from
        the hidden ``_metadata`` column identically on the build and
        probe sides, so relocation of the table root cannot break it."""
        dvs = self._manifest(version).get("dvs") or {}
        groups = {self._group_of(f) for f in files}
        dv_groups = sorted(
            {d for g, lst in dvs.items() if g in groups for d in lst}
        )
        if not dv_groups:
            return df
        from pyspark.sql import functions as F

        dv = spark.read.parquet(
            *[os.path.join(self.root, d) for d in dv_groups]
        ).select("file", "idx")
        keyed = df.withColumn(
            "__dv_file",
            F.concat(
                F.lit("data/"),
                F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
            ),
        ).withColumn("__dv_idx", F.col("_metadata.row_index"))
        return (
            keyed.join(
                F.broadcast(dv),
                (keyed["__dv_file"] == dv["file"])
                & (keyed["__dv_idx"] == dv["idx"]),
                "left_anti",
            )
            .drop("__dv_file", "__dv_idx")
        )

    def feed_slices(
        self,
        since_version: int,
        to_version: int | None = None,
        skip_change_commits: bool = False,
    ) -> list[tuple[int, str, list[str]]]:
        """Manifest-only change-feed plan: the ordered
        ``(commit_version, 'insert' | 'delete' | 'typed', [group
        paths])`` slices for commits in (since_version, to_version].
        'typed' slices (captured merge/upsert) carry the per-row
        direction in the capture group's own _change_type column. This is
        the driver-side half of the typed change feed, shared by the
        DataFrame reader (``read_change_feed``) and the streaming
        source (storage/stream_source.py) so the two can never
        disagree about which rows a version contributed. Costs one
        JSON record read per commit in the window — never touches data
        files, and on a protocol-4 delta history never MATERIALIZES a
        snapshot either: an append's added groups are the record's own
        ``add_files`` and a capture's group is per-record, so a pure
        streaming-ingest CDC window plans in O(change) bytes at any
        table size (full-manifest histories fall back to the snapshot
        diff, memoized). Raises exactly as ``read_change_feed``: on an
        unclassified or feed-breaking action, or an uncaptured
        delete. ``skip_change_commits`` (Delta's skipChangeCommits):
        insert-only consumption — deletes/merges/upserts/
        replace_wheres, captured or not, contribute nothing instead
        of slicing or raising; overwrite/restore/rename stay
        walls."""
        if to_version is None:
            to_version = self.latest_version()
        if to_version is None or since_version > to_version:
            raise ValueError("empty or invalid version range")
        # `base` = the file set at `prev_v`, maintained LAZILY: the
        # delta fast paths never need it, so it is only computed
        # (memoized _manifest) when a full record's diff demands it.
        base: set | None = None
        prev_v = since_version
        slices: list[tuple[int, str, list[str]]] = []

        def _base_at(v: int) -> set:
            return set(self._manifest(v)["files"]) if v >= 0 else set()

        for v in self.versions():
            if not (since_version < v <= to_version):
                continue
            rec = self._load_record(v)
            action = rec["action"]
            chained = "delta_of" in rec and rec["delta_of"] == prev_v

            def _advance(rec=rec, chained=chained):
                # keep `base` current for the NEXT iteration when it
                # is cheap; otherwise drop it and let a later full
                # diff recompute lazily
                nonlocal base
                if "delta_of" not in rec:
                    base = set(rec["files"])
                elif chained and base is not None:
                    base = (base - set(rec["remove_files"])) | set(
                        rec["add_files"]
                    )
                else:
                    base = None

            if action in _FEED_ROW_PRESERVING:
                # row-preserving rewrite: no change slice, new baseline
                # (keeps maybe_compact-after-every-batch compatible
                # with StreamingViewMaintainer's feed consumption)
                _advance()
                prev_v = v
                continue
            if action not in _FEED_ALL_ACTIONS:
                raise ValueError(
                    f"version {v} has unclassified commit action "
                    f"{action!r}: add it to the feed classification "
                    "sets in storage/versioned.py"
                )
            if skip_change_commits and action in _SKIPPABLE_CHANGE_ACTIONS:
                # Delta's skipChangeCommits: an insert-only consumer
                # deliberately ignores file-changing commits — captured
                # OR uncaptured deletes/merges/upserts/replace_wheres
                # contribute nothing and just advance the baseline
                # (their rewritten survivor groups are NOT new rows).
                # Overwrite/restore/rename stay walls: those replace
                # the table, which no insert-only semantics can absorb.
                _advance()
                prev_v = v
                continue
            if action in _FEED_INSERT_ACTIONS:
                if chained:
                    # O(change): the record's own adds ARE the diff
                    added = list(rec["add_files"])
                else:
                    if base is None:
                        base = _base_at(prev_v)
                    files = (
                        rec["files"]
                        if "delta_of" not in rec
                        else self._manifest(v)["files"]
                    )
                    added = [f for f in files if f not in base]
                if added:
                    slices.append((v, "insert", sorted(set(added))))
            elif action in _FEED_CAPTURE_ACTIONS:
                # None = capture was off; "" = capture on, zero rows
                if rec.get("changes") is None:
                    raise ValueError(
                        f"version {v} is a delete committed without change "
                        "capture (emit_changes=False): its removed rows are "
                        "not derivable — change feed unavailable across it"
                    )
                if rec["changes"]:
                    slices.append((v, "delete", [rec["changes"]]))
                # a delete also lands the affected groups' SURVIVORS as
                # a new file group — those rows did not change, so the
                # new group is NOT an insert slice
            elif action in _FEED_TYPED_CAPTURE_ACTIONS:
                # merge/upsert: the capture group carries BOTH
                # directions, per-row typed (update = delete preimage +
                # insert postimage) — the rewritten data groups mix
                # changed and carried rows, so only the capture is a
                # change slice
                if rec.get("changes") is None:
                    raise ValueError(
                        f"version {v} is a {action} committed without "
                        "change capture (emit_changes=False): its rowset "
                        "change is not derivable — change feed unavailable "
                        "across it"
                    )
                if rec["changes"]:
                    slices.append((v, "typed", [rec["changes"]]))
            else:
                raise ValueError(
                    f"version {v} is {action!r}: change feed is only "
                    "derivable across appends and captured deletes/merges"
                )
            _advance()
            prev_v = v
        return slices

    def read_change_feed(
        self, spark: SparkSession, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Typed change feed (the Delta CDF analog): every row added
        or removed by commits in (since_version, to_version], tagged
        ``_change_type`` ('insert' | 'delete') and
        ``_commit_version``. Appends contribute inserts from their
        new file groups; deletes contribute their captured change
        group (``delete_where(..., emit_changes=True)``); captured
        merges/upserts/replace_wheres contribute their TYPED capture
        group (per-row tag — an update is delete preimage + insert
        postimage). Any of those committed WITHOUT capture raises,
        because its rowset change is not derivable from manifests
        alone; overwrite/restore raise unconditionally (table-sized).
        Row-preserving rewrites (compact/OPTIMIZE/analyze) contribute
        nothing. The version walk lives in ``feed_slices``; this
        method only turns each slice into a tagged DataFrame."""
        from pyspark.sql import functions as F

        if to_version is None:
            to_version = self.latest_version()

        def _tagged(paths: list[str], change: str, v: int) -> DataFrame:
            # each slice reads under ITS commit's manifest schema (the
            # stream source applies the same rule per file)
            if change == "typed":
                # merge/upsert capture: the direction tag is a per-row
                # column embedded in the capture group itself
                df = self._read_files(spark, v, paths, with_change_col=True)
                return df.withColumn("_commit_version", F.lit(v))
            df = self._read_files(spark, v, paths)
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", F.lit(v)
            )

        slices = [
            _tagged(paths, change, v)
            for v, change, paths in self.feed_slices(since_version, to_version)
        ]
        if not slices:
            m = self._manifest(to_version)
            schema = StructType.fromJson(json.loads(m["schema"]))
            return spark.createDataFrame([], schema).withColumn(
                "_change_type", F.lit("insert")
            ).withColumn("_commit_version", F.lit(0)).limit(0)
        out = slices[0]
        for s in slices[1:]:
            out = out.unionByName(s, allowMissingColumns=True)
        return out

    # --- MERGE / upsert ------------------------------------------------

    def _read_groups(
        self, spark: SparkSession, version: int, files: list[str]
    ) -> DataFrame:
        """Scan an explicit subset of snapshot ``version``'s file
        groups with its deletion vectors applied — the shared read
        every partial-rewrite path (merge / delete / replace_where)
        builds on. An empty subset returns an empty frame with the
        snapshot schema, so downstream joins stay well-typed."""
        if not files:
            m = self._manifest(version)
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        ordered = sorted(files)
        df = self._read_files(spark, version, ordered)
        return self._apply_dvs(spark, df, version, ordered)

    @staticmethod
    def _bloomable(dtype) -> bool:
        """Types the bloom index supports: integer and string keys
        stringify identically on the build (CAST AS STRING) and probe
        (str()) sides; anything else risks silent wrong pruning (see
        _build_bloom)."""
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        return isinstance(
            dtype, (ByteType, ShortType, IntegerType, LongType, StringType)
        )

    @staticmethod
    def _auto_prunable(dtype) -> bool:
        """Key types whose driver-side stats comparison provably agrees
        with Spark's ordering after the manifest JSON round-trip:
        integers/floats/booleans/strings compare natively, dates
        stringify TZ-free. Timestamps are EXCLUDED — their stats were
        stringified under the WRITING session's timezone rendering,
        and an ordering disagreement here would prune a group that
        holds a match (a silently dropped update, not a slow query).
        Decimals likewise (lexical vs numeric). Conservative fallback:
        an excluded key column simply contributes no prune bound."""
        from pyspark.sql.types import (
            BooleanType,
            ByteType,
            DateType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        return isinstance(
            dtype,
            (
                BooleanType,
                ByteType,
                ShortType,
                IntegerType,
                LongType,
                FloatType,
                DoubleType,
                StringType,
                DateType,
            ),
        )

    def _merge_candidates(
        self, source: DataFrame, keys: list[str], version: int, stats: dict
    ) -> tuple[list[str], bool]:
        """The file groups of snapshot ``version`` that COULD hold a
        row key-matching ``source`` — merge's read set, and (under
        copy-on-write) its rewrite set. ONE agg job over the source
        derives per-key [min, max]; ``snapshot_files`` range-prunes
        the manifest stats against them, then per-group bloom indexes
        are probed with the source's distinct keys when the source is
        point-lookup sized (<= _MERGE_BLOOM_PROBE_MAX — the CDC /
        targeted-upsert case, where ranges of append-ordered groups
        all overlap but blooms prove absence). Conservative by
        construction: a key column carrying NULLs contributes no
        bound (manifest min/max are null-blind, and null-safe matching
        means a NULL source key can hit target rows the range never
        sees); a group without stats or bloom for a column is always
        kept. Returns (candidate files, source_is_empty)."""
        from pyspark.sql import functions as F

        prunable = [
            k for k in keys if self._auto_prunable(source.schema[k].dataType)
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, k in enumerate(prunable):
            aggs.extend(
                [
                    F.min(k).alias(f"__lo_{i}"),
                    F.max(k).alias(f"__hi_{i}"),
                    F.max(F.col(k).isNull().cast("int")).alias(f"__null_{i}"),
                ]
            )
        row = source.agg(*aggs).collect()[0]
        if row["__n"] == 0:
            # an empty source matches nothing: no candidates, and the
            # caller resolves that without reading any group
            return [], True
        prune: list[tuple[str, object, object]] = []
        probe_cols: list[str] = []
        for i, k in enumerate(prunable):
            if row[f"__null_{i}"] or row[f"__lo_{i}"] is None:
                continue
            probe_cols.append(k)
            prune.append((k, row[f"__lo_{i}"], row[f"__hi_{i}"]))
        cands = self.snapshot_files(version, prune or None)
        points = []
        for k in probe_cols:
            if not any(
                stats.get(f, {}).get(_BLOOM_KEY, {}).get(k) for f in cands
            ):
                continue
            vals = (
                source.select(k)
                .distinct()
                .limit(_MERGE_BLOOM_PROBE_MAX + 1)
                .collect()
            )
            if len(vals) <= _MERGE_BLOOM_PROBE_MAX:
                # point-lookup sized: a group whose bloom holds NONE of
                # the source keys is dropped
                points.append((k, [r[k] for r in vals]))
        if points:
            cands = [
                f
                for f in cands
                if _group_may_match(stats.get(f) or {}, {}, (), points)
            ]
        return cands, False

    def _merge_prepare(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        when_matched: str,
        when_not_matched: str,
        when_not_matched_by_source: str,
        batch_id: int | None,
        stats_cols: list[str] | None,
        strategy: str,
        what: str,
        emit_changes: bool = False,
    ) -> tuple[int | None, tuple | None]:
        """Shared merge/upsert planner (ONE implementation of the
        matching rules and the pruned/merge-on-read write paths, so
        the two public writers can never diverge). Returns
        (done_version, None) when the operation resolved without a
        new commit (batch-id replay, version-0 append), else
        (None, (files, schema_json, stats, dvs, version,
        changes_rel)) for the caller to commit under its own LITERAL
        action string — the
        feed-taxonomy meta-test AST-checks _commit call sites."""
        from pyspark.sql import functions as F

        version, prev_files, pinned_stats = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version(), None
        contributes = when_matched == "update" or when_not_matched == "insert"
        if contributes:
            source = self._enforce(source)
        if version == 0:
            if when_not_matched == "insert":
                # a merge into a never-written table IS an append —
                # commit it as one (a pure-insert action also keeps
                # the change feed consumable across the bootstrap)
                return (
                    self.append(source, batch_id=batch_id, stats_cols=stats_cols),
                    None,
                )
            raise ValueError(f"table {self.root} has no committed version")

        candidates, src_empty = self._merge_candidates(
            source, keys, version - 1, pinned_stats
        )
        full_sync = when_not_matched_by_source == "delete"
        if src_empty and not full_sync:
            # provably identity: carry every group by reference (the
            # commit still claims the batch id and the "merge" action,
            # so replays and history stay uniform)
            return None, (
                list(prev_files),
                self._manifest(version - 1)["schema"],
                dict(pinned_stats),
                {},
                version,
                "" if emit_changes else None,  # capture on, zero rows
            )
        cand_df = self._read_groups(spark, version - 1, candidates)
        if contributes:
            snap_cols = [
                f.name
                for f in StructType.fromJson(
                    json.loads(self._manifest(version - 1)["schema"])
                ).fields
            ]
            self._require_full_row(
                set(snap_cols) | set(cand_df.columns), source.columns, what
            )

        if full_sync:
            # every unmatched target row is affected: inherently a
            # table-sized rowset change (only candidates are READ —
            # survivors can live nowhere else)
            affected = set(prev_files)
        elif strategy == "mor" or when_matched == "keep":
            affected: set[str] = set()  # no target row rewritten in place
        else:
            affected = set(candidates)

        def key_cond(left: str, right: str):
            return self._nullsafe_key_cond(keys, left, right)

        src_keys = source.select(*keys).alias("src")
        cand_keys = cand_df.select(*keys).alias("cur")

        dvs: dict[str, list[str]] = {}
        if strategy == "mor" and when_matched in ("update", "delete") and candidates:
            # merge-on-read: invalidate matched target rows by
            # POSITION. The scan is pruned to candidate groups,
            # existing DVs applied first (a dead row is never
            # double-listed), and _metadata is resolved BEFORE the
            # persist so the cached plan still matches the scan (the
            # delete_where_dv lesson).
            matched = (
                cand_df.withColumn(
                    "__pos_file",
                    F.concat(
                        F.lit("data/"),
                        F.substring_index(
                            F.col("_metadata.file_path"), "/data/", -1
                        ),
                    ),
                )
                .withColumn("__pos_idx", F.col("_metadata.row_index"))
                .alias("cur")
                .join(src_keys, key_cond("cur", "src"), "semi")
                .persist()
            )
            try:
                if not matched.isEmpty():
                    positions = matched.select(
                        F.col("__pos_file").alias("file"),
                        F.col("__pos_idx").alias("idx"),
                    )
                    group = uuid.uuid4().hex
                    positions.write.mode("overwrite").parquet(
                        os.path.join(self._dv_dir, group)
                    )
                    rel = f"dv/{group}"
                    hit = {
                        self._group_of(r["file"])
                        for r in positions.select("file").distinct().collect()
                    }
                    dvs = {g: [rel] for g in sorted(hit)}
            finally:
                matched.unpersist()

        parts: list[DataFrame] = []
        if when_matched == "update":
            parts.append(
                source.alias("src").join(cand_keys, key_cond("src", "cur"), "semi")
            )
        elif when_matched == "keep" and full_sync:
            parts.append(
                cand_df.alias("cur").join(src_keys, key_cond("cur", "src"), "semi")
            )
        if not full_sync and strategy == "cow" and when_matched in ("update", "delete"):
            # survivors of the rewritten candidate groups: unmatched
            # target rows carried forward IN the new group
            parts.append(
                cand_df.alias("cur").join(src_keys, key_cond("cur", "src"), "anti")
            )
        if when_not_matched == "insert":
            parts.append(
                source.alias("src").join(cand_keys, key_cond("src", "cur"), "anti")
            )

        if stats_cols is None:
            stats_cols = self._pinned_stats_cols(pinned_stats)
        new: list[str] = []
        new_stats: dict = {}
        if parts:
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p, allowMissingColumns=True)
            # keep the point-lookup index alive across the rewrite: a
            # group written WITHOUT the blooms its predecessors had
            # would be conservatively kept by every future merge and
            # snowball the steady-state CDC cost back toward O(table)
            bloom_cols = [
                c
                for c in sorted(
                    {
                        c
                        for st in pinned_stats.values()
                        for c in st.get(_BLOOM_KEY, {})
                    }
                )
                if c in merged.columns
                and self._bloomable(merged.schema[c].dataType)
            ]
            # persist: the emptiness probe, the write, and the
            # stats/bloom aggs each consume the semi/anti-join plan —
            # without the cache each one rescans candidates + source
            merged = merged.persist()
            try:
                if not merged.isEmpty():
                    new, new_stats = self._write_files(
                        merged, stats_cols=stats_cols, bloom_cols=bloom_cols or None
                    )
            finally:
                merged.unpersist()
            schema_json = merged.schema.json()
        else:
            schema_json = self._manifest(version - 1)["schema"]
        changes_rel: str | None = "" if emit_changes else None
        if emit_changes:
            # Typed change capture (Delta CDF for MERGE): one group
            # holding every REMOVED row tagged 'delete' (matched
            # preimages under update/delete — read DV-applied, so a
            # dead row never re-emits) and every ADDED row tagged
            # 'insert' (update postimages + inserts). An update is the
            # standard delete+insert pair, which sign-based consumers
            # (IVM) net correctly and key-based consumers (mirror)
            # apply as an upsert. Cost: one capture write bounded by
            # the CHANGE volume — the groups read are the candidates
            # the merge already reads.
            removed_parts: list[DataFrame] = []
            added_parts: list[DataFrame] = []
            if when_matched in ("update", "delete") and candidates:
                removed_parts.append(
                    cand_df.alias("cur").join(
                        src_keys, key_cond("cur", "src"), "semi"
                    )
                )
            if when_matched == "update":
                added_parts.append(
                    source.alias("src").join(
                        cand_keys, key_cond("src", "cur"), "semi"
                    )
                )
            if when_not_matched == "insert":
                added_parts.append(
                    source.alias("src").join(
                        cand_keys, key_cond("src", "cur"), "anti"
                    )
                )
            tagged = [
                p.withColumn("_change_type", F.lit("delete"))
                for p in removed_parts
            ] + [
                p.withColumn("_change_type", F.lit("insert"))
                for p in added_parts
            ]
            if tagged:
                cf = tagged[0]
                for p in tagged[1:]:
                    cf = cf.unionByName(p, allowMissingColumns=True)
                if not cf.isEmpty():
                    cgroup = uuid.uuid4().hex
                    self._to_physical(
                        cf, self._mapping(version - 1)
                    ).write.mode("overwrite").parquet(
                        os.path.join(self._changes_dir, cgroup)
                    )
                    changes_rel = f"changes/{cgroup}"
        untouched = [f for f in prev_files if f not in affected]
        kept_stats = {f: s for f, s in pinned_stats.items() if f not in affected}
        return None, (
            untouched + new,
            schema_json,
            {**kept_stats, **new_stats},
            dvs,
            version,
            changes_rel,
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "update",
        when_not_matched: str = "insert",
        when_not_matched_by_source: str = "keep",
        batch_id: int | None = None,
        stats_cols: list[str] | None = None,
        strategy: str = "cow",
        emit_changes: bool = False,
    ) -> int:
        """Three-clause MERGE (the full Delta ``MERGE INTO`` surface;
        ``upsert`` is the update/insert/keep special case):

        - ``when_matched``: target rows whose keys appear in the
          source — ``"update"`` (replaced whole by the source row),
          ``"delete"``, or ``"keep"``.
        - ``when_not_matched``: source rows with no target match —
          ``"insert"`` or ``"ignore"``.
        - ``when_not_matched_by_source``: target rows with no source
          match — ``"keep"`` or ``"delete"`` (the full-sync clause:
          update/insert/delete makes the table exactly the source).

        Write cost is bounded by the CHANGE, not the table:

        - ``strategy="cow"`` (default) rewrites only the file groups
          whose manifest stats / bloom indexes could hold a source-key
          match (``_merge_candidates``); every other group carries
          into the new version by reference — the ``delete_where``
          prune discipline. A 10-key MERGE into a key-clustered or
          bloom-indexed 100 TB table rewrites a few groups, not the
          snapshot. ``when_not_matched_by_source="delete"`` is the
          exception: every unmatched target row is affected, so the
          rowset change is inherently table-sized (candidates are
          still the only groups READ — survivors live nowhere else).
        - ``strategy="mor"`` (merge-on-read — the deletion-vector
          MERGE): matched target rows are invalidated by a deletion
          vector (positions only, no data rewrite) and the
          update/insert rows land as ONE appended group, so write
          cost is O(source) regardless of pruning quality. Requires
          ``when_not_matched_by_source="keep"``. Repeated MoR merges
          accumulate vectors until a compaction sheds them —
          ``maybe_compact`` is the steady-state companion.

        ``emit_changes=True`` writes a TYPED capture group (removed
        rows tagged 'delete', added rows 'insert'; an update is the
        delete-preimage + insert-postimage pair) so the commit stays
        change-feed-consumable — cost bounded by the CHANGE volume,
        refused for the table-sized full-sync clause.

        Unchanged contracts: null-safe key matching (NULL is a legal
        key value), additive-only schema evolution when the source
        contributes rows, duplicate-key sources are the caller's to
        dedupe, copy-on-write commit fencing with batch-id
        idempotency, semi/anti joins off ONE pinned snapshot — no
        full-outer join, so each clause stays a one-sided match."""
        allowed = {
            "when_matched": ("update", "delete", "keep"),
            "when_not_matched": ("insert", "ignore"),
            "when_not_matched_by_source": ("keep", "delete"),
            "strategy": ("cow", "mor"),
        }
        for arg, val in (
            ("when_matched", when_matched),
            ("when_not_matched", when_not_matched),
            ("when_not_matched_by_source", when_not_matched_by_source),
            ("strategy", strategy),
        ):
            if val not in allowed[arg]:
                raise ValueError(f"{arg}={val!r}; expected one of {allowed[arg]}")
        if strategy == "mor" and when_not_matched_by_source == "delete":
            raise ValueError(
                "strategy='mor' requires when_not_matched_by_source='keep': "
                "deleting every unmatched target row is a table-sized rowset "
                "change that deletion vectors cannot bound by source size"
            )
        if emit_changes and when_not_matched_by_source == "delete":
            raise ValueError(
                "emit_changes with when_not_matched_by_source='delete' is "
                "not supported: every unmatched target row is removed, so "
                "the capture is table-sized — re-sync consumers from a "
                "snapshot instead"
            )
        done, payload = self._merge_prepare(
            spark,
            source,
            keys,
            when_matched,
            when_not_matched,
            when_not_matched_by_source,
            batch_id,
            stats_cols,
            strategy,
            "merge source",
            emit_changes,
        )
        if done is not None:
            return done
        files, schema_json, stats, dvs, version, changes_rel = payload
        return self._publish(
            "merge",
            files,
            stats,
            schema_json,
            version,
            batch_id,
            rebase=partial(
                self._rebase_rewrite,
                self._merge_would_read(source, keys, when_not_matched_by_source),
            ),
            dvs=dvs,
            changes=changes_rel,
        )

    def _merge_would_read(
        self, source: DataFrame, keys: list[str], when_not_matched_by_source: str
    ):
        """Read-predicate probe for merge's conflict rebase: which of
        the concurrently APPENDED groups could hold a row this merge
        read? Full-sync reads every target row (nothing rebases over
        it); otherwise the merge's own candidate pruning (source key
        ranges + blooms) applied to the winner's manifest stats."""
        if when_not_matched_by_source == "delete":
            return lambda v, added: added
        return lambda v, added: self._merge_candidates(
            source, keys, v, self._manifest(v).get("stats") or {}
        )[0]

    def upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        batch_id: int | None = None,
        stats_cols: list[str] | None = None,
        strategy: str = "cow",
        emit_changes: bool = False,
    ) -> int:
        """Keyed MERGE shorthand: rows matching ``keys`` are replaced
        whole, new keys appended (``merge`` with update/insert/keep —
        ONE shared planner, so the matching rules and the group-pruned
        / merge-on-read write paths can never diverge between the two
        writers). Updates with duplicate keys keep one arbitrary-but-
        deterministic row — callers dedupe; streaming update-mode
        emissions are already one row per key per batch.

        ``stats_cols`` re-records the data-skipping index for the
        rewritten groups; when omitted it defaults to the columns the
        PRIOR snapshot kept stats for, so a routine upsert on a
        clustered table no longer silently erases pruning. Blooms the
        prior snapshot carried are rebuilt on the rewritten group for
        the same reason. An upsert into an empty table commits as a
        plain append (it IS one)."""
        if strategy not in ("cow", "mor"):
            raise ValueError(
                f"strategy={strategy!r}; expected one of ('cow', 'mor')"
            )
        done, payload = self._merge_prepare(
            spark,
            updates,
            keys,
            "update",
            "insert",
            "keep",
            batch_id,
            stats_cols,
            strategy,
            "upsert batch",
            emit_changes,
        )
        if done is not None:
            return done
        files, schema_json, stats, dvs, version, changes_rel = payload
        return self._publish(
            "upsert",
            files,
            stats,
            schema_json,
            version,
            batch_id,
            rebase=partial(
                self._rebase_rewrite, self._merge_would_read(updates, keys, "keep")
            ),
            dvs=dvs,
            changes=changes_rel,
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
        batch_id: int | None = None,
        emit_changes: bool = False,
    ) -> int:
        """Copy-on-write DELETE (the GDPR-erasure / takedown path):
        rows where ``predicate`` evaluates TRUE are removed; NULL
        keeps the row (SQL DELETE semantics). Only file groups whose
        manifest stats can OVERLAP ``prune`` are rewritten — every
        other group carries into the new version by reference, so a
        targeted delete on a clustered table rewrites a few groups,
        not 100 TB. ``prune`` is the caller's conservative bound on
        the predicate (same tuples as ``read``); omitted = all groups
        rewritten (still correct, never required).

        History note: the pre-delete snapshot stays readable (time
        travel) until ``vacuum()`` — a real erasure obligation is only
        discharged once vacuum has dropped the old groups.

        ``emit_changes=True`` additionally captures the REMOVED rows
        as a change group referenced from the manifest, which is what
        lets ``read_change_feed`` serve this commit incrementally
        (without it, a delete is a wall for CDF consumers). Note the
        captured rows keep the erased data alive until vacuum drops
        the change group — an erasure workflow should either skip
        capture or vacuum past it before declaring the data gone."""
        from pyspark.sql import functions as F

        version, prev_files, prev_stats = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        affected = set(self.snapshot_files(version - 1, prune))
        untouched = [f for f in prev_files if f not in affected]
        new: list[str] = []
        new_stats: dict = {}
        # "" = capture enabled, zero rows removed (a feed no-op slice);
        # None = capture disabled (a feed wall if rows DID change)
        changes_rel: str | None = "" if emit_changes else None
        if affected:
            # cache ONCE: the affected groups feed up to five jobs
            # below (emptiness probe, survivor write + stats agg,
            # capture probe + write) — without this each one re-reads
            # the parquet, on the path pitched as the 100 TB erasure
            # primitive. DVs applied first: a CoW rewrite of a group
            # carrying deletion vectors must not resurrect its
            # DV-deleted rows.
            raw = self._read_files(spark, version - 1, affected)
            df = self._apply_dvs(spark, raw, version - 1, sorted(affected)).persist()
            try:
                survivors = df.filter(
                    ~F.coalesce(F.expr(predicate), F.lit(False))
                )
                # keep the data-skipping index live for whichever
                # columns the affected groups had stats on (the
                # reserved bloom entry is not a min/max column)
                stat_cols = sorted(
                    {
                        c
                        for f in affected
                        for c in prev_stats.get(f, {})
                        if c not in _RESERVED_STATS_KEYS
                    }
                )
                # write first, probe the FOOTERS after (round 14: the
                # separate isEmpty() pre-jobs cost one cache-scan each
                # on the path pitched as the 100 TB erasure primitive;
                # the row count is already in the metadata of the files
                # just written). An all-rows-deleted rewrite would land
                # a file-less group dir (empty-partition tasks write
                # nothing) that a later multi-path read trips over —
                # detected by rows==0 and dropped, so no empty group is
                # ever committed, exactly as before.
                def _stage_survivors():
                    return self._write_files(
                        survivors, stats_cols=stat_cols or None
                    )

                def _stage_capture():
                    removed = df.filter(
                        F.coalesce(F.expr(predicate), F.lit(False))
                    )
                    group = uuid.uuid4().hex
                    # physical names, like every landed file — the
                    # feed reads captures through _read_files too
                    cdir = os.path.join(self._changes_dir, group)
                    self._to_physical(
                        removed, self._mapping(version - 1)
                    ).write.mode("overwrite").parquet(cdir)
                    return group, cdir

                if emit_changes:
                    # the survivor rewrite and the removed-rows capture
                    # are independent jobs over the SAME persisted
                    # frame — overlap them (round 15, guide §2.6) so
                    # the capture back-fills the rewrite's task tail;
                    # a failure of either surfaces here and leaves only
                    # unreferenced staged files, same as a crash
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(max_workers=2) as pool:
                        f_s = pool.submit(_stage_survivors)
                        f_c = pool.submit(_stage_capture)
                        new, new_stats = f_s.result()
                        cap_group, cap_dir = f_c.result()
                else:
                    new, new_stats = _stage_survivors()
                if new_stats[new[0]][_ROWS_KEY] == 0:
                    import shutil

                    shutil.rmtree(
                        os.path.join(self.root, new[0]), ignore_errors=True
                    )
                    new, new_stats = [], {}
                if emit_changes:
                    if _footer_rows(cap_dir) == 0:
                        import shutil

                        # zero rows removed: keep the feed's no-op
                        # slice semantics ("" = capture enabled,
                        # nothing captured), drop the empty dir
                        shutil.rmtree(cap_dir, ignore_errors=True)
                    else:
                        changes_rel = f"changes/{cap_group}"
            finally:
                df.unpersist()
        kept_stats = {f: s for f, s in prev_stats.items() if f not in affected}
        return self._publish(
            "delete",
            untouched + new,
            {**kept_stats, **new_stats},
            self._manifest(version - 1)["schema"],
            version,
            batch_id,
            rebase=partial(self._rebase_rewrite, self._prune_would_read(prune)),
            changes=changes_rel,
        )

    def _prune_would_read(
        self,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None,
    ):
        """Read-predicate probe for the predicate-scoped rewrites
        (delete/replace_where): their read set is every group
        overlapping ``prune`` (the caller's conservative bound on the
        predicate), so a concurrently appended group conflicts iff the
        manifest stats cannot EXCLUDE it from that bound. With no
        prune the predicate was evaluated against every group — any
        append conflicts (fail closed, exactly Delta's unpartitioned
        DELETE vs append)."""
        if prune is None:
            return lambda v, added: added
        return lambda v, added: set(self.snapshot_files(v, prune)) & added

    def delete_where_dv(
        self,
        spark: SparkSession,
        predicate: str,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
        batch_id: int | None = None,
        emit_changes: bool = False,
    ) -> int:
        """Merge-on-read DELETE (the Delta deletion-vector analog):
        instead of rewriting every affected file group (copy-on-write
        ``delete_where``), the matching rows' POSITIONS are written to
        a small deletion-vector group and the data files are carried
        into the new version untouched. Reads anti-join the DV away.
        The write cost is proportional to the DELETED rows, not to
        the groups that contain them — the right half of the
        trade-off for small deletes against huge clustered groups,
        where CoW would rewrite gigabytes to drop a handful of rows.
        Repeated DV deletes accumulate; a later compact / OPTIMIZE
        rewrite (which reads through the DV-applying reader)
        materializes survivors and sheds the vectors.

        Same SQL DELETE semantics as delete_where (predicate TRUE
        removes, NULL keeps), same ``prune`` contract, same
        ``emit_changes`` capture for CDF consumers — a DV delete
        without capture is a feed wall exactly like a CoW delete
        without capture. Manifest stats of the affected groups stay
        as-is: min/max and blooms remain a conservative superset of
        the live rows, so pruning stays correct, only less tight
        until the next rewrite.

        Erasure caveat, stronger than CoW's: the deleted bytes remain
        IN the data files until a rewrite AND vacuum — a DV delete
        alone discharges no erasure obligation."""
        from pyspark.sql import functions as F

        version, prev_files, prev_stats = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        affected = self.snapshot_files(version - 1, prune)
        dvs: dict[str, list[str]] = {}
        changes_rel: str | None = "" if emit_changes else None
        if affected:
            # read the affected groups WITH existing DVs applied, so
            # already-deleted rows are neither re-captured nor
            # double-listed in the new vector
            raw = self._read_files(spark, version - 1, affected)
            live = self._apply_dvs(spark, raw, version - 1, affected)
            # resolve the _metadata position key BEFORE persisting:
            # selecting _metadata off the cached frame later would
            # alter the scan node (metadata columns change the file
            # source output), miss the InMemoryRelation match, and
            # re-scan the groups the persist exists to read once
            matched = (
                live.filter(F.coalesce(F.expr(predicate), F.lit(False)))
                .withColumn(
                    "__pos_file",
                    F.concat(
                        F.lit("data/"),
                        F.substring_index(
                            F.col("_metadata.file_path"), "/data/", -1
                        ),
                    ),
                )
                .withColumn("__pos_idx", F.col("_metadata.row_index"))
                .persist()
            )
            try:
                positions = matched.select(
                    F.col("__pos_file").alias("file"),
                    F.col("__pos_idx").alias("idx"),
                )
                # write first, probe the FOOTERS after (round 14): the
                # isEmpty() pre-job and the distinct-hit-groups Spark
                # job were two extra cache scans; the written vector
                # itself answers both — its footer row count says
                # whether anything matched, and its (dictionary-
                # encoded, group-count-bounded) `file` column names
                # the hit groups via one driver-local column read.
                group = uuid.uuid4().hex
                dv_dir = os.path.join(self._dv_dir, group)

                def _stage_positions():
                    positions.write.mode("overwrite").parquet(dv_dir)

                def _stage_capture():
                    cgroup = uuid.uuid4().hex
                    cdir = os.path.join(self._changes_dir, cgroup)
                    self._to_physical(
                        matched.drop("__pos_file", "__pos_idx"),
                        self._mapping(version - 1),
                    ).write.mode("overwrite").parquet(cdir)
                    return cgroup, cdir

                cap_group = cap_dir = None
                if emit_changes:
                    # the position vector and the removed-rows capture
                    # are independent jobs over the SAME persisted
                    # frame — overlap them (round 15, guide §2.6); the
                    # zero-match case drops BOTH empty dirs below
                    # (matched is one frame, so the two row counts
                    # agree by construction)
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(max_workers=2) as pool:
                        f_p = pool.submit(_stage_positions)
                        f_c = pool.submit(_stage_capture)
                        f_p.result()
                        cap_group, cap_dir = f_c.result()
                else:
                    _stage_positions()
                if _footer_rows(dv_dir) == 0:
                    import shutil

                    shutil.rmtree(dv_dir, ignore_errors=True)
                    if cap_dir is not None:
                        # capture of the same empty match set: drop it,
                        # keep the "" no-op slice semantics
                        shutil.rmtree(cap_dir, ignore_errors=True)
                else:
                    import pyarrow.parquet as pq

                    rel = f"dv/{group}"
                    hit_groups: set = set()
                    for fn in sorted(os.listdir(dv_dir)):
                        if not fn.endswith(".parquet"):
                            continue  # skip _SUCCESS and friends
                        col = pq.read_table(
                            os.path.join(dv_dir, fn), columns=["file"]
                        ).column("file")
                        hit_groups.update(
                            self._group_of(f)
                            for f in col.unique().to_pylist()
                        )
                    dvs = {g: [rel] for g in sorted(hit_groups)}
                    if emit_changes:
                        changes_rel = f"changes/{cap_group}"
            finally:
                matched.unpersist()
        return self._publish(
            "delete_dv",
            list(prev_files),
            dict(prev_stats),
            self._manifest(version - 1)["schema"],
            version,
            batch_id,
            rebase=partial(self._rebase_rewrite, self._prune_would_read(prune)),
            changes=changes_rel,
            dvs=dvs,
        )

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: str,
        prune: tuple[str, object, object] | list[tuple[str, object, object]] | None = None,
        batch_id: int | None = None,
        emit_changes: bool = False,
    ) -> int:
        """Delta ``replaceWhere``: atomically replace exactly the rows
        matching ``predicate`` with ``df`` — the idempotent backfill
        primitive (rewrite one day/region/partition without touching
        the rest, in ONE commit). Every incoming row must itself
        satisfy ``predicate`` (validated in one agg job; a row outside
        the scope would silently widen the overwrite — Delta rejects
        it and so does this). ``prune`` bounds which file groups can
        hold matching rows, exactly as in ``delete_where``.

        ``emit_changes=True`` writes a typed capture group (removed
        rows tagged 'delete', the replacement rows 'insert') so a
        captured BACKFILL stays feed-consumable — bounded by the
        replaced scope, never the table. Uncaptured replace_where
        remains a feed wall."""
        from pyspark.sql import functions as F

        version, prev_files, prev_stats = self._snapshot_state()
        if batch_id is not None and batch_id in self.committed_batch_ids():
            return self.latest_version()
        n_outside = df.agg(
            F.sum(
                (~F.coalesce(F.expr(predicate), F.lit(False))).cast("long")
            ).alias("n")
        ).collect()[0]["n"]
        if n_outside:
            raise ValueError(
                f"replace_where data contains {n_outside} rows NOT matching "
                f"{predicate!r}; the replacement scope must cover its data"
            )
        df = self._enforce(df)
        affected = set(self.snapshot_files(version - 1, prune)) if version else set()
        untouched = [f for f in prev_files if f not in affected]
        stat_cols = sorted(
            {c for f in affected for c in prev_stats.get(f, {}) if c not in _RESERVED_STATS_KEYS}
        )
        old = None
        changes_rel: str | None = "" if emit_changes else None
        if affected:
            # cached for the same reason as delete_where: the emptiness
            # probe, the write, and the stats agg all consume it.
            # DVs applied first — a rewrite must not resurrect
            # DV-deleted rows from the groups it replaces.
            raw = self._read_files(spark, version - 1, affected)
            old = self._apply_dvs(spark, raw, version - 1, sorted(affected)).persist()
            survivors = old.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
            combined = survivors.unionByName(df, allowMissingColumns=True)
        else:
            combined = df
        new: list[str] = []
        new_stats: dict = {}
        try:
            if emit_changes:
                # typed capture: the replaced scope's old rows out, the
                # replacement rows in — bounded by the scope like the
                # rewrite itself (the old frame is already persisted)
                cf = df.withColumn("_change_type", F.lit("insert"))
                if old is not None:
                    removed = old.filter(
                        F.coalesce(F.expr(predicate), F.lit(False))
                    ).withColumn("_change_type", F.lit("delete"))
                    cf = removed.unionByName(cf, allowMissingColumns=True)
                if not cf.isEmpty():
                    cgroup = uuid.uuid4().hex
                    self._to_physical(
                        cf, self._mapping(version - 1) if version else {}
                    ).write.mode("overwrite").parquet(
                        os.path.join(self._changes_dir, cgroup)
                    )
                    changes_rel = f"changes/{cgroup}"
            if not combined.isEmpty():
                new, new_stats = self._write_files(
                    combined, stats_cols=stat_cols or None
                )
        finally:
            if old is not None:
                old.unpersist()
        kept_stats = {f: s for f, s in prev_stats.items() if f not in affected}
        return self._publish(
            "replace_where",
            untouched + new,
            {**kept_stats, **new_stats},
            df.schema.json(),
            version,
            batch_id,
            rebase=partial(self._rebase_rewrite, self._prune_would_read(prune)),
            changes=changes_rel,
        )

    def compact(self, spark: SparkSession, target_partitions: int = 8) -> int:
        """Fold the current snapshot's file groups into one coalesced
        group (the streaming small-file fix); history before the
        compaction stays readable. The data-skipping index survives:
        min/max stats AND bloom filters are rebuilt for the compacted
        group over every column any pre-compaction group indexed —
        without this, the first auto-compaction after a streaming
        ingest silently killed pruning for the rest of the table's
        life (reads stayed correct, only conservative).

        The rebuilt blooms are SIZED from an approx distinct count:
        the per-batch default m=4096 is tuned for ~600 keys per group,
        but compaction folds the whole table's keys into one group —
        at ~1.5k distinct keys a 4096-bit filter saturates (~100%
        false positives) yet still costs a full-scan build job per
        column. m grows (next power of two, <=50% fill) up to
        _BLOOM_M_MAX; a column whose cardinality needs more than that
        is dropped from the rebuilt index and the compacted group
        falls back to conservative (never bloom-pruned) point reads —
        correct, just unpruned, and it skips the pointless build."""
        if self.latest_version() is None:
            raise ValueError(f"table {self.root} has no committed version")
        version, _, prev_stats = self._snapshot_state()
        df = self.read(spark, version=version - 1 if version else None).coalesce(
            target_partitions
        )
        stat_cols = sorted(
            {c for s in prev_stats.values() for c in s if c not in _RESERVED_STATS_KEYS}
        )
        bloom_cols = sorted(
            {c for s in prev_stats.values() for c in s.get(_BLOOM_KEY, {})}
        )
        # persist: the write + min/max agg + NDV agg + one bloom job
        # per column each consume df — without the cache every
        # consumer re-scans the ENTIRE pre-compaction snapshot (same
        # reasoning as delete_where/replace_where). When the table
        # carries NO skipping index (no stats, no blooms), the write
        # is the only consumer and the cache would be pure overhead
        # (round 15): skip it.
        multi_consumer = bool(stat_cols or bloom_cols)
        if multi_consumer:
            df = df.persist()
        try:
            bloom_cols, bloom_m = self._size_rebuilt_blooms(df, bloom_cols)
            new, new_stats = self._write_files(
                df,
                stats_cols=stat_cols or None,
                bloom_cols=bloom_cols or None,
                bloom_m=bloom_m or None,
            )
        finally:
            if multi_consumer:
                df.unpersist()
        return self._publish("compact", new, new_stats, df.schema.json(), version)

    @staticmethod
    def _size_rebuilt_blooms(
        df, bloom_cols: list[str]
    ) -> tuple[list[str], dict[str, int]]:
        """NDV-adaptive bloom sizing for rewritten groups (compact /
        compact_where): m for <=50% fill = n*k/ln2 rounded up to the
        next power of two, 1.2x inflating the HLL estimate (default
        rsd 5%) so an undershoot can't push fill past the target; a
        column whose cardinality needs more than _BLOOM_M_MAX is
        DROPPED from the rebuilt index (conservative, never
        bloom-pruned point reads) instead of recorded saturated."""
        if not bloom_cols:
            return [], {}
        from pyspark.sql import functions as F

        ndv_row = df.agg(
            *[F.approx_count_distinct(c).alias(c) for c in bloom_cols]
        ).collect()[0]
        kept: list[str] = []
        bloom_m: dict[str, int] = {}
        for c in bloom_cols:
            need = int(int(ndv_row[c]) * 1.2 * _BLOOM_K / 0.6931) + 1
            m = _BLOOM_M
            while m < need:
                m *= 2
            if m > _BLOOM_M_MAX:
                continue  # saturated at any affordable m: drop
            kept.append(c)
            bloom_m[c] = m
        return kept, bloom_m

    def compact_where(
        self,
        spark: SparkSession,
        prune: tuple[str, object, object] | list[tuple[str, object, object]],
        target_partitions: int = 1,
        min_groups: int = 2,
        cluster_col: str | None = None,
        n_groups: int = 8,
        zorder_cols: tuple | None = None,
        zorder_bits: int = 12,
    ) -> int | None:
        """Predicate-scoped OPTIMIZE (Delta's ``OPTIMIZE ... WHERE``):
        fold ONLY the file groups whose manifest stats overlap
        ``prune`` into one coalesced group; every other group carries
        into the new version by reference. This is how a 100 TB table
        is actually maintained — streaming ingest fragments the HOT
        range (today's keys / latest event-time window) while the cold
        99% is already well-laid-out, so maintenance must cost
        O(selected groups), never O(snapshot) like ``compact``.

        ``cluster_col`` makes it the ``OPTIMIZE ... WHERE ... ZORDER``
        shape for the 1-D case: the folded rows land range-CLUSTERED
        on the column across ``n_groups`` sub-ranges with tight
        min/max stats (``rewrite_clustered``'s layout, scoped to the
        hot range) instead of one coalesced group — arrival-order
        ingest destroys pruning exactly in the range this rewrites,
        so the periodic hot-range pass both defragments AND restores
        the skipping index. ``zorder_cols`` is the N-D form: the fold
        lands Morton-interleaved (``rewrite_zordered``'s layout) so
        narrow predicates on EVERY named dimension prune inside the
        rewritten range. Mutually exclusive with ``cluster_col``; if
        the selected rows have no non-NULL key tuple the z-curve is
        undefined and the fold falls back to the coalesced layout.

        Row-preserving: commits as action "compact" (no feed slice,
        baseline advance — running CDC consumers are unaffected).
        DV discipline matches compact: selected groups are read with
        their deletion vectors APPLIED, so the folded group sheds them
        and never resurrects deleted rows; unselected groups keep
        their DVs. The data-skipping index is rebuilt for the folded
        group over every column the selected groups indexed, with
        NDV-adaptive bloom sizing. Returns the new version, or None
        when fewer than ``min_groups`` groups overlap ``prune``
        (nothing worth folding — also what makes the call idempotent
        as a post-ingest policy hook).

        Concurrency: losing the commit race to blind appends REBASES
        (``would_read`` = nothing — a compaction preserves rows, so an
        append landing inside the range simply stays uncompacted until
        the next pass); any concurrent rewrite, DV change, or mapping
        change fails closed through ``_rebase_rewrite``'s walk."""
        version, prev_files, prev_stats = self._snapshot_state()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        affected = sorted(set(self.snapshot_files(version - 1, prune)))
        if len(affected) < min_groups:
            return None
        aset = set(affected)
        untouched = [f for f in prev_files if f not in aset]
        raw = self._read_files(spark, version - 1, affected)
        df = (
            self._apply_dvs(spark, raw, version - 1, affected)
            .coalesce(target_partitions)
            .persist()
        )
        try:
            stat_cols = sorted(
                {
                    c
                    for f in affected
                    for c in prev_stats.get(f, {})
                    if c not in _RESERVED_STATS_KEYS
                }
            )
            bloom_cols = sorted(
                {
                    c
                    for f in affected
                    for c in prev_stats.get(f, {}).get(_BLOOM_KEY, {})
                }
            )
            if cluster_col is not None and zorder_cols is not None:
                raise ValueError(
                    "pass cluster_col OR zorder_cols, not both"
                )
            zw = None
            if zorder_cols is not None:
                zw = self._write_zordered_group(
                    df, tuple(zorder_cols), n_groups, zorder_bits
                )
            if zw is not None:
                new, new_stats = zw
            elif cluster_col is not None:
                new, new_stats = self._write_clustered_group(
                    df, cluster_col, n_groups
                )
            else:
                bloom_cols, bloom_m = self._size_rebuilt_blooms(
                    df, bloom_cols
                )
                new, new_stats = self._write_files(
                    df,
                    stats_cols=stat_cols or None,
                    bloom_cols=bloom_cols or None,
                    bloom_m=bloom_m or None,
                )
        finally:
            df.unpersist()
        kept_stats = {
            f: s for f, s in prev_stats.items() if f not in aset
        }
        return self._publish(
            "compact",
            untouched + new,
            {**kept_stats, **new_stats},
            self._manifest(version - 1)["schema"],
            version,
            rebase=partial(self._rebase_rewrite, lambda v, added: ()),
        )

    def rewrite_clustered(
        self, spark: SparkSession, col: str, n_groups: int = 8
    ) -> int:
        """OPTIMIZE: rewrite the CURRENT snapshot range-clustered on
        ``col`` — compaction and clustering in one commit (the Delta
        ``OPTIMIZE ... ZORDER BY`` analog for the 1-D case). Streaming
        ingest lands batches in arrival order, so its file groups all
        span the full key range and stats pruning is useless; a
        periodic recluster restores it. Old versions stay readable
        (time travel) until vacuum()."""
        if self.latest_version() is None:
            raise ValueError(f"table {self.root} has no committed version")
        version, _, _ = self._snapshot_state()
        df = self.read(spark, version=version - 1 if version else None)
        files, stats = self._write_clustered_group(df, col, n_groups)
        return self._publish(
            "rewrite_clustered", files, stats, df.schema.json(), version
        )

    def maybe_compact(
        self, spark: SparkSession, max_file_groups: int = 16, target_partitions: int = 8
    ) -> int | None:
        """Auto-compaction policy (the Delta autoOptimize analog for
        streaming ingest): compact only when the snapshot has grown
        past ``max_file_groups`` file groups — called after every
        foreachBatch landing, it bounds small-file accumulation at
        O(max_file_groups) without paying a rewrite per batch.
        Returns the new version, or None when below threshold."""
        vs = self.versions()
        if not vs:
            return None
        if len(self._manifest(vs[-1])["files"]) <= max_file_groups:
            return None
        return self.compact(spark, target_partitions=target_partitions)

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only RENAME COLUMN (Delta column mapping): not one
        data byte moves. Files keep the column's original on-file
        (PHYSICAL) name forever; the manifest records
        ``column_mapping[new_logical] = physical`` and every read
        scans under physical names then projects back to logical —
        which is also why the commit stamps writer protocol 3 (a
        protocol-2 reader would silently NULL-pad the renamed column
        instead of failing; the gate makes it fail loudly). Stats and
        bloom index keys re-key to the new logical name in the same
        commit, so pruning on the new name works immediately. Time
        travel is name-faithful: reads at pre-rename versions show
        the old name (each manifest carries its own mapping).

        At 100 TB this is the difference between an O(1) metadata
        commit and rewriting the table to rename a column. Renaming
        BACK to the original name drops the mapping entry (the table
        can return to protocol 2 once no mapping remains). Renaming TO
        a name that is some column's on-file physical (or a retired
        one) is refused — two logicals must never share a physical.
        Feed-classified as breaking: a running stream cannot
        re-negotiate its schema; consumers restart from a fresh
        window."""
        version, prev_files, prev_stats = self._snapshot_state()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(version - 1)
        schema = StructType.fromJson(json.loads(m["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        refs = self._constraints_referencing(old)
        if refs:
            raise ValueError(
                f"rename_column: column {old!r} is referenced by CHECK "
                f"constraint(s) {refs}; drop the constraint(s) first "
                "(renaming under them would wedge every later write on "
                "an unresolved column)"
            )
        grefs = self._generated_referencing(old)
        if old in self.generated_columns() or grefs:
            raise ValueError(
                f"rename_column: column {old!r} is a generated column or "
                f"referenced by generated column(s) {grefs}; drop the "
                "generation rule(s) first (same wedge as constraints)"
            )
        mapping = dict(m.get("column_mapping") or {})
        retired = list(m.get("retired_physical") or [])
        phys = mapping.pop(old, old)
        if phys != new:
            used = {mapping.get(n, n) for n in names if n != old} | set(retired)
            if new in used:
                raise ValueError(
                    f"rename_column: {new!r} is the on-file physical name "
                    "of another (or a dropped) column; two logical columns "
                    "must never share a physical name"
                )
            mapping[new] = phys
        # else: renamed back to its own physical — entry simply drops
        new_schema = StructType(
            [
                StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in schema.fields
            ]
        )
        return self._publish(
            "rename_column",
            list(prev_files),
            self._rekey_stats(prev_stats, {old: new}, drop=None),
            new_schema.json(),
            version,
            column_mapping=mapping,
            retired_physical=retired,
        )

    def drop_column(self, name: str) -> int:
        """Metadata-only DROP COLUMN: the column leaves the logical
        schema; its bytes stay in the files but the physical-schema
        scan never reads them (parquet column pruning does the
        "delete" — zero I/O for the dropped data on every future
        read). The on-file physical name is RETIRED permanently: a
        later append adding a column with that name is refused
        (SchemaEvolutionError), because binding it would resurrect
        the old bytes in old files. Stats/bloom entries drop with the
        column. Protocol 3 like rename (older readers would silently
        resurrect the column). Time travel still shows the column at
        pre-drop versions; a real erasure obligation still requires
        CoW delete + vacuum — drop hides, it does not erase."""
        version, prev_files, prev_stats = self._snapshot_state()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        m = self._manifest(version - 1)
        schema = StructType.fromJson(json.loads(m["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"drop_column: no column {name!r} in {names}")
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the only column")
        refs = self._constraints_referencing(name)
        if refs:
            raise ValueError(
                f"drop_column: column {name!r} is referenced by CHECK "
                f"constraint(s) {refs}; drop the constraint(s) first"
            )
        grefs = self._generated_referencing(name)
        if name in self.generated_columns() or grefs:
            raise ValueError(
                f"drop_column: column {name!r} is a generated column or "
                f"referenced by generated column(s) {grefs}; drop the "
                "generation rule(s) first"
            )
        mapping = dict(m.get("column_mapping") or {})
        retired = list(m.get("retired_physical") or [])
        phys = mapping.pop(name, name)
        if phys not in retired:
            retired.append(phys)
        new_schema = StructType([f for f in schema.fields if f.name != name])
        return self._publish(
            "drop_column",
            list(prev_files),
            self._rekey_stats(prev_stats, {}, drop=name),
            new_schema.json(),
            version,
            column_mapping=mapping,
            retired_physical=retired,
        )

    @staticmethod
    def _rekey_stats(
        prev_stats: dict, renames: dict[str, str], drop: str | None
    ) -> dict:
        """Stats/bloom entries follow their column's LOGICAL name
        through rename/drop, so the skipping index keeps pruning on
        the names readers actually use."""
        out: dict = {}
        for f, s in prev_stats.items():
            s2 = dict(s)
            for old, new in renames.items():
                if old in s2:
                    s2[new] = s2.pop(old)
            if drop is not None:
                s2.pop(drop, None)
            bl = s2.get(_BLOOM_KEY)
            if bl:
                bl = dict(bl)
                for old, new in renames.items():
                    if old in bl:
                        bl[new] = bl.pop(old)
                if drop is not None:
                    bl.pop(drop, None)
                if bl:
                    s2[_BLOOM_KEY] = bl
                else:
                    s2.pop(_BLOOM_KEY, None)
            out[f] = s2
        return out

    def analyze(
        self,
        spark: SparkSession,
        cols: list[str],
        bloom_cols: list[str] | None = None,
    ) -> int:
        """ANALYZE TABLE for the data-skipping index: backfill
        per-group min/max stats for ``cols`` (and bloom indexes for
        ``bloom_cols``) on every file group MISSING them, as a
        METADATA-ONLY commit — same files, enriched ``stats``, not one
        data byte rewritten. The operational gap it closes: plain
        streaming appends record only ``__rows__`` (per-column stats
        are opt-in at write time), so a table built by vanilla ingest
        has no pruning index — at 100 TB that is the difference
        between scanning everything and skipping almost everything,
        and rewriting the table to get the index (re-cluster) costs a
        full pass plus the write. analyze() pays ONE distributed agg
        job over just the unindexed groups (per-file min/max via
        ``_metadata.file_path`` grouping, then one more job for bloom
        positions — each group contributes <= m positions, driver
        work bounded by group count, never row count). ``__rows__``
        is backfilled too (footer metadata reads) so legacy groups
        join the metadata-only COUNT(*) fast path.

        Stats are computed from the RAW files (deletion vectors NOT
        applied): min/max and blooms are superset guarantees, and a
        bound that still covers DV-deleted rows is conservative, never
        wrong — same contract as the write-time index after a DV
        delete. Already-indexed groups are left untouched (their
        possibly TIGHTER bounds survive). Feed consumers see an
        ``analyze`` commit as row-preserving: it contributes nothing
        to the change feed. Concurrency: rebase over blind appends is
        unconditional — the new stats describe groups appends never
        touch; the appended groups simply stay unindexed until the
        next analyze."""
        version, prev_files, prev_stats = self._snapshot_state()
        if version == 0:
            raise ValueError(f"table {self.root} has no committed version")
        want_minmax = list(cols)
        want_blooms = list(bloom_cols or [])
        targets_mm = [
            f
            for f in prev_files
            if any(c not in prev_stats.get(f, {}) for c in want_minmax)
        ]
        targets_bl = [
            f
            for f in prev_files
            if any(
                c not in (prev_stats.get(f, {}).get(_BLOOM_KEY) or {})
                for c in want_blooms
            )
        ]
        if not targets_mm and not targets_bl:
            return version - 1  # fully indexed already: no-op
        from pyspark.sql import functions as F

        # shallow per-file copies; nested values stay ALIASED with the
        # parent's memoized manifest, so every mutation below must be
        # copy-on-write (see the bloom insert) — mutating a shared
        # nested dict (a) silently edits the parent snapshot in memory,
        # (b) makes the delta encoder's parent diff read "unchanged" so
        # the commit record OMITS the change and cold replay loses it.
        # Pinned by test_analyze_second_bloom_column_survives_cold_
        # delta_replay.
        new_stats = {f: dict(prev_stats.get(f, {})) for f in prev_files}

        def _with_group(files: list[str]) -> DataFrame:
            # manifest rel path of the group a row's file belongs to:
            # strip everything through "/data/", then the basename
            raw = self._read_files(spark, version - 1, files)
            return raw.withColumn(
                "__group",
                F.concat(
                    F.lit("data/"),
                    F.regexp_replace(
                        F.element_at(
                            F.split(F.col("_metadata.file_path"), "/data/"), -1
                        ),
                        "/[^/]+$",
                        "",
                    ),
                ),
            )

        if targets_mm:
            per_group = (
                _with_group(targets_mm)
                .groupBy("__group")
                .agg(
                    *[F.min(c).alias(f"min_{c}") for c in want_minmax],
                    *[F.max(c).alias(f"max_{c}") for c in want_minmax],
                )
                .collect()
            )
            for r in per_group:
                g = r["__group"]
                if g not in new_stats:
                    continue  # a file outside the manifest: impossible, skip
                for c in want_minmax:
                    if c not in new_stats[g]:
                        new_stats[g][c] = [r[f"min_{c}"], r[f"max_{c}"]]
        if targets_bl:
            for c in want_blooms:
                dtype = self._read_files(
                    spark, version - 1, targets_bl[:1]
                ).schema[c].dataType
                if not self._bloomable(dtype):
                    raise TypeError(
                        f"bloom index on column {c!r} of type "
                        f"{dtype.simpleString()}: only integer and string "
                        "key columns are supported"
                    )
            df = _with_group(targets_bl).persist()
            try:
                # NDV-adaptive sizing (the compaction discipline): one
                # bitmap size per column, fitted to the LARGEST target
                # group's distinct count at <=50% fill — a fixed 4 KiB
                # bloom saturates to all-ones on a high-NDV group and
                # prunes nothing. A column whose largest group needs
                # more than _BLOOM_M_MAX is dropped (saturated at any
                # affordable size), exactly like compact(). Driver
                # work for the position collect is O(groups x m) —
                # bounded by the index size being built, never by row
                # count.
                ndv = (
                    df.groupBy("__group")
                    .agg(
                        *[
                            F.approx_count_distinct(c).alias(c)
                            for c in want_blooms
                        ]
                    )
                    .collect()
                )
                for c in want_blooms:
                    worst = max((int(r[c]) for r in ndv), default=0)
                    need = int(worst * 1.2 * _BLOOM_K / 0.6931) + 1
                    m = _BLOOM_M
                    while m < need:
                        m *= 2
                    if m > _BLOOM_M_MAX:
                        continue  # saturated at any affordable m: skip
                    pos = (
                        df.where(F.col(c).isNotNull())
                        .select(
                            "__group",
                            F.explode(
                                F.array(*_bloom_position_cols(c, m=m))
                            ).alias("p"),
                        )
                        .distinct()
                        .collect()
                    )
                    # pre-seed every target group with an all-zeros
                    # bitmap: a group with NO non-null keys (or that
                    # predates the column entirely) proves absence of
                    # every probe value — leaving it unindexed would
                    # just re-scan it forever
                    bitmaps: dict[str, bytearray] = {
                        f: bytearray(m // 8) for f in targets_bl
                    }
                    for r in pos:
                        bits = bitmaps.setdefault(
                            r["__group"], bytearray(m // 8)
                        )
                        p = int(r["p"])
                        bits[p // 8] |= 1 << (p % 8)
                    for g, bits in bitmaps.items():
                        if g not in new_stats:
                            continue
                        # copy-on-write: the inherited bloom dict is
                        # aliased with the parent manifest (see the
                        # new_stats construction above) — REPLACE it
                        # with a copy before inserting, same pattern
                        # as _rekey_stats
                        blooms = dict(new_stats[g].get(_BLOOM_KEY) or {})
                        new_stats[g][_BLOOM_KEY] = blooms
                        if c not in blooms:
                            blooms[c] = {
                                "m": m,
                                "k": _BLOOM_K,
                                "b64": base64.b64encode(bytes(bits)).decode(
                                    "ascii"
                                ),
                            }
            finally:
                df.unpersist()
        # __rows__ backfill: footer metadata reads, bounded by the
        # legacy (pre-__rows__) group count
        for f in prev_files:
            if _ROWS_KEY not in new_stats[f]:
                new_stats[f][_ROWS_KEY] = _footer_rows(
                    os.path.join(self.root, f)
                )
        return self._publish(
            "analyze",
            list(prev_files),
            new_stats,
            self._manifest(version - 1)["schema"],
            version,
            # appends never invalidate stats
            rebase=partial(self._rebase_rewrite, lambda v, added: ()),
        )

    def operation_metrics(self, version: int) -> dict:
        """Delta ``operationMetrics`` analog, derived LAZILY from two
        manifests (nothing extra is recorded at commit time): what
        this commit did to the snapshot in file and row terms. Row
        counts come from the manifests' ``__rows__`` stats (falling
        back to parquet footers while the files still exist); a count
        that cannot be derived — a removed group already vacuumed —
        reports None rather than guessing. ``rows_dv_invalidated`` is
        the NEW deletion-vector positions this commit added (footer
        rows of the new DV groups), the MoR counterpart of
        ``rows_removed``."""
        m = self._manifest(version)
        prev = (
            self._manifest(version - 1)
            if version > 0
            else {"files": [], "stats": {}, "dvs": {}}
        )

        def _rows(man: dict, fs: list[str]) -> int | None:
            total = 0
            stats = man.get("stats") or {}
            for f in fs:
                n = stats.get(f, {}).get(_ROWS_KEY)
                if n is not None:
                    total += int(n)
                    continue
                p = os.path.join(self.root, f)
                if not os.path.isdir(p):
                    return None  # vacuumed: underivable, don't guess
                total += _footer_rows(p)
            return total

        prev_files = set(prev["files"])
        cur_files = set(m["files"])  # hoisted: per-item set() is O(n^2)
        added = [f for f in m["files"] if f not in prev_files]
        removed = [f for f in prev["files"] if f not in cur_files]
        prev_dvs = {
            d for lst in (prev.get("dvs") or {}).values() for d in lst
        }
        new_dvs = sorted(
            {d for lst in (m.get("dvs") or {}).values() for d in lst}
            - prev_dvs
        )
        dv_rows = 0
        for d in new_dvs:
            p = os.path.join(self.root, d)
            dv_rows = (
                None
                if dv_rows is None or not os.path.isdir(p)
                else dv_rows + _footer_rows(p)
            )
        ch = m.get("changes")
        ch_dir = os.path.join(self.root, ch) if ch else None
        return {
            "version": version,
            "action": m["action"],
            "files_added": len(added),
            "files_removed": len(removed),
            "rows_added": _rows(m, added),
            "rows_removed": _rows(prev, removed),
            "rows_dv_invalidated": dv_rows,
            # change-capture volume (delete preimages, or the typed
            # merge capture's delete+insert rows): footer metadata of
            # the capture group; 0 = capture on but empty, None =
            # capture off or the group already vacuumed
            "rows_captured": (
                None
                if ch is None or (ch and not os.path.isdir(ch_dir))
                else (_footer_rows(ch_dir) if ch else 0)
            ),
        }

    def fsck(self) -> list[str]:
        """Table integrity check: verify every file group referenced
        by any live manifest exists on disk, manifests parse, and the
        stats index only references manifest files. Returns a list of
        human-readable issues (empty = healthy). Read-only — the
        operational preflight before trusting a restored/copied table."""
        issues: list[str] = []
        prev_ts = float("-inf")
        for v in self.versions():
            try:
                m = self._manifest(v)
            except (json.JSONDecodeError, OSError) as e:
                issues.append(f"manifest {v}: unreadable ({e})")
                continue
            if m.get("version") != v:
                issues.append(f"manifest {v}: records version {m.get('version')}")
            # commit stamps must be non-decreasing (write-time clamp);
            # a pre-clamp history with a backwards clock step makes
            # TIMESTAMP AS OF / vacuum-RETAIN bisects fall back to the
            # linear walk only when the probes SEE the inversion — this
            # full-history check is the definitive detector
            ts_v = float(m.get("ts") or 0)
            if ts_v < prev_ts:
                issues.append(
                    f"manifest {v}: commit stamp {ts_v} decreases below "
                    f"predecessor's {prev_ts} (pre-clamp history) — "
                    "timestamp bisects may misresolve; run "
                    "monotonize_stamps() once to repair"
                )
            prev_ts = max(prev_ts, ts_v)
            m_files = set(m["files"])  # hoisted: per-item set() is O(n^2)
            for f in m["files"]:
                if not os.path.exists(os.path.join(self.root, f)):
                    issues.append(f"manifest {v}: missing data group {f}")
            for f in m.get("stats", {}):
                if f not in m_files:
                    issues.append(f"manifest {v}: stats for unreferenced file {f}")
            ch = m.get("changes")
            if ch and not os.path.exists(os.path.join(self.root, ch)):
                issues.append(f"manifest {v}: missing change group {ch}")
            file_groups = {self._group_of(f) for f in m["files"]}
            for g, lst in (m.get("dvs") or {}).items():
                if g not in file_groups:
                    issues.append(
                        f"manifest {v}: deletion vector for unreferenced group {g}"
                    )
                for d in lst:
                    if not os.path.exists(os.path.join(self.root, d)):
                        issues.append(f"manifest {v}: missing dv group {d}")
        return issues

    def vacuum(
        self,
        keep_last: int = 1,
        min_age_s: float = 3600.0,
        retain_s: float | None = None,
        dry_run: bool = False,
    ) -> int:
        """Drop data files referenced ONLY by versions outside the
        retention horizon — bounds storage, forfeits time travel
        beyond it. Returns number of file groups removed.
        ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) computes the
        same keep-set and age checks but deletes nothing — returns the
        count a real run at this instant would remove.

        The horizon is the UNION of two rules: the last ``keep_last``
        versions always survive, and — when ``retain_s`` is given
        (Delta's ``RETAIN n HOURS``) — so does every version whose
        commit timestamp is within the last ``retain_s`` seconds, so
        ``read(timestamp=now - t)`` keeps resolving for any
        ``t <= retain_s``. Pre-stamp manifests count as timestamp 0
        (outside any window) — exactly the versions a retention-based
        vacuum should age out.

        ``min_age_s`` is the file-age grace that makes vacuum safe
        next to CONCURRENT writers: a commit stages its data group
        BEFORE its manifest becomes visible, so an unreferenced group
        younger than the window may belong to a commit about to land —
        deleting it would publish a manifest whose files are gone (the
        exact race Delta's retention-duration check exists for). Pass
        0 only when no other writer can be active (tests, offline
        maintenance)."""
        import time

        vs = self.versions()
        if keep_last < 1:
            raise ValueError("vacuum keeps at least the latest version")
        if not vs:
            return 0  # no commits -> nothing referenced, nothing aged
        now_h = time.time()
        kept_versions = list(vs[-keep_last:])
        if retain_s is not None:
            cutoff = now_h - retain_s
            # stamps are non-decreasing (commit clamp), so the oldest
            # in-window version is a bisect — O(log versions) record
            # reads, not a full-log walk (the same invariant TIMESTAMP
            # AS OF resolution rides; pre-clamp disorder falls back to
            # the linear prefix-max walk so a skewed legacy stamp can
            # never shrink the retention window)
            first_in_window = self._bisect_stamps(vs, cutoff, "first_ge")
            # contiguous tail from the OLDEST version either rule keeps:
            # history must never get mid-range holes (feed walks and
            # restore address version ranges), and a skewed clock could
            # otherwise punch one
            floor = min(
                kept_versions
                + ([first_in_window] if first_in_window is not None else [])
            )
            kept_versions = [v for v in vs if v >= floor]
        # Manifests record either a bare group ("data/{group}") or, for
        # clustered/z-ordered appends, subpaths ("data/{group}/_rb=N") —
        # normalize every kept path to its first two components so a group
        # survives if ANY kept manifest references anything under it.
        keep = set()
        for v in kept_versions:
            m = self._manifest(v)
            for f in m["files"]:
                keep.add("/".join(f.split("/")[:2]))
            if m.get("changes"):
                keep.add(m["changes"])
            for lst in (m.get("dvs") or {}).values():
                keep.update(lst)
        now = time.time()
        removed = 0
        scan_dirs = [("data", self._data)]
        if os.path.isdir(self._changes_dir):
            # captured-delete groups age out with their manifests —
            # this is also where an erasure obligation on CAPTURED
            # deleted rows is finally discharged
            scan_dirs.append(("changes", self._changes_dir))
        if os.path.isdir(self._dv_dir):
            # deletion vectors age out with the manifests that carry
            # them (a rewrite shed them from later manifests)
            scan_dirs.append(("dv", self._dv_dir))
        for prefix, base_dir in scan_dirs:
            for group in os.listdir(base_dir):
                rel = f"{prefix}/{group}"
                if rel in keep:
                    continue
                path = os.path.join(base_dir, group)
                try:
                    if now - os.path.getmtime(path) < min_age_s:
                        continue  # possibly an in-flight writer's staged group
                except OSError:
                    continue  # vanished under us: someone else removed it
                if not dry_run:
                    shutil.rmtree(path, ignore_errors=True)
                removed += 1
        if not dry_run:
            kept_set = set(kept_versions)
            doomed = [v for v in vs if v not in kept_set]
            if doomed:
                # delta-chain integrity: if the oldest SURVIVING record
                # is a delta, its replay chain passes through versions
                # about to be deleted — rewrite it as a full checkpoint
                # FIRST (atomic replace, semantically identical
                # snapshot), then drop the ancestors. Readers racing
                # this see either the delta (ancestors still present —
                # deletion happens after) or the full record.
                self._checkpoint_record(min(kept_set))
            for v in doomed:
                os.remove(os.path.join(self._log, f"{v:08d}.json"))
        return removed

    def _checkpoint_record(self, version: int) -> None:
        """Rewrite ``version``'s on-disk record as a FULL manifest if
        it is currently a delta record (no-op otherwise). The snapshot
        content is identical — only the encoding changes — so
        concurrent readers are unaffected; the handle's memo entry is
        dropped so later reads see the re-stamped record."""
        try:
            rec = self._load_record(version)
        except FileNotFoundError:
            return
        if "delta_of" not in rec:
            return
        full = dict(self._manifest(version))
        # a full manifest needs only the protocol its FEATURES need
        full["writer_version"] = _stamp_protocol(
            full.get("column_mapping"), full.get("retired_physical")
        )
        tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(full, f, default=str)
        os.replace(tmp, os.path.join(self._log, f"{version:08d}.json"))
        self._mat_cache.pop(version, None)

    # --- streaming integration --------------------------------------------

    def streaming_upsert_sink(self, keys: list[str], emit_changes: bool = False):
        """foreachBatch callable: lands every micro-batch as an
        idempotent keyed upsert — replayed batch ids are no-ops, so
        the table is exactly-once end-to-end (T7 on table semantics).
        Use with update-mode stateful queries whose emissions are
        one-row-per-key-per-batch. ``emit_changes=True`` captures each
        upsert's typed change group so the LANDED table is itself a
        consumable change feed (replication chains: stream -> table ->
        mirror -> ...)."""

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.upsert(
                batch_df.sparkSession,
                batch_df,
                keys,
                batch_id=batch_id,
                emit_changes=emit_changes,
            )

        return sink

    def streaming_cdc_sink(
        self, keys: list[str], op_col: str = "op", emit_changes: bool = False
    ):
        """foreachBatch callable for an op-tagged CDC stream (the
        Delta APPLY CHANGES INTO pattern on the ingest side): each
        micro-batch carries ``op_col`` in {'I','U','D'} — I/U rows
        upsert by key, D rows delete by key, both through merge().
        Requires at most ONE op per key per batch (dedupe upstream by
        a sequence column, the same contract Delta imposes); when an
        upstream violates it and a key appears as both upsert and
        delete in one batch, the delete wins (applied second) —
        deterministic, documented, and the safer default for
        takedown-style feeds.

        Exactly-once: the upsert claims batch id ``2*batch_id`` and
        the delete ``2*batch_id + 1`` (two table commits per batch
        need two idempotency slots; the doubling keeps them disjoint
        across batches), so crash-replayed batches re-resolve to
        no-ops on both halves.

        Apply cost follows the CHANGE volume, not the mirror size:
        both halves run merge-on-read (matched rows DV-invalidated,
        update/insert rows appended as one group), and every landed
        group carries key stats + blooms so the next batch's matched-
        position scan prunes to the groups that can actually hold its
        keys. DVs accumulate until a compaction sheds them — pair a
        long-running apply stream with periodic ``maybe_compact``."""
        from pyspark.sql import functions as F

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            upserts = batch_df.filter(F.col(op_col).isin("I", "U")).drop(op_col)
            deletes = batch_df.filter(F.col(op_col) == "D").drop(op_col)
            skeys = [
                k for k in keys if self._auto_prunable(upserts.schema[k].dataType)
            ]
            bkeys = [k for k in keys if self._bloomable(upserts.schema[k].dataType)]
            # skip an empty half entirely — no commit, and the
            # unclaimed batch-id slot stays idempotent: a replay
            # re-derives the same empty half and skips again
            if not upserts.isEmpty():
                if self.latest_version() is None:
                    # first batch must establish the table before a
                    # merge can read a pinned snapshot
                    self.append(
                        upserts,
                        batch_id=2 * batch_id,
                        stats_cols=skeys or None,
                        bloom_cols=bkeys or None,
                    )
                else:
                    self.merge(
                        spark,
                        upserts,
                        keys=keys,
                        batch_id=2 * batch_id,
                        stats_cols=skeys or None,
                        strategy="mor",
                        emit_changes=emit_changes,
                    )  # update/insert/keep
            # a delete against a never-written mirror is deleting from
            # an empty table — a no-op, NOT an error: delete events
            # for unseen keys are normal when a CDC stream starts
            # mid-topic (a delete-only first batch must not wedge)
            if not deletes.isEmpty() and self.latest_version() is not None:
                self.merge(
                    spark,
                    deletes,
                    keys=keys,
                    when_matched="delete",
                    when_not_matched="ignore",
                    batch_id=2 * batch_id + 1,
                    strategy="mor",
                    emit_changes=emit_changes,
                )

        return sink
