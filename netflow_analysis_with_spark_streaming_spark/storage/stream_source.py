"""VersionedTable as a first-class Spark streaming SOURCE.

``spark.readStream.format("versioned_feed")`` over a VersionedTable
root turns the table's typed change feed into a Structured Streaming
source — the Delta ``readStream`` analog, and the engine-native
replacement for the reference's Kafka re-ingestion loop (reference
README.md:98 consumes its own pipeline output back through Kafka;
here downstream jobs stream straight off the committed table, no
broker round-trip). Built on PySpark 4's Python Data Source API
(pyspark.sql.datasource), so the source composes with every
Structured Streaming feature: triggers, watermarks, foreachBatch,
checkpointed exactly-once recovery.

Semantics and scale:

- **Offsets are commit versions.** ``initialOffset`` is the
  configured ``startingVersion`` (default -1 = from the beginning);
  ``latestOffset`` is the table's latest committed version. A
  micro-batch (start, end] contains exactly the rows
  ``read_change_feed(start, end)`` would return, tagged
  ``_change_type`` ('insert' | 'delete') and ``_commit_version`` —
  the version walk is the SAME code (``VersionedTable.feed_slices``),
  so the stream and the batch feed cannot disagree.
- **Exactly-once replay.** Manifests and file groups are immutable,
  so any (start, end] window re-reads to byte-identical rows; Spark's
  checkpointed offset log therefore gives end-to-end exactly-once
  with an idempotent sink (VersionedTable sinks already are, by
  batch id).
- **Planning is manifest-only.** ``partitions()`` reads one JSON
  manifest per commit in the window and lists the slice groups' part
  files — no data file is opened on the driver. Each part FILE is
  its own input partition, so a large append fans out across the
  cluster while a trickle of small commits stays cheap.
- **Workers never import this package.** ``read()`` executes on
  executor Python workers from the pickled partition alone: plain
  pyarrow against one parquet file, padded/cast to the stream schema
  (the mergeSchema discipline of the batch reader, applied per
  file). The partition carries the stream's data schema as JSON — no
  repo code, no SparkSession, no table handle on the worker.
- **Feed contract.** Row-preserving rewrites (compact / OPTIMIZE)
  contribute no rows and advance no offset semantics; a
  feed-breaking commit (overwrite / restore / uncaptured merge /
  uncaptured
  delete) inside a consumed window fails the stream with
  ``read_change_feed``'s own error — the consumer must re-sync from
  a snapshot, the same contract Delta CDF streaming has.
- **One skipping rule.** Every group this module prunes — by the
  ``prune`` option or by Catalyst pushdown, in a snapshot, a bounded
  window, a stream or an ``initialSnapshot`` batch — is decided by
  ``versioned._group_may_match``, the rule ``snapshot_files`` applies:
  bounds ordered by the column's type, a group dropped only when its
  stats prove no row can match. The consumer still applies its exact
  filter.

The bounded twin (``spark.read.format("versioned_feed")``) reads one
explicit (sinceVersion, toVersion] window through the identical
partition/read path — handy for backfills that want the stream's
exact row set without running a stream.

Options: ``path`` (table root, required), ``startingVersion``
(stream: first offset, exclusive; default -1) OR
``startingTimestamp`` (epoch seconds: every commit stamped at or
after the instant streams — Delta's rule) OR ``initialSnapshot``
("true": the FIRST micro-batch serves the whole current snapshot as
inserts — deletion vectors applied executor-side — and change
consumption starts right after the pinned version; Delta readStream's
opening move, and what lets a consumer start on a table with feed
walls anywhere in its past), ``maxVersionsPerTrigger`` (commit-unit
rate limit), ``prune`` (caller-declared stats pruning,
``[[col, lo, hi], ...]``, ``null`` for an open end; applies to the
snapshot batch too),
``sinceVersion`` / ``toVersion`` (batch window, exclusive /
inclusive), ``pushdown`` (batch: opt-in Catalyst filter pushdown),
``skipChangeCommits`` ("true": insert-only consumption, Delta's
option of the same name — deletes/merges/upserts/replace_wheres,
captured or NOT, contribute nothing instead of slicing or walling;
overwrite/restore/rename stay walls; stream and batch windows both),
``maxFilesPerTrigger`` (part-file-unit rate limit with FILE-GRANULAR
offsets — Delta's DeltaSourceOffset (reservoirVersion, index) design:
an offset may be {"version": v, "file_idx": n}, splitting ONE huge
commit across bounded micro-batches, so a 10 TB backfill append
drains as many small batches instead of one monster batch; the
file-idx space is the deterministic raw enumeration of the commit's
slice files, so replays stay byte-identical and the prune bound only
skips emission, never shifts offsets; composes with
maxVersionsPerTrigger — both bounds hold; metadata-only commits pass
free. The first trigger of a FRESH run is uncapped (Spark fetches
latestOffset before the reader can learn any position); a RESTART is
paced from the checkpointed offset (Spark rehydrates the reader via
AcceptsLatestSeenOffset — see VersionedFeedStreamReader.__init__).
Rate limits govern CHANGE consumption: an ``initialSnapshot`` opening
batch always serves the whole pinned snapshot — offsets subdivide
commits, not snapshots).

Trigger.AvailableNow: Spark 4.1's PythonMicroBatchStream implements
neither SupportsTriggerAvailableNow nor SupportsAdmissionControl
(verified against the shipped jars), so availableNow FALLS BACK to
single-batch execution — there is no Python-side hook to change
this. Consequences, each pinned by tests/test_available_now.py: a
fresh availableNow run drains the entire backlog in ONE batch
(pacing options included — the uncapped-first-trigger rule above);
a RESTARTED paced availableNow run consumes exactly ONE paced
window per invocation (loop with ``drain_available_now`` to
backfill); and a run restarted over a crash between the offset and
commit logs REPLAYS the planned batch and stops — data committed
after that plan needs one more invocation (Spark's own warning:
"may not guarantee processing new data if there is an uncommitted
batch"). Exactly-once is unaffected throughout — the versioned sink
dedups replays by (txnAppId, batchId).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .versioned import (
    VersionedTable,
    _group_may_match,
    _stat_types,
    resolve_table_root,
)

FORMAT_NAME = "versioned_feed"
_META_COLS = ("_change_type", "_commit_version")


class FeedPartition(InputPartition):
    """One parquet part file of one change slice. Self-contained:
    everything ``read()`` needs ships in the partition, so the
    executor side has no dependency on this package being importable
    (plain pyarrow + the pickled fields)."""

    def __init__(
        self,
        file: str,
        change: str,
        version: int,
        schema_json: str,
        mapping: dict | None = None,
        rel: str | None = None,
        dv_files: list | None = None,
        bare: bool = False,
    ):
        self.file = file
        self.change = change
        self.version = version
        self.schema_json = schema_json
        # bare = plain SNAPSHOT read (spark.read.format("versioned_
        # table")): no _change_type/_commit_version meta columns —
        # the same DV-filtered, mapping-resolved, schema-padded file
        # read, minus the feed framing
        self.bare = bare
        # column mapping {logical: physical} of the window (constant
        # across any servable window: mapping changes are feed-breaking
        # commits, so feed_slices refuses windows that cross one)
        self.mapping = mapping or {}
        # initial-snapshot partitions only: this file's root-relative
        # path (the DV join key) + the DV parquet dirs of its GROUP —
        # the worker anti-filters the marked row indexes out, the
        # executor-side half of merge-on-read
        self.rel = rel
        self.dv_files = dv_files or []


def _data_schema(schema: StructType) -> StructType:
    return StructType([f for f in schema.fields if f.name not in _META_COLS])


def _slice_partitions(
    root: str,
    slices: list[tuple[int, str, list[str]]],
    schema_json: str,
    mapping: dict | None = None,
) -> list[FeedPartition]:
    """Fan each slice group out to its parquet part files (driver-side
    listing — one listdir per group, no file opened)."""
    parts: list[FeedPartition] = []
    for v, change, groups in slices:
        for g in groups:
            gdir = os.path.join(root, g)
            for fn in sorted(os.listdir(gdir)):
                if fn.endswith(".parquet"):
                    parts.append(
                        FeedPartition(
                            os.path.join(gdir, fn),
                            change,
                            v,
                            schema_json,
                            mapping,
                        )
                    )
    return parts


def _snapshot_partitions(
    t,
    version: int,
    schema_json: str,
    ranges=(),
    points=(),
    bare: bool = False,
) -> list[FeedPartition]:
    """Initial-snapshot partitions (the Delta readStream opening move):
    every live parquet file of the snapshot at ``version`` becomes an
    'insert' partition stamped with that version, each carrying its
    group's deletion-vector dirs for EXECUTOR-side merge-on-read (the
    worker drops the marked row indexes — same (rel-path, row_index)
    key the JVM anti-join uses). O(live files) by definition — serving
    a snapshot IS a table scan; ``ranges`` and ``points`` skip groups
    through the one rule."""
    m = t._manifest(version)
    mapping = t._mapping(version)
    stats = m.get("stats") or {}
    types = _stat_types(m["schema"]) if ranges else {}
    dvs = m.get("dvs") or {}
    parts: list[FeedPartition] = []
    for g in m["files"]:
        if not _group_may_match(stats.get(g) or {}, types, ranges, points):
            continue
        gdir = os.path.join(t.root, g)
        dv_dirs = [
            os.path.join(t.root, d) for d in dvs.get(t._group_of(g), [])
        ]
        for fn in sorted(os.listdir(gdir)):
            if fn.endswith(".parquet"):
                parts.append(
                    FeedPartition(
                        os.path.join(gdir, fn),
                        "insert",
                        version,
                        schema_json,
                        mapping,
                        rel=f"{g}/{fn}",
                        dv_files=dv_dirs,
                        bare=bare,
                    )
                )
    return parts


def _read_partition(partition: FeedPartition) -> Iterator:
    """Executor-side read: one parquet file -> Arrow batches in the
    stream schema. Pads columns the file predates with nulls and
    casts widened types — per-file mergeSchema, same discipline as
    the batch reader's ``spark.read.option("mergeSchema")``. A batch
    plan with no partitions reaches here as ``None``: no rows."""
    if partition is None:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType as _St

    target = _St.fromJson(json.loads(partition.schema_json))  # data cols only
    bare = getattr(partition, "bare", False)
    # bare snapshot reads serve the table schema VERBATIM (a data
    # column that happens to be named like a feed meta column is
    # real data there — only the feed reserves those names)
    arrow_data = to_arrow_schema(target if bare else _data_schema(target))
    arrow_full = (
        arrow_data
        if bare  # plain snapshot read: no feed meta columns
        else pa.schema(
            list(arrow_data)
            + [
                pa.field("_change_type", pa.string(), nullable=False),
                pa.field("_commit_version", pa.int64(), nullable=False),
            ]
        )
    )
    mapping = getattr(partition, "mapping", None) or {}
    # COLUMN pruning at the arrow read: open only the physical
    # columns the negotiated schema needs (plus the embedded tag of
    # typed capture files) — a 2-column projection over a wide table
    # reads 2 columns' pages, and a file's retired/dropped physical
    # columns are never decoded (the ReadSchema discipline, applied
    # inside the Python data source). Columns the file predates are
    # simply absent and padded below; a file predating EVERY
    # projected column still reports its row count (pyarrow preserves
    # num_rows for zero-column reads).
    pf = pq.ParquetFile(partition.file)
    avail = set(pf.schema_arrow.names)
    needed = [mapping.get(f.name, f.name) for f in arrow_data]
    if partition.change == "typed":
        needed.append("_change_type")
    t = pf.read(columns=[c for c in needed if c in avail])
    dv_files = getattr(partition, "dv_files", None)
    if dv_files:
        # merge-on-read, executor-side: drop the row indexes any of
        # the group's deletion vectors mark dead in THIS file (the
        # same (rel-path, row_index) key the JVM anti-join uses)
        drop = set()
        for d in dv_files:
            dvt = pq.read_table(d, columns=["file", "idx"])
            for f_, i in zip(
                dvt.column("file").to_pylist(), dvt.column("idx").to_pylist()
            ):
                if f_ == partition.rel:
                    drop.add(i)
        if drop:
            keep = [i for i in range(t.num_rows) if i not in drop]
            # explicit int64: an empty keep-list would infer null type
            t = t.take(pa.array(keep, type=pa.int64()))
    n = t.num_rows
    cols = []
    for f in arrow_data:
        # files store PHYSICAL column names (column mapping); resolve
        # the stream's logical name to the on-file one before lookup
        src = mapping.get(f.name, f.name)
        if src in t.column_names:
            c = t.column(src)
            if c.type != f.type:
                c = c.cast(f.type)
        else:
            c = pa.nulls(n, f.type)
        cols.append(c)
    if not bare:
        if partition.change == "typed":
            # merge/upsert capture group: the direction tag is embedded
            # per row in the file itself (update = delete+insert pair)
            ct = t.column("_change_type")
            if ct.type != pa.string():
                ct = ct.cast(pa.string())
            cols.append(ct)
        else:
            cols.append(pa.array([partition.change] * n, pa.string()))
        cols.append(pa.array([partition.version] * n, pa.int64()))
    full = pa.table(cols, schema=arrow_full)
    yield from full.to_batches(max_chunksize=1 << 16)


def _parse_prune(raw: str | None) -> tuple[list, list]:
    """The ``prune`` option, ``[[col, lo, hi], ...]`` (``null`` = an
    open end), as the skipping rule's ranges and points: a triple with
    lo == hi is also a bloom point."""
    ranges: list = []
    points: list = []
    for t in json.loads(raw) if raw else []:
        if not (isinstance(t, (list, tuple)) and len(t) == 3):
            raise ValueError(
                f"prune expects [[col, lo, hi], ...] triples; got {t!r}"
            )
        col, lo, hi = t
        ranges.append((col, lo, hi))
        if lo == hi and lo is not None:
            points.append((col, [lo]))
    return ranges, points


def _prune_slices(t, slices: list, ranges=(), points=()) -> list:
    """Skip each slice's file groups through the one rule — one RECORD
    read per slice, never a materialized snapshot: an insert slice's
    groups are the groups its commit ADDED, whose stats ride a
    protocol-4 delta record's own stats_set verbatim (full manifests
    carry the whole index), and whose column types ride that record's
    own schema. Capture groups have no stats and are kept."""
    if not ranges and not points:
        return slices
    pruned = []
    for v, change, groups in slices:
        rec = t._load_record(v)
        stats = (
            rec.get("stats_set") if "delta_of" in rec else rec.get("stats")
        ) or {}
        types = _stat_types(rec["schema"])
        keep = [
            g
            for g in groups
            if _group_may_match(stats.get(g) or {}, types, ranges, points)
        ]
        pruned.append((v, change, keep))
    return pruned


class VersionedFeedStreamReader(DataSourceStreamReader):
    """Commit versions as offsets over VersionedTable.feed_slices.

    ``ranges`` / ``points`` (from ``.option("prune", json)``) skip
    each slice's file groups at micro-batch PLANNING time — the
    streaming twin of the batch reader's Catalyst pushdown, which the
    Python streaming DataSource API has no hook for, so the caller
    declares the bound explicitly. Superset guarantee as everywhere:
    the consumer still applies its exact row filter."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        starting_version: int,
        max_versions: int | None = None,
        ranges=(),
        points=(),
        initial_snapshot: bool = False,
        skip_change_commits: bool = False,
        max_files: int | None = None,
        max_bytes: int | None = None,
    ):
        self._root = root
        self._schema = schema
        self._schema_json = _data_schema(schema).json()
        self._start = starting_version
        self._max_versions = max_versions
        self._max_files = max_files
        self._max_bytes = max_bytes
        self._ranges = list(ranges)
        self._points = list(points)
        self._initial_snapshot = initial_snapshot
        self._skip_changes = skip_change_commits
        # last batch end OFFSET seen by partitions(): the rate-limit
        # anchor. The anchor's lifecycle differs between fresh starts
        # and restarts — both verified against Spark 4.1.2's actual
        # call sequence (tests/test_available_now.py):
        #
        # - FRESH run: MicroBatchExecution fetches latestOffset()
        #   BEFORE resolving the start offset (initialOffset comes
        #   later, at plan time), so the first planned batch sees
        #   anchor None and is UNCAPPED — a pre-existing backlog
        #   lands as one batch.
        # - RESTART: Spark rehydrates the reader's position through
        #   AcceptsLatestSeenOffset — PythonMicroBatchStream.
        #   setLatestSeenOffset(ckpt) invokes partitions(ckpt, ckpt)
        #   on this reader (a degenerate same-offset plan, empty
        #   partitions), whose side effect below anchors _last_end at
        #   the checkpointed offset. Pacing therefore DOES apply from
        #   the first post-restart batch — including under the
        #   Trigger.AvailableNow single-batch fallback, where one run
        #   consumes exactly one paced window (see
        #   drain_available_now for the backfill loop).
        self._last_end: dict | None = None

    # --- file-granular offsets (maxFilesPerTrigger) --------------------
    #
    # An offset is {"version": v} — the feed consumed THROUGH commit v
    # entirely — or {"version": v, "file_idx": n} — the first n part
    # files of commit v's slice consumed, the rest pending. The
    # file-idx space is the deterministic enumeration _version_files
    # returns (slice order from feed_slices over immutable records,
    # sorted part-file listing per group), so any (start, end] window
    # replays byte-identically; this is Delta's DeltaSourceOffset
    # (reservoirVersion, index) design, and what lets a single 10 TB
    # backfill COMMIT drain as bounded micro-batches instead of one
    # monster batch. Pruning never shifts the index space: offsets
    # count RAW files, the prune bound only skips EMITTING partitions.

    def _version_files(self, t, v: int) -> list[tuple]:
        """Deterministic [(change, group, file path)] enumeration of
        ONE commit's feed slice — the offset index space."""
        out = []
        for _v, change, groups in t.feed_slices(
            v - 1, v, skip_change_commits=self._skip_changes
        ):
            for g in groups:
                gdir = os.path.join(t.root, g)
                for fn in sorted(os.listdir(gdir)):
                    if fn.endswith(".parquet"):
                        out.append((change, g, os.path.join(gdir, fn)))
        return out

    def _partial_version_partitions(
        self, t, v: int, lo: int, hi: int | None, mapping: dict
    ) -> list[FeedPartition]:
        """Partitions for file-idx window [lo, hi) of commit v (hi
        None = through the end), prune applied AFTER slicing so the
        offset space stays raw."""
        files = self._version_files(t, v)[lo:hi]
        if (self._ranges or self._points) and files:
            pruned = _prune_slices(
                t,
                t.feed_slices(
                    v - 1, v, skip_change_commits=self._skip_changes
                ),
                self._ranges,
                self._points,
            )
            allowed = {g for _v, _c, groups in pruned for g in groups}
            files = [f for f in files if f[1] in allowed]
        return [
            FeedPartition(path, change, v, self._schema_json, mapping)
            for change, _g, path in files
        ]

    def initialOffset(self) -> dict:
        if self._initial_snapshot:
            # Delta's readStream opening move: the FIRST micro-batch
            # serves the whole current snapshot as inserts stamped at
            # the pinned version, and change consumption starts right
            # after it — which is what lets a consumer start on a
            # table with feed walls (overwrite/restore/uncaptured ops)
            # anywhere in its PAST. The offset carries the pinned
            # snapshot version; once the first batch commits, the
            # checkpointed offset is a plain version and later batches
            # are ordinary change slices.
            lv = VersionedTable(self._root).latest_version()
            # schema() already refused tables with no committed version
            self._last_end = {"version": lv}
            return {"version": lv, "snapshot": lv}
        self._last_end = {"version": self._start}
        return {"version": self._start}

    def latestOffset(self) -> dict:
        t = VersionedTable(self._root)
        lv = t.latest_version()
        anchor = self._last_end
        if anchor is None:
            # first trigger of a (re)started run: uncapped by design
            # (the engine asks for latestOffset before the reader can
            # see the checkpointed start)
            return {
                "version": max(self._start, lv if lv is not None else self._start)
            }
        av, ai = int(anchor["version"]), anchor.get("file_idx")
        target_v = max(av, lv if lv is not None else av)
        if self._max_versions is not None:
            # maxVersionsPerTrigger: advance at most N commits per
            # micro-batch (commit-unit pacing; composes with the
            # file-unit cap below — both bounds hold)
            target_v = min(target_v, av + self._max_versions)
        if self._max_files is None and self._max_bytes is None:
            # no fine-grained cap: a partial anchor simply finishes
            # its commit inside the next window
            return {"version": target_v}
        # unified pacing walk: spend file-count and byte budgets over
        # the deterministic file enumeration, stopping at (possibly
        # mid-commit) the last affordable file. At least ONE file is
        # always taken when any is pending (a single file bigger than
        # maxBytesPerTrigger must still flow — Delta's rule — or the
        # stream would stall forever).
        import math

        fb = self._max_files if self._max_files is not None else math.inf
        bb = self._max_bytes if self._max_bytes is not None else math.inf
        end_v, end_i = av, ai
        v = av if ai is not None else av + 1
        i0 = ai or 0
        took = 0
        while v <= target_v:
            files = self._version_files(t, v)
            n = len(files)
            if n == 0:
                # metadata-only / fully-compacted commit: free to pass
                end_v, end_i = v, None
                v += 1
                i0 = 0
                continue
            i = i0
            while i < n:
                sz = os.path.getsize(files[i][2])
                if took > 0 and (fb < 1 or bb < sz):
                    return self._offset(end_v, end_i)
                fb -= 1
                bb -= sz
                took += 1
                i += 1
                end_v, end_i = (v, None) if i == n else (v, i)
            if fb < 1 or bb <= 0:
                return self._offset(end_v, end_i)
            v += 1
            i0 = 0
        return self._offset(end_v, end_i)

    @staticmethod
    def _offset(v: int, idx: int | None) -> dict:
        return {"version": v} if idx is None else {"version": v, "file_idx": idx}

    @staticmethod
    def _pos(v: int, idx: int | None) -> tuple:
        # total order over offsets: a partial position sorts before
        # the full consumption of the same version
        return (v, float("inf") if idx is None else idx)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s_v, s_i = int(start["version"]), start.get("file_idx")
        e_v, e_i = int(end["version"]), end.get("file_idx")
        self._last_end = (  # anchor the next trigger's rate limit
            {"version": e_v}
            if e_i is None
            else {"version": e_v, "file_idx": e_i}
        )
        parts: list[InputPartition] = []
        snap = start.get("snapshot")
        if snap is not None:
            # first batch of an initialSnapshot stream: the pinned
            # snapshot's live files (DV-filtered executor-side), plus
            # whatever commits landed between the pin and this
            # trigger's end as ordinary change slices below
            parts.extend(
                _snapshot_partitions(
                    VersionedTable(self._root),
                    int(snap),
                    self._schema_json,
                    self._ranges,
                    self._points,
                )
            )
        if self._pos(e_v, e_i) <= self._pos(s_v, s_i):
            return parts
        t = VersionedTable(self._root)
        mapping = t._mapping(e_v)
        if s_i is None and e_i is None:
            # whole-commit window: the original group-level plan
            slices = t.feed_slices(
                s_v, e_v, skip_change_commits=self._skip_changes
            )
            slices = _prune_slices(t, slices, self._ranges, self._points)
            return parts + _slice_partitions(
                t.root, slices, self._schema_json, mapping
            )
        # file-granular window (maxFilesPerTrigger in play)
        if s_i is not None:
            # the remainder (or middle span) of the straddled commit
            hi = e_i if e_v == s_v else None
            parts.extend(
                self._partial_version_partitions(t, s_v, s_i, hi, mapping)
            )
            if e_v == s_v:
                return parts
        # middle full commits: (s_v, mid_hi] — feed_slices' lower bound
        # is exclusive, which is exactly right whether s_v was fully
        # consumed at the start offset or its remainder was emitted
        # just above
        mid_hi = e_v - 1 if e_i is not None else e_v
        if mid_hi > s_v:
            slices = t.feed_slices(
                s_v, mid_hi, skip_change_commits=self._skip_changes
            )
            slices = _prune_slices(t, slices, self._ranges, self._points)
            parts.extend(
                _slice_partitions(t.root, slices, self._schema_json, mapping)
            )
        if e_i is not None:
            parts.extend(
                self._partial_version_partitions(t, e_v, 0, e_i, mapping)
            )
        return parts

    def read(self, partition: FeedPartition) -> Iterator:
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        # offsets are durable table versions: nothing to acknowledge
        # (Spark's checkpoint is the consumer-side progress record)
        pass


def _push_filters(reader, filters):
    """Catalyst's pushed conjunctive filters as skipping bounds, added
    to the reader's ``prune`` bounds (AND): ``=`` and ``IN`` become a
    range and, on ``_bloomable`` columns, a bloom point; ``>``, ``>=``,
    ``<``, ``<=`` become an open-ended range. Only columns
    ``VersionedTable._auto_prunable`` accepts take part — timestamps
    do not — so a pushed filter never raises. Every filter is returned
    as residual: skipping is superset-only, Spark still applies the
    exact row predicate. The one body of both pushdown readers."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    types = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(reader._schema_json)).fields
    }
    for f in filters:
        dtype = types.get(f.attribute[0]) if len(f.attribute) == 1 else None
        if dtype is None or not VersionedTable._auto_prunable(dtype):
            continue
        col = f.attribute[0]
        if isinstance(f, (EqualTo, In)):
            vals = [f.value] if isinstance(f, EqualTo) else list(f.value)
            vals = [v for v in vals if v is not None]
            if vals:
                reader._ranges.append((col, min(vals), max(vals)))
                if VersionedTable._bloomable(dtype):
                    reader._points.append((col, vals))
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            reader._ranges.append((col, f.value, None))
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            reader._ranges.append((col, None, f.value))
    return filters


class VersionedFeedBatchReader(DataSourceReader):
    """Bounded (sinceVersion, toVersion] window through the stream's
    exact partition/read path; ``ranges`` / ``points`` (the ``prune``
    option) skip each slice's groups through the one rule."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        since: int,
        to: int | None,
        ranges=(),
        points=(),
        skip_change_commits: bool = False,
    ):
        self._root = root
        self._schema_json = _data_schema(schema).json()
        self._since = since
        self._to = to
        self._ranges = list(ranges)
        self._points = list(points)
        self._skip_changes = skip_change_commits

    def partitions(self) -> Sequence[InputPartition]:
        t = VersionedTable(self._root)
        # resolve the window end ONCE and pass it as feed_slices'
        # explicit to_version: letting feed_slices re-resolve latest
        # on its own admits a TOCTOU where a commit (e.g. a
        # rename_column) landing between the two resolutions makes the
        # mapping used for physical-name translation disagree with the
        # planned slice window
        end = self._to if self._to is not None else t.latest_version()
        slices = t.feed_slices(
            self._since, end, skip_change_commits=self._skip_changes
        )
        # per-slice stats from the COMMIT that added the groups — one
        # record read per slice, never per group
        slices = _prune_slices(t, slices, self._ranges, self._points)
        return _slice_partitions(
            t.root, slices, self._schema_json, t._mapping(end)
        )

    def read(self, partition: FeedPartition) -> Iterator:
        return _read_partition(partition)


class PruningFeedBatchReader(VersionedFeedBatchReader):
    """The bounded reader plus skipping driven by Spark's own filter
    pushdown. Opt-in via ``.option("pushdown", "true")`` because
    implementing ``pushFilters`` at all requires
    ``spark.sql.python.filterPushdown.enabled=true`` on the session —
    Spark fails closed rather than silently skipping an implemented
    pushFilters, so the default reader must not carry one."""

    pushFilters = _push_filters


class VersionedSnapshotBatchReader(DataSourceReader):
    """Plain-Spark batch read of ONE pinned snapshot —
    ``spark.read.format("versioned_table")`` — the read quadrant that
    closes the interop matrix (read/write x batch/stream): vanilla
    sessions get the table without the Python ``VersionedTable.read``
    API or the ``as_view`` SQL hop. Rides the initial-snapshot
    machinery verbatim (``_snapshot_partitions`` + ``_read_partition``
    in bare mode): every live parquet part file is its own input
    partition, deletion vectors anti-filter executor-side
    (merge-on-read), column mapping resolves physical names, and
    schema evolution pads/casts per file. The snapshot version is
    pinned at DataSource construction — schema() and partitions()
    cannot disagree across a concurrent commit.

    Column projection: Spark does NOT push required columns into
    Python scans (the plan shows the full-width BatchScan under a
    Project), so narrow reads should pass ``.schema("k long, v
    double")`` — the per-file arrow read then opens ONLY those
    physical columns (measured 12x on a 2-of-22-column projection;
    on object storage the unfetched bytes are the real win)."""

    def __init__(
        self, root: str, schema: StructType, version: int, ranges=(), points=()
    ):
        self._root = root
        self._schema_json = schema.json()
        self._version = version
        self._ranges = list(ranges)
        self._points = list(points)

    def partitions(self) -> Sequence[InputPartition]:
        return _snapshot_partitions(
            VersionedTable(self._root),
            self._version,
            self._schema_json,
            self._ranges,
            self._points,
            bare=True,
        )

    def read(self, partition: FeedPartition) -> Iterator:
        return _read_partition(partition)


class PruningSnapshotBatchReader(VersionedSnapshotBatchReader):
    """The snapshot reader plus skipping driven by Catalyst's own
    filter pushdown — the same opt-in and body as
    PruningFeedBatchReader."""

    pushFilters = _push_filters


def build_batch_reader(options, cls, pushdown_cls, *args, **kw):
    """The batch reader the ``pushdown`` and ``prune`` options ask for:
    ``pushdown_cls`` when ``pushdown`` is "true", else ``cls``, either
    way built with the ``prune`` option's bounds."""
    if str(options.get("pushdown", "")).lower() == "true":
        cls = pushdown_cls
    ranges, points = _parse_prune(options.get("prune"))
    return cls(*args, ranges=ranges, points=points, **kw)


class VersionedTableStreamReader(VersionedFeedStreamReader):
    """Insert-only TABLE stream — ``spark.readStream.format(
    "versioned_table")``: bare data rows (no feed meta columns), the
    Delta ``readStream``-on-a-table default. Appends stream through
    (optionally opening with the whole current snapshot via
    ``initialSnapshot``); any CHANGE commit — delete/merge/upsert,
    captured or not — fails the stream with an actionable error,
    because bare rows cannot represent a removal (Delta fails these
    too). ``skipChangeCommits`` opts into streaming PAST them
    insert-only; consumers that need the removals stream the typed
    feed (``versioned_feed``) instead. Offsets, rate limits
    (maxVersions/maxFiles/maxBytesPerTrigger), pruning, and the
    checkpoint discipline are the feed reader's verbatim — only the
    row framing differs."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # bare rows serve the table schema VERBATIM: no meta-column
        # stripping (a data column that happens to be named like a
        # feed meta column is real data in a table stream)
        self._schema_json = self._schema.json()

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts = list(super().partitions(start, end))
        for p in parts:
            if p.change != "insert":
                raise ValueError(
                    f"versioned_table stream: commit {p.version} is a "
                    f"'{p.change}' change — a bare table stream cannot "
                    "represent removals. Stream the typed change feed "
                    "(format 'versioned_feed') for CDC, or set "
                    ".option('skipChangeCommits','true') to stream past "
                    "data changes insert-only"
                )
            p.bare = True
        return parts


def _version_before_timestamp(root: str, ts: float) -> int:
    """startingTimestamp resolution (Delta's rule for streams: include
    every commit stamped AT or AFTER the instant): the exclusive
    starting offset is the latest version committed strictly BEFORE
    ``ts``; a timestamp predating the first commit streams from the
    beginning; one past the last commit streams only future commits.
    Bisects the log (stamps are non-decreasing — commit clamp in
    versioned._commit), so stream start-up costs O(log versions)
    record reads on a long streaming-ingest history, not a full-log
    walk; a pre-clamp history with a proven stamp inversion falls back
    to the linear prefix-max walk (versioned._bisect_stamps)."""
    t = VersionedTable(root)
    best = t._bisect_stamps(t.versions(), ts, "last_lt")
    return -1 if best is None else best


def build_stream_reader(
    options, root: str, schema: StructType, reader_cls=None
) -> VersionedFeedStreamReader:
    """Shared option-parsing for the two streaming formats: the typed
    feed ('versioned_feed') and the bare insert-only table stream
    ('versioned_table') accept the SAME options; only the reader class
    (row framing) differs."""
    snap = str(options.get("initialsnapshot", "")).lower() == "true"
    start_ts = options.get("startingtimestamp")
    if snap and (start_ts is not None or "startingversion" in options):
        raise ValueError(
            "initialSnapshot pins its own starting point (the current "
            "snapshot version) — exclusive with startingVersion and "
            "startingTimestamp"
        )
    if start_ts is not None:
        if "startingversion" in options:
            raise ValueError(
                "set startingVersion OR startingTimestamp, not both"
            )
        start = _version_before_timestamp(root, float(start_ts))
    else:
        start = int(options.get("startingversion", -1))
    mvpt = options.get("maxversionspertrigger")
    mfpt = options.get("maxfilespertrigger")
    if mfpt is not None and int(mfpt) < 1:
        raise ValueError("maxFilesPerTrigger must be >= 1")
    mbpt = options.get("maxbytespertrigger")
    if mbpt is not None and int(mbpt) < 1:
        raise ValueError("maxBytesPerTrigger must be >= 1")
    ranges, points = _parse_prune(options.get("prune"))
    cls = reader_cls or VersionedFeedStreamReader
    return cls(
        root,
        schema,
        start,
        int(mvpt) if mvpt is not None else None,
        ranges,
        points,
        initial_snapshot=snap,
        skip_change_commits=(
            str(options.get("skipchangecommits", "")).lower() == "true"
        ),
        max_files=int(mfpt) if mfpt is not None else None,
        max_bytes=int(mbpt) if mbpt is not None else None,
    )


class VersionedFeedDataSource(DataSource):
    """spark.readStream.format("versioned_feed").option("path", root)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "versioned_feed requires .option('path', <table root>)"
            )
        return resolve_table_root(root)

    def schema(self) -> StructType:
        t = VersionedTable(self._root())
        lv = t.latest_version()
        if lv is None:
            raise ValueError(
                f"table {t.root} has no committed version: the feed schema "
                "is not derivable — commit first or pass .schema(...)"
            )
        # schema rides every record verbatim: no materialization
        base = StructType.fromJson(json.loads(t._load_record(lv)["schema"]))
        clash = [f.name for f in base.fields if f.name in _META_COLS]
        if clash:
            # A real data column named like a feed meta column would be
            # silently shadowed (its values never surfaced by read());
            # refuse loudly instead — same stance Delta's CDF takes on
            # its reserved columns.
            raise ValueError(
                f"table {t.root} has column(s) {clash} that collide with "
                f"reserved change-feed columns {list(_META_COLS)}; rename "
                "the column(s) or read the table as a batch source"
            )
        return StructType(
            list(base.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> VersionedFeedStreamReader:
        return build_stream_reader(self.options, self._root(), schema)

    def reader(self, schema: StructType) -> VersionedFeedBatchReader:
        to_raw = self.options.get("toversion")
        return build_batch_reader(
            self.options,
            VersionedFeedBatchReader,
            PruningFeedBatchReader,
            self._root(),
            schema,
            int(self.options.get("sinceversion", -1)),
            int(to_raw) if to_raw is not None else None,
            skip_change_commits=(
                str(self.options.get("skipchangecommits", "")).lower() == "true"
            ),
        )


def register_feed_source(spark) -> None:
    """Idempotently register the format with a session (re-register
    is a cheap overwrite; Python data sources are session-scoped)."""
    spark.dataSource.register(VersionedFeedDataSource)


def feed_checkpoint_position(checkpoint_dir: str) -> dict | None:
    """The latest PLANNED feed offset in a single-source query
    checkpoint (the last line of the newest ``offsets/<n>`` entry),
    or None before the first plan. An offsets entry is v1-header +
    metadata + one offset json per source; with one source the last
    line is ours. 'Planned' equals 'committed' after a clean
    availableNow termination; a crash between the logs leaves the
    planned entry ahead — exactly the state drain_available_now's
    replay run resolves."""
    odir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(odir):
        return None
    names = [n for n in os.listdir(odir) if n.isdigit()]
    if not names:
        return None
    latest = os.path.join(odir, max(names, key=int))
    with open(latest) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])


def drain_available_now(
    start_query, table_root: str, checkpoint_dir: str, *, max_runs: int = 64
) -> dict | None:
    """Run an availableNow query repeatedly until its checkpoint has
    consumed ``table_root``'s latest commit — the backfill loop for
    PACED feeds under Spark's single-batch fallback.

    Python sources cannot support Trigger.AvailableNow (no
    SupportsTriggerAvailableNow hook on PythonMicroBatchStream), so
    one availableNow invocation of a RESTARTED query consumes exactly
    one maxVersions/maxFiles/maxBytesPerTrigger window. This loop is
    the drain: each iteration is one bounded micro-batch — executor
    memory stays O(window) no matter how monstrous the backlog, which
    is the point of pacing at 100 TB. ``start_query`` is a zero-arg
    callable returning a freshly STARTED StreamingQuery wired to the
    same checkpoint. Returns the final consumed offset. Raises if
    ``max_runs`` invocations didn't reach the target — a stall, not
    a pacing artifact (every run must advance at least one file).

    The target is DRAIN-TO-EMPTY: ``latest_version()`` is re-read
    every iteration, so commits that land on the source WHILE the
    drain is running are drained by this same call (a concurrent
    writer outpacing the drain exhausts ``max_runs`` rather than
    looping forever). To drain only up to a snapshot pinned at call
    time, capture ``latest_version()`` yourself and stop the writer
    first."""
    table = VersionedTable(table_root)
    pos = prev = None
    for i in range(max_runs):
        q = start_query()
        q.awaitTermination()
        pos = feed_checkpoint_position(checkpoint_dir)
        # re-read AFTER the run: commits landed mid-drain raise the bar
        target = table.latest_version()
        if target is None:
            return pos
        if (
            pos is not None
            and pos.get("file_idx") is None
            and int(pos["version"]) >= target
        ):
            return pos
        if i > 0 and pos == prev:
            # a genuine stall: the run completed but the planned offset
            # did not move — fail fast instead of burning the remaining
            # query start-ups (a healthy paced backlog ALWAYS advances
            # at least one file per run — the no-stall rule)
            raise RuntimeError(
                f"drain_available_now: offset did not advance past "
                f"{pos} between runs — the stream is stalled"
            )
        prev = pos
    raise RuntimeError(
        f"drain_available_now: still advancing but version {target} not "
        f"reached within max_runs={max_runs} (at {pos}) — raise max_runs "
        "for this backlog depth"
    )
