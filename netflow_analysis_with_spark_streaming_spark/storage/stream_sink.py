"""The ``versioned_table`` interop DataSource: streaming SINK (this
module's core), batch writer twin, batch SNAPSHOT reader, and
insert-only table stream — every quadrant of read/write x
batch/stream under one format name (the typed change feed is the
sibling ``versioned_feed`` in stream_source.py, which also implements
the reader classes this module's DataSource delegates to).

``df.writeStream.format("versioned_table").option("path", root)`` —
the write-side twin of storage/stream_source.py, through PySpark 4's
Python Data Source API (DataSourceStreamArrowWriter). The reference's
pipeline pushed results row-wise at a Mongo store (SURVEY §2 K1-K3;
reference README.md:130-142 — `sendMongoDB(partition)` opening a
client per partition and `collection.insert_one(record)` per row, no
atomicity, no replay safety); this sink lands each micro-batch as ONE
atomic, exactly-once version of a versioned table, with data-skipping
stats recorded at write time — and it accepts the full nested type
surface (structs, maps, arrays, decimals, both timestamp flavors, at
any nesting), the same document shapes the reference pushed at Mongo.

Two-phase commit, Delta-style:

- ``write()`` runs on EXECUTORS, one call per task, and — like the
  feed source's read path — never imports this package. The task
  consumes Arrow ``RecordBatch``es straight off Spark's Arrow
  transport (the writer subclasses ``DataSourceArrowWriter``, so the
  engine skips its per-row Python conversion entirely — measured ~7.5x
  faster staging than the row-iterator writer at 2M rows x 5 cols),
  casts each batch to the staged schema (timestamps arrive as
  epoch-micros arrays tagged with the session zone; the cast to the
  staged UTC tag is metadata-only and instant-exact at ANY nesting
  depth), buffers ~64k rows, and writes each flush as one parquet row
  group of a single-file staged group under ``data/<uuid>/``. The
  task returns a commit MESSAGE carrying the group path, its row
  count, and per-column min/max bounds folded per flush from the
  arrow buffers. A crash here leaves unreferenced staged files
  (garbage for fsck/vacuum), never torn state.
- ``commit()`` runs once per micro-batch on the driver-side data
  source worker with ALL task messages: it publishes one manifest
  referencing every non-empty staged group, stamped with
  ``"<appId>#<batchId>"`` — the batch-id idempotency slot the
  foreachBatch sinks use, SCOPED per query (Delta's txnAppId rule):
  the scope is the explicit ``txnAppId`` option or, by default, the
  query's checkpoint location, so a replayed batch of the SAME query
  is a no-op (its staged groups are deleted, nothing double-lands)
  while a different query — or a restart with a fresh checkpoint,
  whose batch ids restart at 0 — lands normally instead of being
  silently dropped as a fake replay. A crash between commit and
  checkpoint write is absorbed exactly-once. ``abort()`` deletes the
  staged groups.

Semantics and fail-closed edges:

- **Schema evolution at commit**: the committed manifest schema is
  the UNION of the table schema and the stream schema (same rules as
  append — new columns add, numerics widen, irreconcilable types
  raise before anything is referenced; nested types must match
  exactly, the Delta restriction).
- **Type surface**: every Spark type whose parquet round-trip is
  exact — scalars, decimals, date, timestamp/timestamp_ntz, binary,
  and arbitrarily nested array/struct/map of those. Interval types
  (arrow ``duration``, no parquet story) and VARIANT (would silently
  come back as a bare struct-of-binaries) refuse at WRITER CREATION.
- **Column mapping**: the writer pins the table's (mapping, retired)
  identity at creation; staged files are written under PHYSICAL
  names (top-level, same scope as rename/drop), and commit fails
  closed if a concurrent rename/drop changed the identity (the
  staged bytes bind to the old mapping — restart the stream; same
  stance as append's retry fail-close).
- **CHECK constraints**: enforcing a SQL predicate requires a
  SparkSession, which the data-source worker does not have — a table
  with constraints refuses this sink at writer creation AND at
  commit (add constraints only to tables fed via foreachBatch +
  ``append``, which enforces them).
- **GENERATED columns**: the two derived-pruning-key shapes —
  integral ``col % N`` and ``to_date(col)`` / ``CAST(col AS DATE)``
  — compile into arrow-compute plans at writer creation and
  materialize executor-side at staging (values land in the skipping
  stats; provided values validate per batch; commit attests the
  pinned definitions and fails closed on a mid-stream change). Any
  other expression refuses at creation with the foreachBatch path
  named — the subset stays tiny because a general shadow SQL
  evaluator is how engines grow silent divergence.
- **Conflict handling**: an append batch is a blind add, so losing a
  commit race auto-resolves by re-pinning and re-publishing the same
  staged groups (bounded retries), exactly like ``append``. A
  ``mode("overwrite")`` batch replaces the snapshot it pinned, so a
  lost race fails closed with ``CommitConflictError``.

Options: ``path`` (table root, required), ``statsCols`` (csv of
columns to record min/max for; default = every orderable primitive
top-level column — binary/boolean/decimal/nested carry no skipping
index), ``txnAppId`` (stable per-query idempotency scope; defaults to
the checkpoint location — streaming writes REQUIRE one of the two).

Pair a continuous ingest with ``maybe_compact``/``compact_where`` —
each task lands its own single-file group (a 32-partition batch is 32
small groups), which is what the predicate-scoped OPTIMIZE exists to
fold; ``df.coalesce(k)`` before ``writeStream`` bounds it at the
source.

The batch twin (``df.write.format("versioned_table")``) lands one
un-stamped append (or an overwrite under ``mode("overwrite")``)
through the identical staging path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from typing import Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from .stream_source import (
    PruningSnapshotBatchReader,
    VersionedSnapshotBatchReader,
    VersionedTableStreamReader,
    build_batch_reader,
    build_stream_reader,
)
from .versioned import VersionedTable, resolve_table_root

FORMAT_NAME = "versioned_table"


class SinkCommitMessage(WriterCommitMessage):
    """One task's staged output: the group it landed (None = the task
    saw zero rows and staged nothing), its row count, and the
    per-column [min, max] bounds for the manifest's skipping index."""

    def __init__(self, group: str | None, rows: int, stats: dict):
        self.group = group
        self.rows = rows
        self.stats = stats


_SCALARS = frozenset(
    {
        "byte",
        "short",
        "integer",
        "long",
        "float",
        "double",
        "string",
        "boolean",
        "binary",
        "date",
        "timestamp",
        "timestamp_ntz",
    }
)
# scale group is \d+ on purpose: negative-scale decimals exist in
# Spark's grammar but are NOT parquet-round-trippable, and this
# allowlist's contract is "exact round-trip only"
_DECIMAL_RE = re.compile(r"decimal\(\s*\d+\s*,\s*\d+\s*\)")


def _check_type(spark_type: dict | str) -> None:
    """Fail-closed allowlist over the schema-JSON type tree: scalars,
    decimals, and arbitrarily nested array/struct/map of those — the
    types whose parquet round-trip is exact. Interval types (arrow
    ``duration``: no parquet story) and VARIANT (arrow lowers it to a
    bare struct-of-binaries, so a round-trip would silently change
    the logical type) raise at WRITER CREATION, never mid-stream."""
    if isinstance(spark_type, dict):
        kind = spark_type.get("type")
        if kind == "array":
            _check_type(spark_type["elementType"])
        elif kind == "struct":
            for f in spark_type["fields"]:
                _check_type(f["type"])
        elif kind == "map":
            _check_type(spark_type["keyType"])
            _check_type(spark_type["valueType"])
        else:
            raise ValueError(
                f"versioned_table sink: unsupported column type {kind!r}"
            )
        return
    if spark_type in _SCALARS or _DECIMAL_RE.fullmatch(spark_type):
        return
    raise ValueError(
        f"versioned_table sink: unsupported column type {spark_type!r}"
    )


_MOD_RE = re.compile(r"^\s*(\w+)\s*%\s*(\d+)\s*$")
_TO_DATE_RE = re.compile(
    r"^\s*(?:to_date\s*\(\s*(\w+)\s*\)|cast\s*\(\s*(\w+)\s+as\s+date\s*\))\s*$",
    re.IGNORECASE,
)
_INT_TYPES = ("byte", "short", "integer", "long")


def _compile_generated(expr: str, field_types: dict):
    """Compile a generated-column expression into an arrow-compute
    plan, or return None when it falls outside the supported subset.

    The subset is deliberately TINY — the two derived-pruning-key
    shapes a 100 TB ingest actually declares (`shard-from-id`,
    `day-from-ts`), each with semantics differentially pinned against
    Spark's own `_enforce` evaluation (tests): a general shadow SQL
    evaluator is how engines grow silent divergence, so everything
    else keeps the fail-closed foreachBatch+append contract.

    - ``col % N``          (integral col, N >= 1) -> ("mod", col, N, out)
      Spark's % keeps the DIVIDEND's sign; arrow integer divide
      truncates toward zero, so x - (x/N)*N reproduces it exactly.
    - ``to_date(col)`` / ``CAST(col AS DATE)`` (timestamp col)
      -> ("date", col, out): session-zone local date — the incoming
      arrow batch carries the session zone on the column, so
      local_timestamp + floor-to-day is exactly Spark's to_date.
    """
    m = _MOD_RE.match(expr)
    if m:
        col, n = m.group(1), int(m.group(2))
        t = field_types.get(col)
        if t in _INT_TYPES and n >= 1:
            out = "integer" if t in ("byte", "short", "integer") else "long"
            return ("mod", col, n, out)
        if n < 1:
            # Catalyst evaluates `x % 0` to NULL — a constant-NULL
            # pruning key is a declaration bug, so name the real
            # problem instead of misdiagnosing the column's type
            raise ValueError(
                f"generated expression {expr!r}: modulus must be >= 1 "
                "(Spark would evaluate `% 0` to NULL for every row)"
            )
        # the SHAPE is supported — the stream just can't feed it:
        # misdiagnosing this as "outside the subset" would send the
        # user to foreachBatch, which fails on the same column
        raise ValueError(
            f"generated expression {expr!r} is in the supported subset "
            f"but its source column {col!r} is "
            + (
                "absent from the stream schema"
                if t is None
                else f"{t!r}, not an integral type"
            )
            + " — include/fix the column in the stream"
        )
    m = _TO_DATE_RE.match(expr)
    if m:
        col = m.group(1) or m.group(2)
        t = field_types.get(col)
        if t in ("timestamp", "timestamp_ntz"):
            return ("date", col, None, "date")
        raise ValueError(
            f"generated expression {expr!r} is in the supported subset "
            f"but its source column {col!r} is "
            + (
                "absent from the stream schema"
                if t is None
                else f"{t!r}, not a timestamp"
            )
            + " — include/fix the column in the stream"
        )
    return None


def _eval_generated(plan, cols: dict):
    """Evaluate a compiled plan against a dict of arrow arrays."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kind, src, arg, _out = plan
    x = cols[src]
    if kind == "mod":
        x = x.cast(pa.int64())  # widen once; staged cast narrows back
        n = pa.scalar(arg, type=pa.int64())
        # truncating integer divide -> remainder keeps dividend sign,
        # exactly Spark's % (differentially tested vs append)
        return pc.subtract(x, pc.multiply(pc.divide(x, n), n))
    # kind == "date": wall-clock day in the column's own zone tag
    # (session zone for instants, none for NTZ), floored — to_date
    local = pc.local_timestamp(x) if x.type.tz is not None else x
    return pc.floor_temporal(local, unit="day").cast("date32")


def _staged_schema(schema_json: str, mapping: dict):
    """The arrow schema staged files are written in: Spark's own
    logical->arrow mapping (timestamps become UTC-tagged epoch micros
    at every nesting depth — exactly what the read path negotiates
    back), with TOP-LEVEL names resolved to their physical identity
    (column mapping; nested names are not renameable, same scope as
    rename/drop)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    logical = to_arrow_schema(StructType.fromJson(json.loads(schema_json)))
    return pa.schema(
        [f.with_name(mapping.get(f.name, f.name)) for f in logical]
    )


class VersionedSinkWriter(DataSourceStreamArrowWriter, DataSourceArrowWriter):
    """Executor-side staging writer + driver-side committer. One class
    serves both the streaming sink (batchId-stamped commits) and the
    batch twin (un-stamped append / overwrite). Subclassing the Arrow
    writer ABCs makes Spark hand ``write()`` the raw Arrow stream —
    no per-row Python objects anywhere on the staging path."""

    # rows buffered per staged parquet ROW GROUP: Spark's arrow
    # batches arrive ~10k rows each (arrow.maxRecordsPerBatch), which
    # is too fine for a parquet row group — buffer to ~64k so the
    # staged file scans well, while executor memory stays O(flush),
    # never O(micro-batch partition)
    FLUSH_ROWS = 1 << 16

    def __init__(
        self,
        root: str,
        schema_json: str,
        mapping: dict,
        retired: list,
        stats_cols: list[str],
        overwrite: bool = False,
        app_id: str | None = None,
        stream_schema_json: str | None = None,
        generated_plans: list | None = None,
        generated: dict | None = None,
    ):
        self.root = root
        # the STAGED/COMMITTED schema: the stream schema AUGMENTED
        # with any generated columns the stream omits
        self.schema_json = schema_json
        # the shape batches actually ARRIVE in (no omitted gen cols)
        self.stream_schema_json = stream_schema_json or schema_json
        self.mapping = mapping
        self.retired = retired
        self.stats_cols = stats_cols
        self.overwrite = overwrite
        # compiled (out_col, plan, provided) triples from
        # _compile_generated — evaluated arrow-side per batch; and the
        # pinned {col: expr} definitions commit attests to
        self.generated_plans = generated_plans or []
        self.generated = generated or {}
        # per-query idempotency scope (Delta's txnAppId): the bare
        # micro-batch batchId restarts at 0 for every new checkpoint,
        # so without a scope a second query into the same table — or a
        # restart with a fresh checkpoint — would be silently dropped
        # as a "replay" (data loss, not duplicates)
        self.app_id = app_id

    def _batch_key(self, batchId: int | None):
        if batchId is None:
            return None
        return f"{self.app_id}#{batchId}" if self.app_id else batchId

    # --- executor side (no package imports) ---------------------------

    def write(self, iterator: Iterator) -> SinkCommitMessage:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        fields = json.loads(self.schema_json)["fields"]
        names = [f["name"] for f in fields]
        stream_names = [
            f["name"] for f in json.loads(self.stream_schema_json)["fields"]
        ]
        pa_schema = _staged_schema(self.schema_json, self.mapping)
        ats = [f.type for f in pa_schema]
        stat_i = {c: names.index(c) for c in self.stats_cols}
        writer = None
        group = gdir = None
        total = 0
        buf: list = []  # cast batches awaiting one row-group flush
        buffered = 0
        agg: dict = {}  # col -> [lo, hi], raw (pre-stringify) values

        def _flush():
            nonlocal writer, group, gdir, buffered
            if not buf:
                return
            table = pa.Table.from_batches(buf, schema=pa_schema)
            buf.clear()
            buffered = 0
            if writer is None:
                group = uuid.uuid4().hex
                gdir = os.path.join(self.root, "data", group)
                os.makedirs(gdir, exist_ok=True)
                writer = pq.ParquetWriter(
                    os.path.join(gdir, "part-0.parquet"), pa_schema
                )
            writer.write_table(table)
            # fold min/max per flush — stats stay O(columns x flushes),
            # never a second pass over the staged rows
            for c, i in stat_i.items():
                mm = pc.min_max(table.column(i))
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is None or hi is None:
                    continue
                cur = agg.get(c)
                agg[c] = (
                    [lo, hi]
                    if cur is None
                    else [min(cur[0], lo), max(cur[1], hi)]
                )

        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                by_name = {
                    n: batch.column(i) for i, n in enumerate(stream_names)
                }
                for out, plan, provided in self.generated_plans:
                    comp = _eval_generated(plan, by_name)
                    if provided:
                        # the stream supplied the generated column:
                        # validate value-for-value (null-safe), the
                        # same rule append's _enforce applies
                        a = by_name[out]
                        ok = pc.or_(
                            pc.fill_null(pc.equal(a, comp), False),
                            pc.and_(pc.is_null(a), pc.is_null(comp)),
                        )
                        bad = (
                            batch.num_rows
                            - pc.sum(ok.cast(pa.int64())).as_py()
                        )
                        if bad:
                            raise ValueError(
                                f"generated column {out!r}: {bad} row(s) "
                                "in this batch disagree with the "
                                "declared expression — batch aborted, "
                                "nothing lands"
                            )
                    by_name[out] = comp
                # cast to the staged schema under physical names: for
                # timestamps this relabels session-zone epoch micros
                # as UTC (metadata-only, instant-exact, any nesting);
                # everything else is a no-op or a checked widen
                cols = [
                    by_name[n].cast(ats[i]) for i, n in enumerate(names)
                ]
                buf.append(
                    pa.RecordBatch.from_arrays(cols, schema=pa_schema)
                )
                buffered += batch.num_rows
                total += batch.num_rows
                if buffered >= self.FLUSH_ROWS:
                    _flush()
            _flush()
        except Exception:
            # expected failure mode (e.g. generated-column validation):
            # a prior flush may already have staged data/<uuid>, and a
            # commit message never reaches the driver, so abort()'s
            # _cleanup can't see it — remove the orphan here or every
            # retried batch of a misbehaving stream leaks a staged
            # group directory until vacuum. close() is guarded: on a
            # disk-full write failure the footer flush raises the SAME
            # error — letting it propagate would skip the rmtree (the
            # exact leak this handler exists to stop) and mask the
            # root-cause traceback with the close() one
            if writer is not None:
                try:
                    writer.close()
                except Exception:
                    pass
                writer = None
            if gdir is not None:
                shutil.rmtree(gdir, ignore_errors=True)
            raise
        finally:
            if writer is not None:
                writer.close()
        if total == 0:
            return SinkCommitMessage(None, 0, {})
        stats: dict = {"__rows__": total}
        for c, (lo, hi) in agg.items():
            if hasattr(lo, "isoformat"):  # temporal: manifest JSON
                lo, hi = str(lo), str(hi)
            stats[c] = [lo, hi]
        return SinkCommitMessage(f"data/{group}", total, stats)

    # --- driver side ---------------------------------------------------

    def _staged(self, messages: List[Optional[SinkCommitMessage]]):
        return [m for m in messages if m is not None and m.group]

    def commit(self, messages, batchId: int | None = None) -> None:
        staged = self._staged(messages)
        t = VersionedTable(self.root)
        if not staged and not self.overwrite:
            return  # empty append batch: nothing lands, replay no-ops
        # empty OVERWRITE batch still publishes: mode('overwrite') with
        # an empty frame must truncate (commit_staged handles groups=[]),
        # matching VersionedTable.overwrite / Delta semantics — an early
        # return would silently keep the old contents
        try:
            t.commit_staged(
                [m.group for m in staged],
                {m.group: m.stats for m in staged},
                self.schema_json,
                batch_id=self._batch_key(batchId),
                write_mapping=self.mapping,
                write_retired=self.retired,
                overwrite=self.overwrite,
                write_generated=self.generated or None,
            )
        except Exception:
            self._cleanup(staged)
            raise

    def abort(self, messages, batchId: int | None = None) -> None:
        self._cleanup(self._staged(messages))

    def _cleanup(self, staged) -> None:
        for m in staged:
            shutil.rmtree(
                os.path.join(self.root, m.group), ignore_errors=True
            )


class VersionedSinkDataSource(DataSource):
    """The ``versioned_table`` interop format — every quadrant of the
    read/write x batch/stream matrix that isn't the change FEED
    (which is ``versioned_feed`` in stream_source.py):

    - ``df.writeStream.format("versioned_table")`` — streaming sink
      (exactly-once micro-batch commits);
    - ``df.write.format("versioned_table")`` — batch append/overwrite;
    - ``spark.read.format("versioned_table")`` — batch SNAPSHOT read
      (current or AS-OF), with the same deletion-vector merge-on-read,
      column mapping, schema-evolution padding, and manifest-stats /
      bloom pruning the Python ``VersionedTable.read`` API serves —
      so a vanilla Spark session needs no engine imports to read the
      table. Read options: ``versionAsOf`` (int), ``timestampAsOf``
      (epoch seconds — Delta's rule: latest commit at or before the
      instant), ``pushdown`` ("true": Catalyst pushFilters prune,
      needs spark.sql.python.filterPushdown.enabled), ``prune``
      (caller-declared ``[[col, lo, hi], ...]`` for vanilla sessions;
      both skip through ``VersionedTable.snapshot_files``' rule),
      ``columns`` (csv — column projection AT THE SOURCE: Spark does
      not push column pruning into Python scans, so this narrows the
      negotiated schema itself and the per-file arrow read opens only
      those physical columns; composes with the table stream too).
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    # --- batch snapshot READ ------------------------------------------

    def _table(self):
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "versioned_table requires .option('path', <table root>)"
            )
        # SQL DDL (CREATE TABLE ... USING versioned_table) hands the
        # path back catalog-qualified (file:/x) — unwrap to the plain
        # path every other entry point uses
        return VersionedTable(resolve_table_root(root))

    def _pinned_version(self, t) -> int:
        """Resolve the snapshot version ONCE per DataSource instance,
        so schema() and reader() describe the same snapshot when Spark
        serves both from one instance (the pin rides the pickled
        instance state). If the engine ever re-instantiates between
        the two calls, each resolves latest independently — a commit
        landing in that window then pairs schema(v) with rowset(v+1),
        which schema-evolution union semantics keep benign (the reader
        pads/casts every file to the NEGOTIATED schema; explicit
        versionAsOf/timestampAsOf pins are deterministic either way)."""
        pin = getattr(self, "_pin", None)
        if pin is not None:
            return pin
        vo = self.options.get("versionasof")
        tso = self.options.get("timestampasof")
        if vo is not None and tso is not None:
            raise ValueError("set versionAsOf OR timestampAsOf, not both")
        if vo is not None:
            v = int(vo)
            try:
                t._load_record(v)  # exists (not vacuumed / future)?
            except FileNotFoundError:
                raise ValueError(
                    f"table {t.root} has no version {v} (vacuumed or "
                    "never committed)"
                ) from None
        elif tso is not None:
            v = t.version_at_timestamp(float(tso))
        else:
            v = t.latest_version()
            if v is None:
                raise ValueError(
                    f"table {t.root} has no committed version to read"
                )
        self._pin = v
        return v

    def schema(self):
        from pyspark.sql.types import StructType

        t = self._table()
        v = self._pinned_version(t)
        full = StructType.fromJson(json.loads(t._load_record(v)["schema"]))
        csv = self.options.get("columns")
        if not csv:
            return full
        # .option("columns", "a,b") — column projection AT THE SOURCE:
        # Spark does not push column pruning into Python data source
        # scans (the plan shows BatchScan[all cols] + Project), so
        # without this a 2-column query decodes every page of a wide
        # table. The negotiated schema becomes the subset, and the
        # per-file arrow read opens only those physical columns
        # (stream_source._read_partition). Equivalent to passing
        # .schema(subset), but without the caller restating types.
        want = [c.strip() for c in csv.split(",") if c.strip()]
        known = {f.name: f for f in full.fields}
        missing = [c for c in want if c not in known]
        if missing:
            raise ValueError(
                f"columns {missing} not in table schema "
                f"{sorted(known)} (table {t.root} @ v{v})"
            )
        return StructType([known[c] for c in want])

    def streamReader(self, schema):
        """``spark.readStream.format("versioned_table")`` — the
        insert-only TABLE stream (bare data rows in the table schema,
        Delta's readStream-on-a-table default): appends stream
        through, optionally opening with the whole current snapshot
        (``initialSnapshot``); change commits fail loudly unless
        ``skipChangeCommits`` — consumers that need removals stream
        the typed feed (``versioned_feed``). Same options and rate
        limits as the feed reader; only the row framing differs. The
        negotiated schema is this DataSource's schema() = the
        snapshot schema, which is exactly the bare row shape."""
        return build_stream_reader(
            self.options,
            self._table().root,  # validates the path option
            schema,
            reader_cls=VersionedTableStreamReader,
        )

    def reader(self, schema):
        t = self._table()
        return build_batch_reader(
            self.options,
            VersionedSnapshotBatchReader,
            PruningSnapshotBatchReader,
            t.root,
            schema,
            self._pinned_version(t),
        )

    def _build_writer(
        self, schema, overwrite: bool, app_id: str | None = None
    ) -> VersionedSinkWriter:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "versioned_table requires .option('path', <table root>)"
            )
        root = resolve_table_root(root)  # SQL DDL qualifies to file:/x
        t = VersionedTable(root)
        if t.check_constraints():
            raise ValueError(
                f"table {root} has CHECK constraints; the versioned_table "
                "sink cannot enforce SQL predicates (no SparkSession at "
                "commit time) — write via foreachBatch + "
                "VersionedTable.append, which enforces them"
            )
        mapping, retired = ({}, [])
        if t.latest_version() is not None:
            mapping, retired = t._mapping_identity(t.latest_version())
        fields = json.loads(schema.json())["fields"]
        for f in fields:
            _check_type(f["type"])  # unsupported types fail at CREATION
        # GENERATED columns: compile each declared expression into the
        # narrow arrow-compute subset (shard-from-id, day-from-ts) and
        # materialize executor-side at staging; anything beyond the
        # subset keeps the fail-closed foreachBatch+append contract.
        # Definitions are PINNED here and attested at commit (the
        # mapping-identity discipline): a definition added or changed
        # mid-stream fails the commit closed.
        gens = t.generated_columns()
        gen_plans: list = []
        aug_fields = list(fields)
        if gens:
            ftypes = {f["name"]: f["type"] for f in fields}
            for col, expr in gens.items():
                plan = _compile_generated(expr, ftypes)
                if plan is None:
                    raise ValueError(
                        f"table {root}: generated column {col!r} = "
                        f"{expr!r} is outside the sink's supported "
                        "subset (integral `col % N`, `to_date(col)` / "
                        "`CAST(col AS DATE)` of a timestamp) — write "
                        "via foreachBatch + VersionedTable.append, "
                        "which evaluates any expression"
                    )
                out_t = plan[3]
                provided = col in ftypes
                if provided and ftypes[col] != out_t:
                    raise ValueError(
                        f"table {root}: the stream provides generated "
                        f"column {col!r} as {ftypes[col]!r} but its "
                        f"expression yields {out_t!r} — fix the stream "
                        "schema or omit the column"
                    )
                if not provided:
                    aug_fields.append(
                        {
                            "name": col,
                            "type": out_t,
                            "nullable": True,
                            "metadata": {},
                        }
                    )
                gen_plans.append((col, plan, provided))
        aug_schema_json = json.dumps(
            {"type": "struct", "fields": aug_fields}
        )
        fields = aug_fields  # stats/statsCols see the staged shape

        def _orderable(tp) -> bool:
            # the skipping index holds scalar [min, max] pairs the
            # prune filters can compare: nested types have no order,
            # binary/boolean carry no useful one, and decimals would
            # stringify into lexicographic traps — all excluded
            return (
                isinstance(tp, str)
                and tp in _SCALARS
                and tp not in ("binary", "boolean")
            )

        csv = self.options.get("statscols")
        if csv:
            stats_cols = [c.strip() for c in csv.split(",") if c.strip()]
            known = {f["name"]: f["type"] for f in fields}
            bad = [c for c in stats_cols if c not in known]
            if bad:
                raise ValueError(
                    f"statsCols {bad} not in the stream schema {sorted(known)}"
                )
            unord = [c for c in stats_cols if not _orderable(known[c])]
            if unord:
                # min/max over nested/binary/decimal would only
                # misbehave at the first prune — refuse at CREATION
                # like every other writer contract
                raise ValueError(
                    f"statsCols {unord} are not orderable primitive "
                    "columns (nested/binary/boolean/decimal carry no "
                    "min/max skipping index)"
                )
        else:
            stats_cols = [
                f["name"] for f in fields if _orderable(f["type"])
            ]
        return VersionedSinkWriter(
            root,
            aug_schema_json,
            mapping,
            retired,
            stats_cols,
            overwrite,
            app_id=app_id,
            stream_schema_json=schema.json(),
            generated_plans=gen_plans,
            generated=gens,
        )

    def streamWriter(self, schema, overwrite: bool) -> VersionedSinkWriter:
        # Exactly-once needs a PER-QUERY idempotency scope (Delta's
        # txnAppId): micro-batch ids restart at 0 for every fresh
        # checkpoint, so scoping by the bare batchId would make a
        # second query into the same table — or a restart with a new
        # checkpoint — look like a replay and be silently DROPPED.
        # The scope is the explicit txnAppId option when given, else
        # the query's checkpoint location (stable across restarts of
        # the same query, distinct across queries). Fail at creation
        # when neither exists — never ambiguous idempotency.
        w = self._build_writer(schema, overwrite)  # table checks first
        app = self.options.get("txnappid") or self.options.get(
            "checkpointlocation"
        )
        if not app:
            raise ValueError(
                "versioned_table sink: exactly-once requires a stable "
                "per-query identity — set .option('checkpointLocation', "
                "...) (any durable streaming query has one) or "
                ".option('txnAppId', <stable name>)"
            )
        w.app_id = app.rstrip("/")
        return w

    def writer(self, schema, overwrite: bool) -> VersionedSinkWriter:
        # batch twin: un-stamped single commit, no replay surface
        return self._build_writer(schema, overwrite)


def register_table_sink(spark) -> None:
    """Idempotently register the sink format with a session."""
    spark.dataSource.register(VersionedSinkDataSource)
