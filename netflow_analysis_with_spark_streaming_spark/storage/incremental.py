"""Incremental materialized-view maintenance: a sum/count aggregate
(``keys + n_rows long + sum_<measure> double``) advanced by the rows
that CHANGED in a fact table, never by re-scanning it. min/max are
NOT maintainable from deltas alone and are not offered.

The view is keys-sized (one row per grouping key; keys are scalars or
dates, not timestamps), so the merge runs on the DRIVER: a window's
per-key delta (one Spark hash-agg, collected) folds into a driver copy
of the view — counts add, sums add as ``float + float`` (bit-for-bit
Spark's ``coalesce(.., 0.0) + coalesce(.., 0.0)``), keys whose count
reaches 0 drop out — and the whole view lands as ONE overwrite commit
through the zero-job ``VersionedTable.append_rows``, fenced on the
version the merge read so a lost race fails closed. A view above
``DRIVER_ROW_BOUND`` rows raises: it is not keys-sized.

The delta comes from the micro-batch itself on
``StreamingViewMaintainer``'s fast path (the feed window is exactly the
append the same call just committed; ``jobs.dual_sink`` has the batch
cached), and from the typed change feed (``feed_delta``) for every
other window: the replay gap after a crash between the fact and view
commits, history that predates the view, and captured deletes, merges
or compactions in the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .versioned import VersionedTable

# Largest result the engine holds on the driver: a maintained view
# here, a complete-mode memory sink in streaming.jobs.
DRIVER_ROW_BOUND = 100_000


def feed_delta(feed: DataFrame, keys: list[str], measures: list[str]) -> DataFrame:
    """Collapse a typed change-feed window into per-key SIGNED deltas:
    an inserted row contributes +1 row / +measure, a deleted row -1 /
    -measure. One hash-agg on the grouping keys; output cardinality is
    the touched-key count, not the window row count."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    aggs = [F.sum(sign).cast("long").alias("d_rows")] + [
        F.sum(sign * F.col(m)).alias(f"d_{m}") for m in measures
    ]
    return feed.groupBy(*keys).agg(*aggs)


class _DriverView:
    """The driver copy of a maintained view and its one landing path:
    ``rows`` maps a key tuple (NULL is a key like any other) to
    ``(n_rows, *sums)`` as of view ``version`` (None: not loaded)."""

    def __init__(self, agg: VersionedTable, keys: list[str], measures: list[str]):
        self.agg = agg
        self.keys = keys
        self.measures = measures
        self.version: int | None = None
        self.rows: dict[tuple, tuple] = {}

    def _check_bound(self, n: int) -> None:
        if n > DRIVER_ROW_BOUND:
            raise RuntimeError(
                f"maintained view {self.agg.root} holds {n} rows "
                f"(> {DRIVER_ROW_BOUND}): its keys are not bounded — "
                "aggregate on coarser keys"
            )

    def advance(
        self, spark: SparkSession, delta: DataFrame, batch_id: int | None
    ) -> int:
        """Fold ``delta`` (keys, d_rows, d_<measure>...) into the view
        and land it; returns the view's new version. A replayed
        ``batch_id`` is a no-op."""
        if batch_id is not None and batch_id in self.agg.committed_batch_ids():
            self.version = None
            return self.agg.latest_version()
        head = -1 if (v := self.agg.latest_version()) is None else v
        nk = len(self.keys)
        if self.version != head:  # (re)load: one read of the view
            self.version, self.rows = None, {}
            if head >= 0:
                self._check_bound(self.agg.count_rows(head))
                sums = [f"sum_{m}" for m in self.measures]
                snap = self.agg.read(spark, version=head)
                for r in snap.select(*self.keys, "n_rows", *sums).collect():
                    self.rows[tuple(r[:nk])] = tuple(r[nk:])
            self.version = head
        d_cols = ["d_rows", *[f"d_{m}" for m in self.measures]]
        rows = dict(self.rows)
        for r in delta.select(*self.keys, *d_cols).collect():
            key = tuple(r[:nk])
            cur = rows.get(key) or (0,) + (None,) * len(self.measures)
            n = cur[0] + r[nk]
            if n <= 0:
                rows.pop(key, None)
                continue
            rows[key] = (n,) + tuple(
                (0.0 if c is None else float(c)) + (0.0 if d is None else float(d))
                for c, d in zip(cur[1:], r[nk + 1:])
            )
        self._check_bound(len(rows))
        schema = StructType(
            [StructField(k, delta.schema[k].dataType) for k in self.keys]
            + [StructField("n_rows", LongType())]
            + [StructField(f"sum_{m}", DoubleType()) for m in self.measures]
        )
        version = self.agg.append_rows(
            [k + v for k, v in rows.items()],
            schema,
            batch_id=batch_id,
            overwrite=True,
            base_version=head,
        )
        self.version, self.rows = version, rows
        return version


def apply_delta(
    spark: SparkSession,
    agg_table: VersionedTable,
    delta: DataFrame,
    keys: list[str],
    measures: list[str],
    batch_id: int | None = None,
) -> int:
    """Advance the aggregate by ``delta`` (from ``feed_delta``): keys
    are adjusted, added, or removed when their row count reaches zero.
    A replayed ``batch_id`` is a no-op (exactly-once maintenance on top
    of an at-least-once feed consumer)."""
    return _DriverView(agg_table, keys, measures).advance(spark, delta, batch_id)


class StreamingViewMaintainer:
    """foreachBatch target: land each micro-batch into the FACT table
    (with skipping stats on the columns its snapshot keeps them for,
    ``upsert``'s rule) and advance the AGGREGATE by it — exactly-once
    on both tables. The consumed-feed watermark is recovered from the
    aggregate's batch ids (each view commit carries the fact version
    it consumed up to), so a crash between the two commits replays
    the maintenance from the change feed, and a replay is a no-op."""

    def __init__(
        self,
        fact: VersionedTable,
        agg_table: VersionedTable,
        keys: list[str],
        measures: list[str],
    ) -> None:
        self.fact = fact
        self.agg = agg_table
        self.keys = keys
        self.measures = measures
        self._view = _DriverView(agg_table, keys, measures)
        consumed = self.agg.committed_batch_ids()
        self._watermark = max(consumed) if consumed else -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        nxt, _, stats = self.fact._snapshot_state()
        kept = VersionedTable._pinned_stats_cols(stats) or []
        self.fact.append(
            batch_df,
            batch_id=batch_id,
            stats_cols=[c for c in kept if c in batch_df.columns] or None,
        )
        to_v = self.fact.latest_version()
        if to_v is None or to_v <= self._watermark:
            return  # replayed batch landed nothing new
        if self._own_append(batch_id, nxt, to_v):
            delta = batch_df.groupBy(*self.keys).agg(
                F.count(F.lit(1)).alias("d_rows"),
                *[F.sum(m).alias(f"d_{m}") for m in self.measures],
            )
        else:
            feed = self.fact.read_change_feed(spark, self._watermark, to_v)
            delta = feed_delta(feed, self.keys, self.measures)
        self._view.advance(spark, delta, to_v)
        self._watermark = to_v

    def _own_append(self, batch_id: int, nxt: int, to_v: int) -> bool:
        """``batch_df`` IS the feed window (watermark, to_v]: it is one
        version, this call's append landed it at the slot it pinned (not
        a replay no-op), and the batch frame carries every key and
        measure (none is a generated column)."""
        return (
            to_v == self._watermark + 1 == nxt
            and self.fact._load_record(to_v).get("batch_id") == batch_id
            and not set(self.fact.generated_columns()) & {*self.keys, *self.measures}
        )


def maintain_from_feed(
    spark: SparkSession,
    fact: VersionedTable,
    agg_table: VersionedTable,
    keys: list[str],
    measures: list[str],
    since_version: int,
    to_version: int | None = None,
) -> int:
    """One maintenance step: read the fact table's typed change feed
    over (since_version, to_version], collapse it to deltas, apply.
    Returns the aggregate table's new version. Caller tracks the
    consumed watermark (to_version) for the next step."""
    feed = fact.read_change_feed(spark, since_version, to_version)
    delta = feed_delta(feed, keys, measures)
    return apply_delta(
        spark, agg_table, delta, keys, measures,
        batch_id=to_version if to_version is not None else fact.latest_version(),
    )


# --- distinct-count views (mergeable-sketch state) ----------------------
#
# COUNT(DISTINCT x) cannot be maintained from signed deltas (distinct
# is not invertible), but it IS maintainable from mergeable sketch
# state: keep one HLL sketch per group in the aggregate table and
# UNION each feed window's sketch into it — the DataSketches pattern
# every warehouse uses for incremental uniques. Union is associative
# and commutative, so maintenance order and batching never change the
# final estimate. The restriction is fundamental: sketches only absorb
# INSERTS; a delete in the feed raises and the caller must recompute
# (same contract as Delta + DataSketches materializations).


def feed_delta_sketch(feed: DataFrame, keys: list[str], distinct_col: str) -> DataFrame:
    """Collapse an insert-only change-feed window into one HLL sketch
    (plus row count) per key. Raises on delete rows — silently
    treating them as inserts would overcount forever.

    The delete guard rides the SAME aggregate as the sketch (a
    non-insert counter per group) and the grouped result is
    localCheckpoint'ed, so the feed window is evaluated exactly once —
    the earlier limit(1).count() pre-check scanned it a second time."""
    g = feed.groupBy(*keys).agg(
        F.count("*").cast("long").alias("d_rows"),
        F.hll_sketch_agg(distinct_col).alias("d_sketch"),
        F.sum(
            F.when(F.col("_change_type") != "insert", F.lit(1)).otherwise(F.lit(0))
        ).alias("_non_insert"),
    )
    # eager: materializes the (touched-key-sized) grouped result now;
    # the guard below and the caller's apply both read the checkpoint
    g = g.localCheckpoint(eager=True)
    if g.filter(F.col("_non_insert") > 0).limit(1).count() > 0:
        raise ValueError(
            "distinct-count views are append-only: the feed window "
            "contains deletes; recompute the view instead"
        )
    return g.drop("_non_insert")


def apply_delta_sketch(
    spark: SparkSession,
    agg_table: VersionedTable,
    delta: DataFrame,
    keys: list[str],
    batch_id: int | None = None,
) -> int:
    """Advance the per-key sketch state by ``delta`` (from
    feed_delta_sketch): existing keys' sketches union the window's,
    new keys appear. Work bound is touched-key cardinality — the fact
    table is never rescanned and each group's state is a ~KB sketch
    regardless of how many rows it has absorbed."""

    def _cond(left: str, right: str):
        cond = None
        for k in keys:
            c = F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
            cond = c if cond is None else (cond & c)
        return cond

    if not agg_table.versions():
        return agg_table.append(
            delta.select(
                *keys,
                F.col("d_rows").alias("n_rows"),
                F.col("d_sketch").alias("sketch"),
            ),
            batch_id=batch_id,
        )
    current = agg_table.read(spark).alias("cur")
    d = delta.alias("d")
    touched = current.join(
        F.broadcast(d.select(*keys).alias("d")), _cond("cur", "d"), "semi"
    ).alias("cur")
    merged = touched.join(d, _cond("cur", "d"), "full_outer").select(
        *[F.coalesce(F.col(f"cur.{k}"), F.col(f"d.{k}")).alias(k) for k in keys],
        (
            F.coalesce(F.col("n_rows"), F.lit(0))
            + F.coalesce(F.col("d_rows"), F.lit(0))
        ).alias("n_rows"),
        F.when(F.col("sketch").isNull(), F.col("d_sketch"))
        .when(F.col("d_sketch").isNull(), F.col("sketch"))
        .otherwise(F.hll_union(F.col("sketch"), F.col("d_sketch")))
        .alias("sketch"),
    )
    return agg_table.upsert(spark, merged, keys, batch_id=batch_id)


def read_distinct_estimates(
    spark: SparkSession, agg_table: VersionedTable, keys: list[str]
) -> DataFrame:
    """The view's query surface: per-key approximate distinct count
    from the stored sketch state."""
    return agg_table.read(spark).select(
        *keys,
        "n_rows",
        F.hll_sketch_estimate("sketch").cast("long").alias("approx_distinct"),
    )


def maintain_distinct_from_feed(
    spark: SparkSession,
    fact: VersionedTable,
    agg_table: VersionedTable,
    keys: list[str],
    distinct_col: str,
    since_version: int,
    to_version: int | None = None,
) -> int:
    """One distinct-count maintenance step over the typed change feed
    — the sketch-state sibling of maintain_from_feed."""
    feed = fact.read_change_feed(spark, since_version, to_version)
    delta = feed_delta_sketch(feed, keys, distinct_col)
    return apply_delta_sketch(
        spark, agg_table, delta, keys,
        batch_id=to_version if to_version is not None else fact.latest_version(),
    )


class StreamingDistinctViewMaintainer:
    """foreachBatch target: the sketch-state sibling of
    StreamingViewMaintainer — land each micro-batch into the fact
    table and advance the per-key HLL distinct-count view from the
    change-feed window the landing created. Same durability story:
    the consumed-feed watermark is recovered from the view table's
    committed batch ids, replayed maintenance is a no-op. Insert-only
    by the sketch contract (a delete in the feed raises)."""

    def __init__(
        self,
        fact: VersionedTable,
        agg_table: VersionedTable,
        keys: list[str],
        distinct_col: str,
    ) -> None:
        self.fact = fact
        self.agg = agg_table
        self.keys = keys
        self.distinct_col = distinct_col
        consumed = self.agg.committed_batch_ids()
        self._watermark = max(consumed) if consumed else -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.fact.append(batch_df, batch_id=batch_id)
        to_v = self.fact.latest_version()
        if to_v is None or to_v <= self._watermark:
            return  # replayed batch landed nothing new
        maintain_distinct_from_feed(
            batch_df.sparkSession,
            self.fact,
            self.agg,
            self.keys,
            self.distinct_col,
            since_version=self._watermark,
            to_version=to_v,
        )
        self._watermark = to_v


# --- CDC replication (mirror a table from its typed change feed) --------


def mirror_from_feed(
    spark: SparkSession,
    src: VersionedTable,
    dst: VersionedTable,
    keys: list[str],
    since_version: int,
    to_version: int | None = None,
    emit_changes: bool = False,
) -> int:
    """Replicate ``src`` into ``dst`` by consuming src's typed change
    feed over (since_version, to_version] — the APPLY CHANGES INTO
    pattern: replication cost follows the CHANGE volume on BOTH
    sides. The source is never rescanned after the initial sync (feed
    windows are delta-sized), and mirror writes are change-bounded
    too: inserts append (carrying key stats + blooms so later delete
    application can prune), deletes apply merge-on-read — matched
    mirror rows are DV-invalidated by position, no mirror group is
    rewritten, and the matched-position scan reads only the groups
    whose stats/blooms can hold the deleted keys. DVs accumulate
    until a compaction sheds them; pair a long-lived mirror with
    periodic ``maybe_compact``. Returns the consumed watermark
    (to_version) for the caller to persist.

    Per source commit, in version order: an insert slice appends to
    the mirror; a delete slice removes its keys via
    ``merge(when_matched='delete', when_not_matched='ignore',
    strategy='mor')``; a TYPED slice (a source merge/upsert captured
    with ``emit_changes=True`` — an update arrives as delete preimage
    + insert postimage of the same key) applies as a merge-on-read
    UPSERT of the postimages plus a delete of the keys with no
    postimage — CDC apply IS feed + merge, no bespoke machinery.
    Row-preserving rewrites in the source (compact / OPTIMIZE)
    contribute no slice and advance nothing; a feed-breaking source
    commit (overwrite / restore / rename / UNCAPTURED delete, merge,
    or replace_where) raises exactly as read_change_feed does — the
    mirror must then be re-synced from a snapshot, the same contract
    Delta replication has.

    Exactly-once: the additive half of source version v claims mirror
    batch id ``2*v`` and the delete half ``2*v + 1`` (a typed slice
    needs two commits; the doubling keeps every slot disjoint — the
    streaming_cdc_sink discipline), so a replayed window re-resolves
    to no-ops on both halves. The mirror table must be dedicated to
    this consumer (its batch-id space belongs to the source's
    version numbers). ``emit_changes=True`` captures the mirror's own
    merges, making the MIRROR a consumable change feed in turn —
    replication chains (source -> mirror -> mirror2) compose.

    Key semantics: deletes apply BY KEY (``keys``), the Delta APPLY
    CHANGES requirement — the mirror must be key-unique for deletes
    to mean what the source meant. Appends preserve source rows
    verbatim, so a key-unique source yields a key-unique mirror."""
    if to_version is None:
        to_version = src.latest_version()
    if to_version is None or since_version > to_version:
        raise ValueError("empty or invalid version range")
    # persist: the per-version loop slices the SAME feed window many
    # times (distinct, emptiness probes, the writes) — without the
    # cache each slice re-reads every underlying parquet group
    feed = src.read_change_feed(spark, since_version, to_version).persist()
    try:
        versions = sorted(
            r["_commit_version"]
            for r in feed.select("_commit_version").distinct().collect()
        )
        for v in versions:
            window = feed.filter(F.col("_commit_version") == v)
            inserts = window.filter(F.col("_change_type") == "insert").drop(
                "_change_type", "_commit_version"
            )
            deletes = window.filter(F.col("_change_type") == "delete").drop(
                "_change_type", "_commit_version"
            )
            has_ins, has_del = not inserts.isEmpty(), not deletes.isEmpty()
            skeys = [
                k
                for k in keys
                if VersionedTable._auto_prunable(inserts.schema[k].dataType)
            ]
            bkeys = [
                k
                for k in keys
                if VersionedTable._bloomable(inserts.schema[k].dataType)
            ]
            if has_ins and has_del:
                # typed merge/upsert slice: postimages upsert by key;
                # only keys with NO postimage are true deletes (an
                # update's delete half must not win over its insert)
                dst.merge(
                    spark,
                    inserts,
                    keys=keys,
                    batch_id=2 * v,
                    stats_cols=skeys or None,
                    strategy="mor",
                    emit_changes=emit_changes,
                )
                cond = VersionedTable._nullsafe_key_cond(keys, "d", "i")
                true_del = (
                    deletes.alias("d")
                    .join(inserts.select(*keys).alias("i"), cond, "left_anti")
                )
                if not true_del.isEmpty():
                    dst.merge(
                        spark,
                        true_del,
                        keys=keys,
                        when_matched="delete",
                        when_not_matched="ignore",
                        batch_id=2 * v + 1,
                        strategy="mor",
                        emit_changes=emit_changes,
                    )
            elif has_ins:
                dst.append(
                    inserts,
                    batch_id=2 * v,
                    stats_cols=skeys or None,
                    bloom_cols=bkeys or None,
                )
            elif has_del:
                if dst.latest_version() is None:
                    raise ValueError(
                        "mirror received a delete before any insert; start "
                        "replication from the source version before its "
                        "first append"
                    )
                dst.merge(
                    spark,
                    deletes,
                    keys=keys,
                    when_matched="delete",
                    when_not_matched="ignore",
                    batch_id=2 * v + 1,
                    strategy="mor",
                    emit_changes=emit_changes,
                )
    finally:
        feed.unpersist()
    return to_version
