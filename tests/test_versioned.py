"""Versioned table format: snapshot isolation, time travel,
copy-on-write upsert, idempotent streaming commits, compaction and
vacuum — the Delta-style semantics the reference's Mongo store lacked
(per-record upserts, no history, no replay safety)."""

import json

import pyspark.sql.functions as F
import pytest as _pytest

from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_append_and_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    v0 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    v1 = t.append(_df(spark, [(3, "c")]))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 3
    assert t.read(spark, version=0).count() == 2  # time travel
    assert [h["action"] for h in t.history()] == ["append", "append"]


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert [r["k"] for r in t.read(spark).collect()] == [9]
    assert [r["k"] for r in t.read(spark, version=0).collect()] == [1]


def test_upsert_merges_by_key(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.upsert(spark, _df(spark, [(2, "B!"), (4, "d")]), keys=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B!", 3: "c", 4: "d"}


def test_batch_replay_is_noop(spark, tmp_path):
    """The exactly-once construction: a replayed batch id commits
    nothing — version count and rows unchanged."""
    t = VersionedTable(str(tmp_path / "t"))
    t.upsert(spark, _df(spark, [(1, "a")]), keys=["k"], batch_id=0)
    v = t.upsert(spark, _df(spark, [(1, "DUP")]), keys=["k"], batch_id=0)  # replay
    assert v == 0
    assert {r["v"] for r in t.read(spark).collect()} == {"a"}
    t.append(_df(spark, [(2, "b")]), batch_id=1)
    t.append(_df(spark, [(2, "b")]), batch_id=1)  # replayed append
    assert t.read(spark).count() == 2


def test_compact_and_vacuum(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [(i, str(i))]))
    before = t.read(spark).count()
    t.compact(spark, target_partitions=1)
    assert t.read(spark).count() == before
    assert t.history()[-1]["action"] == "compact"
    removed = t.vacuum(keep_last=1, min_age_s=0)
    assert removed >= 1
    assert t.read(spark).count() == before  # current snapshot intact
    assert len(t.versions()) == 1


def test_vacuum_keeps_clustered_append_groups(spark, tmp_path):
    """Regression: clustered/z-ordered manifests record subpaths
    ('data/{group}/_rb=N'); vacuum must keep the whole group when any
    kept manifest references anything under it — previously it rmtree'd
    live data and the next read() failed."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "old")]))  # group orphaned by the upsert below
    t.upsert(spark, _df(spark, [(0, "new")]), keys=["k"])
    t.append_clustered(
        spark.range(1, 201).selectExpr("id as k", "cast(id as string) as v"),
        "k",
        n_groups=4,
    )
    removed = t.vacuum(keep_last=1, min_age_s=0)
    assert removed == 1  # only the pre-upsert group
    assert t.read(spark).count() == 201  # live clustered data intact
    tz = VersionedTable(str(tmp_path / "tz"))
    tz.append_zordered(
        spark.range(0, 256).selectExpr("id % 16 as x", "id div 16 as y"),
        ("x", "y"),
        n_groups=8,
        bits=4,
    )
    assert tz.vacuum(keep_last=1, min_age_s=0) == 0
    assert tz.read(spark).count() == 256


def test_vacuum_retention_protects_inflight_writer(spark, tmp_path):
    """vacuum's retention window: a data group staged by a concurrent
    writer (written BEFORE its manifest becomes visible) is
    unreferenced at vacuum time, but deleting it would corrupt the
    commit about to land. Default-window vacuum must skip the young
    group; the staged commit then completes and reads cleanly;
    min_age_s=0 (single-writer maintenance) still collects true
    garbage."""
    import os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "a")]))
    t.append(_df(spark, [(1, "b")]))
    t.compact(spark, target_partitions=1)  # the append groups become collectible
    # simulate an in-flight writer: stage a data group with no manifest
    staged, _ = t._write_files(_df(spark, [(2, "c")]))
    removed = t.vacuum(keep_last=1)  # default retention window
    assert removed == 0  # everything is younger than the window
    # the in-flight commit lands against the post-vacuum state and reads
    version, prev_files, prev_stats = t._snapshot_state()
    t._commit(prev_files + staged, "append", t.read(spark).schema.json(), version=version)
    assert t.read(spark).count() == 3
    # offline maintenance (min_age_s=0) collects the superseded groups
    removed = t.vacuum(keep_last=1, min_age_s=0)
    assert removed >= 1
    assert t.read(spark).count() == 3
    # and the vacuumed-history iterators stay usable
    assert t.history()[-1]["action"] == "append"
    assert isinstance(t.committed_batch_ids(), set)
    assert os.path.isdir(t._data)


def test_streaming_upsert_sink_exactly_once(spark, tmp_path):
    """An update-mode streaming aggregate lands in the table through
    the idempotent sink; final table state equals the batch aggregate,
    and replaying a batch by hand changes nothing."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.streaming import sources

    d = tmp_path / "src"
    d.mkdir()
    (d / "f1.json").write_text(
        _json.dumps([{"k": 1, "x": 2.0}, {"k": 2, "x": 3.0}])
    )
    (d / "f2.json").write_text(
        _json.dumps([{"k": 1, "x": 5.0}])
    )
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "k long, x double").schema,
        max_files_per_trigger=1,
    )
    agg = raw.groupBy("k").agg(F.sum("x").alias("total"))
    t = VersionedTable(str(tmp_path / "table"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.foreachBatch(t.streaming_upsert_sink(["k"]))
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {r["k"]: r["total"] for r in t.read(spark).collect()}
    assert got == {1: 7.0, 2: 3.0}, got
    # hand-replay batch 0 with stale data: must be a no-op
    n_versions = len(t.versions())
    t.upsert(spark, spark.createDataFrame([(1, 99.0)], "k long, total double"),
             keys=["k"], batch_id=0)
    assert len(t.versions()) == n_versions
    assert {r["total"] for r in t.read(spark).collect()} == {7.0, 3.0}


def test_stats_pruning_skips_file_groups(spark, tmp_path):
    """Manifest min/max stats must prune non-overlapping file groups
    from the read set (and never drop a matching row — superset
    contract); a range-clustered append yields tight per-group
    ranges that actually prune."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(i, "lo") for i in range(0, 100)], "k long, v string"),
        stats_cols=["k"],
    )
    t.append(
        spark.createDataFrame([(i, "hi") for i in range(1000, 1100)], "k long, v string"),
        stats_cols=["k"],
    )
    all_files = t.snapshot_files()
    pruned = t.snapshot_files(prune=("k", 1050, 1060))
    assert len(all_files) == 2 and len(pruned) == 1, (all_files, pruned)
    rows = t.read(spark, prune=("k", 1050, 1060)).filter("k between 1050 and 1060")
    assert rows.count() == 11
    # clustered append: one logical append, n tight groups
    t2 = VersionedTable(str(tmp_path / "t2"))
    t2.append_clustered(
        spark.range(0, 1000).selectExpr("id as k", "cast(id as string) as v"),
        "k",
        n_groups=4,
    )
    files = t2.snapshot_files()
    narrow = t2.snapshot_files(prune=("k", 10, 20))
    assert len(files) == 4 and len(narrow) == 1, (files, narrow)
    assert t2.read(spark, prune=("k", 10, 20)).filter("k between 10 and 20").count() == 11
    # temporal stats round-trip through JSON stringification
    import datetime as dt

    t3 = VersionedTable(str(tmp_path / "t3"))
    base = dt.datetime(2024, 1, 1)
    t3.append(
        spark.createDataFrame(
            [(base + dt.timedelta(days=i),) for i in range(3)], "ts timestamp"
        ),
        stats_cols=["ts"],
    )
    t3.append(
        spark.createDataFrame(
            [(base + dt.timedelta(days=30 + i),) for i in range(3)], "ts timestamp"
        ),
        stats_cols=["ts"],
    )
    sel = t3.snapshot_files(
        prune=("ts", base + dt.timedelta(days=29), base + dt.timedelta(days=40))
    )
    assert len(sel) == 1, sel


def test_schema_evolution_additive(spark, tmp_path):
    """An append with a new column widens the table; old rows read
    back with NULL for it (additive evolution, Delta default)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    out = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert out == {1: ("a", None), 2: ("b", 9.5)}, out


def test_change_feed_returns_appended_slices(spark, tmp_path):
    """read_change_feed yields exactly the rows added in the version
    range, as inserts; an uncaptured upsert inside the range raises."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))   # v0
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))   # v1
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))   # v2
    got = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in t.read_change_feed(spark, since_version=0).collect()
    )
    assert got == [(2, "insert", 1), (3, "insert", 2)]
    assert [r["k"] for r in t.read_change_feed(spark, 1, 2).collect()] == [3]
    t.upsert(spark, spark.createDataFrame([(1, "A")], "k long, v string"), keys=["k"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="change feed"):
        t.read_change_feed(spark, since_version=2)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering must make narrow predicates on EITHER
    column skip most file groups; a 1-D clustered layout on x prunes
    only x. Uniform 2-D grid so the comparison is fair."""
    df = (
        spark.range(0, 4096)
        .selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y")
    )
    tz = VersionedTable(str(tmp_path / "z"))
    tz.append_zordered(df, ("x", "y"), n_groups=16, bits=6)
    n_all = len(tz.snapshot_files())
    n_x = len(tz.snapshot_files(prune=("x", 0, 7)))
    n_y = len(tz.snapshot_files(prune=("y", 0, 7)))
    assert n_all == 16
    assert n_x <= n_all // 2 and n_y <= n_all // 2, (n_all, n_x, n_y)
    # correctness: pruned read still yields every matching row
    got = (
        tz.read(spark, prune=("x", 0, 7)).filter("x between 0 and 7").count()
    )
    assert got == 8 * 64
    # contrast: 1-D clustering on x cannot prune y
    t1 = VersionedTable(str(tmp_path / "c"))
    t1.append_clustered(df, "x", n_groups=16)
    assert len(t1.snapshot_files(prune=("x", 0, 7))) <= 4
    # y stats span the full range in (nearly) every x-clustered group
    assert len(t1.snapshot_files(prune=("y", 0, 7))) >= 12


def test_zorder_day_user_composition_flagship_filter(spark):
    """The flagship access pattern (ts-day range + entity range) on a
    day+user z-ordered versioned table, at sf0.1: ONE read must
    (a) skip file groups via manifest stats on the day dimension,
    (b) skip file groups via manifest stats on the user dimension,
    (c) prune strictly harder with BOTH predicates than with either
    alone, and (d) still push the residual row filters into the
    parquet scan of the surviving groups — the two pruning layers
    composing in a single plan."""
    import tempfile

    from netflow_analysis_with_spark_streaming_spark import tables

    ev = tables.load(spark, "events", "/root/testdata/sf0.1").select(
        "user_id",
        "value",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
    )
    lo_d, hi_d, lo_u, hi_u = ev.agg(
        F.min("day_num"), F.max("day_num"), F.min("user_id"), F.max("user_id")
    ).collect()[0]
    # middle ~20% of the day range, bottom ~12% of the user range
    d_from = lo_d + (hi_d - lo_d) * 2 // 5
    d_to = lo_d + (hi_d - lo_d) * 3 // 5
    u_to = lo_u + (hi_u - lo_u) // 8
    with tempfile.TemporaryDirectory() as root:
        tz = VersionedTable(root + "/z")
        tz.append_zordered(ev, ("day_num", "user_id"), n_groups=32, bits=6)
        day_pred = ("day_num", d_from, d_to)
        user_pred = ("user_id", lo_u, u_to)
        n_all = len(tz.snapshot_files())
        n_day = len(tz.snapshot_files(prune=[day_pred]))
        n_user = len(tz.snapshot_files(prune=[user_pred]))
        n_both = len(tz.snapshot_files(prune=[day_pred, user_pred]))
        assert n_all == 32
        # day interleaves at even bit positions: a 20% day slice keeps
        # ~2 of 4 top-bit combos -> prunes coarsely but measurably
        assert n_day < n_all * 3 // 4, (n_all, n_day)
        # margin note: repartitionByRange SAMPLES its boundaries with a
        # seed derived from the session-global RDD id, so group edges
        # shift a little with how many jobs ran before this test
        # (measured 7 in isolation, 9 mid-suite) — the bound must hold
        # for any seed, not one lucky layout
        assert n_user <= n_all // 3, (n_all, n_user)
        # the composition is the point: both predicates together cut
        # far below either alone (measured 3/32 vs 19 and 7-9)
        assert n_both <= min(n_day, n_user) // 2 + 1, (n_day, n_user, n_both)
        cond = (
            (F.col("day_num") >= d_from)
            & (F.col("day_num") <= d_to)
            & (F.col("user_id") <= u_to)
        )
        pruned = tz.read(spark, prune=[day_pred, user_pred]).filter(cond)
        # (d) residual filters reach the parquet scan of survivors
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "GreaterThanOrEqual(day_num" in plan, plan[:2000]
        # superset contract: pruned+filtered == unpruned+filtered
        assert pruned.count() == tz.read(spark).filter(cond).count()


def test_streaming_land_then_recluster_restores_pruning(spark, tmp_path):
    """The maintenance loop a streamed table needs at scale: batches
    land in ARRIVAL order, so every file group spans the full key range
    and stats pruning is useless; rewrite_clustered (OPTIMIZE) rewrites
    the snapshot range-clustered and pruning becomes selective again —
    with identical data, and prior versions still time-travel-readable."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.streaming import sources

    d = tmp_path / "src"
    d.mkdir()
    # each arrival-order batch carries keys from the WHOLE range
    for b in range(3):
        (d / f"f{b}.json").write_text(
            _json.dumps([{"k": i, "b": b} for i in range(b, 300, 3)])
        )
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "k long, b long").schema,
        max_files_per_trigger=1,
    )
    t = VersionedTable(str(tmp_path / "t"))
    q = (
        raw.writeStream.foreachBatch(lambda df, bid: t.append(df, bid, stats_cols=["k"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert t.read(spark).count() == 300
    # arrival-order groups: stats overlap everywhere, nothing prunes
    assert len(t.snapshot_files()) == 3
    assert len(t.snapshot_files(prune=("k", 10, 20))) == 3
    v_before = t.latest_version()
    t.rewrite_clustered(spark, "k", n_groups=6)
    assert t.history()[-1]["action"] == "rewrite_clustered"
    # same data, now prunable
    assert t.read(spark).count() == 300
    assert len(t.snapshot_files()) == 6
    assert len(t.snapshot_files(prune=("k", 10, 20))) <= 2
    got = t.read(spark, prune=("k", 10, 20)).filter("k between 10 and 20")
    assert got.count() == 11
    # time travel across the rewrite still works
    assert t.read(spark, version=v_before).count() == 300


def test_incremental_dedup_ingest(spark, tmp_path):
    """The 100 TB ingest pattern: a fingerprint INDEX table absorbs
    each arriving batch after an anti-join against what's already
    registered — new docs only, no full-corpus rescan, replay-safe via
    batch ids. Cross-batch duplicates are rejected, within-batch
    duplicates collapse, and the index stays unique on fingerprint."""
    from pyspark.sql import functions as F

    from netflow_analysis_with_spark_streaming_spark.functions import text as T

    idx = VersionedTable(str(tmp_path / "fp_index"))

    def ingest(batch_df, batch_id):
        fps = (
            batch_df.select(
                T.fingerprint(F.col("text")).alias("fp"), "doc_id"
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        if idx.versions():
            fps = fps.join(idx.read(batch_df.sparkSession).select("fp"), "fp", "left_anti")
        idx.append(fps, batch_id=batch_id)

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    b2 = spark.createDataFrame(
        [(10, "ALPHA   beta gamma"),  # normalized dup of doc 1
         (11, "eta theta iota")],     # genuinely new
        ["doc_id", "text"],
    )
    ingest(b1, 0)
    ingest(b2, 1)
    ingest(b2, 1)  # replayed batch: no-op
    rows = idx.read(spark).collect()
    by_fp = {r["fp"]: r["doc_id"] for r in rows}
    assert len(rows) == len(by_fp) == 3  # unique fps: 2 from b1 + 1 new
    assert set(by_fp.values()) == {1, 2, 11}  # min doc_id kept; 3,10 rejected


def test_upsert_additive_schema_evolution(spark, tmp_path):
    """An upsert carrying a NEW column widens the table: matched keys
    are replaced with the new shape, unmatched old rows read back with
    NULL in the new column (additive evolution on merge, mirroring the
    append path's mergeSchema contract)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.upsert(
        spark,
        spark.createDataFrame([(2, "B!", "extra")], "k long, v string, note string"),
        keys=["k"],
    )
    got = {r["k"]: (r["v"], r["note"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("B!", "extra")}, got


def test_upsert_rejects_dropped_columns(spark, tmp_path):
    """An upsert batch MISSING an existing column is rejected: this
    copy-on-write replaces matched rows whole, so the missing column
    would silently null out — unlike Delta MERGE, which preserves
    unmentioned columns. Only additive evolution is allowed."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ValueError, match="missing existing columns.*'v'"):
        t.upsert(
            spark,
            spark.createDataFrame([(2,)], "k long"),
            keys=["k"],
        )
    # table unchanged after the rejected merge
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {1: "a", 2: "b"}


def test_error_paths_and_vacuum_after_rewrite(spark, tmp_path):
    """Contract edges: reads of nothing/missing versions raise;
    vacuum after a clustered rewrite drops exactly the superseded
    arrival-order groups and the rewritten table reads intact."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no committed version"):
        t.snapshot_files()
    for i in range(3):
        t.append(_df(spark, [(i, str(i))]))
    with pytest.raises(FileNotFoundError):
        t._manifest(99)
    t.rewrite_clustered(spark, "k", n_groups=2)
    removed = t.vacuum(keep_last=1, min_age_s=0)
    assert removed == 3  # the three pre-rewrite groups
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2]
    assert len(t.snapshot_files()) == 2  # clustered groups survive


# --- multi-writer commit fencing (round 6) ---------------------------------


def test_concurrent_commit_one_winner(spark, tmp_path):
    """Two writers racing for the same version: the link-based fence
    gives exactly one winner. Appends auto-retry on a fresh snapshot
    (they commute), so to observe the loser's conflict this test
    FREEZES the loser's view — every retry then re-derives the same
    stale version and the bounded retry exhausts into
    CommitConflictError; the winner's manifest is untouched and a
    refreshed retry lands cleanly as the next version."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # v0

    winner = VersionedTable(str(tmp_path / "t"))
    loser = VersionedTable(str(tmp_path / "t"))
    winner.append(_df(spark, [(2, "w")]))  # claims v1
    # freeze the loser's view at v0 — it now computes the same target
    # version the winner just claimed (the race, made deterministic)
    loser.versions = lambda: [0]
    with pytest.raises(CommitConflictError):
        loser.append(_df(spark, [(3, "l")]))
    # winner's commit intact, loser committed nothing
    del loser.versions  # unfreeze: back to the real directory listing
    assert loser.versions() == [0, 1]
    assert {r["k"] for r in t.read(spark, version=1).collect()} == {1, 2}
    # refreshed retry is an ordinary append on the current snapshot
    v = loser.append(_df(spark, [(3, "l")]))
    assert v == 2
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3}
    assert [h["version"] for h in t.history()] == [0, 1, 2]


def test_concurrent_same_batch_replay_resolves_noop(spark, tmp_path):
    """Exactly-once under the fence: a writer losing the race to a
    concurrent commit OF THE SAME batch id resolves to a no-op (the
    batch's intent is already durable) instead of raising."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), batch_id=0)  # v0

    loser = VersionedTable(str(tmp_path / "t"))
    real_commit = loser._commit

    def racing_commit(*args, **kw):
        # simulate the duplicate replay winning mid-flight: same batch
        # lands via another handle between snapshot read and publish
        if not hasattr(racing_commit, "fired"):
            racing_commit.fired = True
            VersionedTable(str(tmp_path / "t")).append(
                _df(spark, [(2, "b")]), batch_id=7
            )
        return real_commit(*args, **kw)

    loser._commit = racing_commit
    v = loser.append(_df(spark, [(2, "b")]), batch_id=7)  # loses race to batch 7
    assert v == 1  # resolved to the winner's version, nothing doubled
    assert t.committed_batch_ids() == {0, 7}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]


def test_versions_ignores_staged_tmp_manifests(spark, tmp_path):
    """A concurrent writer's staged .tmp-*.json is briefly visible in
    _log; version listing must skip it (int('') crashed here before)
    and also any other non-manifest debris."""
    import os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    for debris in (".tmp-deadbeef.json", "notes.json", ".DS_Store"):
        with open(os.path.join(str(tmp_path / "t"), "_log", debris), "w") as f:
            f.write("{}")
    assert t.versions() == [0]
    assert t.latest_version() == 0
    t.append(_df(spark, [(2, "b")]))  # still commits the right slot
    assert t.versions() == [0, 1]


def test_concurrent_appenders_with_retry_all_land(spark, tmp_path):
    """Many writers + caller-side retry-on-conflict: every append lands
    exactly once, history is a contiguous serializable chain, and the
    final snapshot holds every row. (Thread-level smoke over the same
    fence the deterministic tests pin.)"""
    import threading

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    root = str(tmp_path / "t")
    VersionedTable(root).append(_df(spark, [(0, "seed")]))
    errs = []

    def writer(i):
        t = VersionedTable(root)
        df = _df(spark, [(100 + i, f"w{i}")])
        for _ in range(20):  # bounded retry
            try:
                t.append(df)
                return
            except CommitConflictError:
                continue
        errs.append(i)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = VersionedTable(root)
    assert t.versions() == list(range(7))  # contiguous chain, one per commit
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0] + [
        100 + i for i in range(6)
    ]


def test_delete_where_semantics_and_time_travel(spark, tmp_path):
    """SQL DELETE semantics: predicate-TRUE rows go, predicate-NULL
    rows stay; the pre-delete snapshot remains readable (time
    travel); change feed across the delete refuses to answer."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    rows = [(i, "x" if i % 3 else None) for i in range(30)]
    t.append(spark.createDataFrame(rows, "k long, v string"))
    t.delete_where(spark, "v IS NOT NULL AND k < 10")
    kept = sorted(r["k"] for r in t.read(spark).collect())
    # k in 0..9 with v non-null (k%3!=0) deleted; NULL-v rows kept
    assert kept == [0, 3, 6, 9] + list(range(10, 30))
    assert t.read(spark, version=0).count() == 30  # time travel intact
    assert t.history()[-1]["action"] == "delete"
    with pytest.raises(ValueError, match="change feed"):
        t.read_change_feed(spark, since_version=-1)


def test_delete_where_prunes_untouched_groups(spark, tmp_path):
    """The 100 TB property: groups whose stats cannot overlap the
    prune bound carry into the new version BY REFERENCE (identical
    path strings), only overlapping groups rewrite."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        spark.range(0, 1000).selectExpr("id as k", "cast(id as string) as v"),
        "k",
        n_groups=4,
    )
    before = set(t.snapshot_files())
    affected = set(t.snapshot_files(prune=("k", 0, 99)))
    assert 0 < len(affected) < len(before)
    t.delete_where(spark, "k < 50", prune=("k", 0, 99))
    after = set(t.snapshot_files())
    assert (before - affected) <= after, "untouched groups must carry over"
    assert not (affected & after), "affected groups must be replaced"
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(50, 1000))
    # the rewritten group regains k stats, so pruning still works
    assert len(t.snapshot_files(prune=("k", 0, 49))) < len(after)


def test_delete_where_replay_and_delete_all(spark, tmp_path):
    """A replayed batch id is a no-op; deleting every row commits a
    version whose read is empty but schema-stable."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v1 = t.delete_where(spark, "k = 1", batch_id=7)
    v2 = t.delete_where(spark, "k = 2", batch_id=7)  # replay: no-op
    assert v1 == v2 == t.latest_version()
    assert sorted(r["k"] for r in t.read(spark).collect()) == [2]
    t.delete_where(spark, "true")
    out = t.read(spark)
    assert out.count() == 0 and set(out.columns) == {"k", "v"}


def test_change_feed_typed_insert_delete(spark, tmp_path):
    """read_change_feed tags appended rows 'insert' and captured
    deleted rows 'delete' with their commit versions; a zero-row
    captured delete is a feed no-op; an uncaptured delete is a wall."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                 # v0
    t.append(_df(spark, [(3, "c")]))                           # v1
    t.delete_where(spark, "k = 2", emit_changes=True)          # v2
    t.delete_where(spark, "k = 99", emit_changes=True)         # v3: no match
    feed = t.read_change_feed(spark, since_version=-1).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append((r["k"], r["_commit_version"]))
    assert sorted(by_type["insert"]) == [(1, 0), (2, 0), (3, 1)]
    assert by_type["delete"] == [(2, 2)]
    # incremental window: only the delete commit
    tail = t.read_change_feed(spark, since_version=1).collect()
    assert [(r["k"], r["_change_type"]) for r in tail] == [(2, "delete")]
    # replaying the feed reproduces the snapshot
    inserted = {k for k, _ in by_type["insert"]}
    deleted = {k for k, _ in by_type["delete"]}
    assert inserted - deleted == {r["k"] for r in t.read(spark).collect()}
    # an uncaptured delete blocks the feed across it
    t.delete_where(spark, "k = 1")                             # v4, no capture
    with pytest.raises(ValueError, match="without change capture"):
        t.read_change_feed(spark, since_version=-1)
    # but windows that stop before it still work
    assert t.read_change_feed(spark, since_version=-1, to_version=3).count() == 4


def test_vacuum_reclaims_change_groups(spark, tmp_path):
    """Change-capture groups age out with their manifests: after
    vacuum passes the delete's version, the captured rows are gone
    from disk (the point where a captured erasure is discharged)."""
    import os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where(spark, "k = 1", emit_changes=True)
    changes_root = str(tmp_path / "t" / "changes")
    assert len(os.listdir(changes_root)) == 1
    t.append(_df(spark, [(9, "z")]))  # advance history past the delete
    t.vacuum(keep_last=1, min_age_s=0)
    assert os.listdir(changes_root) == []
    assert sorted(r["k"] for r in t.read(spark).collect()) == [2, 9]


def test_incremental_view_matches_full_recompute(spark, tmp_path):
    """IVM invariants the oracle entry can't isolate: a key whose rows
    are all deleted vanishes from the view (via the maintenance
    delete), and a replayed maintenance step is a no-op."""
    from netflow_analysis_with_spark_streaming_spark.storage import (
        incremental as IVM,
    )

    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    rows = [(i, "solo" if i < 3 else ("a" if i % 2 else "b"), float(i)) for i in range(20)]
    fact.append(
        spark.createDataFrame(rows, "event_id long, event_type string, value double")
    )
    IVM.maintain_from_feed(
        spark, fact, agg, ["event_type"], ["value"], since_version=-1
    )
    # delete EVERY 'solo' row: the key must drop out of the view
    fact.delete_where(spark, "event_type = 'solo'", emit_changes=True)
    v = IVM.maintain_from_feed(
        spark, fact, agg, ["event_type"], ["value"], since_version=0
    )
    view = {r["event_type"]: (r["n_rows"], r["sum_value"]) for r in agg.read(spark).collect()}
    full = {
        r["event_type"]: (r["n"], r["s"])
        for r in fact.read(spark)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(view) == set(full) == {"a", "b"}
    for k in full:
        assert view[k][0] == full[k][0]
        assert abs(view[k][1] - full[k][1]) < 1e-9
    # replayed step (same feed window -> same batch_id): view unchanged
    v2 = IVM.maintain_from_feed(
        spark, fact, agg, ["event_type"], ["value"], since_version=0
    )
    view2 = {r["event_type"]: (r["n_rows"], r["sum_value"]) for r in agg.read(spark).collect()}
    assert view2 == view, (v, v2)


def test_check_constraints_gate_writes(spark, tmp_path):
    """CHECK semantics: FALSE rows block the whole commit (nothing
    lands), NULL passes, every write path is gated, constraints
    survive reopening the table, and dropping one re-opens the
    gate."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        ConstraintViolationError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.set_check_constraint("k_nonneg", "k >= 0")
    t.set_check_constraint("v_short", "length(v) <= 3")
    t.append(_df(spark, [(1, "a"), (2, None)]))  # NULL v passes length check
    with pytest.raises(ConstraintViolationError, match="k_nonneg"):
        t.append(_df(spark, [(3, "c"), (-1, "d")]))
    assert t.read(spark).count() == 2  # violating commit landed nothing
    with pytest.raises(ConstraintViolationError, match="v_short"):
        t.upsert(spark, _df(spark, [(1, "toolong")]), keys=["k"])
    with pytest.raises(ConstraintViolationError):
        t.overwrite(_df(spark, [(-5, "x")]))
    with pytest.raises(ConstraintViolationError):
        t.append_clustered(_df(spark, [(-2, "y")]), "k", n_groups=2)
    # constraints persist across handles
    t2 = VersionedTable(str(tmp_path / "t"))
    assert set(t2.check_constraints()) == {"k_nonneg", "v_short"}
    t2.drop_check_constraint("k_nonneg")
    t2.append(_df(spark, [(-9, "ok")]))  # gate re-opened
    assert sorted(r["k"] for r in t2.read(spark).collect()) == [-9, 1, 2]


def test_replace_where_scoped_backfill(spark, tmp_path):
    """replaceWhere semantics: exactly the predicate's rows are
    replaced in one commit, out-of-scope incoming rows are rejected,
    stats-pruned untouched groups carry by reference, and the
    pre-backfill snapshot stays readable."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        spark.range(0, 400).selectExpr("id as k", "'orig' as v"), "k", n_groups=4
    )
    before = set(t.snapshot_files())
    affected = set(t.snapshot_files(prune=("k", 0, 99)))
    # out-of-scope row -> reject, nothing committed
    bad = spark.createDataFrame([(50, "new"), (250, "oops")], "k long, v string")
    with pytest.raises(ValueError, match="NOT matching"):
        t.replace_where(spark, bad, "k < 100", prune=("k", 0, 99))
    assert set(t.snapshot_files()) == before
    # scoped backfill: k<100 replaced by 10 rows
    repl = spark.createDataFrame([(i, "new") for i in range(10)], "k long, v string")
    t.replace_where(spark, repl, "k < 100", prune=("k", 0, 99))
    after = set(t.snapshot_files())
    assert (before - affected) <= after and not (affected & after)
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 400 - 100 + 10
    assert all(v == "new" for k, v in rows.items() if k < 100)
    assert all(v == "orig" for k, v in rows.items() if k >= 100)
    assert t.read(spark, version=0).count() == 400  # time travel
    assert t.history()[-1]["action"] == "replace_where"
    # replay is a no-op
    n = len(t.versions())
    t.replace_where(spark, repl, "k < 100", batch_id=5)
    t.replace_where(spark, repl, "k < 100", batch_id=5)
    assert len(t.versions()) == n + 1


def test_maybe_compact_and_fsck(spark, tmp_path):
    """Auto-compaction fires only past the file-group threshold;
    fsck is silent on a healthy table, reports a deleted data group,
    and is read-only (no mutation)."""
    import os
    import shutil

    t = VersionedTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, str(i))]))
        assert t.maybe_compact(spark, max_file_groups=16) is None  # under threshold
    v = t.maybe_compact(spark, max_file_groups=3)
    assert v is not None and t.history()[-1]["action"] == "compact"
    assert t.read(spark).count() == 5
    assert t.fsck() == []
    # corrupt: remove a referenced group; fsck flags it, touches nothing
    live = t.snapshot_files()[0]
    shutil.rmtree(os.path.join(str(tmp_path / "t"), live))
    issues = t.fsck()
    assert any("missing data group" in s for s in issues), issues
    assert len(t.versions()) >= 1  # read-only: log untouched


def test_streaming_view_maintainer_exactly_once(spark, tmp_path):
    """A real stream lands facts and maintains the aggregate per
    batch; the final view equals a full recompute; a maintainer
    rebuilt mid-history (crash) resumes from the durable watermark
    and re-delivered batches never double-count."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        StreamingViewMaintainer,
    )
    from netflow_analysis_with_spark_streaming_spark.streaming import sources

    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        _json.dumps([{"g": "a", "x": 1.0}, {"g": "b", "x": 2.0}])
    )
    (src / "b2.json").write_text(
        _json.dumps([{"g": "a", "x": 3.0}, {"g": "c", "x": 4.0}])
    )
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    sink = StreamingViewMaintainer(fact, agg, ["g"], ["x"])
    raw = sources.json_file_source(
        spark,
        str(src),
        spark.createDataFrame([], "g string, x double").schema,
        max_files_per_trigger=1,
    )
    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    view = {r["g"]: (r["n_rows"], r["sum_x"]) for r in agg.read(spark).collect()}
    assert view == {"a": (2, 4.0), "b": (1, 2.0), "c": (1, 4.0)}, view
    # crash recovery: a NEW maintainer recovers the watermark and a
    # re-delivered batch is a full no-op on both tables
    sink2 = StreamingViewMaintainer(fact, agg, ["g"], ["x"])
    nf, na = len(fact.versions()), len(agg.versions())
    sink2(spark.createDataFrame([("a", 99.0)], "g string, x double"), 1)
    assert (len(fact.versions()), len(agg.versions())) == (nf, na)
    assert {r["g"]: (r["n_rows"], r["sum_x"]) for r in agg.read(spark).collect()} == view


def test_review_fixes_storage(spark, tmp_path):
    """Round-6 review regressions: (a) z-ordered appends hit the CHECK
    gate and tolerate empty batches; (b) upsert keeps the data-skipping
    stats alive; (c) the change feed treats compact/rewrite_clustered
    as row-preserving instead of walling."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        ConstraintViolationError,
    )

    # (a) z-order respects constraints + empty batch
    tz = VersionedTable(str(tmp_path / "tz"))
    tz.set_check_constraint("x_nonneg", "x >= 0")
    with pytest.raises(ConstraintViolationError):
        tz.append_zordered(
            spark.createDataFrame([(-1, 2)], "x long, y long"), ("x", "y")
        )
    tz.append_zordered(
        spark.createDataFrame([], "x long, y long"), ("x", "y")
    )  # empty: no-crash commit
    tz.append_zordered(
        spark.createDataFrame([(1, 2), (3, 4)], "x long, y long"), ("x", "y")
    )
    assert tz.read(spark).count() == 2

    # (b) upsert preserves stats columns from the prior snapshot
    tb = VersionedTable(str(tmp_path / "tb"))
    tb.append_clustered(
        spark.range(0, 100).selectExpr("id as k", "cast(id as string) as v"),
        "k",
        n_groups=4,
    )
    tb.upsert(spark, _df(spark, [(5, "X")]), keys=["k"])
    m = tb._manifest(tb.latest_version())
    assert m["stats"], "upsert dropped the data-skipping index"
    assert all("k" in st for st in m["stats"].values())

    # (c) compact inside a feed window is a row-preserving no-op slice
    tf = VersionedTable(str(tmp_path / "tf"))
    tf.append(_df(spark, [(1, "a")]))
    tf.compact(spark, target_partitions=1)
    tf.append(_df(spark, [(2, "b")]))
    feed = tf.read_change_feed(spark, since_version=-1).collect()
    assert sorted((r["k"], r["_change_type"]) for r in feed) == [
        (1, "insert"),
        (2, "insert"),
    ]


def test_ivm_null_keys_and_compaction_compose(spark, tmp_path):
    """NULL grouping keys flow through delta/merge/gone correctly, and
    maybe_compact after every batch does not wall the streaming view
    maintainer's feed consumption."""
    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        StreamingViewMaintainer,
    )

    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    sink = StreamingViewMaintainer(fact, agg, ["g"], ["x"])
    sink(
        spark.createDataFrame(
            [(None, 1.0), ("a", 2.0)], "g string, x double"
        ),
        0,
    )
    fact.maybe_compact(spark, max_file_groups=0)  # force a compact commit
    sink(
        spark.createDataFrame([(None, 3.0)], "g string, x double"), 1
    )
    view = {r["g"]: (r["n_rows"], r["sum_x"]) for r in agg.read(spark).collect()}
    assert view == {None: (2, 4.0), "a": (1, 2.0)}, view
    # NULL-key removal via captured delete: drop both NULL-key facts
    fact.delete_where(spark, "g IS NULL", emit_changes=True)
    sink(
        spark.createDataFrame([("a", 1.0)], "g string, x double"), 2
    )
    view = {r["g"]: (r["n_rows"], r["sum_x"]) for r in agg.read(spark).collect()}
    assert view == {"a": (2, 3.0)}, view  # NULL-key row fully retired


def test_curator_audit_survives_partial_crash(spark, tmp_path):
    """A crash between the curated landing and the audit landing must
    not lose the batch's audit rows: the replay re-runs and the
    rejected table catches up (curated stays single-committed)."""
    from netflow_analysis_with_spark_streaming_spark.streaming.curate_job import (
        StreamingCurator,
    )

    words = lambda i: [f"w{i}_{j}" for j in range(60)]  # noqa: E731
    b1 = spark.createDataFrame(
        [(1, " ".join(words(1))), (3, "too short")], "doc_id long, text string"
    )
    cur = StreamingCurator(str(tmp_path / "cur"), audit_rejections=True)
    # simulate the crash: land curated for batch 0 via a plain run,
    # then surgically roll the REJECTED table back to empty
    cur.process_batch(b1, 0)
    import shutil

    shutil.rmtree(cur.rejected.root)
    cur2 = StreamingCurator(str(tmp_path / "cur"), audit_rejections=True)
    n_curated = len(cur2.curated.versions())
    cur2.process_batch(b1, 0)  # replay
    assert len(cur2.curated.versions()) == n_curated  # no double landing
    audit = {r["doc_id"]: r["reason"] for r in cur2.rejected.read(spark).collect()}
    assert audit == {3: "quality"}, audit


def test_model_based_op_sequences(spark):
    """Model-based fuzz of the table format: seeded random sequences
    of append / upsert / delete_where / DV delete / three-clause
    merge / replace_where / compact / rewrite_clustered / restore /
    analyze applied both to a VersionedTable and to a plain dict model; after
    every op the table's read equals the model, and at the end time
    travel reproduces each recorded checkpoint. The DV and merge ops
    interleaving with every rewrite shape is the point: deletion
    vectors must hold (and shed) through arbitrary histories."""
    import random
    import tempfile

    for seed, delta_log in ((11, False), (23, True), (47, True)):
        rng = random.Random(seed)
        root = tempfile.mkdtemp(prefix="netflow_model_")
        # seeds 23/47 force PROTOCOL-4 DELTA commit records (threshold
        # 0, checkpoint every 4 versions) so the whole op mix — DV
        # deletes, merges, restores, compactions — runs through delta
        # encode + materialize; seed 11 keeps the full-manifest path
        t = (
            VersionedTable(
                root + "/t", delta_log_min_files=0, checkpoint_every=4
            )
            if delta_log
            else VersionedTable(root + "/t")
        )
        model: dict[int, str] = {}
        snapshots: list[tuple[int, dict[int, str]]] = []

        def mkdf(rows):
            return spark.createDataFrame(
                [(k, v) for k, v in rows], "k long, v string"
            )

        def check():
            got = {r["k"]: r["v"] for r in t.read(spark).collect()}
            assert got == model, (seed, got, model)
            # bloom point reads: every probed present key must survive
            # pruning (no false negatives, whatever mix of indexed /
            # rewritten groups the history produced); absent keys must
            # read empty THROUGH the pruned file set
            for pk in rng.sample(sorted(model), min(2, len(model))):
                hit = t.read(spark, point=("k", pk)).filter(F.col("k") == pk)
                assert hit.count() == 1, (seed, pk)
            absent = 777_000 + len(model)
            if absent not in model:
                miss = t.read(spark, point=("k", absent)).filter(
                    F.col("k") == absent
                )
                assert miss.count() == 0, (seed, absent)

        t.append(mkdf([(i, f"s{seed}_{i}") for i in range(10)]))
        model.update({i: f"s{seed}_{i}" for i in range(10)})
        for step in range(12):
            op = rng.choice(
                ["append", "upsert", "delete", "delete_dv", "merge",
                 "replace", "compact", "recluster", "restore", "analyze"]
            )
            if op == "append":
                base = 100 * (step + 1)
                rows = [(base + j, f"a{step}_{j}") for j in range(rng.randint(1, 4))]
                # half the appends carry a bloom index, so point probes
                # below interleave indexed, unindexed and REWRITTEN
                # (bloom-dropped) groups — the conservative contract
                t.append(
                    mkdf(rows),
                    bloom_cols=["k"] if rng.random() < 0.5 else None,
                )
                model.update(dict(rows))
            elif op == "upsert":
                keys = rng.sample(sorted(model) or [0], min(3, max(1, len(model))))
                rows = [(k, f"u{step}") for k in keys] + [(9000 + step, f"n{step}")]
                t.upsert(spark, mkdf(rows), keys=["k"])
                model.update(dict(rows))
            elif op == "delete":
                cut = rng.randint(0, 5)
                t.delete_where(spark, f"k % 7 = {cut}")
                model = {k: v for k, v in model.items() if k % 7 != cut}
            elif op == "delete_dv":
                cut = rng.randint(0, 8)
                t.delete_where_dv(spark, f"k % 9 = {cut}")
                model = {k: v for k, v in model.items() if k % 9 != cut}
            elif op == "merge":
                wm = rng.choice(["update", "delete", "keep"])
                wnm = rng.choice(["insert", "ignore"])
                wnmbs = rng.choice(["keep", "delete"])
                keys = rng.sample(sorted(model) or [0], min(2, max(1, len(model))))
                rows = [(k, f"m{step}") for k in keys] + [(8000 + step, f"mi{step}")]
                t.merge(
                    spark, mkdf(rows), keys=["k"],
                    when_matched=wm, when_not_matched=wnm,
                    when_not_matched_by_source=wnmbs,
                )
                src = dict(rows)
                nxt = {}
                for k, v in model.items():
                    if k in src:
                        if wm == "update":
                            nxt[k] = src[k]
                        elif wm == "keep":
                            nxt[k] = v
                    elif wnmbs == "keep":
                        nxt[k] = v
                if wnm == "insert":
                    for k, v in src.items():
                        if k not in model:
                            nxt[k] = v
                model = nxt
            elif op == "replace":
                cut = rng.randint(0, 3)
                rows = [(cut + 4 * j, f"r{step}_{j}") for j in range(2)]
                t.replace_where(spark, mkdf(rows), f"k % 4 = {cut}")
                model = {k: v for k, v in model.items() if k % 4 != cut}
                model.update(dict(rows))
            elif op == "compact":
                t.compact(spark, target_partitions=2)
            elif op == "analyze":
                # metadata-only: model unchanged; tightens the very
                # bloom/range probes check() runs against whatever mix
                # of indexed groups the history produced
                t.analyze(spark, ["k"], bloom_cols=["k"])
            elif op == "restore":
                if snapshots:
                    v, snap = rng.choice(snapshots)
                    t.restore(v)
                    model = dict(snap)
            else:
                if model:
                    t.rewrite_clustered(spark, "k", n_groups=2)
            check()
            if rng.random() < 0.3:
                snapshots.append((t.latest_version(), dict(model)))
        for v, snap in snapshots:  # time travel reproduces history
            got = {r["k"]: r["v"] for r in t.read(spark, version=v).collect()}
            assert got == snap, (seed, v)
        # end-of-history invariants: DESCRIBE DETAIL agrees with the
        # model, integrity check clean, whatever ops the seed rolled
        d = t.detail()
        assert d["num_rows"] == len(model) == t.count_rows(), seed
        assert d["version"] == t.latest_version()
        assert t.fsck() == [], seed
        # the plain-Spark batch snapshot reader serves the SAME final
        # state through the data-source path (DV anti-filter, padding,
        # whatever group/DV mix the seed's op sequence produced), and
        # an AS-OF format read reproduces a recorded checkpoint
        from netflow_analysis_with_spark_streaming_spark.storage.stream_sink import (
            register_table_sink,
        )

        register_table_sink(spark)
        fmt = {
            r["k"]: r["v"]
            for r in spark.read.format("versioned_table")
            .option("path", t.root)
            .load()
            .collect()
        }
        assert fmt == model, seed
        if snapshots:
            v, snap = snapshots[-1]
            got = {
                r["k"]: r["v"]
                for r in spark.read.format("versioned_table")
                .option("path", t.root)
                .option("versionAsOf", str(v))
                .load()
                .collect()
            }
            assert got == snap, (seed, v)


def test_ivm_randomized_differential(spark):
    """Seeded random append/captured-delete histories: after every
    maintenance step the incrementally-maintained aggregate must equal
    a from-scratch recompute over the surviving facts — including NULL
    keys, keys retiring to zero, and multi-version feed windows."""
    import random
    import tempfile

    import pyspark.sql.functions as F

    from netflow_analysis_with_spark_streaming_spark.storage import (
        incremental as IVM,
    )

    for seed in (5, 19):
        rng = random.Random(seed)
        root = tempfile.mkdtemp(prefix="netflow_ivmfuzz_")
        fact = VersionedTable(root + "/fact")
        agg = VersionedTable(root + "/agg")
        keys = ["g"]
        watermark = -1
        next_id = 0
        for step in range(8):
            # 1-2 appends per window, then maybe a captured delete
            for _ in range(rng.randint(1, 2)):
                rows = []
                for _ in range(rng.randint(1, 5)):
                    g = rng.choice(["a", "b", "c", None])
                    rows.append((next_id, g, float(rng.randint(1, 9))))
                    next_id += 1
                fact.append(
                    spark.createDataFrame(
                        rows, "id long, g string, x double"
                    )
                )
            if rng.random() < 0.5 and next_id > 0:
                cut = rng.randint(0, 4)
                fact.delete_where(spark, f"id % 5 = {cut}", emit_changes=True)
            to_v = fact.latest_version()
            IVM.maintain_from_feed(
                spark, fact, agg, keys, ["x"], since_version=watermark,
                to_version=to_v,
            )
            watermark = to_v
            view = {
                r["g"]: (r["n_rows"], round(r["sum_x"], 6))
                for r in agg.read(spark).collect()
            }
            full = {
                r["g"]: (r["n"], round(r["s"], 6))
                for r in fact.read(spark)
                .groupBy("g")
                .agg(F.count("*").alias("n"), F.sum("x").alias("s"))
                .collect()
            }
            assert view == full, (seed, step, view, full)


def test_bloom_index_hash_parity(spark):
    """The whole bloom design hangs on build/probe hash agreement:
    the engine-side md5 position expressions and the pure-Python probe
    must produce identical positions for integer AND string keys."""
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        _bloom_position_cols,
        _bloom_positions_py,
    )

    ints = [0, 1, 7, 12345, 10_000_000_000]
    strs = ["", "a", "doc-42", "päck"]
    df = spark.createDataFrame(
        [(i, s) for i in ints for s in strs], "ik long, sk string"
    )
    rows = df.select(
        "ik", "sk",
        F.array(*_bloom_position_cols("ik")).alias("pi"),
        F.array(*_bloom_position_cols("sk")).alias("ps"),
    ).collect()
    for r in rows:
        assert list(r["pi"]) == _bloom_positions_py(r["ik"]), r["ik"]
        assert list(r["ps"]) == _bloom_positions_py(r["sk"]), r["sk"]


def test_bloom_index_point_lookup(spark, tmp_path):
    """Point lookups on a high-cardinality key where min/max CANNOT
    prune (every group spans the full key range): blooms must (a)
    never exclude a present key — the no-false-negative guarantee —
    and (b) skip most groups for absent keys."""
    t = VersionedTable(str(tmp_path / "b"))
    n_groups, per = 8, 500
    for g in range(n_groups):
        # keys g, g+8, g+16, ... : every group's [min,max] ~ full range
        df = spark.range(per).selectExpr(
            f"id * {n_groups} + {g} AS k", "id AS payload"
        )
        t.append(df, stats_cols=["k"], bloom_cols=["k"])
    assert len(t.snapshot_files()) == n_groups
    # (a) every probed present key reads back exactly its row, through
    # bloom pruning, and its true group is among the survivors
    for k in (0, 7, 1234, 3999):
        files = t.snapshot_files(point=("k", k))
        assert 1 <= len(files) <= n_groups
        got = t.read(spark, point=("k", k)).filter(F.col("k") == k).collect()
        assert len(got) == 1 and got[0]["payload"] == k // n_groups
    # min/max stats alone cannot skip anything for these keys
    assert len(t.snapshot_files(prune=("k", 1234, 1234))) == n_groups
    # (b) absent keys: expected survivors ~ n_groups * fp_rate << 1;
    # allow generous slack, but on average nearly everything prunes
    survivors = [
        len(t.snapshot_files(point=("k", 4_000_000 + i))) for i in range(50)
    ]
    assert sum(survivors) <= 0.15 * 50 * n_groups, sum(survivors)
    # (c) unindexed groups are conservatively kept
    t.append(spark.range(1).selectExpr("4100000 AS k", "id AS payload"))
    assert len(t.snapshot_files(point=("k", 4_000_001))) >= 1


def test_bloom_index_survives_upsert_conservatively(spark, tmp_path):
    """Upsert rewrites the current snapshot without blooms — reads
    with point pruning must STILL be correct (rewritten groups are
    kept conservatively), only less selective."""
    t = VersionedTable(str(tmp_path / "u"))
    t.append(
        spark.range(100).selectExpr("id AS k", "id AS v"),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    t.upsert(
        spark, spark.range(5).selectExpr("id AS k", "id + 1000 AS v"), keys=["k"]
    )
    got = {r["k"]: r["v"] for r in t.read(spark, point=("k", 3)).filter("k = 3").collect()}
    assert got == {3: 1003}


def test_bloom_null_probe_rejected(spark, tmp_path):
    """NULL keys are never indexed (build side filters them), so a
    NULL point probe must raise rather than silently prune groups
    that do hold NULL rows."""
    import pytest

    t = VersionedTable(str(tmp_path / "n"))
    t.append(
        spark.range(3).selectExpr("IF(id = 0, NULL, id) AS k"),
        bloom_cols=["k"],
    )
    with pytest.raises(ValueError, match="NULL"):
        t.snapshot_files(point=("k", None))
    # the NULL row itself is reachable through a plain read
    assert t.read(spark).filter("k IS NULL").count() == 1


def test_distinct_view_sketch_state(spark, tmp_path):
    """Sketch-state IVM: per-key approximate distinct counts advanced
    from the change feed only. (a) estimates track exact distincts
    within HLL tolerance after multiple maintenance steps; (b) two
    maintenance batchings converge to the same estimates (union
    associativity); (c) a delete in the feed window raises; (d)
    replayed maintenance is a batch-id no-op."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage import (
        incremental as IVM,
    )

    def fact_rows(a, b):
        # users interleaved across groups; duplicates within and
        # across windows so distinct != count
        return spark.range(a, b).selectExpr(
            "id % 3 AS g", "CAST(id % 40 AS LONG) AS u"
        )

    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    fact.append(fact_rows(0, 60))  # v0
    IVM.maintain_distinct_from_feed(spark, fact, agg, ["g"], "u", since_version=-1)
    fact.append(fact_rows(60, 150))  # v1
    IVM.maintain_distinct_from_feed(spark, fact, agg, ["g"], "u", since_version=0)
    got = {
        r["g"]: r["approx_distinct"]
        for r in IVM.read_distinct_estimates(spark, agg, ["g"]).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in fact.read(spark)
        .groupBy("g")
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for g, n in exact.items():
        assert abs(got[g] - n) <= max(1, 0.02 * n), (g, got[g], n)

    # (b) one-shot maintenance over the same fact == two-step
    agg2 = VersionedTable(str(tmp_path / "agg2"))
    IVM.maintain_distinct_from_feed(spark, fact, agg2, ["g"], "u", since_version=-1)
    got2 = {
        r["g"]: r["approx_distinct"]
        for r in IVM.read_distinct_estimates(spark, agg2, ["g"]).collect()
    }
    assert got2 == got

    # (d) replay: same (since, to) window again — batch-id no-op
    n_versions = len(agg.versions())
    IVM.maintain_distinct_from_feed(
        spark, fact, agg, ["g"], "u", since_version=0, to_version=1
    )
    assert len(agg.versions()) == n_versions

    # (c) deletes cannot be absorbed
    fact.delete_where(spark, "u = 0", emit_changes=True)
    with pytest.raises(ValueError, match="append-only"):
        IVM.maintain_distinct_from_feed(
            spark, fact, agg, ["g"], "u", since_version=1
        )


def test_compact_preserves_skipping_index(spark, tmp_path):
    """Compaction must rebuild min/max stats AND blooms for the
    compacted group (over every column any input group indexed) —
    otherwise the first auto-compaction kills pruning forever."""
    t = VersionedTable(str(tmp_path / "t"))
    for g in range(4):
        t.append(
            spark.range(g * 100, g * 100 + 100).selectExpr("id AS k"),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    t.compact(spark, target_partitions=2)
    assert t.history()[-1]["action"] == "compact"
    assert t.read(spark).count() == 400
    # min/max stats live: an out-of-range predicate prunes to nothing
    assert t.snapshot_files(prune=("k", 10_000, 20_000)) == []
    # bloom lives: an absent key prunes the (single) compacted group
    assert t.snapshot_files(point=("k", 999_999)) == []
    # and a present key still reads back through point pruning
    assert t.read(spark, point=("k", 250)).filter("k = 250").count() == 1


def test_compact_where_folds_only_overlapping_groups(spark, tmp_path):
    """Predicate-scoped OPTIMIZE: only the groups whose stats overlap
    the bound fold into one; cold groups carry BY REFERENCE (same
    file paths in the new manifest — zero bytes rewritten for them);
    rows, pruning, and time travel all intact; action is the
    row-preserving "compact" so feeds see no slice."""
    t = VersionedTable(str(tmp_path / "t"))
    # cold, well-laid range: two big clustered groups over [0, 200)
    t.append_clustered(
        _df(spark, [(i, "cold") for i in range(200)]), "k", n_groups=2
    )
    cold = set(t.snapshot_files())
    # hot fragmented ingest: 5 tiny appends, keys gapped (1000-1009,
    # 1020-1029, ...) so an in-range ABSENT key exists for the bloom
    for j in range(5):
        t.append(
            _df(spark, [(1000 + 20 * j + i, "hot") for i in range(10)]),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    assert len(t.snapshot_files()) == len(cold) + 5
    pre = t.latest_version()
    v = t.compact_where(spark, ("k", 1000, 1099))
    assert v == pre + 1
    assert t.history()[-1]["action"] == "compact"
    files = t.snapshot_files()
    assert cold <= set(files)  # cold groups byte-identical, by reference
    assert len(files) == len(cold) + 1  # 5 hot groups -> 1
    assert t.read(spark).count() == 250
    # skipping index rebuilt for the folded group: range pruning works,
    # the rebuilt bloom excludes an in-range absent key (point pruning
    # is bloom-only by contract — cold groups have no blooms)
    hot_files = [f for f in files if f not in cold]
    assert t.snapshot_files(prune=("k", 1000, 1099)) == hot_files
    assert [
        f for f in t.snapshot_files(point=("k", 1015)) if f in hot_files
    ] == []  # 1015 falls in a gap: bloom proves absence
    assert t.read(spark, point=("k", 1025)).filter("k = 1025").count() == 1
    # time travel: pre-compaction snapshot intact
    assert t.read(spark, version=pre).count() == 250
    # feed: the compaction contributes no slice (baseline advance only)
    feed = t.read_change_feed(spark, pre - 1)  # window = last append + compact
    assert {r["_change_type"] for r in feed.collect()} == {"insert"}
    assert feed.count() == 10


def test_compact_where_sheds_dvs_and_noops_below_min(spark, tmp_path):
    """DV discipline: folded groups are read with deletion vectors
    APPLIED and the new group sheds them (no resurrection, manifest
    dvs entries gone); below min_groups the call is a no-op returning
    None (the post-ingest policy-hook contract)."""
    t = VersionedTable(str(tmp_path / "t"))
    for j in range(3):
        t.append(
            _df(spark, [(100 * j + i, "x") for i in range(10)]),
            stats_cols=["k"],
        )
    t.delete_where_dv(spark, "k IN (5, 105)", prune=("k", 0, 299))
    assert t.read(spark).count() == 28
    assert t._manifest(t.latest_version())["dvs"]  # DVs live
    v = t.compact_where(spark, ("k", 0, 299))
    assert v is not None
    assert t._manifest(v)["dvs"] == {}  # folded group shed them
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert len(got) == 28 and 5 not in got and 105 not in got
    assert t.count_rows() == 28
    assert t.fsck() == []
    # single overlapping group now: nothing to fold
    assert t.compact_where(spark, ("k", 0, 299)) is None
    assert t.latest_version() == v


def test_compact_where_clustered_restores_hot_range_pruning(spark, tmp_path):
    """cluster_col: the OPTIMIZE ... WHERE ... ZORDER shape (1-D).
    Arrival-order hot fragments (every fragment spans the full hot key
    range — nothing prunes inside it) are folded RANGE-CLUSTERED, so
    the hot range both defragments and regains selective pruning;
    cold groups still carry by reference."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "cold") for i in range(500, 700)]), "k", n_groups=2
    )
    cold = set(t.snapshot_files())
    # arrival-order ingest: each fragment spans the WHOLE hot range
    for j in range(4):
        t.append(
            _df(spark, [(i, f"hot{j}") for i in range(j, 400, 4)]),
            stats_cols=["k"],
        )
    assert len(t.snapshot_files(prune=("k", 0, 49))) == 4 + 0  # no pruning
    v = t.compact_where(spark, ("k", 0, 399), cluster_col="k", n_groups=8)
    assert v is not None
    files = t.snapshot_files()
    assert cold <= set(files)
    hot = [f for f in files if f not in cold]
    assert len(hot) == 8  # clustered sub-ranges
    # narrow hot predicate now prunes most of the folded range
    assert len(t.snapshot_files(prune=("k", 0, 49))) <= 2
    assert t.read(spark).count() == 200 + 400
    assert t.fsck() == []


def test_compact_where_zordered_restores_two_dim_pruning(spark, tmp_path):
    """zorder_cols: the N-D OPTIMIZE ... WHERE ... ZORDER shape —
    arrival-order hot fragments spanning both key dimensions fold
    Morton-interleaved, so narrow predicates on EITHER dimension
    prune inside the rewritten range; cold groups carry by
    reference."""
    t = VersionedTable(str(tmp_path / "t"))
    # cold: x far outside the hot grid, WITH x stats (a group without
    # them would be conservatively kept by the prune and folded)
    t.append_clustered(
        spark.range(100_000, 100_200).selectExpr(
            "id AS x", "id AS y"
        ),
        "x",
        n_groups=2,
    )
    cold = set(t.snapshot_files())
    for g in range(4):  # each fragment covers the full 2-D hot grid
        t.append(
            spark.range(g, 4096, 4).selectExpr(
                "id % 64 AS x", "CAST(id / 64 AS LONG) AS y"
            ),
            stats_cols=["x", "y"],
        )
    v = t.compact_where(
        spark, ("x", 0, 63), zorder_cols=("x", "y"), n_groups=16
    )
    assert v is not None
    files = t.snapshot_files()
    assert cold <= set(files)
    hot = [f for f in files if f not in cold]
    assert len(hot) == 16
    assert len([f for f in t.snapshot_files(prune=("x", 0, 7)) if f in hot]) <= 8
    assert len([f for f in t.snapshot_files(prune=("y", 0, 7)) if f in hot]) <= 8
    assert t.read(spark).count() == 200 + 4096
    assert t.fsck() == []


def test_compact_where_rebases_over_concurrent_append(spark, tmp_path):
    """A blind append landing mid-compaction REBASES (a compaction
    preserves rows — the appended group simply stays uncompacted),
    even when the append lands INSIDE the compacted key range; the
    serial-equivalent rowset holds."""
    t = VersionedTable(str(tmp_path / "t"))
    for j in range(3):
        t.append(
            _df(spark, [(10 * j + i, "x") for i in range(10)]),
            stats_cols=["k"],
        )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(15_000 + i, "late") for i in range(5)])
            .selectExpr("k", "v"),
            stats_cols=["k"],
        ),
    )
    v = loser.compact_where(spark, ("k", 0, 29))
    assert v is not None
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(rows) == 35
    assert all(rows[k] == "x" for k in range(30))
    assert all(rows[15_000 + i] == "late" for i in range(5))
    assert t.fsck() == []
    # the racing append's group carried by reference (uncompacted)
    assert len(t.snapshot_files()) == 2  # 3 folded -> 1, + the late group


def test_rewrite_zordered_restores_two_dim_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER: a table ingested in arrival order (every file
    spans both key ranges, nothing prunes) is rewritten along the
    Morton curve in one commit — after which narrow predicates on
    EITHER dimension skip most groups, rows are intact, and the
    pre-rewrite version stays readable."""
    t = VersionedTable(str(tmp_path / "t"))
    # arrival-order ingest: 4 appends, each covering the full 2-D grid
    for g in range(4):
        t.append(
            spark.range(g, 4096, 4).selectExpr(
                "id % 64 AS x", "CAST(id / 64 AS LONG) AS y"
            ),
            stats_cols=["x", "y"],
        )
    assert len(t.snapshot_files(prune=("x", 0, 7))) == 4  # nothing prunes
    v = t.rewrite_zordered(spark, ("x", "y"), n_groups=16, bits=6)
    assert t.history()[-1]["action"] == "rewrite_zordered"
    n_all = len(t.snapshot_files())
    assert n_all == 16
    assert len(t.snapshot_files(prune=("x", 0, 7))) <= n_all // 2
    assert len(t.snapshot_files(prune=("y", 0, 7))) <= n_all // 2
    assert t.read(spark).count() == 4096
    assert t.read(spark, version=v - 1).count() == 4096  # time travel


def test_streaming_distinct_view_maintainer(spark, tmp_path):
    """End-to-end streaming distinct-count view: micro-batches land in
    the fact table and the per-key HLL view advances per batch; final
    estimates match exact distincts within tolerance, and a restarted
    maintainer (watermark recovered from the view's batch ids) treats
    a replayed batch as a no-op."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.storage import (
        incremental as IVM,
    )
    from netflow_analysis_with_spark_streaming_spark.streaming import sources

    d = tmp_path / "src"
    d.mkdir()
    (d / "f1.json").write_text(
        _json.dumps([{"g": i % 2, "u": i % 15} for i in range(40)])
    )
    (d / "f2.json").write_text(
        _json.dumps([{"g": i % 2, "u": (i + 5) % 25} for i in range(40)])
    )
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "g long, u long").schema,
        max_files_per_trigger=1,
    )
    fact = VersionedTable(str(tmp_path / "fact"))
    view = VersionedTable(str(tmp_path / "view"))
    sink = IVM.StreamingDistinctViewMaintainer(fact, view, ["g"], "u")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            raw.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {
        r["g"]: r["approx_distinct"]
        for r in IVM.read_distinct_estimates(spark, view, ["g"]).collect()
    }
    exact = {
        r["g"]: r["n"]
        for r in fact.read(spark)
        .groupBy("g")
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for g, n in exact.items():
        assert abs(got[g] - n) <= max(1, 0.02 * n), (g, got[g], n)
    # restart: watermark recovered; replaying the last batch is a no-op
    sink2 = IVM.StreamingDistinctViewMaintainer(fact, view, ["g"], "u")
    n_versions = len(view.versions())
    last_batch = fact.read(spark).limit(0)  # replayed empty frame
    sink2(last_batch, batch_id=max(fact.committed_batch_ids()))
    assert len(view.versions()) == n_versions


def test_bloom_rejects_unmirrorable_probe_types(spark, tmp_path):
    """Python str() and Spark CAST AS STRING disagree for bools/floats
    — probing with one must raise, not silently misprune."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id AS k"), bloom_cols=["k"])
    for bad in (True, 1.5, object()):
        with pytest.raises(TypeError, match="integer or string"):
            t.snapshot_files(point=("k", bad))


def test_restore_old_snapshot(spark, tmp_path):
    """RESTORE: an old snapshot becomes current via a new commit that
    shares its files by reference — the undo for a bad write. The bad
    version stays readable (forensics), a vacuumed target fails
    closed, and the change feed refuses to bridge a restore (it is
    NOT row-preserving)."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))           # v0
    t.append(_df(spark, [(2, "b")]))           # v1
    t.overwrite(_df(spark, [(9, "BAD")]))      # v2: the mistake
    v3 = t.restore(1)
    assert v3 == 3
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}
    assert t.history()[-1]["action"] == "restore"
    # forensics: the bad version is still addressable
    assert {r["k"] for r in t.read(spark, version=2).collect()} == {9}
    # stats ride along: the restored manifest carries v1's stats
    t2 = VersionedTable(str(tmp_path / "s"))
    t2.append(spark.range(5).selectExpr("id AS k"), stats_cols=["k"])
    t2.overwrite(spark.range(100, 105).selectExpr("id AS k"), stats_cols=["k"])
    t2.restore(0)
    assert t2.snapshot_files(prune=("k", 50, 60)) == []
    # feed refuses to bridge the restore (rows changed non-additively)
    with pytest.raises(ValueError):
        t.read_change_feed(spark, 1)
    # vacuumed target fails closed
    t.vacuum(keep_last=1, min_age_s=0)
    with pytest.raises((ValueError, FileNotFoundError)):
        t.restore(2)


def test_compact_sizes_blooms_from_cardinality(spark, tmp_path):
    """Compaction folds the whole table's keys into ONE group, so the
    per-batch default m=4096 saturates past ~1.5k distinct keys —
    every probe would pay the positions check and prune nothing. The
    rebuilt bloom must be SIZED from the compacted cardinality: m
    grows to keep <=50% fill, and absent keys still prune the single
    compacted group most of the time."""
    import base64

    t = VersionedTable(str(tmp_path / "big"))
    n_groups, per = 8, 500  # 4000 distinct keys total
    for g in range(n_groups):
        t.append(
            spark.range(per).selectExpr(f"id * {n_groups} + {g} AS k"),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    t.compact(spark, target_partitions=1)
    m = t._manifest(t.latest_version())
    (path,) = m["files"]
    bloom = m["stats"][path]["__bloom__"]["k"]
    # 4000 keys * 3 hashes / ln2 ~ 17.3k bits -> next pow2 = 32768
    assert bloom["m"] >= 32768, bloom["m"]
    bits = base64.b64decode(bloom["b64"])
    fill = sum(bin(b).count("1") for b in bits) / bloom["m"]
    assert fill <= 0.5, fill  # not saturated
    # absent keys prune the compacted group far more often than not
    pruned = sum(
        1
        for i in range(50)
        if t.snapshot_files(point=("k", 4_000_000 + i)) == []
    )
    assert pruned >= 40, pruned
    # present keys always survive pruning (no false negatives)
    for k in (0, 7, 1234, 3999):
        assert t.read(spark, point=("k", k)).filter(F.col("k") == k).count() == 1


def test_compact_drops_bloom_beyond_ceiling(spark, tmp_path, monkeypatch):
    """A compacted cardinality that would need m beyond _BLOOM_M_MAX
    drops the column from the rebuilt index instead of building a
    saturated filter: point reads fall back to conservative (the
    group is always kept) but stay correct."""
    from netflow_analysis_with_spark_streaming_spark.storage import versioned

    # lower the ceiling so the drop path triggers at test scale
    monkeypatch.setattr(versioned, "_BLOOM_M_MAX", 8192)
    t = VersionedTable(str(tmp_path / "huge"))
    for g in range(4):
        t.append(
            spark.range(2000).selectExpr(f"id * 4 + {g} AS k"),
            bloom_cols=["k"],
        )
    t.compact(spark, target_partitions=1)
    m = t._manifest(t.latest_version())
    (path,) = m["files"]
    assert "k" not in m["stats"].get(path, {}).get("__bloom__", {})
    # conservative fallback: absent key keeps the group, reads correct
    assert len(t.snapshot_files(point=("k", 999_999))) == 1
    assert t.read(spark, point=("k", 40)).filter("k = 40").count() == 1


def test_restore_rolls_back_on_concurrent_vacuum(spark, tmp_path, monkeypatch):
    """The check-then-commit race: a vacuum that deletes the restore
    target's data groups BETWEEN restore's existence pre-check and its
    manifest publish must not leave a current version referencing
    missing files — restore re-verifies after the commit, unpublishes
    the bad manifest and raises. (This NARROWS the race; a vacuum
    whose keep-set snapshot predates the commit can still win after
    the re-verify — restore's docstring documents the single
    maintenance-writer assumption, same as Delta.)"""
    import os

    import pytest

    t = VersionedTable(str(tmp_path / "r"))
    t.append(_df(spark, [(1, "a")]))  # v0 - restore target
    t.overwrite(_df(spark, [(9, "z")]))  # v1 - current
    target_files = [
        os.path.join(t.root, f) for f in t._manifest(0)["files"]
    ]
    real_commit = t._commit

    def racing_commit(*a, **kw):
        # the concurrent vacuum wins the race: target groups vanish
        # after the pre-check passed, before the manifest publishes
        for path in target_files:
            if os.path.isdir(path):
                import shutil

                shutil.rmtree(path)
            elif os.path.exists(path):
                os.unlink(path)
        return real_commit(*a, **kw)

    monkeypatch.setattr(t, "_commit", racing_commit)
    with pytest.raises(ValueError, match="concurrent"):
        t.restore(0)
    monkeypatch.undo()
    # the bad manifest was unpublished: v1 is still current and readable
    assert t.latest_version() == 1
    assert [r["k"] for r in t.read(spark).collect()] == [9]
    assert [h["action"] for h in t.history()] == ["append", "overwrite"]


def test_every_commit_action_is_feed_classified():
    """Closed-world meta-test over the commit path and the change-feed
    action taxonomy. Every commit publishes through ONE lost-race loop:
    `_commit` (the one-attempt primitive) has exactly one call site in
    storage/versioned.py, inside `_publish`, and the old per-caller
    resolver `_resolve_conflict` is gone. AST-scan every
    `._publish(...)` call site and assert each committed action string
    is (a) a literal — a computed action could dodge this test — and
    (b) classified in EXACTLY one of the feed sets (row-preserving /
    insert / capture / feed-breaking). A new commit path whose action
    is missing from the sets fails HERE at development time instead of
    wedging change-feed consumers at runtime; a stale classification
    entry with no commit site fails too."""
    import ast
    import inspect

    from netflow_analysis_with_spark_streaming_spark.storage import versioned

    tree = ast.parse(inspect.getsource(versioned))
    commit_sites = [
        (fn.name, node)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "_commit"
    ]
    assert [name for name, _ in commit_sites] == ["_publish"], (
        "_commit must be called only from _publish — every commit goes "
        f"through the one lost-race loop; found {commit_sites}"
    )
    assert not hasattr(versioned.VersionedTable, "_resolve_conflict")
    assert "_resolve_conflict" not in inspect.getsource(versioned)
    committed: set = set()
    bad: list = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "_publish"
        ):
            continue
        action = node.args[0] if node.args else None
        for kw in node.keywords:
            if kw.arg == "action":
                action = kw.value
        if isinstance(action, ast.Constant) and isinstance(action.value, str):
            committed.add(action.value)
        else:
            bad.append(ast.dump(node.func))
    assert not bad, f"non-literal action at _publish call site(s): {bad}"
    assert committed, "no _publish call sites found — scan is broken"
    sets = {
        "row_preserving": versioned._FEED_ROW_PRESERVING,
        "insert": versioned._FEED_INSERT_ACTIONS,
        "capture": versioned._FEED_CAPTURE_ACTIONS,
        "typed_capture": versioned._FEED_TYPED_CAPTURE_ACTIONS,
        "breaking": versioned._FEED_BREAKING_ACTIONS,
    }
    # pairwise disjoint
    names = list(sets)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            both = sets[a] & sets[b]
            assert not both, f"action(s) {both} in both {a} and {b}"
    classified = versioned._FEED_ALL_ACTIONS
    assert committed <= classified, (
        f"unclassified commit action(s): {committed - classified} — "
        "classify them in the feed sets in storage/versioned.py"
    )
    assert classified <= committed, (
        f"classification entries with no commit site: {classified - committed}"
    )


def test_skipping_rule_has_one_home():
    """Closed-world meta-test over data skipping: every file-group
    prune decision is versioned._group_may_match. AST-scan the storage
    modules: none but versioned.py may reference the bloom probe
    (_bloom_positions_py) or the bloom stats key (_BLOOM_KEY), and
    inside versioned.py the probe has exactly one call site, in the
    rule — so a second copy of the rule cannot come back unnoticed."""
    import ast
    import pathlib

    from netflow_analysis_with_spark_streaming_spark.storage import versioned

    guarded = {"_bloom_positions_py", "_BLOOM_KEY"}

    def names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.alias):
                yield n.name

    pkg = pathlib.Path(versioned.__file__).parent
    modules = sorted(pkg.glob("*.py"))
    assert len(modules) > 2, "no storage modules found — scan is broken"
    offenders = [
        (p.name, n)
        for p in modules
        if p.name != "versioned.py"
        for n in names(ast.parse(p.read_text()))
        if n in guarded
    ]
    assert not offenders, f"skipping logic outside versioned.py: {offenders}"
    tree = ast.parse(pathlib.Path(versioned.__file__).read_text())
    owners = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "_bloom_positions_py"
    ]
    assert owners == ["_group_may_match"], owners


# --- deletion vectors (merge-on-read DELETE) ---------------------------


def test_dv_delete_basic_and_time_travel(spark, tmp_path):
    """delete_where_dv removes rows on read WITHOUT touching the data
    files (merge-on-read): the manifest's file list is unchanged, the
    pre-delete version still shows every row, and SQL DELETE
    semantics hold (predicate NULL keeps the row)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, None), (3, "c"), (4, "d")]))
    before = t.snapshot_files()
    t.delete_where_dv(spark, "v < 'c'")  # NULL v -> predicate NULL -> kept
    assert t.snapshot_files() == before  # no rewrite
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [2, 3, 4]  # 'a' deleted; NULL kept
    assert t.read(spark, version=0).count() == 4  # time travel intact
    assert t.history()[-1]["action"] == "delete_dv"


def test_dv_deletes_accumulate_and_propagate(spark, tmp_path):
    """Successive DV deletes accumulate; appends carry the vectors
    forward; upsert (reading through the DV-applying reader) does not
    resurrect deleted rows and sheds the vectors with the rewrite."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v"))
    t.delete_where_dv(spark, "k % 10 = 3")
    t.delete_where_dv(spark, "k % 10 = 7")
    assert t.read(spark).count() == 80
    t.append(_df(spark, [(1000, "x")]))  # dvs carried forward
    assert t.read(spark).count() == 81
    assert t._manifest(t.latest_version())["dvs"]
    t.upsert(spark, _df(spark, [(0, "z")]), keys=["k"])
    rows = {r["k"] for r in t.read(spark).collect()}
    assert 3 not in rows and 7 not in rows and 1000 in rows and 0 in rows
    assert not t._manifest(t.latest_version())["dvs"]  # rewrite shed them


def test_dv_delete_prune_and_idempotency(spark, tmp_path):
    """`prune` bounds which groups are scanned for matches (same
    contract as CoW delete), and batch-id idempotency makes replays
    no-ops."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.range(0, 100).selectExpr("id AS k", "id AS v"), stats_cols=["k"])
    t.append(spark.range(100, 200).selectExpr("id AS k", "id AS v"), stats_cols=["k"])
    v = t.delete_where_dv(spark, "k = 150", prune=("k", 100, 199), batch_id=9)
    assert t.read(spark).count() == 199
    assert t.delete_where_dv(spark, "k = 151", batch_id=9) == v  # replay no-op
    assert t.read(spark).count() == 199
    # only the second group carries a vector
    dvs = t._manifest(t.latest_version())["dvs"]
    assert len(dvs) == 1


def test_dv_delete_change_feed_capture(spark, tmp_path):
    """A captured DV delete serves delete slices to CDF consumers
    exactly like a captured CoW delete; an uncaptured one is a feed
    wall (raises)."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_where_dv(spark, "k = 2", emit_changes=True)
    feed = t.read_change_feed(spark, since_version=0).collect()
    assert [(r["k"], r["_change_type"]) for r in feed] == [(2, "delete")]
    t.delete_where_dv(spark, "k = 3")  # no capture
    with pytest.raises(ValueError, match="change feed"):
        t.read_change_feed(spark, since_version=0)


def test_dv_restore_and_vacuum(spark, tmp_path):
    """RESTORE adopts the target snapshot's DV set verbatim (not the
    current one's), and vacuum keeps DV groups referenced by kept
    manifests while collecting shed ones."""
    import os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.range(10).selectExpr("id AS k", "id AS v"))  # v0
    t.delete_where_dv(spark, "k = 5")  # v1: dv on the group
    t.delete_where_dv(spark, "k = 6")  # v2: second dv
    t.restore(1)  # v3: only the first dv applies
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    # compact sheds vectors; vacuum then collects the dv groups
    t.compact(spark, target_partitions=1)  # v4 (applies the restored dv set)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    assert t.vacuum(keep_last=1, min_age_s=0) > 0
    assert not os.path.isdir(os.path.join(str(tmp_path / "t"), "dv")) or not os.listdir(
        os.path.join(str(tmp_path / "t"), "dv")
    )
    assert t.fsck() == []


def test_dv_point_lookup_stays_correct(spark, tmp_path):
    """Bloom/point pruning over DV'd groups stays conservative-correct:
    a point probe of a DV-deleted key prunes to its group but reads
    back zero rows (the vector applies after pruning)."""
    t = VersionedTable(str(tmp_path / "t"))
    for g in range(4):
        t.append(
            spark.range(250).selectExpr(f"id * 4 + {g} AS k"),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    t.delete_where_dv(spark, "k = 40")
    assert t.read(spark, point=("k", 40)).filter("k = 40").count() == 0
    assert t.read(spark, point=("k", 44)).filter("k = 44").count() == 1


# --- three-clause MERGE -------------------------------------------------


def test_merge_all_clause_combinations_match_model(spark, tmp_path):
    """MERGE semantics pinned against a Python dict model for every
    clause combination (3 matched x 2 not-matched x 2 by-source = 12):
    target keys 0..9, source keys 5..14 with changed values, so all
    three row classes (matched, source-only, target-only) are
    populated. Includes a NULL key on both sides (null-safe match)."""
    import itertools

    target = {k: f"t{k}" for k in range(10)}
    target[None] = "tN"
    source = {k: f"s{k}" for k in range(5, 15)}
    source[None] = "sN"

    def model(wm, wnm, wnmbs):
        out = {}
        for k, v in target.items():
            if k in source:
                if wm == "update":
                    out[k] = source[k]
                elif wm == "keep":
                    out[k] = v
            else:
                if wnmbs == "keep":
                    out[k] = v
        if wnm == "insert":
            for k, v in source.items():
                if k not in target:
                    out[k] = v
        return out

    combos = list(
        itertools.product(
            ("update", "delete", "keep"), ("insert", "ignore"), ("keep", "delete")
        )
    )
    for i, (wm, wnm, wnmbs) in enumerate(combos):
        t = VersionedTable(str(tmp_path / f"m{i}"))
        t.append(_df(spark, list(target.items())))
        t.merge(
            spark,
            _df(spark, list(source.items())),
            keys=["k"],
            when_matched=wm,
            when_not_matched=wnm,
            when_not_matched_by_source=wnmbs,
        )
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == model(wm, wnm, wnmbs), (wm, wnm, wnmbs)
        assert t.history()[-1]["action"] == "merge"


def test_merge_full_sync_and_idempotency(spark, tmp_path):
    """update/insert/delete-by-source = full snapshot sync (the table
    becomes exactly the source); batch-id replays are no-ops; upsert
    remains the update/insert/keep special case (same result)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = _df(spark, [(2, "B"), (9, "i")])
    v = t.merge(
        spark, src, keys=["k"],
        when_matched="update", when_not_matched="insert",
        when_not_matched_by_source="delete", batch_id=5,
    )
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {(2, "B"), (9, "i")}
    assert t.merge(spark, src, keys=["k"], batch_id=5) == v  # replay no-op
    # upsert == merge(update, insert, keep)
    t2 = VersionedTable(str(tmp_path / "u"))
    t2.append(_df(spark, [(1, "a"), (2, "b")]))
    t2.merge(spark, _df(spark, [(2, "B"), (9, "i")]), keys=["k"])
    t3 = VersionedTable(str(tmp_path / "u2"))
    t3.append(_df(spark, [(1, "a"), (2, "b")]))
    t3.upsert(spark, _df(spark, [(2, "B"), (9, "i")]), keys=["k"])
    assert {tuple(r) for r in t2.read(spark).collect()} == {
        tuple(r) for r in t3.read(spark).collect()
    }


def test_merge_applies_deletion_vectors_and_validates(spark, tmp_path):
    """MERGE reads through the DV-applying reader (a DV-deleted row
    must not resurrect as a not-matched-by-source keeper), rejects a
    source missing existing columns when it contributes rows, and
    rejects unknown clause values loudly."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_where_dv(spark, "k = 3")
    t.merge(spark, _df(spark, [(1, "A")]), keys=["k"])
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "A"), (2, "b")}  # 3 stayed dead
    with pytest.raises(ValueError, match="missing existing columns"):
        t.merge(spark, spark.createDataFrame([(1,)], "k long"), keys=["k"])
    with pytest.raises(ValueError, match="when_matched"):
        t.merge(spark, _df(spark, [(1, "A")]), keys=["k"], when_matched="upsert")


# --- CDC replication (mirror_from_feed) ---------------------------------


def test_mirror_from_feed_replicates_and_replays(spark, tmp_path):
    """APPLY CHANGES: a mirror advanced only by the source's typed
    change feed equals the source snapshot after appends, captured
    deletes (CoW AND deletion-vector), and a compaction; replaying an
    already-consumed window is a no-op (batch ids = source versions)."""
    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    src = VersionedTable(str(tmp_path / "src"))
    dst = VersionedTable(str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src.append(_df(spark, [(4, "d"), (5, "e")]))
    src.delete_where(spark, "k IN (2, 4)", emit_changes=True)
    src.compact(spark, target_partitions=1)  # row-preserving: no slice
    src.delete_where_dv(spark, "k = 5", emit_changes=True)
    wm = mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)
    assert wm == src.latest_version()

    def rows(t):
        return sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    assert rows(dst) == rows(src) == [(1, "a"), (3, "c")]
    # replay the same window: every write is a batch-id no-op
    before = dst.latest_version()
    mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)
    assert dst.latest_version() == before
    # incremental continuation from the persisted watermark
    src.append(_df(spark, [(9, "i")]))
    mirror_from_feed(spark, src, dst, keys=["k"], since_version=wm)
    assert rows(dst) == rows(src)


def test_mirror_from_feed_random_op_sequences(spark, tmp_path):
    """Property: for random op sequences over the feed-derivable
    action set (append / captured CoW delete / captured DV delete /
    captured upsert / captured replace_where backfill / compact),
    mirror == source snapshot at every sync point."""
    import random

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    rng = random.Random(77)
    src = VersionedTable(str(tmp_path / "src"))
    dst = VersionedTable(str(tmp_path / "dst"))
    next_key, live = 0, set()
    wm = -1
    src.append(_df(spark, [(0, "v0"), (1, "v1")]))
    live.update([0, 1])
    next_key = 2
    for step in range(12):
        op = rng.choice(
            ["append", "delete", "delete_dv", "compact", "upsert", "replace"]
        )
        if op == "append" or not live:
            ks = [next_key + i for i in range(rng.randint(1, 3))]
            next_key += len(ks)
            src.append(_df(spark, [(k, f"v{k}") for k in ks]))
            live.update(ks)
        elif op in ("delete", "delete_dv"):
            victims = rng.sample(sorted(live), min(2, len(live)))
            pred = "k IN (" + ",".join(map(str, victims)) + ")"
            if op == "delete":
                src.delete_where(spark, pred, emit_changes=True)
            else:
                src.delete_where_dv(spark, pred, emit_changes=True)
            live.difference_update(victims)
        elif op == "upsert":
            hit = rng.sample(sorted(live), min(2, len(live)))
            rows = [(k, f"u{step}") for k in hit] + [(next_key, f"u{step}")]
            live.add(next_key)
            next_key += 1
            src.upsert(spark, _df(spark, rows), keys=["k"], emit_changes=True)
        elif op == "replace":
            scope = rng.sample(sorted(live), min(2, len(live)))
            pred = "k IN (" + ",".join(map(str, scope)) + ")"
            keep = scope[: rng.randint(0, len(scope))]
            src.replace_where(
                spark,
                _df(spark, [(k, f"r{step}") for k in keep]),
                pred,
                emit_changes=True,
            )
            live.difference_update(set(scope) - set(keep))
        else:
            src.compact(spark, target_partitions=1)
        if step % 3 == 2:  # periodic sync
            wm = mirror_from_feed(spark, src, dst, keys=["k"], since_version=wm)
            got = sorted((r["k"], r["v"]) for r in dst.read(spark).collect())
            want = sorted((r["k"], r["v"]) for r in src.read(spark).collect())
            assert got == want, (step, got, want)
            assert sorted(k for k, _ in got) == sorted(live)
    wm = mirror_from_feed(spark, src, dst, keys=["k"], since_version=wm)
    got = sorted((r["k"], r["v"]) for r in dst.read(spark).collect())
    want = sorted((r["k"], r["v"]) for r in src.read(spark).collect())
    assert got == want and sorted(k for k, _ in got) == sorted(live)


def test_mirror_from_feed_walls_on_feed_breaking_source(spark, tmp_path):
    """A feed-breaking source commit (upsert) raises through the
    mirror exactly as read_change_feed does — the mirror must re-sync
    from a snapshot, never silently diverge."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    src = VersionedTable(str(tmp_path / "src"))
    dst = VersionedTable(str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a")]))
    src.upsert(spark, _df(spark, [(1, "A")]), keys=["k"])
    with pytest.raises(ValueError, match="change feed"):
        mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)


def _kx(spark, ks):
    return spark.createDataFrame([(k, k) for k in ks], "k long, x long")


# every blind-add entry point, landing the loser's rows 3 and 4
# (append_all as two frames, so two commits)
_BLIND_ADDS = {
    "append": lambda t, spark: t.append(_kx(spark, [3, 4])),
    "append_clustered": lambda t, spark: t.append_clustered(
        _kx(spark, [3, 4]), "k"
    ),
    "append_zordered": lambda t, spark: t.append_zordered(
        _kx(spark, [3, 4]), ("k", "x")
    ),
    "append_rows": lambda t, spark: t.append_rows(
        [(3, 3), (4, 4)], _kx(spark, []).schema
    ),
    "append_all": lambda t, spark: t.append_all(
        [_kx(spark, [3]), _kx(spark, [4])]
    ),
}


@_pytest.mark.parametrize("writer", sorted(_BLIND_ADDS))
def test_append_auto_retries_conflict_without_rewriting(spark, tmp_path, writer):
    """Every blind add losing the version race auto-resolves on a
    fresh snapshot (appends commute): the loser's ALREADY-WRITTEN
    group is re-published under the next version — no second data
    write, no orphaned duplicate group, both writers' rows land."""
    import os

    root = str(tmp_path / "t")
    t = VersionedTable(root)
    t.append(_kx(spark, [1]))  # v0
    loser = VersionedTable(root)
    _inject_once(loser, lambda: VersionedTable(root).append(_kx(spark, [2])))
    v = _BLIND_ADDS[writer](loser, spark)
    # landed as the NEXT version(s), no exception to the caller
    assert v == ([2, 3] if writer == "append_all" else 2)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 3, 4]
    # exactly the seed's, the winner's and the loser's groups on disk
    # (the retry re-published the same group instead of rewriting)
    n_loser = 2 if writer == "append_all" else 1
    assert len(os.listdir(os.path.join(root, "data"))) == 2 + n_loser
    assert t.fsck() == []


# every commit that REPLACES the snapshot it pinned: it must fail
# closed when a concurrent append wins its slot
_FAIL_CLOSED = {
    "overwrite": lambda t, spark, dest: t.overwrite(_kx(spark, [3])),
    "overwrite_clustered": lambda t, spark, dest: t.overwrite_clustered(
        _kx(spark, [3]), "k"
    ),
    "append_rows_overwrite": lambda t, spark, dest: t.append_rows(
        [(3, 3)], _kx(spark, []).schema, overwrite=True
    ),
    "compact": lambda t, spark, dest: t.compact(spark),
    "rewrite_clustered": lambda t, spark, dest: t.rewrite_clustered(spark, "k"),
    "rewrite_zordered": lambda t, spark, dest: t.rewrite_zordered(
        spark, ("k", "x")
    ),
    "rename_column": lambda t, spark, dest: t.rename_column("x", "y"),
    "drop_column": lambda t, spark, dest: t.drop_column("x"),
    "restore": lambda t, spark, dest: t.restore(0),
    "clone": lambda t, spark, dest: t.clone(dest),
}


@_pytest.mark.parametrize("writer", sorted(_FAIL_CLOSED))
def test_snapshot_replacing_commit_fails_closed_on_lost_race(
    spark, tmp_path, monkeypatch, writer
):
    """A commit that replaces the snapshot it pinned (overwrites,
    whole-table rewrites, rename/drop, restore, clone) must not re-pin
    on a lost race — that would silently discard the winner's rows
    (the staged overwrite used to land [3] over a concurrent append).
    It raises CommitConflictError, publishes nothing, and the winner's
    row stays readable."""
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    root = str(tmp_path / "t")
    t = VersionedTable(root)
    t.append(_kx(spark, [1]))  # v0
    # clone publishes through a handle it builds on its destination, so
    # the race is injected on the class: the next commit anywhere loses
    target = str(tmp_path / "dest") if writer == "clone" else root
    monkeypatch.setattr(VersionedTable, "_commit", VersionedTable._commit)
    _inject_once(
        VersionedTable, lambda: VersionedTable(target).append(_kx(spark, [2]))
    )
    with _pytest.raises(CommitConflictError):
        _FAIL_CLOSED[writer](t, spark, target)
    won = VersionedTable(target)
    assert won.versions() == ([0] if writer == "clone" else [0, 1])
    assert sorted(r["k"] for r in won.read(spark).collect()) == (
        [2] if writer == "clone" else [1, 2]
    )


def test_writer_protocol_gate(spark, tmp_path):
    """A manifest stamped by a FUTURE writer protocol must refuse to
    load (it may rely on semantics this reader lacks — reading it as
    current would silently return wrong data); pre-stamp manifests
    (no writer_version field) stay readable as protocol 1."""
    import json
    import os

    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    path = os.path.join(str(tmp_path / "t"), "_log", "00000000.json")
    m = json.load(open(path))
    assert m["writer_version"] >= 2
    # legacy manifest (no stamp) reads fine
    del m["writer_version"]
    json.dump(m, open(path, "w"))
    t._mat_cache.clear()  # in-place record edit: drop the handle memo
    assert t.read(spark).count() == 1
    # future protocol refuses
    m["writer_version"] = 99
    json.dump(m, open(path, "w"))
    t._mat_cache.clear()
    with pytest.raises(ValueError, match="protocol 99"):
        t.read(spark)
    # a FRESH handle (no memo) gates too — the production path
    with pytest.raises(ValueError, match="protocol 99"):
        VersionedTable(t.root).read(spark)


def test_streaming_cdc_sink_applies_and_replays(spark, tmp_path):
    """Op-tagged CDC ingest (APPLY CHANGES): I/U rows upsert, D rows
    delete, a key both upserted and deleted in one batch resolves to
    deleted (delete applied second), and a crash-replayed batch is a
    no-op on both halves (2*batch_id / 2*batch_id+1 idempotency)."""

    def cdc(rows):
        return spark.createDataFrame(rows, "k long, v string, op string")

    t = VersionedTable(str(tmp_path / "t"))
    sink = t.streaming_cdc_sink(keys=["k"])
    sink(cdc([(1, "a", "I"), (2, "b", "I"), (3, "c", "I")]), 0)
    sink(cdc([(2, "B", "U"), (4, "d", "I"), (3, None, "D")]), 1)
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # same-batch upsert+delete of one key: delete wins
    sink(cdc([(5, "e", "I"), (5, None, "D")]), 2)
    assert 5 not in {r["k"] for r in t.read(spark).collect()}
    # crash replay of batch 1: nothing changes
    before = t.latest_version()
    sink(cdc([(2, "B", "U"), (4, "d", "I"), (3, None, "D")]), 1)
    assert t.latest_version() == before
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (4, "d")}


def test_streaming_cdc_sink_delete_only_batch_no_rewrite(spark, tmp_path):
    """A delete-only CDC batch must not pay a whole-snapshot rewrite
    for its empty upsert half (an empty-source merge with
    by-source=keep would re-write every row): exactly one commit
    lands, and it is the delete merge."""

    def cdc(rows):
        return spark.createDataFrame(rows, "k long, v string, op string")

    t = VersionedTable(str(tmp_path / "t"))
    sink = t.streaming_cdc_sink(keys=["k"])
    sink(cdc([(1, "a", "I"), (2, "b", "I")]), 0)
    n_before = len(t.versions())
    sink(cdc([(1, None, "D")]), 1)
    assert len(t.versions()) == n_before + 1  # one commit, not two
    assert {r["k"] for r in t.read(spark).collect()} == {2}


# --- group-pruned / merge-on-read MERGE ----------------------------------


def test_merge_carries_untouched_groups_by_identity(spark, tmp_path):
    """A small CoW merge into a key-clustered table rewrites ONLY the
    groups whose stats overlap the source keys — every other group
    carries into the new version by FILE IDENTITY (the delete_where
    prune discipline; this is the difference between Delta's MERGE
    and a table rewrite per CDC batch)."""
    t = VersionedTable(str(tmp_path / "t"))
    for g in range(4):  # disjoint key ranges: [0,99], [100,199], ...
        t.append(
            spark.range(g * 100, g * 100 + 100).selectExpr(
                "id AS k", "CAST(id AS STRING) AS v"
            ),
            stats_cols=["k"],
        )
    before = set(t._manifest(3)["files"])
    assert len(before) == 4
    t.merge(
        spark,
        spark.createDataFrame([(105, "X"), (150, "Y")], "k long, v string"),
        keys=["k"],
    )
    after = t._manifest(4)["files"]
    # the three non-overlapping groups survive verbatim; exactly one
    # new group replaced the [100,199] one
    carried = [f for f in after if f in before]
    assert len(carried) == 3
    assert len(after) == 4
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[105] == "X" and got[150] == "Y" and got[5] == "5" and len(got) == 400
    # the rewritten group re-recorded its stats (pruning stays alive)
    new_group = next(f for f in after if f not in before)
    assert "k" in t._manifest(4)["stats"][new_group]


def test_merge_bloom_pruning_limits_rewrite(spark, tmp_path):
    """Append-ordered groups whose key RANGES all overlap can still be
    pruned by their bloom indexes: a point-sized merge source rewrites
    only the group(s) whose bloom may contain its keys, and the
    rewritten group gets its bloom REBUILT (the index must not decay
    across merges or the steady-state CDC cost snowballs)."""
    t = VersionedTable(str(tmp_path / "t"))
    for g in range(4):  # k ≡ g (mod 4): ranges interleave completely
        t.append(
            spark.range(25).selectExpr(
                f"id * 4 + {g} AS k", "CAST(id AS STRING) AS v"
            ),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    before = set(t._manifest(3)["files"])
    t.merge(
        spark,
        spark.createDataFrame([(41, "X")], "k long, v string"),  # 41 % 4 == 1
        keys=["k"],
    )
    after = t._manifest(4)["files"]
    carried = [f for f in after if f in before]
    assert len(carried) == 3  # range pruning alone could drop nothing
    new_group = next(f for f in after if f not in before)
    assert "__bloom__" in t._manifest(4)["stats"][new_group]
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[41] == "X" and len(got) == 100


def test_merge_mor_matches_model_and_adds_no_files(spark, tmp_path):
    """strategy='mor' (deletion-vector MERGE) matches the clause model
    for every by-source=keep combination; matched rows are invalidated
    by a DV (data groups carried by file identity), updates/inserts
    land as at most ONE appended group, and by-source=delete is
    rejected (a table-sized rowset change DVs cannot bound)."""
    import itertools

    import pytest

    target = {k: f"t{k}" for k in range(10)}
    target[None] = "tN"
    source = {k: f"s{k}" for k in range(5, 15)}
    source[None] = "sN"

    def model(wm, wnm):
        out = {}
        for k, v in target.items():
            if k in source:
                if wm == "update":
                    out[k] = source[k]
                elif wm == "keep":
                    out[k] = v
            else:
                out[k] = v
        if wnm == "insert":
            out.update({k: v for k, v in source.items() if k not in target})
        return out

    for i, (wm, wnm) in enumerate(
        itertools.product(("update", "delete", "keep"), ("insert", "ignore"))
    ):
        t = VersionedTable(str(tmp_path / f"m{i}"))
        t.append(_df(spark, list(target.items())))
        before = set(t._manifest(0)["files"])
        t.merge(
            spark,
            _df(spark, list(source.items())),
            keys=["k"],
            when_matched=wm,
            when_not_matched=wnm,
            strategy="mor",
        )
        m = t._manifest(1)
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == model(wm, wnm), (wm, wnm)
        assert before <= set(m["files"])  # originals carried by identity
        assert len(m["files"]) <= len(before) + 1  # at most one appended group
        if wm in ("update", "delete"):
            assert m["dvs"], (wm, wnm)  # matched rows died by vector

    t = VersionedTable(str(tmp_path / "reject"))
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="mor"):
        t.merge(
            spark,
            _df(spark, [(1, "b")]),
            keys=["k"],
            when_not_matched_by_source="delete",
            strategy="mor",
        )


def test_upsert_mor_and_empty_source_noop(spark, tmp_path):
    """upsert(strategy='mor') replaces by key without rewriting any
    data group; an EMPTY merge source with by-source=keep commits a
    provable no-op that carries every group (and its stats) verbatim."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]), stats_cols=["k"])
    before = t._manifest(0)["files"]
    t.upsert(spark, _df(spark, [(2, "B"), (3, "c")]), keys=["k"], strategy="mor")
    m = t._manifest(1)
    assert set(before) <= set(m["files"]) and m["dvs"]
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }
    # empty source: identity commit, files carried by reference
    t.merge(spark, _df(spark, []), keys=["k"], batch_id=77)
    m2 = t._manifest(2)
    assert m2["files"] == m["files"] and m2["action"] == "merge"
    assert m2["batch_id"] == 77 and m2["stats"] == m["stats"]


def test_cdc_sink_delete_only_first_batch_is_noop(spark, tmp_path):
    """A delete-only FIRST micro-batch against a never-written mirror
    is deleting from an empty table — a no-op, not a wedged stream:
    delete events for unseen keys are normal when an apply stream
    starts mid-topic. The next insert batch proceeds normally."""
    t = VersionedTable(str(tmp_path / "t"))
    sink = t.streaming_cdc_sink(keys=["k"])
    sink(
        spark.createDataFrame([(1, "x", "D")], "k long, v string, op string"),
        0,
    )
    assert t.latest_version() is None  # nothing committed, nothing raised
    sink(
        spark.createDataFrame(
            [(1, "a", "I"), (2, "b", "I")], "k long, v string, op string"
        ),
        1,
    )
    sink(
        spark.createDataFrame([(1, "a", "D")], "k long, v string, op string"),
        2,
    )
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {(2, "b")}


def test_reader_rejects_future_writer_protocol(spark, tmp_path):
    """Forward-compatibility gate: a manifest stamped by a FUTURE
    writer protocol (e.g. a format feature this reader does not
    implement) must fail CLOSED with an actionable message — on time
    travel to that version and on latest-reads through it — instead
    of silently returning wrong data."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    path = t._log + "/00000001.json"
    m = json.load(open(path))
    m["writer_version"] = 5  # one past the implemented protocol (4)
    json.dump(m, open(path, "w"))
    t._mat_cache.clear()  # in-place record edit: drop the handle memo
    with pytest.raises(ValueError, match="protocol 5"):
        t.read(spark)
    with pytest.raises(ValueError, match="upgrade"):
        t._manifest(1)
    # the unaffected older snapshot stays readable
    assert t.read(spark, version=0).count() == 1
    # a FRESH handle (no memo) gates identically — the production path
    with pytest.raises(ValueError, match="protocol 5"):
        VersionedTable(t.root).read(spark)


# --- append-path schema evolution (round 8) ---------------------------


def test_append_new_column_evolves_schema(spark, tmp_path):
    """Additive evolution: the committed schema becomes the union,
    old rows read NULL for the new column."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    got = {(r["k"], r["v"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    m = t._manifest(t.latest_version())
    names = [f["name"] for f in json.loads(m["schema"])["fields"]]
    assert names == ["k", "v", "score"]


def test_append_column_subset_never_narrows_schema(spark, tmp_path):
    """A producer appending a column subset must not narrow the
    manifest schema (the feed stream and empty-result schemas derive
    from it); the omitted column survives and the new rows read NULL
    for it."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(spark.createDataFrame([(2,)], "k long"))
    m = t._manifest(t.latest_version())
    names = [f["name"] for f in json.loads(m["schema"])["fields"]]
    assert names == ["k", "v"]
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, None)}


def test_append_widens_numeric_types(spark, tmp_path):
    """int -> long is a widening, not a conflict; the manifest type
    widens and both generations read as long."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(_df(spark, [(2, "b")]))  # k long
    m = t._manifest(t.latest_version())
    types = {
        f["name"]: f["type"] for f in json.loads(m["schema"])["fields"]
    }
    assert types["k"] == "long"
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}


def test_append_type_conflict_fails_closed(spark, tmp_path):
    """string vs long on a shared name: the write raises
    SchemaEvolutionError BEFORE committing — version count and data
    unchanged, reads never see the bad files."""
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    import pytest as _pytest

    with _pytest.raises(SchemaEvolutionError, match="v: string vs bigint"):
        t.append(spark.createDataFrame([(2, 99)], "k long, v long"))
    assert t.latest_version() == 0
    assert {r["v"] for r in t.read(spark).collect()} == {"a"}


def test_append_clustered_conflict_also_gated(spark, tmp_path):
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )
    import pytest as _pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    with _pytest.raises(SchemaEvolutionError):
        t.append_clustered(
            spark.createDataFrame([(2, 1.0)], "k long, v double"), "k"
        )
    assert t.latest_version() == 0


# --- commit timestamps + TIMESTAMP AS OF (round 8) --------------------


def test_timestamp_as_of_resolves_like_delta(spark, tmp_path):
    """version_at_timestamp picks the LATEST version committed at or
    before the instant; read(timestamp=) equals read(version=) for
    the resolved version; an instant before the first commit raises;
    history() exposes the stamps."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.delete_where(spark, "k = 1")
    stamps = [h["ts"] for h in t.history()]
    assert stamps == sorted(stamps) and all(s > 0 for s in stamps)
    for v, s in enumerate(stamps):
        assert t.version_at_timestamp(s) == v
    # an instant strictly between v0 and v2 resolves to the newest <=
    assert t.version_at_timestamp(stamps[2] + 1e6) == 2
    got = {r["k"] for r in t.read(spark, timestamp=stamps[1]).collect()}
    assert got == {r["k"] for r in t.read(spark, version=1).collect()} == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no version at or before"):
        t.version_at_timestamp(stamps[0] - 10.0)
    with _pytest.raises(ValueError, match="not both"):
        t.read(spark, version=0, timestamp=stamps[0])


def test_pre_stamp_manifests_stay_addressable(spark, tmp_path):
    """A manifest written before the ts field existed (stamp removed
    here to emulate one) resolves as timestamp 0 — old tables keep
    working."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    import json as _json
    import os as _os

    p = _os.path.join(str(tmp_path / "t"), "_log", "00000000.json")
    m = _json.load(open(p))
    del m["ts"]
    _json.dump(m, open(p, "w"))
    assert t.version_at_timestamp(1.0) == 0
    assert t.history()[0]["ts"] is None


def test_generated_columns_compute_validate_and_guard(spark, tmp_path):
    """GENERATED ALWAYS AS (Delta analog): writes that omit the
    column get it COMPUTED from the expression; writes that provide
    it are VALIDATED for equality (a disagreeing value fails the
    whole write); rename/drop refuse generated or referenced columns
    (the constraints wedge-guard, same stance); CHECK constraints may
    reference generated columns (generation runs first)."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        ConstraintViolationError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.set_generated_column("kmod", "k % 10")
    t.append(_df(spark, [(11, "a"), (22, "b")]))  # kmod omitted
    got = {r["k"]: r["kmod"] for r in t.read(spark).collect()}
    assert got == {11: 1, 22: 2}
    # provided-and-correct passes; provided-and-wrong fails the write
    t.upsert(
        spark,
        spark.createDataFrame([(33, "c", 3)], "k long, v string, kmod long"),
        keys=["k"],
    )
    with pytest.raises(ConstraintViolationError, match="generated-column"):
        t.append(
            spark.createDataFrame([(44, "d", 9)], "k long, v string, kmod long")
        )
    assert t.read(spark).count() == 3  # the bad write landed nothing
    # constraints may reference the generated column (generation first)
    t.set_check_constraint("kmod_range", "kmod BETWEEN 0 AND 9")
    t.append(_df(spark, [(55, "e")]))
    assert {r["kmod"] for r in t.read(spark).collect()} == {1, 2, 3, 5}
    # rename/drop guards: the source column and the generated column
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("k", "key")
    t.drop_check_constraint("kmod_range")
    with pytest.raises(ValueError, match="generated"):
        t.drop_column("kmod")
    # dropping the RULE frees both; kmod becomes an ordinary column
    t.drop_generated_column("kmod")
    t.rename_column("k", "key")
    assert {r["key"] for r in t.read(spark).collect()} == {11, 22, 33, 55}


def test_as_view_pins_snapshot_and_supports_as_of(spark, tmp_path):
    """as_view: plain spark.sql runs over the table; the view binds
    ONE snapshot (later commits don't leak in — time travel's
    contract), re-registering follows the head, and version=/
    timestamp= expose AS OF in the SQL workflow."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.as_view(spark, "vt_pin")
    assert spark.sql("SELECT COUNT(*) AS n FROM vt_pin").collect()[0]["n"] == 2
    t.append(_df(spark, [(3, "c")]))
    # pinned: the new commit does not leak into the registered view
    assert spark.sql("SELECT COUNT(*) AS n FROM vt_pin").collect()[0]["n"] == 2
    t.as_view(spark, "vt_pin")  # re-register follows the head
    assert spark.sql("SELECT COUNT(*) AS n FROM vt_pin").collect()[0]["n"] == 3
    # AS OF forms
    t.as_view(spark, "vt_v0", version=0)
    assert spark.sql("SELECT MAX(k) AS m FROM vt_v0").collect()[0]["m"] == 2
    ts0 = t.history()[0]["ts"]
    t.as_view(spark, "vt_ts", timestamp=ts0)
    assert spark.sql("SELECT MAX(k) AS m FROM vt_ts").collect()[0]["m"] == 2


def test_commit_stamps_are_monotone_under_clock_skew(spark, tmp_path):
    """_commit clamps each stamp to its parent's (Delta's
    monotonization applied at WRITE time): a backwards clock
    adjustment — emulated by editing the parent's stamp far into the
    future — cannot produce a dip, which is the invariant the
    bisecting TIMESTAMP AS OF / startingTimestamp / vacuum-retain
    resolutions rely on."""
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    future = 4_000_000_000.0  # year ~2096: any real clock is behind it
    p = _os.path.join(t.root, "_log", "00000000.json")
    m = json.load(open(p))
    m["ts"] = future
    json.dump(m, open(p, "w"), default=str)
    t._mat_cache.clear()  # drop the memoized pre-edit manifest
    t.append(_df(spark, [(2, "b")]))
    stamps = [h["ts"] for h in t.history()]
    assert stamps[1] >= future  # clamped, not time.time()
    assert stamps == sorted(stamps)
    # and resolution honors the clamped stamps
    assert t.version_at_timestamp(future) == 1


def test_timestamp_resolution_bisects(tmp_path):
    """The verdict-#2 measurement: TIMESTAMP AS OF on a 1024-commit
    table costs O(log versions) record reads, not a full-log walk.
    The log is synthesized directly (tiny full manifests — the log
    layer is plain JSON), _load_record is counted, and resolution at
    several instants must stay within 2*log2(n)+2 reads each while
    agreeing with the linear-walk answer."""
    import math
    import os as _os

    root = str(tmp_path / "t")
    log = _os.path.join(root, "_log")
    _os.makedirs(log)
    _os.makedirs(_os.path.join(root, "data"))
    n = 1024
    for v in range(n):
        rec = {
            "version": v,
            "writer_version": 2,
            "ts": 1000.0 + 10 * v,
            "action": "append",
            "files": [],
            "n_files": 0,
            "schema": "{}",
            "batch_id": None,
            "stats": {},
            "changes": None,
            "dvs": {},
        }
        with open(_os.path.join(log, f"{v:08d}.json"), "w") as f:
            json.dump(rec, f)
    t = VersionedTable(root)
    reads = {"n": 0}
    orig = VersionedTable._load_record

    def counting(self, version):
        reads["n"] += 1
        return orig(self, version)

    VersionedTable._load_record = counting
    try:
        budget = 2 * math.ceil(math.log2(n)) + 2
        for ts, want in (
            (1000.0, 0),  # exactly the first stamp
            (1005.0, 0),  # between v0 and v1
            (1000.0 + 10 * (n - 1), n - 1),  # exactly the last
            (10**9, n - 1),  # far future
            (1000.0 + 10 * 517 + 3, 517),  # arbitrary interior instant
        ):
            reads["n"] = 0
            assert t.version_at_timestamp(ts) == want
            assert reads["n"] <= budget, (ts, reads["n"], budget)
    finally:
        VersionedTable._load_record = orig


def test_committed_batch_ids_scans_incrementally(tmp_path):
    """The idempotency read-set is O(new commits) per call on a live
    handle, not O(history): on a synthesized 1024-commit log the
    first call walks everything once, the second reads NOTHING, and
    after one new commit the third reads exactly one record —
    the difference between 100k file opens per streaming trigger and
    ~1 on a long-retention ingest table."""
    import os as _os

    root = str(tmp_path / "t")
    log = _os.path.join(root, "_log")
    _os.makedirs(log)
    _os.makedirs(_os.path.join(root, "data"))
    n = 1024

    def rec(v):
        return {
            "version": v,
            "writer_version": 2,
            "ts": 1000.0 + v,
            "action": "append",
            "files": [],
            "n_files": 0,
            "schema": "{}",
            "batch_id": v if v % 3 == 0 else None,
            "stats": {},
            "changes": None,
            "dvs": {},
        }

    for v in range(n):
        with open(_os.path.join(log, f"{v:08d}.json"), "w") as f:
            json.dump(rec(v), f)
    t = VersionedTable(root)
    reads = {"n": 0}
    orig = VersionedTable._load_record

    def counting(self, version):
        reads["n"] += 1
        return orig(self, version)

    VersionedTable._load_record = counting
    try:
        got = set(t.committed_batch_ids())  # copy: the memo is live
        assert got == {v for v in range(n) if v % 3 == 0}
        assert reads["n"] == n  # first call: one full walk
        reads["n"] = 0
        assert set(t.committed_batch_ids()) == got
        assert reads["n"] == 0  # second call: memo, zero reads
        new_v = n + 2  # multiple of 3: rec() stamps a batch id on it
        assert new_v % 3 == 0
        with open(_os.path.join(log, f"{new_v:08d}.json"), "w") as f:
            json.dump(rec(new_v), f)
        reads["n"] = 0
        got2 = set(t.committed_batch_ids())
        assert new_v in got2 and len(got2) == len(got) + 1
        assert reads["n"] == 1  # only the new record
    finally:
        VersionedTable._load_record = orig


# --- zero-copy CLONE + retention vacuum (round 8) ----------------------


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    """clone() materializes the latest snapshot in a new root without
    rewriting data (hardlinks: same inode), carries stats + CHECK
    constraints, records provenance, and the two tables then evolve
    independently."""
    import os as _os

    t = VersionedTable(str(tmp_path / "src"))
    t.set_check_constraint("pos", "k > 0")
    t.append_clustered(_df(spark, [(1, "a"), (2, "b")]), "k")
    t.append(_df(spark, [(3, "c")]))
    c = t.clone(str(tmp_path / "dst"))
    assert c.latest_version() == 0
    m = c._manifest(0)
    assert m["action"] == "clone"
    assert m["provenance"]["source_version"] == 1
    src_m = t._manifest(1)
    assert m["stats"] == src_m["stats"] and m["stats"]  # skipping stats carried
    assert c.check_constraints() == {"pos": "k > 0"}
    # zero copy: every cloned data file shares its inode with the source
    assert m["files"] == src_m["files"]
    for f in m["files"]:
        sp = _os.path.join(str(tmp_path / "src"), f)
        dp = _os.path.join(str(tmp_path / "dst"), f)
        for dirpath, _d, fns in _os.walk(sp):
            for fn in fns:
                s_ino = _os.stat(_os.path.join(dirpath, fn)).st_ino
                d_ino = _os.stat(
                    _os.path.join(dirpath.replace(sp, dp, 1), fn)
                ).st_ino
                assert s_ino == d_ino
    assert {r["k"] for r in c.read(spark).collect()} == {1, 2, 3}
    # independent evolution: writes on one side never show on the other
    c.append(_df(spark, [(4, "d")]))
    t.delete_where(spark, "k = 1")
    assert {r["k"] for r in c.read(spark).collect()} == {1, 2, 3, 4}
    assert {r["k"] for r in t.read(spark).collect()} == {2, 3}


def test_clone_survives_source_vacuum(spark, tmp_path):
    """The hardlink design's point: vacuuming the SOURCE (which
    unlinks the shared groups after a rewrite) cannot break the
    clone — its links keep the inodes alive. Delta's shallow clones
    fail exactly this test."""
    t = VersionedTable(str(tmp_path / "src"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    c = t.clone(str(tmp_path / "dst"))
    t.overwrite(_df(spark, [(9, "z")]))  # source moves on
    assert t.vacuum(keep_last=1, min_age_s=0) > 0  # drops the shared group
    assert {r["k"] for r in c.read(spark).collect()} == {1, 2}


def test_clone_carries_deletion_vectors(spark, tmp_path):
    """A snapshot whose rows are partly DV-invalidated clones with its
    vectors: the clone reads the same logical rowset, and its manifest
    references its OWN hardlinked dv groups."""
    t = VersionedTable(str(tmp_path / "src"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_where_dv(spark, "k = 2")
    c = t.clone(str(tmp_path / "dst"))
    assert c._manifest(0)["dvs"]
    assert {r["k"] for r in c.read(spark).collect()} == {1, 3}


def test_clone_old_version_and_guards(spark, tmp_path):
    """Time-travel clone (version=) snapshots history; cloning into a
    non-empty table or from an empty one refuses."""
    import pytest as _pytest

    t = VersionedTable(str(tmp_path / "src"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(9, "z")]))
    c = t.clone(str(tmp_path / "old"), version=0)
    assert {r["k"] for r in c.read(spark).collect()} == {1}
    with _pytest.raises(ValueError, match="already has commits"):
        t.clone(str(tmp_path / "old"))
    empty = VersionedTable(str(tmp_path / "none"))
    with _pytest.raises(ValueError, match="no commits"):
        empty.clone(str(tmp_path / "x"))


def test_clone_feed_reports_snapshot_as_inserts(spark, tmp_path):
    """The clone's change feed starts at ITS version 0: the cloned
    snapshot reads as inserts, and source history never leaks in."""
    t = VersionedTable(str(tmp_path / "src"))
    t.append(_df(spark, [(1, "a")]))
    t.delete_where(spark, "k = 1", emit_changes=True)
    t.append(_df(spark, [(2, "b"), (3, "c")]))
    c = t.clone(str(tmp_path / "dst"))
    feed = c.read_change_feed(spark, since_version=-1).collect()
    assert {(r["k"], r["_change_type"]) for r in feed} == {
        (2, "insert"),
        (3, "insert"),
    }


def test_vacuum_retention_window(spark, tmp_path):
    """retain_s keeps every version committed inside the window (so
    TIMESTAMP AS OF keeps resolving there) even when keep_last alone
    would drop it; versions outside the window age out; the surviving
    history is a contiguous tail."""
    import json as _json
    import os as _os
    import time as _time

    t = VersionedTable(str(tmp_path / "t"))
    for i in range(4):
        t.overwrite(_df(spark, [(i, "x")]))
    # backdate v0/v1 beyond the window (hermetic: no sleeps)
    for v, age in ((0, 5000.0), (1, 4000.0)):
        p = _os.path.join(str(tmp_path / "t"), "_log", f"{v:08d}.json")
        m = _json.load(open(p))
        m["ts"] = _time.time() - age
        _json.dump(m, open(p, "w"))
    removed = t.vacuum(keep_last=1, min_age_s=0, retain_s=600.0)
    assert removed > 0
    assert t.versions() == [2, 3]  # in-window versions survive keep_last=1
    assert {r["k"] for r in t.read(spark, version=2).collect()} == {2}
    with __import__("pytest").raises(ValueError, match="at least the latest"):
        t.vacuum(keep_last=0, min_age_s=0)


# --- metadata-only aggregates (round 8) ---------------------------------


def test_count_rows_is_metadata_only(spark, tmp_path):
    """count_rows() needs no SparkSession and no data files: with the
    __rows__ stat recorded, the count is correct even after the data
    directory is moved ASIDE — proof that no footer (let alone a data
    page) is consulted on the fast path."""
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.append_clustered(_df(spark, [(i, "x") for i in range(4, 14)]), "k")
    assert t.count_rows() == 13
    assert t.count_rows(version=0) == 3
    _os.rename(str(tmp_path / "t" / "data"), str(tmp_path / "gone"))
    assert t.count_rows() == 13  # manifest-only: data dir absent
    _os.rename(str(tmp_path / "gone"), str(tmp_path / "t" / "data"))


def test_count_rows_tracks_every_mutation(spark, tmp_path):
    """The count stays exact through CoW delete (rewritten groups
    re-count, carried groups keep their stat), DV delete (positions
    subtract), merge, and compaction — always equal to the real
    read().count()."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(100)]), "k", n_groups=4)
    t.delete_where(spark, "k < 10", prune=("k", 0, 9))
    assert t.count_rows() == t.read(spark).count() == 90
    t.delete_where_dv(spark, "k >= 95")
    assert t.count_rows() == t.read(spark).count() == 85
    t.upsert(spark, _df(spark, [(10, "N"), (200, "new")]), keys=["k"])
    assert t.count_rows() == t.read(spark).count() == 86
    t.compact(spark, target_partitions=2)
    assert t.count_rows() == t.read(spark).count() == 86


def test_count_rows_legacy_footer_fallback(spark, tmp_path):
    """A manifest written before __rows__ existed (simulated by
    stripping the stat) still counts exactly via parquet FOOTERS —
    metadata reads, no scan, no Spark."""
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where_dv(spark, "k = 1")
    v = t.latest_version()
    p = _os.path.join(str(tmp_path / "t"), "_log", f"{v:08d}.json")
    m = json.load(open(p))
    for st in (m.get("stats") or {}).values():
        st.pop("__rows__", None)
    json.dump(m, open(p, "w"), default=str)
    assert VersionedTable(str(tmp_path / "t")).count_rows() == 1


def test_metadata_min_max_exact_or_refuse(spark, tmp_path):
    """min/max from manifest stats is EXACT after CoW mutations,
    refuses (None) when any deletion vector exists (the extremal row
    may be invalidated), refuses for an unindexed column, and ignores
    all-NULL groups the way SQL MIN/MAX ignore NULLs."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(50)]), "k", n_groups=2)
    assert t.metadata_min_max("k") == (0, 49)
    t.delete_where(spark, "k = 49 OR k = 0", prune=("k", 0, 49))
    assert t.metadata_min_max("k") == (1, 48)
    assert t.metadata_min_max("v") is None  # no stats for v
    # an all-NULL group contributes nothing (instead of poisoning)
    t.append(
        spark.createDataFrame([(None, "n")], "k long, v string"),
        stats_cols=["k"],
    )
    assert t.metadata_min_max("k") == (1, 48)
    t.delete_where_dv(spark, "k = 48")
    assert t.metadata_min_max("k") is None  # DV present: refuse
    assert t.count_rows() == t.read(spark).count()  # count stays exact


def test_rows_stat_carries_with_untouched_groups(spark, tmp_path):
    """A pruned CoW delete carries non-overlapping groups by
    reference — their __rows__ stat must carry verbatim so the NEXT
    count stays manifest-only (no footer fallback creep)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(40)]), "k", n_groups=4)
    m0 = t._manifest(0)
    t.delete_where(spark, "k < 5", prune=("k", 0, 4))
    m1 = t._manifest(1)
    carried = [f for f in m1["files"] if f in set(m0["files"])]
    assert carried, "prune should carry at least one group"
    for f in carried:
        assert m1["stats"][f]["__rows__"] == m0["stats"][f]["__rows__"]
    assert t.count_rows() == 35


def test_count_rows_dv_spanning_multiple_groups(spark, tmp_path):
    """One delete_where_dv that hits SEVERAL data groups writes a
    single positions dir but lists it under every hit group in the
    manifest's dvs map — count_rows must subtract it ONCE (dedupe by
    path, mirroring _apply_dvs), not once per group. Regression for
    the round-8 advice: 2 appends x 20 rows + a DV delete of 4 rows
    spanning both groups must count 36, not 32."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a") for i in range(20)]))
    t.append(_df(spark, [(i, "b") for i in range(20, 40)]))
    t.delete_where_dv(spark, "k % 10 = 3")  # 4 rows, 2 per group
    m = t._manifest(t.latest_version())
    dv_lists = list((m.get("dvs") or {}).values())
    assert len(dv_lists) == 2, "DV delete should hit both groups"
    assert dv_lists[0] == dv_lists[1], "same positions dir listed twice"
    assert t.read(spark).count() == 36
    assert t.count_rows() == 36  # was 32 before the dedupe fix
    # and stays consistent through a subsequent single-group DV delete
    t.delete_where_dv(spark, "k = 0")
    assert t.count_rows() == t.read(spark).count() == 35


def test_vacuum_retention_window_empty_table(tmp_path):
    """vacuum(retain_s=...) on a table with NO commits is a no-op
    returning 0 — not a ValueError from min([]) (round-8 advice)."""
    t = VersionedTable(str(tmp_path / "t"))
    assert t.vacuum(retain_s=3600.0, min_age_s=0) == 0
    assert t.vacuum(min_age_s=0) == 0  # retain_s=None path too


# --- rewrite-vs-append conflict rebase (Delta ConflictChecker analog) ---


def _inject_once(handle, inject):
    """Wrap handle._commit so `inject` fires once right before the
    first publish attempt — the deterministic version race."""
    real = handle._commit

    def racing(*a, **kw):
        if not hasattr(racing, "fired"):
            racing.fired = True
            inject()
        return real(*a, **kw)

    handle._commit = racing


def test_merge_rebases_over_disjoint_append(spark, tmp_path):
    """A MERGE losing the version race to a blind append whose rows
    provably cannot match the source keys (manifest stats disjoint)
    REBASES instead of failing: the appended group is carried into the
    merge's commit by FILE IDENTITY and the result equals the serial
    execution append-then-merge."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "old") for i in range(100)]), "k", n_groups=2
    )  # v0, stats on k
    loser = VersionedTable(str(tmp_path / "t"))
    winner = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: winner.append(
            _df(spark, [(i, "late") for i in range(1000, 1010)]),
            stats_cols=["k"],
        ),
    )
    v = loser.merge(
        spark, _df(spark, [(5, "NEW"), (200, "ins")]), keys=["k"]
    )
    assert v == 2  # rebased onto the winner's v1, not failed
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[5] == "NEW" and got[200] == "ins"
    assert all(got[i] == "late" for i in range(1000, 1010))
    assert len(got) == 111
    # the winner's group rides by reference, not rewritten
    winner_files = set(t._manifest(1)["files"]) - set(t._manifest(0)["files"])
    assert winner_files and winner_files <= set(t._manifest(2)["files"])
    assert [h["action"] for h in t.history()] == ["append", "append", "merge"]


def test_merge_conflicts_on_overlapping_append(spark, tmp_path):
    """If the concurrently appended group COULD hold a source key
    (stats overlap), the serial result would differ — the merge must
    fail closed (Delta's ConcurrentAppendException), never silently
    duplicate the key."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "old") for i in range(100)]), "k", n_groups=2
    )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(5, "race")]), stats_cols=["k"]
        ),
    )
    with pytest.raises(CommitConflictError):
        loser.merge(spark, _df(spark, [(5, "NEW")]), keys=["k"])
    # nothing half-committed: winner's append is the latest version
    assert t.latest_version() == 1
    assert sorted(r["v"] for r in t.read(spark).collect() if r["k"] == 5) == [
        "old",
        "race",
    ]


def test_delete_rebases_over_disjoint_append(spark, tmp_path):
    """A pruned CoW DELETE rebases over an append outside its prune
    bound; an UNPRUNED delete read every group, so any append fails
    closed."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "x") for i in range(100)]), "k", n_groups=2
    )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(i, "late") for i in range(1000, 1005)]),
            stats_cols=["k"],
        ),
    )
    v = loser.delete_where(spark, "k < 10", prune=("k", 0, 9))
    assert v == 2
    assert t.count_rows() == t.read(spark).count() == 95
    assert {r["k"] for r in t.read(spark).collect() if r["k"] >= 1000} == set(
        range(1000, 1005)
    )
    # unpruned delete: the predicate was evaluated against every group
    loser2 = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser2,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(2000, "y")]), stats_cols=["k"]
        ),
    )
    with pytest.raises(CommitConflictError):
        loser2.delete_where(spark, "k = 50")


def test_dv_delete_rebases_over_disjoint_append(spark, tmp_path):
    """The merge-on-read DELETE rebases the same way: its deletion
    vector (positions in PRE-RACE groups the appends never touched)
    stays valid, the appended group carries untouched, and the
    metadata count agrees with the real read."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "x") for i in range(100)]), "k", n_groups=2
    )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(i, "late") for i in range(1000, 1010)]),
            stats_cols=["k"],
        ),
    )
    v = loser.delete_where_dv(spark, "k < 10", prune=("k", 0, 9))
    assert v == 2
    assert t._manifest(2)["dvs"], "DV rode through the rebase"
    assert t.count_rows() == t.read(spark).count() == 100
    assert min(r["k"] for r in t.read(spark).collect()) == 10


def test_rewrite_fails_closed_on_concurrent_dv_delete(spark, tmp_path):
    """A rewrite racing a concurrent merge-on-read DELETE must NOT
    rebase: the loser's survivors were derived from a snapshot whose
    deletion vectors are now stale — rebasing would resurrect the
    concurrently deleted rows."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "x") for i in range(100)]), "k", n_groups=2
    )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).delete_where_dv(
            spark, "k = 99", prune=("k", 99, 99)
        ),
    )
    with pytest.raises(CommitConflictError):
        loser.merge(spark, _df(spark, [(5, "NEW")]), keys=["k"])
    assert t.read(spark).count() == 99  # only the DV delete landed


def test_rebase_folds_concurrent_schema_evolution(spark, tmp_path):
    """The racing append may have WIDENED the schema (new column).
    The rebased rewrite commits the union schema: appended rows keep
    their new column, pre-race rows read NULL for it."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(
        _df(spark, [(i, "x") for i in range(100)]), "k", n_groups=2
    )
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            spark.createDataFrame(
                [(5000, "late", "extra")], "k long, v string, tag string"
            ),
            stats_cols=["k"],
        ),
    )
    loser.delete_where(spark, "k < 10", prune=("k", 0, 9))
    got = t.read(spark)
    assert "tag" in got.columns
    rows = {r["k"]: r["tag"] for r in got.collect()}
    assert rows[5000] == "extra"
    assert rows[50] is None
    assert len(rows) == 91




@_pytest.mark.parametrize("delta_log", [False, True])
def test_concurrent_appenders_and_mergers_stress(spark, tmp_path, delta_log):
    """Multi-writer consistency under REAL thread interleaving: four
    appenders land disjoint key ranges while two mergers upsert into a
    base range, all against one table root, no coordination. Whatever
    the interleaving, the committed history must be serializable:
    every appended key present exactly once, merge keys carry the last
    writer's value (one of the mergers'), metadata count == real
    count, fsck clean, and the version chain dense. Exercises both
    rebase directions (append-over-rewrite and rewrite-over-append)
    under contention rather than injected races. The delta_log arm
    runs every handle in forced protocol-4 delta mode (threshold 0,
    checkpoint every 4): conflict retries, rebases and replay all ride
    delta records diffed against whichever parent actually won."""
    import threading

    def handle():
        return (
            VersionedTable(
                str(tmp_path / "t"),
                delta_log_min_files=0,
                checkpoint_every=4,
            )
            if delta_log
            else VersionedTable(str(tmp_path / "t"))
        )

    t = handle()
    t.append_clustered(
        _df(spark, [(i, "base") for i in range(100)]), "k", n_groups=2
    )  # v0: merge targets live in [0, 100)

    errors: list = []

    def appender(tid: int) -> None:
        try:
            h = handle()
            for j in range(3):
                lo = 10_000 + tid * 1_000 + j * 100
                h.append(
                    _df(spark, [(lo + i, f"a{tid}") for i in range(10)]),
                    stats_cols=["k"],
                )
        except Exception as e:  # surfaced below — a thread must not die
            errors.append(e)

    def merger(tid: int) -> None:
        from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
            CommitConflictError,
        )

        try:
            h = handle()
            for j in range(2):
                src = _df(spark, [(i, f"m{tid}.{j}") for i in range(20)])
                # merge-vs-merge is a REAL conflict (both rewrite the
                # same candidate groups) and fails closed by design;
                # the documented caller contract is retry-on-fresh-
                # snapshot — merge re-pins internally, so a bare
                # retry IS the rebuild
                for _attempt in range(20):
                    try:
                        h.merge(spark, src, keys=["k"])
                        break
                    except CommitConflictError:
                        continue
                else:
                    raise RuntimeError(f"merger {tid}.{j} never landed")
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    threads += [threading.Thread(target=merger, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # Appends always commute (auto-rebase); merges rebase over the
    # range-disjoint appends ([0,20) vs [10k,14k)) and caller-retry
    # over each other — so NO thread may surface an error.
    assert not errors, f"writer thread(s) failed: {errors}"
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert t.count_rows() == t.read(spark).count() == len(rows)
    # every appended key exactly once (len(rows) dedupes; assert presence)
    for tid in range(4):
        for j in range(3):
            lo = 10_000 + tid * 1_000 + j * 100
            for i in range(10):
                assert rows[lo + i] == f"a{tid}"
    # merge keys carry SOME merger's final value, never the base
    for k in range(20):
        assert rows[k].startswith("m"), f"k={k} lost its merge: {rows[k]}"
    for k in range(20, 100):
        assert rows[k] == "base"
    assert t.fsck() == []
    vs = t.versions()
    assert vs == list(range(len(vs)))  # dense chain: 1 base + 12 + 4
    assert len(vs) == 17


def test_interleaved_analyze_capture_rename_stress(spark, tmp_path):
    """Round-10 fuzz arm (verdict-r9 ask #7): the three round-9
    features that all touch the commit race — analyze's metadata
    rebase, typed capture groups, and column-mapping renames —
    interleaved with appends under REAL threads, in forced protocol-4
    delta mode, with fsck + count + FEED consistency asserted at the
    quiescent points. Feed consistency is checked the strongest way
    the engine itself offers: a CDC mirror built purely from the
    typed change feed must equal the source table byte-for-byte
    (phase 1), and after the rename feed-wall the documented consumer
    runbook — re-sync from a snapshot, resume the feed from the
    rename version — must reconverge the mirror (phase 2)."""
    import threading

    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    def handle():
        return VersionedTable(
            str(tmp_path / "t"), delta_log_min_files=0, checkpoint_every=4
        )

    t = handle()
    t.append_clustered(
        _df(spark, [(i, "base") for i in range(60)]), "k", n_groups=2
    )

    errors: list = []

    def retrying(fn, what: str) -> None:
        for _attempt in range(20):
            try:
                fn()
                return
            except CommitConflictError:
                continue
        raise RuntimeError(f"{what} never landed")

    def appender(col: str, base_key: int) -> None:
        try:
            h = handle()
            for j in range(3):
                lo = base_key + j * 100
                h.append(
                    spark.createDataFrame(
                        [(lo + i, f"a{j}") for i in range(10)],
                        f"k long, {col} string",
                    ),
                    stats_cols=["k"],
                )
        except Exception as e:
            errors.append(e)

    def captured_merger(col: str) -> None:
        try:
            h = handle()
            for j in range(2):
                src = spark.createDataFrame(
                    [(i, f"m{j}") for i in range(0, 30)],
                    f"k long, {col} string",
                )
                retrying(
                    lambda s=src: h.merge(
                        spark, s, keys=["k"], emit_changes=True
                    ),
                    f"captured merge {j}",
                )
        except Exception as e:
            errors.append(e)

    def analyzer() -> None:
        try:
            h = handle()
            for _ in range(2):
                retrying(lambda: h.analyze(spark, ["k"]), "analyze")
        except Exception as e:
            errors.append(e)

    def compactor() -> None:
        # predicate-scoped OPTIMIZE racing the other writers: rebases
        # over the appenders' blind appends, retries over the mergers'
        # rewrites (a real conflict — same retry contract as merge)
        try:
            h = handle()
            retrying(
                lambda: h.compact_where(spark, ("k", 10_000, 99_999)),
                "compact_where",
            )
        except Exception as e:
            errors.append(e)

    def sink_committer(col: str, base_key: int) -> None:
        # the native sink's two-phase path under contention: stage a
        # group pure-pyarrow (executor-side code), publish through
        # commit_staged — whose blind-append retry must commute with
        # every other writer here, batch-id slots staying exactly-once
        from netflow_analysis_with_spark_streaming_spark.storage.stream_sink import (
            VersionedSinkWriter,
        )

        try:
            schema_json = spark.createDataFrame(
                [], f"k long, {col} string"
            ).schema.json()
            w = VersionedSinkWriter(
                str(tmp_path / "t"), schema_json, {}, [], ["k"]
            )
            import pyarrow as pa

            for j in range(2):
                rows = [(base_key + j * 100 + i, f"s{j}") for i in range(10)]
                batch = pa.RecordBatch.from_arrays(
                    [
                        pa.array([r[0] for r in rows], type=pa.int64()),
                        pa.array([r[1] for r in rows]),
                    ],
                    names=["k", col],
                )
                m = w.write(iter([batch]))
                w.commit([m], batchId=900_000 + j)
                w.commit([w.write(iter([batch]))], batchId=900_000 + j)  # replay
        except Exception as e:
            errors.append(e)

    # ---- phase 1: append x analyze x captured-merge x scoped-OPTIMIZE
    # x native-sink commit ----
    threads = [
        threading.Thread(target=appender, args=("v", 10_000)),
        threading.Thread(target=appender, args=("v", 20_000)),
        threading.Thread(target=captured_merger, args=("v",)),
        threading.Thread(target=analyzer),
        threading.Thread(target=compactor),
        threading.Thread(target=sink_committer, args=("v", 50_000)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"phase-1 thread(s) failed: {errors}"
    # quiescent point 1: metadata invariants + full feed consistency
    assert t.fsck() == []
    vs = t.versions()
    assert vs == list(range(len(vs)))  # dense chain, no holes
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    # base + 6 appends + 2 sink batches (their replays are no-ops)
    assert t.count_rows() == len(rows) == 60 + 60 + 20
    for k in range(0, 30):
        assert rows[k].startswith("m")  # some merger pass won
    for k in range(30, 60):
        assert rows[k] == "base"
    for j in range(2):  # sink rows exactly once, despite the replay
        for i in range(10):
            assert rows[50_000 + j * 100 + i] == f"s{j}"
    mirror1 = VersionedTable(str(tmp_path / "m1"))
    mirror_from_feed(spark, t, mirror1, keys=["k"], since_version=-1)
    got = {(r["k"], r["v"]) for r in mirror1.read(spark).collect()}
    assert got == set(rows.items())  # mirror == source, from feed alone

    # ---- phase 2: rename feed wall, then more interleaved writes ----
    rv = t.rename_column("v", "w")
    threads = [
        threading.Thread(target=appender, args=("w", 30_000)),
        threading.Thread(target=captured_merger, args=("w",)),
        threading.Thread(target=analyzer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"phase-2 thread(s) failed: {errors}"
    assert t.fsck() == []
    rows2 = {r["k"]: r["w"] for r in t.read(spark).collect()}
    assert t.count_rows() == len(rows2) == 140 + 30
    # feed windows crossing the rename fail with the actionable error
    with pytest.raises(ValueError, match="rename_column|change feed"):
        t.feed_slices(-1, t.latest_version())
    # the runbook: re-sync the consumer from a snapshot AT the rename,
    # then resume the feed from there — must reconverge exactly
    mirror2 = VersionedTable(str(tmp_path / "m2"))
    mirror2.append(t.read(spark, version=rv))
    mirror_from_feed(spark, t, mirror2, keys=["k"], since_version=rv)
    got2 = {(r["k"], r["w"]) for r in mirror2.read(spark).collect()}
    assert got2 == set(rows2.items())


# --- ANALYZE (data-skipping index backfill) -----------------------------


def test_analyze_backfills_skipping_index(spark, tmp_path):
    """analyze() turns an unindexed ingest table prunable WITHOUT
    rewriting data: same file list byte-for-byte, enriched stats.
    Range pruning and bloom point pruning both start working; rows,
    counts and the change feed are untouched; existing (tighter)
    stats survive."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a") for i in range(100)]))  # no stats_cols
    t.append(_df(spark, [(i, "b") for i in range(1000, 1100)]))
    before = t.snapshot_files()
    assert len(t.snapshot_files(prune=("k", 0, 99))) == 2  # unindexed: all kept
    v = t.analyze(spark, ["k"], bloom_cols=["k"])
    assert v == 2
    assert t.history()[-1]["action"] == "analyze"
    assert t.snapshot_files() == before  # METADATA-only: files identical
    assert t.snapshot_files(prune=("k", 0, 99)) == [before[0]] or len(
        t.snapshot_files(prune=("k", 0, 99))
    ) == 1
    assert len(t.snapshot_files(point=("k", 5))) == 1  # bloom excludes group 2
    assert len(t.snapshot_files(point=("k", 550))) == 0  # in neither group
    assert t.count_rows() == t.read(spark).count() == 200
    # feed: analyze is row-preserving, contributes nothing
    feed = t.read_change_feed(spark, -1)
    assert feed.filter("_commit_version = 2").count() == 0
    # idempotent no-op when fully indexed
    assert t.analyze(spark, ["k"], bloom_cols=["k"]) == 2
    assert t.latest_version() == 2


def test_analyze_preserves_tighter_existing_stats(spark, tmp_path):
    """A clustered append already carries per-bucket stats; analyze
    must not widen them (the group-level recompute would produce the
    same bounds here, but the contract is LEAVE indexed groups
    alone) and must only index the groups that lack stats."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(100)]), "k", n_groups=4)
    m_before = t._manifest(0)
    clustered_stats = {
        f: m_before["stats"][f]["k"] for f in m_before["files"]
    }
    t.append(_df(spark, [(i, "y") for i in range(5000, 5100)]))  # unindexed
    t.analyze(spark, ["k"])
    m = t._manifest(t.latest_version())
    for f, bounds in clustered_stats.items():
        assert m["stats"][f]["k"] == bounds  # untouched
    new_group = [f for f in m["files"] if f not in clustered_stats]
    assert len(new_group) == 1
    assert m["stats"][new_group[0]]["k"] == [5000, 5099]


def test_analyze_rows_backfill_and_all_null_group(spark, tmp_path):
    """__rows__ backfills from footers for legacy groups (simulated by
    stripping the stat), and an all-NULL column records [None, None]
    — the same convention metadata_min_max expects from write-time
    stats."""
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(spark.createDataFrame([(None, "n")], "k long, v string"))
    # strip __rows__ from v1's stats to simulate a legacy manifest
    p = _os.path.join(t.root, "_log", "00000001.json")
    m = json.load(open(p))
    for st in (m.get("stats") or {}).values():
        st.pop("__rows__", None)
    json.dump(m, open(p, "w"), default=str)
    t2 = VersionedTable(t.root)
    t2.analyze(spark, ["k"])
    m2 = t2._manifest(t2.latest_version())
    for f in m2["files"]:
        assert "__rows__" in m2["stats"][f]
    assert t2.count_rows() == 3
    null_group = [f for f in m2["files"] if m2["stats"][f]["k"][0] is None]
    assert len(null_group) == 1
    assert m2["stats"][null_group[0]]["k"] == [None, None]
    assert t2.metadata_min_max("k") == (1, 2)


def test_analyze_rebases_over_any_append(spark, tmp_path):
    """analyze's stats describe groups appends never touch, so its
    rebase over blind appends is UNCONDITIONAL — the appended group
    simply stays unindexed until the next analyze."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a") for i in range(50)]))
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).append(
            _df(spark, [(999, "race")])
        ),
    )
    v = loser.analyze(spark, ["k"])
    assert v == 2
    m = t._manifest(2)
    assert len(m["files"]) == 2  # racer's group folded in by reference
    indexed = [f for f in m["files"] if "k" in m["stats"].get(f, {})]
    assert len(indexed) == 1  # the pre-race group; racer stays unindexed
    assert t.read(spark).count() == 51


def test_analyze_bloom_ndv_sizing_and_saturation_drop(spark, tmp_path, monkeypatch):
    """analyze sizes blooms from the LARGEST target group's NDV (the
    compaction discipline) and DROPS a column that would saturate at
    any affordable size instead of recording a useless all-ones
    bitmap — min/max stats still land."""
    from netflow_analysis_with_spark_streaming_spark.storage import versioned as V

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(3000)]))  # NDV 3000 > default m budget
    # grown bitmap case: default 4096 bits can't hold 3000 keys at <=50%
    # fill, so m must grow (3000*1.2*3/ln2 ~ 15.6k -> 16384)
    t.analyze(spark, ["k"], bloom_cols=["k"])
    m1 = t._manifest(t.latest_version())
    f = m1["files"][0]
    bloom = m1["stats"][f]["__bloom__"]["k"]
    assert bloom["m"] > V._BLOOM_M and bloom["m"] <= V._BLOOM_M_MAX
    assert m1["stats"][f]["k"] == [0, 2999]
    # saturation case: cap the max so the same NDV is unaffordable
    t2 = VersionedTable(str(tmp_path / "t2"))
    t2.append(_df(spark, [(i, "x") for i in range(3000)]))
    monkeypatch.setattr(V, "_BLOOM_M_MAX", V._BLOOM_M)
    t2.analyze(spark, ["k"], bloom_cols=["k"])
    m2 = t2._manifest(t2.latest_version())
    f2 = m2["files"][0]
    assert "k" not in (m2["stats"][f2].get("__bloom__") or {})  # dropped
    assert m2["stats"][f2]["k"] == [0, 2999]  # min/max still recorded


# --- column mapping: metadata-only RENAME / DROP COLUMN (protocol 3) ---


def test_rename_column_metadata_only(spark, tmp_path):
    """RENAME COLUMN moves no data: file list byte-identical, reads at
    the new name, appends after the rename land under the ORIGINAL
    physical name (fixed-physical rule), time travel shows the old
    name, stats re-key so pruning on the new name works, and the
    manifest stamps protocol 3 only once a mapping exists."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, f"v{i}") for i in range(40)]), "k", n_groups=2)
    assert t._manifest(0)["writer_version"] == 2  # no mapping yet
    before = t.snapshot_files()
    v = t.rename_column("k", "id")
    m = t._manifest(v)
    assert m["writer_version"] == 3
    assert m["column_mapping"] == {"id": "k"}
    assert t.snapshot_files() == before  # metadata only
    got = t.read(spark)
    assert set(got.columns) == {"id", "v"}
    assert sorted(r["id"] for r in got.collect()) == list(range(40))
    # stats re-keyed: pruning on the NEW name is selective
    assert len(t.snapshot_files(prune=("id", 0, 5))) < len(before)
    # time travel: the pre-rename version keeps the old name
    assert set(t.read(spark, version=0).columns) == {"k", "v"}
    # post-rename append: logical "id" lands under physical "k"
    t.append(spark.createDataFrame([(1000, "x")], "id long, v string"))
    import os

    import pyarrow.parquet as pq

    new_group = [f for f in t.snapshot_files() if f not in before]
    gdir = os.path.join(t.root, new_group[0])
    part = [f for f in os.listdir(gdir) if f.endswith(".parquet")][0]
    assert "k" in pq.read_schema(os.path.join(gdir, part)).names
    assert sorted(r["id"] for r in t.read(spark).collect())[-1] == 1000
    assert t.count_rows() == 41


def test_rename_column_back_returns_to_protocol_2(spark, tmp_path):
    """Renaming back to the original name drops the mapping entry and
    the table returns to protocol 2 — protocol is feature-gated, not
    ratcheted."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.rename_column("k", "id")
    v = t.rename_column("id", "k")
    m = t._manifest(v)
    assert "column_mapping" not in m
    assert m["writer_version"] == 2
    assert {r["k"] for r in t.read(spark).collect()} == {1}


def test_rename_column_validation(spark, tmp_path):
    """Unknown source, existing target, and physical-name collisions
    all refuse loudly."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("zz", "id")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("k", "v")
    t.rename_column("k", "id")
    # "k" is now the physical of "id": renaming v -> k would make two
    # logicals share a physical on future reads
    with pytest.raises(ValueError, match="physical"):
        t.rename_column("v", "k")


def test_drop_column_metadata_only_and_name_retired(spark, tmp_path):
    """DROP COLUMN is metadata-only (files identical; the scan never
    reads the dropped bytes via parquet column pruning), re-adding the
    dropped name is refused (would resurrect old bytes), time travel
    still shows the column, and CoW rewrites shed the dropped data
    physically."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"v{i}", i * 1.5) for i in range(20)],
            "k long, v string, score double",
        )
    )
    before = t.snapshot_files()
    v = t.drop_column("score")
    m = t._manifest(v)
    assert t.snapshot_files() == before
    assert m["retired_physical"] == ["score"]
    assert m["writer_version"] == 3
    assert set(t.read(spark).columns) == {"k", "v"}
    assert set(t.read(spark, version=0).columns) == {"k", "v", "score"}
    with pytest.raises(SchemaEvolutionError, match="physical"):
        t.append(
            spark.createDataFrame([(100, "x", 9.9)], "k long, v string, score double")
        )
    # a different name is fine
    t.append(
        spark.createDataFrame([(100, "x", 9.9)], "k long, v string, score2 double")
    )
    assert set(t.read(spark).columns) == {"k", "v", "score2"}
    assert t.read(spark).filter("k = 100").collect()[0]["score2"] == 9.9


def test_rename_then_mutations_round_trip(spark, tmp_path):
    """The whole write surface keeps working after a rename: CoW
    delete, DV delete, merge and compaction all read/write through the
    mapping, and the final rowset matches the plain-SQL expectation."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, f"v{i}") for i in range(100)]), "k", n_groups=4)
    t.rename_column("k", "id")
    t.delete_where(spark, "id < 10", prune=("id", 0, 9))
    t.delete_where_dv(spark, "id >= 95")
    t.merge(
        spark,
        spark.createDataFrame([(50, "M"), (500, "NEW")], "id long, v string"),
        keys=["id"],
    )
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 86  # 100 - 10 - 5 + 1 insert (50 updates in place)
    assert got[50] == "M" and got[500] == "NEW"
    assert 5 not in got and 97 not in got
    assert t.count_rows() == 86
    t.compact(spark, target_partitions=2)
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == got
    assert t.count_rows() == 86


def test_rename_feed_and_clone_and_restore(spark, tmp_path):
    """Feed semantics across a rename: the rename is a feed WALL
    (windows crossing it raise); a fresh window after it streams the
    renamed columns correctly off physical-named files. Clone carries
    the mapping; restore to a pre-rename version restores the old
    name but keeps retired physicals retired."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # v0
    t.rename_column("k", "id")  # v1: feed wall
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))  # v2
    with pytest.raises(ValueError, match="change feed|rename"):
        t.read_change_feed(spark, -1).collect()
    post = t.read_change_feed(spark, 1)  # window after the wall
    assert {(r["id"], r["_change_type"]) for r in post.collect()} == {
        (2, "insert")
    }
    c = t.clone(str(tmp_path / "c"))
    assert {r["id"] for r in c.read(spark).collect()} == {1, 2}
    assert c._manifest(0)["column_mapping"] == {"id": "k"}
    # drop then restore past it: name returns, physical stays retired
    t.drop_column("v")  # v3
    t.restore(2)  # v4
    assert set(t.read(spark).columns) == {"id", "v"}
    m = t._manifest(t.latest_version())
    assert m["retired_physical"] == ["v"]
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )
    # "v" exists again (restored), so appending it is fine; a NET-NEW
    # column named like the retired physical of a column that no
    # longer exists would be refused — simulate by dropping v again
    t.drop_column("v")
    with pytest.raises(SchemaEvolutionError):
        t.append(spark.createDataFrame([(9, "z")], "id long, v string"))


def test_rewrite_fails_closed_on_concurrent_rename(spark, tmp_path):
    """A rewrite racing a concurrent RENAME COLUMN must not rebase:
    its files were written under the old mapping's physical names and
    its schema under the old logical names."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(50)]), "k", n_groups=2)
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).rename_column("v", "val"),
    )
    with pytest.raises(CommitConflictError):
        loser.delete_where(spark, "k < 10", prune=("k", 0, 9))
    assert set(t.read(spark).columns) == {"k", "val"}
    assert t.read(spark).count() == 50  # delete did not land


def test_stream_feed_after_rename_translates_physical(spark, tmp_path):
    """The streaming feed's executor-side arrow reader resolves
    logical names through the window's mapping: post-rename appends
    (physical-named files) stream under the logical name instead of
    silently NULL-padding."""
    from netflow_analysis_with_spark_streaming_spark.storage.stream_source import (
        FORMAT_NAME,
        register_feed_source,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.rename_column("k", "id")
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    register_feed_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("startingversion", 1)  # fresh window after the wall
        .load()
    )
    q = (
        reader.writeStream.format("memory")
        .queryName("feed_renamed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT id, v FROM feed_renamed").collect()
    assert [(r["id"], r["v"]) for r in rows] == [(2, "b")]


def test_count_rows_dv_partially_orphaned_by_subgroup_rewrite(spark, tmp_path):
    """DVs ride at parent-GROUP granularity while pruned rewrites drop
    individual clustered SUBGROUP files — a carried vector can then
    reference dead files. Reads already ignore those positions (the
    anti-join key never matches); the metadata count must too: only
    positions in LIVE files subtract. No column mapping involved —
    pure DV/rewrite interplay (found by the round-9 rename battery,
    reproducible without it)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, f"v{i}") for i in range(100)]), "k", n_groups=4)
    # one DV delete spanning two clustered subgroups (k=48..52 straddles
    # the 25-row range buckets)
    t.delete_where_dv(spark, "k >= 48 AND k < 53", prune=("k", 48, 52))
    assert t.count_rows() == t.read(spark).count() == 95
    # pruned CoW delete rewrites ONLY the subgroup holding k<25 — the
    # DV (keyed by the parent group) carries with its other subgroups
    t.delete_where(spark, "k < 5", prune=("k", 0, 4))
    assert t.count_rows() == t.read(spark).count() == 90
    # now rewrite ONE of the DV'd subgroups via a pruned merge: part of
    # the carried vector's positions go dead with the dropped file
    t.merge(
        spark,
        _df(spark, [(49, "M")]),
        keys=["k"],
    )
    assert t._manifest(t.latest_version())["dvs"], "vector still carried"
    assert t.count_rows() == t.read(spark).count() == 91


def test_append_racing_rename_fails_loudly(spark, tmp_path):
    """An append losing the version race to a RENAME COLUMN must not
    silently publish: its file was written under the OLD name, and the
    retry's schema re-derivation hits the physical-name guard (the old
    name is now the renamed column's physical) — a loud
    SchemaEvolutionError, never a silent two-column table."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    loser = VersionedTable(str(tmp_path / "t"))
    _inject_once(
        loser,
        lambda: VersionedTable(str(tmp_path / "t")).rename_column("k", "id"),
    )
    with pytest.raises(SchemaEvolutionError, match="physical"):
        loser.append(_df(spark, [(2, "b")]))
    # nothing half-landed: the rename is the latest version and reads fine
    assert t.latest_version() == 1
    assert {r["id"] for r in t.read(spark).collect()} == {1}


def test_column_mapping_model_fuzz(spark, tmp_path):
    """Seeded random rename/drop/append/delete sequences against a
    python model tracking the logical view: after every op the read
    equals the model (names AND values), and at the end every recorded
    checkpoint time-travels back name-faithfully."""
    import random

    for seed, delta_log in ((5, False), (19, True)):
        rng = random.Random(seed)
        # seed 19 forces protocol-4 delta records so the mapping rides
        # (and materializes through) delta chains on every op
        t = (
            VersionedTable(
                str(tmp_path / f"t{seed}"),
                delta_log_min_files=0,
                checkpoint_every=4,
            )
            if delta_log
            else VersionedTable(str(tmp_path / f"t{seed}"))
        )
        # model: list of (logical_name,) column order + {key: row dict}
        cols = ["k", "a", "b"]
        t.append(
            spark.createDataFrame(
                [(i, f"a{i}", float(i)) for i in range(20)],
                "k long, a string, b double",
            )
        )
        rows = {i: {"k": i, "a": f"a{i}", "b": float(i)} for i in range(20)}
        snaps = []
        fresh = 0
        for step in range(10):
            op = rng.choice(
                ["rename", "append", "delete", "rename_back", "drop", "optimize"]
            )
            if op == "rename":
                old = rng.choice([c for c in cols if c != "k"])
                new = f"c{step}"
                t.rename_column(old, new)
                cols = [new if c == old else c for c in cols]
                for r in rows.values():
                    r[new] = r.pop(old)
            elif op == "rename_back" and any(c.startswith("c") for c in cols):
                old = rng.choice([c for c in cols if c.startswith("c")])
                new = f"d{step}"
                t.rename_column(old, new)
                cols = [new if c == old else c for c in cols]
                for r in rows.values():
                    r[new] = r.pop(old)
            elif op == "append":
                # key-only append: omitted columns read NULL from the
                # new files under whatever names they hold at read time
                fresh += 1
                base = 100 * fresh
                new_rows = [(base + j,) for j in range(3)]
                t.append(spark.createDataFrame(new_rows, "k long"))
                for (kk,) in new_rows:
                    rows[kk] = {"k": kk, **{c: None for c in cols if c != "k"}}
            elif op == "delete":
                cut = rng.randint(0, 6)
                t.delete_where(spark, f"k % 7 = {cut}")
                rows = {k: r for k, r in rows.items() if k % 7 != cut}
            elif op == "drop" and len(cols) > 2:
                victim = rng.choice([c for c in cols if c != "k"])
                t.drop_column(victim)
                cols = [c for c in cols if c != victim]
                for r in rows.values():
                    r.pop(victim, None)
            elif op == "optimize":
                # predicate-scoped OPTIMIZE under whatever mapping the
                # sequence built: strictly row-preserving, so the
                # MODEL does not change — the read-equals-model check
                # below is the assertion that the fold resurrected and
                # lost nothing under renamed/dropped physical names
                lo = rng.randint(0, 200)
                t.compact_where(spark, ("k", lo, lo + 300), min_groups=2)
            got = {r["k"]: r.asDict() for r in t.read(spark).collect()}
            want = {k: {c: r.get(c) for c in cols} for k, r in rows.items()}
            assert got == want, (seed, step, op)
            assert t.count_rows() == len(rows)
            if rng.random() < 0.4:
                snaps.append(
                    (t.latest_version(), sorted(cols), {k: dict(v) for k, v in want.items()})
                )
        for v, cs, snap in snaps:
            df = t.read(spark, version=v)
            assert sorted(df.columns) == cs, (seed, v)
            got = {r["k"]: r.asDict() for r in df.collect()}
            assert got == snap, (seed, v)


def test_vacuum_dry_run_predicts_real_run(spark, tmp_path):
    """vacuum(dry_run=True) computes the same keep-set and age checks
    but deletes nothing — its count equals the subsequent real run's,
    and history/data are untouched in between."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(3, "c")]))
    would = t.vacuum(min_age_s=0, dry_run=True)
    assert would > 0
    assert t.versions() == [0, 1, 2]  # nothing touched
    assert t.read(spark, version=0).count() == 1  # time travel intact
    assert t.vacuum(min_age_s=0) == would
    assert t.versions() == [2]


def test_operation_metrics_per_action(spark, tmp_path):
    """operation_metrics derives file/row deltas per commit from
    manifests alone: append adds, CoW delete removes+adds, DV delete
    reports invalidated positions with no file churn, merge both."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(100)]), "k", n_groups=4)
    m0 = t.operation_metrics(0)
    assert (m0["action"], m0["files_added"], m0["rows_added"]) == ("append", 4, 100)
    assert m0["files_removed"] == 0 and m0["rows_removed"] == 0
    t.delete_where(spark, "k < 10", prune=("k", 0, 9))  # v1: 1 group rewritten
    m1 = t.operation_metrics(1)
    assert m1["action"] == "delete"
    assert m1["files_removed"] == 1 and m1["rows_removed"] == 25
    assert m1["rows_added"] == 15  # survivors of the rewritten bucket
    t.delete_where_dv(spark, "k >= 95")  # v2: positions only
    m2 = t.operation_metrics(2)
    assert (m2["files_added"], m2["files_removed"]) == (0, 0)
    assert m2["rows_dv_invalidated"] == 5
    t.merge(spark, _df(spark, [(50, "M"), (500, "N")]), keys=["k"])  # v3
    m3 = t.operation_metrics(3)
    assert m3["action"] == "merge"
    assert m3["files_added"] >= 1 and m3["files_removed"] >= 1


# --- typed change capture: CDF across MERGE/UPSERT ----------------------


def test_merge_emit_changes_typed_feed(spark, tmp_path):
    """merge(emit_changes=True) removes the 'merge is a feed wall'
    limitation (Delta CDF-for-MERGE): the capture group carries both
    directions per row — an update arrives as delete preimage +
    insert postimage of the same key, an insert alone, a matched
    delete alone — and read_change_feed serves them typed."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, f"v{i}") for i in range(50)]), "k", n_groups=2)
    t.merge(
        spark,
        _df(spark, [(5, "NEW5"), (500, "INS")]),
        keys=["k"],
        emit_changes=True,
    )  # v1: update k=5, insert k=500
    t.merge(
        spark,
        _df(spark, [(7, "ignored")]),
        keys=["k"],
        when_matched="delete",
        when_not_matched="ignore",
        emit_changes=True,
    )  # v2: delete k=7
    feed = t.read_change_feed(spark, 0)
    rows = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    }
    assert rows == {
        (5, "v5", "delete", 1),   # update preimage
        (5, "NEW5", "insert", 1),  # update postimage
        (500, "INS", "insert", 1),
        (7, "v7", "delete", 2),
    }
    # the table itself is right too
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[5] == "NEW5" and got[500] == "INS" and 7 not in got
    assert len(got) == 50  # 50 - 1 delete + 1 insert


def test_upsert_emit_changes_and_mor_strategy(spark, tmp_path):
    """upsert(emit_changes=True) captures the same way, and the
    merge-on-read strategy captures IDENTICAL typed rows (mechanism
    equivalence on the change feed): preimages come from the
    DV-applied read so an already-dead row never re-emits."""
    rows_by_strategy = {}
    for strat in ("cow", "mor"):
        t = VersionedTable(str(tmp_path / strat))
        t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        t.delete_where_dv(spark, "k = 3")  # k=3 dead before the upsert
        t.upsert(
            spark,
            _df(spark, [(2, "B2"), (3, "C2"), (9, "i")]),
            keys=["k"],
            strategy=strat,
            emit_changes=True,
        )
        feed = t.read_change_feed(spark, 1)  # just the upsert commit
        rows_by_strategy[strat] = {
            (r["k"], r["v"], r["_change_type"]) for r in feed.collect()
        }
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got == {1: "a", 2: "B2", 3: "C2", 9: "i"}, strat
    want = {
        (2, "b", "delete"),  # preimage of the update
        (2, "B2", "insert"),
        (3, "C2", "insert"),  # k=3 was DV-dead: plain insert, no preimage
        (9, "i", "insert"),
    }
    assert rows_by_strategy["cow"] == rows_by_strategy["mor"] == want


def test_uncaptured_merge_still_walls(spark, tmp_path):
    """Without emit_changes, merge/upsert stay feed walls with a loud
    error — silence was never an option, and capture is opt-in."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.merge(spark, _df(spark, [(1, "A")]), keys=["k"])
    with pytest.raises(ValueError, match="change feed|emit_changes"):
        t.read_change_feed(spark, -1).collect()
    # and the full-sync clause refuses capture outright (table-sized)
    with pytest.raises(ValueError, match="table-sized|snapshot"):
        t.merge(
            spark,
            _df(spark, [(1, "B")]),
            keys=["k"],
            when_not_matched_by_source="delete",
            emit_changes=True,
        )


def test_mirror_replicates_across_captured_merge(spark, tmp_path):
    """mirror_from_feed applies typed slices: updates land as upserts,
    pure deletes as deletes, replay no-ops on both batch-id halves —
    CDC replication now survives source MERGEs."""
    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    src = VersionedTable(str(tmp_path / "src"))
    dst = VersionedTable(str(tmp_path / "dst"))
    src.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src.merge(
        spark,
        _df(spark, [(2, "B"), (9, "i")]),
        keys=["k"],
        emit_changes=True,
    )
    src.merge(
        spark,
        _df(spark, [(1, "x")]),
        keys=["k"],
        when_matched="delete",
        when_not_matched="ignore",
        emit_changes=True,
    )
    src.delete_where(spark, "k = 3", emit_changes=True)
    wm = mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)

    def rows(t):
        return sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    assert rows(dst) == rows(src) == [(2, "B"), (9, "i")]
    before = dst.latest_version()
    mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)  # replay
    assert dst.latest_version() == before
    src.upsert(spark, _df(spark, [(2, "B2")]), keys=["k"], emit_changes=True)
    mirror_from_feed(spark, src, dst, keys=["k"], since_version=wm)
    assert rows(dst) == rows(src) == [(2, "B2"), (9, "i")]


def test_ivm_maintains_across_captured_merge(spark, tmp_path):
    """Sign-based incremental view maintenance needs NO changes for
    typed slices: an update's delete+insert pair nets the measure
    delta exactly, so the maintained SUM equals a from-scratch
    recompute after a captured merge."""
    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        maintain_from_feed,
    )

    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    fact.append(
        spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 7.0)], "g long, m double"
        )
    )
    maintain_from_feed(spark, fact, agg, keys=["g"], measures=["m"], since_version=-1)
    wm = fact.latest_version()
    fact.merge(
        spark,
        spark.createDataFrame([(2, 100.0), (3, 1.0)], "g long, m double"),
        keys=["g"],
        emit_changes=True,
    )  # update g=2: 7 -> 100; insert g=3
    maintain_from_feed(spark, fact, agg, keys=["g"], measures=["m"], since_version=wm)
    got = {
        r["g"]: r["sum_m"]
        for r in agg.read(spark).select("g", "sum_m").collect()
    }
    want = {
        r["g"]: r["sum_m"]
        for r in fact.read(spark).groupBy("g").agg(F.sum("m").alias("sum_m")).collect()
    }
    assert got == want == {1: 15.0, 2: 100.0, 3: 1.0}


def test_replication_chain_composes(spark, tmp_path):
    """mirror_from_feed(emit_changes=True) makes the MIRROR a
    consumable change feed: a two-hop chain source -> m1 -> m2 stays
    row-identical through appends, a captured merge, and a captured
    delete — replication composes instead of dead-ending after one
    hop."""
    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    src = VersionedTable(str(tmp_path / "src"))
    m1 = VersionedTable(str(tmp_path / "m1"))
    m2 = VersionedTable(str(tmp_path / "m2"))
    src.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src.merge(spark, _df(spark, [(2, "B"), (9, "i")]), keys=["k"], emit_changes=True)
    src.delete_where(spark, "k = 1", emit_changes=True)
    wm1 = mirror_from_feed(
        spark, src, m1, keys=["k"], since_version=-1, emit_changes=True
    )
    wm2 = mirror_from_feed(spark, m1, m2, keys=["k"], since_version=-1)

    def rows(t):
        return sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    assert rows(m2) == rows(m1) == rows(src) == [(2, "B"), (3, "c"), (9, "i")]
    # incremental continuation down the chain
    src.upsert(spark, _df(spark, [(3, "C3")]), keys=["k"], emit_changes=True)
    wm1 = mirror_from_feed(
        spark, src, m1, keys=["k"], since_version=wm1, emit_changes=True
    )
    mirror_from_feed(spark, m1, m2, keys=["k"], since_version=wm2)
    assert rows(m2) == rows(m1) == rows(src)


def test_typed_capture_under_column_mapping(spark, tmp_path):
    """A captured merge AFTER a rename: the capture group lands under
    physical names and the typed feed reads back under the CURRENT
    logical names — column mapping and CDF-for-MERGE compose."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("v", "val")  # v1: feed wall + mapping {val: v}
    t.merge(
        spark,
        spark.createDataFrame([(2, "B"), (9, "i")], "k long, val string"),
        keys=["k"],
        emit_changes=True,
    )  # v2: typed capture, physical-named
    feed = t.read_change_feed(spark, 1)
    rows = {(r["k"], r["val"], r["_change_type"]) for r in feed.collect()}
    assert rows == {
        (2, "b", "delete"),
        (2, "B", "insert"),
        (9, "i", "insert"),
    }


def test_replace_where_emit_changes(spark, tmp_path):
    """A captured BACKFILL is feed-consumable: replace_where's typed
    capture carries the replaced scope's old rows as deletes and the
    replacement rows as inserts — and a mirror replicates across it.
    Uncaptured replace_where remains a feed wall."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )

    src = VersionedTable(str(tmp_path / "src"))
    dst = VersionedTable(str(tmp_path / "dst"))
    src.append_clustered(
        _df(spark, [(i, f"old{i}") for i in range(40)]), "k", n_groups=2
    )
    src.replace_where(
        spark,
        _df(spark, [(5, "NEW5"), (7, "NEW7")]),
        "k >= 0 AND k < 10",
        prune=("k", 0, 9),
        emit_changes=True,
    )
    feed = src.read_change_feed(spark, 0)
    rows = {(r["k"], r["v"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(i, f"old{i}", "delete") for i in range(10)} | {
        (5, "NEW5", "insert"),
        (7, "NEW7", "insert"),
    }
    wm = mirror_from_feed(spark, src, dst, keys=["k"], since_version=-1)

    def rowset(t):
        return sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    assert rowset(dst) == rowset(src)
    assert len(rowset(dst)) == 32  # 40 - 10 replaced-out + 2 in
    # uncaptured backfill: still a loud wall
    src.replace_where(
        spark, _df(spark, [(20, "X")]), "k = 20", prune=("k", 20, 20)
    )
    with pytest.raises(ValueError, match="change feed|emit_changes"):
        mirror_from_feed(spark, src, dst, keys=["k"], since_version=wm)


def test_zorder_three_columns_prunes_every_dimension(spark, tmp_path):
    """N-column z-order (round 9 generalization from 2): a 3-D Morton
    layout gives selective pruning on EACH of the three dimensions,
    values round-trip exactly, and the 2-D call path is the N=2
    special case of the same code."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(4096).selectExpr(
        "id AS a",
        "CAST(pmod(id * 37, 4096) AS LONG) AS b",
        "CAST(pmod(id * 101, 4096) AS LONG) AS c",
        "CAST(id AS STRING) AS v",
    )
    t.append_zordered(df, ("a", "b", "c"), n_groups=16, bits=6)
    total = len(t.snapshot_files())
    assert total == 16
    for col in ("a", "b", "c"):
        kept = len(t.snapshot_files(prune=(col, 0, 255)))
        assert kept < total, f"no pruning on {col}: {kept}/{total}"
    # conjunctive multi-dimension prune is tighter than any single one
    multi = len(
        t.snapshot_files(
            prune=[("a", 0, 255), ("b", 0, 255), ("c", 0, 255)]
        )
    )
    assert multi <= min(
        len(t.snapshot_files(prune=(c, 0, 255))) for c in ("a", "b", "c")
    )
    got = sorted(r["a"] for r in t.read(spark, prune=("a", 0, 255)).filter("a < 256").collect())
    assert got == list(range(256))
    assert t.count_rows() == 4096
    # bit-budget gate: 62 bits is the long ceiling
    with pytest.raises(ValueError, match="z-bits"):
        t.append_zordered(df, ("a", "b", "c"), bits=21)
    # N=1 refused
    with pytest.raises(ValueError, match="at least two"):
        t.append_zordered(df, ("a",))


def test_operation_metrics_rows_captured_and_minmax_after_rename(spark, tmp_path):
    """operation_metrics reports the change-capture volume (delete
    preimages / typed merge rows; None = capture off), and
    metadata_min_max answers on the RENAMED column name after a
    metadata-only rename (stats re-keyed in the same commit)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append_clustered(_df(spark, [(i, "x") for i in range(50)]), "k", n_groups=2)
    t.delete_where(spark, "k < 5", prune=("k", 0, 4), emit_changes=True)  # v1
    m1 = t.operation_metrics(1)
    assert m1["rows_captured"] == 5
    t.merge(
        spark, _df(spark, [(10, "M"), (99, "N")]), keys=["k"], emit_changes=True
    )  # v2: typed capture = 1 preimage + 2 postimages
    m2 = t.operation_metrics(2)
    assert m2["rows_captured"] == 3
    t.delete_where(spark, "k = 20", prune=("k", 20, 20))  # v3: capture off
    assert t.operation_metrics(3)["rows_captured"] is None
    t.rename_column("k", "id")
    assert t.metadata_min_max("id") == (5, 99)
    assert t.metadata_min_max("k") is None  # old name gone with the stats key


def test_detail_and_restore_to_timestamp(spark, tmp_path):
    """DESCRIBE DETAIL summarizes the snapshot metadata-only, and
    RESTORE ... TO TIMESTAMP resolves through version_at_timestamp."""
    import json as _json
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where_dv(spark, "k = 2")
    t.rename_column("v", "val")
    d = t.detail()
    assert d["version"] == 2 and d["num_versions"] == 3
    assert d["writer_version"] == 3  # mapping present
    assert d["num_rows"] == 1 and d["num_files"] == 1
    assert d["size_bytes"] > 0
    assert d["column_mapping"] == {"val": "v"}
    assert d["has_deletion_vectors"] is True
    # pin stamps, then restore to the instant of v0
    for v, ts in ((0, 100.0), (1, 200.0), (2, 300.0)):
        p = _os.path.join(t.root, "_log", f"{v:08d}.json")
        m = _json.load(open(p))
        m["ts"] = ts
        _json.dump(m, open(p, "w"), default=str)
    t.restore_to_timestamp(150.0)  # latest at-or-before 150 = v0
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert t.history()[-1]["action"] == "restore"


# --- round-10 ADVICE regressions ----------------------------------------


def test_detail_after_vacuum_past_version_zero(spark, tmp_path):
    """ADVICE r9 #1: DESCRIBE DETAIL on a table whose version-0
    manifest was vacuumed away (the steady state for long-lived
    tables) must fall back to the oldest SURVIVING manifest's ts, not
    raise FileNotFoundError."""
    import json as _json
    import os as _os
    import time as _time

    t = VersionedTable(str(tmp_path / "t"))
    for i in range(4):
        t.overwrite(_df(spark, [(i, "x")]))
    # backdate v0/v1 far beyond any retention window, then vacuum them
    for v, age in ((0, 5000.0), (1, 4000.0)):
        p = _os.path.join(t.root, "_log", f"{v:08d}.json")
        m = _json.load(open(p))
        m["ts"] = _time.time() - age
        _json.dump(m, open(p, "w"))
    t.vacuum(keep_last=1, min_age_s=0, retain_s=600.0)
    assert t.versions()[0] > 0  # v0 manifest is gone
    d = t.detail()
    assert d["version"] == 3 and d["num_rows"] == 1
    # created_ts degraded to the oldest surviving commit's stamp
    oldest = t._manifest(t.versions()[0]).get("ts")
    assert d["created_ts"] == oldest


@_pytest.mark.parametrize("writer", ["append", "append_clustered"])
def test_append_retry_rewrites_under_fresh_mapping(spark, tmp_path, writer):
    """ADVICE r9 #2: an append (plain or clustered — every blind add
    with a SparkSession) losing its commit race to a concurrent
    RENAME must not publish the already-written group (its physical
    names bind to the superseded mapping — silent mis-binding); the
    retry re-writes the group under the fresh mapping. Scenario is the
    advisor's: v renamed to b, writer appends a (k, b) frame, a
    concurrent rename b -> c wins the race mid-commit. The appended
    value must surface under logical 'b' (a fresh column), never under
    'c'."""
    root = str(tmp_path / "t")
    t = VersionedTable(root)
    t.append(_df(spark, [(1, "a")]))  # v0: columns (k, v)
    t.rename_column("v", "b")  # v1: mapping {b: v}
    loser = VersionedTable(root)
    real_commit = loser._commit

    def racing_commit(*args, **kw):
        if not hasattr(racing_commit, "fired"):
            racing_commit.fired = True
            VersionedTable(root).rename_column("b", "c")  # claims v2
        return real_commit(*args, **kw)

    loser._commit = racing_commit
    frame = spark.createDataFrame([(3, "l")], "k long, b string")
    if writer == "append":
        v = loser.append(frame)
    else:
        v = loser.append_clustered(frame, "k")
    assert v == 3
    got = {r["k"]: (r["c"], r["b"]) for r in t.read(spark).collect()}
    # old row reads under 'c' (physical v); appended row's value binds
    # to the re-added logical 'b' — NOT mis-bound under 'c'
    assert got[1] == ("a", None)
    assert got[3] == (None, "l")


def test_append_retry_fails_closed_on_concurrent_drop(spark, tmp_path):
    """ADVICE r9 #2 (drop flavor): a concurrent DROP COLUMN retiring
    the physical the append just wrote must fail the retry closed
    (SchemaEvolutionError via the retired-name guard) — never
    resurrect the dropped column's bytes by publishing the stale
    group."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        SchemaEvolutionError,
    )

    root = str(tmp_path / "t")
    t = VersionedTable(root)
    t.append(_df(spark, [(1, "a")]))  # v0: (k, v)
    loser = VersionedTable(root)
    real_commit = loser._commit

    def racing_commit(*args, **kw):
        if not hasattr(racing_commit, "fired"):
            racing_commit.fired = True
            VersionedTable(root).drop_column("v")  # retires physical 'v'
        return real_commit(*args, **kw)

    loser._commit = racing_commit
    with pytest.raises(SchemaEvolutionError, match="physical"):
        loser.append(_df(spark, [(3, "l")]))
    # nothing published: table is the winner's snapshot
    assert set(t.read(spark).columns) == {"k"}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1]


def test_rename_drop_refuse_constrained_column(spark, tmp_path):
    """ADVICE r9 #3: renaming/dropping a column referenced by a CHECK
    constraint is refused (Delta's stance) — otherwise every later
    write's _enforce raises unresolved-column and the table is wedged.
    String literals in predicates don't count as references; dropping
    the constraint unblocks the rename."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.set_check_constraint("k_pos", "k > 0")
    t.set_check_constraint("v_lit", "v != 'k'")  # 'k' only as a literal
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("k", "id")
    with pytest.raises(ValueError, match="CHECK"):
        t.drop_column("k")
    # the literal-only reference must NOT block v's rename on account
    # of k; v itself is referenced by v_lit though
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("v", "w")
    t.drop_check_constraint("v_lit")
    t.rename_column("v", "w")  # unblocked
    t.drop_check_constraint("k_pos")
    t.rename_column("k", "id")
    assert set(t.read(spark).columns) == {"id", "w"}


# --- protocol-4 delta-encoded commit records (round 10) -----------------


def _delta_table(tmp_path, name="t", ckpt=4):
    return VersionedTable(
        str(tmp_path / name), delta_log_min_files=0, checkpoint_every=ckpt
    )


def test_delta_log_differential_vs_full(spark, tmp_path):
    """Twin tables — one writing protocol-4 delta records, one full
    manifests — driven through the same mutation history must agree on
    every materialized snapshot: rows at every version, stats index,
    DV sets, feed slices, and metadata-only count."""
    td = _delta_table(tmp_path, "d")
    tf = VersionedTable(str(tmp_path / "f"))
    for t in (td, tf):
        t.append(
            _df(spark, [(i, f"v{i}") for i in range(20)]), stats_cols=["k"]
        )
        t.append(
            _df(spark, [(100 + i, f"w{i}") for i in range(5)]),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
        t.delete_where_dv(spark, "k % 4 = 1", emit_changes=True)
        t.upsert(
            spark,
            _df(spark, [(2, "U"), (500, "N")]),
            keys=["k"],
            emit_changes=True,
        )
        t.append(_df(spark, [(600, "z")]), stats_cols=["k"])
    assert td.latest_version() == tf.latest_version()
    for v in td.versions():
        md, mf = td._manifest(v), tf._manifest(v)
        assert len(md["files"]) == len(mf["files"]), v
        got_d = sorted(
            (r["k"], r["v"]) for r in td.read(spark, version=v).collect()
        )
        got_f = sorted(
            (r["k"], r["v"]) for r in tf.read(spark, version=v).collect()
        )
        assert got_d == got_f, v
        assert td.count_rows(v) == tf.count_rows(v), v
        # the skipping index carries the same COLUMN bounds per version
        def bounds(t, m):
            out = {}
            for f, s in (m.get("stats") or {}).items():
                for c, rng in s.items():
                    if c == "k":
                        out.setdefault(c, []).append(tuple(rng))
            return {c: sorted(v) for c, v in out.items()}
        assert bounds(td, md) == bounds(tf, mf), v
    # feed plans agree slice-for-slice (shape + change kinds)
    sd = td.feed_slices(-1)
    sf = tf.feed_slices(-1)
    assert [(v, kind, len(g)) for v, kind, g in sd] == [
        (v, kind, len(g)) for v, kind, g in sf
    ]
    assert td.fsck() == [] and tf.fsck() == []


def test_delta_log_record_is_o_change(spark, tmp_path):
    """The point of protocol 4: once a table has many live groups, a
    single-group append's commit record is O(change) bytes — far
    smaller than the full manifest it replaces — while small tables
    keep writing full (protocol <= 3) manifests."""
    import json as _json
    import os as _os

    t = VersionedTable(
        str(tmp_path / "t"), delta_log_min_files=8, checkpoint_every=1000
    )
    for i in range(30):
        t.append(_df(spark, [(i, f"v{i}")]), stats_cols=["k"], bloom_cols=["k"])

    def raw(v):
        return open(_os.path.join(t.root, "_log", f"{v:08d}.json")).read()

    early = _json.loads(raw(3))  # below threshold: full manifest
    assert "delta_of" not in early
    assert early["writer_version"] == 2
    late = _json.loads(raw(29))  # 30 groups live: delta record
    assert late["delta_of"] == 28
    assert late["writer_version"] == 4
    assert len(late["add_files"]) == 1 and late["remove_files"] == []
    assert list(late["stats_set"]) == late["add_files"]
    # O(change) vs O(table): the delta record must not carry the other
    # 29 groups' paths + stats + blooms — compare against the LARGEST
    # full manifest on disk (the last below-threshold commit)
    biggest_full = max(
        len(raw(v))
        for v in t.versions()
        if "delta_of" not in _json.loads(raw(v))
    )
    assert len(raw(29)) * 4 < biggest_full
    # materialized view is complete regardless of encoding
    m = t._manifest(29)
    assert len(m["files"]) == 30 and len(m["stats"]) == 30
    assert t.count_rows() == 30


def test_delta_log_vacuum_checkpoints_oldest_survivor(spark, tmp_path):
    """Vacuuming ancestors out from under a delta chain must first
    rewrite the oldest surviving record as a FULL manifest — the
    surviving history stays readable with its stats/DV index intact."""
    import json as _json
    import os as _os

    t = _delta_table(tmp_path, ckpt=1000)  # no checkpoints: worst case
    t.append(_df(spark, [(1, "a"), (2, "b")]), stats_cols=["k"])
    for i in range(6):
        t.append(_df(spark, [(10 + i, f"v{i}")]), stats_cols=["k"])
    t.delete_where_dv(spark, "k = 2")
    lv = t.latest_version()
    # every non-zero record is a delta right now
    assert "delta_of" in _json.loads(
        open(_os.path.join(t.root, "_log", f"{lv:08d}.json")).read()
    )
    t.vacuum(keep_last=3, min_age_s=0)
    vs = t.versions()
    assert vs[0] == lv - 2  # ancestors gone
    floor_rec = _json.loads(
        open(_os.path.join(t.root, "_log", f"{vs[0]:08d}.json")).read()
    )
    assert "delta_of" not in floor_rec  # rewritten as full checkpoint
    assert floor_rec["writer_version"] == 2
    # fresh handle (no memo): whole surviving history materializes
    t2 = VersionedTable(t.root)
    for v in vs:
        t2.read(spark, version=v).count()
    got = {r["k"] for r in t2.read(spark).collect()}
    assert 2 not in got and 1 in got  # DV survived the rewrite
    assert t2.fsck() == []


def test_delta_log_feed_stream_over_delta_records(spark, tmp_path):
    """The versioned_feed source consumes a delta-encoded table
    transparently (every consumer reads through _manifest)."""
    from netflow_analysis_with_spark_streaming_spark.storage.stream_source import (
        FORMAT_NAME,
        register_feed_source,
    )

    t = _delta_table(tmp_path, ckpt=1000)
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    register_feed_source(spark)
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .load()
        .collect()
    )
    assert sorted((r["k"], r["_commit_version"]) for r in got) == [
        (1, 0),
        (2, 1),
        (3, 2),
    ]


def test_delta_log_rename_and_restore_interop(spark, tmp_path):
    """Column mapping and restore through delta records: rename's
    mapping rides each record verbatim; restore commits FULL (its
    race-rollback may unlink its own manifest, which must never orphan
    a chain); time travel across the mixed history stays exact."""
    import json as _json
    import os as _os

    t = _delta_table(tmp_path, ckpt=1000)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.rename_column("v", "val")  # delta record carrying the mapping
    t.append(spark.createDataFrame([(4, "d")], "k long, val string"))
    v_pre = t.latest_version()
    rv = t.restore(1)
    rec = _json.loads(
        open(_os.path.join(t.root, "_log", f"{rv:08d}.json")).read()
    )
    assert "delta_of" not in rec  # restore always writes full
    assert set(t.read(spark).columns) == {"k", "v"}
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 3]
    # post-restore append chains a delta on the full restore record
    t.append(_df(spark, [(9, "z")]))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 3, 9]
    # pre-restore snapshot still addressable with the renamed schema
    assert set(t.read(spark, version=v_pre).columns) == {"k", "val"}
    assert t.fsck() == []


def test_constraint_guard_is_case_insensitive(spark, tmp_path):
    """Spark resolves identifiers case-insensitively by default, so a
    CHECK constraint written as 'V > 0' binds column 'v' — the
    rename/drop guard must match the same way or the rename slips
    through and wedges every later write anyway."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.set_check_constraint("upper_ref", "K > 0")
    with pytest.raises(ValueError, match="CHECK"):
        t.rename_column("k", "id")
    with pytest.raises(ValueError, match="CHECK"):
        t.drop_column("k")
    t.drop_check_constraint("upper_ref")
    t.rename_column("k", "id")  # unblocked


def test_manifest_retry_rides_vacuum_checkpoint_race(
    spark, tmp_path, monkeypatch
):
    """A vacuum deleting delta-chain ancestors AFTER rewriting the
    oldest survivor as a full checkpoint can race a reader mid-walk:
    the reader's next ancestor load raises FileNotFoundError. The
    materializer must RESTART from the top record (which now resolves
    through the rewritten checkpoint) instead of surfacing a spurious
    error for a perfectly live version."""
    t = _delta_table(tmp_path, ckpt=1000)
    for i in range(6):
        t.append(_df(spark, [(i, f"v{i}")]))
    reader = VersionedTable(t.root)  # fresh handle: empty memo
    real = VersionedTable._load_record
    state = {"fired": False}

    def racing(self, version):
        if self is reader and version == 2 and not state["fired"]:
            state["fired"] = True  # vacuum wins mid-chain-walk
            VersionedTable(t.root).vacuum(keep_last=2, min_age_s=0)
        return real(self, version)

    monkeypatch.setattr(VersionedTable, "_load_record", racing)
    m = reader._manifest(5)
    assert state["fired"]
    assert len(m["files"]) == 6
    assert sorted(
        r["k"] for r in reader.read(spark, version=5).collect()
    ) == list(range(6))


def test_append_fails_loudly_on_broken_delta_chain(spark, tmp_path):
    """A delta chain with a genuinely missing ancestor (crash-torn
    history, no rewritten checkpoint) must fail LOUDLY on the next
    write — never silently publish a snapshot that dropped the
    inherited deletion vectors and column mapping."""
    import os as _os

    import pytest

    t = _delta_table(tmp_path, ckpt=1000)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}")]))
    _os.remove(_os.path.join(t.root, "_log", "00000001.json"))
    fresh = VersionedTable(t.root)
    with pytest.raises(FileNotFoundError):
        fresh.append(_df(spark, [(99, "x")]))
    assert fresh.latest_version() == 3  # nothing was committed


def test_rollback_own_commit_preserves_child_replay_base(spark, tmp_path):
    """restore's race rollback may unlink its own manifest — but never
    one a concurrent commit already chained a delta record on (that
    would wedge the table: latest forever unreadable). Child visible
    before the check: no-op. No child: unlink proceeds. Child landing
    INSIDE the check-to-unlink window: the manifest is put back."""
    import os as _os

    t = _delta_table(tmp_path, ckpt=1000)
    for i in range(3):
        t.append(_df(spark, [(i, f"v{i}")]))  # v0 full, v1..v2 delta
    log = _os.path.join(t.root, "_log")
    # child exists (v2 chains on v1): rollback of v1 must keep it
    t._rollback_own_commit(1)
    assert _os.path.exists(_os.path.join(log, "00000001.json"))
    # no child: rollback of the latest unlinks it
    t._rollback_own_commit(2)
    assert not _os.path.exists(_os.path.join(log, "00000002.json"))
    assert t.latest_version() == 1
    # recreate v2, then simulate a child landing in the window: the
    # first latest_version() (pre-check) sees no child, the second
    # (post-unlink) sees one — the manifest must be restored
    t.append(_df(spark, [(2, "v2")]))
    seq = iter([2, 3])
    t.latest_version = lambda: next(seq)  # instance shadow
    t._rollback_own_commit(2)
    del t.latest_version
    assert _os.path.exists(_os.path.join(log, "00000002.json"))
    fresh = VersionedTable(t.root)
    assert sorted(
        r["k"] for r in fresh.read(spark, version=2).collect()
    ) == [0, 1, 2]


def _synth_log(root, stamps):
    """Synthesize a tiny full-manifest log with the given commit
    stamps (the log layer is plain JSON — same trick the bisect
    read-count test uses)."""
    import os as _os

    log = _os.path.join(root, "_log")
    _os.makedirs(log)
    _os.makedirs(_os.path.join(root, "data"))
    for v, ts in enumerate(stamps):
        rec = {
            "version": v,
            "writer_version": 2,
            "ts": ts,
            "action": "append",
            "files": [],
            "n_files": 0,
            "schema": "{}",
            "batch_id": None,
            "stats": {},
            "changes": None,
            "dvs": {},
        }
        with open(_os.path.join(log, f"{v:08d}.json"), "w") as f:
            json.dump(rec, f)
    return VersionedTable(root)


def test_legacy_disordered_stamps_fsck_and_monotonize(tmp_path):
    """A PRE-CLAMP history with a backwards clock step: fsck flags
    every version whose stamp sits below the running max (each one
    breaks the bisect invariant), monotonize_stamps() rewrites them
    to the prefix-max (Delta's read-time monotonization, applied once
    at rest), and resolution afterwards is exact under the bisect."""
    t = _synth_log(
        str(tmp_path / "t"), [100.0, 900.0, 300.0, 400.0, 500.0, 600.0, 700.0, 800.0]
    )
    issues = t.fsck()
    assert len([i for i in issues if "commit stamp" in i]) == 6  # v2..v7
    assert t.monotonize_stamps() == 6
    assert t.fsck() == []
    assert [h["ts"] for h in t.history()] == [100.0] + [900.0] * 7
    # prefix-max semantics: the 900 spike dominates everything after
    assert t.version_at_timestamp(450) == 0
    assert t.version_at_timestamp(899) == 0
    assert t.version_at_timestamp(900) == 7
    # second run is a no-op
    assert t.monotonize_stamps() == 0


def test_bisect_probe_detects_inversion_and_falls_back(tmp_path):
    """When the bisect's own probes PROVE a stamp inversion (a probe
    below an already-probed left bracket or above a right bracket),
    resolution falls back to the linear prefix-max walk instead of
    trusting a bisect over disordered stamps. The stamps are chosen
    so a naive bisect that IGNORED the inversion would resolve to
    version 6 — the prefix-max answer is version 3, so the result
    itself proves the fallback executed."""
    t = _synth_log(
        str(tmp_path / "t"),
        [100.0, 110.0, 120.0, 200.0, 900.0, 150.0, 160.0],
    )
    # T=250: bisect probes idx3 (200 <= 250, left bracket) then idx5
    # (150 < the 200 left bracket -> inversion proven). A naive bisect
    # would keep going right and return 6; prefix-max truth is 3
    # (effective stamps [100,110,120,200,900,900,900]).
    assert t._bisect_stamps(t.versions(), 250.0, "last_le") == 3
    assert t.version_at_timestamp(250.0) == 3
    # the disorder is also fsck-visible
    assert any("commit stamp" in i for i in t.fsck())


def test_manifest_memoizes_full_records(tmp_path):
    """Full commit records memoize in _mat_cache exactly like
    materialized delta chains: the second _manifest() of the same
    version reads ZERO records (repeated snapshot reads of a
    checkpoint version — or any table below the delta threshold —
    must not re-parse the O(groups) JSON every time)."""
    t = _synth_log(str(tmp_path / "t"), [100.0, 200.0])
    reads = {"n": 0}
    orig = VersionedTable._load_record

    def counting(self, version):
        reads["n"] += 1
        return orig(self, version)

    VersionedTable._load_record = counting
    try:
        t._manifest(1)
        first = reads["n"]
        assert first >= 1
        t._manifest(1)
        assert reads["n"] == first  # memo hit: no new reads
    finally:
        VersionedTable._load_record = orig


def test_concurrent_vacuum_stress(spark, tmp_path):
    """Round-11 fuzz arm (verdict-r10 ask #7): VACUUM racing live
    writers and cold readers in forced protocol-4 delta mode — the
    subtlest race surface in the format: vacuum rewrites the floor
    survivor as a full checkpoint, THEN deletes the doomed ancestors,
    while a reader mid-chain-walk can lose an ancestor and must
    restart through the rewritten checkpoint (never a torn snapshot),
    and metadata walks (history, committed_batch_ids, _created_ts)
    must tolerate records vanishing between the listing and the open.
    Writers use the safe concurrent mode (min_age_s grace protects
    in-flight staged groups — the documented contract); the quiescent
    point then runs an offline vacuum (min_age_s=0) that actually
    reclaims data groups, and asserts fsck + count + a feed-built
    mirror from the surviving floor."""
    import threading

    from netflow_analysis_with_spark_streaming_spark.storage.incremental import (
        mirror_from_feed,
    )
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        CommitConflictError,
    )

    root = str(tmp_path / "t")

    def handle():
        return VersionedTable(root, delta_log_min_files=0, checkpoint_every=4)

    t = handle()
    for j in range(8):  # a real history for vacuum to chew through
        t.append(
            _df(spark, [(j * 100 + i, f"seed{j}") for i in range(5)]),
            stats_cols=["k"],
        )

    errors: list = []

    def retrying(fn, what: str) -> None:
        for _attempt in range(30):
            try:
                fn()
                return
            except CommitConflictError:
                continue
        raise RuntimeError(f"{what} never landed")

    def appender(base_key: int) -> None:
        try:
            h = handle()
            for j in range(4):
                h.append(
                    _df(
                        spark,
                        [(base_key + j * 100 + i, f"a{j}") for i in range(5)],
                    ),
                    stats_cols=["k"],
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def merger() -> None:
        try:
            h = handle()
            for j in range(3):
                src = _df(spark, [(i, f"m{j}") for i in range(0, 20)])
                retrying(
                    lambda s=src: h.merge(
                        spark, s, keys=["k"], emit_changes=True
                    ),
                    f"captured merge {j}",
                )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def vacuumer() -> None:
        # short retention, SAFE grace: deletes out-of-horizon
        # manifests (after checkpoint-rewriting the floor survivor)
        # while data groups young enough to be in-flight stay put
        try:
            h = handle()
            for _ in range(6):
                h.vacuum(keep_last=3, min_age_s=3600.0)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def cold_reader() -> None:
        # fresh handle per pass: every read pays the full chain
        # materialization and the full metadata walks — the paths
        # that race vacuum's delete phase
        try:
            for _ in range(6):
                h = handle()
                assert h.count_rows() == h.read(spark).count()
                h.history()
                h.committed_batch_ids()
                h.detail()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(10_000,)),
        threading.Thread(target=appender, args=(20_000,)),
        threading.Thread(target=merger),
        threading.Thread(target=vacuumer),
        threading.Thread(target=cold_reader),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"thread(s) failed: {errors}"
    # quiescent: metadata invariants on the SURVIVING contiguous tail
    assert t.fsck() == []
    vs = t.versions()
    assert vs == list(range(vs[0], vs[0] + len(vs)))  # contiguous, no holes
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    # 8x5 seed + 2 appenders x 4x5 + 15 NEW merge keys (5..19; keys
    # 0..4 update seed rows in place)
    assert t.count_rows() == len(rows) == 40 + 40 + 15
    for k in range(20):
        assert rows[k].startswith("m")  # some merger pass won
    # offline vacuum (documented single-writer mode): data groups of
    # forfeited versions actually reclaimed, current snapshot intact
    before = t.read(spark).count()
    t.vacuum(keep_last=2, min_age_s=0.0)
    assert t.fsck() == []
    assert t.read(spark).count() == before
    # feed consistency from the surviving floor: snapshot at floor +
    # feed replay must reconverge to the live table exactly
    floor = t.versions()[0]
    mirror = VersionedTable(str(tmp_path / "m"))
    mirror.append(t.read(spark, version=floor))
    mirror_from_feed(spark, t, mirror, keys=["k"], since_version=floor)
    got = {(r["k"], r["v"]) for r in mirror.read(spark).collect()}
    assert got == set(rows.items())


def test_commit_memo_matches_cold_replay(tmp_path):
    """The snapshot a committing handle memoizes for each version it
    publishes equals what a fresh handle materializes from the log —
    over a randomized append sequence with random deletion vectors,
    across the full-checkpoint versions and the protocol-2 -> 4 flip."""
    import random

    from pyspark.sql.types import LongType, StructField, StructType

    schema_json = StructType([StructField("k", LongType())]).json()
    rng = random.Random(12)
    t = VersionedTable(str(tmp_path / "t"), delta_log_min_files=4)
    files: list[str] = []
    stats: dict = {}
    warm: dict[int, dict] = {}
    for v in range(40):
        adds = [f"data/g{v:03d}_{j}" for j in range(rng.randint(1, 3))]
        for g in adds:
            stats[g] = {"k": [v * 10, v * 10 + 9], "__rows__": 10}
        files.extend(adds)
        dvs = (
            {adds[0]: [f"dv/d{v:03d}"]} if rng.random() < 0.3 else None
        )
        t._commit(
            list(files), "append", schema_json, stats=dict(stats), dvs=dvs
        )
        warm[v] = t._manifest(v)
    assert warm[0]["writer_version"] == 2 and warm[39]["writer_version"] == 4
    assert any(warm[v]["dvs"] for v in range(40))
    for v in range(40):
        assert VersionedTable(t.root)._manifest(v) == warm[v], v
    # (no fsck here: the groups are synthetic metadata-only paths —
    # real-data fsck coverage rides every append/commit_staged test)


# --- delta-log checkpoints and chain replay ----------------------------------


def _mk_meta_table(tmp_path, name, n_commits):
    """Metadata-only table driven through _commit: one synthetic group
    per version (the delta_log_probe shape)."""
    from pyspark.sql.types import LongType, StructField, StructType

    import os

    schema_json = StructType([StructField("k", LongType())]).json()
    t = VersionedTable(str(tmp_path / name), delta_log_min_files=4)
    files, stats = [], {}
    for v in range(n_commits):
        g = f"data/g{v:04d}"
        # the group exists on disk (empty) so fsck's existence checks
        # stay meaningful on these metadata-driven tables
        os.makedirs(os.path.join(t.root, g), exist_ok=True)
        files.append(g)
        stats[g] = {"k": [v * 10, v * 10 + 9], "__rows__": 10}
        t._commit(list(files), "append", schema_json, stats=dict(stats))
    return t


def test_delta_log_checkpoints_inline(tmp_path):
    """Past delta_log_min_files, every 16th record (versions 16 and 32)
    is a FULL manifest written inline by its own commit, every other
    record is a delta, and _log holds nothing but NNNNNNNN.json
    records."""
    import os

    t = _mk_meta_table(tmp_path, "t", 33)
    for v in (16, 32):
        rec = t._load_record(v)
        assert "delta_of" not in rec, f"v{v} record should be full"
        assert rec["n_files"] == len(rec["files"]) == v + 1
    assert all(
        "delta_of" in t._load_record(v) for v in range(4, 33) if v % 16
    )
    assert sorted(os.listdir(t._log)) == [f"{v:08d}.json" for v in range(33)]
    assert VersionedTable(t.root).fsck() == []


def test_analyze_second_bloom_column_survives_cold_delta_replay(
    spark, tmp_path
):
    """Regression (round-13 review): analyze()'s per-file stats copy
    aliased the nested bloom dict with the parent's memoized manifest,
    so adding a SECOND bloom column mutated the parent snapshot in
    place — the delta encoder's parent diff then read 'unchanged' and
    the commit record OMITTED the new blooms, silently losing the
    index on any cold chain replay. Pin: on a delta-encoded table that already
    carries blooms for k, analyze(bloom_cols=['v']) must survive a
    COLD handle's materialization, and the parent version must NOT
    grow the new column."""
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        _BLOOM_KEY,
    )

    t = VersionedTable(str(tmp_path / "t"), delta_log_min_files=4)
    for g in range(6):  # > delta_log_min_files -> protocol-4 deltas
        df = spark.range(50).selectExpr(
            f"id * 6 + {g} AS k", f"id + {g * 1000} AS v"
        )
        t.append(df, stats_cols=["k"], bloom_cols=["k"])
    parent_v = t.latest_version()
    av = t.analyze(spark, ["k"], bloom_cols=["v"])
    rec = t._load_record(av)
    assert "delta_of" in rec, "analyze on a delta table must stay O(change)"
    cold = VersionedTable(t.root)
    m = cold._manifest(av)
    assert all(
        "v" in (m["stats"][f].get(_BLOOM_KEY) or {}) for f in m["files"]
    ), "new bloom column lost on cold replay"
    # the PARENT snapshot must not have been edited in place
    parent = cold._manifest(parent_v)
    assert all(
        "v" not in (parent["stats"][f].get(_BLOOM_KEY) or {})
        for f in parent["files"]
    )
    assert t.fsck() == []


def test_raw_uri_root_resolves_to_the_same_table(spark, tmp_path, monkeypatch):
    """VERDICT r13: ``VersionedTable("file:///x/t")`` used to create a
    literal ``file:/`` junk tree under the CWD and read as an EMPTY
    table — a mistyped or catalog-qualified root yielded zero rows
    instead of an error. __init__ now applies resolve_table_root."""
    monkeypatch.chdir(tmp_path)  # any junk tree would land here
    plain = VersionedTable(str(tmp_path / "t"))
    plain.append(_df(spark, [(1, "a"), (2, "b")]))

    via_uri = VersionedTable(f"file://{tmp_path}/t")
    assert via_uri.root == str(tmp_path / "t")
    assert via_uri.latest_version() == 0
    assert via_uri.read(spark).count() == 2

    import os

    import pytest

    assert not os.path.exists(os.path.join(str(tmp_path), "file:"))
    with pytest.raises(ValueError, match="local-filesystem only"):
        VersionedTable("s3a://bucket/t")
    with pytest.raises(ValueError, match="remote authority"):
        VersionedTable("file://nfs-host/data/t")


def test_vacuum_floor_rewrite_ignores_divergent_sidecar(tmp_path):
    """A table written by an older build may hold ``.ckpt.json``
    checkpoint sidecars next to its records. Nothing reads them: the
    vacuum floor rewrite bakes the CHAIN's snapshot into the permanent
    record even when a leftover sidecar for that version is divergent
    but well-formed, and cold reads and fsck ignore the file."""
    import json as _json
    import os

    t = _mk_meta_table(tmp_path, "t", 40)
    truth = VersionedTable(t.root)._manifest(33)
    assert "delta_of" in t._load_record(33)
    # leftover sidecar for v33: wrong content, right shape
    side = dict(truth, files=truth["files"][:-3], n_files=truth["n_files"] - 3)
    with open(os.path.join(t._log, "00000033.ckpt.json"), "w") as f:
        _json.dump(side, f)
    # vacuum so v33 becomes the floor survivor (keep_last=7 keeps 33..39)
    VersionedTable(t.root).vacuum(keep_last=7, min_age_s=0)
    rewritten = VersionedTable(t.root)._load_record(33)
    assert "delta_of" not in rewritten
    assert rewritten["files"] == truth["files"]  # chain truth, not sidecar
    assert VersionedTable(t.root)._manifest(39)["n_files"] == 40
    assert VersionedTable(t.root).fsck() == []


def test_pure_manifest_retries_through_concurrent_vacuum(tmp_path):
    """The one chain walk (``_materialize``) restarts when a
    CONCURRENT vacuum deletes an ancestor after rewriting the floor
    checkpoint (fsck, vacuum's keep-set and floor rewrite, and every
    reader would otherwise crash mid-operation on a live table)."""
    t = _mk_meta_table(tmp_path, "t", 20)
    expect = VersionedTable(t.root)._manifest(19)
    # simulate the race: the first time the walk touches version 17,
    # rewrite v18 as a full checkpoint and delete v17 and v16 — the
    # restarted walk must resolve through the rewritten record
    import os

    cold = VersionedTable(t.root)
    cls = type(cold)
    orig = cls._load_record
    fired = {"n": 0}

    def racy(self, version):
        if version == 17 and fired["n"] == 0:
            fired["n"] = 1
            self._checkpoint_record(18)
            os.remove(os.path.join(self._log, "00000017.json"))
            os.remove(os.path.join(self._log, "00000016.json"))
            raise FileNotFoundError("vacuumed under the walk")
        return orig(self, version)

    cls._load_record = racy
    try:
        m = cold._manifest(19)
    finally:
        cls._load_record = orig
    assert fired["n"] == 1
    assert m["files"] == expect["files"] and m["stats"] == expect["stats"]
    assert "delta_of" not in cold._load_record(18)


def test_append_rows_roundtrip_and_replay(spark, tmp_path):
    """Zero-Spark-job landing reads back identically to a distributed
    append of the same rows, interleaves with Spark-side appends
    (schema evolution union), and replays batch ids as no-ops."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    st = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    t = VersionedTable(str(tmp_path / "t"))
    v0 = t.append_rows([(1, "a"), (2, "b")], st, batch_id=0)
    assert v0 == 0
    # replay: same batch id is a no-op and stages nothing
    assert t.append_rows([(9, "z")], st, batch_id=0) == 0
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, "a"), (2, "b")]
    # interleave a Spark append, then another local one
    t.append(_df(spark, [(3, "c")]), batch_id=1)
    t.append_rows([(4, "d")], st, batch_id=2)
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 3, 4]
    # stats ride the manifest like any other group's
    assert t.count_rows() == 4


def test_append_rows_overwrite_and_arrays(spark, tmp_path):
    """overwrite=True truncates (the retrain-replace shape, e.g. IVF
    centroids) and array<double> columns round-trip exactly."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    st = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("centroid", ArrayType(DoubleType())),
        ]
    )
    t = VersionedTable(str(tmp_path / "c"))
    t.append_rows([(0, [1.5, -2.25])], st, overwrite=True)
    t.append_rows([(1, [0.125, 3.0]), (2, [4.0, 5.0])], st, overwrite=True)
    rows = sorted(
        (r["cluster"], r["centroid"]) for r in t.read(spark).collect()
    )
    assert rows == [(1, [0.125, 3.0]), (2, [4.0, 5.0])]  # v0 replaced
    # time travel still sees the first generation
    assert t.read(spark, version=0).count() == 1


def test_append_rows_fails_closed(spark, tmp_path):
    """Temporal columns and CHECK-constrained tables are refused (no
    session-zone negotiation / SQL evaluator driver-side), and a
    refused landing leaks no staged group directory."""
    import os

    import pytest
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    t = VersionedTable(str(tmp_path / "t"))
    with pytest.raises(TypeError, match="non-temporal"):
        t.append_rows(
            [],
            StructType([StructField("ts", TimestampType())]),
        )
    st = StructType([StructField("k", LongType())])
    t.append(_df(spark, [(1, "a")]).select("k"))
    t.set_check_constraint("pos", "k > 0")
    with pytest.raises(ValueError, match="CHECK"):
        t.append_rows([(2,)], st)
    data_dir = os.path.join(str(tmp_path / "t"), "data")
    groups = os.listdir(data_dir)
    assert len(groups) == 1  # only the Spark append's group remains


def test_append_all_matches_sequential_appends(spark, tmp_path):
    """append_all (round 15): N frames staged concurrently publish as
    N consecutive commits whose versions, per-commit feed slices and
    read-back rows are IDENTICAL to N sequential append() calls —
    the overlap is wall-clock only."""
    a = VersionedTable(str(tmp_path / "a"))
    b = VersionedTable(str(tmp_path / "b"))
    frames = [
        _df(spark, [(1, "a"), (2, "b")]),
        _df(spark, [(3, "c")]),
        _df(spark, [(4, "d"), (5, "e")]),
    ]
    assert a.append_all(frames) == [0, 1, 2]
    for f in frames:
        b.append(f)
    assert a.versions() == b.versions()
    assert sorted(map(tuple, a.read(spark).collect())) == sorted(
        map(tuple, b.read(spark).collect())
    )
    # per-commit slices (what the change feed serves) agree version
    # by version — commit ORDER, not staging order, owns the slices
    for v in (0, 1, 2):
        sa = sorted(map(tuple, a.read_change_feed(spark, v - 1, v).collect()))
        sb = sorted(map(tuple, b.read_change_feed(spark, v - 1, v).collect()))
        assert sa == sb


def test_append_all_fails_closed(spark, tmp_path):
    """CHECK-constrained / generated-column tables refuse append_all
    (its publish half is commit_staged, which cannot enforce them)."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.set_check_constraint("pos", "k > 0")
    with pytest.raises(ValueError, match="CHECK"):
        t.append_all([_df(spark, [(2, "b")]), _df(spark, [(3, "c")])])
