"""Path-1 cold sink: the streaming view maintainer's driver-side merge
(fast path from the landed batch, change-feed path for every other
window), its fenced landing, skipping stats on streamed fact commits,
temporal prune bounds, and late-row accounting in the window rollup."""

import datetime as dt
import json
import os

import pyspark.sql.functions as F
import pytest

from netflow_analysis_with_spark_streaming_spark.storage import (
    incremental as IVM,
)
from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
    CommitConflictError,
    VersionedTable,
)
from tools.job_count import _marker_job_id

FLOW = "ts timestamp, day date, g string, x long"


def _batch(spark, day: int, n: int, g=("a", "b", None)):
    base = dt.datetime(2024, 3, day, 1, 0, 0)
    rows = [
        (base + dt.timedelta(seconds=i), base.date(), g[i % len(g)], i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, FLOW)


def _view(spark, agg):
    return {
        (r["day"], r["g"]): (r["n_rows"], r["sum_x"])
        for r in agg.read(spark).collect()
    }


def _recompute(spark, fact):
    return {
        (r["day"], r["g"]): (r["n"], float(r["s"]))
        for r in fact.read(spark)
        .groupBy("day", "g")
        .agg(F.count("*").alias("n"), F.sum("x").alias("s"))
        .collect()
    }


def _count_feed_reads(monkeypatch, fact) -> list:
    calls: list = []
    real = fact.read_change_feed

    def spy(*a, **kw):
        calls.append(a[1:])
        return real(*a, **kw)

    monkeypatch.setattr(fact, "read_change_feed", spy)
    return calls


def test_fast_path_matches_recompute_and_skips_the_feed(spark, tmp_path, monkeypatch):
    """Steady-state appends advance the view from the batch itself (no
    change-feed read); the view equals a full recompute, keeps the
    ``n_rows long + sum double`` schema, and NULL keys are a group."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    feed_reads = _count_feed_reads(monkeypatch, fact)
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day", "g"], ["x"])
    for bid, (day, n) in enumerate([(1, 7), (1, 5), (2, 9)]):
        sink(_batch(spark, day, n), bid)
    assert feed_reads == []
    assert _view(spark, agg) == _recompute(spark, fact)
    types = {f.name: f.dataType.typeName() for f in agg.read(spark).schema}
    assert types == {"day": "date", "g": "string", "n_rows": "long", "sum_x": "double"}
    # one view commit per batch, each stamped with the fact version
    assert [h["batch_id"] for h in agg.history()] == [0, 1, 2]


def test_crash_between_fact_and_view_commit_replays_from_feed(
    spark, tmp_path, monkeypatch
):
    """The fact commit lands, the process dies before the view commit;
    a rebuilt maintainer replaying the same batch id lands nothing in
    the fact table, takes the change-feed path for the gap, and gives
    the exact view. The next batch is back on the fast path."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day", "g"], ["x"])
    sink(_batch(spark, 1, 6), 0)

    def crash(*a, **kw):
        raise RuntimeError("killed before the view commit")

    monkeypatch.setattr(agg, "append_rows", crash)
    with pytest.raises(RuntimeError, match="killed"):
        sink(_batch(spark, 2, 8), 1)
    monkeypatch.undo()
    assert fact.latest_version() == 1 and agg.latest_version() == 0

    fact2 = VersionedTable(fact.root)
    agg2 = VersionedTable(agg.root)
    feed_reads = _count_feed_reads(monkeypatch, fact2)
    sink2 = IVM.StreamingViewMaintainer(fact2, agg2, ["day", "g"], ["x"])
    sink2(_batch(spark, 2, 8), 1)  # replay of the crashed batch
    assert fact2.latest_version() == 1  # fact replay was a no-op
    assert feed_reads == [(0, 1)]
    assert _view(spark, agg2) == _recompute(spark, fact2)
    sink2(_batch(spark, 3, 4), 2)
    assert feed_reads == [(0, 1)]  # steady state again: no feed read
    assert _view(spark, agg2) == _recompute(spark, fact2)


def test_captured_delete_takes_feed_path_and_retires_keys(spark, tmp_path):
    """A captured delete in the fact table between batches is consumed
    from the feed: its keys' counts fall, a key at zero leaves the view."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day", "g"], ["x"])
    sink(_batch(spark, 1, 9), 0)
    fact.delete_where(spark, "g = 'a' OR x = 1", emit_changes=True)
    sink(_batch(spark, 2, 3, g=("b",)), 1)
    view = _view(spark, agg)
    assert view == _recompute(spark, fact)
    assert all(g != "a" for _, g in view)


def test_lost_view_race_fails_closed(spark, tmp_path, monkeypatch):
    """A view commit derived from a snapshot that another writer has
    since replaced raises instead of overwriting it, leaks no staged
    group, and the next call reloads the view it lost to."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day", "g"], ["x"])
    sink(_batch(spark, 1, 6), 0)
    rival = VersionedTable(agg.root)
    real = agg.append_rows

    def racing(rows, schema, **kw):
        # a rival lands between this call's merge and its commit
        rival.append_rows([r[:2] + (100, 1.0) for r in rows], schema, overwrite=True)
        return real(rows, schema, **kw)

    monkeypatch.setattr(agg, "append_rows", racing)
    groups_before = set(os.listdir(os.path.join(agg.root, "data")))
    with pytest.raises(CommitConflictError):
        sink(_batch(spark, 2, 4), 1)
    monkeypatch.undo()
    assert agg.latest_version() == 1  # the rival's commit stands
    assert all(v[0] == 100 for v in _view(spark, agg).values())
    new_groups = set(os.listdir(os.path.join(agg.root, "data"))) - groups_before
    assert len(new_groups) == 1  # the rival's; the loser's was dropped
    sink(_batch(spark, 2, 4), 1)  # the stream's replay lands on top of it
    view = _view(spark, agg)
    assert agg.latest_version() == 2 and view[(dt.date(2024, 3, 1), "a")][0] == 100
    # the rival's row for this key (100, 1.0) plus the batch's (2, 3.0)
    assert view[(dt.date(2024, 3, 2), "a")] == (102, 4.0)


def test_append_rows_base_version_fence_and_dates(spark, tmp_path):
    """``append_rows`` lands date columns, and ``base_version`` refuses
    a commit once the table moved past the version the rows came from."""
    from pyspark.sql.types import DateType, LongType, StructField, StructType

    st = StructType([StructField("day", DateType()), StructField("n", LongType())])
    t = VersionedTable(str(tmp_path / "t"))
    d = dt.date(2024, 3, 1)
    assert t.append_rows([(d, 1)], st, overwrite=True, base_version=-1) == 0
    assert t.append_rows([(d, 2)], st, overwrite=True, base_version=0) == 1
    with pytest.raises(CommitConflictError, match="moved past version 0"):
        t.append_rows([(d, 3)], st, overwrite=True, base_version=0)
    assert [(r["day"], r["n"]) for r in t.read(spark).collect()] == [(d, 2)]
    assert len(os.listdir(os.path.join(t.root, "data"))) == 2


def test_view_above_driver_bound_raises(spark, tmp_path, monkeypatch):
    """The view is driver-held, so it must stay keys-sized: a view
    whose metadata row count exceeds the bound raises naming it."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    IVM.StreamingViewMaintainer(fact, agg, ["g"], ["x"])(_batch(spark, 1, 6), 0)
    monkeypatch.setattr(IVM, "DRIVER_ROW_BOUND", 2)
    sink = IVM.StreamingViewMaintainer(fact, agg, ["g"], ["x"])
    with pytest.raises(RuntimeError, match="maintained view .*agg holds 3 rows"):
        sink(_batch(spark, 2, 3), 1)


def test_streamed_fact_commits_carry_kept_stats(spark, tmp_path):
    """A Path-1 batch landed on a table whose snapshot keeps ``ts``
    stats gets ``ts`` stats too, so a range read can prune it."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    fact.append(_batch(spark, 1, 5), stats_cols=["ts"])
    (prebuilt,) = fact.snapshot_files()
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day"], ["x"])
    sink(_batch(spark, 5, 5), 0)
    (streamed,) = set(fact.snapshot_files()) - {prebuilt}
    assert "ts" in fact._manifest(fact.latest_version())["stats"][streamed]
    on_day1 = ("ts", dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 2))
    assert fact.snapshot_files(prune=on_day1) == [prebuilt]
    on_day5 = ("ts", "2024-03-05", "2024-03-06")
    assert fact.snapshot_files(prune=on_day5) == [streamed]


def test_steady_state_maintainer_call_runs_few_spark_jobs(spark, tmp_path):
    """Job census of one steady-state call on an append-only stream,
    with ``ts`` stats kept and the batch cached as ``dual_sink`` does:
    the fact write, its stats agg and the delta agg — the view merge
    and landing run no Spark job. Marker jobs bracket the call: job ids
    are a global counter, so (after - before - 1) counts every job run
    in between, whichever group submitted it."""
    fact = VersionedTable(str(tmp_path / "fact"))
    agg = VersionedTable(str(tmp_path / "agg"))
    fact.append(_batch(spark, 1, 50), stats_cols=["ts"])
    sink = IVM.StreamingViewMaintainer(fact, agg, ["day"], ["x"])
    sink(_batch(spark, 2, 50), 0)  # first window: feed path + first landing
    sink(_batch(spark, 3, 50), 1)
    batch = _batch(spark, 4, 2000).persist()
    batch.count()
    try:
        before = _marker_job_id(spark, "ivm-jobs-0")
        sink(batch, 2)
        after = _marker_job_id(spark, "ivm-jobs-1")
    finally:
        batch.unpersist()
    assert after - before - 1 <= 6, after - before - 1
    view = {r["day"]: (r["n_rows"], r["sum_x"]) for r in agg.read(spark).collect()}
    assert len(view) == 4
    assert view[dt.date(2024, 3, 4)] == (2000, float(sum(range(2000))))


# --- temporal prune bounds ------------------------------------------------


def _two_day_table(spark, root):
    """A table of two groups, days 1 and 5, with stats; returns it and
    the two groups."""
    t = VersionedTable(root)
    t.append(_batch(spark, 1, 3), stats_cols=["ts", "day", "x"])
    (day1,) = t.snapshot_files()
    t.append(_batch(spark, 5, 3), stats_cols=["ts", "day", "x"])
    (day5,) = set(t.snapshot_files()) - {day1}
    return t, day1, day5


def _format_read(spark, fmt, root, prune=None, **options):
    """``spark.read.format(fmt)`` over the table at ``root``, with the
    ``prune`` option when given."""
    from netflow_analysis_with_spark_streaming_spark.storage.stream_sink import (
        register_table_sink,
    )
    from netflow_analysis_with_spark_streaming_spark.storage.stream_source import (
        register_feed_source,
    )

    register_table_sink(spark)
    register_feed_source(spark)
    reader = spark.read.format(fmt).option("path", root)
    if prune is not None:
        reader = reader.option("prune", json.dumps(prune))
    return reader.options(**options).load()


@pytest.mark.parametrize("fresh_handle", [False, True])
def test_prune_string_and_datetime_bounds_on_datetime_stats(spark, tmp_path, fresh_handle):
    """Stats on a timestamp column are datetimes on the committing
    handle and ISO strings once reloaded; string, datetime and date
    bounds prune the same way against both, and the string bounds
    prune the ``versioned_table`` and ``versioned_feed`` data sources
    to exactly the groups ``snapshot_files`` keeps."""
    t, day1, day5 = _two_day_table(spark, str(tmp_path / "t"))
    if fresh_handle:
        t = VersionedTable(t.root)
    for lo, hi in [
        ("2024-03-01", "2024-03-02"),
        ("2024-03-01T00:00:00", "2024-03-01 23:59:59.999999"),
        (dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 2)),
        (dt.date(2024, 3, 1), dt.date(2024, 3, 2)),
    ]:
        assert t.snapshot_files(prune=("ts", lo, hi)) == [day1], (lo, hi)
    assert t.snapshot_files(prune=("ts", "2024-03-04", dt.datetime(2024, 3, 6))) == [day5]
    assert t.snapshot_files(prune=("day", "2024-03-05", "2024-03-05")) == [day5]
    # the exact-match boundary: 01:00:02 is the last row of day 1
    assert t.snapshot_files(prune=("ts", "2024-03-01 01:00:02", "2024-03-04")) == [day1]
    assert t.read(spark, prune=("ts", "2024-03-05", "2024-03-06")).count() == 3
    for lo, hi in [
        ("2024-03-01", "2024-03-02"),
        ("2024-03-01T00:00:00", "2024-03-01 23:59:59.999999"),
        ("2024-03-04", "2024-03-06T00:00:00"),
    ]:
        kept = t.snapshot_files(prune=("ts", lo, hi))
        want = sorted(
            (r["day"], r["x"])
            for r in t._read_groups(spark, t.latest_version(), kept).collect()
        )
        assert len(want) == 3, (lo, hi)
        for fmt in ("versioned_table", "versioned_feed"):
            got = _format_read(spark, fmt, t.root, [["ts", lo, hi]]).collect()
            assert sorted((r["day"], r["x"]) for r in got) == want, (fmt, lo, hi)


def test_prune_bounds_that_cannot_compare_raise_naming_the_column(spark, tmp_path):
    t, _, _ = _two_day_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="'ts'"):
        t.snapshot_files(prune=("ts", "yesterday", "2024-03-02"))
    with pytest.raises(ValueError, match="'x'"):
        t.snapshot_files(prune=("x", dt.date(2024, 3, 1), 5))


def test_skipping_rule_keeps_every_matching_row(spark, tmp_path):
    """Every reader skips groups through the one rule, so none loses a
    row that matches. Timestamp groups 05:00-10:00 and 23:00-01:00(+1d)
    under a one-day ISO ``T`` bound: ``VersionedTable.read`` and both
    data sources return the same 3 rows. Decimal stats reload as
    strings ("9.50", "10.25") and still order as numbers: the decimal
    bound keeps its group on the committing and on a fresh handle."""
    from decimal import Decimal

    t = VersionedTable(str(tmp_path / "ts"))
    day = dt.datetime(2024, 1, 1)
    for hours in ([5, 10], [23, 25]):
        rows = [(day + dt.timedelta(hours=h),) for h in hours]
        t.append(spark.createDataFrame(rows, "ts timestamp"), stats_cols=["ts"])
    lo, hi = "2024-01-01T00:00:00", "2024-01-01T23:59:59"
    exact = "ts BETWEEN '2024-01-01 00:00:00' AND '2024-01-01 23:59:59'"
    assert t.read(spark, prune=("ts", lo, hi)).filter(exact).count() == 3
    for fmt in ("versioned_table", "versioned_feed"):
        got = _format_read(spark, fmt, t.root, [["ts", lo, hi]]).filter(exact)
        assert got.count() == 3, fmt

    d = VersionedTable(str(tmp_path / "d"))
    d.append(
        spark.createDataFrame(
            [(Decimal("9.50"),), (Decimal("10.25"),)], "d decimal(10,2)"
        ),
        stats_cols=["d"],
    )
    d.append(
        spark.createDataFrame([(Decimal("20.00"),)], "d decimal(10,2)"),
        stats_cols=["d"],
    )
    bound = ("d", Decimal("9"), Decimal("11"))
    for handle in (d, VersionedTable(d.root)):
        assert len(handle.snapshot_files(prune=bound)) == 1
        got = handle.read(spark, prune=bound).filter("d BETWEEN 9 AND 11")
        assert got.count() == 2


def test_empty_batch_plans_read_zero_rows(spark, tmp_path):
    """A batch plan with no partition makes Spark call ``read(None)``:
    a ``versioned_table`` read whose prune bound excludes every group,
    and a ``versioned_feed`` window starting at the latest version,
    both read 0 rows."""
    t, _, _ = _two_day_table(spark, str(tmp_path / "t"))
    assert t.snapshot_files(prune=("x", 100, 200)) == []
    pruned = _format_read(spark, "versioned_table", t.root, [["x", 100, 200]])
    assert pruned.collect() == []
    window = _format_read(
        spark, "versioned_feed", t.root, sinceVersion=str(t.latest_version())
    )
    assert window.collect() == []


# --- late rows in the window rollup ---------------------------------------


def test_windowed_traffic_accounts_for_every_row(spark, tmp_path):
    """Four data batches, the last carrying rows far behind the
    watermark: they are dropped and counted, and emitted ``n_events`` +
    drops + rows still in open windows equals the rows written — no row
    vanishes. Late input is filtered by the watermark the batch BEFORE
    the previous one set (Spark's late-event watermark lags eviction by
    a batch), so two batches must pass before rows can be dropped. The
    drop counter counts the stateful operator's input, i.e. partial
    aggregates, so the late rows sit one per window."""
    from netflow_analysis_with_spark_streaming_spark.streaming import jobs, sources

    d = tmp_path / "src"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def rows(secs):
        return [
            {"ts": str(t0 + dt.timedelta(seconds=s)), "k": "a", "v": 1.0}
            for s in secs
        ]

    late = rows(range(100, 200, 10))
    files = [
        rows(range(0, 100, 2)),
        rows(range(200, 300, 3)),  # eviction watermark after: 267 s
        rows(range(400, 500, 4)),  # late-event watermark of the next batch: 267 s
        late + rows(range(500, 600, 4)),
    ]
    for i, f in enumerate(files):
        (d / f"f{i}.json").write_text(json.dumps(f))
    written = sum(len(f) for f in files)
    schema = spark.createDataFrame([], "ts string, k string, v double").schema
    raw = sources.json_file_source(spark, str(d), schema, max_files_per_trigger=1)
    win = jobs.windowed_traffic(
        raw.withColumn("ts", F.to_timestamp("ts")),
        window="10 seconds", watermark="30 seconds", value_col="v", key_col="k",
    )
    q = (
        win.writeStream.format("memory").queryName("late_rows").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]][-1] == 3
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators") or []
    )
    assert dropped == len(late)
    emitted = spark.table("late_rows").agg(F.sum("n_events")).collect()[0][0]
    # after the closing no-data batch the watermark is the max event
    # time (596 s) - 30 s; windows ending after it stay open
    still_open = sum(
        1 for f in files for r in f
        if (dt.datetime.fromisoformat(r["ts"]) - t0).seconds // 10 * 10 + 10 > 566
    )
    assert still_open > 0
    assert emitted + dropped + still_open == written
