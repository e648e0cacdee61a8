"""VersionedTable as a Structured Streaming source (storage/
stream_source.py): commit-version offsets over the typed change feed
through PySpark's Python Data Source API. The battery pins the
contract three ways: stream rows == read_change_feed rows (shared
feed_slices walk), offsets resume exactly-once across separate runs
of one checkpoint, and the schema/error behavior (evolved files
padded, feed-breaking commits fail the stream) matches the batch
feed's documented semantics."""

import pyspark.sql.functions as F
import pytest

from netflow_analysis_with_spark_streaming_spark.storage.stream_source import (
    FORMAT_NAME,
    register_feed_source,
)
from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _feed_table(spark, root) -> VersionedTable:
    """appends + captured CoW delete + compaction + captured DV
    delete — one of every feed-visible action class."""
    t = VersionedTable(str(root))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.append(_df(spark, [(4, "d"), (5, "e")]))
    t.delete_where(spark, "k % 2 = 0", emit_changes=True)
    t.compact(spark, target_partitions=1)
    t.delete_where_dv(spark, "k = 5", emit_changes=True)
    return t


def _run_once(spark, reader, sink_table: str, checkpoint: str):
    q = (
        reader.writeStream.format("memory")
        .queryName(sink_table)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _rows(spark, sink_table: str):
    return {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.sql(f"SELECT * FROM {sink_table}").collect()
    }


def test_stream_equals_batch_feed(spark, tmp_path):
    """The headline contract: an availableNow stream over the table
    yields exactly read_change_feed(-1, latest) — inserts AND the
    captured delete slices, tagged identically."""
    t = _feed_table(spark, tmp_path / "t")
    register_feed_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    )
    _run_once(spark, reader, "feed_all", str(tmp_path / "ckpt"))
    want = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in t.read_change_feed(spark, -1).collect()
    }
    assert _rows(spark, "feed_all") == want
    assert len(want) == 5 + 2 + 1  # 5 inserts, 2 CoW-deleted, 1 DV-deleted


def test_starting_version_skips_history(spark, tmp_path):
    t = _feed_table(spark, tmp_path / "t")
    register_feed_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("startingVersion", 1)  # exclusive: skip both appends
        .load()
    )
    _run_once(spark, reader, "feed_tail", str(tmp_path / "ckpt"))
    got = _rows(spark, "feed_tail")
    assert got == {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in t.read_change_feed(spark, 1).collect()
    }
    assert {c for (_, _, c, _) in got} == {"delete"}


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Two availableNow runs sharing one checkpoint: the second run
    picks up at the committed offset and emits ONLY the commits that
    landed in between — no replays, no gaps. (foreachBatch landings
    per run — the memory sink refuses checkpoint recovery.)"""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    register_feed_source(spark)
    ckpt = str(tmp_path / "ckpt")

    def run(out_dir: str):
        reader = (
            spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
        )
        q = (
            reader.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "out1"))
    got1 = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    }
    assert got1 == {(1, "a", "insert", 0)}

    t.append(_df(spark, [(2, "b")]))
    t.delete_where(spark, "k = 1", emit_changes=True)
    run(str(tmp_path / "out2"))
    got2 = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert got2 == {(2, "b", "insert", 1), (1, "a", "delete", 2)}


def test_empty_window_yields_no_batch(spark, tmp_path):
    """A second run with no new commits produces zero rows (offset
    unchanged -> no micro-batch; an empty partitions() result must
    not error)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    register_feed_source(spark)
    ckpt = str(tmp_path / "ckpt")

    def run(out_dir: str):
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "out1"))
    run(str(tmp_path / "out2"))
    import os

    # second run: either no batch fired (no dir) or an empty landing
    out2 = str(tmp_path / "out2")
    if os.path.isdir(out2) and any(
        f.endswith(".parquet") for f in os.listdir(out2)
    ):
        assert spark.read.parquet(out2).count() == 0


def test_schema_evolution_pads_old_files(spark, tmp_path):
    """A column added mid-history: the stream schema comes from the
    LATEST manifest, and part files written before the column reads
    as NULL (per-file mergeSchema in the executor read)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    register_feed_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    assert "score" in reader.columns
    _run_once(spark, reader, "feed_evo", str(tmp_path / "ckpt"))
    got = {
        (r["k"], r["v"], r["score"], r["_change_type"])
        for r in spark.sql("SELECT * FROM feed_evo").collect()
    }
    assert got == {(1, "a", None, "insert"), (2, "b", 9.5, "insert")}


def test_feed_breaking_commit_fails_stream(spark, tmp_path):
    """An upsert inside the consumed window is not feed-derivable:
    the stream must fail with the batch feed's own error, not return
    partial rows."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.upsert(spark, _df(spark, [(1, "A!")]), keys=["k"])
    register_feed_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    with pytest.raises(Exception, match="change feed|upsert"):
        _run_once(spark, reader, "feed_broken", str(tmp_path / "ckpt"))


def test_feed_renegotiates_schema_after_rename_restart(spark, tmp_path):
    """RENAME COLUMN is a feed wall — a running stream cannot
    re-negotiate its output schema mid-flight (Spark's own
    restriction) — but NOT a dead end: a stream fails crossing the
    rename with the actionable error, and a RESTART with
    ``startingVersion`` at-or-after the rename commit negotiates the
    NEW logical schema and resumes, never touching pre-rename
    history. This is the documented consumer runbook for schema
    changes on a CDC-fed table."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # v0
    t.append(_df(spark, [(2, "b")]))  # v1
    rv = t.rename_column("v", "label")  # v2: feed-breaking wall
    t.append(
        spark.createDataFrame([(3, "c")], "k long, label string")
    )  # v3, new logical schema (physical name unchanged on file)
    register_feed_source(spark)
    # 1) a stream whose window crosses the rename fails loudly with
    # the batch feed's own error (no partial rows)
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    with pytest.raises(Exception, match="change feed|rename_column"):
        _run_once(spark, reader, "feed_wall", str(tmp_path / "ckpt_wall"))
    # 2) restart at the rename: schema() negotiates the CURRENT
    # logical schema (the renamed column), the window (rv, latest]
    # contains only post-rename commits, and the mapping is constant
    # end-to-end — physical-name translation surfaces the pre-rename
    # bytes of carried files under the new logical name
    ckpt = str(tmp_path / "ckpt_resume")

    def run(out_dir: str):
        reader2 = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .option("startingVersion", rv)  # exclusive: stream v3 onward
            .load()
        )
        assert "label" in reader2.columns and "v" not in reader2.columns
        q = (
            reader2.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "out1"))
    got = {
        (r["k"], r["label"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    }
    assert got == {(3, "c", "insert", 3)}
    # 3) and the resumed checkpoint keeps streaming future commits
    t.append(spark.createDataFrame([(4, "d")], "k long, label string"))
    run(str(tmp_path / "out2"))
    got2 = {
        (r["k"], r["label"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert got2 == {(4, "d", 4)}


def test_stream_source_rejects_future_writer_protocol(spark, tmp_path):
    """The feed source reads the log through VersionedTable's own
    _load_record, so the forward-compatibility gate is SHARED with
    the batch reader by construction (verdict-r9 ask #8): a commit
    record stamped by a future writer protocol fails the stream
    closed with the same actionable error — at schema negotiation if
    the stamped record is the latest, never as silently wrong rows."""
    import json as _json
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    p = _os.path.join(t.root, "_log", "00000000.json")
    m = _json.load(open(p))
    m["writer_version"] = 5  # one past the implemented protocol (4)
    _json.dump(m, open(p, "w"), default=str)
    register_feed_source(spark)
    with pytest.raises(Exception, match="protocol 5|upgrade"):
        reader = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .load()
        )
        _run_once(spark, reader, "feed_proto", str(tmp_path / "ckpt"))


def test_initial_snapshot_stream_starts_past_feed_walls(spark, tmp_path):
    """.option("initialSnapshot", "true") — Delta readStream's opening
    move: the first micro-batch serves the WHOLE current snapshot as
    inserts (deletion vectors applied executor-side), pinned at the
    current version; change consumption resumes right after it on the
    same checkpoint. This is what lets a consumer start on a table
    with feed walls (here: an OVERWRITE) anywhere in its past — the
    plain stream from the beginning fails on the wall."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "old")]))  # v0
    t.overwrite(_df(spark, [(10, "a"), (11, "b"), (12, "c")]))  # v1: WALL
    t.append(_df(spark, [(13, "d")]))  # v2
    t.delete_where_dv(spark, "k = 11", emit_changes=True)  # v3: DV inside
    register_feed_source(spark)
    # the wall blocks a from-the-beginning stream
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    with pytest.raises(Exception, match="overwrite|change feed"):
        _run_once(spark, reader, "feed_walled", str(tmp_path / "ckpt_w"))
    ckpt = str(tmp_path / "ckpt_snap")

    def run(out_dir: str):
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .option("initialSnapshot", "true")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "out1"))
    got1 = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    }
    # the snapshot at v3: overwrite survivors + the post-wall append,
    # MINUS the DV-deleted row, all tagged insert @ the pinned version
    assert got1 == {
        (10, "a", "insert", 3),
        (12, "c", "insert", 3),
        (13, "d", "insert", 3),
    }
    # the same checkpoint then follows ordinary change slices
    t.append(_df(spark, [(14, "e")]))  # v4
    t.delete_where(spark, "k = 10", emit_changes=True)  # v5: captured
    run(str(tmp_path / "out2"))
    got2 = {
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert got2 == {(14, "insert", 4), (10, "delete", 5)}
    # option exclusivity: loud error
    with pytest.raises(Exception, match="exclusive"):
        spark.readStream.format(FORMAT_NAME).option("path", t.root).option(
            "initialSnapshot", "true"
        ).option("startingVersion", 0).load().writeStream.format(
            "memory"
        ).queryName("feed_excl").option(
            "checkpointLocation", str(tmp_path / "ckpt_x")
        ).trigger(availableNow=True).start().awaitTermination()


def test_initial_snapshot_composes_with_pacing(spark, tmp_path):
    """initialSnapshot + maxVersionsPerTrigger: the snapshot batch is
    atomic (never split — it IS one offset), and the post-snapshot
    backlog drains as rate-limited micro-batches anchored at the
    pinned version."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # v0
    t.overwrite(_df(spark, [(10, "x"), (11, "y")]))  # v1: wall
    register_feed_source(spark)
    ckpt = str(tmp_path / "ckpt")

    def run(out_dir: str):
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .option("initialSnapshot", "true")
            .option("maxVersionsPerTrigger", 1)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "out1"))  # snapshot at v1
    got1 = {
        (r["k"], r["_commit_version"])
        for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    }
    assert got1 == {(10, 1), (11, 1)}
    # backlog of 3 appends drains capped at 1 commit per trigger;
    # the availableNow fallback runs one batch per run, so three runs
    for i in range(3):
        t.append(_df(spark, [(20 + i, f"n{i}")]))
    for i in range(3):
        run(str(tmp_path / f"out2_{i}"))
    drained = set()
    for i in range(3):
        drained |= {
            (r["k"], r["_commit_version"])
            for r in spark.read.parquet(str(tmp_path / f"out2_{i}")).collect()
        }
    assert drained == {(20, 2), (21, 3), (22, 4)}
    # each capped run emitted at most one commit's rows
    for i in range(3):
        vs = {
            r["_commit_version"]
            for r in spark.read.parquet(str(tmp_path / f"out2_{i}")).collect()
        }
        assert len(vs) <= 1, (i, vs)


def test_skip_change_commits_streams_inserts_only(spark, tmp_path):
    """.option("skipChangeCommits", "true") — Delta's insert-only
    consumption: an UNCAPTURED merge (a hard wall for the plain feed)
    and a captured delete both contribute NOTHING, appends keep
    streaming; the bounded reader honors the same option through the
    shared feed_slices walk. Overwrite stays a wall even then."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))  # v0
    t.merge(spark, _df(spark, [(1, "A!")]), keys=["k"])  # v1: UNCAPTURED
    t.delete_where(spark, "k = 2", emit_changes=True)  # v2: captured
    t.append(_df(spark, [(3, "c")]))  # v3
    register_feed_source(spark)
    # plain stream: the uncaptured merge is a wall
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    with pytest.raises(Exception, match="change feed|merge"):
        _run_once(spark, reader, "feed_wall2", str(tmp_path / "ckpt_w"))
    # insert-only: appends stream, change commits contribute nothing
    reader2 = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("skipChangeCommits", "true")
        .load()
    )
    _run_once(spark, reader2, "feed_skip", str(tmp_path / "ckpt_s"))
    got = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.sql("SELECT * FROM feed_skip").collect()
    }
    assert got == {(1, "a", "insert", 0), (2, "b", "insert", 0),
                   (3, "c", "insert", 3)}
    # the bounded twin honors the same option (shared walk)
    batch = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("skipChangeCommits", "true")
        .load()
    )
    got_b = {
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in batch.collect()
    }
    assert got_b == {(1, "insert", 0), (2, "insert", 0), (3, "insert", 3)}
    # overwrite stays a wall even insert-only
    t.overwrite(_df(spark, [(9, "z")]))  # v4
    reader3 = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("skipChangeCommits", "true")
        .load()
    )
    with pytest.raises(Exception, match="overwrite|change feed"):
        _run_once(spark, reader3, "feed_skip2", str(tmp_path / "ckpt_s2"))


def test_empty_table_has_no_schema(spark, tmp_path):
    register_feed_source(spark)
    with pytest.raises(Exception, match="no committed version"):
        spark.readStream.format(FORMAT_NAME).option(
            "path", str(tmp_path / "nothing")
        ).load()


def test_timestamp_and_numeric_types_roundtrip(spark, tmp_path):
    """Arrow-path type fidelity: timestamp / double / int columns
    come back value-identical to the batch feed read."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, 2.5, "2024-03-01 10:00:00")], "k long, x double, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    t.append(df)
    register_feed_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    _run_once(spark, reader, "feed_ty", str(tmp_path / "ckpt"))
    got = spark.sql("SELECT k, x, ts FROM feed_ty").collect()
    want = t.read_change_feed(spark, -1).select("k", "x", "ts").collect()
    assert got == want


def test_bounded_batch_reader_window(spark, tmp_path):
    """spark.read.format(versioned_feed) with an explicit window
    equals read_change_feed over the same (since, to]."""
    t = _feed_table(spark, tmp_path / "t")
    register_feed_source(spark)
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("sinceVersion", 0)
        .option("toVersion", 2)
        .load()
    )
    want = t.read_change_feed(spark, 0, 2)
    cols = ["k", "v", "_change_type", "_commit_version"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_feed_slices_matches_read_change_feed(spark, tmp_path):
    """The refactor guard: the manifest-only plan and the DataFrame
    feed agree slice-for-slice on versions and change types."""
    t = _feed_table(spark, tmp_path / "t")
    slices = t.feed_slices(-1)
    assert [(v, c) for v, c, _ in slices] == [
        (0, "insert"),
        (1, "insert"),
        (2, "delete"),
        (4, "delete"),  # 3 is the compaction: row-preserving, no slice
    ]
    feed = t.read_change_feed(spark, -1)
    by_version = {
        (r["_commit_version"], r["_change_type"])
        for r in feed.select("_commit_version", "_change_type").distinct().collect()
    }
    assert by_version == {(v, c) for v, c, _ in slices}


def test_max_versions_per_trigger_paces_batches(spark, tmp_path):
    """maxVersionsPerTrigger=1: once the stream is anchored (the
    FIRST trigger of a run is uncapped by design — the engine asks
    for latestOffset before the reader can see any start offset, the
    same best-effort contract as maxFilesPerTrigger), a 3-commit
    backlog drains as three single-commit micro-batches; the union is
    complete — the cap paces, never drops or stalls."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    register_feed_source(spark)
    batches = []

    def sink(df, bid):
        batches.append(
            {(r["k"], r["_commit_version"]) for r in df.collect()}
        )

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("maxVersionsPerTrigger", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # anchor batch: just v0
        t.append(_df(spark, [(2, "b")]))
        t.append(_df(spark, [(3, "c")]))
        t.append(_df(spark, [(4, "d")]))
        q.processAllAvailable()  # backlog of 3 commits, capped at 1
    finally:
        q.stop()
    nonempty = [b for b in batches if b]
    assert len(nonempty) == 4  # anchor + one batch per backlog commit
    for b in nonempty:
        assert len({v for (_, v) in b}) == 1  # single commit per batch
    assert set().union(*nonempty) == {(1, 0), (2, 1), (3, 2), (4, 3)}


def test_batch_reader_filter_pushdown_prunes_partitions(spark, tmp_path):
    """Opt-in pushdown on the bounded reader: Catalyst's pushed
    filters drive manifest-stats group skipping, so a filtered scan
    PLANS fewer input partitions (visible as RDD partitions) and
    still returns exactly the matching rows (all filters stay
    residual — skipping is a superset guarantee)."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=8)
    register_feed_source(spark)
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        reader = (
            spark.read.format(FORMAT_NAME)
            .option("path", t.root)
            .option("pushdown", "true")
        )
        def scan_parts(df):
            return (
                df.withColumn("p", F.spark_partition_id())
                .select("p")
                .distinct()
                .count()
            )

        base = reader.load()
        filtered = base.filter("k < 100")
        assert scan_parts(base) == 8  # one per clustered range group
        assert scan_parts(filtered) == 1  # stats skipped the other 7
        assert sorted(r["k"] for r in filtered.collect()) == list(range(100))
        # point filter through the same path
        one = base.filter("k = 500")
        assert scan_parts(one) == 1
        assert [r["v"] for r in one.collect()] == ["500"]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_batch_reader_without_pushdown_needs_no_conf(spark, tmp_path):
    """The DEFAULT bounded reader must not implement pushFilters at
    all: Spark fails closed on an implemented pushFilters when
    spark.sql.python.filterPushdown.enabled is off, and the driver
    harness runs vanilla sessions."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    register_feed_source(spark)
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .load()
        .filter("k = 1")
        .collect()
    )
    assert [(r["k"], r["v"]) for r in got] == [(1, "a")]


def test_batch_reader_bloom_pushdown_prunes_overlapping_ranges(spark, tmp_path):
    """Append-ordered ingest: every group's k-range spans the whole
    domain (k interleaved mod 4), so min/max stats can prove nothing —
    an EqualTo filter must prune via the groups' BLOOM indexes
    instead (no-false-negative: the matching group always survives)."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(400).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    for g in range(4):  # interleaved: each group holds k % 4 == g
        t.append(
            df.filter(F.col("k") % 4 == g),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    register_feed_source(spark)
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:

        def scan_parts(df_):
            return (
                df_.withColumn("p", F.spark_partition_id())
                .select("p")
                .distinct()
                .count()
            )

        base = (
            spark.read.format(FORMAT_NAME)
            .option("path", t.root)
            .option("pushdown", "true")
            .load()
        )
        one = base.filter("k = 17")  # k%4==1: only group 1 can hold it
        assert scan_parts(one) < scan_parts(base)
        assert [(r["k"], r["v"]) for r in one.collect()] == [(17, "17")]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_reserved_feed_column_clash_raises(spark, tmp_path):
    """A real table column named _change_type or _commit_version would
    be silently shadowed by the feed's meta columns (its values never
    surfaced) — the source must refuse loudly instead (round-8
    advice), same stance Delta CDF takes on its reserved names."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "x")], "k long, _change_type string"
        )
    )
    register_feed_source(spark)
    with pytest.raises(Exception, match="_change_type.*reserved|reserved.*_change_type"):
        spark.readStream.format(FORMAT_NAME).option("path", t.root).load()


def test_stream_prune_option_skips_groups(spark, tmp_path):
    """.option("prune", json) on the STREAMING feed reader: micro-batch
    planning stats-prunes each slice's file groups (the streaming twin
    of the batch pushdown, which the Python streaming DataSource API
    has no Catalyst hook for). White-box: partitions() plans only the
    overlapping groups. End-to-end: the pruned stream's rows equal the
    full feed filtered to the bound — pruning is a superset guarantee
    and the consumer's exact filter still applies."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.storage.stream_source import (
        VersionedFeedStreamReader,
    )

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(800).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=8)  # v0: 8 range groups
    t.append(
        spark.createDataFrame([(10_000, "late")], "k long, v string"),
        stats_cols=["k"],
    )  # v1: one group, disjoint from the bound

    # white-box: planned partitions shrink to the overlapping group
    full = VersionedFeedStreamReader(t.root, t_schema(t), -1)
    pruned = VersionedFeedStreamReader(
        t.root, t_schema(t), -1, ranges=[("k", 0, 99)]
    )
    window = ({"version": -1}, {"version": 1})

    def groups(parts):  # partitions are per part FILE; compare groups
        return {p.file.rsplit("/", 2)[-2] for p in parts}

    full_parts, pruned_parts = full.partitions(*window), pruned.partitions(*window)
    assert len(groups(full_parts)) == 9
    assert len(groups(pruned_parts)) == 1
    assert len(pruned_parts) < len(full_parts)

    # end-to-end through the registered source
    register_feed_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("prune", _json.dumps([["k", 0, 99]]))
        .load()
        .filter("k BETWEEN 0 AND 99")  # the exact predicate, as documented
    )
    _run_once(spark, reader, "feed_pruned", str(tmp_path / "ckpt"))
    got = sorted(
        r["k"] for r in spark.sql("SELECT k FROM feed_pruned").collect()
    )
    assert got == list(range(100))


def t_schema(t):
    """The stream schema the data source would derive for `t`."""
    import json as _json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    base = StructType.fromJson(
        _json.loads(t._manifest(t.latest_version())["schema"])
    )
    return StructType(
        list(base.fields)
        + [
            StructField("_change_type", StringType(), False),
            StructField("_commit_version", LongType(), False),
        ]
    )


def test_stream_serves_typed_merge_capture(spark, tmp_path):
    """A captured MERGE streams through the feed source: the capture
    group's per-row _change_type column rides the arrow partition
    reader (no constant tag), so an update arrives as its
    delete-preimage + insert-postimage pair in the same micro-batch."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(
        spark,
        _df(spark, [(2, "B"), (9, "i")]),
        keys=["k"],
        emit_changes=True,
    )
    register_feed_source(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    _run_once(spark, reader, "feed_typed", str(tmp_path / "ckpt"))
    got = _rows(spark, "feed_typed")
    assert got == {
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (2, "b", "delete", 1),   # update preimage
        (2, "B", "insert", 1),   # update postimage
        (9, "i", "insert", 1),
    }
    # and the batch twin agrees (shared feed_slices walk)
    batch = {
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in t.read_change_feed(spark, -1).collect()
    }
    assert batch == got


def test_starting_timestamp_resolves_offset(spark, tmp_path):
    """.option("startingTimestamp", epoch): Delta's stream rule —
    every commit stamped AT or AFTER the instant streams; earlier
    history is skipped. Exclusive with startingVersion."""
    import json as _json
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))  # v0
    t.append(_df(spark, [(2, "b")]))  # v1
    t.append(_df(spark, [(3, "c")]))  # v2
    # pin deterministic commit stamps: v0=100, v1=200, v2=300
    for v, ts in ((0, 100.0), (1, 200.0), (2, 300.0)):
        p = _os.path.join(t.root, "_log", f"{v:08d}.json")
        m = _json.load(open(p))
        m["ts"] = ts
        _json.dump(m, open(p, "w"), default=str)
    register_feed_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("startingTimestamp", "200")  # at-or-after v1
        .load()
    )
    _run_once(spark, reader, "feed_ts", str(tmp_path / "ckpt"))
    got = {(r["k"], r["_commit_version"]) for r in
           spark.sql("SELECT k, _commit_version FROM feed_ts").collect()}
    assert got == {(2, 1), (3, 2)}
    # predating the first commit = from the beginning
    reader2 = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("startingTimestamp", "1")
        .load()
    )
    _run_once(spark, reader2, "feed_ts0", str(tmp_path / "ckpt0"))
    assert spark.sql("SELECT * FROM feed_ts0").count() == 3
    # both options together: loud error
    with pytest.raises(Exception, match="not both"):
        spark.readStream.format(FORMAT_NAME).option("path", t.root).option(
            "startingVersion", 0
        ).option("startingTimestamp", "200").load().writeStream.format(
            "memory"
        ).queryName("feed_both").option(
            "checkpointLocation", str(tmp_path / "ckptb")
        ).trigger(availableNow=True).start().awaitTermination()


def test_bounded_reader_explicit_prune_on_vanilla_session(spark, tmp_path):
    """.option("prune", json) on the BOUNDED reader: caller-declared
    stats pruning with NO pushFilters implementation, so it works on a
    vanilla session (no spark.sql.python.filterPushdown conf). Planned
    scan partitions shrink; rows stay exact under the consumer's own
    filter."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=8)
    register_feed_source(spark)
    import json as _json

    def scan_parts(frame):
        return (
            frame.withColumn("p", F.spark_partition_id())
            .select("p")
            .distinct()
            .count()
        )

    base = spark.read.format(FORMAT_NAME).option("path", t.root).load()
    pruned = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("prune", _json.dumps([["k", 0, 99]]))
        .load()
    )
    assert scan_parts(base) == 8
    assert scan_parts(pruned) == 1
    got = sorted(
        r["k"] for r in pruned.filter("k BETWEEN 0 AND 99").collect()
    )
    assert got == list(range(100))


# --- round-10 ADVICE regressions ----------------------------------------


def test_bounded_reader_prune_and_pushdown_union(spark, tmp_path):
    """ADVICE r9 #4: .option('prune', ...) combined with
    .option('pushdown','true') keeps BOTH skipping bounds (AND):
    pushFilters unions the pushed query filters with the caller's
    declared triples instead of clobbering them. With no query filter
    at all, the explicit bound alone must still prune the scan."""
    import json as _json

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=8)
    register_feed_source(spark)
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:

        def scan_parts(frame):
            return (
                frame.withColumn("p", F.spark_partition_id())
                .select("p")
                .distinct()
                .count()
            )

        both = (
            spark.read.format(FORMAT_NAME)
            .option("path", t.root)
            .option("pushdown", "true")
            .option("prune", _json.dumps([["k", 0, 249]]))
            .load()
        )
        # no query filter: the explicit bound alone prunes 8 -> 2
        assert scan_parts(both) == 2
        # query filter intersects with the declared bound: 1 group
        narrowed = both.filter("k < 100")
        assert scan_parts(narrowed) == 1
        assert sorted(r["k"] for r in narrowed.collect()) == list(range(100))
        # the declared bound still applies alongside the pushed one
        rows = both.filter("k BETWEEN 0 AND 249").collect()
        assert sorted(r["k"] for r in rows) == list(range(250))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_bounded_readers_resolve_window_end_once(spark, tmp_path, monkeypatch):
    """ADVICE r9 #5: every bounded reader resolves the window end ONCE
    and passes it as feed_slices' to_version — feed_slices must never
    re-resolve its own (later) latest, or a rename committing between
    the two resolutions mis-binds physical names (TOCTOU)."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.storage import (
        stream_source as ss,
    )
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        VersionedTable as VT,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    seen = []
    real = VT.feed_slices

    def spying(self, since, to=None, *a, **kw):
        seen.append(to)
        return real(self, since, to, *a, **kw)

    monkeypatch.setattr(VT, "feed_slices", spying)
    schema = (
        spark.read.format(FORMAT_NAME).option("path", t.root).load().schema
    )
    data_schema = ss._data_schema(schema)
    for cls in (ss.VersionedFeedBatchReader, ss.PruningFeedBatchReader):
        for ranges in ((), [("k", 0, 99)]):
            seen.clear()
            cls(t.root, data_schema, -1, None, ranges=ranges).partitions()
            assert seen == [t.latest_version()], (cls.__name__, ranges)


def test_feed_planning_is_o_change_on_delta_history(spark, tmp_path, monkeypatch):
    """On a protocol-4 delta history of pure appends, the ENTIRE feed
    plan — slice walk, caller-declared pruning, mapping resolution,
    batch partitions — reads raw commit records only: snapshot
    materialization must never run. That is the 100 TB CDC claim: a
    consumer of a 1e5-group table's feed plans each window in
    O(change) bytes, not O(live files)."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.storage import (
        stream_source as ss,
    )
    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        VersionedTable as VT,
    )

    t = VersionedTable(str(tmp_path / "t"), delta_log_min_files=0,
                       checkpoint_every=1000)
    for i in range(4):
        t.append(
            _df(spark, [(100 * i + j, f"v{i}") for j in range(5)]),
            stats_cols=["k"],
        )

    def boom(self, version, rec):
        raise AssertionError(
            f"snapshot materialization ran for version {version} "
            "during feed planning"
        )

    monkeypatch.setattr(VT, "_materialize", boom)
    fresh = VersionedTable(t.root)
    slices = fresh.feed_slices(-1)
    assert [v for v, _, _ in slices] == [0, 1, 2, 3]
    pruned = ss._prune_slices(fresh, slices, ranges=[("k", 0, 99)])
    assert sum(len(g) for _, _, g in pruned) == 1  # stats_set pruned 3/4
    register_feed_source(spark)
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("prune", _json.dumps([["k", 0, 99]]))
        .load()
        .filter("k < 100")
        .collect()
    )
    assert sorted(r["k"] for r in got) == [0, 1, 2, 3, 4]


def test_max_files_per_trigger_splits_one_commit(spark, tmp_path):
    """maxFilesPerTrigger=1 with FILE-GRANULAR offsets: one commit
    landing 3 part files drains as three one-file micro-batches — the
    offset straddles the commit ({"version": v, "file_idx": n}), which
    is what lets a single 10 TB backfill append stream as bounded
    batches. The union is complete and exactly-once; at least one
    batch boundary falls INSIDE the commit."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "z")]))
    register_feed_source(spark)
    batches = []

    def sink(df, bid):
        batches.append({(r["k"], r["_commit_version"]) for r in df.collect()})

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("maxFilesPerTrigger", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # anchor batch: v0 (first trigger uncapped)
        # ONE commit, three part files
        t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(3))
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [b for b in batches if b]
    # v0 anchor + the 3-file commit split into 3 single-file batches
    assert len(nonempty) == 4
    for b in nonempty[1:]:
        assert len(b) == 1  # one file (one row here) per batch
        assert {v for (_, v) in b} == {1}  # all from the SAME commit
    assert set().union(*nonempty) == {(0, 0), (1, 1), (2, 1), (3, 1)}


def test_max_files_per_trigger_paces_multi_commit_backlog(spark, tmp_path):
    """maxFilesPerTrigger=2 over a backlog of 2+3 files across two
    commits: batches carry at most 2 files each, commit boundaries are
    crossed and straddled as needed, union exact; composes with
    maxVersionsPerTrigger (both bounds hold)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "z")]))
    register_feed_source(spark)
    batches = []

    def sink(df, bid):
        batches.append({(r["k"], r["_commit_version"]) for r in df.collect()})

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("maxFilesPerTrigger", 2)
        .option("maxVersionsPerTrigger", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # anchor
        t.append(_df(spark, [(1, "a"), (2, "b")]).repartition(2))
        t.append(_df(spark, [(3, "c"), (4, "d"), (5, "e")]).repartition(3))
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [b for b in batches if b]
    assert set().union(*nonempty) == {
        (0, 0), (1, 1), (2, 1), (3, 2), (4, 2), (5, 2)
    }
    for b in nonempty[1:]:
        assert len(b) <= 2  # file cap holds
        assert len({v for (_, v) in b}) == 1  # version cap holds too
    # the 3-file commit needed a straddle: some batch holds 2 of its
    # rows, another holds the remaining 1
    v2_sizes = sorted(len(b) for b in nonempty if {v for (_, v) in b} == {2})
    assert v2_sizes == [1, 2]


def test_max_files_per_trigger_restart_resumes_mid_commit(spark, tmp_path):
    """A checkpointed stream killed with a PARTIAL offset (mid-commit)
    resumes where it stopped: full coverage, and the only permissible
    re-delivery is Spark's at-least-once replay of the final
    UNCOMMITTED batch (one batch, once) — a wrong file-idx resume
    would instead re-serve the whole commit or drop its tail."""
    from collections import Counter

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "z")]))
    register_feed_source(spark)
    seen = []

    def sink(df, bid):
        seen.append({(r["k"], r["_commit_version"]) for r in df.collect()})

    def run_until(pred):
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .option("maxFilesPerTrigger", 1)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            # slow trigger + fast poll: the stop lands between
            # batches, biasing phase 2 to halt genuinely MID-commit
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 90
            while not pred() and _t.time() < deadline:
                _t.sleep(0.02)
        finally:
            q.stop()

    def covered():
        return set().union(*[b for b in seen if b], set())

    run_until(lambda: (0, 0) in covered())  # anchor: v0
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(3))
    # two more one-file batches -> checkpointed offset lands MID-commit
    run_until(lambda: len(covered()) >= 3)
    mid = covered()
    # 3 = stopped mid-commit (the interesting case, near-certain with
    # the 1 s trigger); 4 tolerated if a last batch raced the stop
    assert len(mid) in (3, 4)
    # restart from the checkpoint: the file-idx offset must resume the
    # commit's REMAINDER (deterministic enumeration across processes)
    run_until(lambda: covered() >= {(0, 0), (1, 1), (2, 1), (3, 1)})
    assert covered() == {(0, 0), (1, 1), (2, 1), (3, 1)}
    counts = Counter(k for b in seen if b for k in b)
    # every key delivered; the only re-deliveries allowed are Spark's
    # at-least-once replay of the final uncommitted batch at each of
    # the TWO restarts (one single-file batch each) — a wrong file-idx
    # resume would instead re-serve the whole commit (3 extras at one
    # restart) or drop its tail (coverage assert above)
    assert all(v <= 2 for v in counts.values()), counts
    assert sum(v - 1 for v in counts.values()) <= 2, counts


def test_max_bytes_per_trigger_paces_and_never_stalls(spark, tmp_path):
    """maxBytesPerTrigger: batches stop before exceeding the byte
    budget (file-granular straddles as needed), and a single file
    BIGGER than the budget still flows — at least one pending file is
    always taken (Delta's rule), or the stream would stall forever."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, "z")]))
    register_feed_source(spark)
    # learn a real single-file size to set a budget below 2 files
    import os as _os

    g0 = t.snapshot_files()[0]
    gdir = _os.path.join(t.root, g0)
    f0 = [f for f in _os.listdir(gdir) if f.endswith(".parquet")][0]
    one_file = _os.path.getsize(_os.path.join(gdir, f0))
    batches = []

    def sink(df, bid):
        batches.append({(r["k"], r["_commit_version"]) for r in df.collect()})

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        # budget: more than one file, less than two -> one file/batch
        .option("maxBytesPerTrigger", int(one_file * 1.5))
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # anchor (first trigger uncapped)
        t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(3))
        q.processAllAvailable()
    finally:
        q.stop()
    nonempty = [b for b in batches if b]
    assert set().union(*nonempty) == {(0, 0), (1, 1), (2, 1), (3, 1)}
    for b in nonempty[1:]:
        assert len(b) == 1  # ~1.5-file budget -> one file per batch
    # never-stall: a budget SMALLER than any single file still drains
    batches.clear()
    t2 = VersionedTable(str(tmp_path / "t2"))
    t2.append(_df(spark, [(0, "z")]))
    q2 = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t2.root)
        .option("maxBytesPerTrigger", 1)  # below every real file size
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q2.processAllAvailable()
        t2.append(_df(spark, [(1, "a"), (2, "b")]).repartition(2))
        q2.processAllAvailable()
    finally:
        q2.stop()
    nonempty2 = [b for b in batches if b]
    assert set().union(*nonempty2) == {(0, 0), (1, 1), (2, 1)}
    for b in nonempty2[1:]:
        assert len(b) == 1  # exactly one (oversized) file per batch
