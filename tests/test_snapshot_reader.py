"""Batch SNAPSHOT read through the versioned_table DataSource
(spark.read.format("versioned_table") — storage/stream_sink.py
reader() + storage/stream_source.py VersionedSnapshotBatchReader):
the read quadrant that closes the interop matrix. The battery pins
hash-exact agreement across the three read surfaces (format read ==
VersionedTable.read() == as_view SQL), AS-OF resolution, pushdown /
explicit-prune partition skipping (plan-asserted), and correctness
through deletion vectors, column mapping, schema evolution, and
generated columns."""

import json
import os

import pyspark.sql.functions as F
import pytest

from netflow_analysis_with_spark_streaming_spark.storage.stream_sink import (
    FORMAT_NAME,
    register_table_sink,
)
from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_snapshot_read_equals_api_and_view(spark, tmp_path):
    """The three read surfaces serve byte-identical snapshots over a
    history exercising the whole read path: DV delete (merge-on-read
    anti-filter), upsert (group rewrite), schema evolution (padded
    column), and a rename (column-mapping physical-name resolution)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, f"r{i}") for i in range(20)]))
    t.delete_where_dv(spark, "k % 5 = 0")
    t.upsert(spark, _df(spark, [(7, "SEVEN"), (99, "new")]), keys=["k"])
    t.append(
        spark.createDataFrame([(100, "x", 1.5)], "k long, v string, score double")
    )
    t.rename_column("v", "label")
    register_table_sink(spark)
    fmt = spark.read.format(FORMAT_NAME).option("path", t.root).load()
    api = t.read(spark)
    assert fmt.schema == api.schema
    assert _rowset(fmt) == _rowset(api)
    t.as_view(spark, "snap_t")
    sql = spark.sql("SELECT * FROM snap_t")
    assert _rowset(fmt) == _rowset(sql)
    # sanity on content: DV'd keys gone, upsert applied, pad NULL
    got = {r["k"]: (r["label"], r["score"]) for r in fmt.collect()}
    assert 0 not in got and 5 not in got and 15 not in got
    assert got[7] == ("SEVEN", None)
    assert got[100] == ("x", 1.5)


def test_snapshot_read_as_of(spark, tmp_path):
    """versionAsOf / timestampAsOf pin historical snapshots with the
    Delta resolution rule; conflicting or unresolvable pins fail
    loudly at planning, never as an empty scan."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    register_table_sink(spark)

    def rd(**opts):
        r = spark.read.format(FORMAT_NAME).option("path", t.root)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert sorted(r["k"] for r in rd().collect()) == [9]
    assert sorted(r["k"] for r in rd(versionAsOf="1").collect()) == [1, 2]
    ts1 = t._ts_at(1)
    assert sorted(r["k"] for r in rd(timestampAsOf=str(ts1)).collect()) == [1, 2]
    with pytest.raises(Exception, match="not both"):
        rd(versionAsOf="1", timestampAsOf="0").collect()
    with pytest.raises(Exception, match="no version 77"):
        rd(versionAsOf="77").collect()
    with pytest.raises(Exception, match="no version at or before"):
        rd(timestampAsOf="1.0").collect()
    # empty table: loud, not an empty frame
    t2 = VersionedTable(str(tmp_path / "empty"))
    os.makedirs(t2.root, exist_ok=True)
    with pytest.raises(Exception, match="no committed version"):
        spark.read.format(FORMAT_NAME).option("path", t2.root).load()


def test_snapshot_read_pushdown_prunes_partitions(spark, tmp_path):
    """Opt-in Catalyst pushdown: a filtered format read PLANS only the
    clustered groups whose manifest stats can hold matches — same
    skipping index as VersionedTable.read(prune=/point=) — while all
    filters stay residual (exact rows come back)."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=8)
    register_table_sink(spark)
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
        assert scan_parts(base) == 8
        filtered = base.filter("k < 100")
        assert scan_parts(filtered) == 1
        assert sorted(r["k"] for r in filtered.collect()) == list(range(100))
        one = base.filter("k = 500")
        assert scan_parts(one) == 1
        assert [r["v"] for r in one.collect()] == ["500"]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_snapshot_read_explicit_prune_vanilla_session(spark, tmp_path):
    """The caller-declared prune option skips groups on a VANILLA
    session (no filterPushdown conf, no pushFilters implementation) —
    the same superset guarantee, driven by the declared bound."""
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(400).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    t.append_clustered(df, "k", n_groups=4)
    register_table_sink(spark)

    def scan_parts(df_):
        return (
            df_.withColumn("p", F.spark_partition_id())
            .select("p")
            .distinct()
            .count()
        )

    base = spark.read.format(FORMAT_NAME).option("path", t.root).load()
    assert scan_parts(base) == 4
    pruned = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("prune", json.dumps([["k", 0, 50]]))
        .load()
    )
    assert scan_parts(pruned) == 1
    # superset guarantee: consumer still applies the exact filter
    assert sorted(
        r["k"] for r in pruned.filter("k <= 50").collect()
    ) == list(range(51))


def test_snapshot_read_generated_columns_table(spark, tmp_path):
    """A table with GENERATED ALWAYS AS columns reads through the
    format verbatim (values are materialized at write time — the
    sink refuses such tables, the READER must not)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.set_generated_column("kmod", "k % 10")
    t.append(_df(spark, [(13, "a"), (27, "b")]))
    register_table_sink(spark)
    fmt = spark.read.format(FORMAT_NAME).option("path", t.root).load()
    got = {r["k"]: r["kmod"] for r in fmt.collect()}
    assert got == {13: 3, 27: 7}
    assert _rowset(fmt) == _rowset(t.read(spark))


def test_snapshot_read_write_roundtrip_same_format(spark, tmp_path):
    """The interop matrix composes: write a table with the batch
    writer, read it back with the batch reader — one format string,
    no engine imports on either side of a vanilla session."""
    register_table_sink(spark)
    root = str(tmp_path / "t")
    _df(spark, [(1, "a"), (2, "b")]).write.format(FORMAT_NAME).option(
        "path", root
    ).mode("append").save()
    _df(spark, [(3, "c")]).write.format(FORMAT_NAME).option(
        "path", root
    ).mode("append").save()
    got = spark.read.format(FORMAT_NAME).option("path", root).load()
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]
    # AS OF the first write through the same surface
    v0 = (
        spark.read.format(FORMAT_NAME)
        .option("path", root)
        .option("versionAsOf", "0")
        .load()
    )
    assert sorted(r["k"] for r in v0.collect()) == [1, 2]


def test_read_path_prunes_columns_per_file(spark, tmp_path):
    """Executor-side COLUMN pruning (round 11): the per-file arrow
    read opens only the physical columns the negotiated schema needs —
    a 2-column projection over a wide table must not read the other
    columns' pages (the ReadSchema discipline, applied inside the
    Python data source). Asserted two ways: a user-projected schema
    returns correct values end-to-end, and the in-process unit read
    (monkeypatched pyarrow) proves the column subset requested."""
    from netflow_analysis_with_spark_streaming_spark.storage import (
        stream_source as ss,
    )

    t = VersionedTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}", float(i), f"pad{i}" * 50) for i in range(10)],
            "k long, v string, score double, wide string",
        ).coalesce(1)  # one part file: the unit read below targets it
    )
    t.rename_column("v", "label")  # physical name 'v' stays on file
    register_table_sink(spark)
    # end-to-end: user-projected schema through the format read
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .schema("k long, label string")
        .load()
        .collect()
    )
    assert sorted((r["k"], r["label"]) for r in got) == [
        (i, f"r{i}") for i in range(10)
    ]
    # unit: the arrow read requests ONLY the projected physical names
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    (g,) = t.snapshot_files()
    gdir = os.path.join(t.root, g)
    (fn,) = [f for f in os.listdir(gdir) if f.endswith(".parquet")]
    schema = StructType.fromJson(
        json.loads(
            spark.createDataFrame([], "k long, label string").schema.json()
        )
    )
    part = ss.FeedPartition(
        os.path.join(gdir, fn),
        "insert",
        0,
        schema.json(),
        mapping={"label": "v"},
        bare=True,
    )
    seen = {}
    orig = pq.ParquetFile.read

    def spying(self, columns=None, **kw):
        seen["columns"] = columns
        return orig(self, columns=columns, **kw)

    pq.ParquetFile.read = spying
    try:
        batches = list(ss._read_partition(part))
    finally:
        pq.ParquetFile.read = orig
    assert seen["columns"] == ["k", "v"]  # physical names, nothing else
    rows = [
        (a, b)
        for batch in batches
        for a, b in zip(
            batch.column(0).to_pylist(), batch.column(1).to_pylist()
        )
    ]
    assert sorted(rows) == [(i, f"r{i}") for i in range(10)]


def test_table_stream_insert_only(spark, tmp_path):
    """spark.readStream.format('versioned_table'): the insert-only
    TABLE stream (bare rows, Delta's readStream default) — appends
    flow through on one checkpoint, the schema is the table schema
    (no feed meta columns), and rate limits compose."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    register_table_sink(spark)
    batches = []

    def sink(df, bid):
        batches.append({tuple(r) for r in df.collect()})

    stream = (
        spark.readStream.format(FORMAT_NAME).option("path", t.root).load()
    )
    assert stream.columns == ["k", "v"]  # bare: no _change_type et al.
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        t.append(_df(spark, [(3, "c")]))
        q.processAllAvailable()
    finally:
        q.stop()
    assert set().union(*[b for b in batches if b]) == {
        (1, "a"), (2, "b"), (3, "c")
    }


def test_table_stream_fails_on_change_commits_unless_skipped(spark, tmp_path):
    """A delete/merge commit inside the consumed window fails the bare
    table stream loudly (bare rows cannot represent removals — Delta's
    contract); skipChangeCommits opts into insert-only consumption
    past it; the typed feed remains the CDC answer."""
    import pytest

    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    # CAPTURED delete: the feed can represent it (typed slice), the
    # BARE table stream cannot — this exercises the table stream's own
    # guard rather than feed_slices' uncaptured wall (also loud)
    t.delete_where_dv(spark, "k = 1", emit_changes=True)
    t.append(_df(spark, [(3, "c")]))
    register_table_sink(spark)
    rows = []

    def sink(df, bid):
        rows.extend(tuple(r) for r in df.collect())

    def run(skip: bool, ckpt: str):
        r = spark.readStream.format(FORMAT_NAME).option("path", t.root)
        if skip:
            r = r.option("skipChangeCommits", "true")
        q = (
            r.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="versioned_feed|skipChangeCommits"):
        run(False, "ckpt1")
    rows.clear()
    run(True, "ckpt2")
    assert set(rows) == {(1, "a"), (2, "b"), (3, "c")}  # inserts only


def test_table_stream_initial_snapshot_dv_filtered(spark, tmp_path):
    """initialSnapshot on the TABLE stream: the first batch serves the
    DV-filtered current snapshot as bare rows, then ordinary appends
    follow on the same checkpoint."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, [(i, f"r{i}") for i in range(6)]))
    t.delete_where_dv(spark, "k % 2 = 0")
    register_table_sink(spark)
    rows = []

    def sink(df, bid):
        rows.extend(tuple(r) for r in df.collect())

    def run():
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("path", t.root)
            .option("initialSnapshot", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert set(rows) == {(1, "r1"), (3, "r3"), (5, "r5")}  # DVs applied
    t.append(_df(spark, [(9, "new")]))
    run()
    assert set(rows) == {(1, "r1"), (3, "r3"), (5, "r5"), (9, "new")}


def test_path_option_accepts_file_uri(spark, tmp_path):
    """A catalog-qualified ``file:`` URI in the path option resolves
    to the plain local path (SQL DDL and some catalog layers qualify
    paths before handing them back); any other scheme refuses loudly
    instead of being treated as a relative directory name. Full
    ``CREATE TABLE ... USING versioned_table`` interop is blocked by
    Spark itself — the catalog drops a python data source's OPTIONS on
    read and refuses direct ``format.`path``` queries — so ``as_view``
    remains the SQL route (FORMAT.md)."""
    import pytest as _pytest

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        resolve_table_root,
    )

    register_table_sink(spark)
    root = str(tmp_path / "t")
    _df(spark, [(1, "a"), (2, "b")]).write.format(FORMAT_NAME).option(
        "path", f"file://{root}"
    ).mode("append").save()
    assert VersionedTable(root).read(spark).count() == 2  # plain path on disk
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", f"file:{root}")
        .load()
        .count()
    )
    assert got == 2
    assert resolve_table_root("file:///x/y") == "/x/y"
    assert resolve_table_root("/plain/path") == "/plain/path"
    with _pytest.raises(ValueError, match="local-filesystem only"):
        resolve_table_root("s3a://bucket/t")
    # file://HOST/x names a remote authority — refusing beats silently
    # opening the local /x (a different table than the one named)
    with _pytest.raises(ValueError, match="remote authority"):
        resolve_table_root("file://nfs-server/data/t")
    assert resolve_table_root("file://localhost/x/y") == "/x/y"


def test_columns_option_projects_at_source(spark, tmp_path):
    """.option('columns', 'a,b') narrows the NEGOTIATED schema itself
    (Spark never pushes column pruning into Python scans), so the
    per-file arrow read opens only those physical columns — the
    .schema(subset) recipe without restating types. Unknown names
    refuse at planning; the subset flows through the table STREAM
    reader too."""
    register_table_sink(spark)
    t = VersionedTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.5, "pad1"), (2, "b", 2.5, "pad2")],
            "k long, v string, x double, wide string",
        )
    )
    got = (
        spark.read.format(FORMAT_NAME)
        .option("path", t.root)
        .option("columns", "v,k")
        .load()
    )
    assert got.columns == ["v", "k"]  # caller's order, caller's subset
    assert {tuple(r) for r in got.collect()} == {("a", 1), ("b", 2)}
    with pytest.raises(Exception, match="not in table schema"):
        spark.read.format(FORMAT_NAME).option("path", t.root).option(
            "columns", "k,nope"
        ).load().collect()
    # the projection composes with the insert-only table stream
    out = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.root)
        .option("columns", "k")
        .option("initialSnapshot", "true")
        .load()
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cols_tbl_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM cols_tbl_stream").collect()
    assert sorted(tuple(r) for r in rows) == [(1,), (2,)]
