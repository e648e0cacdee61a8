"""Streaming semantics (SURVEY.md §5.2.3): deterministic tests via
availableNow + memory sinks; exactly-once by batch replay; watermark
behavior with manufactured event times."""

import json
import os

import pytest
import pyspark.sql.functions as F

from conftest import SF_ORACLE

from netflow_analysis_with_spark_streaming_spark.operators.normalize import normalize_flows
from netflow_analysis_with_spark_streaming_spark.schemas import FLOW_RAW
from netflow_analysis_with_spark_streaming_spark.streaming import jobs, sinks, sources


def _write_json_files(tmp_path, n_files=3, rows_per_file=4):
    """tshark-style multiline JSON fixtures (one array per file)."""
    d = tmp_path / "in"
    d.mkdir()
    total = 0
    for f in range(n_files):
        recs = []
        for r in range(rows_per_file):
            recs.append(
                {
                    "event_type": "purge",
                    "ip_src": f"10.0.{f}.{r}",
                    "ip_dst": "192.168.178.80",
                    "port_src": 1000 + r,
                    "port_dst": 443,
                    "ip_proto": "tcp",
                    "timestamp_start": f"2019-11-0{f + 1} 06:08:{r:02d}.000000",
                    "packets": 1,
                    "bytes": 100 * (r + 1),
                }
            )
            total += 1
        (d / f"part-{f}.json").write_text(json.dumps(recs))
    return str(d), total


def test_file_source_normalize_end_to_end(spark, tmp_path):
    """S2 + P2: JSON file stream -> normalize -> memory sink."""
    path, total = _write_json_files(tmp_path)
    raw = sources.json_file_source(spark, path, FLOW_RAW, max_files_per_trigger=1)
    assert raw.isStreaming
    flows = normalize_flows(
        raw.select(F.to_json(F.struct(*raw.columns)).alias("value"))
    )
    jobs.run_to_memory(flows, "t_norm")
    out = spark.table("t_norm").collect()
    assert len(out) == total
    assert all(r["protocol"] == "tcp" for r in out)
    assert all(r["ip_dst"] == "192.168.178.80" for r in out)


def test_max_files_per_trigger_paces_batches(spark, tmp_path):
    """T8: 3 files at maxFilesPerTrigger=1 must drain in 3 batches."""
    path, _ = _write_json_files(tmp_path, n_files=3)
    raw = sources.json_file_source(spark, path, FLOW_RAW, max_files_per_trigger=1)
    seen = []

    q = (
        raw.writeStream.foreachBatch(lambda df, bid: seen.append((bid, df.count())))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(seen) == 3, seen
    assert all(cnt == 4 for _, cnt in seen)


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """T7: replaying a committed batch id must be a no-op; committed
    rows never duplicate (the reference's insert_one had no such
    guarantee)."""
    sink = sinks.IdempotentParquetSink(str(tmp_path / "table"))
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    sink(df, 0)
    sink(df, 0)  # replay after simulated failure
    sink(df, 1)
    out = sink.read(spark)
    assert out.count() == 20  # 2 committed batches, not 3 writes
    assert sink.committed_ids() == {0, 1}


def test_idempotent_sink_excludes_uncommitted(spark, tmp_path):
    """A crash between data write and commit marker must leave the
    partial batch invisible to readers."""
    root = tmp_path / "table"
    sink = sinks.IdempotentParquetSink(str(root))
    df = spark.range(5).selectExpr("id", "id AS v")
    sink(df, 0)
    # simulate: batch 1 data written, crash before commit marker
    df.write.mode("overwrite").parquet(str(root / "data" / "batch_id=1"))
    assert sink.read(spark).count() == 5
    # recovery replays batch 1 -> now visible exactly once
    sink(df, 1)
    assert sink.read(spark).count() == 10


def test_progress_monitoring(spark, tmp_path):
    """Observability: after a windowed-agg run the progress summary
    reports rows, batch duration and stateful-operator state size."""
    from netflow_analysis_with_spark_streaming_spark.streaming import monitor

    path, total = _write_json_files(tmp_path, n_files=2)
    raw = sources.json_file_source(spark, path, FLOW_RAW, max_files_per_trigger=None)
    typed = raw.withColumn("ts", F.to_timestamp("timestamp_start"))
    win = jobs.windowed_traffic(
        typed, ts_col="ts", window="10 seconds", watermark="1 minute",
        value_col="bytes", key_col="ip_dst",
    )
    q = (
        win.writeStream.format("memory").queryName("t_mon").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    s = monitor.progress_summary(q)
    assert s is not None
    assert s["num_input_rows"] >= 0
    assert s["batch_duration_ms"] > 0
    assert s["state_rows"] > 0  # windowed agg keeps window state
    assert monitor.total_input_rows(q) == total


def test_sink_compaction_preserves_rows(spark, tmp_path):
    """Compaction merges N batch dirs into one, preserving every row
    exactly once and leaving the sink append-able afterwards."""
    sink = sinks.IdempotentParquetSink(str(tmp_path / "t"))
    for bid in range(4):
        sink(spark.range(bid * 10, bid * 10 + 10).selectExpr("id", "id*2 AS v"), bid)
    before = sorted(r["id"] for r in sink.read(spark).collect())
    sink.compact(spark, target_partitions=2)
    after = sorted(r["id"] for r in sink.read(spark).collect())
    assert before == after == list(range(40))
    assert len(sink.committed_ids()) == 1
    # still append-able: next batch id continues past the compacted one
    nxt = max(sink.committed_ids()) + 1
    sink(spark.range(100, 105).selectExpr("id", "id*2 AS v"), nxt)
    assert sink.read(spark).count() == 45


def test_continuous_trigger_starts(spark, tmp_path):
    """T3: the continuous-processing trigger accepts a map-only plan
    (rate source -> projection -> console). Smoke: starts, runs,
    stops — latency guarantees need a real cluster to observe."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
    proj = rate.selectExpr("value", "value * 2 AS doubled")
    q = (
        proj.writeStream.format("console")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(continuous="1 second")
        .start()
    )
    try:
        import time

        time.sleep(2)
        assert q.isActive
        assert q.exception() is None
    finally:
        q.stop()


def test_streaming_batch_agreement(spark):
    """The windowed streaming agg must equal the same agg run in batch
    (Structured Streaming's core contract)."""
    from netflow_analysis_with_spark_streaming_spark import tables
    from netflow_analysis_with_spark_streaming_spark.queries_streaming import (
        _stream_tumbling_window,
    )

    stream_rows = {
        (r["window_start"], r["event_type"]): (r["total_value"], r["n_events"])
        for r in _stream_tumbling_window(spark, SF_ORACLE).collect()
    }
    ev = tables.load(spark, "events", SF_ORACLE)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.round(F.sum("value"), 2).alias("tv"), F.count("*").alias("n"))
        .collect()
    )
    batch_rows = {
        (r["win"]["start"], r["event_type"]): (r["tv"], r["n"]) for r in batch
    }
    assert stream_rows == batch_rows


def test_watermark_drops_late_data(spark, tmp_path):
    """T5: an event older than watermark behind the max seen event
    time must not re-open its (already emitted) window in append mode.
    Two micro-batches: batch 2 carries the late row."""
    d = tmp_path / "wm"
    d.mkdir()
    # batch 1: events at 10:00 and 10:05 -> max event time 10:05
    (d / "f1.json").write_text(
        json.dumps(
            [
                {"ts": "2024-01-01 10:00:00", "k": "a", "v": 1.0},
                {"ts": "2024-01-01 10:05:00", "k": "a", "v": 2.0},
            ]
        )
    )
    schema = "ts string, k string, v double"
    raw = sources.json_file_source(
        spark, str(d), spark.createDataFrame([], schema).schema, max_files_per_trigger=1
    )
    typed = raw.withColumn("ts", F.to_timestamp("ts"))
    win = jobs.windowed_traffic(
        typed, ts_col="ts", window="1 minute", watermark="1 minute",
        value_col="v", key_col="k",
    )
    ckpt = str(tmp_path / "wm_ckpt")
    emitted: list = []

    def _run():
        # foreachBatch sink: supports checkpoint RECOVERY (memory sink
        # does not), so the second run continues the first's watermark.
        q = (
            win.writeStream.foreachBatch(
                lambda df, bid: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _run()
    # watermark advanced to 10:04 -> the 10:00 window is closed+emitted
    assert any(r["window_start"].minute == 0 for r in emitted), emitted

    # batch 2: a LATE event for the closed 10:00 window + a fresh one
    (d / "f2.json").write_text(
        json.dumps(
            [
                {"ts": "2024-01-01 10:00:30", "k": "a", "v": 100.0},  # late, dropped
                {"ts": "2024-01-01 10:10:00", "k": "a", "v": 3.0},
            ]
        )
    )
    emitted.clear()
    _run()
    # the late row must NOT produce a second emission of the 10:00 window
    re_emitted = [
        r
        for r in emitted
        if r["window_start"].minute == 0 and r["window_start"].hour == 10
    ]
    assert re_emitted == [], emitted


def test_dedup_within_watermark(spark, tmp_path):
    """T6: duplicate (key, ts) rows inside the watermark horizon are
    dropped; state stays bounded by the watermark."""
    d = tmp_path / "dd"
    d.mkdir()
    recs = [
        {"ts": "2024-01-01 10:00:00", "k": "a"},
        {"ts": "2024-01-01 10:00:00", "k": "a"},  # exact dup
        {"ts": "2024-01-01 10:00:01", "k": "a"},
        {"ts": "2024-01-01 10:00:00", "k": "b"},
    ]
    (d / "f1.json").write_text(json.dumps(recs))
    raw = sources.json_file_source(
        spark, str(d), spark.createDataFrame([], "ts string, k string").schema
    )
    typed = raw.withColumn("ts", F.to_timestamp("ts"))
    deduped = jobs.dedup_within_watermark(typed, keys=["k"], watermark="10 minutes")
    jobs.run_to_memory(deduped, "t_dd")
    assert spark.table("t_dd").count() == 3


def test_dual_sink_feeds_hot_and_cold(spark, tmp_path):
    """E1 fan-out: one stream, one read, both sinks see every batch
    exactly once (the reference consumed the topic twice)."""
    path, total = _write_json_files(tmp_path, n_files=2)
    raw = sources.json_file_source(spark, path, FLOW_RAW, max_files_per_trigger=1)
    flows = normalize_flows(
        raw.select(F.to_json(F.struct(*raw.columns)).alias("value"))
    )
    cold = sinks.IdempotentParquetSink(str(tmp_path / "cold"))
    hot_batches = []
    q = jobs.dual_sink(
        flows, cold, lambda df: hot_batches.append(df.count()), str(tmp_path / "ck")
    )
    q.awaitTermination()
    assert cold.read(spark).count() == total
    assert sum(hot_batches) == total
    assert len(hot_batches) == 2  # maxFilesPerTrigger paced both sinks


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream equi-join with watermarks + time-range condition
    (SURVEY §2.7 streaming joins): click events joined to purchase
    events of the same user within 10 minutes after the click."""
    d1, d2 = tmp_path / "clicks", tmp_path / "buys"
    d1.mkdir(), d2.mkdir()
    (d1 / "f.json").write_text(
        json.dumps(
            [
                {"cts": "2024-01-01 10:00:00", "user_id": 1},
                {"cts": "2024-01-01 10:00:00", "user_id": 2},
            ]
        )
    )
    (d2 / "f.json").write_text(
        json.dumps(
            [
                {"bts": "2024-01-01 10:05:00", "user_id": 1},   # within 10 min
                {"bts": "2024-01-01 11:00:00", "user_id": 2},   # too late
            ]
        )
    )
    clicks = sources.json_file_source(
        spark, str(d1), spark.createDataFrame([], "cts string, user_id long").schema
    ).withColumn("cts", F.to_timestamp("cts")).withWatermark("cts", "1 minute")
    buys = sources.json_file_source(
        spark, str(d2), spark.createDataFrame([], "bts string, user_id long").schema
    ).withColumn("bts", F.to_timestamp("bts")).withWatermark("bts", "1 minute")
    joined = clicks.join(
        buys,
        (clicks.user_id == buys.user_id)
        & (buys.bts >= clicks.cts)
        & (buys.bts <= clicks.cts + F.expr("INTERVAL 10 MINUTES")),
    ).select(clicks.user_id, "cts", "bts")
    jobs.run_to_memory(joined, "t_ssj")
    rows = spark.table("t_ssj").collect()
    assert [r["user_id"] for r in rows] == [1], rows


def test_kafka_option_builders():
    """S1/S6/K2 config surface (no broker in this environment — the
    option contract is what's testable)."""
    opts = sources.kafka_source_options(
        "broker:9092", "netflow", max_offsets_per_trigger=10000
    )
    assert opts["subscribe"] == "netflow"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "10000"
    sk = sinks.kafka_sink_options("broker:9092", "realTimeChart")
    assert sk == {"kafka.bootstrap.servers": "broker:9092", "topic": "realTimeChart"}


def test_csv_file_source(spark, tmp_path):
    """S2 CSV variant: streamed CSV rows arrive typed per the schema."""
    d = tmp_path / "csv"
    d.mkdir()
    (d / "f1.csv").write_text("ip_src,bytes\n10.0.0.1,100\n10.0.0.2,250\n")
    schema = spark.createDataFrame([], "ip_src string, bytes long").schema
    raw = sources.csv_file_source(spark, str(d), schema, header=True)
    assert raw.isStreaming
    jobs.run_to_memory(raw, "t_csv")
    rows = {r["ip_src"]: r["bytes"] for r in spark.table("t_csv").collect()}
    assert rows == {"10.0.0.1": 100, "10.0.0.2": 250}


def test_binary_file_source_to_multimodal(spark, tmp_path):
    """Media files on disk -> binaryFile rows -> decode_media: the full
    multimodal ingestion path with real file bytes."""
    from netflow_analysis_with_spark_streaming_spark.functions import multimodal as M
    import pyspark.sql.functions as SF

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.png").write_bytes(b"\x89PNG fake-bytes-a")
    (d / "b.png").write_bytes(b"\x89PNG fake-bytes-b")
    (d / "skip.txt").write_text("not media")
    files = sources.binary_file_source(spark, str(d), glob="*.png")
    media = files.select(
        SF.monotonically_increasing_id().alias("doc_id"),
        SF.lit("image/png").alias("media_type"),
        SF.col("content").alias("payload"),
    )
    out = M.decode_media(media).collect()
    assert len(out) == 2
    assert all(len(r["feature"]) == M.FEATURE_DIM for r in out)
    # determinism: same payload bytes -> same features on re-read
    out2 = M.decode_media(media).collect()
    assert {tuple(r["feature"]) for r in out} == {tuple(r["feature"]) for r in out2}


def test_kafka_reader_actionable_error(spark):
    """Without the connector jar, kafka_reader must fail with the fix
    in the message, not Spark's generic data-source error."""
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="spark.jars.packages"):
        sources.kafka_reader(spark, "broker:9092", "netflow")


def test_to_kafka_records_shape(spark):
    """K2 record shaping: value is the JSON of all columns, no driver
    collect anywhere in the plan."""
    df = spark.createDataFrame([(1, "x")], ["id", "name"])
    out = sinks.to_kafka_records(df, key_col="id")
    assert out.columns == ["key", "value"]
    row = out.collect()[0]
    assert row["key"] == "1"
    assert json.loads(row["value"]) == {"id": 1, "name": "x"}


def test_stateful_agg_on_rocksdb_state_store(spark, tmp_path):
    """The at-scale state backend: the same windowed aggregation runs
    on RocksDBStateStoreProvider (spillable, not bounded by executor
    heap like the default HDFS-backed in-memory map) and produces
    identical results — the config is the only change, which is the
    claim that matters for 100 TB state."""
    import json as _json

    d = tmp_path / "src"
    d.mkdir()
    (d / "f.json").write_text(
        _json.dumps(
            [
                {"ts": "2024-01-01 10:00:00", "k": "a", "v": 1.0},
                {"ts": "2024-01-01 10:30:00", "k": "a", "v": 2.0},
                {"ts": "2024-01-01 11:10:00", "k": "b", "v": 5.0},
            ]
        )
    )
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "ts string, k string, v double").schema,
    )
    typed = raw.withColumn("ts", F.to_timestamp("ts")).withWatermark("ts", "2 hours")
    win = typed.groupBy(F.window("ts", "1 hour"), "k").agg(F.sum("v").alias("s"))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            win.writeStream.format("memory")
            .queryName("t_rocksdb")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        (r["k"], r["window"].start.hour): r["s"]
        for r in spark.table("t_rocksdb").collect()
    }
    assert got == {("a", 10): 3.0, ("b", 11): 5.0}, got
    # and the run really used RocksDB (its custom metrics show up)
    assert any("rocksdb" in str(p).lower() for p in progress), progress


def test_file_name_only_option_accepted(spark, tmp_path):
    """S2 fileNameOnly: the option wires through and the stream still
    delivers (dedup-by-name semantics themselves are Spark's)."""
    import json as _json

    d = tmp_path / "fno"
    d.mkdir()
    (d / "a.json").write_text(_json.dumps([{"k": 1}]))
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "k long").schema,
        file_name_only=True,
    )
    assert raw.isStreaming
    jobs.run_to_memory(raw, "t_fno")
    assert spark.table("t_fno").count() == 1


def test_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """T7 restart semantics: stop a paced query mid-backlog, restart
    with the SAME checkpoint + sink — the second run resumes from the
    recorded offsets and the sink holds every row exactly once."""
    path, total = _write_json_files(tmp_path, n_files=3)
    ck = str(tmp_path / "ck")
    sink = sinks.IdempotentParquetSink(str(tmp_path / "table"))

    def start():
        raw = sources.json_file_source(spark, path, FLOW_RAW, max_files_per_trigger=1)
        return (
            raw.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    # let at least one batch commit, then stop mid-backlog
    import time

    for _ in range(100):
        if sink.committed_ids():
            break
        time.sleep(0.1)
    q1.stop()
    q1.awaitTermination()
    n_after_stop = sink.read(spark).count() if sink.committed_ids() else 0
    assert n_after_stop < total  # genuinely interrupted

    q2 = start()  # same checkpoint: resumes, does not re-deliver
    q2.awaitTermination()
    out = sink.read(spark)
    assert out.count() == total, (n_after_stop, out.count(), total)
    # no duplicates: every (ip_src, timestamp_start) pair unique
    assert out.select("ip_src", "timestamp_start").distinct().count() == total


def test_socket_live_path(spark):
    """S1/S6 stand-in without a broker: a LIVE TCP feed (Spark's
    socket source) -> JSON normalize -> live-path projection -> memory
    sink, with rows flowing while the producer is still writing — the
    closest sandbox-legal approximation of the reference's
    Kafka -> process -> websocket pipeline (the kafka connector jar is
    not shipped in this environment; see README limitation note)."""
    import socket
    import threading
    import time

    payload = [
        {"event_type": "click", "value": 12.5, "t": "10:00:01"},
        {"event_type": "signup", "value": 1.0, "t": "10:00:02"},  # heartbeat-ish, dropped
        {"event_type": "purchase", "value": 99.9, "t": "10:00:03"},
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            for rec in payload:
                conn.sendall((json.dumps(rec) + "\n").encode())
                time.sleep(0.3)  # genuinely live: rows arrive over time
            while not stop.is_set():
                time.sleep(0.1)

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        raw = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", port)
            .load()
        )
        parsed = raw.select(
            F.from_json("value", "event_type string, value double, t string").alias("r")
        ).select("r.*")
        live = parsed.filter(F.col("event_type") != "signup").select(
            "t", F.round("value", 2).alias("bytes_value")
        )
        q = (
            live.writeStream.format("memory")
            .queryName("t_socket_live")
            .outputMode("append")
            .start()
        )
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("t_socket_live").count() >= 2:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
        rows = {(r["t"], r["bytes_value"]) for r in spark.table("t_socket_live").collect()}
        assert ("10:00:01", 12.5) in rows and ("10:00:03", 99.9) in rows, rows
        assert all(t != "10:00:02" for t, _ in rows)  # heartbeat dropped
    finally:
        stop.set()
        srv.close()


def test_socket_paced_delivery_multi_batch(spark):
    """T8 pacing on the LIVE path: rows arrive over the socket in
    bursts while a short processing-time trigger drains them — the
    stream must deliver across >1 non-empty micro-batch with every
    batch bounded below the full payload (the sandbox-legal analog of
    Kafka maxOffsetsPerTrigger backpressure: bounded increments, not
    one catch-all batch)."""
    import socket
    import threading
    import time

    n_rows = 30
    burst = 10

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            for i in range(n_rows):
                conn.sendall((json.dumps({"i": i}) + "\n").encode())
                if i % burst == burst - 1:
                    time.sleep(2.5)  # burst gap >> trigger interval + load jitter
            while not stop.is_set():
                time.sleep(0.1)

    threading.Thread(target=serve, daemon=True).start()
    batches: list = []  # (batch_id, n_rows) per non-empty batch
    try:
        raw = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", port)
            .load()
        )
        parsed = raw.select(F.from_json("value", "i long").alias("r")).select("r.*")
        q = (
            parsed.writeStream.foreachBatch(
                lambda df, bid: batches.append((bid, df.count()))
            )
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if sum(n for _, n in batches) >= n_rows:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
    finally:
        stop.set()
        srv.close()
    sizes = [n for _, n in batches if n > 0]
    assert sum(sizes) == n_rows, batches
    assert len(sizes) >= 2, f"expected paced multi-batch delivery, got {batches}"
    assert max(sizes) < n_rows, f"one catch-all batch defeats pacing: {batches}"


def test_prepare_cached_dir_race_single_publish(tmp_path):
    """Two concurrent builders must yield exactly ONE published cache
    with one builder's complete output — never interleaved appends
    (the corruption the old check-then-append-then-mark pattern had)."""
    import threading

    from netflow_analysis_with_spark_streaming_spark.queries_streaming import (
        _prepare_cached_dir,
    )

    final = str(tmp_path / "cache")
    barrier = threading.Barrier(2)

    def build_tag(tag):
        def build(tmp):
            import os
            import time

            os.makedirs(tmp)
            barrier.wait()  # both builders past the _DONE check
            for i in range(3):
                with open(os.path.join(tmp, f"part-{i}"), "w") as f:
                    f.write(tag)
                time.sleep(0.01)

        return build

    threads = [
        threading.Thread(target=_prepare_cached_dir, args=(final, build_tag(t)))
        for t in ("A", "B")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    import os

    assert os.path.exists(os.path.join(final, "_DONE"))
    parts = sorted(p for p in os.listdir(final) if p.startswith("part-"))
    assert parts == ["part-0", "part-1", "part-2"]
    contents = {open(os.path.join(final, p)).read() for p in parts}
    assert len(contents) == 1, f"interleaved builders: {contents}"
    # no leaked loser temp dirs
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith("cache.tmp-")]
    assert leftovers == [], leftovers


def test_prepare_cached_dir_evicts_stale_incomplete_dir(tmp_path):
    """A final_dir left WITHOUT _DONE (crashed in-place build) must be
    evicted and replaced by the fresh build — the old behavior returned
    the incomplete dir, silently streaming partial source data."""
    import os

    from netflow_analysis_with_spark_streaming_spark.queries_streaming import (
        _prepare_cached_dir,
    )

    final = str(tmp_path / "cache")
    os.makedirs(final)
    with open(os.path.join(final, "part-stale"), "w") as f:
        f.write("partial")
    # no _DONE marker: the dir is debris, not a published cache

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-fresh"), "w") as f:
            f.write("complete")

    out = _prepare_cached_dir(final, build)
    assert out == final
    assert os.path.exists(os.path.join(final, "_DONE"))
    assert os.path.exists(os.path.join(final, "part-fresh"))
    assert not os.path.exists(os.path.join(final, "part-stale"))


def test_complete_mode_row_bound_enforced(spark, tmp_path, monkeypatch):
    """The complete-mode memory-sink guard must raise when the
    materialized result exceeds the bound (unbounded-key protection),
    and stay silent under it."""
    import json as _json

    import pytest

    from netflow_analysis_with_spark_streaming_spark.streaming import (
        jobs,
        sources,
    )

    d = tmp_path / "src"
    d.mkdir()
    (d / "f.json").write_text(_json.dumps([{"k": i} for i in range(50)]))
    raw = sources.json_file_source(
        spark, str(d), spark.createDataFrame([], "k long").schema
    )
    agg = raw.groupBy("k").count()
    monkeypatch.setattr(jobs, "DRIVER_ROW_BOUND", 10)
    with pytest.raises(RuntimeError, match="key cardinality"):
        jobs.run_to_memory(agg, "t_bound_trip", output_mode="complete")
    monkeypatch.setattr(jobs, "DRIVER_ROW_BOUND", 1000)
    jobs.run_to_memory(agg, "t_bound_ok", output_mode="complete")
    assert spark.table("t_bound_ok").count() == 50


def test_streaming_neardup_index_cross_batch(spark, tmp_path):
    """A real streamed ingest: batch 2 carries a near-dup (one-word
    edit) of a batch-1 doc — the index must flag exactly that
    cross-batch pair; unrelated docs stay silent; a replayed batch
    re-reports without double-registering."""
    from netflow_analysis_with_spark_streaming_spark.streaming.neardup_index import (
        NearDupIndex,
    )

    words = lambda i: [f"w{i}_{j}" for j in range(60)]  # noqa: E731
    b1 = spark.createDataFrame(
        [(1, " ".join(words(1))), (2, " ".join(words(2)))], ["doc_id", "text"]
    )
    edited = words(1)
    edited[5] = "CHANGED"
    b2 = spark.createDataFrame(
        [(10, " ".join(edited)), (11, " ".join(words(7)))], ["doc_id", "text"]
    )
    idx = NearDupIndex(str(tmp_path / "idx"))

    src = tmp_path / "src"
    src.mkdir()
    import json as _json

    (src / "b1.json").write_text(_json.dumps([r.asDict() for r in b1.collect()]))
    (src / "b2.json").write_text(_json.dumps([r.asDict() for r in b2.collect()]))
    from netflow_analysis_with_spark_streaming_spark.streaming import sources

    raw = sources.json_file_source(
        spark,
        str(src),
        spark.createDataFrame([], "doc_id long, text string").schema,
        max_files_per_trigger=1,
    )
    hits: list = []
    q = (
        raw.writeStream.foreachBatch(
            lambda df, bid: hits.extend(
                (r["new_doc_id"], r["prior_doc_id"])
                for r in idx.process_batch(df, bid).collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (10, 1) in hits, hits
    assert all(new == 10 and prior == 1 for new, prior in hits), hits
    # replay batch 2 by hand: same detection, no re-registration
    n_versions = len(idx.table.versions())
    replay = idx.process_batch(b2, batch_id=1)
    assert {(r["new_doc_id"], r["prior_doc_id"]) for r in replay.collect()} == {(10, 1)}
    assert len(idx.table.versions()) == n_versions
    # index rows: 4 band keys per doc, 4 docs, registered exactly once
    assert idx.table.read(spark).count() == 16


def test_neardup_index_durable_survives_session_restart(tmp_path):
    """durable=True: the session is KILLED after batches 0+1 and a
    fresh process replays batch 1 — the durable index must reproduce
    exactly the original cross-batch pairs without re-registering.
    Runs in two subprocesses because a real restart requires tearing
    down the JVM, which a shared session fixture cannot survive."""
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import json, sys
        phase, root, out = sys.argv[1], sys.argv[2], sys.argv[3]
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .appName(f"ndidx-restart-{phase}")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .getOrCreate())
        sys.path.insert(0, ".")
        from netflow_analysis_with_spark_streaming_spark.streaming.neardup_index import NearDupIndex
        idx = NearDupIndex(root + "/idx", durable=True)
        words = lambda i: [f"w{i}_{j}" for j in range(60)]
        b0 = spark.createDataFrame(
            [(1, " ".join(words(1))), (2, " ".join(words(2)))], ["doc_id", "text"])
        edited = words(1); edited[5] = "CHANGED"
        b1 = spark.createDataFrame(
            [(10, " ".join(edited)), (11, " ".join(words(7)))], ["doc_id", "text"])
        if phase == "run":
            idx.process_batch(b0, batch_id=0)
            pairs = idx.process_batch(b1, batch_id=1)
        else:  # replay batch 1 in the fresh process
            pairs = idx.process_batch(b1, batch_id=1)
        result = {
            "pairs": sorted([r["new_doc_id"], r["prior_doc_id"]] for r in pairs.collect()),
            "versions": len(idx.table.versions()),
            "index_rows": idx.table.read(spark).count(),
        }
        open(out, "w").write(json.dumps(result))
        spark.stop()
        """
    )
    results = {}
    for phase in ("run", "replay"):
        out = tmp_path / f"{phase}.json"
        proc = subprocess.run(
            [sys.executable, "-c", script, phase, str(tmp_path), str(out)],
            cwd="/root/repo",
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        results[phase] = json.loads(out.read_text())
    assert results["run"]["pairs"] == [[10, 1]], results["run"]
    # the fresh process, from the durable index alone, reproduces the
    # original detection and registers nothing twice
    assert results["replay"]["pairs"] == [[10, 1]], results["replay"]
    assert results["replay"]["versions"] == results["run"]["versions"]
    assert results["replay"]["index_rows"] == results["run"]["index_rows"] == 16


def test_streaming_curator_end_to_end(spark, tmp_path):
    """The streaming curation job, driven as a real stream: batch 2
    carries a near-dup of an accepted doc, an exact dup of an accepted
    doc, and a contaminated doc — only the clean unique survives.
    Quality rejects run in batch 1; in-batch exact dups keep the min
    doc_id; a replayed batch changes nothing; and the near-dup index
    mirrors ACCEPTED docs only."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.streaming import sources
    from netflow_analysis_with_spark_streaming_spark.streaming.curate_job import (
        StreamingCurator,
    )

    words = lambda i: [f"w{i}_{j}" for j in range(60)]  # noqa: E731
    text = lambda i: " ".join(words(i))  # noqa: E731
    edited = words(1)
    edited[5] = "CHANGED"
    eval_words = [f"e{j}" for j in range(60)]
    b1 = [
        {"doc_id": 1, "text": text(1)},
        {"doc_id": 2, "text": text(2)},
        {"doc_id": 3, "text": "too short"},  # quality reject
        {"doc_id": 4, "text": text(1)},  # in-batch exact dup of 1
    ]
    b2 = [
        {"doc_id": 10, "text": " ".join(edited)},  # near-dup of accepted 1
        {"doc_id": 11, "text": text(7)},  # clean unique
        {"doc_id": 12, "text": text(2)},  # cross-batch exact dup of 2
        {"doc_id": 13, "text": " ".join(eval_words)},  # contaminated
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(_json.dumps(b1))
    (src / "b2.json").write_text(_json.dumps(b2))

    cur = StreamingCurator(
        str(tmp_path / "cur"),
        eval_shingles=[" ".join(eval_words[:5])],
    )
    raw = sources.json_file_source(
        spark,
        str(src),
        spark.createDataFrame([], "doc_id long, text string").schema,
        max_files_per_trigger=1,
    )
    q = (
        raw.writeStream.foreachBatch(cur.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(r["doc_id"] for r in cur.curated.read(spark).collect())
    assert got == [1, 2, 11], got
    # index mirrors accepted docs only: 4 band keys x 3 docs
    assert cur.index.table.read(spark).count() == 12
    # replay batch 1 by hand: nothing lands twice, nothing re-registers
    n_versions = len(cur.curated.versions())
    cur.process_batch(spark.createDataFrame(b2, "doc_id long, text string"), 1)
    assert len(cur.curated.versions()) == n_versions
    assert sorted(r["doc_id"] for r in cur.curated.read(spark).collect()) == [1, 2, 11]


def test_band_keys_from_words_matches_text_path(spark):
    """The shared-tokenization banding path (band_keys_from_words, fed
    by the curator's cached word arrays) must emit EXACTLY the rows of
    the from-text path — index hits and batch detectors stay in
    agreement no matter which side tokenized."""
    from netflow_analysis_with_spark_streaming_spark.functions import text as T
    from netflow_analysis_with_spark_streaming_spark.streaming.neardup_index import (
        band_keys,
        band_keys_from_words,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(20)]
        + [(100, "short doc"), (101, "   ")],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    via_text = {(r["doc_id"], r["band_key"]) for r in band_keys(docs).collect()}
    pre = docs.select("doc_id", T.words(F.col("text")).alias("w"))
    via_words = {
        (r["doc_id"], r["band_key"])
        for r in band_keys_from_words(pre, words_col="w").collect()
    }
    assert via_text == via_words
    assert via_text  # non-degenerate


def test_two_durable_indexes_share_checkpoint_dir_without_clobber(spark, tmp_path):
    """The context-level checkpoint dir is set ONCE (first durable
    component wins); a second durable index must neither clobber it
    nor lose its own checkpoints — both detections stay correct with
    the shared location (checkpoint files are opaque per-RDD subdirs)."""
    from netflow_analysis_with_spark_streaming_spark.streaming.neardup_index import (
        NearDupIndex,
    )

    sc = spark.sparkContext
    words = lambda i: " ".join(f"w{i}_{j}" for j in range(60))  # noqa: E731
    docs = spark.createDataFrame(
        [(1, words(1)), (2, words(2))], ["doc_id", "text"]
    )
    probe = spark.createDataFrame([(10, words(1))], ["doc_id", "text"])

    a = NearDupIndex(str(tmp_path / "a"), durable=True)
    b = NearDupIndex(str(tmp_path / "b"), durable=True)
    pre = sc.getCheckpointDir()
    a.process_batch(docs, 0)
    dir_after_a = sc.getCheckpointDir()
    b.process_batch(docs, 0)
    assert sc.getCheckpointDir() == dir_after_a  # b did not clobber a's dir
    if pre is None:
        # spark normalizes to a URI and appends a per-context uuid
        assert f"{tmp_path}/a/_ckpt" in dir_after_a
    pa_ = a.process_batch(probe, 1)
    pb_ = b.process_batch(probe, 1)
    assert {(r["new_doc_id"], r["prior_doc_id"]) for r in pa_.collect()} == {(10, 1)}
    assert {(r["new_doc_id"], r["prior_doc_id"]) for r in pb_.collect()} == {(10, 1)}


def test_streaming_curator_rejection_audit(spark, tmp_path):
    """With audit_rejections on, every dropped doc lands in the
    rejected table with the stage that dropped it — the provenance
    trail — and a replayed batch audits nothing twice."""
    import json as _json

    from netflow_analysis_with_spark_streaming_spark.streaming import sources
    from netflow_analysis_with_spark_streaming_spark.streaming.curate_job import (
        StreamingCurator,
    )

    words = lambda i: [f"w{i}_{j}" for j in range(60)]  # noqa: E731
    text = lambda i: " ".join(words(i))  # noqa: E731
    edited = words(1)
    edited[5] = "CHANGED"
    eval_words = [f"e{j}" for j in range(60)]
    b1 = [
        {"doc_id": 1, "text": text(1)},
        {"doc_id": 3, "text": "too short"},
        {"doc_id": 4, "text": text(1)},
    ]
    b2 = [
        {"doc_id": 10, "text": " ".join(edited)},
        {"doc_id": 12, "text": text(1)},
        {"doc_id": 13, "text": " ".join(eval_words)},
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(_json.dumps(b1))
    (src / "b2.json").write_text(_json.dumps(b2))
    cur = StreamingCurator(
        str(tmp_path / "cur"),
        eval_shingles=[" ".join(eval_words[:5])],
        audit_rejections=True,
    )
    raw = sources.json_file_source(
        spark,
        str(src),
        spark.createDataFrame([], "doc_id long, text string").schema,
        max_files_per_trigger=1,
    )
    q = (
        raw.writeStream.foreachBatch(cur.process_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["doc_id"] for r in cur.curated.read(spark).collect()) == [1]
    audit = {
        r["doc_id"]: r["reason"] for r in cur.rejected.read(spark).collect()
    }
    assert audit == {
        3: "quality",        # batch 1 short doc
        4: "exact_dup",      # in-batch dup of 1
        10: "near_dup",      # bands with accepted 1
        12: "exact_dup",     # cross-batch dup of 1
        13: "contaminated",  # eval shingle hit
    }, audit
    # accepted + rejected partition the input exactly
    assert set(audit) | {1} == {1, 3, 4, 10, 12, 13}
    # replay: the audit table gains nothing
    n = len(cur.rejected.versions())
    cur.process_batch(spark.createDataFrame(b2, "doc_id long, text string"), 1)
    assert len(cur.rejected.versions()) == n


def test_late_router_crash_replay_and_recovery(spark, tmp_path):
    """LateDataRouter exactly-once + durability: (a) a replayed batch
    changes nothing; (b) a crash between the data landing and the
    bookkeeping append, then a replay, completes the batch without
    duplicating rows; (c) a RESTARTED router (new instance, same root)
    recovers the watermark and routes identically."""
    import pyspark.sql.functions as F

    from netflow_analysis_with_spark_streaming_spark.streaming.late_router import (
        LateDataRouter,
    )

    def mk(ids_ts):
        return spark.createDataFrame(
            [(i, ts) for i, ts in ids_ts], "event_id long, ts timestamp"
        ).withColumn("ts", F.to_timestamp("ts"))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 10)
    day = dt.timedelta(days=1)
    r = LateDataRouter(str(tmp_path / "r"), delay_us=2 * 86_400_000_000)
    r.process_batch(mk([(1, t0), (2, t0 + 5 * day)]), 0)  # wm -> Jan 13
    # batch 1: one late (Jan 10 < Jan 13), one on-time
    b1 = mk([(3, t0), (4, t0 + 6 * day)])
    r.process_batch(b1, 1)
    assert {x["event_id"] for x in r.late.read(spark).collect()} == {3}
    assert {x["event_id"] for x in r.ontime.read(spark).collect()} == {1, 2, 4}
    # (a) full replay: no-op
    r.process_batch(b1, 1)
    assert r.ontime.read(spark).count() == 3
    assert r.late.read(spark).count() == 1
    # (b) crash mid-batch: land data for batch 2 but "crash" before
    # bookkeeping, then replay through a fresh router instance
    b2 = mk([(5, t0 + 7 * day)])
    r.ontime.append(b2, batch_id=2)  # simulated partial landing
    r2 = LateDataRouter(str(tmp_path / "r"), delay_us=2 * 86_400_000_000)
    assert r2.watermark_us(spark) == r.watermark_us(spark)  # (c) durable
    r2.process_batch(b2, 2)
    assert r2.ontime.read(spark).filter("event_id = 5").count() == 1
    assert r2.ontime.read(spark).count() == 4  # no duplicate from the replay
    assert 2 in r2._wm.committed_batch_ids()


def test_late_router_via_writestream(spark, tmp_path):
    """LateDataRouter driven by a REAL writeStream/foreachBatch (not
    hand-called): two files with pinned mtimes arrive as two
    micro-batches (maxFilesPerTrigger=1 processes in mtime order);
    the second file's old rows land in the dead-letter table."""
    import json as _json
    import os

    import pyspark.sql.functions as F

    from netflow_analysis_with_spark_streaming_spark.streaming import sources
    from netflow_analysis_with_spark_streaming_spark.streaming.late_router import (
        LateDataRouter,
    )

    d = tmp_path / "src"
    d.mkdir()
    f1 = d / "f1.json"
    f2 = d / "f2.json"
    f1.write_text(
        _json.dumps(
            [
                {"event_id": 1, "ts": "2024-01-10 00:00:00"},
                {"event_id": 2, "ts": "2024-01-15 00:00:00"},
            ]
        )
    )
    f2.write_text(
        _json.dumps(
            [
                {"event_id": 3, "ts": "2024-01-10 00:00:00"},  # < Jan 13 wm
                {"event_id": 4, "ts": "2024-01-16 00:00:00"},
            ]
        )
    )
    os.utime(f1, (1_000_000, 1_000_000))
    os.utime(f2, (2_000_000, 2_000_000))
    raw = sources.json_file_source(
        spark,
        str(d),
        spark.createDataFrame([], "event_id long, ts timestamp").schema,
        max_files_per_trigger=1,
    )
    r = LateDataRouter(str(tmp_path / "r"), delay_us=2 * 86_400_000_000)
    q = (
        raw.writeStream.foreachBatch(r)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {x["event_id"] for x in r.late.read(spark).collect()} == {3}
    assert {x["event_id"] for x in r.ontime.read(spark).collect()} == {1, 2, 4}


def test_late_router_randomized_differential(spark, tmp_path):
    """Seeded random batch sequences vs a pure-Python watermark model:
    the router's routing decision for every event must match the
    model's (watermark = max prior-batch ts - delay), whatever the
    arrival pattern — including all-late batches, empty batches and
    watermark-advancing stragglers."""
    import datetime as dt
    import random

    from netflow_analysis_with_spark_streaming_spark.streaming.late_router import (
        LateDataRouter,
    )

    t0 = dt.datetime(2024, 1, 1)
    delay_us = 12 * 3600 * 1_000_000  # 12h
    for seed in (5, 29):
        rng = random.Random(seed)
        r = LateDataRouter(str(tmp_path / f"r{seed}"), delay_us=delay_us)
        model_wm_us = None  # max event us over prior batches - delay
        model_max_us = None
        want_late, want_ontime = set(), set()
        eid = 0
        for b in range(6):
            rows = []
            for _ in range(rng.randint(0, 5)):
                eid += 1
                ts = t0 + dt.timedelta(hours=rng.randint(0, 24 * 20))
                us = int(ts.timestamp() * 1_000_000)
                rows.append((eid, ts))
                if model_wm_us is not None and us < model_wm_us:
                    want_late.add(eid)
                else:
                    want_ontime.add(eid)
            if rows:
                batch_max = max(
                    int(ts.timestamp() * 1_000_000) for _, ts in rows
                )
                model_max_us = (
                    batch_max
                    if model_max_us is None
                    else max(model_max_us, batch_max)
                )
            df = spark.createDataFrame(rows, "event_id long, ts timestamp")
            r.process_batch(df, b)
            model_wm_us = (
                None if model_max_us is None else model_max_us - delay_us
            )
        got_late = {x["event_id"] for x in r.late.read(spark).collect()}
        got_ontime = {x["event_id"] for x in r.ontime.read(spark).collect()}
        assert got_late == want_late, (seed, got_late, want_late)
        assert got_ontime == want_ontime, (seed, got_ontime, want_ontime)


def test_late_router_null_ts_goes_to_dead_letter(spark, tmp_path):
    """A NULL event time cannot be ordered against any watermark — it
    must land in the dead-letter table (never vanish), both before
    and after the first watermark exists."""
    import datetime as dt

    from netflow_analysis_with_spark_streaming_spark.streaming.late_router import (
        LateDataRouter,
    )

    r = LateDataRouter(str(tmp_path / "r"), delay_us=3_600_000_000)
    b0 = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10)), (2, None)], "event_id long, ts timestamp"
    )
    r.process_batch(b0, 0)  # NULL routed late even pre-watermark
    b1 = spark.createDataFrame([(3, None)], "event_id long, ts timestamp")
    r.process_batch(b1, 1)
    assert {x["event_id"] for x in r.late.read(spark).collect()} == {2, 3}
    assert {x["event_id"] for x in r.ontime.read(spark).collect()} == {1}
    # nothing vanished
    assert r.late.read(spark).count() + r.ontime.read(spark).count() == 3


def test_anomaly_stream_equals_batch(spark):
    """The claim on the tin, checked directly (not via the shared
    oracle): the streamed anomaly entry's rows equal the batch
    entry's rows exactly — same hours, same z, same flags."""
    from conftest import CORPUS, SF_ORACLE

    batch = CORPUS.queries()["anomaly_rolling_zscore"](spark, SF_ORACLE).collect()
    stream = CORPUS.queries()["stream_anomaly_zscore"](spark, SF_ORACLE).collect()
    key = lambda r: (r["event_type"], r["hour"])  # noqa: E731
    assert sorted(map(tuple, batch), key=str) == sorted(map(tuple, stream), key=str)
    assert len(batch) == len({key(r) for r in batch})


def test_streaming_cdc_sink_real_stream(spark, tmp_path):
    """The op-tagged CDC apply sink driven by a REAL file-source
    stream (maxFilesPerTrigger=1, availableNow): three micro-batches
    of I/U/D ops land through foreachBatch(streaming_cdc_sink) and
    the table converges to the op-log's net effect — the ingest-side
    APPLY CHANGES wired through actual Structured Streaming, not a
    direct sink call."""
    import json
    import os
    import time as _time

    from netflow_analysis_with_spark_streaming_spark.storage.versioned import (
        VersionedTable,
    )

    d = tmp_path / "cdc_in"
    d.mkdir()
    batches = [
        [{"k": 1, "v": "a", "op": "I"}, {"k": 2, "v": "b", "op": "I"}],
        [{"k": 3, "v": "c", "op": "I"}, {"k": 2, "v": "B", "op": "U"}],
        [{"k": 1, "v": None, "op": "D"}, {"k": 4, "v": "d", "op": "I"}],
    ]
    now = _time.time()
    for i, recs in enumerate(batches):
        p = d / f"b{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in recs))
        os.utime(p, (now + i, now + i))  # pin batch order via mtime

    t = VersionedTable(str(tmp_path / "table"))
    raw = (
        spark.readStream.schema("k long, v string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = (
        raw.writeStream.foreachBatch(t.streaming_cdc_sink(keys=["k"]))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == {(2, "B"), (3, "c"), (4, "d")}, got


def test_expectations_sink_actions_and_replay(spark, tmp_path):
    """streaming/expectations.py unit contract: warn keeps rows and
    audits the count, drop routes to the DLQ with the failed names
    attached, fail aborts the batch BEFORE anything lands, and a
    crash-replayed batch is a no-op on all three tables (metrics
    commits last = the replay detector)."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.streaming.expectations import (
        Expectation,
        ExpectationsSink,
    )

    def df(rows):
        return spark.createDataFrame(rows, "k long, v double, tag string")

    sink = ExpectationsSink(
        str(tmp_path / "t"),
        [
            Expectation("tag_ok", "tag IN ('a','b')", "drop"),
            Expectation("v_pos", "v >= 0", "warn"),
        ],
    )
    sink.process_batch(
        df([(1, 1.0, "a"), (2, -5.0, "b"), (3, 9.0, "zz"), (4, None, "a")]), 0
    )
    dest = {r["k"] for r in sink.dest.read(spark).collect()}
    assert dest == {1, 2, 4}  # warn keeps the v<0 row AND the NULL-v row
    dlq = {
        (r["k"], r["_failed_expectations"])
        for r in sink.dlq.read(spark).collect()
    }
    assert dlq == {(3, "tag_ok")}
    met = {
        (r["batch_id"], r["expectation"]): (r["rows_in"], r["violations"])
        for r in sink.metrics.read(spark).collect()
    }
    # NULL predicate result counts as a violation (coalesce False) —
    # silent NULL-passes are how bad rows sneak through gates
    assert met[(0, "tag_ok")] == (4, 1)
    assert met[(0, "v_pos")] == (4, 2)
    # crash replay: same batch id -> no-op everywhere
    sink.process_batch(df([(1, 1.0, "a")]), 0)
    assert sink.dest.read(spark).count() == 3
    assert sink.dlq.read(spark).count() == 1
    assert sink.metrics.read(spark).count() == 2
    # fail action aborts BEFORE anything lands
    strict = ExpectationsSink(
        str(tmp_path / "strict"),
        [Expectation("all_pos", "v >= 0", "fail")],
    )
    with pytest.raises(ValueError, match="all_pos"):
        strict.process_batch(df([(1, 1.0, "a"), (2, -1.0, "b")]), 0)
    assert strict.dest.versions() == []  # nothing landed
    assert strict.metrics.versions() == []
    # declaration-time validation
    with pytest.raises(ValueError, match="action"):
        Expectation("x", "v >= 0", "explode")
    with pytest.raises(ValueError, match="duplicate"):
        ExpectationsSink(
            str(tmp_path / "dup"),
            [Expectation("x", "v >= 0"), Expectation("x", "v < 0")],
        )


def test_expectations_sink_end_to_end_stream(spark, tmp_path):
    """The sink through a REAL availableNow stream (foreachBatch):
    clean rows land exactly-once in dest, 'error' rows in the DLQ."""
    import json as _json
    import os as _os

    from netflow_analysis_with_spark_streaming_spark.streaming.expectations import (
        Expectation,
        ExpectationsSink,
    )

    src = str(tmp_path / "in")
    _os.makedirs(src)
    with open(src + "/a.json", "w") as f:
        for k, tag in [(1, "a"), (2, "error"), (3, "b"), (4, "a")]:
            f.write(_json.dumps({"k": k, "tag": tag}) + "\n")
    sink = ExpectationsSink(
        str(tmp_path / "t"),
        [Expectation("tag_ok", "tag != 'error'", "drop")],
    )
    q = (
        spark.readStream.schema("k long, tag string")
        .json(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {r["k"] for r in sink.dest.read(spark).collect()} == {1, 3, 4}
    assert {r["k"] for r in sink.dlq.read(spark).collect()} == {2}
    met = sink.metrics.read(spark).collect()
    assert [(r["rows_in"], r["violations"]) for r in met] == [(4, 1)]


def test_expectations_sink_refuses_reserved_column_clash(spark, tmp_path):
    """A batch whose columns collide with the gate's working names
    (__ok_* / _failed_expectations) refuses loudly — silent shadowing
    is how a gate passes rows it never evaluated."""
    import pytest

    from netflow_analysis_with_spark_streaming_spark.streaming.expectations import (
        Expectation,
        ExpectationsSink,
    )

    sink = ExpectationsSink(
        str(tmp_path / "t"), [Expectation("x", "k >= 0", "drop")]
    )
    bad = spark.createDataFrame([(1, True)], "k long, __ok_x boolean")
    with pytest.raises(ValueError, match="reserved"):
        sink.process_batch(bad, 0)
    assert sink.dest.versions() == []
