"""Streaming jobs: the two reference pipelines + stateful operators.

E1 (Path 1): Kafka/file JSON -> from_json normalize -> table/Kafka
  sinks (README.md:98-181) — here: any streaming DataFrame of raw
  JSON `value` strings -> normalize_flows -> sink of choice.
E2 (Path 2): JSON file dir -> flatten + timestamp convert -> sink
  (README.md:226-307).
A2/T5: watermarked tumbling-window aggregation (the pmacct 10 s
  pre-rollup, now inside the engine with late-data handling).
T6: dropDuplicatesWithinWatermark for bounded-state streaming dedup.

All jobs take/return DataFrames so tests drive them with availableNow
+ memory sinks (deterministic); production wiring picks trigger and
sink via run_to_memory / IdempotentParquetSink / kafka options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.flatten import flatten_packets
from ..storage.incremental import DRIVER_ROW_BOUND


def path2_flatten(nested: DataFrame) -> DataFrame:
    """E2 transformation: Schema C nested packets -> flat + datetime."""
    return flatten_packets(nested, with_datetime=True)


def windowed_traffic(
    flows: DataFrame,
    ts_col: str = "ts",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    value_col: str = "value",
    key_col: str = "event_type",
) -> DataFrame:
    """A2: tumbling-window per-key traffic rollup with a watermark.

    The watermark (T5 — absent in the reference) bounds state: windows
    older than max(event time) - watermark are finalized and evicted,
    which is what makes this runnable forever at 100 TB/day. Output in
    append mode emits each window exactly once, on close.
    """
    return (
        flows.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(
            F.round(F.sum(value_col), 2).alias("total_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "total_value",
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 seconds",
) -> DataFrame:
    """T6: streaming exact dedup with bounded state — duplicates
    arriving within the watermark horizon are dropped; state for
    older keys is evicted (the reference's Mongo insert_one had no
    dedup at all)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys + [ts_col]
    )


def dual_sink(flows: DataFrame, cold_sink, hot_writer, checkpoint: str):
    """E1's fan-out: ONE stream feeding the cold store and the hot
    path from the same micro-batch (reference wires two separate
    foreachRDD consumers, README.md:153,176 — double the Kafka reads;
    here a single foreachBatch persists the batch once and serves both
    sinks, and the batch is cached so neither sink recomputes it).

    cold_sink: callable(df, batch_id) — e.g. IdempotentParquetSink.
    hot_writer: callable(df) — e.g. kafka/memory write of the batch.
    """

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            cold_sink(batch_df, batch_id)
            hot_writer(batch_df)
        finally:
            batch_df.unpersist()

    return (
        flows.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Deterministic test/driver execution: availableNow trigger into
    a memory sink, blocking until the backlog drains. Returns the
    finished StreamingQuery; results are in spark.table(name).

    Complete mode re-emits the ENTIRE result every trigger and the
    memory sink holds it on the driver — correct only while key
    cardinality stays bounded (fine for the demo corpus's 25-3.4k
    keys; unbounded keys at production scale belong in append/update
    mode landed through a foreachBatch sink, see
    queries_streaming._fold_update_mode). Enforced: a complete-mode
    result larger than DRIVER_ROW_BOUND raises instead of
    silently growing driver state.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if output_mode == "complete":
        n = df.sparkSession.table(name).count()
        if n > DRIVER_ROW_BOUND:
            raise RuntimeError(
                f"complete-mode memory sink '{name}' materialized {n} rows "
                f"(> {DRIVER_ROW_BOUND}): key cardinality is not "
                "bounded — use append/update mode with a foreachBatch sink"
            )
    return q
