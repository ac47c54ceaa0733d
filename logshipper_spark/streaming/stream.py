"""Structured Streaming variant of the pipeline.

The reference tails files with green threads — best-effort, in-order per
file, at-most-once, no watermarks (SURVEY.md §2.9).  The streaming engine
strengthens that: ``readStream`` over the same transcripts table,
watermarked event-time windows for late data, ``foreachBatch`` fan-out for
exactly-once sink writes, and stateful edge detection.

Batch and streaming share the SAME transformation code: a compiled
``Pipeline`` is a DataFrame→DataFrame function, and Spark applies it to a
streaming frame unchanged — the one thing this module adds is source/sink/
state wiring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState

from logshipper_spark.plans.runner import CheckpointedRunner
from logshipper_spark.plans.spec import Pipeline, pipeline_sinks
from logshipper_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a transcripts directory — the batch table and
    the stream are the same rows (Iceberg streaming reads in production)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def events_per_minute_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counter — late rows beyond the watermark
    are dropped (and surface in StreamingQueryProgress metrics)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("role"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("minute"), "role", "n_events")
    )


def session_windows_stream(stream: DataFrame, gap: str = "30 minutes",
                           watermark: str = "10 minutes") -> DataFrame:
    """Gap-based session windows per conversation (built-in session_window)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "conv_id",
            "n_turns",
        )
    )


def edge_stream(stream: DataFrame, trigger_col: str = "role",
                key_col: str = "conv_id", idle_timeout_ms: int | None = None):
    """Stateful change-detection across micro-batches — the streaming twin
    of the batch ``edge`` window (logshipper/filters.py::prepare_edge
    [approx]).  State = last seen trigger value per key, kept in
    ``applyInPandasWithState`` (Arrow-batched, not per-row).

    ``idle_timeout_ms``: state TTL.  At 10^12 turns the state store grows
    with DISTINCT conversations ever seen unless idle keys are evicted;
    with a TTL, a conversation idle longer than the timeout drops its
    state (its next turn is treated as a fresh edge — the correct
    behavior for change-detection after a long gap).
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("value", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last", T.StringType())])
    timeout_conf = "ProcessingTimeTimeout" if idle_timeout_ms else "NoTimeout"

    def fn(key, pdf_iter, state: GroupState):
        if idle_timeout_ms and state.hasTimedOut:
            state.remove()  # evict idle conversation state; nothing to emit
            return
        last = state.get[0] if state.exists else None
        # a group can span several Arrow chunks in arbitrary order —
        # concatenate BEFORE sorting or the change-detection order is wrong
        pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values("turn_idx")
        keep = []
        for v, idx in zip(pdf[trigger_col], pdf["turn_idx"]):
            if last is None or v != last:
                keep.append((key[0], int(idx), v))
            last = v
        state.update((last,))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(keep, columns=[key_col, "turn_idx", "value"])

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append", timeout_conf)
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup: ``dropDuplicatesWithinWatermark`` keeps the
    FIRST arrival per key and drops re-deliveries arriving within the
    watermark — the streaming twin of ``dedup_exact``.  State is bounded:
    keys older than the watermark are evicted by the engine, so the state
    store scales with the key arrival rate × watermark horizon, never with
    total stream history (the property that makes at-least-once upstream
    delivery safe at 10^12 turns)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join with a time-range condition:
    a right-side row matches a left row of the same key when it occurred
    within ``tolerance`` BEFORE the left event — streaming enrichment
    against a second live stream (the reference only joins static lookups;
    SURVEY §2.6 [approx]).

    Both sides carry watermarks and the join predicate bounds right_ts to
    a window around left_ts, so the state store retains each side only for
    watermark + tolerance — bounded, like every stateful op here.  Column
    names are disambiguated with a ``r_`` prefix on the right."""
    r = right.select(
        F.col(key_col).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key_col, right_ts)
        ],
    ).withWatermark("r_ts", watermark)
    l = left.withWatermark(left_ts, watermark)
    cond = (
        (F.col(key_col) == F.col("r_key"))
        & (F.col("r_ts") >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
        & (F.col("r_ts") <= F.col(left_ts))
    )
    return l.join(r, cond, "inner").drop("r_key")


def run_stream_to_memory(agg: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming aggregate synchronously to a memory sink (test/dev
    harness): processAllAvailable folds every pending file batch."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    return q


def foreach_batch_fanout(pipeline: Pipeline, out_dir: str, checkpoint_dir: str):
    """Exactly-once streaming fan-out: each micro-batch is one
    ``CheckpointedRunner.run`` (snapshot ``epoch-<id>``, layout
    ``sink=<s>/ingest=epoch-<id>/bucket=<b>``, markers, lineage).  Runner
    state sits in the query checkpoint, whose epoch ids survive restarts:
    a re-delivered committed epoch is a no-op."""
    sinks = pipeline_sinks(pipeline)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        runner = CheckpointedRunner(df.sparkSession, os.path.join(checkpoint_dir, "runner"))
        runner.run(df, pipeline, sinks, out_dir, snapshot_id=f"epoch-{epoch_id}",
                   sink_subdir=f"ingest=epoch-{epoch_id}")

    def start(stream: DataFrame):
        return (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime="0 seconds")
            .start()
        )

    return start


def enrich_stream(stream: DataFrame, dim: DataFrame, key_col: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension with an explicit broadcast hint — the streaming twin of the
    batch enrichment join (operators/enrich.py).  The dimension is re-read
    per micro-batch by Structured Streaming's stream-static join rules, so
    a slowly-refreshed lookup (reference data re-written by another job)
    is picked up without restarting the query; state-free, unlike the
    stream-stream join."""
    return stream.join(F.broadcast(dim), key_col, how)
