"""Structured Streaming tests: the batch table replayed as a file stream
must produce the same aggregates as the batch plan (SURVEY §2.9)."""

import uuid

import pyspark.sql.functions as F
import pytest

from logshipper_spark.plans.spec import compile_pipeline
from logshipper_spark.streaming import stream as S


@pytest.fixture(scope="module")
def tdir(spark, transcripts, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream_src") / "transcripts")
    transcripts.repartition(6).write.mode("overwrite").parquet(p)
    return p


def _memq(spark, agg, mode="append"):
    name = "q" + uuid.uuid4().hex[:8]
    q = S.run_stream_to_memory(agg, name, output_mode=mode)
    out = spark.sql(f"SELECT * FROM {name}")
    return q, out


def test_windowed_counts_match_batch(spark, transcripts, tdir):
    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=2)
    q, out = _memq(spark, S.events_per_minute_stream(stream))
    try:
        got = out.agg(F.sum("n_events")).first()[0] or 0
        # append mode emits only windows older than the watermark; totals are
        # bounded by the batch count and nonzero on this 31-day spread
        total = transcripts.count()
        assert 0 < got <= total
        batch = (
            transcripts.groupBy(F.window("ts", "1 minute"), "role").count().count()
        )
        assert out.count() <= batch
    finally:
        q.stop()


def test_session_windows_stream(spark, transcripts, tdir):
    stream = S.read_transcript_stream(spark, tdir)
    q, out = _memq(spark, S.session_windows_stream(stream, gap="30 minutes"))
    try:
        rows = out.collect()
        assert len(rows) > 0
        # session windows never overlap per conv (checked driver-side: the
        # memory-sink view can't self-join — Spark attr-dedup quirk)
        by_conv: dict[str, list] = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append((r["session_start"], r["session_end"]))
        for spans in by_conv.values():
            spans.sort()
            for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
                assert e1 <= s2
    finally:
        q.stop()


def test_edge_stream_matches_batch_edge(spark, transcripts, tdir):
    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100)
    q, out = _memq(spark, S.edge_stream(stream, trigger_col="role", key_col="conv_id"))
    try:
        # batch twin: explicit lag-window change filter.  (A pipeline step
        # with ONLY `edge` gates the step — reference semantics — and does
        # not drop rows, so it is not the twin of this emit-on-change op.)
        from pyspark.sql.window import Window

        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        batch_n = (
            transcripts.withColumn("prev", F.lag("role").over(w))
            .where(F.col("prev").isNull() | (F.col("prev") != F.col("role")))
            .count()
        )
        # stream sees all files in one batch → state order == turn order
        assert out.count() == batch_n
    finally:
        q.stop()

    # TTL-enabled variant: identical results when no key idles past the
    # timeout (the eviction path is the 10^12-turn state-store guard).
    # availableNow trigger: processing-time timers keep a processAllAvailable
    # query alive forever, availableNow drains the input then terminates.
    import uuid as _uuid

    stream2 = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100)
    agg2 = S.edge_stream(stream2, trigger_col="role", key_col="conv_id",
                         idle_timeout_ms=3_600_000)
    name2 = "q" + _uuid.uuid4().hex[:8]
    q2 = (
        agg2.writeStream.outputMode("append").format("memory").queryName(name2)
        .trigger(availableNow=True).start()
    )
    try:
        # timer batches can keep the query alive; poll the sink instead of
        # waiting for termination
        import time as _time

        deadline = _time.time() + 90
        got2 = -1
        while _time.time() < deadline:
            got2 = spark.sql(f"SELECT * FROM {name2}").count()
            if got2 == batch_n:
                break
            _time.sleep(1)
        assert got2 == batch_n
    finally:
        q2.stop()


def test_compiled_pipeline_applies_to_stream(spark, transcripts, tdir):
    """A compiled Pipeline is just DataFrame→DataFrame — it must run
    unchanged on a streaming frame (stateless subset)."""
    pipe = compile_pipeline(
        [
            {"match": {"text": r"^(?P<level>ERROR|WARN) "}, "set": {"sev": "{level}"},
             "forward": ["alerts"]},
            {"forward": ["archive"]},
        ]
    )
    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100)
    routed = pipe.routed(stream)
    q, out = _memq(spark, routed.groupBy("sink").count(), mode="complete")
    try:
        got = {r["sink"]: r["count"] for r in out.collect()}
        want = {
            r["sink"]: r["count"]
            for r in pipe.routed(transcripts).groupBy("sink").count().collect()
        }
        assert got == want
    finally:
        q.stop()


def test_hot_reload_between_micro_batches(spark, transcripts, tdir, tmp_path):
    """The streaming hot-reload story: a YAML edit swaps the compiled
    pipeline at the next micro-batch (foreachBatch calls
    reload_if_changed between epochs)."""
    import os

    from logshipper_spark.plans.manager import PipelineManager

    import threading

    cfg = tmp_path / "cfg"
    cfg.mkdir()
    (cfg / "main.yaml").write_text("- forward: [first]\n")
    mgr = PipelineManager().load_dir(str(cfg))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    edited = threading.Event()
    epoch0_done = threading.Event()

    def write_batch(df, epoch_id):
        if epoch_id >= 1:
            # deterministic ordering: later epochs wait until the config
            # edit has landed, then pick it up via reload_if_changed
            edited.wait(timeout=30)
        mgr.reload_if_changed()
        out = mgr.get("main").routed(df)
        out.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        if epoch_id == 0:
            epoch0_done.set()

    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=2)
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert epoch0_done.wait(timeout=60), "epoch 0 never completed"
        (cfg / "main.yaml").write_text("- forward: [second]\n")
        os.utime(cfg / "main.yaml")
        edited.set()
        q.awaitTermination()
    finally:
        q.stop()
    sinks = {r["sink"] for r in spark.read.parquet(out_dir).select("sink").distinct().collect()}
    # both configs were live at some epoch — the swap happened mid-stream
    assert sinks == {"first", "second"}, sinks


def test_foreach_batch_fanout_exactly_once(spark, transcripts, tdir, tmp_path):
    """foreachBatch fan-out: all rows land exactly once across epochs."""
    pipe = compile_pipeline(
        [
            {"match": "^ERROR ", "forward": ["errors"]},
            {"forward": ["archive"]},
        ]
    )
    out_dir, ckpt = str(tmp_path / "fan"), str(tmp_path / "ckpt")
    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=2)
    start = S.foreach_batch_fanout(pipe, out_dir, ckpt)
    q = start(stream)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out_dir)
    n_arch = got.where(F.col("sink") == "archive").count()
    assert n_arch == transcripts.count()
    dupes = (
        got.where(F.col("sink") == "archive")
        .groupBy("conv_id", "turn_idx")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_foreach_batch_restart_exactly_once(spark, transcripts, tmp_path):
    """Stop the stream mid-input, restart from the SAME checkpoint: every
    row lands exactly once across the two query lifetimes (the streaming
    analogue of the batch kill-resume test)."""
    src = str(tmp_path / "src")
    transcripts.repartition(8).write.mode("overwrite").parquet(src)
    pipe = compile_pipeline([{"forward": ["archive"]}])
    out_dir, ckpt = str(tmp_path / "fan"), str(tmp_path / "ckpt")
    start = S.foreach_batch_fanout(pipe, out_dir, ckpt)

    # first lifetime: consume some batches, then stop
    stream1 = S.read_transcript_stream(spark, src, max_files_per_trigger=2)
    q1 = start(stream1)
    import time as _t

    deadline = _t.time() + 60
    while q1.lastProgress is None and _t.time() < deadline:
        _t.sleep(0.5)
    q1.stop()
    q1.awaitTermination(30)

    # second lifetime: same checkpoint → continue, no re-delivery
    stream2 = S.read_transcript_stream(spark, src, max_files_per_trigger=2)
    q2 = start(stream2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == transcripts.count()
    dupes = got.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
    assert dupes == 0


def test_dedup_stream_drops_redeliveries(spark, transcripts, tmp_path):
    # at-least-once upstream: the same rows delivered twice (two file sets)
    src = str(tmp_path / "dup_src")
    transcripts.repartition(3).write.mode("overwrite").parquet(src)
    transcripts.repartition(2).write.mode("append").parquet(src)
    stream = S.read_transcript_stream(spark, src, max_files_per_trigger=100)
    q, out = _memq(spark, S.dedup_stream(stream, ["conv_id", "turn_idx"]))
    try:
        n_distinct = transcripts.select("conv_id", "turn_idx").distinct().count()
        assert out.count() == n_distinct
        # and no key appears twice
        assert (
            out.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
            == 0
        )
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, transcripts, tdir):
    left = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100).where(
        F.col("role") == "assistant"
    )
    right = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100).where(
        F.col("role") == "user"
    )
    joined = S.stream_stream_join(
        left, right, "conv_id", tolerance="5 minutes", watermark="10 minutes"
    ).select("conv_id", "turn_idx", "r_turn_idx")
    q, out = _memq(spark, joined)
    try:
        lb = transcripts.where(F.col("role") == "assistant")
        rb = transcripts.where(F.col("role") == "user").select(
            F.col("conv_id").alias("r_key"),
            F.col("ts").alias("r_ts"),
            F.col("turn_idx").alias("r_turn_idx"),
        )
        batch = lb.join(
            rb,
            (F.col("conv_id") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 5 minutes"))
            & (F.col("r_ts") <= F.col("ts")),
            "inner",
        ).select("conv_id", "turn_idx", "r_turn_idx")
        got = {tuple(r) for r in out.collect()}
        want = {tuple(r) for r in batch.collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_enrich_stream_matches_batch(spark, transcripts, tdir):
    dim = spark.createDataFrame(
        [("user", "human"), ("assistant", "model")], "role string, speaker string"
    )
    stream = S.read_transcript_stream(spark, tdir, max_files_per_trigger=100)
    q, out = _memq(spark, S.enrich_stream(stream, dim, "role").select(
        "conv_id", "turn_idx", "speaker"
    ))
    try:
        # default how="left": misses survive with NULL enrichment
        want = {tuple(r) for r in transcripts.join(dim, "role", "left").select(
            "conv_id", "turn_idx", "speaker").collect()}
        got = {tuple(r) for r in out.collect()}
        assert got == want and len(want) > 0
    finally:
        q.stop()
