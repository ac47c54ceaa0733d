"""Enrichment, routing-write and aggregate-sink tests (FIXTURES.md p4/p5)."""

import pyspark.sql.functions as F
import pytest

from logshipper_spark.operators import aggregate as agg
from logshipper_spark.operators.enrich import allowlist, denylist, enrich
from logshipper_spark.operators.parse import grok_native
from logshipper_spark.operators.route import write_fanout_explode, write_fanout_per_sink
from logshipper_spark.plans.runner import CheckpointedRunner
from logshipper_spark.plans.spec import compile_pipeline
from logshipper_spark.sources.transcripts import role_dim, tool_dim


class TestEnrich:
    def test_left_join_miss_policy(self, spark, transcripts):
        out = enrich(transcripts, role_dim(spark), on="role")
        assert out.count() == transcripts.count()  # left join never drops
        miss = out.where(F.col("role") == "moderator")
        assert miss.count() > 0
        assert miss.where(F.col("role_class").isNotNull()).count() == 0  # nulls preserved

    def test_defaults_fill_misses(self, spark, transcripts):
        out = enrich(transcripts, role_dim(spark), on="role", defaults={"role_class": "unknown"})
        assert out.where(F.col("role_class").isNull()).count() == 0

    def test_broadcast_in_plan(self, spark, transcripts):
        out = enrich(transcripts, role_dim(spark), on="role")
        assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()

    def test_allow_deny(self, spark, transcripts):
        keys = spark.createDataFrame([("tool",)], "role string")
        n_tool = transcripts.where(F.col("role") == "tool").count()
        assert allowlist(transcripts, keys, "role").count() == n_tool
        assert denylist(transcripts, keys, "role").count() == transcripts.count() - n_tool


class TestAggregates:
    def test_turns_per_role_matches_manual(self, spark, transcripts):
        got = {r["role"]: r["n_turns"] for r in agg.turns_per_role(transcripts).collect()}
        want = {r["role"]: r["count"] for r in transcripts.groupBy("role").count().collect()}
        assert got == want

    def test_tool_invocations(self, transcripts):
        got = agg.tool_invocations(transcripts)
        total = sum(r["n_calls"] for r in got.collect())
        assert total == transcripts.where(F.col("tool").isNotNull()).count()

    def test_events_per_minute_sums_to_total(self, transcripts):
        out = agg.events_per_minute(transcripts)
        assert sum(r["n_events"] for r in out.collect()) == transcripts.count()

    def test_timer_percentiles(self, spark, transcripts):
        parsed = grok_native(transcripts)
        out = agg.timer_percentiles(parsed, "duration_ms", "level").collect()
        assert len(out) == 4  # DEBUG/INFO/WARN/ERROR
        for r in out:
            assert r["p50"] <= r["p90"] <= r["p99"]

    def test_gauge_last(self, spark):
        rows = [("c1", 0, "u", "t", None, "2024-01-01 00:00:00", 1.0),
                ("c1", 1, "u", "t", None, "2024-01-01 00:00:10", 9.0)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string, v double"
        ).withColumn("ts", F.to_timestamp("ts"))
        out = agg.gauge_last(df, "conv_id", "v").collect()
        assert out[0]["last_value"] == 9.0


class TestRouteWrites:
    PIPE = [
        {"match": r"^(?P<level>ERROR|WARN) ", "forward": ["errors"]},
        {"match": "^<", "forward": ["syslog"]},
        {"forward": ["archive"]},
    ]

    # forward-then-drop: ERROR rows are forwarded to `errors` and THEN
    # dropped — both fan-out strategies must still deliver them (a forward
    # that fired before a later drop already delivered)
    PIPE_FWD_DROP = [
        {"match": r"^(?P<level>ERROR|WARN) ", "forward": ["errors"]},
        {"match": "^ERROR ", "drop": True},
        {"forward": ["archive"]},
    ]

    @pytest.mark.parametrize("steps", [PIPE, PIPE_FWD_DROP])
    def test_explode_and_per_sink_strategies_agree(self, spark, transcripts, tmp_path, steps):
        # all three fan-out paths deliver the same per-sink row multisets:
        # the explode write, the per-sink writer and the checkpointed runner
        # (the runner stages its pending sinks through the explode write)
        pipe = compile_pipeline(steps)
        d1, d2, d3 = (str(tmp_path / n) for n in ("explode", "persink", "runner"))
        sinks = sorted({s for st in steps for s in st.get("forward", [])})
        write_fanout_explode(pipe.routed(transcripts), d1)
        write_fanout_per_sink(pipe.apply(transcripts), sinks, d2)
        rep = CheckpointedRunner(spark, str(tmp_path / "ckpt")).run(
            transcripts, pipe, sinks, d3, snapshot_id="s1"
        )
        cols = ["conv_id", "turn_idx", "text"]
        for sink in sinks:
            a = spark.read.parquet(d1).where(F.col("sink") == sink).select(cols)
            n = a.count()
            assert n > 0
            for other in (f"{d2}/sink={sink}", f"{d3}/sink={sink}"):
                b = spark.read.parquet(other).select(cols)
                assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, other
            assert rep.written[sink] == n

    def test_per_sink_writer_fails_fast(self, spark, tmp_path, monkeypatch):
        """A failed sink stops the fan-out: the error propagates, and no sink
        queued behind the running writes starts or leaves a directory."""
        import os
        import threading

        from logshipper_spark.operators import route

        df = spark.createDataFrame(
            [(f"c{i}", i, "x", ["bad", *[f"s{j}" for j in range(9)]]) for i in range(4)],
            "conv_id string, turn_idx int, text string, __sinks array<string>",
        ).withColumn("__active", F.lit(True))
        sinks = ["bad", *[f"s{j}" for j in range(9)]]  # 10 sinks, 8 workers
        real_write = route.write_bucketed
        poisoned = threading.Event()
        started = []

        def write(sel, path, mode="overwrite"):
            sink = os.path.basename(path).removeprefix("sink=")
            if sink == "bad":
                poisoned.set()
                raise RuntimeError("poisoned sink")
            # no good sink can finish (and free a worker) before the failure
            assert poisoned.wait(timeout=60)
            started.append(sink)
            real_write(sel, path, mode=mode)

        monkeypatch.setattr(route, "write_bucketed", write)
        out = tmp_path / "ps"
        with pytest.raises(RuntimeError, match="poisoned sink"):
            write_fanout_per_sink(df, sinks, str(out), n_buckets=2)
        queued = {"s7", "s8"}  # behind the first eight submissions
        assert not queued & set(started)
        for sink in queued:
            assert not (out / f"sink={sink}").exists()
        for sink in started:
            assert (out / f"sink={sink}" / "_SUCCESS").exists()

    def test_forward_then_drop_still_delivers(self, spark, transcripts, tmp_path):
        pipe = compile_pipeline(self.PIPE_FWD_DROP)
        d = str(tmp_path / "fwd_drop")
        write_fanout_explode(pipe.routed(transcripts), d)
        out = spark.read.parquet(d)
        n_err = transcripts.where(F.col("text").rlike("^ERROR ")).count()
        n_total = transcripts.count()
        got = {r["sink"]: r["n"] for r in out.groupBy("sink").agg(F.count("*").alias("n")).collect()}
        assert got["errors"] >= n_err > 0  # WARN rows too; every ERROR delivered
        assert out.where((F.col("sink") == "errors") & F.col("text").rlike("^ERROR ")).count() == n_err
        # archive excludes the dropped ERROR rows
        assert got["archive"] == n_total - n_err

    def test_bucketing_is_conv_aligned(self, spark, transcripts, tmp_path):
        pipe = compile_pipeline(self.PIPE)
        d = str(tmp_path / "out")
        write_fanout_explode(pipe.routed(transcripts), d, n_buckets=8)
        out = spark.read.parquet(d)
        # every conversation lands in exactly one bucket per sink
        bad = (
            out.groupBy("sink", "conv_id")
            .agg(F.countDistinct("bucket").alias("nb"))
            .where(F.col("nb") > 1)
            .count()
        )
        assert bad == 0


class TestSinkWireFormats:
    def test_statsd_lines(self, spark):
        from logshipper_spark.operators.sinkfmt import (
            statsd_counter_line, statsd_gauge_line, statsd_timer_line,
        )

        df = spark.createDataFrame([("api.hits", 3, 41.5)], "name string, n int, ms double")
        row = df.select(
            statsd_counter_line(F.col("name"), F.col("n")).alias("c"),
            statsd_counter_line(F.col("name"), F.col("n"), rate=0.1).alias("cs"),
            statsd_timer_line(F.col("name"), F.col("ms")).alias("t"),
            statsd_gauge_line(F.col("name"), F.col("n")).alias("g"),
        ).first()
        assert row["c"] == "api.hits:3|c"
        assert row["cs"] == "api.hits:3|c|@0.1"
        assert row["t"] == "api.hits:41.5|ms"
        assert row["g"] == "api.hits:3|g"

    def test_statsd_values_never_scientific(self, spark):
        # ADVICE r2: CAST(double AS STRING) flips to scientific notation
        # outside [1e-3, 1e7) — real statsd servers reject '1.0E-4'
        from logshipper_spark.operators.sinkfmt import statsd_gauge_line, statsd_timer_line

        df = spark.createDataFrame(
            [(0.0001, 10000000.0, 12.5, 1.0)], "a double, b double, c double, d double"
        )
        row = df.select(
            statsd_timer_line(F.lit("t"), F.col("a")).alias("a"),
            statsd_gauge_line(F.lit("g"), F.col("b")).alias("b"),
            statsd_timer_line(F.lit("t"), F.col("c")).alias("c"),
            statsd_timer_line(F.lit("t"), F.col("d")).alias("d"),
        ).first()
        assert row["a"] == "t:0.0001|ms"
        assert row["b"] == "g:10000000|g"
        assert row["c"] == "t:12.5|ms"
        assert row["d"] == "t:1|ms"

    def test_statsd_set_line(self, spark):
        from logshipper_spark.operators.sinkfmt import statsd_set_line

        df = spark.createDataFrame([("users.active", "alice")], "name string, member string")
        row = df.select(statsd_set_line(F.col("name"), F.col("member")).alias("s")).first()
        assert row["s"] == "users.active:alice|s"

    def test_es_bulk_lines(self, spark):
        from logshipper_spark.operators.sinkfmt import es_bulk_lines

        df = spark.createDataFrame([(7, "click")], "event_id long, event_type string")
        got = es_bulk_lines(df, "events", "event_id", ["event_id", "event_type"]).first()["bulk"]
        action, doc = got.split("\n")
        assert action == '{"index": {"_index": "events", "_id": "7"}}'
        assert doc == '{"event_id":7,"event_type":"click"}'


class TestSinkNetwork:
    """The send seam: foreachPartition transports ship the byte-exact
    payload columns from sinkfmt over real protocols (local UDP socket /
    HTTP server) — what the reference's outputs actually do."""

    def test_statsd_udp_roundtrip(self, spark):
        import socket
        import time

        from logshipper_spark.operators.sinkfmt import statsd_gauge_line
        from logshipper_spark.operators.sinknet import send_statsd, udp_transport

        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind(("127.0.0.1", 0))
        sock.settimeout(1.0)
        port = sock.getsockname()[1]

        ev = spark.createDataFrame(
            [(f"metric.{i}", float(i) / 4) for i in range(200)], "name string, v double"
        )
        lines = ev.select(statsd_gauge_line(F.col("name"), F.col("v")).alias("line"))
        want = {r["line"] for r in lines.collect()}

        send_statsd(lines.repartition(4), transport=udp_transport("127.0.0.1", port))

        got: set[str] = set()
        deadline = time.time() + 15
        while got != want and time.time() < deadline:
            try:
                data, _ = sock.recvfrom(65535)
            except socket.timeout:
                continue
            # datagrams pack multiple newline-joined lines (statsd MTU format)
            got.update(data.decode().split("\n"))
        sock.close()
        assert got == want

    def test_es_bulk_http_roundtrip(self, spark):
        import threading
        from http.server import BaseHTTPRequestHandler, HTTPServer

        from logshipper_spark.operators.sinkfmt import es_bulk_lines
        from logshipper_spark.operators.sinknet import http_transport, send_es_bulk

        bodies: list[bytes] = []

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers["Content-Length"])
                bodies.append(self.rfile.read(n))
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *a):  # silence per-request stderr noise
                pass

        srv = HTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()

        df = spark.createDataFrame(
            [(i, f"type{i % 3}") for i in range(57)], "event_id long, event_type string"
        )
        bulk = es_bulk_lines(df, "events", "event_id", ["event_id", "event_type"]).select("bulk")
        want = {r["bulk"] for r in bulk.collect()}

        send_es_bulk(
            bulk.repartition(3),
            transport=http_transport(f"http://127.0.0.1:{srv.server_port}/_bulk"),
            batch_docs=10,
        )
        srv.shutdown()

        got: set[str] = set()
        for b in bodies:
            assert b.endswith(b"\n")  # the bulk API's required trailing newline
            rows = b.decode().rstrip("\n").split("\n")
            assert len(rows) % 2 == 0  # action line + doc line pairs
            got.update(f"{rows[i]}\n{rows[i + 1]}" for i in range(0, len(rows), 2))
        assert got == want


class TestBucketedJoin:
    def test_cobucketed_tables_join_without_exchange(self, spark, transcripts, tmp_path):
        """Co-located big-big join: both sides bucketed on the join key with
        the same bucket count → the sort-merge join plan has NO shuffle
        Exchange on either side (the 100 TB repeated-join strategy)."""
        # default warehouse (./spark-warehouse, gitignored) — the dir conf
        # is static per session; tables are dropped in finally
        left = transcripts.select("conv_id", "turn_idx", "text")
        right = transcripts.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
        try:
            (left.write.bucketBy(8, "conv_id").sortBy("conv_id")
                 .mode("overwrite").saveAsTable("bj_left"))
            (right.write.bucketBy(8, "conv_id").sortBy("conv_id")
                  .mode("overwrite").saveAsTable("bj_right"))
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("bj_left").join(spark.table("bj_right"), "conv_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == left.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS bj_left")
            spark.sql("DROP TABLE IF EXISTS bj_right")


class TestSkewSalt:
    def test_salt_spreads_hot_conversation(self, spark):
        from logshipper_spark.operators.route import with_bucket
        from logshipper_spark.sources.transcripts import generate_transcripts

        df = generate_transcripts(spark, n_convs=10_000, seed=42, partitions=8)
        salted = with_bucket(df, n_buckets=8, salt_buckets=16)
        mega = salted.where(F.col("conv_id") == "conv-00009999")
        # the mega-conv lands in ONE bucket but spreads over many salt parts
        assert mega.select("bucket").distinct().count() == 1
        assert mega.select("salt").distinct().count() >= 12
        # ordering key (conv_id, turn_idx) is untouched by the salt
        assert salted.columns.count("conv_id") == 1

    def test_salted_write_spreads_mega_conv_over_tasks(self, spark, tmp_path):
        """The write-path half: with salt_buckets=S the mega-conversation's
        rows span multiple output files (≈ write tasks) inside its one
        (sink, bucket) directory; without salt it lands in exactly one."""
        from logshipper_spark.sources.transcripts import generate_transcripts

        df = generate_transcripts(spark, n_convs=10_000, seed=42, partitions=8)
        pipe = compile_pipeline([{"forward": ["archive"]}])
        routed = pipe.routed(df)
        mega = "conv-00009999"

        d_salt = str(tmp_path / "salted")
        write_fanout_explode(routed, d_salt, n_buckets=8, salt_buckets=8)
        files_salt = (
            spark.read.parquet(d_salt)
            .where(F.col("conv_id") == mega)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        assert files_salt >= 4, f"mega conv in {files_salt} file(s) with salt"

        d_plain = str(tmp_path / "plain")
        write_fanout_explode(routed, d_plain, n_buckets=8, salt_buckets=0)
        files_plain = (
            spark.read.parquet(d_plain)
            .where(F.col("conv_id") == mega)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        assert files_plain == 1
        # same content either way, and no salt column leaks into the output
        assert "salt" not in spark.read.parquet(d_salt).columns
        a = spark.read.parquet(d_salt).select("conv_id", "turn_idx")
        b = spark.read.parquet(d_plain).select("conv_id", "turn_idx")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestRangeJoin:
    """Bucketized interval-containment join: differential vs the naive
    cross-join+filter reference on frames engineered to hit boundary
    buckets, multi-bucket intervals, and empty matches."""

    def _frames(self, spark):
        from pyspark.sql import functions as F

        # points every 10 min over ~7h; intervals of wildly different
        # lengths, some overlapping, one empty-match, boundaries landing
        # exactly on bucket edges (bucket=600s, starts at :00)
        pts = spark.range(0, 40).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 600).alias("e_ts"),
        )
        iv = spark.createDataFrame(
            [
                (1, 1_700_000_000, 1_700_000_600),        # 2 points (closed ends)
                (2, 1_700_003_000, 1_700_013_000),        # long, many buckets
                (3, 1_700_000_300, 1_700_000_301),        # sub-bucket, no points
                (4, 1_700_020_000, 1_700_021_200),        # overlaps tail
                (5, 1_699_000_000, 1_699_000_100),        # before all points
            ],
            "w_id int, s long, e long",
        ).select(
            "w_id",
            F.timestamp_seconds("s").alias("w_start"),
            F.timestamp_seconds("e").alias("w_end"),
        )
        return pts, iv

    def _naive(self, pts, iv):
        from pyspark.sql import functions as F

        return pts.crossJoin(iv).where(
            (F.col("e_ts") >= F.col("w_start")) & (F.col("e_ts") <= F.col("w_end"))
        )

    def test_inner_matches_naive(self, spark):
        from logshipper_spark.operators.rangejoin import range_join

        pts, iv = self._frames(spark)
        for width in (60, 600, 3600, 86400):  # narrower AND wider than intervals
            got = range_join(pts, iv, "e_ts", "w_start", "w_end", bucket_seconds=width)
            want = self._naive(pts, iv)
            assert sorted(got.select("event_id", "w_id").collect()) == sorted(
                want.select("event_id", "w_id").collect()
            ), f"bucket width {width}"

    def test_left_keeps_unmatched_points(self, spark):
        from pyspark.sql import functions as F
        from logshipper_spark.operators.rangejoin import range_join

        pts, iv = self._frames(spark)
        got = range_join(pts, iv, "e_ts", "w_start", "w_end",
                         bucket_seconds=600, how="left")
        # matched pairs identical to inner
        inner = range_join(pts, iv, "e_ts", "w_start", "w_end", bucket_seconds=600)
        assert sorted(
            got.where(F.col("w_id").isNotNull()).select("event_id", "w_id").collect()
        ) == sorted(inner.select("event_id", "w_id").collect())
        # every point appears; unmatched ones exactly once with null interval
        matched_ids = {r.event_id for r in inner.select("event_id").distinct().collect()}
        unmatched = got.where(F.col("w_id").isNull())
        assert {r.event_id for r in unmatched.collect()} == (
            {r.event_id for r in pts.collect()} - matched_ids
        )
        assert unmatched.groupBy("event_id").count().where("count > 1").count() == 0

    def test_no_nested_loop_in_plan(self, spark):
        from logshipper_spark.operators.rangejoin import range_join

        pts, iv = self._frames(spark)
        df = range_join(pts, iv, "e_ts", "w_start", "w_end", bucket_seconds=600)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "Join" in plan  # it IS a join — just an equi one

    def test_column_collision_rejected(self, spark):
        import pytest as _pytest
        from logshipper_spark.operators.rangejoin import range_join

        pts, iv = self._frames(spark)
        with _pytest.raises(ValueError, match="share column"):
            range_join(pts.withColumnRenamed("event_id", "w_id"), iv,
                       "e_ts", "w_start", "w_end")


class TestRollupTimeseries:
    def test_levels_match_direct_aggregation(self, spark):
        from pyspark.sql import functions as F
        from logshipper_spark.operators.aggregate import rollup_timeseries

        ev = spark.range(0, 5000).select(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 37).alias("ts"),
            (F.pmod(F.col("id"), F.lit(3))).cast("string").alias("etype"),
            (F.col("id") % 97 * 1.5).alias("value"),
        )
        r = rollup_timeseries(ev, "ts", "value", ["etype"]).cache()
        try:
            for res in ("minute", "hour", "day"):
                got = (
                    r.where(F.col("resolution") == res)
                    .select("bucket_ts", "etype", "n",
                            F.round("total", 6).alias("total"), "vmin", "vmax")
                )
                want = ev.groupBy(
                    F.date_trunc(res, "ts").alias("bucket_ts"), "etype"
                ).agg(
                    F.count("*").alias("n"),
                    F.round(F.sum("value"), 6).alias("total"),
                    F.min("value").alias("vmin"),
                    F.max("value").alias("vmax"),
                )
                assert sorted(map(tuple, got.collect())) == sorted(
                    map(tuple, want.collect())
                ), f"level {res} diverges from direct aggregation"
            # conservation: every level accounts for all input rows
            n_by_level = {
                r_["resolution"]: r_["s"]
                for r_ in r.groupBy("resolution").agg(F.sum("n").alias("s")).collect()
            }
            assert set(n_by_level.values()) == {5000}
        finally:
            r.unpersist()
