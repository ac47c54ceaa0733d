"""Transcript generator invariants (FIXTURES.md §1)."""

import pyspark.sql.functions as F

from logshipper_spark.sources.local import local_table
from logshipper_spark.sources.transcripts import TRANSCRIPT_SCHEMA, generate_transcripts, role_dim, tool_dim


def test_schema(transcripts):
    got = {f.name: f.dataType.simpleString() for f in transcripts.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in TRANSCRIPT_SCHEMA.fields}
    assert got == want


def test_deterministic_across_parallelism(spark):
    a = generate_transcripts(spark, n_convs=50, seed=42, partitions=2)
    b = generate_transcripts(spark, n_convs=50, seed=42, partitions=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_seed_changes_data(spark):
    a = generate_transcripts(spark, n_convs=50, seed=42)
    b = generate_transcripts(spark, n_convs=50, seed=43)
    assert a.exceptAll(b).count() > 0


def test_turn_idx_dense_and_ts_monotone(transcripts):
    agg = transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        F.min("turn_idx").alias("lo"),
        F.max("turn_idx").alias("hi"),
    )
    bad = agg.where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count()
    assert bad == 0
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    viol = (
        transcripts.withColumn("prev_ts", F.lag("ts").over(w))
        .where(F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")))
        .count()
    )
    assert viol == 0


def test_tool_only_on_tool_rows(transcripts):
    assert transcripts.where((F.col("role") == "tool") & F.col("tool").isNull()).count() == 0
    assert transcripts.where((F.col("role") != "tool") & F.col("tool").isNotNull()).count() == 0


def test_mega_conversation_skew(spark):
    df = generate_transcripts(spark, n_convs=10_000, seed=42, partitions=8)
    sizes = df.groupBy("conv_id").count()
    mega = sizes.where(F.col("conv_id") == "conv-00009999").collect()[0]["count"]
    p99 = sizes.agg(F.percentile(F.col("count"), 0.99)).collect()[0][0]
    assert mega > 5 * p99  # the deliberate hot key dwarfs the p99 conv


def test_dims(spark, transcripts):
    rd, td = role_dim(spark), tool_dim(spark)
    assert rd.count() == 5 and td.count() == 8
    roles = {r["role"] for r in transcripts.select("role").distinct().collect()}
    dim_roles = {r["role"] for r in rd.collect()}
    assert "moderator" in roles - dim_roles  # transcripts has a dim-miss role
    assert "operator" in dim_roles - roles  # dim has an unused role


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _same_as_list_form(spark, df, rows, ddl):
    """``df`` keeps the rows, names, types and nullability that
    ``createDataFrame(list, ddl)`` gives for the same rows."""
    ref = spark.createDataFrame(rows, ddl)
    assert df.schema == ref.schema
    assert sorted(df.collect()) == sorted(ref.collect())


class TestDims:
    """Dimension tables are JVM-local relations: a broadcast of a
    Python-RDD ``LogicalRDD`` runs a Python-worker job every time."""

    def test_transcript_dims_are_local_relations(self, spark):
        for build, ddl in [
            (role_dim, "role string, role_class string, is_human boolean, weight double"),
            (tool_dim, "tool string, tool_kind string, billable boolean, cost_per_call double"),
        ]:
            df = build(spark)
            assert _analyzed(df).startswith("LocalRelation"), build.__name__
            _same_as_list_form(spark, df, [tuple(r) for r in df.collect()], ddl)
        assert sorted(r["role"] for r in role_dim(spark).collect()) == [
            "assistant", "operator", "system", "tool", "user"
        ]
        assert tool_dim(spark).where(F.col("tool") == "python").first()["cost_per_call"] == 0.01

    def test_query_dims_are_local_relations(self, spark, tmp_path, monkeypatch):
        from logshipper_spark import queries

        spark.createDataFrame(
            [(1, "click"), (2, "error"), (3, "purchase"), (4, "view")],
            "event_id bigint, event_type string",
        ).write.parquet(str(tmp_path / "events.parquet"))
        built = []

        def recording(spark_, rows, ddl):
            df = local_table(spark_, rows, ddl)
            built.append((rows, ddl, df))
            return df

        monkeypatch.setattr(queries, "local_table", recording)
        for name in ("route_fanout", "enrich_lookup", "tool_invocations"):
            out = queries.QUERIES[name](spark, str(tmp_path))
            assert "LogicalRDD" not in _analyzed(out), name
            out.collect()
        assert [ddl for _, ddl, _ in built] == [
            "sink string", "event_type string, kind string", "event_type string, tool string"
        ]
        for rows, ddl, df in built:
            assert _analyzed(df).startswith("LocalRelation"), ddl
            _same_as_list_form(spark, df, rows, ddl)

    def test_enrich_plan_scans_no_python_rdd(self, spark, transcripts):
        from logshipper_spark.operators.enrich import enrich

        plan = enrich(transcripts, role_dim(spark), on="role")._jdf.queryExecution()
        text = plan.executedPlan().toString()
        assert "LocalTableScan" in text and "ExistingRDD" not in text


class TestTableIO:
    def test_write_read_roundtrip_and_layout(self, spark, transcripts, tmp_path):
        from logshipper_spark.sources.tableio import TableIO
        import os

        io = TableIO(spark, str(tmp_path), n_buckets=8)
        io.write_transcripts(transcripts, "t")
        back = io.read("t")
        assert back.count() == transcripts.count()
        core = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        assert back.select(core).exceptAll(transcripts.select(core)).count() == 0
        # partition layout mirrors Iceberg days(ts), bucket(conv_id)
        top = os.listdir(str(tmp_path / "t"))
        assert any(d.startswith("dt=") for d in top)

    def test_snapshot_id_stable_and_change_sensitive(self, spark, transcripts, tmp_path):
        from logshipper_spark.sources.tableio import TableIO

        io = TableIO(spark, str(tmp_path))
        io.write(transcripts.limit(10), "snap")
        a = io.snapshot_id("snap")
        b = io.snapshot_id("snap")
        assert a == b
        io.write(transcripts.limit(20), "snap", mode="overwrite")
        assert io.snapshot_id("snap") != a


class TestTextLog:
    """Raw log-file ingestion (sources/textlog.py) — the reference's tail
    input over actual text files."""

    def _write_logs(self, tmp_path):
        a = tmp_path / "logs" / "app.log"
        b = tmp_path / "logs" / "db.log"
        a.parent.mkdir(parents=True, exist_ok=True)
        a.write_text("<13>Feb  5 17:32:18 host app: start\nline two\n\nline three\n")
        b.write_text("alpha\nbeta\n")
        return str(tmp_path / "logs")

    def test_wholetext_per_file_order_and_determinism(self, spark, tmp_path):
        from logshipper_spark.sources.textlog import read_log_lines

        d = self._write_logs(tmp_path)
        rows = read_log_lines(spark, d).collect()
        by_file = {}
        for r in rows:
            by_file.setdefault(r["file"].rsplit("/", 1)[-1], []).append(
                (r["line_no"], r["line"])
            )
        assert [l for _, l in sorted(by_file["app.log"])] == [
            "<13>Feb  5 17:32:18 host app: start", "line two", "line three"]
        assert [n for n, _ in sorted(by_file["app.log"])] == [0, 1, 3]  # blank dropped, numbering stable
        assert [l for _, l in sorted(by_file["db.log"])] == ["alpha", "beta"]
        again = read_log_lines(spark, d).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_indexed_strategy_counts_match(self, spark, tmp_path):
        from logshipper_spark.sources.textlog import read_log_lines

        d = self._write_logs(tmp_path)
        w = read_log_lines(spark, d, strategy="wholetext")
        i = read_log_lines(spark, d, strategy="indexed")
        # same multiset of (file, line); numbering schemes differ by design
        assert sorted((r["file"], r["line"]) for r in w.collect()) == sorted(
            (r["file"], r["line"]) for r in i.collect()
        )

    def test_pipeline_over_log_lines(self, spark, tmp_path):
        from logshipper_spark.operators.parse import decode_syslog_pri
        from logshipper_spark.plans.spec import compile_pipeline
        from logshipper_spark.sources.textlog import as_transcript_frame, read_log_lines

        d = self._write_logs(tmp_path)
        frame = as_transcript_frame(read_log_lines(spark, d))
        pipe = compile_pipeline([
            {"match": r"^<(\d+)>", "set": {"kind": "syslog"}},
            {"forward": ["archive"]},
        ])
        routed = pipe.surviving(frame)
        kinds = {r["text"][:4]: r["kind"] for r in routed.collect()}
        assert kinds["<13>"] == "syslog"
        assert kinds.get("alph") is None

    def test_stream_log_lines_picks_up_new_files(self, spark, tmp_path):
        from logshipper_spark.sources.textlog import stream_log_lines

        d = self._write_logs(tmp_path)
        stream = stream_log_lines(spark, d)
        q = (stream.writeStream.format("memory").queryName("textlog_t")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        try:
            q.processAllAvailable()
            n1 = spark.table("textlog_t").count()
            assert n1 == 5
            (tmp_path / "logs" / "new.log").write_text("gamma\ndelta\n")
            q.processAllAvailable()
            assert spark.table("textlog_t").count() == n1 + 2
        finally:
            q.stop()

    def test_crlf_files_have_no_trailing_cr(self, spark, tmp_path):
        from logshipper_spark.sources.textlog import read_log_lines

        d = tmp_path / "crlf"
        d.mkdir()
        (d / "win.log").write_bytes(b"one\r\ntwo\r\nthree\r\n")
        for strategy in ("wholetext", "indexed"):
            lines = [r["line"] for r in read_log_lines(spark, str(d), strategy=strategy).collect()]
            assert sorted(lines) == ["one", "three", "two"], strategy
