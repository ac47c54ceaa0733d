"""Operator parity tests for the pipeline-spec compiler.

Ported semantics of the reference's per-filter unit tests
(logshipper/tests/test_filters.py [approx], SURVEY.md §5.1): build a handler
spec, feed literal messages, assert mutated fields / SKIP_STEP /
DROP_MESSAGE — re-expressed over the transcripts schema with per-turn
equality under stable (conv_id, turn_idx) ordering.
"""

import pyspark.sql.functions as F
import pytest

from logshipper_spark.plans.spec import ACTIVE, SINKS, compile_pipeline


def make_df(spark, rows):
    """rows: list of (conv_id, turn_idx, text) or full 6-tuples."""
    if rows and len(rows[0]) == 3:
        rows = [(c, i, "user", t, None, "2024-01-01 00:00:00") for c, i, t in rows]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    )
    return df.withColumn("ts", F.to_timestamp("ts"))


def collect_sorted(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy("conv_id", "turn_idx").collect()]


class TestMatch:
    def test_named_groups_become_fields(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR auth: boom took 5ms"), ("c1", 1, "hello world")])
        pipe = compile_pipeline(
            [{"match": {"text": r"^(?P<level>\w+) (?P<component>\w+): (?P<event>\w+) took (?P<ms>\d+)ms"}}]
        )
        out = collect_sorted(pipe.surviving(df), "conv_id", "turn_idx", "level", "component", "ms")
        assert out == [("c1", 0, "ERROR", "auth", "5"), ("c1", 1, None, None, None)]

    def test_skip_step_gates_rest_of_step_only(self, spark):
        # non-matching rows skip THIS step's set, but a later step still runs
        df = make_df(spark, [("c1", 0, "ERROR x"), ("c1", 1, "plain")])
        pipe = compile_pipeline(
            [
                {"match": "^ERROR", "set": {"flag": "err"}},
                {"set": {"seen": "yes"}},
            ]
        )
        out = collect_sorted(pipe.surviving(df), "turn_idx", "flag", "seen")
        assert out == [(0, "err", "yes"), (1, None, "yes")]

    def test_multi_field_match_all_must_match(self, spark):
        rows = [
            ("c1", 0, "user", "ERROR x", None, "2024-01-01 00:00:00"),
            ("c1", 1, "tool", "ERROR y", None, "2024-01-01 00:00:01"),
        ]
        df = make_df(spark, rows)
        pipe = compile_pipeline([{"match": {"text": "^ERROR", "role": "^user$"}, "set": {"hit": "1"}}])
        out = collect_sorted(pipe.surviving(df), "turn_idx", "hit")
        assert out == [(0, "1"), (1, None)]


class TestMangle:
    def test_set_with_backrefs_and_fields(self, spark):
        df = make_df(spark, [("c1", 0, "WARN auth: x")])
        pipe = compile_pipeline(
            [{"match": r"^(?P<level>\w+) (\w+):", "set": {"tag": "{level}/{2}@{conv_id}"}}]
        )
        out = collect_sorted(pipe.surviving(df), "tag")
        assert out == [("WARN/auth@c1",)]

    def test_replace_matched_span(self, spark):
        df = make_df(spark, [("c1", 0, "user=alice id=42"), ("c1", 1, "no secrets")])
        pipe = compile_pipeline([{"match": r"user=(?P<u>\w+)", "replace": "user=<redacted>"}])
        out = collect_sorted(pipe.surviving(df), "text")
        assert out == [("user=<redacted> id=42",), ("no secrets",)]

    def test_replace_with_group_backref(self, spark):
        df = make_df(spark, [("c1", 0, "took 250ms")])
        pipe = compile_pipeline([{"match": r"took (?P<ms>\d+)ms", "replace": "took {ms} millis"}])
        out = collect_sorted(pipe.surviving(df), "text")
        assert out == [("took 250 millis",)]

    def test_rename_strip_unset(self, spark):
        df = make_df(spark, [("c1", 0, "  padded  ")])
        pipe = compile_pipeline(
            [
                {"strip": ["text"]},
                {"set": {"a": "va", "b": "vb"}},
                {"rename": {"a": "a2"}},
                {"unset": ["b"]},
            ]
        )
        out = pipe.surviving(df)
        row = out.collect()[0]
        assert row["text"] == "padded"
        assert row["a2"] == "va" and row["a"] is None and row["b"] is None

    def test_set_only_on_matched_rows_preserves_existing(self, spark):
        df = make_df(spark, [("c1", 0, "A"), ("c1", 1, "B")])
        pipe = compile_pipeline(
            [
                {"set": {"x": "orig"}},
                {"match": "^A$", "set": {"x": "changed"}},
            ]
        )
        out = collect_sorted(pipe.surviving(df), "turn_idx", "x")
        assert out == [(0, "changed"), (1, "orig")]

    def test_python_sql_rewrite(self, spark):
        df = make_df(spark, [("c1", 0, "hello")])
        pipe = compile_pipeline([{"python": {"field": "text", "sql": "upper(text)"}}])
        assert collect_sorted(pipe.surviving(df), "text") == [("HELLO",)]

    def test_python_pandas_rewrite(self, spark):
        df = make_df(spark, [("c1", 0, "hello"), ("c1", 1, "world")])
        pipe = compile_pipeline([{"python": {"field": "text", "expr": "text.str.upper() + '!'"}}])
        assert collect_sorted(pipe.surviving(df), "text") == [("HELLO!",), ("WORLD!",)]

    def test_python_rewrite_pd_facade_allows_curated(self, spark):
        # the curated pd facade still serves data-shaping: to_numeric etc.
        df = make_df(spark, [("c1", 0, "2"), ("c1", 1, "x")])
        pipe = compile_pipeline([{"python": {
            "field": "text",
            "expr": "pd.to_numeric(text, errors='coerce').fillna(0).astype('int64').astype('str')",
        }}])
        assert sorted(collect_sorted(pipe.surviving(df), "text")) == [("0",), ("2",)]

    @pytest.mark.parametrize(
        "expr",
        [
            "__import__('os').system('true')",   # builtins escape
            "().__class__.__bases__",             # dunder attribute escape
            "[x for x in text]",                  # comprehension
            "(lambda: 1)()",                      # lambda
            "open('/etc/passwd')",                # unknown name
            "text.str._accessor",                 # underscore attribute
            "pd.read_pickle('/tmp/x')",           # pickle = arbitrary code
            "pd.read_csv('http://evil/x.csv')",   # network/file I/O
            "pd.eval('1+1')",                     # eval escape
            "pd.io",                              # module traversal
            "pd.Series.to_csv(text, '/tmp/x')",   # unbound-method I/O via chained pd attr
            "pd.Series.to_pickle(text, '/tmp/x')",  # same, pickle
            "text.to_csv('/tmp/x')",              # bound Series I/O method
            "text.to_pickle('/tmp/x')",           # bound Series I/O method
            "text.agg('to_csv', '/tmp/x')",       # string-func dispatch reaches I/O
            "text.pipe(len)",                     # arbitrary-callable dispatch
            "'{0.str}'.format(text)",             # format-spec attribute traversal
        ],
    )
    def test_python_rewrite_rejects_non_subset(self, spark, expr):
        # the documented expression subset is enforced at COMPILE time —
        # nothing outside it ever reaches an executor
        df = make_df(spark, [("c1", 0, "hello")])
        with pytest.raises(ValueError, match="python rewrite"):
            pipe = compile_pipeline([{"python": {"field": "text", "expr": expr}}])
            pipe.surviving(df).collect()


class TestDropAndRoute:
    def test_drop_removes_and_stops_later_forwards(self, spark):
        df = make_df(spark, [("c1", 0, "DEBUG x"), ("c1", 1, "INFO y")])
        pipe = compile_pipeline(
            [
                {"match": "^DEBUG", "drop": True},
                {"forward": ["archive"]},
            ]
        )
        routed = pipe.routed(df)
        assert collect_sorted(routed, "turn_idx", "sink") == [(1, "archive")]

    def test_forward_fires_before_drop_in_same_step(self, spark):
        # phase order: forward (2) runs before drop (3) within one step —
        # a message can be routed by the very step that drops it
        df = make_df(spark, [("c1", 0, "ERROR x")])
        pipe = compile_pipeline([{"match": "^ERROR", "forward": ["errors"], "drop": True},
                                 {"forward": ["archive"]}])
        routed = pipe.routed(df)
        assert collect_sorted(routed, "sink") == [("errors",)]

    def test_multi_sink_fanout(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR x"), ("c1", 1, "INFO y")])
        pipe = compile_pipeline(
            [
                {"match": "^ERROR", "forward": ["errors", "alerts"]},
                {"forward": ["archive"]},
            ]
        )
        routed = pipe.routed(df)
        got = sorted((r["turn_idx"], r["sink"]) for r in routed.collect())
        assert got == [(0, "alerts"), (0, "archive"), (0, "errors"), (1, "archive")]

    def test_bookkeeping_columns_hidden(self, spark):
        df = make_df(spark, [("c1", 0, "x")])
        pipe = compile_pipeline([{"forward": ["a"]}])
        assert ACTIVE not in pipe.routed(df).columns
        assert SINKS not in pipe.surviving(df).columns


class TestEdge:
    def test_edge_passes_only_on_change(self, spark):
        rows = [("c1", i, t) for i, t in enumerate(["A", "A", "B", "B", "A"])]
        rows += [("c2", 0, "A")]
        df = make_df(spark, rows)
        pipe = compile_pipeline([{"edge": {"trigger": "{text}", "key": "conv_id"}, "set": {"chg": "1"}}])
        out = collect_sorted(pipe.surviving(df), "conv_id", "turn_idx", "chg")
        assert out == [
            ("c1", 0, "1"), ("c1", 1, None), ("c1", 2, "1"),
            ("c1", 3, None), ("c1", 4, "1"), ("c2", 0, "1"),
        ]


class TestCall:
    def test_call_applies_sub_pipeline(self, spark):
        df = make_df(spark, [("c1", 0, "x")])
        sub = compile_pipeline([{"set": {"subbed": "yes"}}])
        pipe = compile_pipeline([{"call": "sub"}], pipelines={"sub": sub})
        assert collect_sorted(pipe.surviving(df), "subbed") == [("yes",)]

    def test_gated_call_touches_only_matching_rows(self, spark):
        # reference semantics: the called pipeline sees ONLY the current
        # (gated) message — non-matching rows pass through untouched
        df = make_df(spark, [("c1", 0, "ERROR boom"), ("c1", 1, "plain")])
        sub = compile_pipeline([{"set": {"subbed": "yes"}}, {"forward": ["subsink"]}])
        pipe = compile_pipeline([{"match": "^ERROR", "call": "sub"}], pipelines={"sub": sub})
        assert collect_sorted(pipe.surviving(df), "turn_idx", "subbed") == [
            (0, "yes"),
            (1, None),
        ]
        routed = [(r["turn_idx"], r["sink"]) for r in pipe.routed(df).collect()]
        assert routed == [(0, "subsink")]

    def test_drop_inside_call_drops_only_gated_rows(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR boom"), ("c1", 1, "plain")])
        sub = compile_pipeline([{"drop": True}])
        pipe = compile_pipeline(
            [{"match": "^ERROR", "call": "sub"}, {"set": {"seen": "yes"}}],
            pipelines={"sub": sub},
        )
        out = collect_sorted(pipe.surviving(df), "turn_idx", "seen")
        assert out == [(1, "yes")]

    def test_forward_after_call_in_same_step(self, spark):
        # phase order: call (manipulate) runs before forward; a drop inside
        # the sub suppresses the same-step forward for that row
        df = make_df(spark, [("c1", 0, "ERROR boom"), ("c1", 1, "WARN eh"), ("c1", 2, "plain")])
        sub = compile_pipeline([{"match": "^ERROR", "drop": True}])
        pipe = compile_pipeline(
            [{"match": r"^(ERROR|WARN)", "call": "sub", "forward": ["alerts"]}],
            pipelines={"sub": sub},
        )
        routed = sorted((r["turn_idx"], r["sink"]) for r in pipe.routed(df).collect())
        assert routed == [(1, "alerts")]

    def test_nested_call(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR boom"), ("c1", 1, "plain")])
        inner = compile_pipeline([{"set": {"depth": "2"}}])
        outer = compile_pipeline(
            [{"call": "inner"}, {"set": {"mark": "outer"}}], pipelines={"inner": inner}
        )
        pipe = compile_pipeline(
            [{"match": "^ERROR", "call": "outer"}],
            pipelines={"outer": outer, "inner": inner},
        )
        out = collect_sorted(pipe.surviving(df), "turn_idx", "depth", "mark")
        assert out == [(0, "2", "outer"), (1, None, None)]


class TestMultiFieldTemplates:
    def test_template_groups_resolve_from_their_own_field(self, spark):
        # a group captured from a NON-last match field must interpolate from
        # that field, not the last pattern (per_group_src routing)
        rows = [("c1", 0, "user", "ERROR boom", "search", "2024-01-01 00:00:00")]
        df = make_df(spark, rows)
        pipe = compile_pipeline(
            [
                {
                    "match": {"text": r"^(?P<level>\w+)", "tool": r"^(?P<toolname>\w+)$"},
                    "set": {"tag": "{level}:{toolname}"},
                }
            ]
        )
        assert collect_sorted(pipe.surviving(df), "tag") == [("ERROR:search",)]

    def test_replace_rejects_cross_field_group(self, spark):
        rows = [("c1", 0, "user", "ERROR boom", "search", "2024-01-01 00:00:00")]
        df = make_df(spark, rows)
        with pytest.raises(ValueError, match="captured from"):
            pipe = compile_pipeline(
                [
                    {
                        "match": {"tool": r"^(?P<toolname>\w+)$", "text": r"^(?P<level>\w+)"},
                        "replace": "{toolname}",
                    }
                ]
            )
            pipe.surviving(df).collect()

    def test_unmatched_optional_group_keeps_previous_field_value(self, spark):
        # the reference only writes groups whose value is not None
        df = make_df(spark, [("c1", 0, "ERR"), ("c1", 1, "ERR boom")])
        pipe = compile_pipeline(
            [
                {"set": {"word": "pre"}},
                {"match": r"^(?P<level>ERR)( (?P<word>[a-z]+))?", "set": {"t": "w={word}"}},
            ]
        )
        out = collect_sorted(pipe.surviving(df), "turn_idx", "word", "t")
        # row 0: optional group unmatched → field keeps "pre", template "" per
        # reference match-context semantics; row 1: group captured
        assert out == [(0, "pre", "w="), (1, "boom", "w=boom")]


class TestPipelineEndToEnd:
    def test_p1_basic_route_counts(self, spark, transcripts):
        """FIXTURES.md p1: ERROR rows → errors sink, all → archive."""
        pipe = compile_pipeline(
            [
                {"match": r"^(?P<level>DEBUG|INFO|WARN|ERROR) ", "forward": []},
                {"match": "^ERROR ", "forward": ["errors"]},
                {"forward": ["archive"]},
            ]
        )
        routed = pipe.routed(transcripts).groupBy("sink").count().collect()
        counts = {r["sink"]: r["count"] for r in routed}
        n_total = transcripts.count()
        n_err = transcripts.where(F.col("text").rlike("^ERROR ")).count()
        assert counts["archive"] == n_total
        assert counts["errors"] == n_err > 0


class TestYamlManager:
    YAML_MAIN = """
- match:
    text: '^(?P<level>ERROR|WARN) (?P<component>\\w+):'
  set:
    alert: '{component}/{level}'
  forward: [errors]
- match: '^DEBUG'
  drop: true
- call: archive_all
"""
    YAML_SUB = """
- forward: [archive]
"""

    def test_yaml_dir_load_and_call(self, spark, tmp_path):
        from logshipper_spark.plans.manager import PipelineManager

        (tmp_path / "main.yaml").write_text(self.YAML_MAIN)
        (tmp_path / "archive_all.yaml").write_text(self.YAML_SUB)
        mgr = PipelineManager().load_dir(str(tmp_path))
        df = make_df(spark, [("c1", 0, "ERROR auth: x"), ("c1", 1, "DEBUG y"), ("c1", 2, "plain")])
        routed = mgr.get("main").routed(df)
        got = sorted((r["turn_idx"], r["sink"]) for r in routed.collect())
        assert got == [(0, "archive"), (0, "errors"), (2, "archive")]
        alert = {r["turn_idx"]: r["alert"] for r in mgr.process(df, "main").collect()}
        assert alert[0] == "auth/ERROR" and alert[2] is None

    def test_hot_reload_swaps_pipelines(self, spark, tmp_path):
        from logshipper_spark.plans.manager import PipelineManager

        (tmp_path / "main.yaml").write_text("- forward: [a]\n")
        mgr = PipelineManager().load_dir(str(tmp_path))
        df = make_df(spark, [("c1", 0, "x")])
        assert [r["sink"] for r in mgr.get("main").routed(df).collect()] == ["a"]
        assert mgr.reload_if_changed() is False  # unchanged → no-op

        import os
        (tmp_path / "main.yaml").write_text("- forward: [b]\n")
        os.utime(tmp_path / "main.yaml")  # ensure mtime tick
        assert mgr.reload_if_changed() is True
        assert [r["sink"] for r in mgr.get("main").routed(df).collect()] == ["b"]

    def test_hot_reload_keeps_last_good_on_malformed_yaml(self, spark, tmp_path):
        # a half-saved edit is likely exactly when hot-reload fires: the
        # reload must raise but keep the last-good pipelines serving, and
        # must NOT go sticky — a subsequent fix is picked up
        import os

        from logshipper_spark.plans.manager import PipelineManager

        (tmp_path / "main.yaml").write_text("- forward: [a]\n")
        mgr = PipelineManager().load_dir(str(tmp_path))
        df = make_df(spark, [("c1", 0, "x")])

        (tmp_path / "main.yaml").write_text("- forward: [b\n  :::")  # torn write
        os.utime(tmp_path / "main.yaml")
        with pytest.raises(Exception):
            mgr.reload_if_changed()
        # last-good config still serves
        assert [r["sink"] for r in mgr.get("main").routed(df).collect()] == ["a"]

        (tmp_path / "main.yaml").write_text("- forward: [b]\n")
        os.utime(tmp_path / "main.yaml")
        assert mgr.reload_if_changed() is True  # not sticky: fix lands
        assert [r["sink"] for r in mgr.get("main").routed(df).collect()] == ["b"]

    def test_unset_non_string_column_keeps_type(self, spark):
        from logshipper_spark.plans.spec import compile_pipeline

        df = make_df(spark, [("c1", 0, "x")])
        out = compile_pipeline([{"unset": ["ts"]}]).surviving(df)
        assert out.schema["ts"].dataType.simpleString() == "timestamp"
        assert out.collect()[0]["ts"] is None


class TestObserveAndSample:
    def test_observed_metrics(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR a"), ("c1", 1, "DEBUG b"),
                             ("c1", 2, "INFO c"), ("c2", 0, "ERROR d")])
        pipe = compile_pipeline(
            [
                {"match": "^ERROR", "forward": ["errors"]},
                {"match": "^DEBUG", "drop": True},
                {"forward": ["archive"]},
            ]
        )
        routed, obs = pipe.observed(df, set_cols=["conv_id"])
        routed.count()  # action materializes the observation
        m = obs.get
        assert m["rows_in"] == 4
        assert m["rows_dropped"] == 1
        assert m["step0_matched"] == 2        # two ERROR rows
        assert m["step1_matched"] == 1        # one DEBUG row
        assert m["step2_matched"] == 3        # everything still active
        assert m["sink_deliveries"] == 5      # 2 errors + 3 archive
        assert m["set_conv_id"] == 2          # statsd set: {c1, c2} (HLL exact at this size)

    def test_sample_deterministic(self, spark, transcripts):
        pipe = compile_pipeline([{"sample": {"rate": 0.25}, "forward": ["s"]}])
        a = pipe.routed(transcripts).count()
        b = pipe.routed(transcripts).count()
        n = transcripts.count()
        assert a == b  # rerun-identical (hash-based, not rand)
        assert 0.15 * n < a < 0.35 * n

    def test_sample_rate_one_keeps_all(self, spark):
        df = make_df(spark, [("c1", 0, "x"), ("c1", 1, "y")])
        pipe = compile_pipeline([{"sample": {"rate": 1.0}, "forward": ["s"]}])
        assert pipe.routed(df).count() == 2


class TestMissingFieldMatch:
    def test_match_on_missing_field_skips_step(self, spark):
        df = make_df(spark, [("c1", 0, "ERROR x")])
        pipe = compile_pipeline(
            [
                {"match": {"no_such_field": ".*"}, "set": {"a": "1"}, "forward": ["s1"]},
                {"set": {"b": "2"}, "forward": ["s2"]},
            ]
        )
        routed = pipe.routed(df)
        assert collect_sorted(routed, "sink") == [("s2",)]
        row = pipe.surviving(df).collect()[0]
        assert row["a"] is None and row["b"] == "2"

    def test_backref_template_with_missing_field_match(self, spark):
        df = make_df(spark, [("c1", 0, "x")])
        pipe = compile_pipeline([{"match": {"ghost": "(a)"}, "set": {"t": "v{1}"}}])
        assert pipe.surviving(df).collect()[0]["t"] is None  # gated, never set


class TestPlanBuildCost:
    """A step names only the columns it assigns: its driver-side cost (each
    PySpark 4 Column call is several py4j round trips) must not grow with
    the frame's width, and the optimized plan must not change."""

    SPEC = [
        {"match": {"text": r"^(?P<level>[A-Z]+) "}, "set": {"tag": "{level}"}},
        {"match": "^ERROR ", "forward": ["errors"]},
        {"match": "^DEBUG ", "drop": True, "forward": ["archive"]},
    ]

    def test_col_calls_independent_of_width(self, spark, monkeypatch):
        def wide(n):
            extra = [F.lit(i).alias(f"c{i}") for i in range(n - 1)]
            return spark.range(1).select(F.lit("ERROR x").alias("text"), *extra)

        frames = {n: wide(n) for n in (20, 200)}
        real_col, counter, calls = F.col, [], {}
        monkeypatch.setattr(F, "col", lambda name: counter.append(name) or real_col(name))
        for n, df in frames.items():
            counter.clear()
            routed = compile_pipeline(self.SPEC).routed(df)
            calls[n] = len(counter)
            assert len(routed.columns) == n + 3  # level, tag, sink
        assert calls[20] == calls[200] > 0

    def test_bench_spec_plan_matches_select_form(self, spark, transcripts, monkeypatch):
        """The optimized ``routed`` plan of the bench spec is the one the
        earlier full-``select`` projection gave, expression ids aside."""
        import re

        from logshipper_spark.operators.enrich import enrich
        from logshipper_spark.operators.parse import grok_native
        from logshipper_spark.plans.spec import DEMO_SPEC, Pipeline
        from logshipper_spark.sources.transcripts import role_dim, tool_dim

        enriched = enrich(
            enrich(grok_native(transcripts), role_dim(spark), on="role"), tool_dim(spark), on="tool"
        )

        def optimized() -> str:
            routed = compile_pipeline(DEMO_SPEC).routed(enriched)
            plan = routed._jdf.queryExecution().optimizedPlan().toString()
            return re.sub(r"#\d+L?", "#", plan)

        def select_form(df, assignments):
            return df.select(
                *[assignments.get(c, F.col(c)).alias(c) for c in df.columns],
                *[e.alias(k) for k, e in assignments.items() if k not in df.columns],
            )

        got = optimized()
        monkeypatch.setattr(Pipeline, "_materialize", staticmethod(select_form))
        assert got == optimized()
        assert "Generate explode" in got
