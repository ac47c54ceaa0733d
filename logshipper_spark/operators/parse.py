"""Vectorized grok/regex parse stage.

The reference's match/extract (``logshipper/filters.py::prepare_match``
[approx]) applies one compiled regex per message and copies named groups into
fields.  Here parsing is columnar with two strategies:

* **native** (default): two projections of SQL text, JVM-side and
  whole-stage-codegen'd, zero Python.  ``pattern_name`` is one CASE of
  ``<field> RLIKE '<java regex>'`` in pack order (first match wins); each
  named group is one CASE on ``pattern_name`` over ``regexp_extract`` by
  group index.  The driver builds one ``F.expr`` per output column.
* **pandas**: ONE Arrow-batched UDF compiling every pattern once per worker
  and returning a struct of all groups in a single pass over ``text`` —
  the independent reference the native strategy is tested against.

Both return the same columns, so callers can flip strategies (bench.py does)."""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, functions as F, types as T

from logshipper_spark.operators.sqltext import sql_ident, sql_str


@dataclass
class GrokPattern:
    name: str
    pattern: str  # python-syntax named groups
    casts: dict[str, str] = dc_field(default_factory=dict)  # group → spark type

    @property
    def java_pattern(self) -> str:
        # anonymous groups: extraction is by index; Java group names can't
        # contain underscores anyway
        return re.sub(r"\(\?P<[A-Za-z_][A-Za-z0-9_]*>", "(", self.pattern)

    @property
    def groups(self) -> dict[str, int]:
        return dict(re.compile(self.pattern).groupindex)


# The five transcript line families (FIXTURES.md §2) — the engine's standard
# pattern pack, mirroring the reference's unit-test parse shapes.
TRANSCRIPT_PATTERNS = [
    GrokPattern(
        "applog",
        r"^(?P<level>DEBUG|INFO|WARN|ERROR) (?P<component>\w+): (?P<event>\w+) took (?P<duration_ms>\d+)ms$",
        {"duration_ms": "int"},
    ),
    GrokPattern(
        "syslog",
        r"^<(?P<pri>\d{1,3})>(?P<sys_ts>\w{3} [ \d]\d \d{2}:\d{2}:\d{2}) (?P<host>[\w.-]+) (?P<prog>[\w-]+)\[(?P<pid>\d+)\]: (?P<msg>.*)$",
        {"pri": "int", "pid": "int"},
    ),
    GrokPattern(
        "json",
        r'^\{"action": "(?P<action>\w+)", "status": "(?P<status>\w+)", "latency_ms": (?P<latency_ms>\d+)\}$',
        {"latency_ms": "int"},
    ),
    GrokPattern(
        "toolcall",
        r"^CALL (?P<call_tool>\w+)\((?P<call_args>[^)]*)\) -> (?P<call_status>\w+)$",
    ),
]


def big_pattern_pack(n_extra: int = 28) -> list[GrokPattern]:
    """TRANSCRIPT_PATTERNS + ``n_extra`` additional realistic log-format
    families (key=value, bracketed-pid, access-log, timing) — a ≥32-pattern
    grok pack for strategy benchmarks and differential tests.

    Real grok packs share field names across patterns (every nginx/apache/
    k8s shape extracts into the same ECS-ish fields), so the extras all
    extract into (skey, sval, smsg): the OUTPUT stays 3 columns wide while
    the MATCH cost grows with the pack — exactly the shape that separates
    the native (N × rlike dispatch) and pandas (single-pass, short-circuit)
    strategies.  Extras sit after the base four, so base-pack behavior is
    unchanged; unmatched lines (~10% of transcript text) pay the full
    N-pattern scan, as in production."""
    shapes = [
        (r"^@PFX@ (?P<skey>\w+)=(?P<sval>\d+) (?P<smsg>.*)$", {"sval": "int"}),
        (r"^@PFX@\[(?P<sval>\d+)\] (?P<skey>[\w.-]+): (?P<smsg>.*)$", {"sval": "int"}),
        (r'^@PFX@ "(?P<skey>[A-Z]+) (?P<smsg>[^"]*)" (?P<sval>\d{3})$', {"sval": "int"}),
        (r"^@PFX@: (?P<skey>\w+) -> (?P<smsg>\w+) in (?P<sval>\d+)us$", {"sval": "int"}),
    ]
    prefixes = ["nginx", "apache", "k8s", "etcd", "kafka", "redis", "pgsql",
                "envoy", "haproxy", "systemd", "dockerd", "sshd", "cron", "vault"]
    extras = []
    for i in range(n_extra):
        pat, casts = shapes[i % len(shapes)]
        pfx = f"{prefixes[i % len(prefixes)]}{i:02d}"
        extras.append(GrokPattern(f"fam_{pfx}", pat.replace("@PFX@", pfx), dict(casts)))
    return list(TRANSCRIPT_PATTERNS) + extras


def _all_fields(patterns: list[GrokPattern]) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    seen = set()
    for p in patterns:
        for g in p.groups:
            if g not in seen:
                seen.add(g)
                out.append((g, p.casts.get(g, "string")))
    return out


def grok_native(df: DataFrame, field: str = "text",
                patterns: list[GrokPattern] | None = None) -> DataFrame:
    """First-match-wins dispatch across the pack, all in codegen'd exprs.

    Adds ``pattern_name`` plus one column per named group (null where the
    winning pattern lacks the group or nothing matched).
    """
    patterns = patterns or TRANSCRIPT_PATTERNS
    src = sql_ident(field)
    rx = [sql_str(p.java_pattern) for p in patterns]
    name = " ".join(f"WHEN {src} RLIKE {r} THEN {sql_str(p.name)}"
                    for p, r in zip(patterns, rx))
    df = df.withColumns({"pattern_name": F.expr(f"CASE {name} END")})
    new = {}
    for gname, gtype in _all_fields(patterns):
        branches = []
        for p, r in zip(patterns, rx):
            if gname in p.groups:
                # an unmatched optional group extracts '': under ANSI mode
                # CAST('' AS INT) fails the job, hence NULLIF + TRY_CAST
                # (r4 review).  String groups keep the raw '' (a value;
                # grok_pandas returns '' there too).
                raw = f"regexp_extract({src}, {r}, {p.groups[gname]})"
                value = raw if gtype == "string" else f"TRY_CAST(NULLIF({raw}, '') AS {gtype})"
                branches.append(f"WHEN pattern_name = {sql_str(p.name)} THEN {value}")
        new[gname] = F.expr(f"CASE {' '.join(branches)} END")
    return df.withColumns(new)


def grok_pandas(df: DataFrame, field: str = "text",
                patterns: list[GrokPattern] | None = None) -> DataFrame:
    """Single-pass Arrow UDF: compile all regexes once per executor, return
    a struct of every group for the whole batch.  Python ``re`` end to end,
    so it checks ``grok_native`` independently (tests/test_parse.py)."""
    import pandas as pd

    patterns = patterns or TRANSCRIPT_PATTERNS
    fields = _all_fields(patterns)
    spark_fields = [T.StructField("pattern_name", T.StringType())] + [
        T.StructField(g, T.IntegerType() if t == "int" else T.StringType()) for g, t in fields
    ]
    out_type = T.StructType(spark_fields)
    pack = [(p.name, p.pattern, [g for g in p.groups], p.casts) for p in patterns]

    @F.pandas_udf(out_type)
    def _parse(s):  # pd.Series -> pd.DataFrame (struct); hints omitted —
        # pyspark's hint inference doesn't accept Series->DataFrame
        compiled = [(n, re.compile(pat), groups, casts) for n, pat, groups, casts in pack]
        n = len(s)
        data: dict[str, list] = {"pattern_name": [None] * n}
        for g, _t in fields:
            data[g] = [None] * n
        vals = s.to_numpy()
        for i in range(n):
            v = vals[i]
            if v is None:
                continue
            for name, rx, groups, casts in compiled:
                m = rx.search(v)
                if m:
                    data["pattern_name"][i] = name
                    gd = m.groupdict()
                    for g in groups:
                        raw = gd.get(g)
                        if raw is not None and casts.get(g) == "int":
                            # try_cast parity with grok_native: an empty or
                            # non-numeric capture is null, never a crash
                            # (int('') raised here before — r4 review)
                            try:
                                data[g][i] = int(raw)
                            except ValueError:
                                data[g][i] = None
                        else:
                            data[g][i] = raw
                    break
        out = pd.DataFrame(data)
        for g, t in fields:
            if t == "int":
                out[g] = out[g].astype("Int32")
        return out

    cols = ["pattern_name"] + [g for g, _ in fields]
    parsed = df.withColumn("__parsed", _parse(F.col(field)))
    return parsed.withColumns({c: F.col(f"__parsed.{c}") for c in cols}).drop("__parsed")


def split_unparsed(
    df: DataFrame,
    field: str = "text",
    patterns: list[GrokPattern] | None = None,
    reason: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (parsed, quarantined).  Rows matching no pattern
    in the pack go to the quarantine frame with a ``reason`` column instead
    of silently flowing on with null fields — the ops-grade behavior a log
    pipeline needs (reference drops them silently into later steps).

    Both frames derive from ONE grok pass; the filter on ``pattern_name``
    is a native predicate, so each sink's scan prunes the other's rows.
    """
    patterns = patterns or TRANSCRIPT_PATTERNS
    parsed = grok_native(df, field=field, patterns=patterns)
    why = reason or f"unparsed:{'+'.join(p.name for p in patterns)}"
    ok = parsed.where(F.col("pattern_name").isNotNull())
    dead = (
        parsed.where(F.col("pattern_name").isNull())
        .select(*df.columns)
        .withColumn("reason", F.lit(why))
    )
    return ok, dead


def decode_syslog_pri(df: DataFrame, pri_col: str = "pri") -> DataFrame:
    """facility/severity from RFC3164 PRI — integer arithmetic + broadcast
    lookup maps, mirroring logshipper/syslog.py's tables [approx]."""
    severities = ["emerg", "alert", "crit", "err", "warning", "notice", "info", "debug"]
    facilities = [
        "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
        "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert2", "clock",
        "local0", "local1", "local2", "local3", "local4", "local5", "local6", "local7",
    ]
    sev_arr = F.array(*[F.lit(x) for x in severities])
    fac_arr = F.array(*[F.lit(x) for x in facilities])
    p = F.col(pri_col)
    return (
        df.withColumn("severity", F.pmod(p, F.lit(8)).cast("int"))
        .withColumn("facility", (p / 8).cast("int"))
        .withColumn("severity_name", F.element_at(sev_arr, F.col("severity") + 1))
        .withColumn("facility_name", F.element_at(fac_arr, F.least(F.col("facility"), F.lit(23)) + 1))
    )


def format_syslog_line(df: DataFrame, pri_col: str = "pri", ts_col: str = "sys_ts",
                       host_col: str = "host", prog_col: str = "prog",
                       pid_col: str = "pid", msg_col: str = "msg") -> DataFrame:
    """RFC3164 re-emit ('syslog forward' sink, SURVEY §2.8): render parsed
    fields back into a wire-format line — pure format_string, codegen'd."""
    return df.withColumn(
        "syslog_line",
        F.format_string(
            "<%d>%s %s %s[%d]: %s",
            F.col(pri_col), F.col(ts_col), F.col(host_col),
            F.col(prog_col), F.col(pid_col), F.col(msg_col),
        ),
    )


# ------------------------------------------------------------------ --
# Log template mining (Drain-lite)

TEMPLATE_RULES: list[tuple[str, str]] = [
    # order matters: wider literals first so later rules can't split them
    (r"0x[0-9a-fA-F]+", "<hex>"),
    (r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b", "<uuid>"),
    (r"[0-9]+\.[0-9]+", "<f>"),
    (r"[0-9]+", "<n>"),
]


def normalize_template(col: Column) -> Column:
    """Collapse variable tokens (hex ids, uuids, floats, ints) to typed
    placeholders — the structure that survives is the log TEMPLATE
    (Drain/Spell-style mining, reduced to its scalable core: template
    identity needs no tree, just a canonical masking).  RE2-compatible
    character classes only, so the SAME rules run in any oracle engine."""
    out = col
    for pat, repl in TEMPLATE_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def mine_templates(df: DataFrame, msg_col: str, min_count: int = 1) -> DataFrame:
    """Group messages by masked template: count, distinct-source spread and
    a deterministic exemplar per template.

    Plan shape at 100 TB: the masking is pure codegen'd regexp_replace
    (no Python), and the ONE shuffle carries md5(template) + partial
    aggregates — the raw message column never moves; the exemplar is
    min(msg), a mergeable aggregate, not a collect."""
    masked = df.withColumn("template", normalize_template(F.col(msg_col)))
    return (
        masked.groupBy("template")
        .agg(
            F.count("*").alias("n_msgs"),
            F.min(msg_col).alias("exemplar"),
        )
        .where(F.col("n_msgs") >= min_count)
    )
