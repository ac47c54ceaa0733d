"""Pipeline-spec → Catalyst-plan compiler.

The reference (``logshipper/pipeline.py::Pipeline/Step/PipelineManager``
[approx, SURVEY.md §0]) interprets a YAML list of steps per message: handlers
within a step run in phase order (match → manipulate → forward → drop), a
failed ``match`` raises SKIP_STEP (the rest of that step is skipped), and
``drop`` stops all processing for the message.

This module compiles the SAME spec shape ONCE into a single lazy DataFrame
plan — there is no per-row interpreter:

* fields            → columns (match groups become new columns)
* SKIP_STEP         → a boolean ``matched`` expression gating every
                      assignment in the step via ``F.when``
* DROP_MESSAGE      → a cumulative ``__active`` boolean; later steps only
                      "see" rows still active; the router filters on it
* forward (sinks)   → append sink names to an ``__sinks`` array column
* backreferences    → ``{1}``/``{name}`` templates compile to
                      ``regexp_extract`` on the step's match field

Each step lowers to ONE Project that names only the columns the step
assigns or adds (``withColumns``); input fields are looked up lazily, so
a step's driver-side cost follows the handlers it runs, not the width of
the frame (every PySpark 4 Column call is several py4j round trips).

Everything lowers to codegen'd JVM expressions (``rlike``,
``regexp_extract``, ``regexp_replace``, ``concat``); the only Python in the
plan is the optional vectorized ``python`` rewrite (pandas UDF), mirroring
``logshipper/filters.py::prepare_python`` [approx] without per-row Python.

Spec example (same shape as a logshipper YAML pipeline)::

    steps = [
        {"match": {"text": r"^(?P<level>ERROR|WARN) (?P<component>\\w+):"},
         "set": {"alert": "{component}/{level}"},
         "forward": ["errors"]},
        {"match": "DEBUG", "drop": True},
        {"forward": ["archive"]},
    ]
    pipe = compile_pipeline(steps)
    routed = pipe(df)          # adds extracted cols, __active, __sinks
"""

from __future__ import annotations

import itertools
import re
from collections import ChainMap
from collections.abc import Iterator, Mapping
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

ACTIVE = "__active"
SINKS = "__sinks"

# the 4-step demo pipeline: errors and syslog lines to their own sinks,
# DEBUG dropped, every surviving line archived
DEMO_SPEC: list[dict[str, Any]] = [
    {"match": {"text": "^ERROR "}, "forward": ["errors"]},
    {"match": {"text": "^<"}, "forward": ["syslog"]},
    {"match": {"text": "^DEBUG "}, "drop": True},
    {"forward": ["archive"]},
]

# unique temp-column suffixes for nested call gating (a sub-pipeline may
# itself contain call steps; fixed names would collide with the caller's)
_CALL_IDS = itertools.count()

# Phase order within a step — mirrors logshipper/pipeline.py PHASE_MATCH /
# PHASE_MANIPULATE / PHASE_FORWARD / PHASE_DROP [approx].
_PHASES = {
    "match": 0,
    "sample": 1,
    "edge": 1,
    "replace": 1,
    "set": 1,
    "rename": 1,
    "strip": 1,
    "unset": 1,
    "python": 1,
    "call": 1,
    "forward": 2,
    "drop": 3,
}

_TEMPLATE_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*|\d+)\}")


def _to_java_regex(pattern: str) -> str:
    """Python named groups → anonymous Java groups (groups are referenced by
    index on the JVM side; Java group names also can't contain ``_``)."""
    gi = re.compile(pattern).groupindex
    out = re.sub(r"\(\?P<[A-Za-z_][A-Za-z0-9_]*>", "(", pattern)
    return re.sub(r"\(\?P=([A-Za-z_][A-Za-z0-9_]*)\)", lambda m: f"\\{gi[m.group(1)]}", out)


@dataclass
class _MatchInfo:
    """Per-step match context — the columnar analogue of the reference's
    per-message ``Context`` carrying regex groups (SURVEY.md §1.1)."""

    field_name: str | None = None      # field of the LAST pattern (backref target)
    pattern: str | None = None         # java-syntax pattern of the last field
    group_index: dict[str, int] = field(default_factory=dict)
    # group name → (source field, source pattern): a multi-field match keeps
    # per-group provenance so templates extract each group from the field
    # that actually captured it (the reference writes every field's groups
    # into the message dict, so later template lookups see them all)
    per_group_src: dict[str, tuple[str, str]] = field(default_factory=dict)
    n_groups: int = 0
    cond: Column | None = None         # full step-match condition


class _Fields(Mapping):
    """A step's input fields by name, each ``F.col`` built on first use
    and then reused.  A PySpark 4 Column call is several py4j round trips
    (PySpark records its call site), so building one per input column on
    every step cost driver time that grew with the frame's width."""

    def __init__(self, names: list[str]):
        self._names = names
        self._known = frozenset(names)
        self._resolved: dict[str, Column] = {}

    def __getitem__(self, name: str) -> Column:
        if name not in self._known:
            raise KeyError(name)
        if name not in self._resolved:
            self._resolved[name] = F.col(name)
        return self._resolved[name]

    def __contains__(self, name: object) -> bool:
        return name in self._known

    def __iter__(self) -> Iterator[str]:
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def _compile_template(tmpl: str, cols: Mapping[str, Column], m: _MatchInfo) -> Column:
    """``"x {field} {1}"`` → concat of literals, columns and backref extracts."""
    parts: list[Column] = []
    pos = 0
    for match in _TEMPLATE_RE.finditer(tmpl):
        if match.start() > pos:
            parts.append(F.lit(tmpl[pos : match.start()]))
        token = match.group(1)
        if token.isdigit():
            # numeric backref: empty when there is no match in the step or
            # the group index exceeds the pattern's groups (lenient, like
            # unknown {field} tokens — silent "" rather than an error)
            idx = int(token)
            if m.field_name is None or idx > m.n_groups:
                parts.append(F.lit(""))
            else:
                parts.append(F.regexp_extract(cols[m.field_name], m.pattern, idx))
        elif token in m.group_index:
            # reference semantics: a group of the step's LAST pattern renders
            # via the match context ("" when the optional group is unmatched);
            # a group captured from an earlier field resolves through the
            # message dict — i.e. the column the match handler assigned from
            # per_group_src (the source field that actually captured it)
            src_field, src_pat = m.per_group_src[token]
            if (src_field, src_pat) != (m.field_name, m.pattern) and token in cols:
                parts.append(F.coalesce(cols[token].cast("string"), F.lit("")))
            elif src_field in cols:
                parts.append(F.regexp_extract(cols[src_field], src_pat, m.group_index[token]))
            else:
                parts.append(F.lit(""))
        elif token in cols:
            parts.append(F.coalesce(cols[token].cast("string"), F.lit("")))
        else:
            parts.append(F.lit(""))
        pos = match.end()
    if pos < len(tmpl):
        parts.append(F.lit(tmpl[pos:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _fan_out(df: DataFrame) -> DataFrame:
    """One row per (message, sink).  ``explode`` emits no row for an empty
    ``__sinks``, and Catalyst infers the ``size > 0`` filter from it."""
    return df.withColumn("sink", F.explode(SINKS)).drop(ACTIVE, SINKS)


class Pipeline:
    """A compiled pipeline: ``DataFrame -> DataFrame`` adding extracted
    columns plus ``__active`` / ``__sinks`` bookkeeping columns."""

    def __init__(self, steps: list[dict[str, Any]], default_field: str = "text",
                 pipelines: dict[str, "Pipeline"] | None = None,
                 order_keys: tuple[str, str] = ("conv_id", "turn_idx")):
        self.steps = steps
        self.default_field = default_field
        # `pipelines or {}` would swap an EMPTY shared registry for a
        # private dict: PipelineManager passes its registry while it is
        # still empty, and the first-loaded pipeline would then never see
        # later-registered call targets (r4 review finding)
        self.pipelines = pipelines if pipelines is not None else {}
        self.order_keys = order_keys

    # -- public API --------------------------------------------------------
    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)

    def apply(self, df: DataFrame, record_gates: bool = False) -> DataFrame:
        missing = [c for c in (ACTIVE, SINKS) if c not in df.columns]
        if missing:
            init = {ACTIVE: F.lit(True), SINKS: F.array().cast("array<string>")}
            df = df.withColumns({c: init[c] for c in missing})
        for i, step in enumerate(self.steps):
            df = self._apply_step(df, step, gate_col=f"__gate_{i}" if record_gates else None)
        return df

    def observed(self, df: DataFrame, set_cols: list[str] | None = None):
        """(routed_df, Observation) — statsd-style pipeline metrics piggy-
        backed on the NEXT action via ``df.observe`` (no extra jobs): rows
        in, rows dropped, per-step match counts, sink deliveries, and
        statsd *set* metrics (unique members per flush, ``name:member|s``)
        as ``set_<col>`` HLL-approximate distinct counts for each column in
        ``set_cols``.

        The reference's statsd output emits a counter per message per
        matching step (logshipper/outputs.py::prepare_statsd [approx]);
        observe() is the columnar analogue — and the debugging aid for
        silently non-matching patterns (SKIP_STEP makes them invisible
        otherwise).
        """
        from pyspark.sql import Observation

        out = self.apply(df, record_gates=True)
        gate_cols = [c for c in out.columns if c.startswith("__gate_")]
        obs = Observation("pipeline")
        metrics = [
            F.count(F.lit(1)).alias("rows_in"),
            F.sum((~F.col(ACTIVE)).cast("long")).alias("rows_dropped"),
            F.sum(F.size(SINKS).cast("long")).alias("sink_deliveries"),
        ] + [
            F.sum(F.col(c).cast("long")).alias(f"step{i}_matched")
            for i, c in enumerate(gate_cols)
        ] + [
            # statsd sets: HLL sketch, not exact — a per-flush distinct on a
            # 10^12-turn stream must be sketched, same trade the statsd
            # server makes with its own set implementation
            F.approx_count_distinct(c).alias(f"set_{c}")
            for c in (set_cols or [])
        ]
        return _fan_out(out.observe(obs, *metrics).drop(*gate_cols)), obs

    def routed(self, df: DataFrame) -> DataFrame:
        """Explode to one row per (message, sink) — the single-pass fan-out
        shape.  Rows dropped (or never forwarded) disappear here."""
        # NOTE: no filter on ACTIVE here — a forward that fired before a
        # later (or same-step) drop already delivered; drop only prevents
        # future forwards, which step gating handles.
        return _fan_out(self.apply(df))

    def surviving(self, df: DataFrame) -> DataFrame:
        """Rows that were not dropped, with bookkeeping columns removed."""
        return self.apply(df).where(F.col(ACTIVE)).drop(ACTIVE, SINKS)

    # -- step compilation --------------------------------------------------
    def _apply_step(self, df: DataFrame, step: dict[str, Any],
                    gate_col: str | None = None) -> DataFrame:
        handlers = sorted(step.items(), key=lambda kv: _PHASES.get(kv[0], 1))
        return self._apply_handlers(df, handlers, gate_col=gate_col)

    def _apply_handlers(self, df: DataFrame, handlers: list[tuple[str, Any]],
                        gate_col: str | None = None,
                        entry_gate: Column | None = None,
                        match_info: "_MatchInfo | None" = None) -> DataFrame:
        cols = _Fields(df.columns)
        # a call continuation inherits the step's match context — the
        # reference keeps ONE regex context per step, so {group} backrefs
        # and `replace` must keep working after `call` (r4 review finding)
        m = match_info if match_info is not None else _MatchInfo()
        # drop in an earlier step ⇒ later steps skip; a call continuation
        # carries the caller's gate in (composed with post-call liveness)
        gate = entry_gate if entry_gate is not None else F.col(ACTIVE)
        assignments: dict[str, Column] = {}

        def current(name: str) -> Column:
            if name in assignments:
                return assignments[name]
            if name in cols:
                return cols[name]
            return F.lit(None).cast("string")

        def assign(name: str, expr: Column) -> None:
            old = current(name) if (name in cols or name in assignments) else F.lit(None).cast("string")
            assignments[name] = F.when(gate, expr).otherwise(old)

        for pos, (name, params) in enumerate(handlers):
            if name == "match":
                cond = self._compile_match(params, cols, m)
                gate = gate & cond
                # named groups become fields on matched rows; an UNMATCHED
                # optional group keeps the field's previous value (the
                # reference only writes groups whose value is not None)
                for gname, gidx in m.group_index.items():
                    pat_field, pat = m.per_group_src[gname]
                    extracted = F.nullif(F.regexp_extract(cols[pat_field], pat, gidx), F.lit(""))
                    assign(gname, F.coalesce(extracted, current(gname)))
            elif name == "set":
                for k, v in params.items():
                    assign(k, _compile_template(str(v), ChainMap(assignments, cols), m))
            elif name == "replace":
                if m.field_name is None:
                    raise ValueError("replace requires a match in the same step")
                tmpl = params if isinstance(params, str) else params.get("template", "")
                # group refs compile to per-occurrence $N in the REPLACED
                # field's pattern; a group captured from a different field
                # has no group number there — fail loudly rather than
                # silently substituting the wrong occurrence
                for mm in _TEMPLATE_RE.finditer(tmpl):
                    tok = mm.group(1)
                    if tok in m.group_index and not tok.isdigit():
                        src = m.per_group_src.get(tok)
                        if src is not None and src != (m.field_name, m.pattern):
                            raise ValueError(
                                f"replace template group {{{tok}}} was captured from "
                                f"field {src[0]!r}, not the replaced field "
                                f"{m.field_name!r} — interpolate it via `set` first"
                            )
                java_repl = _TEMPLATE_RE.sub(
                    lambda mm: f"${m.group_index[mm.group(1)]}"
                    if mm.group(1) in m.group_index
                    else (f"${mm.group(1)}" if mm.group(1).isdigit() else mm.group(0)),
                    tmpl,
                )
                assign(
                    m.field_name,
                    F.regexp_replace(current(m.field_name), m.pattern, java_repl),
                )
            elif name == "rename":
                for old, new in params.items():
                    assign(new, current(old))
                    assign(old, self._typed_null(df, old))
            elif name == "strip":
                fields = params if isinstance(params, list) else [params]
                for fname in fields:
                    assign(fname, F.trim(current(fname)))
            elif name == "unset":
                fields = params if isinstance(params, list) else [params]
                for fname in fields:
                    assign(fname, self._typed_null(df, fname))
            elif name == "python":
                from logshipper_spark.operators.pyexpr import compile_python_rewrite

                assign(
                    params.get("field", self.default_field),
                    compile_python_rewrite(params, ChainMap(assignments, cols)),
                )
            elif name == "sample":
                # statsd-style rate sampling (logshipper/outputs.py statsd
                # `rate` param [approx]) — hash-deterministic, not rand(),
                # so reruns/resumes route identically
                rate = float(params["rate"]) if isinstance(params, dict) else float(params)
                key_t = params.get("key") if isinstance(params, dict) else None
                basis = (
                    _compile_template(str(key_t), cols, m)
                    if key_t
                    else F.concat_ws("|", *[F.col(k).cast("string") for k in self.order_keys])
                )
                gate = gate & (
                    F.pmod(F.xxhash64(basis), F.lit(1_000_000)) < int(rate * 1_000_000)
                )
            elif name == "edge":
                gate = gate & self._compile_edge_gate(df, params, cols, gate)
            elif name == "drop":
                if params:  # drop: true (or a truthy param dict)
                    assignments[ACTIVE] = F.when(gate, F.lit(False)).otherwise(F.col(ACTIVE))
            elif name == "forward":
                sinks = params if isinstance(params, list) else [params]
                arr = F.array(*[F.lit(s) for s in sinks])
                assignments[SINKS] = F.when(
                    gate, F.concat(F.col(SINKS), arr)
                ).otherwise(F.col(SINKS))
            elif name == "call":
                # subroutine with EXACT gating (reference: the called pipeline
                # sees only the current message, i.e. only rows passing this
                # step's gate — logshipper/pipeline.py jump/call [approx]):
                #   1. persist the gate and the pre-call __active as columns
                #   2. enter the sub-pipeline with __active := gate, so every
                #      sub-step's own gating (which starts from __active)
                #      touches ONLY gated rows — ungated rows pass through the
                #      sub untouched (assignments/forwards/drops all no-op)
                #   3. restore ungated rows' __active; gated rows keep the
                #      sub's verdict (a drop inside the call drops for real)
                #   4. run the step's remaining handlers (forward/drop) as a
                #      continuation gated on (gate AND still-active)
                sub = self.pipelines[params]
                cid = next(_CALL_IDS)
                gate_tmp, saved_tmp = f"__call_gate_{cid}", f"__call_saved_{cid}"
                assignments[gate_tmp] = gate
                assignments[saved_tmp] = F.col(ACTIVE)
                df = self._materialize(df, assignments)
                df = df.withColumn(ACTIVE, F.col(gate_tmp))
                df = sub.apply(df)
                df = df.withColumn(
                    ACTIVE,
                    F.when(F.col(gate_tmp), F.col(ACTIVE)).otherwise(F.col(saved_tmp)),
                )
                out = self._apply_handlers(
                    df,
                    handlers[pos + 1 :],
                    gate_col=gate_col,
                    entry_gate=F.col(gate_tmp) & F.col(ACTIVE),
                    match_info=m,
                )
                return out.drop(gate_tmp, saved_tmp)
            else:
                raise ValueError(f"unknown handler: {name}")

        if gate_col is not None:
            assignments[gate_col] = gate
        return self._materialize(df, assignments)

    @staticmethod
    def _typed_null(df: DataFrame, name: str) -> Column:
        """Null preserving the column's existing type — unset on a
        non-string column (ts, int) must not force a string cast."""
        if name in df.columns:
            return F.lit(None).cast(df.schema[name].dataType)
        return F.lit(None).cast("string")

    @staticmethod
    def _materialize(df: DataFrame, assignments: dict[str, Column]) -> DataFrame:
        """ONE projection per step: every expression resolves against the
        step's INPUT (reference semantics — handlers in a step see the
        pre-step field values via the shared match context), and Catalyst
        gets a single Project node to collapse.

        Only the assigned columns are named: ``withColumns`` replaces an
        existing field in place and appends new ones in first-assignment
        order, which is the column order a full ``select`` over every
        input column gave, without a Column call per untouched field."""
        if not assignments:
            return df
        return df.withColumns(assignments)

    def _compile_match(self, params: Any, cols: Mapping[str, Column], m: _MatchInfo) -> Column:
        """str → regex on default field; dict → field→regex, ALL must match
        (logshipper/filters.py::prepare_match [approx])."""
        if isinstance(params, str):
            params = {self.default_field: params}
        cond: Column | None = None
        m.per_group_src = {}
        for fname, py_pat in params.items():
            java_pat = _to_java_regex(py_pat)
            compiled = re.compile(py_pat)
            if fname not in cols:
                # reference semantics: matching a field the message doesn't
                # carry is simply "no match" (SKIP_STEP), not an error.
                # field_name stays unset so backrefs take the lenient path.
                cond = F.lit(False)
                continue
            c = cols[fname].rlike(java_pat)
            cond = c if cond is None else (cond & c)
            for gname, gidx in compiled.groupindex.items():
                m.group_index[gname] = gidx
                m.per_group_src[gname] = (fname, java_pat)
            # last pattern wins as the backref/replace target (reference
            # keeps one regex context per step)
            m.field_name = fname
            m.pattern = java_pat
            m.n_groups = compiled.groups
        m.cond = cond
        return cond if cond is not None else F.lit(True)

    def _compile_edge_gate(self, df: DataFrame, params: dict, cols: Mapping[str, Column],
                           gate: Column) -> Column:
        """Stateful change-detection (logshipper/filters.py::prepare_edge
        [approx]): pass a row only when ``trigger`` differs from the value
        on the previous row THAT REACHED THIS HANDLER for the same key, in
        stable (conv_id, turn_idx) order.

        The comparison baseline is the last GATED row, not the last row:
        the reference's edge state only updates for messages that passed
        the step's match (non-matching messages SKIP_STEP), and rows
        dropped by earlier steps never reach the handler at all — a plain
        ``lag`` over every row would let an interleaved non-matching row
        reset the edge (r4 review finding)."""
        trigger = params["trigger"] if isinstance(params, dict) else params
        key = params.get("key", self.order_keys[0]) if isinstance(params, dict) else self.order_keys[0]
        trig_col = _compile_template(str(trigger), cols, _MatchInfo())
        w = Window.partitionBy(key).orderBy(*self.order_keys).rowsBetween(
            Window.unboundedPreceding, -1
        )
        # A NULL trigger on a GATED row is a legitimate state value (the
        # reference renders missing fields per its template rules and keeps
        # one state slot per key regardless of the rendered value), so it
        # must (a) update the baseline and (b) compare null-safely.  A bare
        # last(when(gate, trig)) conflates "row not gated" with "gated row,
        # NULL trigger" — value→NULL→value transitions would never fire
        # (r4 advice).  Wrapping in a struct makes the sentinel non-NULL
        # whenever the gate passes, while the inner field carries the
        # possibly-NULL trigger for eqNullSafe.
        prev = F.last(
            F.when(gate, F.struct(trig_col.alias("v"))), ignorenulls=True
        ).over(w)
        return prev.isNull() | ~trig_col.eqNullSafe(prev["v"])


def compile_pipeline(
    steps: list[dict[str, Any]],
    default_field: str = "text",
    pipelines: dict[str, Pipeline] | None = None,
) -> Pipeline:
    return Pipeline(steps, default_field=default_field, pipelines=pipelines)


def pipeline_sinks(pipe: Pipeline, _seen: set[int] | None = None) -> list[str]:
    """Every sink name the pipeline (or any called sub-pipeline) can
    forward to, in first-appearance order — what a runner should write.
    Hardcoding the sink list silently drops custom sinks (r4 review:
    submit_job wrote only the default three for any YAML pipeline)."""
    seen = _seen if _seen is not None else set()
    out: list[str] = []
    for step in pipe.steps:
        for name, params in step.items():
            if name == "forward":
                for s in (params if isinstance(params, list) else [params]):
                    if s not in out:
                        out.append(s)
            elif name in ("call", "jump"):
                sub = pipe.pipelines.get(params)
                if sub is not None and id(sub) not in seen:
                    seen.add(id(sub))
                    for s in pipeline_sinks(sub, seen):
                        if s not in out:
                            out.append(s)
    return out
