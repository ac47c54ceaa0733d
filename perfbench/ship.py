"""``ship``: the paper's pipeline — grok parse → two broadcast enriches →
the 4-step spec → fan-out parquet write → four aggregate sinks — timed
through ``bench.run_e2e`` itself on a seeded transcripts table, so this
workload and the headline time the same plan.  No Python kernel is in
its plan."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from harness import fingerprint, noop, tree_bytes

# (conversations generated, turns kept): a fixed row count keeps rows_per_s
# comparable across seeds
SIZES = {"full": (6_000, 60_000), "tiny": (300, 3_000)}
SINKS = ["errors", "syslog", "archive"]
# the spec bench.run_e2e compiles
SPEC = [
    {"match": {"text": "^ERROR "}, "forward": ["errors"]},
    {"match": {"text": "^<"}, "forward": ["syslog"]},
    {"match": {"text": "^DEBUG "}, "drop": True},
    {"forward": ["archive"]},
]


def stage_transcripts(spark, path: str, n_convs: int, n_turns: int, seed: int) -> dict:
    """Write the first ``n_turns`` turns (by conversation, then turn) of a
    seeded transcripts table as parquet, in a fixed number of files."""
    from logshipper_spark.sources.transcripts import generate_transcripts

    (
        generate_transcripts(spark, n_convs=n_convs, seed=seed)
        .orderBy("conv_id", "turn_idx").limit(n_turns)
        .repartition(8).write.mode("overwrite").parquet(path)
    )
    return fingerprint(os.path.join(path, "*.parquet"))


def expected_sink_counts(t) -> dict[str, int]:
    """Per-sink row counts from independent ``rlike`` filters on the input."""
    from pyspark.sql import functions as F

    row = t.agg(
        F.sum(F.col("text").rlike("^ERROR").cast("long")).alias("errors"),
        F.sum(F.col("text").rlike("^<").cast("long")).alias("syslog"),
        F.sum((~F.col("text").rlike("^DEBUG")).cast("long")).alias("archive"),
    ).first()
    return {s: int(row[s] or 0) for s in SINKS}


class Ship:
    name = "ship"
    min_iters = 3  # a pass is ~4-5 s; the median needs three

    def __init__(self, spark, dirs, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.n_convs, self.n_turns = SIZES[scale]
        self.tpath = dirs.path("ship", "transcripts")
        self.out = dirs.path("ship", "out")
        self.rows = 0

    def stage(self) -> dict:
        fp = stage_transcripts(self.spark, self.tpath, self.n_convs, self.n_turns, self.seed)
        self.rows = fp["rows"]
        return fp

    def iterate(self) -> None:
        from bench import run_e2e

        run_e2e(self.spark, self.tpath, self.out, n_rows_hint=self.rows)

    def warm(self) -> None:
        """Two passes: the JIT is still settling after the first."""
        self.iterate()
        self.iterate()

    def out_bytes(self) -> int:
        return tree_bytes(os.path.join(self.out, "sinks"))[1]

    def check(self) -> dict[str, bool]:
        """Untimed: the last iteration's sinks against ``rlike`` counts on
        the input, and ``turns_per_role`` against the input row count."""
        from logshipper_spark.operators.aggregate import turns_per_role

        t = self.spark.read.parquet(self.tpath)
        written = {
            r["sink"]: r["count"]
            for r in self.spark.read.parquet(os.path.join(self.out, "sinks"))
            .groupBy("sink").count().collect()
        }
        expected = expected_sink_counts(t)
        per_role = sum(r["n_turns"] for r in turns_per_role(t).collect())
        return {
            "ship.sink_counts": all(written.get(s) == expected[s] for s in SINKS),
            "ship.turns_per_role_sum": per_role == self.rows,
        }

    # ------------------------------------------------------------ traced --
    def traced(self, tracer) -> dict:
        """One traced pass; returns per-layer metrics.  Layer self times are
        differences between noop writes of successive plan prefixes (scan,
        +parse, +enrich, +spec), then the real fan-out write and the four
        aggregate sinks, each concurrent sink in its own span."""
        from pyspark.sql import functions as F

        from logshipper_spark.operators import aggregate as agg
        from logshipper_spark.operators.enrich import enrich
        from logshipper_spark.operators.parse import grok_native
        from logshipper_spark.operators.route import write_fanout_explode
        from logshipper_spark.plans.spec import compile_pipeline
        from logshipper_spark.sources.transcripts import role_dim, tool_dim

        spark = self.spark
        t = spark.read.parquet(self.tpath)
        parsed = grok_native(t)
        enriched = enrich(enrich(parsed, role_dim(spark), on="role"), tool_dim(spark), on="tool")
        pipe = compile_pipeline(SPEC)
        observed, obs = pipe.observed(enriched)
        n_buckets = max(4, min(64, self.rows // 25_000))
        sinks_dir = os.path.join(self.out, "sinks")

        with tracer.span("scan", "sources.transcripts") as s_scan:
            noop(t)
        with tracer.span("parse", "operators.parse") as s_parse:
            noop(parsed)
        with tracer.span("enrich", "operators.enrich") as s_enrich:
            noop(enriched)
        with tracer.span("spec", "plans.spec") as s_spec:
            noop(observed)
        with tracer.span("route", "operators.route") as s_route:
            write_fanout_explode(pipe.routed(enriched), sinks_dir, n_buckets=n_buckets)

        aggs = {
            "turns_per_role": agg.turns_per_role(t),
            "tool_invocations": agg.tool_invocations(t),
            "events_per_minute": agg.events_per_minute(t),
            "timer_percentiles": agg.timer_percentiles(parsed, "duration_ms", "level", approx=True),
        }
        with tracer.span("aggregate", "operators.aggregate") as s_aggs:
            def _sink(name: str) -> float:
                with tracer.span(name, "operators.aggregate", parent=s_aggs) as s:
                    noop(aggs[name])
                return s.wall

            with ThreadPoolExecutor(max_workers=len(aggs)) as ex:
                futs = {k: ex.submit(_sink, k) for k in aggs}
                agg_walls = {k: f.result() for k, f in futs.items()}

        # counts, untimed
        got = obs.get
        c = parsed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count("pattern_name").alias("matched"),
        ).first()
        hits = enriched.agg(
            F.count("role_class").alias("role_hits"),
            F.count("tool").alias("tool_rows"),
            F.count("tool_kind").alias("tool_hits"),
        ).first()
        files, out_b = tree_bytes(sinks_dir)
        _, scan_b = tree_bytes(self.tpath)
        rows = int(c["rows"])
        s_scan.counts.update(rows=rows, bytes=scan_b)
        s_parse.counts.update(rows=rows, matched=int(c["matched"]))
        s_enrich.counts.update(rows=rows)
        s_spec.counts.update(rows=int(got["rows_in"]), deliveries=int(got["sink_deliveries"]),
                             dropped=int(got["rows_dropped"]))
        s_route.counts.update(files=files, bytes=out_b)
        metrics = {
            "sources.scan_s": s_scan.wall,
            "sources.scan_mb": scan_b / 1e6,
            "operators.parse.self_s": s_parse.wall - s_scan.wall,
            "operators.parse.match_frac": c["matched"] / rows,
            "operators.enrich.self_s": s_enrich.wall - s_parse.wall,
            "operators.enrich.hit_frac": (hits["role_hits"] + hits["tool_hits"])
            / (rows + hits["tool_rows"]),
            "plans.spec.self_s": s_spec.wall - s_enrich.wall,
            "plans.spec.deliveries_per_row": got["sink_deliveries"] / got["rows_in"],
            "plans.spec.drop_frac": got["rows_dropped"] / got["rows_in"],
            "operators.route.self_s": s_route.wall - s_spec.wall,
            "operators.route.files": files,
            "operators.route.out_mb": out_b / 1e6,
            "operators.aggregate.wall_s": s_aggs.wall,
        }
        for k, w in agg_walls.items():
            metrics[f"operators.aggregate.{k}_s"] = w
        return metrics
