"""``increment``: append one seeded transcripts delta file to a table, then
``CheckpointedRunner.run_incremental`` routes it into three sinks; repeat.
Many small per-sink committed writes, each with ``observe()`` lineage,
state commits and a file listing, so the Spark job count dominates —
the route/write layer used the opposite way from ``ship``.

It runs inside the traced run only (see run.py): a delta costs seconds of
per-job overhead, so an untraced run of ``--seconds`` could not take
enough deltas for a steady median.  The first delta warms up; lineage
compaction runs on the third delta.
"""

from __future__ import annotations

import os

from harness import median, noop, tree_bytes
from ship import SINKS, SPEC

DELTA_CONVS = {"full": 500, "tiny": 40}
COMPACT_THRESHOLD = 2  # lineage compaction on the third delta
WARM, TRACED = 1, 2  # one plain traced delta and one that compacts


class Increment:
    name = "increment"

    def __init__(self, spark, dirs, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.m = DELTA_CONVS[scale]
        self.stage_dir = dirs.path("increment", "staged")
        self.table = dirs.path("increment", "table")
        self.out = dirs.path("increment", "out")
        self.ckpt = dirs.path("increment", "checkpoint")
        self.files: list[str] = []
        self.runner = None

    def stage(self) -> dict:
        """All deltas from one seeded table, split by conversation so conv
        ids are unique across deltas; one parquet file per delta."""
        from pyspark.sql import functions as F

        from harness import fingerprint
        from logshipper_spark.sources.transcripts import generate_transcripts

        n = WARM + TRACED
        cid = F.regexp_extract("conv_id", r"(\d+)", 1).cast("long")
        (
            generate_transcripts(self.spark, n_convs=self.m * n, seed=self.seed)
            .withColumn("delta", (cid / self.m).cast("int"))
            .repartition("delta")
            .write.mode("overwrite").partitionBy("delta").parquet(self.stage_dir)
        )
        os.makedirs(self.table, exist_ok=True)
        for k in range(n):
            d = os.path.join(self.stage_dir, f"delta={k}")
            (f,) = [x for x in os.listdir(d) if x.endswith(".parquet")]
            self.files.append(os.path.join(d, f))
        return fingerprint(os.path.join(self.stage_dir, "*", "*.parquet"))

    def _append(self, k: int) -> str:
        dst = os.path.join(self.table, f"delta-{k:04d}.parquet")
        os.rename(self.files[k], dst)
        self.files[k] = dst
        return dst

    def _lineage_files(self) -> int:
        return tree_bytes(os.path.join(self.ckpt, "_lineage"))[0]

    def run(self, tracer) -> dict:
        """A warm delta, then traced deltas; returns the report and the
        per-layer metrics."""
        from logshipper_spark.plans.runner import CheckpointedRunner
        from logshipper_spark.plans.spec import compile_pipeline
        from logshipper_spark.sources.tableio import TableIO

        pipe = compile_pipeline(SPEC)
        self.runner = CheckpointedRunner(self.spark, self.ckpt, n_buckets=16,
                                         lineage_compact_threshold=COMPACT_THRESHOLD)
        io = TableIO(self.spark, warehouse=os.path.dirname(self.table))
        deltas = []
        for k in range(WARM + TRACED):
            f = self._append(k)
            n_rows = self.spark.read.parquet(f).count()
            lineage0, (files0, bytes0) = self._lineage_files(), tree_bytes(self.out)
            tracer.iteration = f"increment:d{k}"
            with tracer.span("delta", "plans.runner") as s:
                self.runner.run_incremental(self.table, pipe, SINKS, self.out)
            files1, bytes1 = tree_bytes(self.out)
            s.counts.update(rows=n_rows, files=files1 - files0, bytes=bytes1 - bytes0)
            with tracer.span("list", "sources.tableio") as s_list:
                io.list_data_files(self.table)
            with tracer.span("apply", "plans.spec") as s_apply:
                noop(pipe.apply(self.spark.read.parquet(f)))
            if k >= WARM:
                deltas.append({**s.counts, "wall": s.wall, "list_s": s_list.wall,
                               "apply_s": s_apply.wall,
                               "compacted": self._lineage_files() <= lineage0})
        plain = [d for d in deltas if not d["compacted"]] or deltas
        compacted = [d for d in deltas if d["compacted"]]
        walls = [d["wall"] for d in deltas]
        report = {
            "iter_p50_s": median(walls),
            "rows_per_s": median([d["rows"] for d in deltas]) / median(walls),
            "out_mb": median([d["bytes"] for d in deltas]) / 1e6,
            "iter_walls_s": walls,
            "compacted": [d["compacted"] for d in deltas],
        }
        metrics = {
            "plans.runner.jobs_per_delta": median([d["jobs"] for d in plain]),
            "plans.runner.tasks_per_delta": median([d["tasks"] for d in plain]),
            "plans.runner.files_per_delta": median([d["files"] for d in deltas]),
            "plans.runner.out_mb_per_delta": report["out_mb"],
            "plans.runner.compact_s": median([d["wall"] for d in compacted]) if compacted else 0.0,
            "sources.tableio.list_s": median([d["list_s"] for d in deltas]),
            "plans.spec.apply_s": median([d["apply_s"] for d in deltas]),
        }
        return {"report": report, "metrics": metrics}

    def check(self) -> dict[str, bool]:
        """Each sink read back across all deltas equals the one-shot
        ``pipe.routed`` count over the same files, with no duplicated rows."""
        from pyspark.sql import functions as F

        from logshipper_spark.plans.spec import compile_pipeline

        routed = compile_pipeline(SPEC).routed(self.spark.read.parquet(*self.files))
        expected = {r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()}
        ok = True
        for s in SINKS:
            got = self.runner.read_sink_incremental(self.out, s).agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("conv_id", "turn_idx").alias("distinct"),
            ).first()
            ok &= got["n"] == expected.get(s, 0) == got["distinct"]
        return {"increment.sink_counts": bool(ok)}
