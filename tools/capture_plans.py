"""Capture .explain('formatted') for every benched query into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [suffix] [sf_dir]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default 'before').
Also captures the fan-out write plan (the e2e headline's shuffle+sort+write
shape) as fanout_write_explode_<suffix>.txt.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCHED = [
    "tpch_q1", "revenue_by_nation", "events_per_minute", "timer_percentiles",
    "stable_order_rownum", "dedup_exact", "text_quality", "minhash_pairs",
    "ann_cosine_topk", "curation_e2e", "repetition_signals", "pii_redact",
    "pack_sequences", "rollup_timeseries", "range_join_windows",
    "heavy_hitters_users", "asof_tolerance", "paragraph_dedup",
    "embedding_decontam", "bigram_perplexity", "chat_sft_export",
    "table_diff_versions", "session_stats",
]
# curation_incremental builds stateful side effects per call; its plan is
# the same stage composition as curation_e2e (shared oracle) — skipped.


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from logshipper_spark.queries import QUERIES
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="capture_plans", cores=8, shuffle_partitions=8)
    for name in BENCHED:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}")

    # the e2e write path: routed transcripts -> bucket/salt -> repartition
    # -> sortWithinPartitions (write plan minus the FileFormatWriter)
    import pyspark.sql.functions as F
    from logshipper_spark.operators.enrich import enrich
    from logshipper_spark.operators.parse import grok_native
    from logshipper_spark.operators.route import with_bucket
    from logshipper_spark.plans.spec import DEMO_SPEC, compile_pipeline
    from logshipper_spark.sources.transcripts import (
        generate_transcripts, role_dim, tool_dim,
    )

    t = generate_transcripts(spark, n_convs=300, seed=42)
    enr = enrich(enrich(grok_native(t), role_dim(spark), on="role"),
                 tool_dim(spark), on="tool")
    pipe = compile_pipeline(DEMO_SPEC)
    shaped = (
        with_bucket(pipe.routed(enr), n_buckets=8, salt_buckets=4)
        .repartition("sink", "bucket", "salt")
        .sortWithinPartitions("sink", "bucket", "conv_id", "turn_idx")
        .drop("salt")
    )
    plan = shaped._sc._jvm.PythonSQLUtils.explainString(
        shaped._jdf.queryExecution(), "formatted")
    with open(os.path.join(out_dir, f"fanout_write_explode_{suffix}.txt"), "w") as f:
        f.write(plan)
    print("captured fanout_write_explode")
    spark.stop()


if __name__ == "__main__":
    main()
