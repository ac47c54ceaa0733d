"""Plan-quality audit: assert that key queries produce the physical plans
the 100 TB design depends on (pushdown, pruning, broadcast, codegen,
partial aggregation).  Run after optimizer-visible changes.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    # predicate pushdown + column pruning reach the parquet scan
    "drop_filter": [
        ("filter pushed to scan", r"PushedFilters: \[.*Not\(EqualTo\(event_type,error\)\)", True),
        ("schema pruned", r"ReadSchema: struct<event_id:bigint,event_type:string>", True),
    ],
    # dim lookups are broadcast hash joins, never sort-merge
    "enrich_lookup": [
        ("broadcast hash join", r"BroadcastHashJoin", True),
        ("no sort-merge join", r"SortMergeJoin", False),
        # a list-built dim is a Python-RDD scan: every broadcast of it runs
        # a Python-worker job (sources/local.py builds JVM-local dims)
        ("no Python-RDD dim scan", r"Scan ExistingRDD", False),
    ],
    "revenue_by_nation": [("broadcast joins", r"BroadcastHashJoin", True)],
    # aggregates do map-side partial aggregation
    "tpch_q1": [
        ("partial aggregation", r"HashAggregate.*partial", True),
        ("columns pruned", r"ReadSchema: struct<l_quantity", True),
    ],
    # AQE wraps un-executed plans (isFinalPlan=false) without codegen
    # markers; assert the partial+final agg shape instead
    "counter_by_type": [("partial aggregation", r"HashAggregate.*partial_", True)],
    "match_extract": [
        ("scan reads only needed cols", r"ReadSchema: struct<event_id:bigint,props:string>", True),
        ("codegen project", r"\*\(\d+\) Project", True),
    ],
    # top-k lowers to TakeOrderedAndProject (per-partition top-k, no sort)
    # and every vector similarity runs in the Arrow kernels, never as an
    # interpreted zip_with/aggregate lambda per element
    "ann_cosine_topk": [
        ("TakeOrderedAndProject", r"TakeOrderedAndProject", True),
        ("no interpreted vector lambda", r"zip_with", False),
    ],
    "ann_cosine_topk_batch": [("no interpreted vector lambda", r"zip_with", False)],
    "ann_lsh_topk": [("no interpreted vector lambda", r"zip_with", False)],
    "ann_ivf_topk": [("no interpreted vector lambda", r"zip_with", False)],
    "cosine_dup_pairs": [("no interpreted vector lambda", r"zip_with", False)],
    "embedding_decontam": [("no interpreted vector lambda", r"zip_with", False)],
    # quantile-filter scale path: cutoff + scalar predicate, NO window and
    # NO single-partition global sort anywhere in the plan
    "quality_cutoff_filter": [
        ("no window", r"\bWindow\b", False),
        ("no global single-partition sort", r"Exchange SinglePartition", False),
    ],
    # the composed curation pipeline keeps the same scale shape: no global
    # sort/window anywhere, gram join broadcasts
    "curation_e2e": [
        ("no window", r"\bWindow\b", False),
        ("no global single-partition sort", r"Exchange SinglePartition", False),
        ("broadcast gram join", r"BroadcastHashJoin", True),
    ],
    # sequence packing: the prefix-sum window partitions on the shard —
    # never a global single-partition window (shard count scales with N)
    "pack_sequences": [
        ("shard-partitioned window", r"hashpartitioning\(shard", True),
        ("no global single-partition exchange", r"Exchange SinglePartition", False),
    ],
    # as-of join: single shuffle on the key, window, no join blowup
    "asof_last_purchase": [
        ("window, not join", r"Window", True),
        ("no nested-loop join", r"NestedLoop", False),
    ],
    # tolerance variant must not change the plan class (r5)
    "asof_tolerance": [
        ("window, not join", r"Window", True),
        ("no nested-loop join", r"NestedLoop", False),
    ],
    # range join: bucketized overlap = EQUI join; a raw BETWEEN join
    # would show BroadcastNestedLoopJoin here (r5)
    "range_join_windows": [
        ("no nested-loop join", r"NestedLoop", False),
        ("no cartesian product", r"CartesianProduct", False),
    ],
    # MG heavy hitters: the summary pass must appear ONCE — a second
    # MapInPandas means the deficit fold re-executed the sketch (r5;
    # two-branch formulations all did, via branch-specialized exchanges)
    "heavy_hitters_users": [
        ("single summary pass", r"MapInPandas[\s\S]*MapInPandas", False),
        ("summary pass present", r"MapInPandas", True),
        ("top-k lowers to TakeOrderedAndProject", r"TakeOrderedAndProject", True),
    ],
    # rollup hierarchy: partial aggregation at every level, raw scan once
    "rollup_timeseries": [
        ("partial aggregation", r"HashAggregate.*partial_", True),
        ("no single-partition exchange", r"Exchange SinglePartition", False),
    ],
    # funnel: the step-set pre-filter must reach the parquet scan — the
    # non-step majority of the corpus never enters the shuffle — and the
    # relative cutoff joins BROADCAST (its global-min agg necessarily has
    # a 1-row SinglePartition exchange; that is fine, a sort-merge join
    # against the fact side would not be) (r5)
    "funnel_depths": [
        ("step filter pushed to scan", r"PushedFilters: \[.*In\(event_type", True),
        ("cutoff joined broadcast", r"BroadcastHashJoin|BroadcastNestedLoopJoin", True),
        ("no sort-merge join", r"SortMergeJoin", False),
    ],
    # EWMA lag chain: pure window codegen — key-partitioned, no Python
    "ewma_value": [
        ("key-partitioned window", r"hashpartitioning\(user_id", True),
        ("no python eval", r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", False),
        ("no single-partition exchange", r"Exchange SinglePartition", False),
    ],
    # context extraction: bounded frame over ONE keyed exchange; the
    # target filter must not add a second shuffle (r5)
    "context_windows": [
        ("key-partitioned window", r"hashpartitioning\(user_id", True),
        ("exactly one exchange", r"Exchange[\s\S]*Exchange", False),
    ],
    # bigram LM: V rides a broadcast 1-row aggregate, never a global
    # collect_set window (r5)
    "bigram_lm": [
        ("V broadcast", r"BroadcastHashJoin|BroadcastNestedLoopJoin", True),
        ("no sort-merge join", r"SortMergeJoin", False),
    ],
    # perplexity: the |vocab|²-bounded LM side joins back BROADCAST — the
    # corpus-sized bigram stream must never sort-merge against it
    "bigram_perplexity": [
        ("LM joined broadcast", r"BroadcastHashJoin", True),
        ("no sort-merge join", r"SortMergeJoin", False),
    ],
    # A-ES weighted sampling is a TakeOrderedAndProject: per-partition
    # top-k + k-row driver merge, never a global sort exchange
    "weighted_sample": [
        ("TakeOrderedAndProject", r"TakeOrderedAndProject", True),
        ("no global sort exchange", r"Exchange rangepartitioning", False),
    ],
    # chunking is one narrow generate pass — no shuffle at all
    "chunk_overlap": [
        ("no exchange anywhere", r"Exchange", False),
        ("generate (posexplode)", r"Generate", True),
    ],
    # trailing range-frame rate: ONE hash exchange on the key, no range
    # (global-sort) partitioning
    "trailing_rate": [
        ("keyed window", r"hashpartitioning\(user_id", True),
        ("no global sort exchange", r"Exchange rangepartitioning", False),
    ],
    # canonical pick: argmax rides the partial aggregate — no window op.
    # struct-typed max lowers to SortAggregate (not hash-aggregable), but
    # the partial/final split is what matters for the map-side combine
    "canonical_dedup": [
        ("partial aggregation", r"(Hash|Sort)Aggregate.*partial_", True),
        ("no window", r"\bWindow\b", False),
    ],
    # chat export: one keyed aggregate, no per-key window, no global sort
    "chat_sft_export": [
        ("no window", r"\bWindow\b", False),
        ("partial-capable objectagg", r"ObjectHashAggregate|SortAggregate", True),
        ("no global sort exchange", r"Exchange rangepartitioning", False),
    ],
    # winsorize: cutoffs precomputed → pure scalar projection, no window,
    # no sort anywhere
    "winsorize_values": [
        ("no window", r"\bWindow\b", False),
        ("no sort", r"\bSort\b", False),
    ],
    # session rollup: the (key, session) aggregate runs on the SAME
    # exchange as the sessionizing window — exactly one hash exchange on
    # the data (the keyed one); no global sort
    "session_stats": [
        ("keyed exchange", r"hashpartitioning\(user_id", True),
        ("no global sort exchange", r"Exchange rangepartitioning", False),
    ],
    # entity counts are a pure projection over the scan — nothing wide
    "entity_counts": [
        ("no exchange anywhere", r"Exchange", False),
    ],
    # diversity: two-stage aggregate (partial on (grp, gram) first)
    "ngram_diversity": [
        ("partial aggregation", r"HashAggregate.*partial_", True),
        ("no sort-merge join", r"SortMergeJoin", False),
    ],
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def extra_checks(spark, sf_dir: str) -> int:
    """Plan shapes not expressible as a registry query."""
    import pyspark.sql.functions as F

    from logshipper_spark.operators.route import with_bucket
    from logshipper_spark.plans.spec import compile_pipeline

    bad = 0

    def check(name, label, plan, pat, want=True):
        nonlocal bad
        ok = bool(re.search(pat, plan)) == want
        print(f"{'OK  ' if ok else 'BAD '} {name}: {label}")
        bad += 0 if ok else 1

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumnsRenamed(
        {"event_id": "turn_idx_src"}
    )
    df = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("turn_idx_src").cast("int").alias("turn_idx"),
        F.col("props").alias("text"),
    )
    pipe = compile_pipeline([{"forward": ["archive"]}])
    routed = pipe.routed(df)

    # 1. the salted fan-out shuffle partitions on (sink, bucket, salt)
    shaped = (
        with_bucket(routed, n_buckets=8, salt_buckets=4)
        .repartition("sink", "bucket", "salt")
        .sortWithinPartitions("conv_id", "turn_idx")
        .drop("salt")
    )
    check("fanout_salted", "shuffle keys include salt",
          _plan(shaped), r"hashpartitioning\(sink.*bucket.*salt", True)

    # 2. runner lineage: CollectMetrics rides the write plan, no extra scan
    from pyspark.sql import Observation

    sel = with_bucket(df, n_buckets=8)
    obs = Observation("audit_lineage")
    metrics = [F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).cast("long").alias(f"b{b}")
               for b in range(8)]
    observed = sel.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics).repartition("bucket")
    p = _plan(observed)
    check("runner_lineage", "CollectMetrics in plan", p, r"CollectMetrics", True)
    check("runner_lineage", "single parquet scan",
          "|".join(re.findall(r"FileScan parquet", p)), r"^FileScan parquet$", True)

    # 3. jaccard verify: BOTH candidate-pair text joins broadcast the pair
    # side — a silent fallback to sort-merge would shuffle full doc text
    from logshipper_spark.functions.dedup import jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a bigint, id_b bigint")
    jp = _plan(jaccard(pairs, docs))
    check("jaccard_verify", "two broadcast joins",
          "|".join(re.findall(r"BroadcastHashJoin", jp)),
          r"^BroadcastHashJoin\|BroadcastHashJoin$", True)
    check("jaccard_verify", "no sort-merge join", jp, r"SortMergeJoin", False)

    # 4. the ship pipeline's dims: an enriched, routed frame broadcasts
    # JVM-local relations, never a Python-RDD scan
    from logshipper_spark.operators.enrich import enrich
    from logshipper_spark.sources.transcripts import role_dim, tool_dim

    roles = F.array(*[F.lit(r) for r in ("user", "assistant", "tool")])
    turns = df.withColumns({
        "role": F.element_at(roles, F.col("turn_idx") % 3 + 1),
        "tool": F.when(F.col("turn_idx") % 3 == 2, F.lit("search")),
    })
    ep = _plan(pipe.routed(
        enrich(enrich(turns, role_dim(spark), on="role"), tool_dim(spark), on="tool")
    ))
    check("enrich_routed", "broadcast dim joins",
          "|".join(re.findall(r"BroadcastHashJoin", ep)),
          r"^BroadcastHashJoin\|BroadcastHashJoin$", True)
    check("enrich_routed", "no Python-RDD dim scan", ep, r"Scan ExistingRDD", False)

    # 5. asof skew flag: the carry-forward window partitions on
    # (key, time-bucket) — a hot key spreads over tasks instead of one
    from logshipper_spark.operators.asof import asof_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ots"),
        F.col("o_totalprice").alias("price"),
    )
    probes = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts")
    ap = _plan(asof_join(probes, orders, "user_id", "ts", "ots", ["price"],
                         ts_bucket=86400))
    check("asof_ts_bucket", "window partitioned by (key, bucket)",
          ap, r"windowspecdefinition\(user_id[^\)]*__bk", True)
    check("asof_ts_bucket", "no nested-loop join", ap, r"NestedLoop", False)

    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from logshipper_spark.queries import QUERIES
    from logshipper_spark.session import get_spark

    spark = get_spark(app_name="explain_audit", cores=8, shuffle_partitions=8)
    bad = 0
    for name, checks in CHECKS.items():
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for label, pat, want in checks:
            ok = bool(re.search(pat, plan)) == want
            print(f"{'OK  ' if ok else 'BAD '} {name}: {label}")
            bad += 0 if ok else 1
    bad += extra_checks(spark, sf_dir)
    spark.stop()
    print(f"\n{'ALL PLANS OK' if bad == 0 else f'{bad} plan checks FAILED'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
