"""Multi-sink fan-out ("redistribute") writes.

In the reference every forward-phase output handler of a matching step fires
per message (``logshipper/pipeline.py::Step.process`` [approx]) — one
message can land in several sinks.  Columnar equivalent:

* **explode** — THE delivery write (the ship pass, ``CheckpointedRunner.run``
  and, through the runner, ``foreach_batch_fanout``): build ``sinks:
  array<string>`` per row, explode, write ONCE partitioned by ``(sink,
  bucket)``.  Single scan of the input, single shuffle; output bucketed by
  ``pmod(xxhash64(conv_id), B)`` so a downstream per-conversation consumer
  gets co-located files.
* **per-sink** — the bench A/B reference only (``bench.py``'s
  ``fanout_write_per_sink`` row): cache upstream once, then one
  ``write_bucketed`` write per sink (SURVEY.md §4).

Skew: mega-conversations are salted on the WRITE path only —
``salt = pmod(xxhash64(conv_id, turn_idx), S)`` spreads one hot conv over S
write tasks.  Ordering windows NEVER use the salt (correctness first,
SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, functions as F

from logshipper_spark.operators.sqltext import sql_ident
from logshipper_spark.plans.spec import ACTIVE, SINKS


def with_bucket(df: DataFrame, key: str = "conv_id", n_buckets: int = 64,
                salt_buckets: int = 0) -> DataFrame:
    """Routing bucket + optional skew salt (write-path only), one
    projection of SQL text."""
    k = sql_ident(key)
    cols = {"bucket": F.expr(f"CAST(pmod(xxhash64({k}), {int(n_buckets)}) AS INT)")}
    if salt_buckets > 1:
        cols["salt"] = F.expr(f"CAST(pmod(xxhash64({k}, turn_idx), {int(salt_buckets)}) AS INT)")
    return df.withColumns(cols)


def write_fanout_explode(
    routed: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    key: str = "conv_id",
    order_cols: list[str] | None = None,
    mode: str = "overwrite",
    salt_buckets: int = 4,
) -> None:
    """Single-pass fan-out: expects ``routed`` to carry a ``sink`` column
    (from ``Pipeline.routed``).  One write, partitioned by (sink, bucket).

    ``salt_buckets``: the write-path skew guard.  The shuffle key is
    (sink, bucket, salt) so a mega-conversation spreads over up to S write
    tasks instead of landing in one; the salt column is dropped before the
    file layout, so output directories stay (sink, bucket) and ordering
    windows upstream never see it.  Each task writes sorted runs — a
    per-conversation consumer merges by (conv_id, turn_idx) across ≤S files.
    Set to 0/1 to disable (single sorted file per (sink, bucket))."""
    order_cols = order_cols or ["conv_id", "turn_idx"]
    out = with_bucket(routed, key=key, n_buckets=n_buckets, salt_buckets=salt_buckets)
    shuffle_cols = ["sink", "bucket"] + (["salt"] if salt_buckets > 1 else [])
    # the sort LEADS with the write-partition columns: otherwise
    # FileFormatWriter inserts its own sort on (sink, bucket), and that
    # sort is only tie-stable while in-memory — a spilling task's merge
    # interleaves same-partition rows and silently breaks the sorted-run
    # contract at exactly the scale it matters (r4 review finding).  With
    # the prefix satisfied, the writer adds NO extra sort.
    shaped = out.repartition(*shuffle_cols).sortWithinPartitions(
        "sink", "bucket", *order_cols
    )
    if salt_buckets > 1:
        shaped = shaped.drop("salt")
    (
        shaped.write.mode(mode)
        .partitionBy("sink", "bucket")
        .parquet(out_dir)
    )


def write_bucketed(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """One sink's write: shuffle on ``bucket``, sorted runs per
    conversation, one directory per bucket.  The sort LEADS with bucket so
    the writer's required ordering is satisfied and no second
    (spill-unstable) sort is inserted (r4 review finding)."""
    (
        df.repartition("bucket")
        .sortWithinPartitions("bucket", "conv_id", "turn_idx")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def write_fanout_per_sink(
    df_with_sinks: DataFrame,
    sink_names: list[str],
    out_dir: str,
    n_buckets: int = 64,
    key: str = "conv_id",
    mode: str = "overwrite",
) -> None:
    """The bench A/B reference: persist once, one ``write_bucketed`` per
    sink — same per-sink rows as the explode strategy.

    Fails fast: after the first failed sink no further sink starts (queued
    ones are cancelled), the writes already running finish, and the first
    failure in sink order is re-raised."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    cached = df_with_sinks.persist()
    failed = threading.Event()
    try:
        def _write(sink: str) -> None:
            # the worker freed by a failure may dequeue the next sink before
            # the caller cancels it: that sink must not start either
            if failed.is_set():
                return
            try:
                # sink membership only, not __active: a forward before a
                # later drop already delivered.  size(filter)+explode keeps
                # delivery multiplicity — two forwards to one sink deliver
                # twice, as in the explode write (r4 review finding)
                n_onto = F.size(F.filter(F.col(SINKS), lambda s: s == F.lit(sink)))
                sel = (
                    cached.withColumn("__n_onto", n_onto)
                    .where(F.col("__n_onto") > 0)
                    .withColumn("__copy", F.explode(F.sequence(F.lit(1), F.col("__n_onto"))))
                    .drop("__n_onto", "__copy", ACTIVE, SINKS)
                )
                write_bucketed(with_bucket(sel, key=key, n_buckets=n_buckets),
                               os.path.join(out_dir, f"sink={sink}"), mode=mode)
            except BaseException:
                failed.set()
                raise

        # Per-sink writes are independent jobs over the shared cache —
        # submit them concurrently so later sinks' tasks back-fill the
        # scheduler while an earlier sink drains its write tail (guide
        # §2.6; a real multi-sink pipeline submits its sink actions
        # concurrently, exactly as the aggregate sinks already do).
        # FIFO scheduling keeps the earlier sink ahead; the block-manager
        # serializes first-computation of cached partitions.
        # cap at 8: this host (and most) degrades past ~8 saturated
        # concurrent jobs (CLAUDE.md steal hazard); the back-fill benefit
        # saturates well below that (review r6)
        with ThreadPoolExecutor(max_workers=max(1, min(8, len(sink_names)))) as ex:
            futs = [ex.submit(_write, s) for s in sink_names]
            wait(futs, return_when=FIRST_EXCEPTION)
            for f in futs:
                f.cancel()
            for f in futs:
                if not f.cancelled():
                    f.result()
    finally:
        cached.unpersist()
