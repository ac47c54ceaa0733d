"""statsd-style aggregate sinks.

The reference's ``statsd`` output IS its aggregation operator — it emits
counters/gauges/timers per message and lets statsd fold them
(``logshipper/outputs.py::prepare_statsd`` [approx 40-90]).  Columnar
equivalents are plain hash aggregates: partial (map-side) + final combine,
one shuffle on the group key, all built-in (SURVEY.md §2.4).

The sinks return UNORDERED rows, like a statsd flush: a global ``orderBy``
on a few dozen result rows costs a range-sampling job and a second shuffle
per sink.  A caller that needs order sorts its own result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from logshipper_spark.operators.sqltext import sql_ident


def turns_per_role(df: DataFrame) -> DataFrame:
    """Counter: one increment per message, grouped by role."""
    return df.groupBy("role").agg(F.count("*").alias("n_turns"))


def tool_invocations(df: DataFrame) -> DataFrame:
    """Counter over tool turns only — filter pushes to the scan."""
    return (
        df.where(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(F.count("*").alias("n_calls"))
    )


def events_per_minute(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Tumbling 1-minute counter; streaming variant adds a watermark."""
    return (
        df.groupBy(F.date_trunc("minute", F.col(ts_col)).alias("minute"))
        .agg(F.count("*").alias("n_events"))
    )


def timer_percentiles(df: DataFrame, value_col: str, group_col: str | None = None,
                      approx: bool = False) -> DataFrame:
    """Timer distribution: p50/p90/p99 (+avg).  ``approx=True`` uses
    percentile_approx (the t-digest-style sketch — the 100 TB path);
    exact percentile is kept for oracle parity at test scale."""
    v = sql_ident(value_col)
    # ONE percentile aggregate with an array of percentages, not three:
    # each exact-percentile aggregate buffers (and sorts) EVERY group value,
    # so one call holds one buffer per group and sorts it once — identical
    # values (r6).  Catalyst evaluates the repeated aggregate text once.
    p = f"{'percentile_approx' if approx else 'percentile'}({v}, array(0.5D, 0.9D, 0.99D))"
    aggs = [F.expr(e) for e in (
        "count(*) AS n",
        f"round(avg({v}), 6) AS avg_v",
        f"round(CAST(element_at({p}, 1) AS DOUBLE), 6) AS p50",
        f"round(CAST(element_at({p}, 2) AS DOUBLE), 6) AS p90",
        f"round(CAST(element_at({p}, 3) AS DOUBLE), 6) AS p99",
    )]
    src = df.where(f"{v} IS NOT NULL")
    return src.groupBy(group_col).agg(*aggs) if group_col else src.agg(*aggs)


def gauge_last(df: DataFrame, key: str, value_col: str,
               order: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Gauge: the value of the last row per key under ``order`` (later
    columns break ties), NULL when that row's value is NULL — what a statsd
    gauge flushes.  ``max_by`` over ``struct(*order)`` is one aggregate,
    no window shuffle+sort."""
    return df.groupBy(key).agg(
        F.max_by(value_col, F.struct(*order)).alias("last_value")
    )


def rollup_timeseries(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
    resolutions: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: one row per
    (resolution, time bucket, group) carrying count / sum / min / max
    (avg derivable as total/n).

    The input is scanned ONCE, for the finest resolution only; every
    coarser level REAGGREGATES the level below it (sum of partial sums,
    min of mins, ...) — at 100 TB the hour level reads the minute
    aggregate (~10^6× smaller than the events), never the raw table.
    All levels are plain partial+final hash aggregates; the union is a
    metadata-only plan node.

    ``resolutions`` must be ordered fine → coarse with each coarser unit
    a multiple of the finer (date_trunc composes: trunc(hour, trunc(
    minute, ts)) == trunc(hour, ts)).
    """
    group_cols = list(group_cols or [])
    base = df.where(F.col(value_col).isNotNull())
    aggs = [
        F.count("*").alias("n"),
        F.sum(value_col).alias("total"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    ]
    fine = base.groupBy(
        F.date_trunc(resolutions[0], F.col(ts_col)).alias("bucket_ts"),
        *group_cols,
    ).agg(*aggs)
    # Each non-final level is consumed TWICE — by the output union and as
    # the next level's input — and Catalyst duplicates the subtree rather
    # than sharing it: the r6-before plan scanned raw events (and re-ran
    # the minute aggregate) once per level, 3 scans for 3 resolutions.
    # localCheckpoint pins each level (bounded: one row per (bucket,
    # group) — ~10^6× smaller than the input) so the raw table really is
    # scanned once, as the contract above promises (guide §2.4).
    if len(resolutions) > 1:
        fine = fine.localCheckpoint()
    levels = [fine.withColumn("resolution", F.lit(resolutions[0]))]
    prev = fine
    for i, res in enumerate(resolutions[1:]):
        prev = prev.groupBy(
            F.date_trunc(res, F.col("bucket_ts")).alias("bucket_ts"),
            *group_cols,
        ).agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        if i < len(resolutions) - 2:  # last level feeds only the union
            prev = prev.localCheckpoint()
        levels.append(prev.withColumn("resolution", F.lit(res)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("resolution", "bucket_ts", *group_cols, "n", "total", "vmin", "vmax")


def throttle_per_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    max_per_window: int,
    window: str = "minute",
    tiebreak_cols: list[str] | None = None,
    mark_only: bool = False,
) -> DataFrame:
    """Rate limiting: admit at most ``max_per_window`` rows per key per
    tumbling time window, earliest-first (logstash-style ``throttle`` /
    the reference's sample-with-burst semantics, but deterministic).

    Plan shape: ONE shuffle on (key..., window bucket) + a per-partition
    sort bounded by that key's traffic in ONE window — the time bucket in
    the partition key keeps a globally hot key from concentrating its
    whole history in one task at 100 TB; only a key hot WITHIN a single
    window skews, and that is exactly the row set the operator exists to
    cut.  ``tiebreak_cols`` make admission deterministic under equal
    timestamps (required for cross-engine parity).

    ``mark_only=True`` keeps every row and adds an ``admitted`` flag
    (audit mode); default drops throttled rows.
    """
    bucket = F.date_trunc(window, F.col(ts_col))
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*[F.col(c) for c in key_cols], bucket).orderBy(*order)
    out = df.withColumn("__throttle_rn", F.row_number().over(w))
    if mark_only:
        return out.withColumn(
            "admitted", F.col("__throttle_rn") <= max_per_window
        ).drop("__throttle_rn")
    return out.where(F.col("__throttle_rn") <= max_per_window).drop("__throttle_rn")


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Median/MAD anomaly detection per group: flag rows whose robust
    z-score ``|v - median| / (consistency * MAD)`` exceeds ``k``
    (Iglewicz-Hoaglin; mean/stddev variants break on the heavy-tailed
    value distributions log pipelines actually see).

    Two grouped aggregates on the SAME short key (group_col) — Catalyst
    reuses the exchange — then two joins against per-group scalars that
    auto-broadcast (one row per group).  Exact ``percentile`` is the
    parity path; at 100 TB swap ``approx=True``-style percentile_approx
    the same way timer_percentiles does.

    Medians are rounded to 6 BEFORE the z computation on both engines so
    interpolation ulps can't leak into the flag; groups with MAD == 0
    (constant-valued) yield no outliers by convention.
    """
    med = df.groupBy(group_col).agg(
        F.round(F.percentile(F.col(value_col), 0.5).cast("double"), 6).alias("med")
    )
    dev = df.join(med, group_col).withColumn(
        "__absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    # dev feeds BOTH the MAD aggregate and the scoring join; the MAD side
    # broadcasts, so without a pin the input is scanned twice and the
    # median percentile aggregate runs twice (r6-before plan: 4 scans).
    dev = dev.localCheckpoint()
    mad = dev.groupBy(group_col).agg(
        F.round(F.percentile(F.col("__absdev"), 0.5).cast("double"), 6).alias("mad")
    )
    scored = (
        dev.join(mad, group_col)
        .where(F.col("mad") > 0)
        .withColumn(
            "robust_z",
            F.round(
                F.abs(F.col(value_col) - F.col("med"))
                / (F.lit(consistency) * F.col("mad")),
                6,
            ),
        )
        .drop("__absdev")
    )
    return scored.where(F.col("robust_z") > k)


def funnel(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis: per key, how deep into ``steps`` did the
    event sequence get, where step i+1 must occur STRICTLY AFTER the
    matched step i (greedy earliest matching — provably optimal for a
    sequential chain, and exactly what the classic k-join SQL computes).

    Plan shape: pre-filter to funnel steps only (pushes to the scan), ONE
    shuffle on the key, then a per-key fold over the time-sorted step
    events — k never appears in the shuffle count, unlike the textbook
    k-self-join formulation.  The collected array holds ONLY this key's
    funnel-step events; a key hot enough to overflow a task is upstream
    throttle_per_key material.  The fold lambda is interpreted (µs/elem)
    but runs over funnel events only — it is not a per-token hot path.

    Returns (key, depth): depth in [0, len(steps)], one row per key that
    produced at least one funnel-step event.
    """
    idx = F.when(F.col(step_col) == steps[0], 0)
    for i, s in enumerate(steps[1:], start=1):
        idx = idx.when(F.col(step_col) == s, i)
    ev = df.where(F.col(step_col).isin(list(steps))).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("t"),
        idx.alias("s"),
    )
    init = F.struct(
        F.lit(0).alias("d"), F.lit(None).cast(df.schema[ts_col].dataType).alias("p")
    )
    folded = (
        ev.groupBy("key")
        .agg(F.array_sort(F.collect_list(F.struct("t", "s"))).alias("seq"))
        .select(
            "key",
            F.aggregate(
                "seq",
                init,
                lambda acc, x: F.when(
                    (x["s"] == acc["d"]) & (acc["p"].isNull() | (x["t"] > acc["p"])),
                    F.struct((acc["d"] + 1).alias("d"), x["t"].alias("p")),
                ).otherwise(acc),
            )["d"].alias("depth"),
        )
    )
    return folded.select(F.col("key").alias(key_col), "depth")


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "day",
) -> DataFrame:
    """Cohort/retention matrix: keys cohorted by their FIRST-seen period,
    counted once per (cohort, offset) they were active in.

    Plan shape: ONE shuffle on the key computes first-seen via a window
    min (no join back — the exchange is reused for the distinct), then the
    aggregation key shrinks to (cohort, offset): partial-agg friendly,
    output rows = cohorts × horizon, tiny at any scale."""
    w = Window.partitionBy(key_col)
    span = df.select(
        F.col(key_col).alias("key"),
        F.to_date(F.date_trunc(granularity, F.col(ts_col))).alias("active"),
        F.to_date(F.date_trunc(granularity, F.min(ts_col).over(w))).alias("cohort"),
    )
    return (
        span.select(
            F.col("cohort").cast("string").alias(f"cohort_{granularity}"),
            F.datediff("active", "cohort").alias(f"{granularity}_offset"),
            "key",
        )
        .distinct()
        .groupBy(f"cohort_{granularity}", f"{granularity}_offset")
        .agg(F.count("*").alias("n_active"))
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    k: int = 8,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Bounded-history EWMA per key: the k-term truncation of the
    exponentially weighted moving average,
    ``sum_j (1-a)^j v_{t-j} / sum_j (1-a)^j`` over the last k rows
    (weights renormalized over the lags that exist, so early rows are
    exact means of their available history, not biased toward zero).

    The recursive EWMA is inherently sequential; truncating at k turns it
    into a pure codegen'd lag chain — ONE shuffle on the key, no Python,
    no state, and the truncation error is (1-a)^k (<1% of the weight mass
    at the defaults).  The same finite formula is expressible in any SQL
    engine, which is what makes the operator oracle-checkable."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    decay = 1.0 - alpha
    num = F.col(value_col).cast("double")
    den = F.lit(1.0)
    for j in range(1, k):
        lagv = F.lag(value_col, j).over(w).cast("double")
        num = num + F.coalesce(lagv * F.lit(decay**j), F.lit(0.0))
        den = den + F.when(lagv.isNotNull(), F.lit(decay**j)).otherwise(F.lit(0.0))
    return df.withColumn("ewma", F.round(num / den, 6))


def trailing_rate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    horizon_s: float = 3600.0,
) -> DataFrame:
    """Per-row trailing-window rate: how many events (and how much value)
    the key saw in the last ``horizon_s`` seconds INCLUDING this row — the
    sliding-rate signal behind throttles, anomaly flags, and per-user
    activity features.  A RANGE frame over EXACT integer microseconds
    (``unix_micros`` — value-based, so simultaneous rows share one frame
    regardless of row order: deterministic without tiebreaks; a fractional
    double key would round differently across engines at frame boundaries,
    and unix_timestamp truncates whole seconds).

    Plan: ONE shuffle on the key; the range frame is a single windowed
    pass. State per row is the frame bounds, not the horizon's row count.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-int(horizon_s * 1_000_000), 0)
    )
    return df.withColumn("trail_n", F.count("*").over(w)).withColumn(
        "trail_sum", F.round(F.sum(F.col(value_col)).over(w), 6)
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_s: float,
    value_col: str | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-session rollup: sessionize by inactivity gap (lag-gap + running
    sum of boundaries — the classic formulation), then aggregate each
    session to its size, duration, and total value — the session-level
    table log analytics dashboards sit on.

    ONE shuffle on the key serves both the sessionizing window and the
    (key, session) aggregate (the group key extends the partition key, so
    no second exchange).  Gaps compare FRACTIONAL epoch seconds; duration
    is rounded to 6 (both engines subtract identical doubles)."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    frac = F.col(ts_col).cast("timestamp").cast("double")
    is_new = F.when(
        (frac - F.lag(frac).over(w)).isNull()
        | ((frac - F.lag(frac).over(w)) > F.lit(float(gap_s))),
        1,
    ).otherwise(0)
    cum_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = df.withColumn("session_id", F.sum(is_new).over(cum_w))
    aggs = [
        F.count("*").alias("n_events"),
        F.round(F.max(frac) - F.min(frac), 6).alias("duration_s"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(F.col(value_col)), 6).alias("total_value"))
    return sess.groupBy(key_col, "session_id").agg(*aggs)


def decayed_count(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    half_life_s: float = 3600.0,
) -> DataFrame:
    """Recency-weighted activity per key: Σ 0.5^((T − t)/half_life) where T
    is the corpus max timestamp — the exponential-decay counter behind
    "active lately" rankings (an event half a half-life ago counts ~0.7,
    ten half-lives ago ~0.001).  T rides a broadcast 1-row aggregate (the
    funnel-cutoff pattern); the weighted sum is one partial-friendly
    aggregate over fractional-epoch doubles."""
    frac = F.col(ts_col).cast("timestamp").cast("double")
    t_ref = df.agg(F.max(frac).alias("_T"))
    return (
        df.join(F.broadcast(t_ref))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.pow(F.lit(0.5), (F.col("_T") - frac) / F.lit(float(half_life_s)))),
                6,
            ).alias("decayed"),
        )
    )


def freshness_report(
    df: DataFrame,
    group_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-source freshness: row count, latest timestamp, and lag behind
    the corpus-wide latest — the staleness dashboard a multi-source ingest
    pipeline alerts on (one source silently stuck = its lag grows while
    n stalls).  The global max rides a broadcast 1-row aggregate; lags
    subtract FRACTIONAL epoch doubles."""
    frac = F.col(ts_col).cast("timestamp").cast("double")
    per_group = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.max(F.col(ts_col)).alias("_max_ts"),
        F.max(frac).alias("_max_e"),
    )
    global_max = df.agg(F.max(frac).alias("_G"))
    return per_group.join(F.broadcast(global_max)).select(
        group_col,
        "n",
        F.col("_max_ts").cast("string").alias("max_ts"),
        F.round(F.col("_G") - F.col("_max_e"), 6).alias("lag_s"),
    )
