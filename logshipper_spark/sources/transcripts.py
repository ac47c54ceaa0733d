"""Deterministic synthetic transcripts table (FIXTURES.md §1-§3).

The engine's primary input (BASELINE.json ``input_hint``)::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Generation is 100% Spark column expressions seeded by ``xxhash64`` — no
driver-side loops, no Python RNG — so the same (seed, n_convs) pair yields
byte-identical tables at any parallelism and any scale.  ``spark.range``
partitions the conv-id space across executors; everything downstream is
narrow except the one window computing cumulative timestamp offsets.

Mirrors the reference's test-input shapes: the text grammar reproduces the
five line families its filter/syslog unit tests parse
(logshipper/tests/test_filters.py, logshipper/tests/test_syslog.py [approx],
see SURVEY.md §0 for citation provenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

from logshipper_spark.sources.local import local_table

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
_COMPONENTS = ["auth", "planner", "retriever", "executor"]
_EVENTS = [
    "request_started", "cache_miss", "token_refresh", "plan_built",
    "doc_fetched", "tool_dispatch", "retry_scheduled", "request_done",
]
_TOOLS = ["search", "python", "browser", "calculator", "editor", "shell", "db"]
_HOSTS = ["node-a", "node-b", "node-c", "edge-1"]
_PROGS = ["sshd", "kernel", "cron", "agentd"]
_ACTIONS = ["fetch", "write", "plan", "eval"]
_STATUSES = ["ok", "error", "timeout"]
_WORDS = [
    "the", "model", "replied", "with", "a", "summary", "of", "recent",
    "events", "and", "asked", "for", "clarification", "about", "context",
]


def _u(seed: int, *cols) -> F.Column:
    """Deterministic uniform (0,1) from xxhash64 of the given columns."""
    h = F.xxhash64(F.lit(seed), *cols)
    return (F.pmod(h, F.lit(1_000_000)).cast("double") + 0.5) / 1_000_000.0


def _pick(arr: list[str], seed: int, *cols) -> F.Column:
    """Deterministically pick one element of a literal array."""
    idx = F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(len(arr))).cast("int")
    return F.element_at(F.array(*[F.lit(x) for x in arr]), idx + 1)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    partitions: int | None = None,
    shuffled: bool = True,
) -> DataFrame:
    """Build the transcripts DataFrame for ``n_convs`` conversations.

    Conversation sizes are Pareto/Zipf-ish (s=1.2, 3..200 turns) with one
    deliberate mega-conversation per 10k convs (x100 turns) to exercise skew
    handling.  ``shuffled=True`` scrambles storage order so stable-ordering
    windows are actually exercised (FIXTURES.md §1).
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    convs = spark.range(0, n_convs, 1, numPartitions=partitions).withColumnRenamed("id", "cid")

    # -- conversation-level attributes ------------------------------------
    s = 1.2
    u_size = _u(seed * 7 + 1, F.col("cid"))
    # Pareto(xm=3, alpha=s): mean ~18 turns, <1% of convs at the 200 cap
    base_size = F.floor(
        F.least(F.lit(200.0), F.lit(3.0) * F.pow(u_size, F.lit(-1.0 / s)))
    ).cast("int")
    is_mega = F.pmod(F.col("cid"), F.lit(10_000)) == F.lit(9_999)
    n_turns = F.when(is_mega, F.least(F.lit(20_000), base_size * 100)).otherwise(base_size)
    start_s = F.pmod(F.xxhash64(F.lit(seed * 7 + 2), F.col("cid")), F.lit(31 * 24 * 3600))

    convs = convs.select(
        F.col("cid"),
        F.format_string("conv-%08d", F.col("cid")).alias("conv_id"),
        n_turns.alias("n_turns"),
        start_s.alias("start_s"),
    )

    # -- explode to turns --------------------------------------------------
    t = convs.select(
        "cid", "conv_id", "start_s",
        F.posexplode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx", "_"),
    ).drop("_").withColumn("turn_idx", F.col("turn_idx").cast("int"))

    # -- role: cycle user/assistant/assistant/tool/system + perturbation ---
    cycle = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("assistant"), F.lit("tool"), F.lit("system")),
        F.pmod(F.col("turn_idx"), F.lit(5)).cast("int") + 1,
    )
    perturb = _u(seed * 7 + 3, F.col("cid"), F.col("turn_idx"))
    role = (
        F.when(perturb < 0.05, F.lit("user"))
        .when(perturb < 0.075, F.lit("moderator"))  # 2.5% role absent from role_dim (miss-policy)
        .otherwise(cycle)
    )
    t = t.withColumn("role", role)

    # -- tool: only on tool rows, Zipf-lite over 7 tools -------------------
    tool_u = _u(seed * 7 + 4, F.col("cid"), F.col("turn_idx"))
    tool_idx = F.least(
        F.lit(len(_TOOLS) - 1),
        F.floor(-F.log(tool_u) * 1.5).cast("int"),
    )
    tool = F.when(
        F.col("role") == "tool",
        F.element_at(F.array(*[F.lit(x) for x in _TOOLS]), tool_idx + 1),
    )
    t = t.withColumn("tool", tool)

    # -- text: five deterministic line families (40/20/15/15/10) ----------
    fam_u = F.pmod(F.xxhash64(F.lit(seed * 7 + 5), F.col("cid"), F.col("turn_idx")), F.lit(100))
    k = [F.col("cid"), F.col("turn_idx")]
    ms = F.pmod(F.xxhash64(F.lit(seed * 7 + 6), *k), F.lit(30_000)) + 1
    fam1 = F.format_string(
        "%s %s: %s took %dms",
        _pick(_LEVELS, seed * 7 + 7, *k),
        _pick(_COMPONENTS, seed * 7 + 8, *k),
        _pick(_EVENTS, seed * 7 + 9, *k),
        ms,
    )
    pri = F.pmod(F.xxhash64(F.lit(seed * 7 + 10), *k), F.lit(192))
    pid = F.pmod(F.xxhash64(F.lit(seed * 7 + 11), *k), F.lit(32_000)) + 1
    day = (F.pmod(F.xxhash64(F.lit(seed * 7 + 12), *k), F.lit(28)) + 1).cast("int")
    fam2 = F.format_string(
        "<%d>Jan %2d 03:14:07 %s %s[%d]: %s",
        pri, day, _pick(_HOSTS, seed * 7 + 13, *k), _pick(_PROGS, seed * 7 + 14, *k),
        pid, _pick(_EVENTS, seed * 7 + 15, *k),
    )
    lat = F.pmod(F.xxhash64(F.lit(seed * 7 + 16), *k), F.lit(5_000)) + 1
    fam3 = F.format_string(
        '{"action": "%s", "status": "%s", "latency_ms": %d}',
        _pick(_ACTIONS, seed * 7 + 17, *k), _pick(_STATUSES, seed * 7 + 18, *k), lat,
    )
    fam4 = F.format_string(
        "CALL %s(%s) -> %s",
        F.coalesce(F.col("tool"), _pick(_TOOLS, seed * 7 + 19, *k)),
        _pick(_WORDS, seed * 7 + 20, *k),
        _pick(_STATUSES, seed * 7 + 21, *k),
    )
    fam5 = F.concat_ws(
        " ",
        _pick(_WORDS, seed * 7 + 22, *k), _pick(_WORDS, seed * 7 + 23, *k),
        _pick(_WORDS, seed * 7 + 24, *k), _pick(_WORDS, seed * 7 + 25, *k),
        _pick(_WORDS, seed * 7 + 26, *k), _pick(_WORDS, seed * 7 + 27, *k),
    )
    text = (
        F.when(F.col("role") == "tool", fam4)
        .when(fam_u < 40, fam1)
        .when(fam_u < 60, fam2)
        .when(fam_u < 75, fam3)
        .when(fam_u < 90, fam4)
        .otherwise(fam5)
    )
    t = t.withColumn("text", text)

    # -- ts: conv start + cumulative Exp(mean 20s) gaps, monotone in turn --
    gap = -F.log(_u(seed * 7 + 28, *k)) * 20.0
    w = Window.partitionBy("cid").orderBy("turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    offset = F.sum(gap).over(w)
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("start_s") + offset
    )
    t = t.withColumn("ts", ts)

    out = t.select("conv_id", "turn_idx", "role", "text", "tool", F.col("ts").cast("timestamp"))
    if shuffled:
        # Scramble storage order (FIXTURES.md: "written shuffled") so that
        # stable-ordering windows are genuinely exercised.
        out = out.repartition(partitions, F.xxhash64("conv_id", "turn_idx")).sortWithinPartitions(
            F.xxhash64("turn_idx", "conv_id")
        )
    return out


def role_dim(spark: SparkSession) -> DataFrame:
    """role_dim(role PK, role_class, is_human, weight) — broadcast-join dim.

    Includes 'operator' which never appears in transcripts; transcripts
    include 'moderator' absent here (left-join miss policy, FIXTURES.md §3).
    """
    rows = [
        ("user", "human", True, 1.0),
        ("assistant", "model", False, 0.5),
        ("system", "control", False, 0.1),
        ("tool", "machine", False, 0.2),
        ("operator", "human", True, 2.0),
    ]
    return local_table(spark, rows, "role string, role_class string, is_human boolean, weight double")


def tool_dim(spark: SparkSession) -> DataFrame:
    """tool_dim(tool PK, tool_kind, billable, cost_per_call) — 7 used + 1 unused."""
    rows = [
        ("search", "retrieval", True, 0.002),
        ("python", "compute", True, 0.01),
        ("browser", "retrieval", True, 0.005),
        ("calculator", "compute", False, 0.0),
        ("editor", "compute", False, 0.0),
        ("shell", "compute", True, 0.02),
        ("db", "retrieval", True, 0.004),
        ("ftp", "retrieval", False, 0.0),  # never appears in transcripts
    ]
    return local_table(
        spark, rows, "tool string, tool_kind string, billable boolean, cost_per_call double"
    )
