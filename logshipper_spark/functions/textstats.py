"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Counts, scores and fingerprints are built-in column expressions (codegen,
no Python): narrow per-row transforms, no shuffle, filters push to the
scan.  The per-token kernels (n-grams, chunks, repetition signals, char
entropy) are Arrow UDFs built by ``_text_udf``; the word-level ones
tokenize with ``_words`` and shingle with ``_grams``.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

# BPE-ish tokenization: words | numbers | single non-space symbol
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_EN_STOPWORDS_RE = r"(?i)\b(the|and|of|to|in|is|a|that|it|for)\b"
_PUNCT_RE = r"[^A-Za-z0-9\s]"
# re.ASCII: Java regex's ASCII \s, so the Python kernels and the JVM/oracle
# expression forms split the same text into the same words
_STRIP = re.compile(_PUNCT_RE + "+", re.ASCII)


def _words(t: str) -> list[str]:
    """The word tokenizer of every Python text kernel: strip ASCII
    non-alphanumerics, THEN lowercase (the JVM/oracle order; lower-first
    keeps e.g. U+212A KELVIN SIGN as 'k'), then split on ASCII whitespace
    (only ASCII is left, so ``str.split()`` is the ``\\s+`` split)."""
    return _STRIP.sub(" ", t).lower().split()


def _grams(words: list[str], n: int) -> Counter:
    """The word n-gram shingler: a Counter whose keys are the distinct
    n-grams of ``words`` in first-occurrence order and whose values are
    their counts.  Fewer than ``n`` words give ONE gram of all of them
    (``""`` for none), as the expression form's ``greatest(size - n + 1,
    1)`` slice does."""
    g = Counter(map(" ".join, zip(*(words[i:] for i in range(n)))))
    return g or Counter((" ".join(words),))


def _text_udf(fn, ddl: str):
    """An Arrow UDF over one string column that applies ``fn`` to every
    non-NULL text; a NULL text gives NULL.  The result is built at the
    declared type, so an all-NULL batch still has it.  A struct result is
    assembled field by field: a NULL text gives a struct of NULL fields,
    never a NULL struct."""
    at = to_arrow_type(DataType.fromDDL(ddl))

    def run(s: pa.Array) -> pa.Array:
        out = pa.array([None if t is None else fn(t) for t in s.to_pylist()], at)
        if pa.types.is_struct(at):
            out = pa.StructArray.from_arrays(out.flatten(), fields=list(at))
        return out

    return F.arrow_udf(run, ddl)


# regexp_count, NOT size(regexp_extract_all(...)): the count is identical
# (same regex, same non-overlapping left-to-right match semantics, same
# null handling) but extract_all materializes every match as an array
# element just to take its size — pure allocation overhead on the hottest
# projection in the engine (r6; same built-in extract_entities always used)
def token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(TOKEN_RE))


def whitespace_token_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(r"\S+"))


def stopword_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(_EN_STOPWORDS_RE))


def punct_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(_PUNCT_RE))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token counts, punctuation and
    stopword ratios.  Downstream filters (e.g. drop docs with
    stopword_ratio < x) stay native predicates → predicate pushdown."""
    c = F.col(text_col)
    n_tok = whitespace_token_count(c)
    return df.withColumns(
        {
            "n_chars_m": F.length(c),
            "n_tokens_ws": n_tok,
            "n_tokens_bpe": token_count(c),
            "punct_ratio": F.round(punct_count(c) / F.greatest(F.length(c), F.lit(1)), 6),
            "stopword_ratio": F.round(
                stopword_count(c) / F.greatest(n_tok, F.lit(1)).cast("double"), 6
            ),
            "mean_token_len": F.round(
                F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(n_tok, F.lit(1)).cast("double"), 6
            ),
        }
    )


def english_score(col: Column) -> Column:
    """Language-ID heuristic: English stopword hits per whitespace token.
    A real system plugs a model in via mapInPandas; this n-gram/stopword
    heuristic is the deterministic, SQL-checkable baseline."""
    return F.round(
        stopword_count(col) / F.greatest(whitespace_token_count(col), F.lit(1)).cast("double"), 6
    )


def fingerprint(col: Column) -> Column:
    """Normalized content fingerprint: md5 over lowercased alphanumerics.
    Robust to whitespace/punct/case changes — the exact-dedup key."""
    return F.md5(F.lower(F.regexp_replace(col, r"[^A-Za-z0-9]+", "")))


# ------------------------------------------------------- curation ops --
def deterministic_hash_pct(col: Column) -> Column:
    """Stable per-row percentile in [0, 100) from an md5 prefix — the
    cross-engine-reproducible sampling basis (rand()/xxhash64 don't exist
    or differ in other engines; md5 does).  Reruns/resumes select identical
    rows — a training-mix rebuild is byte-identical."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(100))


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict[str, float],
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sampling for training-mix construction:
    per-stratum keep-fractions over a content-stable hash — no rand(), so
    the mix is reproducible across runs, resumes, and engines.  The
    predicate is a pure column expression → pushes to the scan."""
    pct = deterministic_hash_pct(F.col(key_col))
    keep = F.lit(False)
    for stratum, frac in fractions.items():
        keep = keep | ((F.col(strata_col) == stratum) & (pct < int(frac * 100)))
    return df.where(keep)


def group_sample_k(
    df: DataFrame, group_col: str, k: int, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic k-per-group sample: within each group, keep the k rows
    whose md5(key) sorts lowest (key asc tiebreak) — the fixed-size
    counterpart to stratified_sample for building balanced eval slices.
    Content-stable (no rand(): reruns, resumes, and other engines select
    the identical rows).  ONE shuffle on the group; the rank window is
    per-group, never global."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def upsample(df: DataFrame, strata_col: str, repeats: dict[str, int]) -> DataFrame:
    """Deterministic oversampling for training-mix construction: each row of
    stratum s appears ``repeats[s]`` times (default 1), tagged with a
    ``copy`` index (1..k) so downstream shuffling/sharding can spread the
    copies.  Pure explode(sequence) — narrow, no Python, no shuffle."""
    rep: Column = F.lit(1)
    for stratum, k in repeats.items():
        rep = F.when(F.col(strata_col) == stratum, int(k)).otherwise(rep)
    return df.withColumn("copy", F.explode(F.sequence(F.lit(1), rep)))


def quality_top_quantile(df: DataFrame, score: Column, keep_fraction: float = 0.5,
                         text_col: str = "text") -> DataFrame:
    """Keep the top ``keep_fraction`` of documents by a quality score —
    quantile filtering via percent_rank.

    ORACLE-PARITY VARIANT ONLY: the global un-partitioned window funnels
    every row through one task for percent_rank — fine at sf0.1, fatal at
    100 TB.  The scale path is ``quality_filter_by_cutoff`` below (quantile
    cutoff + pushed-down scalar predicate, no global sort)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("__q_score"))
    return (
        df.withColumn("__q_score", score)
        .withColumn("__q_pr", F.percent_rank().over(w))
        .where(F.col("__q_pr") <= keep_fraction)
        .drop("__q_pr")
        .withColumnRenamed("__q_score", "q_score")
    )


def quality_score_cutoff(df: DataFrame, score: Column, keep_fraction: float = 0.5,
                         relative_error: float = 0.0) -> float:
    """The score value at the (1 - keep_fraction) quantile, via
    ``approxQuantile`` (Greenwald-Khanna): a single aggregate pass over the
    scalar score — no sort, no window, driver receives ONE double.
    ``relative_error=0.0`` is exact (used for oracle parity at test scale);
    at 100 TB pass e.g. 1e-4 to bound sketch memory."""
    proj = df.select(score.cast("double").alias("__q_score"))
    return proj.approxQuantile("__q_score", [1.0 - keep_fraction], relative_error)[0]


def quality_filter_by_cutoff(df: DataFrame, score: Column, keep_fraction: float = 0.5,
                             relative_error: float = 0.0) -> DataFrame:
    """The 100-TB quantile-filtering path: compute the cutoff once
    (``quality_score_cutoff``), then filter with a plain scalar predicate —
    a pushed-down comparison the scan can evaluate, with NO global sort and
    NO single-partition window anywhere in the plan (plan-asserted in
    tools/explain_audit.py).

    Tie semantics differ from ``quality_top_quantile`` by design: every row
    with score >= cutoff survives (row-identity, not rank-identity), so the
    kept fraction can exceed ``keep_fraction`` when scores tie at the
    boundary — the correct behavior for curation (identical-quality docs
    are kept or dropped together, never split by arbitrary rank)."""
    cutoff = quality_score_cutoff(df, score, keep_fraction, relative_error)
    return df.withColumn("q_score", score.cast("double")).where(
        F.col("q_score") >= cutoff
    )


def repetition_features(n: int = 2):
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition filters — public paper):
    heavily repetitive documents (boilerplate, scraped menus, generation
    loops) are low-value training data even when their token stats look
    fine.  Returns an Arrow kernel producing a struct of

    * ``dup_line_frac``  — duplicated (trimmed, non-empty) lines / lines
    * ``dup_ngram_frac`` — duplicated word n-grams / n-grams (with
      multiplicity: 1 - distinct/total)
    * ``top_ngram_frac`` — occurrences of the single most frequent n-gram
      / total n-grams

    One narrow Arrow pass per batch (``_text_udf``); all three in [0, 1],
    rounded to 6 for cross-engine oracle parity; a NULL text gives NULL
    signals.
    """

    def rep(t: str) -> dict:
        # explicit ASCII whitespace set: Python str.strip() is
        # unicode-aware, DuckDB trim() is not — pin both to ASCII
        lines = [x.strip(" \t\r\f\v") for x in t.split("\n")]
        lines = [x for x in lines if x]
        nl = len(lines)
        words = _words(t)
        if len(words) < n:
            # no real n-gram exists: report 0.0, not the degenerate
            # top_ngram_frac=1.0 that would make repetition_filter
            # drop every empty/short doc as "maximally repetitive"
            gf = tf = 0.0
        else:
            cnt = _grams(words, n)
            ng = len(words) - n + 1
            gf, tf = round((ng - len(cnt)) / ng, 6), round(max(cnt.values()) / ng, 6)
        return {"dup_line_frac": round((nl - len(set(lines))) / nl, 6) if nl else 0.0,
                "dup_ngram_frac": gf, "top_ngram_frac": tf}

    return _text_udf(
        rep, "struct<dup_line_frac: double, dup_ngram_frac: double, top_ngram_frac: double>"
    )


def repetition_filter(df: DataFrame, text_col: str = "text", n: int = 2,
                      max_dup_line_frac: float = 0.3,
                      max_dup_ngram_frac: float = 0.6,
                      max_top_ngram_frac: float = 0.2) -> DataFrame:
    """Drop heavily repetitive documents (Gopher-rule shape).  Adds the
    three signal columns and filters; thresholds are the knobs a curation
    run tunes per corpus."""
    rep = repetition_features(n)(F.col(text_col))
    out = df.withColumn("__rep", rep).select("*", "__rep.*").drop("__rep")
    return out.where(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
        & (F.col("top_ngram_frac") <= max_top_ngram_frac)
    )


# PII scrub rules: applied IN ORDER (earlier replacements can destroy
# later matches — e.g. emails before hostnames).  Patterns stay inside the
# RE2-compatible subset (no lookaround, no backrefs) so the SAME strings
# run on Java regex (Spark) and RE2 (DuckDB) — cross-engine oracle-able.
#
# r5 tightening (VERDICT r4 next #9): ipv4 octets are range-checked
# (0-255 via alternation — `300.12.1.2` / `10.1.2.4567` no longer redact,
# killing most dotted version/build strings), and the card rule is
# anchored to the major network IIN prefixes (Visa 4xxx, Mastercard
# 51-55xx / 2221-2720 superset 22-27xx, Discover 6011/65xx) so generic
# 16-digit ids like `1234 5678 9012 3456` pass through.
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(" + _IPV4_OCTET + r"\.){3}" + _IPV4_OCTET + r"\b", "<IP>"),
    ("apikey", r"\b(sk|pk|key|token)[-_][A-Za-z0-9]{16,}\b", "<KEY>"),
    ("cc", r"\b(4\d{3}|5[1-5]\d\d|2[2-7]\d\d|6(011|5\d\d))([ -]?\d{4}){3}\b", "<CC>"),
    ("phone", r"\+\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(col: Column, rules: list[tuple[str, str, str]] | None = None) -> Column:
    """Chained regexp_replace over ``PII_RULES`` — the training-data form
    of the reference's ``replace`` mangle step (SURVEY §2 replace row):
    scrub emails/IPs/keys/card-numbers/phones before text reaches a
    training mix or an external sink.  Pure codegen'd column expression —
    narrow, pushes through the plan like any projection."""
    out = col
    for _name, pat, repl in (rules or PII_RULES):
        out = F.regexp_replace(out, pat, repl)
    return out


def pack_sequences(df: DataFrame, budget: int = 2048, shards: int = 16,
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic concat-then-chunk sequence packing — the LM-pretraining
    layout step: documents are concatenated in canonical (shard, id) order
    and cut into ``budget``-token training sequences; a doc's ``pack_id``
    is the chunk its first token lands in.

    Scale shape: the cumulative sum runs per SHARD (deterministic md5
    bucket), so no global window — shard count scales with the corpus
    (100 TB → tens of thousands of shards, each an independent task).
    Integer arithmetic end-to-end: bit-exact across engines.

    Returns (id, shard, n_tokens, start_offset, pack_id).
    """
    from pyspark.sql.window import Window

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(shards),
    )
    toks = whitespace_token_count(F.col(text_col))
    base = df.select(F.col(id_col), shard.alias("shard"), toks.alias("n_tokens"))
    w = Window.partitionBy("shard").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset"),
    ).withColumn("pack_id", F.floor(F.col("start_offset") / budget))


def pack_payloads(df: DataFrame, budget: int = 2048, shards: int = 16,
                  text_col: str = "text", id_col: str = "doc_id",
                  sep: str = "\n") -> DataFrame:
    """Materialize the training sequences ``pack_sequences`` lays out:
    per (shard, pack_id), the member docs' text concatenated in canonical
    id order with ``sep`` — what actually ships to a tokenizer worker.

    Shape: the assignment join shuffles on the id, the concat aggregates
    per pack (thousands of tokens each — bounded rows).  The in-pack
    ordering uses sort_array over the collected (id, text) structs, so no
    per-pack window; the transform lambda only touches the already
    collected array column (no recompute hazard).

    Returns (shard, pack_id, n_docs, n_tokens, payload).
    """
    assign = pack_sequences(df, budget=budget, shards=shards,
                            text_col=text_col, id_col=id_col)
    joined = assign.join(df.select(F.col(id_col), F.col(text_col)), id_col)
    ordered = F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col(text_col))))
    return (
        joined.groupBy("shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_join(
                F.transform(ordered, lambda s: s[text_col]), sep
            ).alias("payload"),
        )
    )


def ngram_array_pandas(n: int):
    """Arrow kernel: the distinct word n-grams of each text in
    first-occurrence order (``_words`` then ``_grams``) in one narrow pass
    — no shuffle, no interpreted-lambda recompute.  The ``F.transform``
    expression form re-evaluates the tokenize subexpression PER ELEMENT
    (~tokens × grams interpreted evals per row, measured ~20x slower); the
    tests keep it as the row-for-row reference."""
    return _text_udf(lambda t: list(_grams(_words(t), n)), "array<string>")


def doc_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Inter-document novelty: per document, the fraction of its DISTINCT
    n-grams that appear in NO other document — the corpus-duplication
    diagnostic the dedup literature reports alongside near-dup pairs
    (novelty 1.0 = fully original, → 0 = assembled from shared text).

    Plan: one Arrow gram pass (per-doc distinct already), ONE shuffle on
    the gram for a windowed doc-frequency count (same exchange a groupBy
    would need, minus the join back), then a per-doc aggregate.  Skew
    note: a gram shared by ALL docs lands one partition with |docs| rows
    — bounded by the corpus dup rate; corpora past that belong to
    paragraph_dedup first.  At scale the gram string can be xxhash64'd to
    shorten the shuffle key (novelty counts are identical absent 64-bit
    collisions, same argument as contamination_check packed)."""
    from pyspark.sql.window import Window

    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(ngram_array_pandas(n)(F.col(text_col))).alias("gram"),
    )
    df_g = F.count("*").over(Window.partitionBy("gram"))
    return (
        grams.withColumn("_df", df_g)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("_df") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_shared",
            F.round(1 - F.col("n_shared") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


def percentile_by_group(
    df: DataFrame, group_col: str, value_col: str, key_col: str = "doc_id"
) -> DataFrame:
    """Per-group percentile normalization: percent_rank of ``value_col``
    within each group, ordered with a full (value, key) tiebreak so the
    rank — and therefore the percentile — is deterministic in any engine.
    The cross-source score calibration step: raw quality scores are not
    comparable across domains; their within-domain percentiles are.
    ONE shuffle on the group; windows never go global."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(key_col).asc()
    )
    return df.select(
        key_col,
        group_col,
        value_col,
        F.round(F.percent_rank().over(w), 6).alias("pct"),
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    packed: bool = False,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing any n-gram (n=8
    words by default) with a benchmark document.  Shape: explode both sides
    to (id, gram), equi-join on the gram, aggregate distinct hits per
    training doc.  Returns (doc_id, n_hits) for contaminated docs.

    ``packed=True`` is the 100-TB shape: the join/aggregate key is
    ``xxhash64(gram)`` (8 bytes) instead of the raw up-to-n-words string,
    so the broadcast table and the explode output carry longs, not text —
    an order-of-magnitude smaller build side at corpus scale.  Hash
    collisions (~p²/2⁶⁴) can only ADD a spurious hit, never drop one.
    ``packed=False`` keeps the raw gram string for engine-parity oracles
    (xxhash64 doesn't exist in DuckDB); tests assert both variants agree.
    Grams come from the Arrow kernel ``ngram_array_pandas``.
    """
    gcol = ngram_array_pandas(n)(F.col(text_col))

    def grams(d: DataFrame, out_id: str):
        out = d.select(F.col(id_col).alias(out_id), F.explode(gcol).alias("gram"))
        if packed:
            out = out.select(out_id, F.xxhash64("gram").alias("gram"))
        return out

    t = grams(train, "doc_id")
    b = grams(benchmark, "bench_id").select("gram").distinct()
    return (
        t.join(F.broadcast(b), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_hits"))
    )


def chunk_array_pandas(n: int):
    """Arrow kernel: split text on SINGLE spaces (the exact mirror of
    DuckDB ``string_split(text, ' ')`` and Python ``str.split(' ')`` —
    empties preserved on runs of spaces) and regroup into consecutive
    ``n``-token chunks joined by one space.  Used to synthesize
    'paragraphs' deterministically on corpora that carry none; the same
    no-interpreted-HOF rationale as ``ngram_array_pandas``."""

    def chunks(t: str) -> list[str]:
        toks = t.split(" ")
        return [" ".join(toks[i:i + n]) for i in range(0, len(toks), n)]

    return _text_udf(chunks, "array<string>")


def paragraph_dedup(
    df: DataFrame,
    min_df: int = 2,
    sep: str = "\n",
    join_sep: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level paragraph deduplication (the RefinedWeb/CCNet-style
    boilerplate pass): any paragraph appearing in ``min_df`` or more
    DISTINCT documents is boilerplate — remove it from EVERY document,
    reassemble the survivors in original order.

    Returns ``(id_col, clean_text, n_removed)``; a fully-boilerplate
    document survives as an empty string (so downstream counts stay
    aligned), with ``n_removed`` = its original paragraph count.

    Scale shape: paragraphs explode once; the frequency aggregate and the
    anti-join both key on ``md5(paragraph)`` — 16-byte-class shuffle keys,
    paragraph TEXT never shuffles for the membership check; reassembly is
    one groupBy over (pos, paragraph) structs with an in-memory
    ``array_sort`` per doc (bounded by document size, same bound as
    ``pack_payloads``).  ``sep`` is a Java regex (escape literal
    metacharacters); ``join_sep`` is the LITERAL string used to
    reassemble (defaults to ``sep``, correct whenever ``sep`` contains
    no regex metacharacters).
    """
    if join_sep is None:
        join_sep = sep
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    # paras feeds BOTH the boilerplate-frequency aggregate and the
    # anti-join probe; the frequency side broadcasts, so Catalyst
    # re-executes the whole upstream (scan + split + explode — plus any
    # caller-side text derivation, e.g. the benched query's Arrow chunk
    # kernel, which the query therefore pins itself) once per consumer
    # (r6-before plan: 3 document scans).  Pin the BOILER table, not
    # paras: boiler is md5 hashes above min_df (tiny at any scale) while
    # paras is the corpus's exploded text — materializing that into
    # block storage is exactly the payload-residency this module's
    # md5-membership design avoids (review r6).  The probe side re-runs
    # split+explode once — narrow codegen over the caller's (pinned)
    # text, no text ever stored.
    boiler = (
        paras.groupBy(F.md5("para").alias("__h"))
        .agg(F.countDistinct(id_col).alias("__df"))
        .where(F.col("__df") >= int(min_df))
        .select("__h")
        .localCheckpoint()
    )
    kept = paras.withColumn("__h", F.md5("para")).join(boiler, "__h", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.count("*").alias("__k"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep)).alias("__n")
    )
    return base.join(reassembled, [id_col], "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("__n") - F.coalesce("__k", F.lit(0))).cast("long").alias("n_removed"),
    )


def char_entropy_pandas():
    """Shannon entropy (bits) over the codepoint distribution of each text —
    the classic gibberish/binary-spill quality signal: natural language
    sits ~3.5-4.5 bits, base64/random blobs push toward log2(alphabet),
    single-char spam collapses to 0.

    Arrow kernel (per-codepoint work is exactly the interpreted-HOF trap —
    see ngram_array_pandas); numpy unique-per-row, float64 throughout,
    ``+ 0.0`` normalizes the single-char ``-0.0`` so both engines format
    the zero identically.  Python ``list()`` and DuckDB
    ``string_split(t, '')`` both split by CODEPOINT (verified), so an
    oracle can recompute the identical value.  Callers round with F.round
    (half-up, matches DuckDB on positives — python round() is banker's
    and does NOT)."""

    def ent(t: str) -> float:
        if not t:
            return 0.0
        _, counts = np.unique(np.array(list(t)), return_counts=True)
        p = counts / counts.sum()
        return float(-(p * np.log2(p)).sum() + 0.0)

    return _text_udf(ent, "double")


def mixture_weights(
    counts: dict[str, int], alpha: float = 0.5, budget: int | None = None,
) -> dict[str, tuple[float, float]]:
    """Temperature-scaled mixture weights over strata (the multinomial
    alpha-sampling rule used to flatten source imbalance in LLM training
    mixes): weight_s = n_s^alpha / sum n_t^alpha, per-doc keep rate
    r_s = min(1, budget * w_s / n_s).  alpha=1 is proportional, alpha=0
    uniform-over-sources.  Pure driver-side arithmetic on the (tiny)
    per-source count map; every float is ROUNDED (12 then 9 places) so an
    independent engine recomputing the same formula lands on the same
    admission thresholds.  Returns {stratum: (weight, rate)}."""
    if budget is None:
        budget = sum(counts.values())
    denom = sum(n ** alpha for n in sorted(counts.values()))
    out: dict[str, tuple[float, float]] = {}
    for s, n in counts.items():
        w = round((n ** alpha) / denom, 12)
        rate = round(min(1.0, budget * w / n), 9)
        out[s] = (w, rate)
    return out


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    budget: int | None = None,
    key_col: str = "doc_id",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Deterministic temperature-based mixture sampling: compute per-source
    counts (ONE tiny aggregate — rows = distinct sources), derive
    alpha-weighted keep rates driver-side, then admit rows whose
    content-stable md5 bucket (out of ``resolution``) falls under the
    stratum's integer threshold.  No rand(): the mix is byte-identical
    across reruns, resumes, and engines, and the final predicate is a
    pure column expression that pushes to the scan.

    At 100 TB the count aggregate is a partial+final combine on a
    low-cardinality key and everything else is map-side — no shuffle of
    the data being sampled."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    rates = mixture_weights(counts, alpha=alpha, budget=budget)
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("bigint")
    bucket = F.pmod(h, F.lit(resolution))
    keep = F.lit(False)
    for s, (_w, rate) in rates.items():
        # floor(x + 0.5), NOT round(): python round() is banker's, DuckDB's
        # is half-away — explicit half-up agrees everywhere at exact ties
        thr = int(math.floor(rate * resolution + 0.5))
        keep = keep | ((F.col(strata_col) == s) & (bucket < thr))
    return df.where(keep)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws a content-stable uniform u from its id's
    md5 bucket and competes with key ln(u)/w — the k largest keys are a
    weighted sample without replacement, computed as one scan plus a
    TakeOrderedAndProject (per-partition top-k, k-row driver merge — no
    global sort, no rand(), byte-identical across engines and reruns).

    ``u = (bucket + 0.5) / resolution`` keeps u strictly inside (0,1) so
    the log never sees 0 or 1.  Ranking orders by the key rounded to 12
    places (then id asc): u is an exact dyadic-free double built from the
    integer bucket, so the only cross-engine dust is the ~1-ulp libm
    difference in ln — far below 1e-12 at any key magnitude.  Rounding
    must stay FINE: at 6 places, large weights (w ~ 1e6, e.g. byte sizes)
    collapse every key into a handful of buckets and the id tiebreak turns
    the "weighted" sample into the k lowest ids (review r5).  Weights must
    be > 0."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    u = (F.pmod(h, F.lit(resolution)) + F.lit(0.5)) / F.lit(float(resolution))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 12)
    return (
        df.withColumn("samp_key", key)
        .orderBy(F.col("samp_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 50,
    stride: int = 25,
) -> DataFrame:
    """Sliding-window text chunking with overlap — the indexing shape a
    RAG/embedding pipeline feeds to an encoder: token windows of ``size``
    starting every ``stride`` tokens (stride < size ⇒ overlapping chunks,
    so no boundary sentence is ever cut out of every chunk).

    Pure codegen, no interpreted HOF lambdas: the text is whitespace-
    normalized FIRST (trim + collapse runs) so a plain split yields no
    empty tokens, chunk starts come from ``sequence(0, len-1, stride)``,
    and each chunk is ``slice`` + ``array_join`` on the row's own token
    array.  One narrow pass; the explode multiplies rows by ~len/stride —
    the output IS the product, not an intermediate.  Empty/whitespace-only
    documents produce no chunks."""
    toks = F.split(F.regexp_replace(F.trim(F.col(text_col)), " +", " "), " ")
    base = (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("_tk"))
        .withColumn("_len", F.size("_tk"))
    )
    starts = F.sequence(F.lit(0), F.col("_len") - 1, F.lit(stride))
    return (
        base.select(
            id_col,
            "_tk",
            "_len",
            F.posexplode(starts).alias("chunk_idx", "_start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.least(F.lit(size), F.col("_len") - F.col("_start"))
            .cast("int")
            .alias("n_toks"),
            F.array_join(F.slice(F.col("_tk"), F.col("_start") + 1, F.lit(size)), " ").alias(
                "chunk"
            ),
        )
    )


def extract_entities(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Per-document entity counts from the SAME rule table the redactor
    uses (``PII_RULES`` — one source of truth, so the counter can never
    disagree with the scrubber about what an email is): one ``n_<rule>``
    column per rule, counted on the ORIGINAL text independently per rule
    (rule order doesn't matter for counting, unlike chained redaction).
    Pure codegen (``regexp_count``) — narrow, no shuffle, the triage pass
    that decides which documents need the redaction projection at all."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias(f"n_{name}")
        for name, pat, _repl in (rules or PII_RULES)
    ]
    return df.select(F.col(id_col), *counts)


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Quantile clipping (winsorization) — the outlier-taming step before
    any mean/variance-based feature math: values below the p_lo quantile
    (or above p_hi) are clamped to the quantile value.

    Scale shape is the ``quality_filter_by_cutoff`` pattern: ONE
    approxQuantile(relativeError=0) pass computes both cutoffs (exact —
    rank rule max(1, ceil(p*n)), bit-identical to DuckDB quantile_disc,
    verified r3), then the clamp is a pure scalar projection that pushes
    through the plan.  No window, no sort, no second scan."""
    lo, hi = df.stat.approxQuantile(value_col, [p_lo, p_hi], 0.0)
    clamped = F.least(F.greatest(F.col(value_col), F.lit(lo)), F.lit(hi))
    # greatest/least SKIP nulls, which would rewrite a missing value as the
    # low cutoff — fabricated low-tail data; nulls must stay null
    guarded = F.when(F.col(value_col).isNull(), F.lit(None)).otherwise(clamped)
    return df.withColumn(f"{value_col}_w", F.round(guarded, 6))


def _split_expr(bucket_col, weights: list[tuple[str, float]], resolution: int):
    """Chained CASE over cumulative md5-bucket thresholds (floor(x+0.5) —
    half-up, same everywhere; see mixture_sample)."""
    expr = None
    cum = 0.0
    for name, frac in weights[:-1]:
        cum += frac
        thr = int(math.floor(cum * resolution + 0.5))
        cond = bucket_col < thr
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(last)


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: list[tuple[str, float]] | None = None,
    resolution: int = 1_000_000,
) -> DataFrame:
    """Deterministic train/val/test assignment: the id's content-stable md5
    bucket falls into cumulative weight ranges — no rand(), so the split is
    byte-identical across reruns, resumes, engines, AND unaffected by
    adding/removing other rows (each id's fate depends only on itself —
    the property that keeps yesterday's test set out of tomorrow's train
    set when the corpus grows).  Pure column expression, pushes to the
    scan."""
    weights = weights or [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    bucket = F.pmod(h, F.lit(resolution))
    return df.withColumn("split", _split_expr(bucket, weights, resolution))


def component_split(
    components: DataFrame,
    id_col: str = "id",
    component_col: str = "component",
    weights: list[tuple[str, float]] | None = None,
    resolution: int = 1_000_000,
) -> DataFrame:
    """Near-dup-aware splitting: hash the CLUSTER id, not the member id, so
    every member of a connected component lands in the SAME split — the
    guard against train/test leakage through near-duplicates (a test doc's
    near-copy in train is leakage exact dedup can't see).  Input is
    ``connected_components`` output; the split is a pure projection on the
    component column — no extra shuffle beyond what clustering already
    paid."""
    weights = weights or [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    h = F.conv(
        F.substring(F.md5(F.col(component_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    bucket = F.pmod(h, F.lit(resolution))
    return components.select(
        F.col(id_col),
        F.col(component_col),
        _split_expr(bucket, weights, resolution).alias("split"),
    )
