"""Corpus vocabulary statistics — Zipf frequency tables and a smoothed
bigram language model.  Both are classic training-corpus diagnostics
(vocabulary coverage, OOV analysis, KenLM-lite quality baselines) that
complement the per-document quality signals in textstats.py.

Plan shapes are deliberately aggregate-first: the token explosion is the
only wide stage, everything after it runs over |vocab| / |vocab|² rows —
bounded by the language, not the corpus, so the plans are unchanged at
100 TB.  All math is pure codegen (no UDFs, no interpreted HOF lambdas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens(df: DataFrame, text_col: str):
    """Whitespace tokens, empties dropped — identical semantics to DuckDB's
    string_split + filter, so oracles can recompute from scratch."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
    )


def vocab_zipf(df: DataFrame, text_col: str = "text", top_n: int | None = None) -> DataFrame:
    """Zipf table: (token, n, rank, frequency) with rank assigned by
    (count desc, token asc) — the deterministic tiebreak keeps the table
    reproducible and oracle-checkable across engines.

    The groupBy shrinks the corpus to |vocab| rows BEFORE the single-task
    ranking window touches anything; the total-token count rides the same
    aggregate as a grouping-free sum via a window over the tiny result
    (no second scan).  At 100 TB the explode is map-side partial-counted;
    the window still sees only the vocabulary."""
    counts = _tokens(df, text_col).groupBy("token").agg(F.count("*").alias("n"))
    rank_w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    total_w = Window.partitionBy()
    out = counts.select(
        "token",
        "n",
        F.row_number().over(rank_w).cast("int").alias("rank"),
        F.round(F.col("n") / F.sum("n").over(total_w), 6).alias("freq"),
    )
    if top_n is not None:
        out = out.where(F.col("rank") <= top_n)
    return out


def token_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Pointwise mutual information of token pairs by document
    co-occurrence: PMI(w1,w2) = ln(n12·N / (n1·n2)) over document counts —
    the collocation/topic-structure diagnostic (high PMI = tokens that
    travel together; ~0 = independent).

    Plan: distinct (doc, token) pairs once; the pair generation is a
    SELF-JOIN CO-PARTITIONED on the doc id (both sides reuse one
    exchange, w1 < w2 kills mirror/self pairs), then the key shrinks to
    (w1,w2) ≤ |vocab|² with per-token doc counts joined back BROADCAST.
    Per-doc distinct tokens bound the pair fanout quadratically — corpora
    with huge per-doc vocabularies should pre-prune to the tokens of
    interest.  ``min_count`` drops pairs seen in fewer docs (PMI is
    noise below that)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    # toks is consumed by BOTH self-join sides and the doc-frequency
    # aggregate; pin the distinct (doc, token) pairs once (r6 — the
    # broadcast df side otherwise re-runs the explode+distinct)
    toks = toks.localCheckpoint()
    pairs = (
        toks.alias("a")
        .join(toks.alias("b"), "id")
        .where(F.col("a.token") < F.col("b.token"))
        .groupBy(F.col("a.token").alias("w1"), F.col("b.token").alias("w2"))
        .agg(F.count("*").alias("n12"))
        .where(F.col("n12") >= min_count)
    )
    tok_docs = toks.groupBy("token").agg(F.count("*").alias("n_t"))
    n = df.agg(F.count("*").alias("_n"))
    return (
        pairs.join(F.broadcast(tok_docs.withColumnRenamed("token", "w1")
                               .withColumnRenamed("n_t", "n1")), "w1")
        .join(F.broadcast(tok_docs.withColumnRenamed("token", "w2")
                          .withColumnRenamed("n_t", "n2")), "w2")
        .join(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n12",
            F.round(
                F.log(F.col("n12") * F.col("_n") / (F.col("n1") * F.col("n2"))), 6
            ).alias("pmi"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — keyword extraction with smoothed
    idf = ln((N+1)/(df_t+1)) + 1 (never zero, never divides by zero).

    Plan: one explode → (id, token) count; document frequency is a
    |vocab|-row aggregate joined back BROADCAST (token dim is bounded by
    the language); N rides a broadcast 1-row aggregate; the top-k window
    partitions on the document id — never global.  Ranking orders by the
    ROUNDED score (then token asc): float dust below 1e-6 must not let two
    engines disagree on which tied term ranks k-th."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    ).where(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    # tf feeds the broadcast document-frequency aggregate AND the scoring
    # probe — pin it once (r6, same repeated-subtree fix as bigram_lm)
    tf = tf.localCheckpoint()
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_t"))
    n = df.agg(F.count("*").alias("_n"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(F.broadcast(n))
        .select(
            "id",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1) / (F.col("df_t") + 1)) + F.lit(1.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(
            F.col("id").alias(id_col),
            "token",
            "tf",
            "score",
            F.col("_rk").cast("int").alias("rk"),
        )
    )


def _doc_bigrams(
    df: DataFrame, text_col: str, id_col: str, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(carry..., id, w1, w2) — one row per bigram OCCURRENCE, never
    crossing document boundaries.  posexplode keeps the token stage narrow;
    ONE shuffle on the document id orders each sequence for the lag.
    ``carry_cols`` ride along (constant within the id partition — free),
    so consumers that group by something other than the id (e.g.
    ngram_diversity's language) share THIS tokenization instead of
    re-implementing it."""
    carry = [F.col(c) for c in carry_cols]
    toks = df.select(
        *carry,
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"),
    ).where(F.col("token") != "")
    w = Window.partitionBy("id").orderBy("pos")
    return toks.select(
        *[F.col(c) for c in carry_cols],
        "id",
        F.lag("token").over(w).alias("w1"),
        F.col("token").alias("w2"),
    ).where(F.col("w1").isNotNull())


def bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """Add-k smoothed bigram model over per-document token sequences:
    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) is w1's count
    AS A BIGRAM PREFIX (sum over observed w2) and V the number of distinct
    observed second tokens — the self-contained formulation that needs no
    unigram table and is exactly recomputable in SQL.

    Plan: the aggregation key shrinks to (w1, w2) ≤ |vocab|² rows, and both
    normalizers (prefix sums, distinct-V) are windows over that bounded
    aggregate.  Documents never concatenate across ids — bigrams do not
    cross document boundaries."""
    return _add_k_lm(_doc_bigrams(df, text_col, id_col), add_k)


def _add_k_lm(occ: DataFrame, add_k: float) -> DataFrame:
    """(w1, w2, n, p): the add-k table over bigram occurrences ``occ`` —
    ``bigram_lm``'s published table and ``bigram_perplexity``'s scorer.

    The (w1, w2, n) counts feed the V aggregate AND the prob projection,
    both via broadcast, so nothing is shared: pin the bounded counts once
    or the corpus-wide tokenize+lag pipeline runs twice (r6).  V is a
    broadcast 1-row aggregate: a collect_set window would carry the whole
    vocabulary per output row — O(|vocab|³) cells at scale."""
    counts = occ.groupBy("w1", "w2").agg(F.count("*").alias("n")).localCheckpoint()
    prefix_w = Window.partitionBy("w1")
    v = counts.agg(F.countDistinct("w2").alias("_v"))
    return counts.join(F.broadcast(v)).select(
        "w1",
        "w2",
        "n",
        F.round(
            (F.col("n") + F.lit(add_k))
            / (F.sum("n").over(prefix_w) + F.lit(add_k) * F.col("_v")),
            6,
        ).alias("p"),
    )


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """Per-document cross-entropy and perplexity under the corpus's own
    add-k bigram LM — the KenLM/CCNet-style fluency score used to bucket a
    pretraining corpus by quality (low perplexity = formulaic/boilerplate,
    high = noisy/foreign; the middle buckets train best).

    Self-scoring means every document bigram exists in the model by
    construction, so there is no unseen-bigram backoff branch — the join to
    the LM table always hits.  Probabilities are rounded to 6 places BEFORE
    the log (matching ``bigram_lm``'s published table) so two engines fold
    identical doubles.

    Plan: bigram occurrences keep (id, w1, w2) — one keyed shuffle for the
    lag; the LM side aggregates to ≤ |vocab|² rows and joins back BROADCAST
    (bounded by the language, like tfidf's document-frequency table); the
    per-document aggregate is partial-agg friendly.  Documents with fewer
    than two tokens have no bigrams and are absent — same in any oracle."""
    occ = _doc_bigrams(df, text_col, id_col)
    # occ feeds the LM counts AND the scoring probe via broadcasts, so
    # nothing is shared and the tokenize+lag pipeline re-ran 3× (r6-before
    # plan: 3 document scans).  Pinning occ (and, in _add_k_lm, the counts)
    # cuts it to one pass; measured interleaved A/B at 10× bench scale:
    # 1.86 s → 1.55 s best-of-3.
    occ = occ.localCheckpoint()
    lm = _add_k_lm(occ, add_k).select("w1", "w2", "p")
    nll = F.avg(-F.log(F.col("p")))
    return (
        occ.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(nll), 6).alias("ppl"),
        )
        .withColumnRenamed("id", id_col)
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    n: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram type-token ratio per group — the corpus-diversity diagnostic
    (a self-repetitive / templated source shows a low distinct-to-total
    n-gram ratio; Self-BLEU's cheap cousin).  Uses the same per-document
    bigram stream as the LM ops for n=2 (n-grams never cross documents).

    Plan: the shared ``_doc_bigrams`` stream with the group riding the
    per-document lag window (constant within the id partition, no
    join-back) → a two-stage aggregate (count + countDistinct lower to
    partial aggregation on (group, gram) first); one row per group."""
    if n != 2:
        raise ValueError("only n=2 supported (the shared per-doc bigram stream)")
    grp = F.col(group_col) if group_col else F.lit("all")
    occ = _doc_bigrams(
        df.withColumn("_grp", grp), text_col, id_col, carry_cols=("_grp",)
    )
    grams = occ.select(
        F.col("_grp").alias("grp"), F.concat_ws(" ", "w1", "w2").alias("gram")
    )
    return grams.groupBy("grp").agg(
        F.count("*").alias("total_grams"),
        F.countDistinct("gram").alias("distinct_grams"),
        F.round(F.countDistinct("gram") / F.count("*"), 6).alias("ttr"),
    )
