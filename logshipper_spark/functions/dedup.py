"""Deduplication operators for training-data pipelines.

Four tiers, increasing fuzziness, each designed around its shuffle shape:

* **exact**            — hash-groupBy on a normalized fingerprint.  One
  shuffle on a short key; at 100 TB the md5 key (16B) shuffles, never the
  document text.
* **MinHash + LSH**    — shingle → K minhashes → B bands; duplicates are
  candidate pairs sharing a band bucket.  The band join is an equi-join on
  (band_id, band_hash) so Catalyst shuffles only (doc_id, band_hash) pairs;
  verification (exact Jaccard) runs only on candidates.
* **SimHash**          — 64-bit fingerprint from token-hash bit voting;
  near-dups share the fingerprint (or a rotated band of it).
* **n-gram Jaccard**   — exact verification metric over candidate pairs.

Every LSH tier — minhash bands, simhash chunks and
``similarity.cosine_pairs``'s hyperplane sketches — finds its candidates
through ONE bucket join, ``_bucket_pairs``: one pin of the bucketed rows,
one self-join on the bucket key, one hub-star guard for oversize buckets.

MinHash signatures and Jaccard grams come from Arrow kernels over ONE
tokenizer and shingler (``textstats._words`` / ``textstats._grams``), so
the signatures hash exactly the grams the verify stage compares
(interpreted higher-order-function lambdas cost ~20x more); exact and
SimHash hashing stay JVM-side (xxhash64/md5, codegen).
"""

from __future__ import annotations

import operator
import zlib
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from logshipper_spark.functions.textstats import _grams, _words, fingerprint, ngram_array_pandas


# ---------------------------------------------------------------- exact --
def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated set: one doc (min id) per fingerprint."""
    keep = (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("fp")
    )
    return df.join(keep, on=id_col, how="left_semi")


# -------------------------------------------------------------- minhash --
def minhash_signatures_pandas(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(id, sig) via ONE ``mapInArrow`` pass — the signature path of
    ``minhash_candidates`` (~20x over interpreted higher-order functions,
    measured).

    Signs the verify stage's own grams: each text's distinct ``k``-grams
    come from the shingler ``jaccard`` uses (``textstats._grams`` over
    ``textstats._words``).  Per batch: crc32 base hash per gram, then per
    hash function one universal-hash ``min((A·h + B) mod p)`` over every
    gram of the batch, reduced per document.  crc32 + seeded RandomState
    keep it deterministic across workers and runs (no reliance on
    PYTHONHASHSEED).  A NULL text gets no row; the id column passes
    through, so ``id`` has the input schema's type.
    """
    mask = np.int64((1 << 61) - 1)
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 61, size=num_hashes).astype(np.int64)
    b = rng.randint(0, 1 << 61, size=num_hashes).astype(np.int64)
    tid = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for batch in batches:
            texts = batch.column(1)
            keep = texts.is_valid()
            grams = [_grams(_words(t), k) for t in texts.filter(keep).to_pylist()]
            h = np.fromiter((zlib.crc32(g.encode()) for gs in grams for g in gs), np.int64)
            # every text has at least one gram, so no segment is empty
            lens = np.fromiter(map(len, grams), dtype=np.int64, count=len(grams))
            starts = np.cumsum(lens) - lens
            sig = np.empty((num_hashes, len(grams)), dtype=np.int64)
            for j in range(num_hashes if len(grams) else 0):
                sig[j] = np.minimum.reduceat((a[j] * h + b[j]) & mask, starts)
            offsets = pa.array(np.arange(0, sig.size + 1, num_hashes, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).filter(keep), pa.ListArray.from_arrays(offsets, sig.T.ravel())],
                names=["id", "sig"],
            )

    return df.select(id_col, text_col).mapInArrow(run, f"id {tid}, sig array<long>")


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    bucket_cap: int = 1000,
    seed: int = 7,
) -> DataFrame:
    """LSH banding: docs sharing any (band_id, band_hash) bucket become
    candidate pairs.  Plan shape: narrow signature compute → explode to
    B rows/doc → ONE shuffle on the band hash → per-bucket self-join.

    Signatures come from ``minhash_signatures_pandas``.  Returns
    (id_a, id_b), id_a < id_b, distinct.

    ``bucket_cap`` — the degenerate-bucket guard: a bucket holding n docs
    produces n(n-1)/2 pairs inside ONE task, so a boilerplate/empty-doc
    bucket with 10^5 members is a 5·10^9-pair task at corpus scale.
    Buckets with more than ``bucket_cap`` members are NOT silently dropped:
    they emit STAR pairs (min-id hub × every member, O(n) pairs) instead of
    all-pairs — downstream exact-Jaccard verification still sees every
    member of the bucket, and identical-doc floods resolve through the hub
    (connected components / keep-min-id semantics are unaffected).  Genuine
    near-dup pairs between two non-hub members of an oversize bucket may be
    missed — the standard LSH recall/cost trade, bounded and explicit.
    Set ``bucket_cap=0`` to disable.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_pandas(df, text_col, id_col, num_hashes, k, seed)
    banded = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)), b
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    return _bucket_pairs(banded, ["band_id", "band_hash"], bucket_cap).distinct()


def _bucket_pairs(items: DataFrame, keys: list[str], bucket_cap: int,
                  carry: str | None = None) -> DataFrame:
    """The LSH bucket join: every pair of ``items`` rows sharing a bucket.

    ``items`` holds ``(id, [carry], *keys)`` rows, one per (item, bucket).
    Returns NON-distinct ``(id_a, id_b[, a_<carry>, b_<carry>])`` pairs
    with id_a < id_b (an item pair sharing several buckets repeats); the
    ``carry`` column (a fingerprint, a vector) rides along so the verify
    stage needs no lookup join.

    ``bucket_cap=0`` is a plain self-join on ``keys``.  Otherwise ONE
    aggregate per bucket gives its size, its hub (min id) and the hub's
    carry (``min_by``); buckets of at most ``bucket_cap`` rows self-join,
    larger ones emit (hub, member) star pairs — O(n) instead of O(n²) in
    one task (see ``minhash_candidates`` for the recall trade).

    ``items`` is pinned (localCheckpoint) once per call: it is consumed by
    the bucket aggregate, the stats join, both self-join sides and the
    star branch, and because the small stats side broadcasts no exchange
    reuse fires, so Catalyst would re-run the whole upstream signature
    pass (an Arrow pass over the corpus, 64 vote aggregates or a sketch
    matmul) once per consumer — six signature passes in the unpinned
    minhash plan, measured 5.3 s vs 0.86 s for one at sf0.1.  The pin
    holds ids, bucket keys and the carry, never text, and is rebuilt on
    every call (no cross-run state).
    """
    items = items.localCheckpoint()
    pay = [carry] if carry else []
    star = None
    if bucket_cap:
        stats = items.groupBy(*keys).agg(
            F.count("*").alias("bn"), F.min("id").alias("hub"),
            *[F.min_by(c, "id").alias(f"hub_{c}") for c in pay],
        )
        tagged = items.join(stats, keys)
        star = tagged.where((F.col("bn") > bucket_cap) & (F.col("id") != F.col("hub"))).select(
            F.col("hub").alias("id_a"), F.col("id").alias("id_b"),
            *[F.col(f"hub_{c}").alias(f"a_{c}") for c in pay],
            *[F.col(c).alias(f"b_{c}") for c in pay],
        )
        items = tagged.where(F.col("bn") <= bucket_cap)
    a, b = items.alias("a"), items.alias("b")
    cond = reduce(operator.and_, [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys]
                  + [F.col("a.id") < F.col("b.id")])
    pairs = a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        *[F.col(f"{side}.{c}").alias(f"{side}_{c}") for side in "ab" for c in pay],
    )
    return pairs if star is None else pairs.unionByName(star)


def jaccard(df_pairs: DataFrame, docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", k: int = 3,
            broadcast_pairs: bool = True) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage).

    Semi-joins the pair ids into docs first and shingles each candidate
    doc ONCE (never the full corpus — measured ~18s vs ~1s at sf0.1 —
    and never per pair-side: a doc in d pairs pays one shingle pass, not
    d).  With ``broadcast_pairs=True`` (default) the pair-list side is
    EXPLICITLY broadcast in both joins (not left to the 64 MB
    auto-threshold): a candidate list near the threshold silently
    degrading to a sort-merge join would shuffle the gram arrays.
    Plan-asserted in tools/explain_audit.py.

    On dup-heavy corpora the candidate set × document text can exceed
    broadcast limits — an unconditional hint then turns a slow-but-working
    shuffle plan into a hard job failure.  Pass ``broadcast_pairs=False``
    to fall back to Spark's size-based decision (auto-broadcast when the
    side is genuinely small, sort-merge otherwise).
    """
    # r6 verify-stage rework (guide §4.1/§2.3), two changes vs the
    # join-text-then-shingle-per-pair form, output-identical:
    #
    # 1. Grams come from the Arrow kernel (the grams the signatures
    #    hash), not an interpreted-HOF transform that re-evaluates the
    #    tokenize subexpression PER ELEMENT (measured 1.6 s of a 1.85 s
    #    verify for 256 pairs at sf0.1).
    # 2. Grams are computed ONCE PER UNIQUE CANDIDATE DOC (semi-join the
    #    pair ids into docs first, shingle, pin), then the pair joins
    #    attach the precomputed arrays.  The old shape shingled per
    #    pair-SIDE, so a doc in d pairs paid d shingle passes — on a
    #    dup-heavy corpus (the exact case LSH surfaces) that is the
    #    whole wall: measured 12 s → ~1 s verify for 225k pairs over
    #    50k docs (10× stress table).

    # the pair list is consumed three times below (two id projections +
    # the pair join); pin it so an expensive upstream candidate plan
    # (LSH banding + bucket-cap joins) is not re-executed per consumer
    df_pairs = df_pairs.localCheckpoint()
    ids = (
        df_pairs.select(F.col("id_a").alias("id"))
        .unionByName(df_pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if broadcast_pairs:
        ids = F.broadcast(ids)
    g = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .join(ids, "id", "left_semi")
        .select("id", ngram_array_pandas(k)(F.col("t")).alias("g"))
        .localCheckpoint()  # candidate-bounded; reused by BOTH pair joins
    )
    pairs = F.broadcast(df_pairs) if broadcast_pairs else df_pairs
    joined_a = pairs.join(g.withColumnsRenamed({"id": "id_a", "g": "ga"}), "id_a")
    if broadcast_pairs:
        # first join's output is pairs + candidate-A grams: still candidate-
        # bounded (≪ corpus), so broadcast it into the second join too
        joined_a = joined_a.hint("broadcast")
    out = (
        joined_a
        .join(g.withColumnsRenamed({"id": "id_b", "g": "gb"}), "id_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("uni", F.size(F.array_union("ga", "gb")))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / F.greatest(F.col("uni"), F.lit(1)).cast("double"), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup_pairs(df: DataFrame, threshold: float = 0.8, **kw) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold."""
    broadcast_pairs = kw.pop("broadcast_pairs", True)
    cands = minhash_candidates(df, **kw)
    return jaccard(cands, df, text_col=kw.get("text_col", "text"),
                   id_col=kw.get("id_col", "doc_id"), k=kw.get("k", 3),
                   broadcast_pairs=broadcast_pairs).where(
        F.col("jaccard") >= threshold
    )


# -------------------------------------------------------------- simhash --
def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash hex) via explode + 64 codegen'd vote aggregates (the
    interpreted ``zip_with`` Column form, kept as the test reference, pays
    interpreted-lambda cost per token × bit).

    Per token row: one hash; the 64 ``sum(±1)`` aggregates test a
    LITERAL bit each (shiftright with a constant is codegen'd).  Shuffle
    carries (id, 64 ints) partial vote rows.

    ``hash_fn``: ``"xxhash64"`` (default — one 64-bit non-crypto hash per
    token, the cheapest scale path) or ``"md5"`` (token hash = first 16
    hex chars of md5 as two 32-bit halves — md5 exists in DuckDB too, so
    this variant is ORACLE-CHECKABLE cross-engine; same plan shape, only
    the leaf hash differs).
    """
    toks = F.filter(
        F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]+", " ")), r"\s+"),
        lambda t: t != "",
    )
    t = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
    if hash_fn == "xxhash64":
        h = F.xxhash64("tok")

        def bit(b: int):
            return F.shiftright(h, b).bitwiseAND(F.lit(1))
    elif hash_fn == "md5":
        # two 32-bit halves: conv() on 16 hex chars would overflow the
        # signed long under ANSI; subexpression elimination computes the
        # md5 once per row
        hi = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10).cast("long")

        def bit(b: int):
            return F.shiftright(lo if b < 32 else hi, b % 32).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    aggs = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(64)
    ]
    votes = t.groupBy("id").agg(*aggs)
    # MSB-first bit string → two 32-bit hex halves (full 64-bit conv would
    # overflow the signed long under ANSI)
    bits = F.concat(*[F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(63, -1, -1)])
    sim = F.concat(
        F.lpad(F.conv(F.substring(bits, 1, 32), 2, 16), 8, "0"),
        F.lpad(F.conv(F.substring(bits, 33, 32), 2, 16), 8, "0"),
    )
    return votes.select("id", sim.alias("simhash"))


def simhash_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Docs sharing an identical 64-bit simhash — one shuffle on a 16-char
    key.  (For Hamming-distance≤k near-dups see ``simhash_near_duplicates``.)"""
    sh = simhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    return (
        sh.groupBy("simhash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components of the near-dup
    pair graph, so dedup can keep ONE representative per cluster (min id).

    Iterative min-label propagation WITH pointer jumping (label-of-label),
    the distributed-CC shape of large-star/small-star: plain propagation
    needs O(diameter) rounds — a 500-doc chain is 500 shuffles — pointer
    jumping halves the remaining distance every round, so convergence is
    O(log diameter).  Each round is two equi-joins + a hash aggregate; the
    frame is localCheckpoint()ed per round to cut the iterative lineage
    (Catalyst plans grow exponentially otherwise).  Convergence is detected
    by counting changed labels (one small action per round).

    Returns (id, component) where component = min id reachable.
    """
    # materialize the (possibly expensive) edge plan ONCE — the propagation
    # loop joins against sym every round and would otherwise re-run the
    # whole candidate-generation plan per iteration
    sym = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).unionByName(
        edges.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
    ).distinct().localCheckpoint()
    if nodes is None:
        nodes = sym.select(F.col("a").alias("id")).distinct()
    else:
        cols = nodes.columns
        nodes = nodes.select(F.col(cols[0]).alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("lbl")).localCheckpoint()
    for _ in range(max_iter):
        neigh = (
            sym.join(labels.withColumnsRenamed({"id": "nid", "lbl": "nlbl"}),
                     sym["b"] == F.col("nid"))
            .groupBy("a")
            .agg(F.min("nlbl").alias("nl"))
        )
        prop = labels.join(neigh, labels["id"] == neigh["a"], "left").select(
            "id", F.least(F.col("lbl"), F.coalesce("nl", F.col("lbl"))).alias("lbl")
        )
        # pointer jump: lbl := label(lbl)
        jump = prop.withColumnsRenamed({"id": "jid", "lbl": "jlbl"})
        jumped = prop.join(jump, prop["lbl"] == F.col("jid"), "left").select(
            "id", F.coalesce("jlbl", F.col("lbl")).alias("lbl")
        ).localCheckpoint()
        changed = (
            jumped.withColumnsRenamed({"lbl": "new_lbl"})
            .join(labels, "id")
            .where(F.col("new_lbl") != F.col("lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("id", F.col("lbl").alias("component"))


def hamming64_hex(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-char hex simhash fingerprints —
    xor + bit_count on the two 32-bit halves (full 64-bit conv would
    overflow the signed long under ANSI mode)."""
    d = F.lit(0)
    for i in (1, 9):
        ai = F.conv(F.substring(a, i, 8), 16, 10).cast("long")
        bi = F.conv(F.substring(b, i, 8), 16, 10).cast("long")
        d = d + F.bit_count(ai.bitwiseXOR(bi))
    return d


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bucket_cap: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming`` of the 64-bit
    SimHash — the banded variant: split the fingerprint into
    ``max_hamming + 1`` chunks; by pigeonhole, two fingerprints differing in
    ≤ k bits agree EXACTLY on at least one chunk, so an equi-join on
    (chunk_id, chunk_value) finds every such pair with zero false negatives;
    exact Hamming verification prunes false positives.  Shuffle key is the
    (chunk_id, chunk hex substring) pair — the text never shuffles.

    Oversize chunk buckets (boilerplate floods) emit hub-star candidates
    instead of all-pairs, same trade as ``minhash_candidates``.
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    chunks = max_hamming + 1
    if not 1 <= chunks <= 16:
        raise ValueError("max_hamming must be in [0, 15] (16 hex chars)")
    sh = simhash_signatures(df, text_col, id_col, hash_fn=hash_fn)
    width = 16 // chunks  # hex chars per chunk; remainder folds into the last
    bounds = [(c * width + 1, width if c < chunks - 1 else 16 - (chunks - 1) * width)
              for c in range(chunks)]
    chunk_arr = F.array(*[F.substring("simhash", s, w) for s, w in bounds])
    banded = sh.select("id", "simhash", F.posexplode(chunk_arr).alias("chunk_id", "chunk_val"))
    cand = _bucket_pairs(banded, ["chunk_id", "chunk_val"], bucket_cap, carry="simhash")
    return (
        cand.withColumn("hamming", hamming64_hex(F.col("a_simhash"), F.col("b_simhash")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def canonical_pick(
    components: DataFrame,
    docs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Representative selection after clustering — the "keep the best copy"
    half of a dedup pipeline: for each connected component, pick the member
    with the highest ``score_col`` (ties → lowest id) and report the
    cluster size.  ``components`` is ``connected_components`` output
    (id, component).

    Plan: one join to attach scores, then ONE aggregate on the component id
    — ``max(struct(score, -id))`` does the argmax inside the partial
    aggregate (combiner-friendly), so no per-component window and no
    sort; output is one row per cluster."""
    scored = components.join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score")), "id"
    )
    best = F.max(F.struct(F.col("_score"), (-F.col("id")).alias("_negid")))
    return (
        scored.groupBy("component")
        .agg(best.alias("_b"), F.count("*").alias("n_members"))
        .select(
            "component",
            (-F.col("_b._negid")).alias("canonical_id"),
            F.col("_b._score").alias("canonical_score"),
            "n_members",
        )
    )
