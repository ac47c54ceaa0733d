"""Similarity search over embedding columns (array<float> or array<double>).

Every vector kernel runs on Arrow batches (``mapInArrow`` /
``applyInArrow``) and reads its vectors through one helper, ``_vectors``,
which also fixes the input contract in one place:

* a vector that is NULL, has a NULL element, or has a length other than
  its counterpart's (the query, a centroid, the bench matrix, the other
  pair side or the other rows of its block) gets a NULL similarity, as the
  column form ``zip_with``/``aggregate`` cosine gives; it never fails the
  batch;
* NULL similarities rank after every non-NULL one;
* ids pass through as the input Arrow array, so an output id column has
  the input schema's type (long, string, ...).

Operators:

* ``cosine_topk``    — brute-force exact top-k: each Arrow batch keeps its
  local top-k (one numpy matmul against the query), then
  ``orderBy().limit(k)`` merges them.  The correctness baseline and the
  right answer for a single query even at scale (scan is embarrassingly
  parallel; only k rows per batch shuffle).  ``cosine_topk_batch`` is the
  same pass for a batch of queries.
* ``lsh_bucket_topk`` — random-hyperplane LSH scale path: sign-bit sketch
  per vector, candidates share the query's bucket (optionally within
  Hamming distance h), exact ``cosine_topk`` only on candidates.  Trades
  recall for a ~2^bits scan reduction — the 100 TB path for query batches.
* ``cosine_pairs``   — near-dup by embedding: all pairs with cosine ≥ t,
  LSH-bucketed self-join so the shuffle key is the sketch, not the vector.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from logshipper_spark.sources.local import local_table


def _vectors(arr: pa.ListArray, d: int) -> tuple[np.ndarray, np.ndarray]:
    """(matrix, rows): the float64 n×d matrix of the rows of ``arr`` whose
    vector is non-NULL, has no NULL element and has length ``d``, and
    those rows' indices in ascending order.  Every other row is left out,
    so its caller gives it a NULL similarity.  One ``take`` and one
    ``flatten`` over the Arrow list buffers, no per-row Python."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    rows = np.flatnonzero(pc.list_value_length(arr).fill_null(-1).to_numpy() == d)
    vals = arr.take(rows).flatten()
    m = vals.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(rows), d)
    if vals.null_count:
        ok = ~vals.is_null().to_numpy(zero_copy_only=False).reshape(len(rows), d).any(axis=1)
        rows, m = rows[ok], m[ok]
    return m, rows


def _lengths(arr: pa.ListArray) -> np.ndarray:
    """The distinct lengths of the non-NULL vectors in ``arr``."""
    return np.unique(pc.list_value_length(arr).drop_null().to_numpy())


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def embedding_norms(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    return df.select(F.col(id_col), F.round(_norm(F.col(vec_col)), 6).alias("l2_norm"))


def _local_topk(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(q_id, id_col, cosine_sim): each Arrow batch's own top-k rows per
    query.  The Q×d query matrix ships in the task closure; a batch
    computes its batch×Q similarity matrix as ONE numpy matmul and keeps
    k rows per query under the SAME total order as the global rank
    (cosine rounded to 6 desc with NULLs last, id asc), so boundary ties
    stay exact."""
    q_ids = [int(q) for q, _ in queries]
    Q = np.asarray([v for _, v in queries], dtype=np.float64)  # Q×d
    Qn = np.linalg.norm(Q, axis=1)
    tid = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for b in batches:
            ids = b.column(0)
            m, rows = _vectors(b.column(1), Q.shape[1])
            sims = np.full((b.num_rows, len(q_ids)), np.nan)  # NaN → NULL
            sims[rows] = np.round(
                (m @ Q.T) / (np.linalg.norm(m, axis=1)[:, None] * Qn[None, :]), 6
            )
            for j, qid in enumerate(q_ids):
                s = pa.array(sims[:, j], from_pandas=True)
                top = pc.sort_indices(
                    pa.table({"s": s, "id": ids}),
                    sort_keys=[("s", "descending"), ("id", "ascending")],
                    null_placement="at_end",
                )[:k]
                yield pa.RecordBatch.from_arrays(
                    [pa.array([qid] * len(top), pa.int64()), ids.take(top), s.take(top)],
                    names=["q_id", id_col, "cosine_sim"],
                )

    return df.select(id_col, vec_col).mapInArrow(
        run, f"q_id long, {id_col} {tid}, cosine_sim double"
    )


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``: (id_col, cosine_sim).

    Each Arrow batch keeps its local top-k (``_local_topk``);
    ``orderBy().limit(k)`` lowers to TakeOrderedAndProject — per-partition
    top-k then a k-row merge on the driver, no full sort shuffle.
    """
    scored = _local_topk(df, [(0, query)], k, vec_col, id_col).select(id_col, "cosine_sim")
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def cosine_topk_batch(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k for a BATCH of queries in one pass — the shape a training
    pipeline needs (dedupe a candidate set against Q probe vectors, retrieve
    neighbors for Q seed docs) without Q separate scans.

    Plan shape: ``_local_topk`` emits ≤ Q·k rows per Arrow batch; the
    final window ranks ≤ Q·k·n_batches pre-pruned rows — the shuffle
    carries candidates, never the corpus.  Returns (q_id, id_col,
    cosine_sim, rk).
    """
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        _local_topk(df, queries, k, vec_col, id_col)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("q_id", id_col, "cosine_sim", "rk")
    )


def pairwise_cosine(
    pairs: DataFrame,
    va_col: str = "va",
    vb_col: str = "vb",
    out_col: str = "cosine_sim",
) -> DataFrame:
    """Exact cosine for (id_a, id_b, va, vb) candidate rows via ONE numpy
    pass per Arrow batch — the vectorized replacement for the interpreted
    column-form cosine on pair streams (HOF lambdas evaluate per ELEMENT:
    64 interpreted evals per dim per pair; measured 20×+ on dup-heavy
    candidate sets).  Returns (id_a, id_b, out_col) with the RAW double —
    callers round Spark-side (F.round) so the rounding/parity convention
    stays in one place.  float64 throughout, same convention as
    cosine_topk/embedding_decontam (both oracle-exact against DuckDB
    ::DOUBLE[] math).

    A pair whose sides differ in length, or with a NULL vector or element,
    gets a NULL cosine.  Pairs of one length are computed together, so a
    batch may mix dimensions."""

    def run(batches):
        for b in batches:
            va, vb = b.column(2), b.column(3)
            cos = np.full(b.num_rows, np.nan)  # NaN → NULL
            for d in _lengths(va):
                A, ra = _vectors(va, d)
                B, rb = _vectors(vb, d)
                rows, ia, ib = np.intersect1d(ra, rb, assume_unique=True, return_indices=True)
                A, B = A[ia], B[ib]
                cos[rows] = (A * B).sum(axis=1) / (
                    np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                )
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(cos, from_pandas=True)],
                names=["id_a", "id_b", out_col],
            )

    ta = pairs.schema["id_a"].dataType.simpleString()
    tb = pairs.schema["id_b"].dataType.simpleString()
    return pairs.select("id_a", "id_b", va_col, vb_col).mapInArrow(
        run, f"id_a {ta}, id_b {tb}, {out_col} double"
    )


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strip: int = 1024,
) -> DataFrame:
    """All within-block pairs with cosine ≥ threshold — the exact blocked
    self-join, computed as ONE BLAS matmul per block instead of a pair
    join (r6): a self-join ships BOTH vectors across the Python boundary
    once PER PAIR (O(n²·d) Arrow bytes per block); here each vector
    crosses once per block (O(n·d)) and the n×n similarity matrix is a
    numpy matmul, strip-chunked to bound memory at ``strip``×n cells per
    step.  Kernel emits RAW cosines for candidates above
    ``threshold − 1e-6`` (a guard band of one rounding quantum, so the
    authoritative Spark-side F.round/filter decides every boundary case);
    callers apply
    ``round(…, 6) >= threshold`` — done here, so output is identical to
    the pair-join form (differentially verified, diff 0).

    Memory bound: one block's vectors (n×d float64) per task — the same
    per-task block residency the join's build side needs.  Blocks too
    large for that belong to the LSH path (``cosine_pairs``), exactly as
    before.  Zero-norm vectors divide to NaN and drop at the threshold,
    and a NULL vector or element drops too; vectors pair only with the
    block's vectors of their own length — the column form's NULL cosine
    fails the threshold in every such case.  Rows with a NULL block key
    are excluded up front: the join form's ``a.block = b.block`` is
    NULL-false, so NULL-keyed rows never pair there either (review r6)."""
    # guard band = one full rounding quantum (1e-6), NOT a ulp: F.round
    # is HALF_UP, so a raw cosine as low as threshold - 5e-7 still rounds
    # UP past the threshold — the kernel must emit every candidate the
    # Spark-side round(…,6) >= threshold could keep (review r6; a 1e-9
    # band silently dropped raws in [thr-5e-7, thr-1e-9))
    thr = float(threshold) - 1e-6

    def part(t):
        t = t.sort_by(id_col)
        ids, vecs = t.column(id_col), t.column(vec_col)
        ia, ib, cs = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
        for d in _lengths(vecs):
            M, rows = _vectors(vecs, d)
            n = np.linalg.norm(M, axis=1)
            for i0 in range(0, len(rows), strip):
                C = (M[i0:i0 + strip] @ M.T) / (n[i0:i0 + strip, None] * n[None, :])
                r, j = np.nonzero(C >= thr)
                keep = j > r + i0  # upper triangle: id_a < id_b
                r, j = r[keep], j[keep]
                ia.append(rows[r + i0])
                ib.append(rows[j])
                cs.append(C[r, j])
        return pa.table({
            "id_a": ids.take(np.concatenate(ia)),
            "id_b": ids.take(np.concatenate(ib)),
            "cosine_sim": np.concatenate(cs),
        })

    tid = df.schema[id_col].dataType.simpleString()
    cand = (
        df.select(id_col, block_col, vec_col)
        .where(F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInArrow(part, f"id_a {tid}, id_b {tid}, cosine_sim double")
    )
    return cand.select(
        "id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim")
    ).where(F.col("cosine_sim") >= float(threshold))


def hyperplane_sketches(
    df: DataFrame,
    bits: int = 16,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, sketch): random-hyperplane sign sketch via posexplode +
    codegen'd dot-product aggregates.  Bit b = sign(v · r_b) where r_b is a
    deterministic pseudo-random hyperplane derived from xxhash64(seed, b,
    i) — reproducible across engines and runs.

    Per (id, i, v) row each of the B aggregates adds ``v * r_b[i]`` where
    the hyperplane component is xxhash-derived inline; sign bits assemble
    into a long.  The Generate emits NARROW (id, i, v) rows only — an
    earlier form carried the whole embedding on every exploded row to
    reconstitute it with first(), inflating in-memory row width ~dim×
    before the partial agg.  The (id, vec) projection is joined back on id
    instead: shuffle bytes are unchanged (the vector previously rode the
    shuffle inside partial_first anyway — (id, vec, B doubles) either way,
    split across two exchanges here), and the Generate stays dim scalars
    per doc instead of dim×dim.
    """
    e = df.select(F.col(id_col).alias("id"), F.posexplode(vec_col).alias("i", "v"))

    def comp(b: int):
        h = F.xxhash64(F.lit(seed), F.lit(b), F.col("i"))
        return (F.pmod(h, F.lit(2_000_000)).cast("double") / 1_000_000.0) - 1.0

    aggs = [F.sum(F.col("v").cast("double") * comp(b)).alias(f"d{b}") for b in range(bits)]
    dots = e.groupBy("id").agg(*aggs)
    sketch = None
    for b in range(bits):
        bit = F.when(F.col(f"d{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sketch = bit if sketch is None else sketch + bit
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return dots.select("id", sketch.alias("sketch")).join(vecs, "id").select("id", "v", "sketch")


def _query_sketch(spark, query: list[float], bits: int, seed: int = 11) -> int:
    """The query's sketch: ``hyperplane_sketches`` itself over a one-row
    local table — one tiny job, and the same arithmetic as the scan side,
    so a stored vector used as the query lands in its own bucket."""
    q = local_table(spark, [(0, [float(x) for x in query])], "id long, v array<double>")
    return hyperplane_sketches(q, bits=bits, seed=seed, vec_col="v", id_col="id").first()["sketch"]


def lsh_bucket_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 12,
    hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: scan only vectors whose sketch is within
    ``hamming`` bits of the query's sketch, then exact rerank.

    At 100 TB the sketch is precomputed and stored (or Z-ordered /
    partitioned on), so the probe prunes partitions instead of filtering
    rows; here it's computed inline for self-containedness.
    """
    sk = hyperplane_sketches(df, bits=bits, vec_col=vec_col, id_col=id_col)
    qsk = _query_sketch(df.sparkSession, query, bits)
    cand = sk.where(F.bit_count(F.col("sketch").bitwiseXOR(F.lit(qsk))) <= hamming)
    cand = cand.select(F.col("id").alias(id_col), F.col("v").alias(vec_col))
    return cosine_topk(cand, query, k, vec_col, id_col)


def auto_sketch_bits(n_rows: int, target_bucket: int = 8) -> int:
    """Sketch width scaled to corpus size: mean bucket ≈ ``target_bucket``
    docs, clamped to [8, 24].  8 bits (256 buckets) is a test-scale default
    that goes O(n²/256) at corpus scale — bits must grow with N."""
    import math

    if n_rows <= 0:
        return 8
    return max(8, min(24, math.ceil(math.log2(max(n_rows / target_bucket, 2)))))


def write_sketch_table(
    df: DataFrame,
    path: str,
    bits: int = 12,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Precompute hyperplane sketches ONCE and store the table partitioned
    by sketch — the 100 TB layout ``lsh_bucket_topk`` assumes: a probe then
    reads only the partition directories within Hamming reach instead of
    scanning every vector (Catalyst partition pruning on the ``sketch``
    partition column; see ``lsh_topk_pruned``)."""
    sk = hyperplane_sketches(df, bits=bits, seed=seed, vec_col=vec_col, id_col=id_col)
    (
        sk.select(F.col("id").alias(id_col), F.col("v").alias(vec_col), "sketch")
        .repartition("sketch")
        .write.mode(mode)
        .partitionBy("sketch")
        .parquet(path)
    )


def lsh_topk_pruned(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    bits: int = 12,
    hamming: int = 1,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a sketch-partitioned table: enumerate the
    sketch values within ``hamming`` bits of the query's sketch (a small
    driver-side set: sum of C(bits, d)) and filter on the PARTITION column —
    the scan plan prunes to those directories, reading a ~2^bits-th of the
    table per probed bucket.  Exact cosine rerank on the survivors."""
    qsk = _query_sketch(spark, query, bits, seed)
    # enumerate sketches within hamming distance (bits choose ≤h values)
    from itertools import combinations

    probe = [int(qsk)]
    for d in range(1, hamming + 1):
        for flip in combinations(range(bits), d):
            v = int(qsk)
            for b in flip:
                v ^= 1 << b
            probe.append(v)
    cand = spark.read.parquet(path).where(F.col("sketch").isin(probe))
    return cosine_topk(cand, query, k, vec_col, id_col)


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 1000,
    tables: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucketed self-join (equi-join on the
    sketch → only same-bucket pairs shuffle), exact cosine verify ≥ t.

    Scale shape:
    * ``bits=None`` derives the sketch width from the corpus size (one
      count job) so expected bucket size stays ~constant as N grows.
    * ``tables`` independent sketch seeds are unioned: a near-dup pair only
      needs to collide in ONE table, recovering the recall that wider
      sketches cost (P(all bits equal) decays with bits; L tables give
      1-(1-p^bits)^L).
    * ``bucket_cap``: an oversize bucket (embedding floods) emits hub-star
      candidate pairs (O(n)) instead of all-pairs (O(n²)); every candidate
      still passes the EXACT cosine verify, so precision is unaffected —
      only non-hub near-dup pairs inside a flooded bucket can be missed.
    """
    if bits is None:
        bits = auto_sketch_bits(df.count())
    cand = None
    for t in range(tables):
        sk = hyperplane_sketches(
            df, bits=bits, seed=11 + 97 * t, vec_col=vec_col, id_col=id_col
        )
        # sk is consumed by the bucket stats, the tagged join, both
        # candidate self-join sides and the hub-vector lookup — without a
        # pin the sketch matmul pipeline re-runs once per consumer (r6,
        # same repeated-subtree fix as minhash_candidates)
        sk = sk.localCheckpoint()
        if bucket_cap:
            stats = sk.groupBy("sketch").agg(F.count("*").alias("bn"), F.min("id").alias("hub"))
            tagged = sk.join(stats, "sketch")
            small = tagged.where(F.col("bn") <= bucket_cap)
            a, b = small.alias("a"), small.alias("b")
            pairs_small = a.join(
                b, (F.col("a.sketch") == F.col("b.sketch")) & (F.col("a.id") < F.col("b.id"))
            ).select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            )
            big = tagged.where((F.col("bn") > bucket_cap) & (F.col("id") != F.col("hub")))
            hub_vecs = sk.select(F.col("id").alias("hub_id"), F.col("v").alias("hub_v"))
            pairs_star = big.join(hub_vecs, big["hub"] == hub_vecs["hub_id"]).select(
                F.col("hub").alias("id_a"), F.col("id").alias("id_b"),
                F.col("hub_v").alias("va"), F.col("v").alias("vb"),
            )
            t_pairs = pairs_small.unionByName(pairs_star)
        else:
            a, b = sk.alias("a"), sk.alias("b")
            t_pairs = a.join(
                b, (F.col("a.sketch") == F.col("b.sketch")) & (F.col("a.id") < F.col("b.id"))
            ).select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            )
        cand = t_pairs if cand is None else cand.unionByName(t_pairs)
    # vectorized exact verify (r6): the interpreted column-form cosine
    # pays per-element HOF evals on every candidate pair — the dominant
    # cost on dup-heavy corpora; differentially verified equal at 6
    # places over 212k pairs
    return (
        pairwise_cosine(cand.dropDuplicates(["id_a", "id_b"]))
        .select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold)
    )


class IVFIndex:
    """IVF (inverted-file) coarse quantizer, trained ONCE and reused across
    queries — the production shape: KMeans fits on a bounded SAMPLE, cell
    assignments are precomputed a single time, and every probe is a filter
    on the assignment column.  At 100 TB the assignment table is
    partitioned/bucketed by ``cell`` so a probe prunes
    ~(1 - n_probe/n_cells) of the scan via partition pruning; the fit cost
    is O(sample), independent of corpus size.
    """

    def __init__(self, centers, assigned: DataFrame, vec_col: str, id_col: str):
        self.centers = centers    # list[np.ndarray] — the coarse codebook
        self.assigned = assigned  # (id_col, vec_col, cell)
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        df: DataFrame,
        n_cells: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        train_rows: int = 100_000,
    ) -> "IVFIndex":
        """Fit the quantizer on ≤``train_rows`` sampled vectors (hash-free
        seeded sample → deterministic), then assign every row once."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = df.select(
            F.col(id_col),
            F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        )
        n = df.count()
        frac = min(1.0, train_rows / max(n, 1))
        train = feat if frac >= 1.0 else feat.sample(fraction=frac, seed=seed)
        km = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train.select("features"))
        assigned = km.transform(feat).select(
            id_col, vec_col, F.col("prediction").alias("cell")
        )
        return cls(km.clusterCenters(), assigned, vec_col, id_col)

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist assignments PARTITIONED BY CELL plus the codebook — the
        production layout: a probe on the stored table prunes to n_probe
        partition directories (see ``IVFIndex.load(...).topk``)."""
        import json
        import os

        (
            self.assigned.repartition("cell")
            .write.mode(mode)
            .partitionBy("cell")
            .parquet(path)
        )
        from logshipper_spark.sources.metafs import get_metafs

        get_metafs().write_text(
            os.path.join(path, "_centers.json"),
            json.dumps([list(map(float, c)) for c in self.centers]),
        )

    @classmethod
    def load(cls, spark, path: str, vec_col: str = "embedding",
             id_col: str = "vec_id") -> "IVFIndex":
        import json
        import os

        from logshipper_spark.sources.metafs import get_metafs

        centers = [
            np.asarray(c, dtype=np.float64)
            for c in json.loads(get_metafs().read_text(os.path.join(path, "_centers.json")))
        ]
        assigned = spark.read.parquet(path)
        return cls(centers, assigned, vec_col, id_col)

    def probe_cells(self, query: list[float], n_probe: int) -> list[int]:
        q = np.asarray(query, dtype=np.float64)
        centers = self.centers
        by_dist = sorted(range(len(centers)), key=lambda c: float(np.linalg.norm(centers[c] - q)))
        return [int(c) for c in by_dist[:n_probe]]

    def topk(self, query: list[float], k: int = 10, n_probe: int = 2) -> DataFrame:
        """Probe the ``n_probe`` cells nearest the query, exact rerank —
        NO refit: reuses the trained quantizer and precomputed assignments."""
        cand = self.assigned.where(F.col("cell").isin(self.probe_cells(query, n_probe)))
        return cosine_topk(cand, query, k, self.vec_col, self.id_col)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    index: IVFIndex | None = None,
):
    """IVF approximate top-k.  Pass a prebuilt ``index`` (IVFIndex.build)
    to amortize the quantizer across queries; building inline here is the
    self-contained single-query form (train-once is the scale path)."""
    if index is None:
        index = IVFIndex.build(
            df, n_cells=n_cells, vec_col=vec_col, id_col=id_col, seed=seed
        )
    return index.topk(query, k=k, n_probe=n_probe)


def embedding_decontam(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Benchmark decontamination by SEMANTIC similarity: per train vector,
    the max cosine against the whole benchmark set — rows meeting
    ``threshold`` are contamination suspects.  Complements the n-gram
    overlap check (textstats.contamination): paraphrased leakage shares no
    5-grams but stays close in embedding space.

    Scale shape: the benchmark side is collected to ONE dense matrix
    (benchmark suites are bounded — same assumption as the cached
    ``_bench_grams`` broadcast in curation) and closure-shipped into an
    Arrow ``mapInArrow`` pass over train: one scan, one BLAS matmul per
    batch, no join, no shuffle.  For a benchmark too large to collect,
    fall back to ``cosine_pairs`` (LSH-bucketed, multi-table) over the
    union — precision-identical, recall-bounded.

    NULL bench vectors (or ones with a NULL element) are dropped, as
    zero-norm ones are; a bench side of mixed lengths raises
    ``ValueError``.  A train vector that is NULL, has a NULL element or
    differs in length from the bench gets a NULL max_cos, as does every
    train vector when no bench vector is left (the max over an empty set),
    so none of them is reported.

    Returns ``(id_col, max_cos)`` filtered to ``max_cos >= threshold``
    (rounding happens Spark-side with F.round for cross-engine parity).
    """
    bvecs = bench.select(vec_col).toArrow().column(0)
    dims = _lengths(bvecs)
    if len(dims) > 1:
        raise ValueError(f"embedding_decontam: bench vectors have lengths {dims.tolist()}")
    bm, _ = _vectors(bvecs, dims[0] if len(dims) else 0)
    bn = np.linalg.norm(bm, axis=1, keepdims=True)
    # drop zero-norm (corrupt) benchmark rows instead of letting the
    # division produce a NaN row: one NaN in bm makes (mn @ bm.T) NaN for
    # EVERY train row and 'NaN >= threshold' is False — the whole
    # decontamination pass silently flags nothing (r5 advice, pinned in
    # tests).  A zero vector can't semantically match anything, so
    # dropping it is the correct behavior.
    keep_rows = bn.ravel() > 0.0
    bm = bm[keep_rows] / bn[keep_rows]
    tid = train.schema[id_col].dataType.simpleString()

    def run(batches):
        for b in batches:
            mx = np.full(b.num_rows, np.nan)  # NaN → NULL
            if len(bm):
                m, rows = _vectors(b.column(1), bm.shape[1])
                # zero-norm train rows: normalize by 1 → zero vector →
                # max_cos 0.0 (deterministic, below any real threshold),
                # never a NaN that poisons the comparison
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                mx[rows] = ((m / np.where(nrm > 0.0, nrm, 1.0)) @ bm.T).max(axis=1)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(mx, from_pandas=True)], names=[id_col, "max_cos"]
            )

    return (
        train.select(id_col, vec_col)
        .mapInArrow(run, f"{id_col} {tid}, max_cos double")
        .select(id_col, F.round("max_cos", 6).alias("max_cos"))
        .where(F.col("max_cos") >= float(threshold))
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    threshold: float = 0.0,
) -> DataFrame:
    """Embedding-quality scoring: cosine of every vector to its OWN label's
    centroid — mislabeled / noisy embeddings sit far from their cluster
    center (the embedding analogue of the text quality filters; used to
    drop label noise before training).

    Scale shape: posexplode to narrow (label, id, i, v) rows (vectors
    never move as arrays), ONE short-key aggregate for the centroids
    (labels x dim rows — bounded), centroids BROADCAST back, then one
    map-side-combined aggregate per (label, id).  No wide shuffle ever
    carries the raw vectors; doubles throughout (float32 widening is
    exact), rounded to 6 at the boundary for cross-engine parity.

    Returns (label, id, cos_centroid, is_outlier) for ALL rows — it is a
    scoring operator; callers filter.  ``is_outlier`` = cos < threshold.
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "v"),
    )
    # centroid rounded to 9: avg() accumulates in partition order, which
    # differs between engines (and between runs) — rounding well above ulp
    # scale makes the centroid itself bit-identical cross-engine, so the
    # downstream cosine rounds to 6 identically too
    cent = e.groupBy("label", "i").agg(F.round(F.avg("v"), 9).alias("c"))
    per_vec = (
        e.join(F.broadcast(cent), ["label", "i"])
        .groupBy("label", "id")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
    )
    return per_vec.select(
        F.col("label").alias(label_col),
        F.col("id").alias(id_col),
        F.round(F.col("dot") / (F.col("nv") * F.col("nc")), 6).alias("cos_centroid"),
    ).withColumn("is_outlier", F.col("cos_centroid") < float(threshold))


def cluster_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment by cosine: one numpy matmul per Arrow
    batch against the K×d centroid matrix (ships in the task closure —
    small, broadcast with the plan), argmax per row with ties broken
    toward the LOWEST centroid index (numpy argmax picks the first
    maximum; similarities are rounded to 6 places first so two engines
    agree on what "tied" means).  Embarrassingly parallel — no shuffle;
    K·d work per row.  A vector that is NULL, has a NULL element or
    differs in length from the centroids gets a NULL cluster_id and sim.
    Returns (id_col, cluster_id, sim)."""
    c = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(c, axis=1)
    tid = df.schema[id_col].dataType.simpleString()

    def run(batches):
        for b in batches:
            m, rows = _vectors(b.column(1), c.shape[1])
            sims = np.round(
                (m @ c.T) / (np.linalg.norm(m, axis=1)[:, None] * cn[None, :]), 6
            )
            best = sims.argmax(axis=1)
            cid = np.zeros(b.num_rows, np.int32)
            sim = np.full(b.num_rows, np.nan)  # NaN → NULL
            cid[rows] = best
            sim[rows] = sims[np.arange(len(rows)), best]
            missing = np.ones(b.num_rows, bool)
            missing[rows] = False
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(cid, mask=missing), pa.array(sim, from_pandas=True)],
                names=[id_col, "cluster_id", "sim"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        run, f"{id_col} {tid}, cluster_id int, sim double"
    )


def cluster_mixture(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Domain-mixture profile: assign every embedding to its nearest
    centroid (``cluster_assign``) and aggregate to (cluster_id, n,
    avg_sim) — the K-row table a data-mixing pipeline reads to rebalance
    sources before sampling.  The aggregate is partial-agg friendly and
    the output is K rows regardless of corpus size; empty clusters are
    absent (same in any oracle).  Centroids come from the caller — a
    KMeans fit on a bounded sample (see ``IVFIndex``) or a fixed probe
    set; this operator never refits."""
    a = cluster_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    return a.groupBy("cluster_id").agg(
        F.count("*").alias("n"), F.round(F.avg("sim"), 6).alias("avg_sim")
    )


def group_coherence(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cluster tightness per group: the L2 norm of the group's
    MEAN vector.  For L2-normalized embeddings ‖mean‖² equals the average
    pairwise cosine (including self-pairs), so a group of near-duplicates
    scores →1 and an incoherent grab-bag →0 — the one-number diagnostic
    for "is this label/cluster actually a cluster" before using it to mix
    or split data.

    Plan: posexplode → (group, position) average — the aggregate is
    |groups|×dims rows regardless of corpus size (partial-agg friendly,
    vectors never shuffle whole); the norm folds that bounded table.  The
    group row count joins back BROADCAST."""
    x = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    m = x.groupBy("grp", "pos").agg(F.avg(F.col("val").cast("double")).alias("mv"))
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(F.count("*").alias("n"))
    return (
        m.groupBy("grp")
        .agg(F.round(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 6).alias("coherence"))
        .join(F.broadcast(counts), "grp")
        .select(F.col("grp").alias(group_col), "n", "coherence")
    )
