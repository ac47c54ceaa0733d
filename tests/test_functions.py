"""Training-data function tests: dedup, similarity, textstats, multimodal."""

import pyspark.sql.functions as F
import pytest

from logshipper_spark.functions import dedup, multimodal, similarity, textstats
from logshipper_spark.sources.local import local_table


def ngram_array_expr(col, n: int):
    """Distinct word n-grams as a pure JVM expression — the row-for-row
    reference for ``textstats.ngram_array_pandas``.  Too slow for a hot
    path: ``F.transform``'s interpreted lambda re-evaluates the tokenize
    subexpression per element.  NULL text gives a NULL array, as in the
    kernel (an unguarded ``split(NULL)`` chain yields ``['']``)."""
    toks = F.split(F.lower(F.regexp_replace(col, r"[^A-Za-z0-9\s]+", " ")), r"\s+")
    toks = F.filter(toks, lambda t: t != "")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    return F.when(col.isNotNull(), grams)


def cosine(a, b):
    """Cosine as a pure JVM expression — the row-for-row reference for the
    Arrow vector kernels in ``similarity``.  Too slow for a hot path: the
    ``zip_with``/``aggregate`` lambdas are interpreted per element.  A NULL
    vector or element, or a length mismatch (``zip_with`` pads the shorter
    side with NULL), gives NULL — the kernels' input contract."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (similarity._norm(a) * similarity._norm(b))


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "The quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox JUMPS over the lazy dog!!"),        # normalized dup of 0
        (3, "The quick brown fox leaps over the lazy dog"),          # near dup (1 token)
        (4, "Completely different content about spark pipelines"),
        (5, "Another unrelated document mentioning spark pipelines here"),
        (6, ""),                                                     # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup_normalizes(self, docs):
        groups = dedup.exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["keep_id"] == 0 and groups[0]["n_dups"] == 3
        kept = dedup.dedup_exact(docs)
        assert kept.count() == 5  # 7 docs - 2 dropped dups

    def test_minhash_finds_near_dup(self, docs):
        pairs = dedup.minhash_dedup_pairs(docs, threshold=0.3, num_hashes=32, bands=16)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got and (0, 2) in got  # exact dups always survive
        assert (0, 3) in got or (1, 3) in got  # near-dup found at low threshold
        assert not any({a, b} == {4, 5} or 6 in (a, b) for a, b in got)

    def test_minhash_recall_vs_bruteforce_ground_truth(self, spark):
        """LSH recall evidence: on a 120-doc corpus with planted near-dups,
        the banded MinHash pipeline recovers EVERY pair whose true 3-gram
        Jaccard ≥ 0.5 (32 hashes × 16 bands ⇒ P(miss | j=0.5) ≈ 1e-4/pair),
        and emits no pair below threshold (exact verify stage)."""
        base = ["the quick brown fox jumps over the lazy dog near the river bank today",
                "machine learning pipelines shuffle large datasets across many executors",
                "streaming aggregation with watermarks handles late arriving events well"]
        rows = []
        for i in range(120):
            t = base[i % 3]
            if i % 4 == 1:
                t = t.replace("the", "a", 1)           # near dup of its base
            elif i % 4 == 2:
                t = t + f" unique suffix {i} " + " ".join(f"w{i}{j}" for j in range(20))
            elif i % 4 == 3:
                t = " ".join(f"z{i}x{j}" for j in range(25))  # unrelated
            rows.append((i, t))
        df = spark.createDataFrame(rows, "doc_id long, text string")

        truth = {
            (r["id_a"], r["id_b"])
            for r in dedup.jaccard(
                spark.createDataFrame(
                    [(a, b) for a in range(120) for b in range(a + 1, 120)],
                    "id_a long, id_b long",
                ),
                df,
            ).where(F.col("jaccard") >= 0.5).collect()
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_dedup_pairs(
                df, threshold=0.5, num_hashes=32, bands=16
            ).collect()
        }
        assert truth, "fixture must contain true near-dup pairs"
        missed = truth - got
        assert not missed, f"LSH missed {len(missed)}/{len(truth)} true pairs"
        assert got <= truth  # verify stage admits nothing below threshold

    def test_jaccard_values(self, spark, docs):
        pairs = spark.createDataFrame([(0, 1), (0, 4)], "id_a long, id_b long")
        j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard(pairs, docs).collect()}
        assert j[(0, 1)] == 1.0
        assert j[(0, 4)] == 0.0

    def test_simhash_identical_for_dups(self, docs):
        sh = {r["doc_id"]: r["sh"] for r in docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()}
        assert sh[0] == sh[1] == sh[2]  # token multiset identical after norm
        assert sh[0] != sh[4]
        assert len(sh[0]) == 16  # 64-bit hex

    def test_simhash_duplicates_op(self, docs):
        out = dedup.simhash_duplicates(docs).collect()
        assert any(r["keep_id"] == 0 and r["n_dups"] >= 3 for r in out)

    def test_simhash_near_duplicates_hamming_band(self, spark):
        # long docs differing by a couple of tokens → few-bit simhash delta;
        # the (k+1)-chunk band join must recover the pair, unrelated docs not
        # 120 unique tokens, ONE swapped → deterministic 4-bit simhash delta
        base = " ".join(f"ua{i}x{i * 31 % 997}" for i in range(120))
        near = base.replace("ua3x93 ", "ua3CHANGED ", 1)
        other = " ".join(f"zzz{i % 29} qqq{i % 13}" for i in range(120))
        df = spark.createDataFrame(
            [(0, base), (1, near), (2, other)], "doc_id long, text string"
        )
        sh = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
        d01 = spark.range(1).select(
            dedup.hamming64_hex(F.lit(sh[0]), F.lit(sh[1])).alias("d")
        ).first()["d"]
        assert 0 < d01 <= 8, f"planted near-dup at hamming {d01}"
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in dedup.simhash_near_duplicates(df, max_hamming=8).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] == d01
        assert not any(2 in p for p in pairs)

    def test_minhash_seed_threads_through_candidates(self, docs):
        """r4 review: seed was unreachable from the candidate/dedup API."""
        a = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_dedup_pairs(docs, threshold=0.5, seed=7).collect()}
        b = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_dedup_pairs(docs, threshold=0.5, seed=7777).collect()}
        # exact-verify stage makes true pairs seed-independent; the call
        # itself must accept the seed without TypeError
        assert a == b

    def test_simhash_md5_variant_same_structure(self, docs):
        # the cross-engine (oracle-checkable) md5 leaf hash must agree with
        # the xxhash64 scale default on hash-independent facts: identical
        # token multisets collide, the planted dup group survives
        sh = {r["id"]: r["simhash"] for r in
              dedup.simhash_signatures(docs, hash_fn="md5").collect()}
        assert sh[0] == sh[1] == sh[2] and sh[0] != sh[4]
        out = dedup.simhash_duplicates(docs, hash_fn="md5").collect()
        assert any(r["keep_id"] == 0 and r["n_dups"] >= 3 for r in out)
        with pytest.raises(ValueError, match="hash_fn"):
            dedup.simhash_signatures(docs, hash_fn="sha9000")

    def test_simhash_near_duplicates_zero_distance(self, docs):
        # max_hamming=0 degenerates to exact-fingerprint pairs
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup.simhash_near_duplicates(docs, max_hamming=0).collect()}
        assert {(0, 1), (0, 2), (1, 2)} <= pairs


class TestConnectedComponents:
    def test_planted_clusters(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20]],
                                      "id long")
        got = {r["id"]: r["component"]
               for r in dedup.connected_components(edges, nodes=nodes).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20}

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 200-node chain: plain propagation needs 200 rounds; pointer
        # jumping must finish within max_iter=12 (~log2 diameter + slack)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "id_a long, id_b long"
        )
        got = dedup.connected_components(edges, max_iter=12)
        assert got.select("component").distinct().count() == 1
        assert got.agg(F.min("component")).first()[0] == 0


class TestBucketCap:
    def test_minhash_flood_bucket_bounded_with_pairs_recovered(self, spark):
        # 1,000 identical docs: every band bucket floods; uncapped this is
        # ~500k pairs/band inside one task — capped it must finish fast AND
        # still recover the full dup group via hub-star pairs
        import time

        rows = [(i, "the same boilerplate text repeated everywhere") for i in range(1000)]
        rows += [(2000, "a genuinely different document about spark")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        t0 = time.time()
        pairs = dedup.minhash_dedup_pairs(df, threshold=0.9, bucket_cap=100)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        wall = time.time() - t0
        # star shape: hub 0 paired with every other member, nothing else
        assert got == {(0, i) for i in range(1, 1000)}
        assert wall < 120, f"flood bucket took {wall:.0f}s"

    def test_minhash_cap_does_not_change_small_buckets(self, docs):
        capped = dedup.minhash_dedup_pairs(docs, threshold=0.3, num_hashes=32, bands=16,
                                           bucket_cap=100)
        uncapped = dedup.minhash_dedup_pairs(docs, threshold=0.3, num_hashes=32, bands=16,
                                             bucket_cap=0)
        assert {tuple(r) for r in capped.collect()} == {tuple(r) for r in uncapped.collect()}

    def test_cosine_pairs_flood_bucket_star(self, spark):
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(500)]
        rows += [(900, [0.0, 1.0, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = similarity.cosine_pairs(df, threshold=0.999, bits=8, bucket_cap=50, tables=1)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert got == {(0, i) for i in range(1, 500)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import math

        rows = []
        for i in range(50):
            a = (i % 10) / 10.0 * math.pi / 2
            rows.append((i, [math.cos(a), math.sin(a), 0.0, 0.0]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_bruteforce_topk_exact(self, emb):
        out = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=5).collect()
        assert out[0]["cosine_sim"] == 1.0  # angle-0 vectors first
        sims = [r["cosine_sim"] for r in out]
        assert sims == sorted(sims, reverse=True)
        assert out[0]["vec_id"] == 0  # tiebreak by id among angle-0 vectors

    def test_lsh_recall_vs_exact(self, emb):
        q = [1.0, 0.0, 0.0, 0.0]
        exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()}
        approx = {r["vec_id"] for r in similarity.lsh_bucket_topk(
            emb, q, k=5, bits=8, hamming=3).collect()}
        assert len(exact & approx) >= 3  # decent recall on this easy set

    def test_batch_topk_matches_single_query(self, emb):
        q0 = [1.0, 0.0, 0.0, 0.0]
        q1 = [0.0, 1.0, 0.0, 0.0]
        batch = similarity.cosine_topk_batch(emb, [(0, q0), (1, q1)], k=5)
        got = {(r["q_id"], r["rk"]): r["vec_id"] for r in batch.collect()}
        for qid, qv in ((0, q0), (1, q1)):
            single = [r["vec_id"] for r in similarity.cosine_topk(emb, qv, k=5).collect()]
            assert [got[(qid, rk)] for rk in range(1, 6)] == single

    def test_cosine_pairs_blocked(self, emb):
        pairs = similarity.cosine_pairs(emb, threshold=0.999, bits=4)
        for r in pairs.collect():
            assert r["cosine_sim"] >= 0.999
            assert r["id_a"] < r["id_b"]
        # identical-angle vectors must be found
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 10) in got


_BASE = [(i, [float((i * 3) % 5) - 2, float((i * 7) % 4) - 1, 1.0, float(i % 3)]) for i in range(20)]
_BAD = {"null_vector": None, "null_element": [1.0, None, 0.0, 0.0], "ragged": [1.0, 0.0, 0.0]}
_QUERIES = [[1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 1.0], [-1.0, 0.0, 0.5, 0.0]]


def _ref_cosines(left, right):
    """{(left id, right id): round(cosine, 6)} over left × right by the
    column-form reference."""
    a, b = left.alias("a"), right.alias("b")
    sims = a.crossJoin(b).select(
        "a.vec_id", "b.vec_id",
        F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6),
    )
    return {(r[0], r[1]): r[2] for r in sims.collect()}


class TestVectorKernelContract:
    @pytest.mark.parametrize(
        "case", ["null_vector", "null_element", "ragged", "empty", "float_input", "string_ids"]
    )
    def test_kernel_matrix(self, spark, case):
        """One input contract for cosine_topk and the five Arrow vector
        kernels.  On the clean rows every output equals the column-form
        reference; a NULL vector, a NULL element or a ragged vector gets a
        NULL similarity ranked last, or is absent from pair and threshold
        outputs; an empty frame gives no rows; ids keep their input type.
        Nothing raises, except embedding_decontam on a ragged bench side."""
        key = (lambda i: f"v{i:02d}") if case == "string_ids" else (lambda i: i)
        ddl = (f"vec_id {'string' if case == 'string_ids' else 'long'}, "
               f"embedding array<{'float' if case == 'float_input' else 'double'}>")
        good = [] if case == "empty" else [(key(i), v) for i, v in _BASE]
        bad = [(key(90), _BAD[case])] if case in _BAD else []
        # JVM-local frames: a Python-RDD frame makes every self join a
        # cartesian of Python-worker scans
        clean = local_table(spark, good, ddl).withColumn("label", F.lit("x"))
        df = local_table(spark, good + bad, ddl).withColumn("label", F.lit("x"))
        id_type = df.schema["vec_id"].dataType
        ids = sorted(i for i, _ in good)
        queries = local_table(spark, list(enumerate(_QUERIES)), "vec_id long, embedding array<double>")
        ref_q = _ref_cosines(clean, queries)
        ref = _ref_cosines(clean, clean)
        nulls = [(i, None) for i, _ in bad]

        def ranked(j):
            return sorted(((i, ref_q[(i, j)]) for i in ids), key=lambda t: (-t[1], t[0]))

        # exact top-k: the bad row ranks last with a NULL similarity
        top = similarity.cosine_topk(df, _QUERIES[0], k=len(good) + len(bad))
        assert top.schema["vec_id"].dataType == id_type
        assert [tuple(r) for r in top.collect()] == ranked(0) + nulls

        batch = similarity.cosine_topk_batch(df, list(enumerate(_QUERIES[:2])), k=5)
        assert batch.schema["vec_id"].dataType == id_type
        assert {(r["q_id"], r["rk"]): (r["vec_id"], r["cosine_sim"]) for r in batch.collect()} == {
            (j, rk + 1): t for j in (0, 1) for rk, t in enumerate(ranked(j)[:5])
        }

        # pair cosine: a pair with the bad row gets NULL
        a, b = df.alias("a"), df.alias("b")
        pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"),
            F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb"),
        )
        pc = similarity.pairwise_cosine(pairs)
        assert pc.schema["id_a"].dataType == pc.schema["id_b"].dataType == id_type
        got = {(r[0], r[1]): r[2] for r in pc.select(
            "id_a", "id_b", F.round("cosine_sim", 6)).collect()}
        want = {(x, y): ref[(x, y)] for x in ids for y in ids if x < y}
        want.update({(min(x, y), max(x, y)): None for x in ids for y, _ in bad})
        assert got == want

        # threshold outputs: the bad row is absent
        blocked = similarity.blocked_cosine_pairs(df, "label", 0.0)
        assert blocked.schema["id_a"].dataType == id_type
        assert {tuple(r) for r in blocked.collect()} == {
            (x, y, ref[(x, y)]) for x in ids for y in ids if x < y and ref[(x, y)] >= 0.0
        }

        def decontam_ok(got, train_ids, bench_ids):
            want = {t: max(ref[(t, u)] for u in bench_ids) for t in train_ids}
            want = {t: m for t, m in want.items() if m >= 0.0}
            assert set(got) == set(want)
            assert all(abs(got[t] - want[t]) < 2e-6 for t in want)

        train_side = {r["vec_id"]: r["max_cos"] for r in similarity.embedding_decontam(
            df, clean.where(F.col("vec_id").isin(ids[:3])), threshold=0.0).collect()}
        decontam_ok(train_side, ids, ids[:3])
        bench = df.where(~F.col("vec_id").isin(ids[:5]))
        train = clean.where(F.col("vec_id").isin(ids[:5]))
        if case == "ragged":
            with pytest.raises(ValueError, match=r"lengths \[3, 4\]"):
                similarity.embedding_decontam(train, bench, threshold=0.0)
        else:
            bench_side = {r["vec_id"]: r["max_cos"] for r in
                          similarity.embedding_decontam(train, bench, threshold=0.0).collect()}
            decontam_ok(bench_side, ids[:5], ids[5:])

        assign = similarity.cluster_assign(df, _QUERIES)
        assert assign.schema["vec_id"].dataType == id_type
        want = {}
        for i in ids:
            sims = [ref_q[(i, j)] for j in range(len(_QUERIES))]
            best = sims.index(max(sims))  # ties → lowest index
            want[i] = (best, sims[best])
        want.update({i: (None, None) for i, _ in bad})
        assert {r[0]: (r[1], r[2]) for r in assign.collect()} == want


class TestTextstats:
    def test_counts_and_ratios(self, spark):
        df = spark.createDataFrame([(1, "The cat, and the dog!")], "doc_id long, text string")
        r = textstats.quality_features(df).collect()[0]
        assert r["n_tokens_ws"] == 5
        assert r["n_tokens_bpe"] == 7  # the cat , and the dog !
        assert r["punct_ratio"] == round(2 / 21, 6)
        assert r["stopword_ratio"] == round(3 / 5, 6)  # the, and, the

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "hello world"), (3, "other")],
            "doc_id long, text string",
        )
        fp = [r["fp"] for r in df.select(textstats.fingerprint(F.col("text")).alias("fp")).collect()]
        assert fp[0] == fp[1] != fp[2]

    def test_english_score_orders_langs(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat and it is a cat"),
             (2, "el gato se sentó en la alfombra")],
            "doc_id long, text string",
        )
        s = {r["doc_id"]: r["s"] for r in df.select(
            "doc_id", textstats.english_score(F.col("text")).alias("s")).collect()}
        assert s[1] > 0.3 > s[2]


class TestCuration:
    def test_stratified_sample_deterministic_and_rate(self, spark):
        rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = textstats.stratified_sample(df, "lang", {"en": 0.5, "de": 0.1})
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(r["doc_id"] for r in out.collect())
        assert a == b  # rerun-identical (no rand())
        per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert 400 <= per["en"] <= 600      # ~50% of 1000
        assert 50 <= per["de"] <= 150       # ~10% of 1000

    def test_quality_top_quantile_keeps_best(self, spark):
        rows = [(i, "the and of to in is a that it for" if i < 5 else "zzz qqq xxx")
                for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = textstats.quality_top_quantile(df, textstats.english_score(F.col("text")),
                                             keep_fraction=0.5)
        kept = {r["doc_id"] for r in out.collect()}
        assert kept == {0, 1, 2, 3, 4}

    def test_contamination_check_finds_planted_overlap(self, spark):
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [(1, "prefix words alpha beta gamma delta epsilon more tail"),
             (2, "totally unrelated content with no shared sequences at all")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["n_hits"]
               for r in textstats.contamination_check(train, bench, n=5).collect()}
        assert 1 in out and out[1] >= 1
        assert 2 not in out

    def test_contamination_packed_agrees_with_raw(self, spark, docs):
        # the 100-TB variant (xxhash64-packed 8-byte gram keys) must report
        # exactly the raw-gram result — collisions are ~p²/2⁶⁴
        bench = docs.where(F.pmod("doc_id", F.lit(10)) == 0)
        train = docs.where(F.pmod("doc_id", F.lit(10)) != 0)
        raw = {(r["doc_id"], r["n_hits"])
               for r in textstats.contamination_check(train, bench, n=3).collect()}
        packed = {(r["doc_id"], r["n_hits"])
                  for r in textstats.contamination_check(train, bench, n=3, packed=True).collect()}
        assert raw == packed and len(raw) > 0

    def test_redact_pii_planted(self, spark):
        df = spark.createDataFrame(
            [(1, "mail bob.smith+x@corp.example.org now"),
             (2, "from 192.168.1.254 port 22"),
             (3, "auth sk_AbCdEf0123456789XY done"),
             (4, "card 4111 1111 1111 1111 exp"),
             (5, "call +1 555-867-5309 today"),
             (6, "nothing sensitive here at all")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["t"] for r in df.select(
            "doc_id", textstats.redact_pii(F.col("text")).alias("t")).collect()}
        assert got[1] == "mail <EMAIL> now"
        assert got[2] == "from <IP> port 22"
        assert got[3] == "auth <KEY> done"
        assert got[4] == "card <CC> exp"
        assert got[5] == "call <PHONE> today"
        assert got[6] == "nothing sensitive here at all"

    def test_redact_pii_r5_negatives(self, spark):
        """r5 tightening (VERDICT r4 next #9): dotted version/build strings
        with out-of-range octets and generic 16-digit ids must NOT redact;
        boundary IPs and IIN-prefixed cards still must."""
        df = spark.createDataFrame(
            [(1, "upgrade to release 300.12.1.2 now"),
             (2, "build 10.1.2.4567 shipped"),
             (3, "order id 1234 5678 9012 3456 confirmed"),
             (4, "edge ip 255.255.255.255 and 0.0.0.0 seen"),
             (5, "mc 5212-3456-7890-1234 charged"),
             (6, "discover 6011 0009 9013 9424 ok")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["t"] for r in df.select(
            "doc_id", textstats.redact_pii(F.col("text")).alias("t")).collect()}
        assert got[1] == "upgrade to release 300.12.1.2 now"
        assert got[2] == "build 10.1.2.4567 shipped"
        assert got[3] == "order id 1234 5678 9012 3456 confirmed"
        assert got[4] == "edge ip <IP> and <IP> seen"
        assert got[5] == "mc <CC> charged"
        assert got[6] == "discover <CC> ok"

    def test_pack_sequences_invariants(self, spark, docs):
        out = textstats.pack_sequences(docs, budget=512, shards=16).collect()
        assert len(out) == docs.count()
        by_shard = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r)
        assert len(by_shard) > 1
        for shard, rows in by_shard.items():
            rows.sort(key=lambda r: r["doc_id"])
            off = 0
            for r in rows:
                # concat semantics: each doc starts where the previous ended
                assert r["start_offset"] == off
                assert r["pack_id"] == off // 512
                off += r["n_tokens"]

    def test_pack_payloads_roundtrip(self, spark, docs):
        # every doc's text appears exactly once across payloads, in-pack
        # order is by id, and totals agree with the assignment op
        out = textstats.pack_payloads(docs, budget=512, shards=16).collect()
        assign = textstats.pack_sequences(docs, budget=512, shards=16).collect()
        assert sum(r["n_docs"] for r in out) == docs.count()
        assert sum(r["n_tokens"] for r in out) == sum(r["n_tokens"] for r in assign)
        texts = {r["text"] for r in docs.select("text").collect()}
        for r in out:
            parts = r["payload"].split("\n")
            # split on \n can over-split docs containing newlines; piece
            # count still bounds n_docs from below
            assert len(parts) >= r["n_docs"]
        joined = "\n".join(r["payload"] for r in out)
        for t in list(texts)[:20]:
            assert t in joined

    def test_repetition_signals_planted(self, spark):
        # looped/boilerplate docs score high; varied prose scores low
        loop = "buy now " * 50                       # one 2-gram dominates
        menu = "home\nabout\ncontact\nhome\nabout\nhome\n"
        prose = "the quick brown fox jumps over a lazy dog near the river bank today"
        df = spark.createDataFrame(
            [(1, loop), (2, menu), (3, prose), (4, ""), (5, "..."), (6, "solo")],
            "doc_id long, text string",
        )
        rep = {r["doc_id"]: r for r in df.select(
            "doc_id", textstats.repetition_features(2)(F.col("text")).alias("r")
        ).select("doc_id", "r.*").collect()}
        assert rep[1]["top_ngram_frac"] > 0.4 and rep[1]["dup_ngram_frac"] > 0.9
        assert rep[2]["dup_line_frac"] == 0.5       # 6 lines, 3 distinct
        assert rep[3]["dup_ngram_frac"] < 0.1 and rep[3]["dup_line_frac"] == 0.0
        # empty / punct-only / single-token docs have NO real 2-gram: all
        # signals 0.0 — repetition_filter must not misclassify them as
        # maximally repetitive (r4 review finding)
        for d in (4, 5, 6):
            assert rep[d]["dup_ngram_frac"] == 0.0 and rep[d]["top_ngram_frac"] == 0.0
        kept = textstats.repetition_filter(df).select("doc_id").collect()
        assert sorted(r["doc_id"] for r in kept) == [3, 4, 5, 6]

    def test_gram_impls_agree_row_for_row(self, spark, docs):
        # Arrow gram kernel (hot-path default) vs the pure-expression
        # reference: identical (doc_id, gram) multisets, incl. short-doc
        # degenerates and NULL text
        short = spark.createDataFrame(
            [(9001, "one two"), (9002, ""), (9003, "Sole"), (9004, "a b c d e f"),
             (9005, None)],
            "doc_id long, text string",
        )
        for frame in (docs.limit(100), short):
            a = frame.select(
                "doc_id", F.explode(textstats.ngram_array_pandas(5)(F.col("text"))).alias("g")
            )
            b = frame.select(
                "doc_id", F.explode(ngram_array_expr(F.col("text"), 5)).alias("g")
            )
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # NULL in, NULL out in both forms — not [''] and not a crash
        got = short.where(F.col("doc_id") == 9005).select(
            textstats.ngram_array_pandas(5)(F.col("text")).alias("a"),
            ngram_array_expr(F.col("text"), 5).alias("b"),
        ).first()
        assert got["a"] is None and got["b"] is None

    def test_quality_cutoff_filter_matches_quantile_semantics(self, spark):
        # scale path: same survivors as the percent_rank variant when scores
        # are distinct; all boundary ties kept when they aren't
        rows = [(i, " ".join(["the"] * (i + 1)) + " zzz " + " ".join(["qqq"] * (10 - i)))
                for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        score = textstats.english_score(F.col("text"))
        rank_kept = {r["doc_id"] for r in
                     textstats.quality_top_quantile(df, score, keep_fraction=0.5).collect()}
        cut_kept = {r["doc_id"] for r in
                    textstats.quality_filter_by_cutoff(df, score, keep_fraction=0.5).collect()}
        assert rank_kept <= cut_kept          # cutoff never drops a ranked survivor
        assert cut_kept == {4, 5, 6, 7, 8, 9}  # top half by stopword density

    def test_quality_cutoff_ties_kept_together(self, spark):
        # identical-quality docs are never split by arbitrary rank
        rows = [(i, "the the the") for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = textstats.quality_filter_by_cutoff(
            df, textstats.english_score(F.col("text")), keep_fraction=0.25
        )
        assert out.count() == 8


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        media = multimodal.generate_media(spark, n=40)
        feats = multimodal.extract_features(media)
        rows = feats.collect()
        assert len(rows) == 40
        for r in rows:
            assert r["n_bytes"] == 64  # sha2-512 payload
            assert len(r["feature"]) == 8
        # deterministic: same payload → same feature
        again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
        for r in rows:
            assert again[r["media_id"]] == r["feature"]

    def test_frame_sample_counts(self, spark):
        media = multimodal.generate_media(spark, n=40)
        frames = multimodal.frame_sample(media, every_ms=1000)
        vids = media.where(F.col("kind") == "video")
        want = vids.select(
            F.sum(F.greatest((F.col("duration_ms") / 1000).cast("int"), F.lit(1)))
        ).first()[0]
        assert frames.count() == want

    def test_real_decode_unknown_format_raises(self):
        # compressed/unknown formats still need set_decoder
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(b"bytes", "image")

    def test_real_decode_wav_golden(self):
        import math

        import numpy as np

        wav = multimodal.synth_wav_bytes(n_samples=400, freq_hz=3.0)
        got = multimodal.real_decode(wav, "audio")
        want = np.array(
            [int(28800 * math.sin(2 * math.pi * 3.0 * i / 8000)) / 32768.0
             for i in range(400)],
            np.float32,
        )
        assert got.shape == (400,)
        assert np.array_equal(got, want)  # bit-exact int16 quantization

    def test_real_decode_ppm_bmp_golden(self):
        import numpy as np

        img = multimodal.real_decode(multimodal.synth_ppm_bytes(16, 8), "image")
        assert img.shape == (8, 16, 3)
        assert np.allclose(img[0, 0], [0, 0, 0])
        assert np.allclose(img[7, 15], [1.0, 1.0, ((15 + 7) % 256) / 255.0])

        bmp = multimodal.real_decode(multimodal.synth_bmp_bytes(7, 5), "image")
        assert bmp.shape == (5, 7, 3)  # padded bottom-up rows unwound
        assert np.allclose(bmp[0, 0], [0, 0, 0])
        assert np.allclose(bmp[4, 6], [1.0, 1.0, ((6 * 4) % 256) / 255.0])

    def test_real_media_features_end_to_end(self, spark):
        """Real WAV/PPM/BMP payloads through the Arrow mapInPandas pass:
        feature equals a locally computed summarize(real_decode(payload))
        — the REAL codecs run on executors, not the fake."""
        import numpy as np

        media = multimodal.generate_real_media(spark, n=12)
        got = {r["media_id"]: (r["kind"], r["feature"])
               for r in multimodal.extract_features(media).collect()}
        local = {r["media_id"]: r["payload"] for r in media.collect()}
        assert len(got) == 12
        for mid, (kind, feat) in got.items():
            want = multimodal._summarize(
                multimodal.real_decode(bytes(local[mid]), kind)
            ).astype(np.float32)
            assert np.allclose(np.array(feat, np.float32), want, atol=1e-7), mid


class TestSignaturePaths:
    def test_simhash_column_and_df_paths_agree(self, spark, docs):
        col_sh = {
            r["doc_id"]: r["sh"]
            for r in docs.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()
            if r["sh"] is not None
        }
        df_sh = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
        for k, v in df_sh.items():
            assert col_sh[k] == v

    def test_minhash_jvm_and_pandas_same_dups(self, spark, docs):
        # the Arrow signature path must find every exact-duplicate pair
        pairs = dedup.minhash_dedup_pairs(docs, threshold=0.99)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert {(0, 1), (0, 2), (1, 2)} <= got

    @pytest.mark.parametrize("seed", [11, 108])
    def test_query_sketch_matches_table_sketch(self, spark, seed):
        """A stored vector used as the query sketches into its own bucket:
        ``_query_sketch`` of every row's vector equals that row's
        ``hyperplane_sketches`` value."""
        rows = [(i, [float(i % 7) - 3, float(i % 5) - 2, 1.0, -0.5 + i / 30]) for i in range(30)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        table = {r["id"]: r["sketch"]
                 for r in similarity.hyperplane_sketches(emb, bits=8, seed=seed).collect()}
        vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        assert {i: similarity._query_sketch(spark, v, 8, seed) for i, v in vecs.items()} == table


class TestAsofJoin:
    def test_asof_backward(self, spark):
        from logshipper_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [("u1", 10), ("u1", 20), ("u1", 30), ("u2", 15)], "k string, t long"
        ).withColumn("ts", F.timestamp_seconds("t"))
        right = spark.createDataFrame(
            [("u1", 5, "a"), ("u1", 20, "b"), ("u1", 25, "c"), ("u3", 1, "z")],
            "k string, t long, payload string",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                        payload_cols=["payload"])
        got = {(r["k"], r["t"]): r["asof_payload"] for r in out.collect()}
        assert got == {("u1", 10): "a", ("u1", 20): "b", ("u1", 30): "c", ("u2", 15): None}

    def test_asof_strict(self, spark):
        from logshipper_spark.operators.asof import asof_join

        left = spark.createDataFrame([("u1", 20)], "k string, t long").withColumn(
            "ts", F.timestamp_seconds("t")
        )
        right = spark.createDataFrame(
            [("u1", 20, "same"), ("u1", 10, "before")], "k string, t long, payload string"
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        non_strict = asof_join(left, right, "k", "ts", "ts", ["payload"]).collect()[0]
        strict = asof_join(left, right, "k", "ts", "ts", ["payload"], strict=True).collect()[0]
        assert non_strict["asof_payload"] == "same"
        assert strict["asof_payload"] == "before"

    def test_asof_tiebreaker_deterministic_on_equal_ts(self, spark):
        """Two right rows at the same (key, ts): the tiebreaker makes both
        paths pick the HIGHEST tiebreaker value deterministically (r4
        review — previously arbitrary per engine/run)."""
        from logshipper_spark.operators.asof import asof_join

        left = spark.createDataFrame([("u", 30)], "k string, t long").withColumn(
            "ts", F.timestamp_seconds("t")
        )
        right = spark.createDataFrame(
            [("u", 20, 7), ("u", 20, 3), ("u", 10, 1)], "k string, t long, pid long"
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        for bucket in (None, 15):
            out = asof_join(left, right, "k", "ts", "ts", ["pid"],
                            tiebreakers=["pid"], ts_bucket=bucket).collect()
            assert out[0]["asof_pid"] == 7, f"bucket={bucket}"

    def test_asof_differential_vs_pandas_merge_asof(self, spark):
        """asof_join (both paths) vs pandas.merge_asof — the reference
        semantic for backward as-of joins — on randomized data with unique
        (key, ts) per side (ties are documented as arbitrary)."""
        import random

        import pandas as pd

        from logshipper_spark.operators.asof import asof_join

        rng = random.Random(13)
        keys = ["k%d" % i for i in range(6)]
        lts = {k: rng.sample(range(0, 5000), rng.randrange(1, 40)) for k in keys}
        rts = {k: rng.sample(range(0, 5000), rng.randrange(0, 25)) for k in keys}
        left_rows = [(k, t) for k, ts in lts.items() for t in ts]
        right_rows = [(k, t, f"{k}@{t}") for k, ts in rts.items() for t in ts]
        left = spark.createDataFrame(left_rows, "k string, t long").withColumn(
            "ts", F.timestamp_seconds("t")
        )
        right = spark.createDataFrame(
            right_rows, "k string, t long, payload string"
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")

        lp = pd.DataFrame(left_rows, columns=["k", "t"]).sort_values("t")
        rp = pd.DataFrame(right_rows, columns=["k", "t", "payload"]).sort_values("t")
        for strict, bucket, tol in [
            (False, None, None), (True, None, None),
            (False, 700, None), (True, 700, None),
            # tolerance matrix (r5): staleness bound in both window paths —
            # pandas merge_asof(tolerance=...) is the reference semantic
            (False, None, 350), (True, None, 350),
            (False, 700, 350), (True, 700, 350),
        ]:
            want = pd.merge_asof(
                lp, rp, on="t", by="k",
                allow_exact_matches=not strict, direction="backward",
                tolerance=tol,
            )
            expect = {(r.k, r.t): (None if pd.isna(r.payload) else r.payload)
                      for r in want.itertuples()}
            got = {
                (r["k"], r["t"]): r["asof_payload"]
                for r in asof_join(left, right, "k", "ts", "ts", ["payload"],
                                   strict=strict, ts_bucket=bucket,
                                   tolerance=tol).collect()
            }
            assert got == expect, f"strict={strict} bucket={bucket} tol={tol}"

    def test_asof_ts_bucket_matches_plain_on_hot_key(self, spark):
        """VERDICT r3 #6: the (key, ts-bucket) skew path must produce the
        SAME output as the single-window path on a planted hot key whose
        rows span many buckets — including buckets with no right rows
        (boundary carry-forward) and leading buckets with none at all."""
        from logshipper_spark.operators.asof import asof_join

        # hot key: 600 left probes over 600s; sparse right events so most
        # 30s buckets have zero right rows.  cold key checks isolation.
        left_rows = [("hot", t) for t in range(0, 600)] + [("cold", 50), ("cold", 500)]
        # null payloads included: the plain path's last(ignorenulls) skips
        # them, so the bucket boundary carry must too (r4 review finding)
        right_rows = [("hot", t * 97 % 590, f"p{t}") for t in range(13)] + [
            ("cold", 400, "cp"), ("hot", 300, None), ("hot", 585, None),
        ]
        left = spark.createDataFrame(left_rows, "k string, t long").withColumn(
            "ts", F.timestamp_seconds("t")
        )
        right = spark.createDataFrame(
            right_rows, "k string, t long, payload string"
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        for strict in (False, True):
            plain = asof_join(left, right, "k", "ts", "ts", ["payload"], strict=strict)
            bucketed = asof_join(
                left, right, "k", "ts", "ts", ["payload"], strict=strict, ts_bucket=30
            )
            a = sorted(map(tuple, plain.collect()))
            b = sorted(map(tuple, bucketed.collect()))
            assert a == b, f"strict={strict}: bucketed path diverged"


class TestIVF:
    def test_ivf_recall_vs_exact(self, spark):
        import math

        rows = [(i, [math.cos((i % 20) / 20 * 3.14159), math.sin((i % 20) / 20 * 3.14159),
                     float(i % 3) / 10, 0.0]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = [1.0, 0.0, 0.0, 0.0]
        exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()}
        ivf = {r["vec_id"] for r in similarity.ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).collect()}
        assert len(exact & ivf) >= 7  # high recall on clustered data

    def test_ivf_deterministic(self, spark):
        rows = [(i, [float((i * 7) % 13), float((i * 3) % 11), 1.0, 0.0]) for i in range(100)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = [1.0, 1.0, 1.0, 0.0]
        a = [r["vec_id"] for r in similarity.ivf_topk(emb, q, k=5).collect()]
        b = [r["vec_id"] for r in similarity.ivf_topk(emb, q, k=5).collect()]
        assert a == b

    def test_ivf_index_reused_across_queries_without_refit(self, spark):
        # the train-once path: ONE quantizer serves many queries; no KMeans
        # refit happens after build (fit would need the `features` column,
        # which we poison after building to prove topk never touches it)
        import math

        rows = [(i, [math.cos(i / 30.0), math.sin(i / 30.0), 0.1, 0.0]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        idx = similarity.IVFIndex.build(emb, n_cells=8, train_rows=50, seed=42)
        q1 = [1.0, 0.0, 0.0, 0.0]
        q2 = [0.0, 1.0, 0.0, 0.0]
        top1 = [r["vec_id"] for r in idx.topk(q1, k=5, n_probe=3).collect()]
        top2 = [r["vec_id"] for r in idx.topk(q2, k=5, n_probe=3).collect()]
        assert len(top1) == len(top2) == 5 and top1 != top2
        # probes against a wrapper call with the same index give identical results
        via_fn = [r["vec_id"] for r in similarity.ivf_topk(
            emb, q1, k=5, n_probe=3, index=idx).collect()]
        assert via_fn == top1
        # assignments were precomputed once: schema carries only (id, vec, cell)
        assert set(idx.assigned.columns) == {"vec_id", "embedding", "cell"}

    def test_sketch_table_probe_prunes_partitions(self, spark, tmp_path):
        """The 100 TB layout: sketches precomputed, table partitioned by
        sketch → a probe's scan touches a strict subset of the files."""
        import math

        rows = [(i, [math.cos(i / 25.0), math.sin(i / 25.0), 0.05 * (i % 5), 0.1])
                for i in range(300)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        path = str(tmp_path / "sketched")
        similarity.write_sketch_table(emb, path, bits=6)
        q = [1.0, 0.0, 0.0, 0.0]

        out = similarity.lsh_topk_pruned(spark, path, q, k=5, bits=6, hamming=1)
        got = [r["vec_id"] for r in out.collect()]
        exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
        assert len(set(got) & set(exact)) >= 3  # decent recall

        # pruning proof: the probe reads fewer files than the full table
        all_files = spark.read.parquet(path).select(
            F.input_file_name().alias("f")).distinct().count()
        qsk = similarity._query_sketch(spark, q, bits=6)
        probe_files = (
            spark.read.parquet(path)
            .where(F.col("sketch") == int(qsk))
            .select(F.input_file_name().alias("f")).distinct().count()
        )
        assert 0 < probe_files < all_files

    def test_ivf_save_load_roundtrip_and_pruning(self, spark, tmp_path):
        import math

        rows = [(i, [math.cos(i / 30.0), math.sin(i / 30.0), 0.1, 0.0]) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        idx = similarity.IVFIndex.build(emb, n_cells=8, seed=42)
        path = str(tmp_path / "ivf")
        idx.save(path)
        loaded = similarity.IVFIndex.load(spark, path)
        q = [1.0, 0.0, 0.0, 0.0]
        a = [r["vec_id"] for r in idx.topk(q, k=5, n_probe=3).collect()]
        b = [r["vec_id"] for r in loaded.topk(q, k=5, n_probe=3).collect()]
        assert a == b
        # cell-partitioned layout: probing 3 of 8 cells reads fewer files
        all_files = spark.read.parquet(path).select(
            F.input_file_name().alias("f")).distinct().count()
        cells = loaded.probe_cells(q, 3)
        probe_files = (
            spark.read.parquet(path)
            .where(F.col("cell").isin(cells))
            .select(F.input_file_name().alias("f")).distinct().count()
        )
        assert 0 < probe_files < all_files

    def test_auto_sketch_bits_scales(self):
        assert similarity.auto_sketch_bits(500) == 8
        assert similarity.auto_sketch_bits(1_000_000) == 17
        assert similarity.auto_sketch_bits(10**12) == 24  # clamped


class TestHeavyHitters:
    """Misra-Gries frequent items (functions/sketches.py): exact in the
    generous-capacity regime, bounded error under pruning."""

    def test_exact_regime_matches_groupby(self, spark):
        from logshipper_spark.functions.sketches import heavy_hitters

        df = spark.range(0, 3000).select(
            (F.pmod(F.col("id") * 37, F.lit(50))).cast("string").alias("v")
        ).repartition(6)
        got = heavy_hitters(df, "v", k=10, capacity=1024).collect()
        want = (
            df.groupBy("v").count()
            .orderBy(F.desc("count"), F.asc("v")).limit(10).collect()
        )
        assert [(r["item"], r["n_lo"], r["n_hi"]) for r in got] == [
            (r["v"], r["count"], r["count"]) for r in want
        ]  # deficit 0: n_lo == n_hi == exact count

    def test_pruned_regime_bounds_and_recall(self, spark):
        from logshipper_spark.functions.sketches import heavy_hitters, mg_summarize

        # planted skew: item "hot" 500x, "warm" 60x, 200 singletons
        rows = [("hot",)] * 500 + [("warm",)] * 60 + [(f"s{i}",) for i in range(200)]
        df = spark.createDataFrame(rows, "v string").repartition(5)
        out = heavy_hitters(df, "v", k=5, capacity=4)
        got = {r["item"]: (r["n_lo"], r["n_hi"]) for r in out.collect()}
        true = {r["v"]: r["count"] for r in df.groupBy("v").count().collect()}
        deficit = next(iter(got.values()))[1] - next(iter(got.values()))[0]
        assert deficit > 0  # pruning actually fired at capacity 4
        for item, (lo, hi) in got.items():
            assert lo <= true[item] <= hi, (item, lo, true[item], hi)
        # the MG guarantee: anything with true count > total deficit is found
        all_items = {
            r["item"] for r in mg_summarize(df, "v", capacity=4)
            .where(F.col("item").isNotNull())
            .groupBy("item").count().collect()
        }
        for item, cnt in true.items():
            if cnt > deficit:
                assert item in all_items, f"{item} (true {cnt}) lost at deficit {deficit}"
        assert "hot" in got and got["hot"][0] <= 500 <= got["hot"][1]

    def test_summary_size_bounded_per_partition(self, spark):
        from logshipper_spark.functions.sketches import mg_summarize

        df = spark.range(0, 5000).select(F.col("id").cast("string").alias("v")).repartition(4)
        summ = mg_summarize(df, "v", capacity=16)
        per_part = (
            summ.where(F.col("item").isNotNull())
            .groupBy("part_id").count().collect()
        )
        assert len(per_part) <= 4
        assert all(r["count"] <= 16 for r in per_part)
        # exactly one deficit sentinel per emitted partition
        sent = summ.where(F.col("item").isNull()).groupBy("part_id").count().collect()
        assert all(r["count"] == 1 for r in sent)


class TestEmbeddingDecontam:
    def test_matches_exact_join_maxima(self, spark):
        import math
        import random

        from logshipper_spark.functions.similarity import embedding_decontam

        rng = random.Random(5)
        vecs = []
        for i in range(60):
            v = [rng.gauss(0, 1) for _ in range(8)]
            n = math.sqrt(sum(x * x for x in v))
            vecs.append((i, [x / n for x in v]))
        # plant a contaminated pair: train 7 ≈ bench 10
        vecs[7] = (7, [x + rng.gauss(0, 0.01) for x in vecs[10][1]])
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        bench = df.where(F.pmod("vec_id", F.lit(10)) == 0)
        train = df.where(F.pmod("vec_id", F.lit(10)) != 0)

        got = {r["vec_id"]: r["max_cos"]
               for r in embedding_decontam(train, bench, threshold=-1.0).collect()}
        # exact reference: blocked join + max, computed in Spark SQL
        a, b = train.alias("a"), bench.alias("b")
        want = {
            r["vec_id"]: r["mx"]
            for r in a.crossJoin(b)
            .groupBy(F.col("a.vec_id").alias("vec_id"))
            .agg(F.round(F.max(cosine(F.col("a.embedding"), F.col("b.embedding"))), 6).alias("mx"))
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])
        # the planted near-copy is flagged at a high threshold
        flagged = {r["vec_id"] for r in
                   embedding_decontam(train, bench, threshold=0.95).collect()}
        assert 7 in flagged

    def test_empty_benchmark_flags_nothing(self, spark):
        from logshipper_spark.functions.similarity import embedding_decontam

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
        )
        empty = df.where(F.lit(False))
        assert embedding_decontam(df, empty, threshold=0.0).count() == 0


class TestParagraphDedup:
    def test_boilerplate_removed_everywhere_order_kept(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "unique one\nFOOTER\nunique two"),
                (2, "FOOTER\nother text\nHEADER"),
                (3, "HEADER\nsolo paragraph\nFOOTER"),
                (4, "all mine\nnobody shares this"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
               for r in textstats.paragraph_dedup(docs, min_df=2).collect()}
        # FOOTER in 3 docs, HEADER in 2 → both boilerplate, removed everywhere
        assert out[1] == ("unique one\nunique two", 1)
        assert out[2] == ("other text", 2)
        assert out[3] == ("solo paragraph", 2)
        assert out[4] == ("all mine\nnobody shares this", 0)

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        docs = spark.createDataFrame(
            [(1, "SAME"), (2, "SAME"), (3, "SAME\nextra")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
               for r in textstats.paragraph_dedup(docs, min_df=3).collect()}
        assert out[1] == ("", 1) and out[2] == ("", 1)
        assert out[3] == ("extra", 1)
        assert len(out) == 3  # no doc rows lost

    def test_min_df_threshold(self, spark):
        docs = spark.createDataFrame(
            [(1, "dup\na"), (2, "dup\nb")], "doc_id long, text string"
        )
        keep_all = textstats.paragraph_dedup(docs, min_df=3).collect()
        assert all(r["n_removed"] == 0 for r in keep_all)
        drop_dup = textstats.paragraph_dedup(docs, min_df=2).collect()
        assert all(r["n_removed"] == 1 for r in drop_dup)

    def test_chunk_kernel_mirrors_python_split(self, spark):
        rows = [(0, "a b c d e f g"), (1, "x"), (2, "a  b"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["c"] for r in df.select(
            "doc_id", textstats.chunk_array_pandas(3)(F.col("text")).alias("c")
        ).collect()}
        for i, t in rows:
            toks = t.split(" ")
            want = [" ".join(toks[j:j + 3]) for j in range(0, len(toks), 3)]
            assert got[i] == want, (i, got[i], want)
