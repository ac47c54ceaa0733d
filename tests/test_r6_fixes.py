"""Round-6 fixes (VERDICT r5 #1 + ADVICE r5), each pinned:

* rollup_timeseries totals are partition-order-proof: exact decimal sums
  mean NO parallelism/partitioning can flip a rounded digit (the r5
  driver gate's only red row was a float-association flip);
* mg_summarize emits the deficit sentinel even when the final prune
  empties the counter set (ADVICE r5 #1 — silently dropped deficit mass
  broke the n_hi upper bound);
* embedding_decontam survives zero-norm benchmark/train vectors instead
  of NaN-poisoning the whole pass into a no-op (ADVICE r5 #2);
* asof_join(tolerance=...) carries the matched right row ATOMICALLY — a
  NULL payload in the newest in-tolerance row must not resurrect a stale
  (beyond-tolerance) value from an older row (ADVICE r5 #3);
* histogram_cutoff tolerates NULL-valued histogram rows (ADVICE r5 #5 —
  None-vs-float sort raised TypeError and would kill a StreamingQuery).
"""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from logshipper_spark.functions.curation import histogram_cutoff
from logshipper_spark.functions.sketches import heavy_hitters, mg_summarize
from logshipper_spark.functions.similarity import embedding_decontam
from logshipper_spark.operators import aggregate as agg
from logshipper_spark.operators.asof import asof_join

from test_functions import cosine


class TestRollupPartitionOrderProof:
    def _run(self, df):
        r = agg.rollup_timeseries(
            df.withColumn("value", F.col("value").cast("decimal(30,9)")),
            "ts", "value", ["event_type"],
        )
        rows = r.select(
            "resolution",
            F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("b"),
            "event_type", "n",
            F.round(F.col("total").cast("double"), 6).alias("total"),
        ).collect()
        return sorted(tuple(x) for x in rows)

    def test_totals_identical_under_any_partitioning(self, spark):
        """The judge-style stability check VERDICT r5 #1 asks for: the same
        input under repartition(1/3/17/64) and different shuffle.partitions
        produces BIT-IDENTICAL rounded totals.  With float sums this is
        where the association dust lives; decimal sums are exact, so any
        mismatch here is a real regression."""
        import random

        rnd = random.Random(7)
        base = dt.datetime(2031, 5, 1)
        rows = [
            (
                base + dt.timedelta(seconds=rnd.randrange(0, 3 * 86400)),
                rnd.choice(["a", "b", "c"]),
                # adversarial values: many magnitudes so float association
                # order matters maximally, but decimal-clean (3 digits)
                round(rnd.uniform(0, 1) * 10 ** rnd.randrange(0, 7), 3),
            )
            for _ in range(5000)
        ]
        df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
        expect = None
        for parts in (1, 3, 17, 64):
            got = self._run(df.repartition(parts))
            if expect is None:
                expect = got
            assert got == expect, f"totals flipped at repartition({parts})"
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for sp in ("2", "97"):
                spark.conf.set("spark.sql.shuffle.partitions", sp)
                assert self._run(df.repartition(13)) == expect
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


class TestMGDeficitSentinel:
    def test_emptied_counter_set_still_reports_deficit(self, spark):
        """10 distinct count-1 items, cap=4: every prune leaves survivors
        equal to the (cap+1)-th largest → counters empty, deficit > 0.
        The sentinel must still be emitted or heavy_hitters' n_hi bound
        silently breaks (ADVICE r5 #1)."""
        df = spark.createDataFrame(
            [(f"u{i}",) for i in range(10)], "user string"
        ).coalesce(1)
        rows = mg_summarize(df, "user", capacity=4).collect()
        sentinels = [r for r in rows if r["item"] is None]
        assert sentinels, "deficit sentinel dropped when prune emptied counters"
        assert sum(r["cnt"] for r in sentinels) > 0

    def test_n_hi_upper_bound_holds_under_pruning(self, spark):
        """true count <= n_hi for every reported item even when partitions
        prune to empty: plant one heavy item + a uniform tail."""
        rows = [("heavy",)] * 40 + [(f"t{i}",) for i in range(30)]
        df = spark.createDataFrame(rows, "user string").repartition(3)
        out = {r["item"]: r for r in heavy_hitters(df, "user", k=5, capacity=2).collect()}
        assert "heavy" in out
        assert out["heavy"]["n_lo"] <= 40 <= out["heavy"]["n_hi"]


class TestDecontamZeroNorm:
    def test_zero_norm_bench_vector_does_not_poison_pass(self, spark):
        emb = [
            (1, [1.0, 0.0]),  # train: matches bench row exactly
            (2, [0.0, 1.0]),  # train: orthogonal
        ]
        train = spark.createDataFrame(emb, "vec_id long, embedding array<double>")
        bench = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, [0.0, 0.0])],  # second row corrupt
            "vec_id long, embedding array<double>",
        )
        got = {r["vec_id"]: r["max_cos"] for r in
               embedding_decontam(train, bench, threshold=0.9).collect()}
        assert got == {1: 1.0}, "zero-norm bench row NaN-poisoned the pass"

    def test_zero_norm_train_row_scores_zero(self, spark):
        train = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        bench = spark.createDataFrame(
            [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        got = {r["vec_id"]: r["max_cos"] for r in
               embedding_decontam(train, bench, threshold=0.0).collect()}
        assert got[2] == 1.0
        assert got.get(1, 0.0) == 0.0  # zero vector: cos 0, not NaN


class TestAsofToleranceAtomicRow:
    def _frames(self, spark):
        t0 = dt.datetime(2031, 1, 1, 12, 0, 0)
        left = spark.createDataFrame(
            [(1, "k", t0 + dt.timedelta(seconds=7200))],
            "lid long, key string, lts timestamp",
        )
        # older right row (beyond tolerance) has the payload; newest
        # in-tolerance right row has a NULL payload
        right = spark.createDataFrame(
            [
                ("k", t0, 999),
                ("k", t0 + dt.timedelta(seconds=7000), None),
            ],
            "key string, rts timestamp, price int",
        )
        return left, right

    def test_null_payload_in_matched_row_stays_null(self, spark):
        """Pre-fix: price carried from the stale t0 row (999) while the
        freshness gate checked the newest row's timestamp → stale data
        emitted as fresh.  Atomic row carry: the matched row IS the newest
        in-tolerance row, its NULL payload stays NULL (merge_asof
        semantics, as the docstring promises)."""
        left, right = self._frames(spark)
        out = asof_join(left, right, "key", "lts", "rts", ["price"],
                        tolerance=3600.0).collect()
        assert len(out) == 1
        assert out[0]["asof_price"] is None

    def test_null_payload_atomic_in_ts_bucket_path(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, "key", "lts", "rts", ["price"],
                        tolerance=3600.0, ts_bucket=600).collect()
        assert len(out) == 1
        assert out[0]["asof_price"] is None

    def test_stale_match_still_nulls_and_fresh_still_matches(self, spark):
        t0 = dt.datetime(2031, 1, 1, 12, 0, 0)
        left = spark.createDataFrame(
            [(1, "k", t0 + dt.timedelta(seconds=100)),
             (2, "k", t0 + dt.timedelta(seconds=9000))],
            "lid long, key string, lts timestamp",
        )
        right = spark.createDataFrame(
            [("k", t0, 5)], "key string, rts timestamp, price int"
        )
        got = {r["lid"]: r["asof_price"] for r in
               asof_join(left, right, "key", "lts", "rts", ["price"],
                         tolerance=3600.0).collect()}
        assert got == {1: 5, 2: None}


class TestHistogramCutoffNullRows:
    def test_null_score_row_ignored(self, spark):
        hist = spark.createDataFrame(
            [(0.1, 2), (None, 3), (0.9, 2)], "q_score double, cnt long"
        )
        # NULLs excluded from total: 4 rows, p=0.5 → rank 2 → 0.1
        assert histogram_cutoff(hist, keep_fraction=0.5) == 0.1

    def test_all_null_histogram_returns_none(self, spark):
        hist = spark.createDataFrame([(None, 3)], "q_score double, cnt long")
        assert histogram_cutoff(hist, keep_fraction=0.5) is None


class TestBlockedCosinePairs:
    def test_matches_join_form_including_zero_vector(self, spark):
        """blocked_cosine_pairs (per-block BLAS matmul) must emit EXACTLY
        the pair-join + cosine-column rows: same pairs, same rounded sims;
        a zero-norm vector NaNs out of the threshold in both forms."""
        import math
        import random

        from logshipper_spark.functions import similarity

        rnd = random.Random(3)
        rows = []
        for i in range(120):
            v = [rnd.gauss(0, 1) for _ in range(8)]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            rows.append((i, f"l{i % 3}", [x / n for x in v]))
        # planted near-dup pair
        rows.append((201, "l1", rows[1][2]))
        emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
        a, b = emb.alias("a"), emb.alias("b")
        join_form = (
            a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(
                F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"),
                F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
                .alias("cosine_sim"))
            .where(F.col("cosine_sim") >= 0.35)
        )
        blocked = similarity.blocked_cosine_pairs(emb, "label", 0.35, strip=16)
        d = join_form.exceptAll(blocked).count() + blocked.exceptAll(join_form).count()
        assert d == 0
        got = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
        assert (1, 201) in got  # planted duplicate found
        # zero-norm vector: the OLD column form raises DIVIDE_BY_ZERO
        # under ANSI; the blocked kernel drops it gracefully (NaN fails
        # the threshold) — compared separately for that reason
        emb2 = spark.createDataFrame(
            rows + [(200, "l0", [0.0] * 8)],
            "vec_id long, label string, embedding array<double>",
        )
        got2 = {(r["id_a"], r["id_b"]) for r in
                similarity.blocked_cosine_pairs(emb2, "label", 0.35, strip=16).collect()}
        assert got2 == got  # zero vector matched nothing, nothing else changed


class TestR6ReviewFixes:
    def test_blocked_cosine_guard_band_keeps_roundup_boundary(self, spark):
        """A raw cosine of threshold - 4e-7 rounds UP past the threshold
        under HALF_UP round(…,6); the kernel's guard band must emit it
        (review r6: a 1e-9 band silently dropped such pairs)."""
        import math

        from logshipper_spark.functions import similarity

        target = 0.3499996  # rounds to 0.350000 >= 0.35
        th = target
        a = [1.0, 0.0]
        b = [math.cos(math.acos(th)), math.sin(math.acos(th))]
        emb = spark.createDataFrame(
            [(1, "x", a), (2, "x", b)], "vec_id long, label string, embedding array<double>"
        )
        out = similarity.blocked_cosine_pairs(emb, "label", 0.35).collect()
        assert len(out) == 1 and out[0]["cosine_sim"] >= 0.35

    def test_blocked_cosine_null_label_rows_never_pair(self, spark):
        from logshipper_spark.functions import similarity

        emb = spark.createDataFrame(
            [(1, None, [1.0, 0.0]), (2, None, [1.0, 0.0]), (3, "x", [0.0, 1.0])],
            "vec_id long, label string, embedding array<double>",
        )
        # join form: NULL = NULL is false → no pairs; kernel must agree
        assert similarity.blocked_cosine_pairs(emb, "label", 0.1).count() == 0

    def test_pairwise_cosine_null_or_ragged_vector_yields_null(self, spark):
        """A NULL or ragged vector gives a NULL cosine (the column form's
        result) instead of failing the whole Arrow batch, and pairs of a
        different length in the same batch still compute."""
        from logshipper_spark.functions import similarity

        pairs = spark.createDataFrame(
            [
                (1, 2, [1.0, 0.0], [1.0, 1.0]),
                (1, 3, None, [1.0, 0.0]),
                (1, 4, [1.0, 0.0], None),
                (1, 5, [1.0, 0.0], [1.0, 0.0, 0.0]),
                (1, 6, [0.0, 2.0, 0.0], [0.0, 1.0, 0.0]),
            ],
            "id_a long, id_b long, va array<double>, vb array<double>",
        ).coalesce(1)  # one Arrow batch holds every case
        got = {r["id_b"]: r["cosine_sim"]
               for r in similarity.pairwise_cosine(pairs).collect()}
        assert got[2] == pytest.approx(2 ** -0.5)
        assert got[3] is None and got[4] is None and got[5] is None
        assert got[6] == pytest.approx(1.0)

    def test_blocked_cosine_keeps_string_ids(self, spark):
        """The id output type follows the input id column: string ids pass
        through, including from a block with no pairs."""
        from logshipper_spark.functions import similarity

        emb = spark.createDataFrame(
            [("a", "x", [1.0, 0.0]), ("b", "x", [1.0, 0.1]), ("c", "y", [0.0, 1.0])],
            "vec_id string, label string, embedding array<double>",
        )
        out = similarity.blocked_cosine_pairs(emb, "label", 0.5)
        assert out.schema["id_a"].dataType.simpleString() == "string"
        assert out.schema["id_b"].dataType.simpleString() == "string"
        assert [(r["id_a"], r["id_b"]) for r in out.collect()] == [("a", "b")]

    def test_jaccard_null_text_yields_null_not_crash(self, spark):
        """A NULL-text doc must flow through the verify stage as a NULL
        jaccard (the old expression form's behavior), not kill the Python
        worker (review r6: t.lower() raised on None)."""
        from logshipper_spark.functions import dedup

        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.jaccard(pairs, docs).collect()}
        assert got[(1, 3)] == 1.0
        assert got[(1, 2)] is None

    def test_repetition_kernel_null_text(self, spark):
        from logshipper_spark.functions import textstats

        docs = spark.createDataFrame([(1, None), (2, "a b a b")],
                                     "doc_id long, text string")
        rep = textstats.repetition_features(2)(F.col("text"))
        rows = {r["doc_id"]: r for r in docs.select(
            "doc_id", rep["dup_ngram_frac"].alias("g")).collect()}
        assert rows[1]["g"] is None  # NULL text → NULL signal, no crash
        assert rows[2]["g"] is not None

    def test_chunk_kernel_null_text(self, spark):
        from logshipper_spark.functions import textstats

        docs = spark.createDataFrame([(1, None), (2, "a b c")],
                                     "doc_id long, text string")
        ch = textstats.chunk_array_pandas(2)(F.col("text"))
        rows = {r["doc_id"]: r["c"] for r in docs.select("doc_id", ch.alias("c")).collect()}
        assert rows[1] is None
        assert rows[2] == ["a b", "c"]

    def test_admit_state_before_output_ordering(self, spark, tmp_path, monkeypatch):
        """If the fingerprint-state write fails, the admission must abort
        BEFORE any curated/ output leaf exists (review r6: the overlapped
        form committed output first, so a non-epoch retry duplicated
        survivors)."""
        import os

        from logshipper_spark.functions.curation import IncrementalCurator

        bench = spark.createDataFrame([(100, "zz yy xx ww vv uu", "en")],
                                      "doc_id long, text string, lang string")
        batch = spark.createDataFrame(
            [(1, "the and of to in is a that it for", "en")],
            "doc_id long, text string, lang string")
        work = str(tmp_path / "cur")
        with IncrementalCurator(spark, work, bench, keep_fraction=0.5) as cur:
            real_write = cur._fp_path
            # poison the fingerprint path: writes into it must fail
            cur._fp_path = "/proc/invalid/cannot_write_here"
            try:
                cur.admit(batch)
                raised = False
            except Exception:
                raised = True
            assert raised
            out_dir = os.path.join(work, "curated")
            leaves = os.listdir(out_dir) if os.path.isdir(out_dir) else []
            assert leaves == [], f"output committed despite failed state write: {leaves}"
            cur._fp_path = real_write
