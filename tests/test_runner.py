"""Checkpoint/resume + lineage tests (FIXTURES.md p6: kill after first sink,
resume, assert zero duplicates)."""

import pyspark.sql.functions as F
import pytest

from logshipper_spark.plans.runner import CheckpointedRunner
from logshipper_spark.plans.spec import compile_pipeline

PIPE = compile_pipeline(
    [
        {"match": "^ERROR ", "forward": ["errors"]},
        {"match": "^<", "forward": ["syslog"]},
        {"forward": ["archive"]},
    ]
)
SINKS3 = ["errors", "syslog", "archive"]


def test_clean_run_writes_all_sinks(spark, transcripts, tmp_path):
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    rep = r.run(transcripts, PIPE, SINKS3, str(tmp_path / "out"), snapshot_id="snapA")
    assert set(rep.written) == set(SINKS3)
    assert rep.written["archive"] == transcripts.count()
    lin = r.lineage()
    totals = lin.where(F.col("bucket") == -1)
    assert totals.count() == 3
    assert {x["sink"] for x in totals.collect()} == set(SINKS3)
    # per-partition rows sum to the sink total
    sums = (
        lin.where(F.col("bucket") >= 0)
        .groupBy("sink")
        .agg(F.sum("rows").alias("s"))
        .collect()
    )
    want = {x["sink"]: x["rows"] for x in totals.collect()}
    assert {x["sink"]: x["s"] for x in sums} == want


def test_kill_and_resume_no_duplicates(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapB", fail_after=1)
    assert r.committed_sinks("snapB") == {"errors"}

    rep2 = r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapB")
    assert rep2.skipped == ["errors"]
    assert set(rep2.written) == {"syslog", "archive"}

    # every sink exactly matches an independent recomputation — no dupes/loss
    expected = {
        "errors": transcripts.where(F.col("text").rlike("^ERROR ")).count(),
        "syslog": transcripts.where(F.col("text").rlike("^<")).count(),
        "archive": transcripts.count(),
    }
    for sink, want in expected.items():
        got = spark.read.parquet(f"{out}/sink={sink}")
        assert got.count() == want
        assert got.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count() == 0


def test_rerun_same_snapshot_is_noop(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapC")
    rep = r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapC")
    assert rep.written == {} and set(rep.skipped) == set(SINKS3)


def test_new_snapshot_reprocesses(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapD")
    rep = r.run(transcripts, PIPE, SINKS3, out, snapshot_id="snapE")
    assert set(rep.written) == set(SINKS3)


def test_one_write_per_run(spark, transcripts, tmp_path, monkeypatch):
    """Every pending sink goes out in ONE explode write; a run with every
    sink already committed makes none."""
    from logshipper_spark.plans import runner

    calls = []
    real = runner.write_fanout_explode

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(runner, "write_fanout_explode", spy)
    out = str(tmp_path / "out")
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
    df = transcripts.limit(60)
    with pytest.raises(RuntimeError, match="injected failure"):
        r.run(df, PIPE, SINKS3, out, snapshot_id="snapW", fail_after=1)
    assert len(calls) == 1
    r.run(df, PIPE, SINKS3, out, snapshot_id="snapW")  # resumes two sinks
    assert len(calls) == 2
    r.run(df, PIPE, SINKS3, out, snapshot_id="snapW")  # all committed
    assert len(calls) == 2
    assert all(c.startswith(out) for c in calls)


def test_zero_row_sink_commits(spark, transcripts, tmp_path):
    """A pending sink that receives no rows commits with rows 0 and a
    lineage total of 0 — whether it comes before or after a sink with
    rows, and when the whole delta routes nowhere — and
    read_sink_incremental skips it."""
    never = compile_pipeline(
        [{"match": "^NO SUCH LINE ", "forward": ["never"]}, {"forward": ["archive"]}]
    )
    n = transcripts.count()
    for order in (["never", "archive"], ["archive", "never"]):
        tag = order[0]
        r = CheckpointedRunner(spark, str(tmp_path / f"ckpt_{tag}"))
        out = str(tmp_path / f"out_{tag}")
        rep = r.run(transcripts, never, order, out, snapshot_id="z")
        assert rep.written == {"never": 0, "archive": n}
        assert r.committed_sinks("z") == {"never", "archive"}
        totals = {
            x["sink"]: x["rows"]
            for x in r.lineage().where(F.col("bucket") == -1).collect()
        }
        assert totals == {"never": 0, "archive": n}
        assert spark.read.parquet(f"{out}/sink=archive").count() == n
        with pytest.raises(FileNotFoundError, match="no committed ingest deltas"):
            r.read_sink_incremental(out, "never")

    # the whole first delta routes nowhere; the second delivers normally
    table, out = str(tmp_path / "table"), str(tmp_path / "out_drop")
    r = CheckpointedRunner(spark, str(tmp_path / "ckpt_drop"))
    transcripts.write.parquet(f"{table}/part=1")
    drop_all = compile_pipeline([{"drop": True}, {"forward": ["archive"]}])
    rep = r.run_incremental(table, drop_all, ["archive"], out)
    assert rep.written == {"archive": 0}
    assert r.pending_delta() is None
    lin = r.lineage().where(F.col("snapshot_id") == rep.snapshot_id).collect()
    assert [(x["bucket"], x["rows"]) for x in lin] == [(-1, 0)]
    half = transcripts.where(F.col("turn_idx") % 2 == 0)
    half.write.parquet(f"{table}/part=2")
    rep2 = r.run_incremental(table, PIPE, ["archive"], out)
    assert rep2.written == {"archive": half.count()}
    assert r.read_sink_incremental(out, "archive").count() == half.count()


class TestIncremental:
    """Parquet mirror of Iceberg incremental (snapshot-delta) reads: only
    appended files are processed; kills resume without duplicates."""

    def _stage(self, df, path, part):
        df.write.mode("overwrite").parquet(f"{path}/part={part}")

    def test_appends_processed_once(self, spark, transcripts, tmp_path):
        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        half1 = transcripts.where(F.col("turn_idx") % 2 == 0)
        half2 = transcripts.where(F.col("turn_idx") % 2 == 1)
        self._stage(half1, table, 1)
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
        rep1 = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep1.written["archive"] == half1.count()

        # nothing new → no-op
        rep_noop = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep_noop.written == {} and set(rep_noop.skipped) == set(SINKS3)

        # append the second half → only the delta is processed
        self._stage(half2, table, 2)
        rep2 = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep2.written["archive"] == half2.count()
        assert rep2.snapshot_id != rep1.snapshot_id

        got = r.read_sink_incremental(out, "archive")
        assert got.count() == transcripts.count()
        assert got.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count() == 0

    def test_append_before_retry_resumes_pending_delta(self, spark, transcripts, tmp_path):
        """ADVICE r2 window: delta fails mid-run (one sink committed), a NEW
        file is appended BEFORE the retry.  The retry must resume exactly
        the persisted pending delta — same snapshot id, same files — so the
        committed sink is skipped (no rewrite under a new snapshot = no
        duplicate ingest dirs); the appended file becomes the NEXT delta."""
        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        half1 = transcripts.where(F.col("turn_idx") % 2 == 0)
        half2 = transcripts.where(F.col("turn_idx") % 2 == 1)
        self._stage(half1, table, 1)
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run_incremental(table, PIPE, SINKS3, out, fail_after=1)
        pend = r.pending_delta()
        assert pend is not None and len(pend["files"]) > 0

        self._stage(half2, table, 2)  # append lands between failure and retry

        rep = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep.snapshot_id == pend["snapshot_id"]  # SAME delta resumed
        assert rep.skipped == ["errors"]               # committed sink kept
        assert r.pending_delta() is None

        rep2 = r.run_incremental(table, PIPE, SINKS3, out)  # appended file
        assert rep2.written["archive"] == half2.count()

        got = r.read_sink_incremental(out, "archive")
        assert got.count() == transcripts.count()
        assert (
            got.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
            == 0
        )

    def test_lineage_file_count_bounded_by_compaction(self, spark, transcripts, tmp_path):
        """VERDICT r3 #7: _lineage must not accumulate one tiny file per run
        forever — crossing the threshold compacts to a single file, and no
        lineage rows are lost."""
        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"),
                               lineage_compact_threshold=3)
        small = transcripts.limit(40)
        for i in range(6):
            self._stage(small, table, i)
            r.run_incremental(table, PIPE, SINKS3, out)
        n_files = len(r._lineage_part_files())
        assert n_files <= 4, f"lineage grew to {n_files} part files"
        lin = r.lineage()
        # every run contributed rows for every sink (bucket=-1 totals)
        assert lin.where(F.col("bucket") == -1).count() == 6 * len(SINKS3)

    def test_lineage_swap_crash_window_recovers(self, spark, transcripts, tmp_path):
        """r4 review finding: a crash between compact_lineage's two renames
        leaves only _lineage.old — reads and the next compaction must
        restore it, never rmtree the sole copy."""
        import os

        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"), lineage_compact_threshold=0)
        self._stage(transcripts.limit(30), table, 0)
        r.run_incremental(table, PIPE, SINKS3, out)
        n = r.lineage().count()
        d = os.path.join(str(tmp_path / "ckpt"), "_lineage")
        os.rename(d, d + ".old")  # simulate dying after rename #1
        assert r.lineage().count() == n          # read path heals the swap
        os.rename(d, d + ".old")
        assert r.compact_lineage() == n          # compaction heals, then compacts
        assert r.lineage().count() == n

    def test_pinned_files_deleted_fails_loudly_then_abandon_recovers(
        self, spark, transcripts, tmp_path
    ):
        """ADVICE r3: a pinned delta whose files were deleted/compacted must
        fail with an actionable error, and abandon_pending_delta() must
        restore forward progress (next run re-snapshots the current files)."""
        import shutil

        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        half1 = transcripts.where(F.col("turn_idx") % 2 == 0)
        self._stage(half1, table, 1)
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run_incremental(table, PIPE, SINKS3, out, fail_after=1)
        assert r.pending_delta() is not None

        # compaction: the pinned part files are rewritten under a new dir
        shutil.rmtree(f"{table}/part=1")
        self._stage(half1, table, "1compacted")

        with pytest.raises(FileNotFoundError, match="abandon_pending_delta"):
            r.run_incremental(table, PIPE, SINKS3, out)

        pin = r.abandon_pending_delta()
        assert pin is not None and r.pending_delta() is None
        rep = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep.written["archive"] == half1.count()
        assert rep.snapshot_id != pin["snapshot_id"]

    def test_killed_delta_resumes_without_duplicates(self, spark, transcripts, tmp_path):
        table = str(tmp_path / "table")
        out = str(tmp_path / "out")
        self._stage(transcripts, table, 1)
        r = CheckpointedRunner(spark, str(tmp_path / "ckpt"))
        with pytest.raises(RuntimeError, match="injected failure"):
            r.run_incremental(table, PIPE, SINKS3, out, fail_after=1)
        # kill before completion → files NOT marked processed
        assert r.processed_files() == set()
        rep = r.run_incremental(table, PIPE, SINKS3, out)
        assert rep.skipped == ["errors"]  # first sink committed pre-kill
        for sink, want in (
            ("errors", transcripts.where(F.col("text").rlike("^ERROR ")).count()),
            ("archive", transcripts.count()),
        ):
            got = r.read_sink_incremental(out, sink)
            assert got.count() == want
            assert (
                got.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
                == 0
            )


def test_literal_frames_are_local_relations(spark, transcripts, tmp_path, monkeypatch):
    """The runner's lineage rows and the curator's empty fingerprint and
    histogram frames are JVM ``LocalRelation``s, never Python-RDD scans."""
    from logshipper_spark.functions.curation import IncrementalCurator
    from logshipper_spark.plans import runner

    made = []
    real = runner.local_table

    def spy(*args):
        made.append(real(*args))
        return made[-1]

    monkeypatch.setattr(runner, "local_table", spy)
    CheckpointedRunner(spark, str(tmp_path / "ckpt")).run(
        transcripts.limit(50), PIPE, SINKS3, str(tmp_path / "out"), snapshot_id="snapL"
    )
    bench = spark.createDataFrame([(0, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    with IncrementalCurator(spark, str(tmp_path / "cur"), bench) as cur:
        made += [cur._seen_fingerprints(), cur._persisted_hist()]
    assert len(made) == 3
    for df in made:
        assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
