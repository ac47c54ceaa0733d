"""Checkpointed pipeline runner: resume-without-duplicates + lineage.

The reference is at-most-once with no persisted offsets (a killed logshipper
loses in-flight messages; SURVEY.md §2.9).  This runner strengthens that to
effectively-once for batch fan-out over immutable table snapshots:

* **snapshot identity** — Iceberg snapshot id in production; here the
  parquet-fallback fingerprint from ``TableIO.snapshot_id`` (file listing +
  sizes).
* **one write per delta** — every pending sink goes out in ONE exploded
  ``write_fanout_explode`` action into ``_staging-<snapshot>`` under
  ``out_dir`` (Spark readers skip ``_`` dirs).
* **per-sink commit** — after that action returns, each sink in turn moves
  to ``sink=<s>[/<sink_subdir>]``, replacing what a killed attempt left,
  and only then gets its ``state.json`` marker.  Resume rewrites staging
  for the uncommitted sinks from the same immutable snapshot → zero
  duplicates, zero loss.
* **lineage** — one ``observe()`` on that write counts rows per sink and
  per (sink, bucket); each commit appends them, with wall ms and time, to
  the ``_lineage`` parquet table — never re-reading the written output.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from logshipper_spark.operators.route import with_bucket, write_fanout_explode
from logshipper_spark.operators.sqltext import sql_str
from logshipper_spark.plans.spec import Pipeline
from logshipper_spark.sources.local import local_table


@dataclass
class RunReport:
    snapshot_id: str
    written: dict[str, int] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)


class CheckpointedRunner:
    def __init__(self, spark: SparkSession, checkpoint_dir: str, n_buckets: int = 64,
                 lineage_compact_threshold: int = 64):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.n_buckets = n_buckets
        # each run() appends ONE small parquet file to _lineage; at 10^4
        # runs that is 10^4 tiny files — compact when the count crosses
        # this threshold so the audit table stays scannable (amortized one
        # extra small job every `threshold` runs).  0/None disables.
        self.lineage_compact_threshold = lineage_compact_threshold
        # control-plane files go through the metafs seam so a cluster
        # deployment can point state at a DFS/object store (metafs.py)
        from logshipper_spark.sources.metafs import get_metafs

        self._fs = get_metafs()
        self._fs.makedirs(checkpoint_dir)
        self._state_path = os.path.join(checkpoint_dir, "state.json")

    # -- state ------------------------------------------------------------
    def _load_state(self) -> dict:
        if self._fs.exists(self._state_path):
            return json.loads(self._fs.read_text(self._state_path))
        return {"committed": {}}

    def _save_state(self, state: dict) -> None:
        self._fs.write_text(self._state_path, json.dumps(state, indent=2))

    def _mark_committed(self, snapshot_id: str, sink: str, meta: dict) -> None:
        state = self._load_state()
        state["committed"].setdefault(snapshot_id, {})[sink] = meta
        self._save_state(state)

    def committed_sinks(self, snapshot_id: str) -> set[str]:
        return set(self._load_state()["committed"].get(snapshot_id, {}))

    # -- run --------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        pipeline: Pipeline,
        sink_names: list[str],
        out_dir: str,
        snapshot_id: str,
        fail_after: int | None = None,  # fault injection for resume tests
        sink_subdir: str = "",          # e.g. "ingest=<snap>" for incremental deltas
    ) -> RunReport:
        report = RunReport(snapshot_id=snapshot_id)
        todo = [s for s in sink_names if s not in self.committed_sinks(snapshot_id)]
        report.skipped = [s for s in sink_names if s not in todo]
        if not todo:
            return report

        t0 = time.time()
        staging = os.path.join(out_dir, f"_staging-{snapshot_id}")
        # lineage: one observed array per sink, its total then a count per
        # bucket — SQL text, one Column per sink (not per (sink, bucket))
        conds = ["", *(f"bucket = {b} AND " for b in range(self.n_buckets))]
        metrics = [
            F.expr("array(%s) AS s%d" % (", ".join(f"count_if({c}sink = {sql_str(s)})" for c in conds), i))
            for i, s in enumerate(todo)
        ]
        obs = Observation()
        routed = with_bucket(pipeline.routed(df), n_buckets=self.n_buckets)
        write_fanout_explode(routed.where(F.col("sink").isin(todo)).observe(obs, *metrics),
                             staging, n_buckets=self.n_buckets, salt_buckets=0)
        # an all-empty write never reports its observation (AQE swaps the
        # empty shuffle stage, observed metrics included, for an empty
        # relation) — but then nothing was staged and every count is 0
        staged = set(self._data_list(staging))
        got = obs.get if any(n.startswith("sink=") for n in staged) else {}
        escape = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
        lineage_rows = []
        try:
            for i, sink in enumerate(todo):
                if fail_after is not None and i >= fail_after:
                    raise RuntimeError(f"injected failure before sink {sink}")
                n, *per_bucket = got.get(f"s{i}") or [0]
                path = os.path.join(out_dir, f"sink={sink}", sink_subdir).rstrip("/")
                src = f"sink={escape(sink)}"
                if src in staged:
                    self._data_replace(os.path.join(staging, src), path)
                else:
                    self._data_delete(path)
                wall_ms = int((time.time() - t0) * 1000)
                now = datetime.fromtimestamp(time.time(), tz=timezone.utc)
                self._mark_committed(
                    snapshot_id, sink, {"rows": n, "wall_ms": wall_ms, "path": path}
                )
                lineage_rows.append((snapshot_id, sink, -1, n, wall_ms, now))
                lineage_rows.extend(
                    (snapshot_id, sink, b, k, wall_ms, now)
                    for b, k in enumerate(per_bucket) if k
                )
                report.written[sink] = n
            self._data_delete(staging)
        finally:
            if lineage_rows:
                lineage = local_table(
                    self.spark,
                    lineage_rows,
                    "snapshot_id string, sink string, bucket int, rows bigint, "
                    "wall_ms bigint, completed_at timestamp",
                )
                lineage.coalesce(1).write.mode("append").parquet(
                    os.path.join(self.checkpoint_dir, "_lineage")
                )
                if self.lineage_compact_threshold:
                    self._maybe_compact_lineage()
        return report

    def lineage(self) -> DataFrame:
        self._recover_lineage_swap()
        return self.spark.read.parquet(os.path.join(self.checkpoint_dir, "_lineage"))

    # -- data-plane files ----------------------------------------------------
    # staged sinks, _lineage, pinned-delta files and snapshot fingerprints
    # are files SPARK reads and writes: list, move and probe them through
    # Spark's own Hadoop FileSystem, never the control-plane metafs — with
    # an injected metadata backend those differ (r4 review finding).
    def _hadoop_status(self, path: str):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, p

    def _data_exists(self, path: str) -> bool:
        fs, p = self._hadoop_status(path)
        return bool(fs.exists(p))

    def _data_stat_sig(self, path: str) -> tuple[int, int]:
        """(length, mtime_ms) snapshot-fingerprint signature via Hadoop."""
        fs, p = self._hadoop_status(path)
        st = fs.getFileStatus(p)
        return (int(st.getLen()), int(st.getModificationTime()))

    def _data_list(self, path: str) -> list[str]:
        """Child names of a directory; [] when it does not exist."""
        fs, p = self._hadoop_status(path)
        return [st.getPath().getName() for st in fs.listStatus(p)] if fs.exists(p) else []

    def _data_delete(self, path: str) -> None:
        fs, p = self._hadoop_status(path)
        fs.delete(p, True)

    def _data_replace(self, src: str, dst: str) -> None:
        """Move ``src`` to ``dst``, deleting any existing ``dst`` first (a
        Hadoop rename onto an existing directory nests inside it)."""
        fs, s = self._hadoop_status(src)
        d = self._hadoop_status(dst)[1]
        fs.delete(d, True)
        fs.mkdirs(d.getParent())
        if not fs.rename(s, d):
            raise OSError(f"rename {src} -> {dst} failed")

    def _recover_lineage_swap(self) -> None:
        """Heal a crash between compact_lineage's two renames: ``_lineage``
        gone but ``_lineage.old`` present → restore the old table.  Without
        this, the next compaction's delete of ``.old`` would silently
        destroy the entire audit history (r4 review finding).  Called
        before every lineage read and at compaction start."""
        d = os.path.join(self.checkpoint_dir, "_lineage")
        old = d + ".old"
        if not self._data_exists(d) and self._data_exists(old):
            self._data_replace(old, d)

    def _lineage_part_files(self) -> list[str]:
        self._recover_lineage_swap()
        d = os.path.join(self.checkpoint_dir, "_lineage")
        return [f for f in self._data_list(d) if f.endswith(".parquet") and not f.startswith(".")]

    def _maybe_compact_lineage(self) -> None:
        if len(self._lineage_part_files()) > self.lineage_compact_threshold:
            self.compact_lineage()

    def compact_lineage(self) -> int:
        """Rewrite the append-only ``_lineage`` table into one parquet file.

        Single-writer assumption (same as state.json): write to a sibling
        dir, then two renames.  A crash between the renames leaves
        ``.old`` holding the only copy — ``_recover_lineage_swap`` (run
        here and before every read) restores it, so every crash point
        leaves a recoverable table.  ``.old`` is only deleted after the
        new directory is in place.  Returns the row count compacted."""
        self._recover_lineage_swap()
        d = os.path.join(self.checkpoint_dir, "_lineage")
        tmp = d + ".compact"
        old = d + ".old"
        rows = self.spark.read.parquet(d)
        n = rows.count()
        rows.coalesce(1).write.mode("overwrite").parquet(tmp)
        self._data_replace(d, old)
        self._data_replace(tmp, d)
        self._data_delete(old)
        return n

    # -- incremental snapshots ---------------------------------------------
    def processed_files(self) -> set[str]:
        state = self._load_state()
        return set(state.get("processed_files", []))

    def _mark_files_processed(self, files: list[str]) -> None:
        state = self._load_state()
        done = set(state.get("processed_files", []))
        done.update(files)
        state["processed_files"] = sorted(done)
        state.pop("pending_delta", None)  # the delta is fully committed
        self._save_state(state)

    def pending_delta(self) -> dict | None:
        """The in-flight delta (snapshot_id + exact file list), persisted
        BEFORE the run starts so a retry resumes exactly this delta."""
        return self._load_state().get("pending_delta")

    def _set_pending_delta(self, snapshot_id: str, files: list[str]) -> None:
        state = self._load_state()
        state["pending_delta"] = {"snapshot_id": snapshot_id, "files": files}
        self._save_state(state)

    def abandon_pending_delta(self) -> dict | None:
        """Explicit escape hatch: discard a pinned delta whose source files
        were deleted/compacted between failure and retry.  Returns the
        abandoned pin (or None).  The pinned files are NOT marked processed
        — whatever replaced them is picked up as a fresh delta next run.
        CAUTION: sinks that already committed under the abandoned snapshot
        keep their ``ingest=<snapshot>`` dirs; if the replacement files hold
        the same rows, remove those dirs (the returned pin names the
        snapshot id) or the re-processed delta will duplicate them."""
        state = self._load_state()
        pin = state.pop("pending_delta", None)
        if pin is not None:
            self._save_state(state)
        return pin

    def run_incremental(
        self,
        table_path: str,
        pipeline: Pipeline,
        sink_names: list[str],
        out_dir: str,
        fail_after: int | None = None,
    ) -> RunReport:
        """Process only the files APPENDED since the last run — the parquet
        mirror of an Iceberg incremental (snapshot-delta) read.

        Each delta gets its own snapshot id (fingerprint of the new file
        set) and each sink commits to ``sink=<s>/ingest=<snapshot>/`` —
        re-running a killed delta replaces its own partial output
        (effectively-once), while earlier deltas are untouched.

        The delta's EXACT file list is persisted as ``pending_delta`` in
        state BEFORE any sink runs: a retry resumes precisely that delta —
        same snapshot id, same files — even if new files were appended in
        between (they wait for the next call).  Without this, a retry after
        an append would fold the old files into a NEW snapshot with empty
        committed_sinks and rewrite them alongside the already-committed
        ingest dirs — duplicate rows on read.  File paths are marked
        processed (and the pending delta cleared) ONLY after every sink of
        the delta commits.  ``read_sink_incremental`` unions the ingest dirs.
        """
        import hashlib

        from logshipper_spark.sources.tableio import TableIO

        pending = self.pending_delta()
        if pending is not None:
            new, snapshot_id = pending["files"], pending["snapshot_id"]
            missing = [f for f in new if not self._data_exists(f)]
            if missing:
                # a pinned file was deleted/compacted between failure and
                # retry: without this check every subsequent call fails in
                # spark.read.parquet with no recovery path.  Fail loudly
                # with the escape hatch named.
                raise FileNotFoundError(
                    f"pending delta {snapshot_id} pins {len(missing)} file(s) "
                    f"that no longer exist (e.g. {missing[0]!r}); if the "
                    "delta's source files were compacted away, call "
                    "abandon_pending_delta() to discard the pin and let the "
                    "next run_incremental() re-snapshot the current file set"
                )
        else:
            io = TableIO(self.spark, warehouse=os.path.dirname(table_path) or ".")
            files = io.list_data_files(table_path)
            new = [f for f in files if f not in self.processed_files()]
            if not new:
                return RunReport(snapshot_id="", skipped=list(sink_names))
            stats = [(os.path.relpath(f, table_path), *self._data_stat_sig(f)) for f in new]
            snapshot_id = "inc_" + hashlib.sha256(json.dumps(stats).encode()).hexdigest()[:12]
            self._set_pending_delta(snapshot_id, new)
        df = self.spark.read.parquet(*new)
        report = self.run(
            df, pipeline, sink_names,
            out_dir=out_dir, snapshot_id=snapshot_id, fail_after=fail_after,
            sink_subdir=f"ingest={snapshot_id}",
        )
        self._mark_files_processed(new)
        return report

    def read_sink_incremental(self, out_dir: str, sink: str) -> DataFrame:
        """Union of every COMMITTED ingest delta for a sink.

        Reads only the ingest directories with a commit marker in
        state.json — a glob over ``sink=<s>/`` would also pick up the
        partial directory a killed mid-write delta left behind, exposing
        uncommitted rows to readers until the retry overwrites it (r4
        review finding).  A zero-row commit has no directory: skipped."""
        committed = self._load_state().get("committed", {})
        prefix = os.path.join(out_dir, f"sink={sink}")
        # set-dedupe: plain run() commits (sink_subdir='') record the same
        # 'out/sink=<s>' path under every snapshot — passing it twice to
        # spark.read.parquet double-counts every row (r4 advice)
        paths = sorted({
            meta["path"]
            for sinks in committed.values()
            for s, meta in sinks.items()
            if s == sink and meta["rows"] and meta.get("path", "").startswith(prefix)
        })
        if not paths:
            raise FileNotFoundError(
                f"no committed ingest deltas for sink {sink!r} under {prefix}"
            )
        # basePath: the ingest dirs are sibling partitions of one logical
        # table — without it Spark's partition discovery rejects multiple
        # partition-style roots (CONFLICTING_DIRECTORY_STRUCTURES)
        return self.spark.read.option("basePath", prefix).parquet(*paths)
