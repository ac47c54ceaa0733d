"""Pipeline manager: YAML pipeline-config loading.

The reference's ``PipelineManager`` (logshipper/pipeline.py [approx]) reads
every YAML file in a directory as a named pipeline (filename stem = name),
resolves handlers, and hot-reloads on change.  Batch jobs are immutable per
run, so this manager loads once at submit time (SURVEY.md §2.1) and skips
hot-reload; everything else matches: one YAML document = a list of steps,
``call``/``jump`` may reference other pipelines by name.

YAML shape (same as a logshipper pipeline file)::

    - match:
        text: '^(?P<level>ERROR|WARN) (?P<component>\\w+):'
      set:
        alert: '{component}/{level}'
      forward: [errors]
    - match: '^DEBUG'
      drop: true
    - forward: [archive]
"""

from __future__ import annotations

import os
from typing import Any

from logshipper_spark.plans.spec import Pipeline

try:
    import yaml
except ImportError:  # pragma: no cover — pyyaml is present in this env
    yaml = None


class PipelineManager:
    """Load a directory (or dict) of pipeline specs into compiled Pipelines
    that can call each other by name."""

    def __init__(self, default_field: str = "text"):
        self.default_field = default_field
        self.pipelines: dict[str, Pipeline] = {}

    def load_dir(self, path: str) -> "PipelineManager":
        if yaml is None:
            raise RuntimeError("pyyaml is required for YAML pipeline configs")
        from logshipper_spark.sources.metafs import get_metafs

        fs = get_metafs()
        self._dir = path
        self._mtimes = self._dir_mtimes(path)
        specs: dict[str, list[dict[str, Any]]] = {}
        for fname in sorted(fs.listdir(path)):
            if fname.endswith((".yml", ".yaml")):
                text = fs.read_text(os.path.join(path, fname))
                specs[os.path.splitext(fname)[0]] = yaml.safe_load(text) or []
        return self.load_specs(specs)

    @staticmethod
    def _dir_mtimes(path: str) -> dict[str, tuple[int, int]]:
        from logshipper_spark.sources.metafs import get_metafs

        fs = get_metafs()
        return {
            f: fs.stat_sig(os.path.join(path, f))
            for f in fs.listdir(path)
            if f.endswith((".yml", ".yaml"))
        }

    def reload_if_changed(self) -> bool:
        """Hot-reload (reference: PipelineManager's config-dir watcher
        [approx]).  Batch runs stay immutable per job; the streaming driver
        calls this between micro-batches (e.g. inside foreachBatch) so a
        YAML edit atomically swaps the compiled pipelines at the next epoch.
        Returns True when a reload happened."""
        d = getattr(self, "_dir", None)
        if d is None:
            return False
        mt = self._dir_mtimes(d)
        if mt == self._mtimes:
            return False
        # parse+compile into a FRESH manager first; swap only on success so a
        # half-saved/malformed YAML (likely exactly when hot-reload fires)
        # keeps the last-good pipelines serving and retries next epoch
        # (_mtimes is only advanced on success, so the bad state isn't sticky)
        fresh = PipelineManager(default_field=self.default_field)
        fresh.load_dir(d)
        self.pipelines, self._mtimes = fresh.pipelines, fresh._mtimes
        return True

    def load_specs(self, specs: dict[str, list[dict[str, Any]]]) -> "PipelineManager":
        # two-phase so `call` can reference pipelines in any order: compile
        # every pipeline against the SHARED registry dict, then fill it
        for name in specs:
            self.pipelines[name] = Pipeline(
                [], default_field=self.default_field, pipelines=self.pipelines
            )
        for name, steps in specs.items():
            self.pipelines[name].steps = steps
        return self

    def get(self, name: str) -> Pipeline:
        return self.pipelines[name]

    def process(self, df, name: str):
        """Reference-shaped entry point: run one named pipeline over a
        DataFrame (``PipelineManager.process(message, pipeline)`` [approx],
        columnar)."""
        return self.pipelines[name].apply(df)
