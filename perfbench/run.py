"""Repository benchmark for logshipper_spark.

    python3 perfbench/run.py --workload {ship,curate} --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` (removed at exit) and, for traced runs, the span dump
under ``.perfbench_out/``.  The session is ``local[4]`` with ``spark.driver.memory`` 3g.

``--trace 0`` measures one workload (see ``ship.py``, ``curate.py``):

* ``setup_s``: ``get_spark()`` (JVM start, session config) plus the
  session's first job;
* untimed warm-up iterations on the staged input (two for ship, one for
  curate), which pay the workload's own codegen and Python worker spawn
  (``warm_s`` in the report; the curate warm pass also collects the
  results it checks);
* back-to-back iterations until ``--seconds`` seconds have passed and the
  workload's minimum count is reached (three ship passes, one curate pass);
* untimed output checks.

``--trace 1`` is the traced run.  Whatever ``--workload`` names, it runs
all three shapes (ship, curate, increment) with fixed iteration counts, so
every per-layer metric is measured and its job/task/row counts repeat
exactly for a seed.  To stay within a run's time limit on a slow host it
takes no warm-up pass: the ship and curate spans include their plans'
first compile and Python worker start, and the curate spans collect the
results the output checks read.  Span walls exclude the tracer's own
bookkeeping (job-group tagging, listener-bus drains, status reads); that
bookkeeping is reported per shape as the tracing overhead.  The increment shape
(``increment.py``) runs only here.

Lines before the last are the human report and one JSON report object;
the last line is ``{"correct", "attempted", "failed", "metrics"}`` with the
metrics ``BENCHMARK.json`` lists for the mode.  ``layers.json`` maps each
per-layer metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

from harness import (CORES, ROOT, RssSampler, RunDirs, Tracer, adopt_orphans,
                     host_telemetry, median, reap_children, require_program,
                     spark_conf, stop_spark, tail, timed_call)

STEAL_FLAG_PCT = 10.0


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_class(name: str):
    if name == "ship":
        from ship import Ship
        return Ship
    from curate import Curate
    return Curate


def start_session(dirs: RunDirs, traced: bool):
    """(spark, get_spark wall, first-job wall) — the same for every workload."""
    from logshipper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES, shuffle_partitions=CORES,
                      extra_conf=spark_conf(dirs, traced))
    t1 = time.perf_counter()
    warm_session(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def warm_session(spark) -> None:
    """The first job of a session: JVM-side codegen and task launch."""
    spark.range(0, 1 << 16, 1, CORES).selectExpr("sum(id % 7)").collect()


def emit(rows: list[tuple[str, float, str]], report: dict, result: dict) -> None:
    for name, value, unit in rows:
        print(f"{name:48s} {value:14.6g} {unit}")
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result), flush=True)


# -------------------------------------------------------------- untraced --

def run_workload(args, contract: dict) -> None:
    dirs = RunDirs(args.workload)
    try:
        with RssSampler() as rss:
            spark, t_get, t_warm = start_session(dirs, traced=False)
            try:
                wl = workload_class(args.workload)(spark, dirs, args.seed, args.scale)
                staged = wl.stage()
                warm_s, _ = timed_call(wl.warm)
                walls, steals, raised = [], [], 0
                t0 = time.perf_counter()
                while time.perf_counter() - t0 < args.seconds or len(walls) + raised < wl.min_iters:
                    try:
                        wall, steal = timed_call(wl.iterate)
                    except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
                        traceback.print_exc()
                        raised += 1
                        if raised > 2:
                            break
                        continue
                    walls.append(wall)
                    steals.append(steal)
                if not walls:
                    raise RuntimeError("no iteration completed")
                out_mb = wl.out_bytes() / 1e6
                checks = wl.check()
                host = host_telemetry(spark)
            finally:
                stop_spark(spark)
    finally:
        dirs.remove()

    attempted = len(walls) + raised
    failed = attempted if not all(checks.values()) else raised
    p50 = median(walls)
    tl = tail(walls)
    report = {
        "workload": args.workload, "seed": args.seed, "input": staged, "host": host,
        "get_spark_s": t_get, "warm_s": warm_s, "iter_walls_s": walls,
        "steal_pct": steals,
        "steal_flagged": [i for i, s in enumerate(steals) if s is not None and s > STEAL_FLAG_PCT],
        "iter_tail": None if tl is None else {"pct": tl[0], "value_s": tl[1], "samples": tl[2]},
        "out_mb": out_mb, "failed_frac": failed / attempted, "checks": checks,
    }
    values = {"setup_s": t_get + t_warm, "iter_p50_s": p50, "rows_per_s": wl.rows / p50}
    units = {m["name"]: m["unit"] for m in contract["end_to_end"]}
    rows = [(k, values[k], units[k]) for k in units]
    # reported, not bounded: see layers.json "end_to_end"
    rows.append(("peak_rss_mb", rss.peak / 1e6, "MB"))
    if tl is not None:
        rows.append((f"iter_tail_s (p{tl[0]:.0f} of {tl[2]})", tl[1], "s"))
    if args.workload != "curate":
        rows.append(("out_mb", out_mb, "MB"))
    rows.append(("failed_frac", failed / attempted, "ratio"))
    rows += [(f"check {k}", float(v), "pass") for k, v in checks.items()]
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    emit(rows, report, {"correct": failed == 0 and all(checks.values()),
                        "attempted": attempted, "failed": failed, "metrics": metrics})


# ---------------------------------------------------------------- traced --

def run_traced(args, contract: dict) -> None:
    from curate import TRACED_CALLS, Curate
    from increment import Increment
    from ship import Ship

    dirs = RunDirs(f"traced-{args.workload}")
    metrics: dict[str, float] = {}
    checks: dict[str, bool] = {}
    report: dict = {"workload": args.workload, "seed": args.seed, "inputs": {}}
    attempted = 0
    try:
        spark, t_get, t_warm = start_session(dirs, traced=True)
        try:
            tracer = Tracer(spark)
            tracer.iteration = "session"
            with tracer.span("warm_up", "session"):  # again, to count its jobs
                warm_session(spark)
            metrics["session.get_spark_s"] = t_get
            report["host"] = host_telemetry(spark)

            for wl in (Ship(spark, dirs, args.seed, args.scale),
                       Curate(spark, dirs, args.seed, args.scale, calls=TRACED_CALLS)):
                tracer.iteration = f"{wl.name}:stage"
                if wl.name == "ship":
                    with tracer.span("generate", "sources.transcripts") as s_gen:
                        report["inputs"][wl.name] = wl.stage()
                    metrics["sources.transcripts.generate_s"] = s_gen.wall
                else:
                    report["inputs"][wl.name] = wl.stage()
                tracer.iteration = f"{wl.name}:traced"
                metrics.update(wl.traced(tracer))
                attempted += 1
                checks.update(wl.check())

            inc = Increment(spark, dirs, args.seed, args.scale)
            tracer.iteration = "increment:stage"
            with tracer.span("generate", "sources.transcripts"):
                report["inputs"]["increment"] = inc.stage()
            res = inc.run(tracer)
            attempted += len(res["report"]["iter_walls_s"])
            metrics.update(res["metrics"])
            report["increment"] = res["report"]
            checks.update(inc.check())
            for name in ("ship:traced", "curate:traced", "increment:d"):
                metrics[f"trace.{name.split(':')[0]}.overhead_s"] = tracer.overhead(name)

            layers = [m["name"][:-len(".jobs")] for m in contract["per_layer"]
                      if m["name"].endswith(".jobs")]
            for layer in layers:
                for k, v in tracer.layer_counts(layer).items():
                    metrics[f"{layer}.{k}"] = v
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"trace-{args.workload}-seed{args.seed}.json"))
        finally:
            stop_spark(spark)
    finally:
        dirs.remove()

    report["checks"] = checks
    units = {m["name"]: m["unit"] for m in contract["per_layer"]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    rows = [(k, float(metrics[k]), units[k]) for k in units]
    rows += [(f"check {k}", float(v), "pass") for k, v in checks.items()]
    ok = all(checks.values())
    emit(rows, report, {
        "correct": ok, "attempted": attempted, "failed": 0 if ok else attempted,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="ship")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args()
    require_program()
    contract = load_contract()
    if args.workload not in {w["name"] for w in contract["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    # every exit path, SIGTERM included, waits for the processes the run started
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.trace:
            run_traced(args, contract)
        else:
            run_workload(args, contract)
    finally:
        reap_children()


if __name__ == "__main__":
    main()
