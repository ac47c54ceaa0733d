"""Per-query noop probes and a profiling-scale table builder (noop-sink
isolation; bench.py itself is FROZEN for measurement, so extra probes
live here).  Stage splits of minhash_pairs (signatures / candidates /
pairs) and of the ship pipeline (scan / parse / enrich / spec / route)
come from ``python3 perfbench/run.py --trace 1``.

Modes (pass as argv[1]):

* ``perq``      — best-of-N noop walls for a named query list (argv[2:]),
  at $SPARK_GRAFT_SF_DIR.
* ``scale``     — build a scaled documents/events profiling dir (argv[2] =
  multiplier, default 10) under /dev/shm/lss_r6_scaled by unioning the
  sf0.1 tables with shifted ids; subsequent perq runs can point
  SPARK_GRAFT_SF_DIR at it.  Profiling only — NEVER used for oracle work.

Every timed region prints (wall, steal_pct) via the same /proc/stat
protocol as bench.py.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import timed  # frozen protocol: wall + steal telemetry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def make_session(cores: int = CPUS):
    from logshipper_spark.session import get_spark

    return get_spark(app_name=f"bench_extra_local{cores}", cores=cores,
                     shuffle_partitions=cores)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def best_of(fn, n=2, label="", spark=None):
    walls = []
    for _ in range(n):
        if spark is not None:
            spark.sparkContext.setJobDescription(label or None)
        w, s = timed(fn)
        walls.append((w, s))
    best = min(w for w, _ in walls)
    print(json.dumps({"probe": label, "best": best,
                      "walls": [w for w, _ in walls],
                      "steal_pct": [s for _, s in walls]}))
    return best


def mode_perq(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = make_session()
    qs = entrymod.queries()
    for name in names:
        best_of(lambda n=name: noop(qs[n](spark, SF_DIR)), 2, f"perq: {name}", spark)
    spark.stop()


def mode_scale(mult: int) -> None:
    """Profiling-scale tables: union sf0.1 with itself ``mult`` times,
    ids shifted per copy so keys stay distinct, text/values untouched.
    Approximates the driver's larger-sf distributions for WALL-TIME
    profiling; correctness work always runs against real testdata."""
    import pyspark.sql.functions as F

    out_dir = f"/dev/shm/lss_r6_scaled_x{mult}"
    spark = make_session()
    os.makedirs(out_dir, exist_ok=True)
    specs = {
        "documents": ("doc_id", 1_000_000),
        "events": ("event_id", 10_000_000),
        "embeddings": ("vec_id", 1_000_000),
        "lineitem": ("l_orderkey", 100_000_000),
        "orders": ("o_orderkey", 100_000_000),
        "customer": ("c_custkey", 10_000_000),
    }
    for tbl, (idc, shift) in specs.items():
        src = f"{SF_DIR}/{tbl}.parquet"
        if not os.path.exists(src):
            continue
        base = spark.read.parquet(src)
        parts = [base.withColumn(idc, F.col(idc) + F.lit(i * shift))
                 for i in range(mult)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{tbl}.parquet"))
        print(json.dumps({"probe": f"scale:{tbl}",
                          "rows": spark.read.parquet(
                              os.path.join(out_dir, f"{tbl}.parquet")).count()}))
    # small dims copied as-is
    for tbl in ("nation", "region", "supplier", "part"):
        src = f"{SF_DIR}/{tbl}.parquet"
        if os.path.exists(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{tbl}.parquet"))
    print(json.dumps({"probe": "scale:done", "dir": out_dir}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "perq"
    if mode == "scale":
        mode_scale(int(sys.argv[2]) if len(sys.argv) > 2 else 10)
    else:
        mode_perq(sys.argv[2:])
