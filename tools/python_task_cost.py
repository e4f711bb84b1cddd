"""Per-task cost of a reused PySpark Python worker.

Runs a trivial ``mapInArrow`` (one ``range`` batch in, its row count
out) over 64 partitions on ``local[<nproc>]``, in two fresh sessions,
each in its own process and JVM:

- ``plain``:  the function imports nothing from the engine;
- ``engine``: the function imports ``parserpdf_spark`` first, as every
  unpickled engine function does.

For each it prints the wall time per task-core (wall * cores / tasks,
best and median of the timed runs after one warm-up run), the distinct
worker PIDs that ran the tasks, where the workers imported pyspark from,
and the host.  The gap between the two legs is what the engine's import
side effects (``parserpdf_spark.zipcache``) save per task.

    python tools/python_task_cost.py
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTITIONS = 64
RUNS = 5


def _plain(batches):
    import os

    import pyarrow as pa

    import pyspark

    for batch in batches:
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "rows": [batch.num_rows],
            "pyspark": [os.path.dirname(pyspark.__file__)]})


def _engine(batches):
    import parserpdf_spark  # noqa: F401  (installs the engine's import hooks)

    yield from _plain(batches)


def run_leg(leg: str) -> dict:
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"python_task_cost_{leg}")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    fn = _engine if leg == "engine" else _plain
    df = spark.range(0, PARTITIONS * 1000, numPartitions=PARTITIONS).mapInArrow(
        fn, schema="pid long, rows long, pyspark string")
    df.collect()  # warm-up: spawns the workers
    walls, pids, where = [], set(), set()
    for _ in range(RUNS):
        t0 = time.perf_counter()
        rows = df.collect()
        walls.append(time.perf_counter() - t0)
        assert sum(r.rows for r in rows) == PARTITIONS * 1000
        pids.update(r.pid for r in rows)
        where.update(r.pyspark for r in rows)
    spark.stop()
    per_task_core = [w * cores / PARTITIONS * 1000 for w in walls]
    return {
        "leg": leg,
        "ms_per_task_core_best": round(min(per_task_core), 1),
        "ms_per_task_core_median": round(statistics.median(per_task_core), 1),
        "wall_s": [round(w, 3) for w in walls],
        "worker_pids": len(pids),
        "worker_pyspark": sorted(where),
    }


def host() -> dict:
    import pyspark

    return {
        "node": platform.node(),
        "cores": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark_home": os.environ.get("SPARK_HOME"),
        "loadavg": os.getloadavg()[0],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--leg", choices=("plain", "engine"))
    args = ap.parse_args()
    if args.leg:
        print(json.dumps(run_leg(args.leg)))
        return
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in [REPO_ROOT, env.get("PYTHONPATH", "")] if p)
    print(json.dumps({"host": host()}))
    for leg in ("plain", "engine"):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg", leg],
            env=env, cwd=REPO_ROOT, check=True, capture_output=True, text=True)
        print(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    main()
