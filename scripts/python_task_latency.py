"""Fixed cost of one Python task: engine session vs a plain SparkSession.

Times three small jobs, each ``--repeats`` times after two warm-up runs,
and prints their medians:

* ``rdd_map_1``    — ``sc.parallelize([0], 1).map(lambda x: x).collect()``:
  one Python task that touches one element;
* ``arrow_udf_15k`` — a 15,000-row Arrow-optimised Python UDF in one
  partition, written to the ``noop`` sink;
* ``jvm_only``     — ``spark.range(1, numPartitions=1).collect()``: the
  same one-task job shape with no Python worker.

Each session runs in its own child process (one SparkContext per
process): ``engine`` is :func:`ayeaye_spark.core.session.get_spark`,
``plain`` is ``SparkSession.builder.master("local[n]")`` with Spark's
own Python daemon.  The gap between ``rdd_map_1`` and ``jvm_only`` is
what every Python task pays before it reads a row.

Usage:  python scripts/python_task_latency.py [--repeats 15]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SESSIONS = ("engine", "plain")


def _session(kind: str):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    if kind == "engine":
        sys.path.insert(0, str(ROOT))
        from ayeaye_spark.core.session import get_spark

        return get_spark("python_task_latency")
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    return (
        SparkSession.builder.appName("python_task_latency")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEM"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def measure(kind: str, repeats: int) -> dict[str, float]:
    from pyspark.sql import functions as F

    spark = _session(kind)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    plus_one = F.udf(lambda v: v + 1, "long", useArrow=True)
    jobs = {
        "rdd_map_1": lambda: sc.parallelize([0], 1).map(lambda x: x).collect(),
        "arrow_udf_15k": lambda: spark.range(15_000, numPartitions=1)
        .select(plus_one("id"))
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "jvm_only": lambda: spark.range(1, numPartitions=1).collect(),
    }
    medians = {}
    for name, job in jobs.items():
        samples = []
        for i in range(repeats + 2):
            t0 = time.perf_counter()
            job()
            if i >= 2:
                samples.append(time.perf_counter() - t0)
        medians[name] = statistics.median(samples)
    spark.stop()
    return medians


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeats", type=int, default=15)
    ap.add_argument("--session", choices=SESSIONS, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.session:
        print(json.dumps(measure(args.session, args.repeats)))
        return
    results = {}
    for kind in SESSIONS:
        out = subprocess.run(
            [sys.executable, __file__, "--session", kind, "--repeats", str(args.repeats)],
            check=True, stdout=subprocess.PIPE, text=True,
        ).stdout
        results[kind] = json.loads(out.strip().splitlines()[-1])
    print(f"median seconds over {args.repeats} runs")
    print(f"{'job':<14}" + "".join(f"{k:>10}" for k in SESSIONS))
    for job in results["engine"]:
        print(f"{job:<14}" + "".join(f"{results[k][job]:>10.3f}" for k in SESSIONS))


if __name__ == "__main__":
    main()
