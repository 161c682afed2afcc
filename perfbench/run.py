"""Pipeline benchmark: run one workload through its public entry point
(``ModelCollection.run`` / ``Model.go``), check every iteration's
outputs, and print the metrics as one JSON line.

    python3 perfbench/run.py --workload tpch_dag --seed 1 --seconds 10 --trace 0

Run it from the repository root.  One run:

1. pins the environment (cores, Spark driver heap, local dirs,
   ``PYTHONPATH`` for Python UDF workers) and records it;
2. set-up: generates the seeded inputs three times (each must hash the
   same), then starts the Spark session — ``setup_s`` is session start
   plus the median generation time;
3. runs the first iteration in the fresh session (``cold_makespan_s``),
   ``workload.warmup`` untimed iterations, then warm iterations for
   ``--seconds`` (at least ``workload.min_warm``); ``makespan_s`` is
   their median.  Each iteration's outputs are checked outside the
   timed region; a failed check counts as a failed operation.

With ``--trace 1`` the warm iterations alternate untraced and traced
(spans from ``tracing.py``, Spark deltas from ``sparkstats.py``), and
the per-layer metrics are the medians over traced iterations; the
tracing overhead is the traced minus the untraced median makespan.
Spans are written to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
GENERATIONS = 3


def pin_environment() -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # get_spark defaults to a 48g heap.  A small fixed heap fits any
        # box this runs on and keeps the JVM's peak RSS from drifting
        # with how far G1 chose to grow the heap.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(1024, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Arrow UDF workers import ayeaye_spark and perfbench by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    sys.path.insert(0, ROOT)
    return {**env, "mem_total_mb": str(total_mb)}


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far.  Steal is time
    the host ran something else while a CPU here had work: on a shared
    host it is what makes whole runs slower together."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def make_workload(name: str, work_dir: str, cores: int):
    if name == "tpch_dag":
        from perfbench.tpch_dag import TpchDag
        return TpchDag(work_dir, cores)
    if name == "ingest_fanout":
        from perfbench.ingest_fanout import IngestFanoutWorkload
        return IngestFanoutWorkload(work_dir, cores)
    raise SystemExit(f"unknown workload {name!r}")


def describe(values: list[float]) -> str:
    if not values:
        return "n=0"
    ordered = sorted(values)
    return (f"median={statistics.median(ordered):.4f} min={ordered[0]:.4f} "
            f"max={ordered[-1]:.4f} n={len(ordered)}")


class Runner:
    def __init__(self, workload, spark, cores, tracer, stats):
        self.workload = workload
        self.spark = spark
        self.cores = cores
        self.tracer = tracer
        self.stats = stats
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def iteration(self, index: int, traced: bool) -> tuple[float, dict | None]:
        """One timed pipeline run plus its (untimed) output check."""
        from perfbench.common import tag_jobs

        tag_jobs(self.spark, "perfbench.iteration")
        # garbage left by the previous iteration's output check is not
        # this iteration's to collect
        gc.collect()
        if traced:
            self.stats.mark()
            self.tracer.trace_id = f"{self.workload.name}-{index}"
            first_span = len(self.tracer.spans)
            self.tracer.enabled = True
            root = self.tracer.start("iteration", index=index)
        t0 = time.perf_counter()
        try:
            attempted, failed = self.workload.run_once(self.spark)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            attempted, failed = len(self.workload.model_classes), 1
        elapsed = time.perf_counter() - t0
        layer = None
        if traced:
            self.tracer.finish(root)
            self.tracer.enabled = False
            from perfbench import sparkstats, tracing

            spans = self.tracer.spans[first_span:]
            delta = self.stats.delta()
            layer = tracing.iteration_metrics(spans, self.workload.layers)
            layer.update(sparkstats.delta_metrics(delta, elapsed, self.cores))
            root.attrs["job_groups"] = sparkstats.by_job_group(delta)
        self.attempted += attempted
        self.failed += failed
        try:
            errors = self.workload.verify()
        except Exception as exc:
            errors = [f"output check raised {type(exc).__name__}: {exc}"]
        if errors:
            self.failed += len(errors)
            self.errors += [f"iteration {index}: {e}" for e in errors]
        return elapsed, layer


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["tpch_dag", "ingest_fanout"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ayeaye_spark")):
        print(f"perfbench: no ayeaye_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    env = pin_environment()
    work_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(work_dir, ignore_errors=True)
    cores = int(env["SPARK_GRAFT_CPUS"])

    from pyspark import SparkContext

    from ayeaye_spark.core import session
    from perfbench import sparkstats, tracing

    workload = make_workload(args.workload, work_dir, cores)
    tracer = tracing.Tracer()
    if args.trace:
        tracing.install(tracer, workload.model_classes, workload.subtask_methods)

    gen_s, digests = [], set()
    for _ in range(GENERATIONS):
        t0 = time.perf_counter()
        input_rows, digest = workload.generate(args.seed)
        gen_s.append(time.perf_counter() - t0)
        digests.add(digest)
    if len(digests) != 1:
        raise RuntimeError(f"seed {args.seed} generated {len(digests)} different inputs")
    workload.prepare()
    # the inputs' dirty pages would otherwise be written back while the
    # first iteration runs
    os.sync()

    tracer.trace_id = f"{args.workload}-setup"
    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    tracer.enabled = False
    gateway = SparkContext._gateway
    try:
        stats = sparkstats.StatusStore(spark) if args.trace else None
        runner = Runner(workload, spark, cores, tracer, stats)
        steal0, total0 = cpu_ticks()
        cold, _ = runner.iteration(0, traced=False)
        for index in range(1, workload.warmup + 1):
            runner.iteration(index, traced=False)
        warm, traced_warm, layer_samples = [], [], []
        deadline = time.perf_counter() + args.seconds
        index = workload.warmup + 1
        while time.perf_counter() < deadline or len(warm) < workload.min_warm or (
                args.trace and len(traced_warm) < workload.min_warm):
            traced = bool(args.trace) and index % 2 == 0
            elapsed, layer = runner.iteration(index, traced)
            (traced_warm if traced else warm).append(elapsed)
            if layer is not None:
                layer_samples.append(layer)
            index += 1
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(gateway.proc.pid)
        steal1, total1 = cpu_ticks()
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    setup_s = get_spark_s + statistics.median(gen_s)

    makespan = statistics.median(warm)
    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"workload {args.workload} seed={args.seed} input_rows={input_rows} cores={cores}")
    print(f"setup_s get_spark={get_spark_s:.4f} generate {describe(gen_s)}")
    print(f"makespan_s {describe(warm)} samples={[round(v, 4) for v in warm]}")
    print(f"cold_makespan_s {cold:.4f} n=1")
    print(f"host steal {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}% "
          "of CPU time from the cold iteration to the last warm one")
    print(f"operations attempted={runner.attempted} failed={runner.failed}")
    for err in runner.errors[:20]:
        print(f"FAILED CHECK {err}")

    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
    }
    if args.trace:
        traced_makespan = statistics.median(traced_warm)
        metrics = {name: statistics.median(s[name] for s in layer_samples)
                   for name in layer_samples[0]}
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.makespan_s"] = traced_makespan
        metrics["trace.overhead_s"] = traced_makespan - makespan
        print(f"traced makespan_s {describe(traced_warm)}")
        for name in sorted(metrics):
            print(f"layer {name} = {metrics[name]:.6g} (median of {len(layer_samples)} traced)")
        os.makedirs(WORK, exist_ok=True)
        trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"env": env, "spans": tracer.to_json()}, f)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        for name, reason in unread(layer_samples[0]).items():
            print(f"unread {name}: {reason}")
        wanted = declared["per_layer"]
    else:
        metrics = {
            "makespan_s": makespan,
            "cold_makespan_s": cold,
            "setup_s": setup_s,
            "rows_per_s": input_rows / makespan,
            "peak_rss_mb": peak_rss_mb,
            "success_ratio": 1.0 - min(runner.failed, runner.attempted) / runner.attempted,
        }
        wanted = declared["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"BENCHMARK.json declares metrics this run did not measure: {missing}")
    result["metrics"] = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                         for m in wanted}
    shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def unread(layer: dict[str, float]) -> dict[str, str]:
    """Layer metrics this workload gives no reading for, with the reason."""
    out = {}
    for prefix, calls, reason in (
            ("collection.", "collection.layers", "no ModelCollection in this workload"),
            ("partition.", "partition.subtasks", "no PartitionedModel in this workload"),
            ("operators.dedup.", "operators.dedup.calls", "no dedup operator call"),
            ("operators.text.", "operators.text.calls", "no text operator call"),
            ("operators.sampling.", "operators.sampling.calls", "no sampling operator call"),
            ("operators.relational.", "operators.relational.calls",
             "no relational operator call")):
        if not layer[calls]:
            out[f"{prefix}*"] = reason
    for name, value in layer.items():
        if name.startswith("sources.") and not value:
            out[name] = "this workload makes no such connector call"
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
