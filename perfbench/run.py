"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_to_tiles --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (session start and input generation)
is repeated ``SETUPS`` times and ``setup_s`` is the median; then
operations run closed-loop, one client, for ``--seconds`` and each one is
checked against a reference computed without the engine. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it records the host, the input sizes, the
failed fraction and the latency samples.

Everything the run writes goes to ``.perfbench/`` under the current
directory, which is emptied first and removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

SETUPS = 5
TAIL_PCTS = (99, 95, 90, 75, 50)


def guard_environment(root: Path) -> Path | None:
    """Environment guards; returns the emptied work directory, or None when
    ``root`` holds no engine to benchmark.

    * the repository goes on ``PYTHONPATH`` so the Python workers import the
      engine from this checkout (without it: ``ModuleNotFoundError``);
    * ``SPARK_LOCAL_DIRS`` (shuffle and spill files), the JVM's and Python's
      temp directories all point into the work directory, which is emptied
      before and removed after every run;
    * driver heap and off-heap Arrow memory are capped for a small host.
    """
    if not (root / "convert_spark" / "__init__.py").is_file():
        print(f"no convert_spark package under {root}; run from the repository root", file=sys.stderr)
        return None
    work = root / ".perfbench"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_OFFHEAP"] = "2g"
    sys.path.insert(0, str(root))
    return work


def session(work: Path, cores: int, trace: int):
    from convert_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage, task and SQL execution of the run
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000",
                     "spark.ui.retainedTasks": "10000000", "spark.sql.ui.retainedExecutions": "1000000"})
    spark = get_session(cores=cores, app_name="perfbench", extra_conf=conf)
    _forget_udf_handles()
    return spark


def shutdown(spark) -> None:
    """Stops the session and the JVM behind it (the Python workers are its
    children) and waits until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _forget_udf_handles() -> None:
    """The engine's module-level pandas UDFs cache their JVM function, and
    with it the accumulator of the SparkContext that first ran them. After
    a restart that accumulator is gone; drop the caches so the new context
    builds fresh ones."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("convert_spark"):
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if udf is not None:
                    udf._judf_placeholder = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = guard_environment(Path.cwd().resolve())
    if work is None:
        return 2
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))

    spark, setups, setup_spans = None, [], []
    try:
        for i in range(SETUPS):
            shutil.rmtree(work / "run", ignore_errors=True)
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = session(work, cores, args.trace)
            t1 = time.perf_counter()
            input_bytes = wl.setup(spark, work / "run", args.seed)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            setup_spans.append({"session.start.s": t1 - t0, "setup.gen.s": t2 - t1})
            print(f"setup {i}: {setup_spans[-1]}", file=sys.stderr)
        t3 = time.perf_counter()
        ref = wl.reference()
        print(f"reference: {time.perf_counter() - t3:.2f} s", file=sys.stderr)

        tracer = Tracer(spark, bool(args.trace))
        attempted, failed, walls, plain_walls, items, samples, counts = 0, 0, [], [], 0, [], []
        start = time.perf_counter()
        # a traced run times its first operation untraced, as the untraced
        # run does; then it alternates traced and untraced operations, whose
        # difference is the tracing overhead
        while time.perf_counter() - start < args.seconds or attempted < 1 + 2 * args.trace:
            traced = bool(args.trace) and attempted % 2 == 1
            tracer.enabled, tracer.op = traced, len(walls) if traced else -1
            attempted += 1
            try:
                out = wl.op(spark, tracer, attempted)
                problems = wl.check(ref, wl.outputs(out))
            except Exception as e:  # one failed operation must not end the run
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                failed += 1
                tracer.drop(tracer.op)
                print(f"operation {attempted} failed: {problems}", file=sys.stderr)
                continue
            print(f"operation {attempted}: {out['wall']:.3f} s", file=sys.stderr)
            if not traced:
                plain_walls.append(out["wall"])
                if args.trace:
                    continue
            walls.append(out["wall"])
            items += out["items"]
            samples += out["samples"]
            counts.append(out["counts"])

        if not walls:
            metrics = {}
        elif args.trace:
            metrics = _per_layer(tracer, walls, plain_walls, counts, setup_spans)
        else:
            metrics = {
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "items_per_s": {"value": items / sum(walls), "unit": "1/s"},
                "op_p50_s": {"value": statistics.median(samples), "unit": "s"},
            }
        host = _host(spark, cores)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    tail_pct, tail_s = _tail(samples)
    print(json.dumps({
        "host": host, "workload": args.workload, "seed": args.seed, "inputs_bytes": input_bytes,
        "sizes": wl.sizes, "ops": len(walls), "failed_frac": failed / attempted,
        "op_samples": len(samples), "op_tail_pct": tail_pct, "op_tail_s": tail_s,
    }))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _per_layer(tracer, walls, plain_walls, counts, setup_spans) -> dict:
    from perfbench.trace import SPAN_METRICS, SPAN_NAMES, UDF_KERNELS, UNITS

    layers, kernels = tracer.layers(len(walls))
    out: dict[str, tuple[float, str]] = {}
    for key in setup_spans[0]:
        out[key] = (statistics.median(s[key] for s in setup_spans), "s")
    out["session.first_start.s"] = (setup_spans[0]["session.start.s"], "s")  # the one in a fresh JVM
    for name in SPAN_NAMES:
        m = layers.get(name, {})
        for k in SPAN_METRICS:
            out[f"{name}.{k}"] = (m.get(k, 0.0), UNITS.get(k, "count"))
    for kernel in UDF_KERNELS.values():
        out[f"udfs.{kernel}.python_s"] = (kernels[kernel], "s")
    for key, unit in COUNT_METRICS.items():
        out[key] = (statistics.mean(c.get(key, 0.0) for c in counts), unit)
    warm = plain_walls[1:] or plain_walls
    out["op.first_s"] = (plain_walls[0], "s")
    out["op.warm_s"] = (statistics.median(warm), "s")
    out["trace.overhead_s"] = (statistics.median(walls) - statistics.median(warm), "s")
    out["unspanned.s"] = (statistics.mean(w - tracer.top_level_s(i) for i, w in enumerate(walls)), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


# counts the workloads record per operation (in the traced run only)
COUNT_METRICS = {
    "extract.mentions.rows_out": "count", "joins.pip.rows_out": "count", "tiles.datasets.rows_out": "count",
    "snapshots.written_mb": "MiB", "joins.knn.rounds": "count", "components.cc.rounds": "count",
    "streaming.add_batch_s": "s", "streaming.overhead_s": "s", "streaming.state_tiles": "count",
    "streaming.write_amp": "ratio",
}


def _tail(samples: list[float]) -> tuple[int, float]:
    """The highest percentile of ``TAIL_PCTS`` with at least ten samples
    above it, and its value; (0, 0) when there are too few samples."""
    s = sorted(samples)
    for pct in TAIL_PCTS:
        idx = int(len(s) * pct / 100)
        if len(s) - idx - 1 >= 10:
            return pct, s[idx]
    return 0, 0.0


def _host(spark, cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": cores, "ram_gb": round(mem_kb / 2**20, 1),
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "spark": spark.version}


if __name__ == "__main__":
    sys.exit(main())
