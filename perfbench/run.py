"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_pip_tiles --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run starts one local Spark session
with ``SLOTS`` task slots, builds the workload's seeded inputs ``BUILDS``
times (set-up counts the median build), runs ``WARMUP_OPS`` untimed
operations, then times whole operations until ``--seconds`` have passed
(at least ``MIN_OPS``). Every operation's output is checked; one that
raises or fails its check counts as failed and the run goes on.

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (BENCHMARK.json lists both). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the full detail (each
operation's time, the per-layer samples, set-up parts, peak memory per
process) goes to ``perfbench/results/<workload>-seed<seed>-trace<t>.json``.
Scratch files live under ``perfbench/.work/<pid>`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import records  # noqa: E402
from oracle import CheckError  # noqa: E402

SLOTS = 3  # task slots: one fewer than the 4 vCPUs the bounds were set on
SHUFFLE_PARTITIONS = 6
DRIVER_MEMORY = "2g"
BUILDS = 3
WARMUP_OPS = 1
MIN_OPS = 3


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: str) -> dict:
    """Keep Spark's and the JVM's scratch files inside ``work``; return the
    Spark settings that make runs alike: fixed partition counts, so AQE
    decides the same way every run, and the serial collector, whose heap
    grows by the free space left after each collection rather than by
    measured GC time as G1's does, so the peak RSS repeats run to run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then any worker left behind."""
    from pyspark import SparkContext

    left = []
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        kids = records.children(pid)
        left.extend(kids)
        stack.extend(kids)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    from gdal_spark.session import get_spark

    from workloads import WORKLOADS, clock

    mem = records.TreeMemory().start()
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds}
    conf = isolate(work)
    spark, detail["session_s"] = clock(
        get_spark, "perfbench", f"local[{SLOTS}]", SHUFFLE_PARTITIONS, conf
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        detail["builds_s"] = [clock(wl.build)[1] for _ in range(BUILDS)]
        wl.prepare()
        detail["warmup_s"] = []
        for _ in range(WARMUP_OPS):
            try:
                detail["warmup_s"].append(clock(wl.op)[1])
            except Exception:  # noqa: BLE001 - a failing warm-up shows again in the timed ops
                detail["warmup_s"].append(traceback.format_exc(limit=3))
        builds = detail["builds_s"]
        detail["setup_s"] = seconds_since_process_start() - sum(builds) + statistics.median(builds)

        ops, samples = [], {}
        ticks = records.cpu_ticks()
        start = time.perf_counter()
        while len(ops) < MIN_OPS or time.perf_counter() - start < args.seconds:
            rec: dict = {}
            try:
                if args.trace:
                    out, s = wl.trace_op()
                    rec["s"] = s["op_s"]
                    for k, v in s.items():
                        samples.setdefault(k, []).extend(v if isinstance(v, list) else [v])
                else:
                    out, rec["s"] = clock(wl.op)
                wl.check(out)
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
            ops.append(rec)
        mem.stop()
        ticks = [b - a for a, b in zip(ticks, records.cpu_ticks())]
        detail["host_steal_share"] = ticks[7] / sum(ticks)  # CPU time the hypervisor gave to other guests
        detail["ops"] = ops
        detail["peak_mem_kb_by_pid"] = {str(k): v for k, v in mem.peak_by_pid.items()}
        good = [r["s"] for r in ops if r["ok"]]
        correct = bool(good)
        try:
            wl.final_check()
        except CheckError as e:
            correct = False
            detail["final_check"] = str(e)
        e2e = {
            "rows_per_s": statistics.median(wl.rows / t for t in good) if good else 0.0,
            "setup_s": detail["setup_s"],
            "peak_mem_mb": mem.peak_mb(),
        }
        detail["end_to_end"] = e2e
        if args.trace:
            layer = {name: 0.0 for name in spec["per_layer"]}
            layer["session.start_s"] = detail["session_s"]
            layer["source.build_s"] = statistics.median(builds)
            if samples:
                for k in ("op.spark_jobs", "op.gc_s", "op.failed_tasks"):
                    layer[k] = statistics.median(samples[k])
                layer.update(wl.layers(samples))
            detail["per_layer"] = layer
            detail["samples"] = samples
            metrics = layer
        else:
            metrics = e2e
        units = spec["per_layer"] if args.trace else spec["end_to_end"]
        result = {
            "correct": correct,
            "attempted": len(ops),
            "failed": sum(not r["ok"] for r in ops),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        return result, detail
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}
    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work)
    try:
        result, detail = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail | {"result": result}, f, indent=1)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} detail={os.path.relpath(path, ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
