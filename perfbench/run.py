"""Benchmark entry point: one process per run.

    python3 perfbench/run.py --workload batch_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates (or reuses) its seeded
inputs outside the clock, launches Spark and loads the inputs (and, for
``append_stream``, commits the bootstrap micro-batch): ``setup_s`` is the
time from process start to the first timed unit, less input generation.
It then runs timed units until ``--seconds`` have passed, checking every
unit's output apart from the program. The first unit runs in the freshly
launched JVM, as each CLI invocation does (README.md says why there is no
separate warm-up unit).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it records host noise (CPU steal, CPU used outside the
benchmark, Spark start time) and every unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import dedup  # noqa: E402,F401  -- fail before printing anything when absent

import host  # noqa: E402
from inputs import ensure_inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

def heap_mb() -> int:
    """Driver heap from physical memory: an eighth of it, 1-4 GiB. The
    program's own defaults (16g in dedup/session.py) exceed small hosts."""
    return max(1024, min(4096, host.mem_total_mb() // 8))


def configure_env(work: str, trace: bool) -> None:
    """Session settings, passed the way a user would: environment variables
    read by ``dedup.session.get_spark`` plus spark-submit ``--conf``s."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            }
        )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host.cores()),
            "SPARK_DRIVER_MEMORY": f"{heap_mb()}m",
            # every JVM (spark-submit's launcher too): temp files in the
            # work directory and no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
            + " pyspark-shell",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
        }
    )


def start_session(workload):
    from dedup.session import get_spark

    spark = get_spark(f"perfbench-{workload.name}", config=workload.config)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process they started."""
    from pyspark import SparkContext

    pids = [p for p in host.tree_pids() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.wait_gone(pids)


def run(args) -> dict:
    cls = WORKLOADS[args.workload]
    t0 = time.time()
    inputs, meta = ensure_inputs(args.workload, args.seed)
    gen_s = time.time() - t0
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, bool(args.trace))
    wl = cls(inputs, meta, work)

    cpu0, tree0 = host.host_cpu(), host.tree_cpu_s()
    spark = None
    try:
        t0 = time.time()
        spark = start_session(wl)
        spark_start = time.time() - t0
        wl.load(spark)
        t0 = time.time()
        wl.bootstrap(spark)
        bootstrap_s = time.time() - t0
        setup_s = time.time() - T_START - gen_s

        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark, wl)
            tracer.install()

        sampler = host.RssSampler()
        units, failed, correct = [], 0, True
        t_measure = time.time()
        i = 0
        while i == 0 or time.time() - t_measure < args.seconds:
            rec = {"unit": i}
            c0 = host.tree_cpu_s()
            sampler.arm()
            t0 = time.time()
            try:
                if tracer is not None:
                    tracer.begin_unit(i)
                items = wl.unit(spark, i)
                rec.update(wall_s=time.time() - t0, items=items, cpu_s=host.tree_cpu_s() - c0)
                sampler.disarm()
                if tracer is not None:
                    tracer.end_unit(i)
                rec["stored_bytes"] = wl.stored_bytes()
                wl.after_unit()
                ok, details = wl.check()
                rec.update(check_ok=ok, check=details)
                if not ok:
                    failed += 1
                    correct = False
            except Exception:  # a unit that raises is a failed operation
                sampler.disarm()
                failed += 1
                rec["error"] = traceback.format_exc(limit=3)
                print(rec["error"], file=sys.stderr)
            units.append(rec)
            i += 1
        sampler.close()
        # read before shutdown: Python workers still alive when the JVM
        # exits are re-parented away from this tree
        cpu1, tree1 = host.host_cpu(), host.tree_cpu_s()
    finally:
        shutdown(spark)

    timed = [u for u in units if "wall_s" in u]
    noise = {
        "workload": args.workload,
        "seed": args.seed,
        "steal_s": cpu1["steal_s"] - cpu0["steal_s"],
        "other_cpu_s": max(0.0, (cpu1["busy_s"] - cpu0["busy_s"]) - (tree1 - tree0)),
        "spark_start_s": spark_start,
        "bootstrap_s": bootstrap_s,
        "inputs_gen_s": gen_s,
        "run_wall_s": time.time() - T_START,
        "cores": host.cores(),
        "heap_mb": heap_mb(),
        "inputs": meta if args.workload != "append_stream" else {
            k: meta[k] for k in ("docs", "split_convs")
        },
    }
    if not timed:
        raise RuntimeError("no unit completed; see the errors above")
    result = {"correct": correct, "attempted": len(units), "failed": failed}
    if args.trace:
        # the event log is complete only once the session has stopped
        metrics = tracer.finish(os.path.join(work, "events"), units[0].get("items", 0))
        noise["trace"] = tracer.detail
    else:
        noise["items"] = wl.items
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (statistics.median([u["items"] / u["wall_s"] for u in timed]), "1/s"),
            "cpu_s": (statistics.median([u["cpu_s"] for u in timed]), "s"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "stored_mb": (timed[-1]["stored_bytes"] / 2**20, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    shutil.rmtree(work, ignore_errors=True)
    return noise, units, result | {"metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    noise, units, result = run(args)
    print(json.dumps({"host": noise, "units": units}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
