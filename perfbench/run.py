#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload upsert_daily --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[4]`` from the root of a checkout: one
process, one client issuing ops serially. It builds its inputs from
``--seed`` (repeated ``SETUP_REPEATS`` times; the median counts), then
runs whole passes of ops until at least ``--seconds`` have elapsed, checking every op's output. Times are
gated as CPU seconds of the client plus the driver JVM; wall times are
reported beside them. Human-readable lines go first; the last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Everything it writes lives under
``perfbench/.work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("upsert_daily", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _start_session(work: str, trace: bool):
    from lakehouse_architecture_spark.session import get_spark
    from workloads import CORES

    tmp = os.path.join(work, "tmp")
    # A fixed, pre-touched heap keeps peak_rss_mb steady. C1-only JIT:
    # in a run this short the C2 compiler threads never settle; they
    # burned 15-20 CPU s per pass on 4 shared cores, varying from run to
    # run, for about 5% less wall time.
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-Xms3g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.enabled": str(trace).lower(),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the engine (first job, first code generation) so that cost
    # counts in set-up rather than in whichever op happens to run first
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _jvm_peak_rss_kb() -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(latencies: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or the maximum when there are too few samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 20:
        return 100.0, xs[-1]
    rank = n - 10  # 1-based nearest rank with ten samples above it
    return 100.0 * rank / n, xs[rank - 1]


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters (clock ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def end_to_end(setup_s, passes, peak_rss_mb, steal_share) -> tuple[dict, dict]:
    """(gated metrics, reported-only metrics) from the timed passes.

    Times are gated as CPU seconds of the Python client plus the driver
    JVM. The host is a VM that shares its cores: time stolen by the
    hypervisor swings wall time by a third between otherwise equal
    runs, while the kernel leaves it out of CPU time."""
    ops = [op for p in passes for op in p]
    ok = [op for op in ops if op.problem is None] or ops
    lat = [op.latency_s for op in ok]
    op_cpu = [op.attrs.get("cpu_s", 0.0) for op in ok]
    walls = [sum(op.latency_s for op in p) for p in passes]
    cpus = [sum(op.attrs.get("cpu_s", 0.0) for op in p) for p in passes]
    rates = [
        sum(op.attrs.get("rows_in", 0) for op in p) / w
        for p, w in zip(passes, walls)
        if w > 0
    ]
    pct, tail_s = tail(lat)
    failed = sum(op.problem is not None for op in ops)
    gated = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "op_cpu_p50_s": (statistics.median(op_cpu), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    # Wall-clock figures move with the host's steal time; a pass has too
    # few ops for a percentile with ten samples beyond it, so the tail is
    # the slowest op. Both are reported, not gated.
    extra = {
        "wall_s": (statistics.median(walls), "s"),
        "rows_per_s": (statistics.median(rates) if rates else 0.0, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "op_tail_percentile": (pct, "%"),
        "error_rate": (failed / len(ops), "ratio"),
        "host_steal_share": (steal_share, "ratio"),
        "ops": (len(ops), "count"),
        "passes": (len(passes), "count"),
    }
    return gated, extra


def per_layer(workload, session_s, passes, tracer_s, stored_ratio) -> dict:
    """Per-layer metrics from the traced passes (totals per pass, median
    over passes)."""
    from layers import pass_layers

    rows = [pass_layers(workload, p, tracer_s / len(passes)) for p in passes]
    out = {
        "session.start_s": (session_s, "s"),
        "writers.stored_bytes_per_input_byte": (stored_ratio, "ratio"),
    }
    for key in rows[0]:
        vals = [r[key][0] for r in rows]
        out[key] = (statistics.median(vals), rows[0][key][1])
    return out


def main() -> int:
    args = _parse()
    if not os.path.isdir(os.path.join(ROOT, "lakehouse_architecture_spark")):
        print(
            "perfbench: lakehouse_architecture_spark/ is missing from the "
            f"checkout root {ROOT}", file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from workloads import CORES, SETUP_REPEATS, WORKLOADS, cpu_s

    spark = None
    try:
        spark = _start_session(work, bool(args.trace))
        session_s = time.perf_counter() - T_START
        session_cpu = cpu_s()
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        reps = []
        for rep in range(SETUP_REPEATS):
            c0 = cpu_s()
            workload.setup_once(rep)
            reps.append(cpu_s() - c0)
        c0 = cpu_s()
        workload.prepare()
        prepare_cpu = cpu_s() - c0
        # set-up CPU seconds, with the input build counted once (median)
        setup_s = session_cpu + statistics.median(reps) + prepare_cpu
        print(f"set-up CPU: session {session_cpu:.2f} s, inputs "
              + " ".join(f"{r:.2f}" for r in reps)
              + f" s, prepare {prepare_cpu:.2f} s; "
              f"set-up wall {time.perf_counter() - T_START:.2f} s",
              file=sys.stderr)

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        passes = []
        host0 = _cpu_times()
        t_timed = time.perf_counter()
        while not passes or time.perf_counter() - t_timed < args.seconds:
            passes.append(workload.run_pass(tracer))
        timed_s = time.perf_counter() - t_timed
        host = [b - a for a, b in zip(host0, _cpu_times())]
        steal_share = host[7] / sum(host) if len(host) > 7 and sum(host) else 0.0
        peak_rss_mb = (
            _jvm_peak_rss_kb()
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        ) / 1024.0
        gated, extra = end_to_end(setup_s, passes, peak_rss_mb, steal_share)
        stored_ratio = 0.0
        if hasattr(workload, "stored_bytes"):
            stored_ratio = workload.stored_bytes / workload.raw_bytes()
            extra["stored_bytes_per_input_byte"] = (stored_ratio, "ratio")
        metrics = gated
        if tracer is not None:
            op_s = sum(op.latency_s for p in passes for op in p)
            metrics = per_layer(
                args.workload, session_s, passes, timed_s - op_s, stored_ratio
            )
            tracer.dump(os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"
            ))
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = [op for p in passes for op in p]
    failed = [op for op in ops if op.problem is not None]
    print(f"workload {args.workload}  seed {args.seed}  local[{CORES}]  "
          f"closed loop, 1 client  passes {len(passes)}  ops {len(ops)}")
    for name, (value, unit) in {**gated, **extra}.items():
        print(f"  {name:<28} {value:>14.6g} {unit}")
    for i, p in enumerate(passes):
        print(f"  pass {i} (wall/CPU s): " + " ".join(
            f"{op.name}={op.latency_s:.2f}/{op.attrs.get('cpu_s', 0.0):.2f}" for op in p))
    for op in failed:
        print(f"  FAILED {op.name}: {op.problem}")
    print(f"  correct: {not failed}")
    if args.trace:
        for name, (value, unit) in metrics.items():
            print(f"  {name:<44} {value:>14.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
