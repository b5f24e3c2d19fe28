"""Benchmark of dronedb_spark: seeded workloads through the public API.

    python3 perfbench/run.py --workload catalog_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``).  The line before it holds the workload's
named figures and the run's environment.  Everything the run writes
stays under ``.perfbench_work/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)
LAYERS = ("sources", "catalog", "operators", "raster", "text", "vectors", "tables")


def percentile(xs, p: float) -> float:
    """Linearly interpolated percentile, ``p`` in [0, 1]."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _median(xs):
    return percentile(xs, 0.5)


def tail(xs) -> tuple[float, float]:
    """The highest ladder percentile with at least ten samples beyond it
    (the median when there are fewer than twenty samples)."""
    best = 0.5
    for p in TAIL_LADDER:
        if len(xs) * (1.0 - p) >= 10:
            best = p
    return best, percentile(xs, best)


def _host_setup(work: str) -> str:
    """Environment for the engine; call before Spark starts.  The repo
    goes on the Python workers' path, every temporary file goes under
    ``work`` and the Spark JVM heap is sized to the host."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    phys_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    mem = f"{max(1, min(3, int(phys_gb // 4)))}g"
    os.environ["DDB_SPARK_DRIVER_MEM"] = mem
    return mem


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of this machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def requests(units: list[list]) -> list[float]:
    """Latencies of the requests the closed-loop client waited on: one
    whole session or pass each."""
    return [sum(op.seconds for op in ops) for ops in units]


def typical_request(units: list[list]) -> float:
    """Latency of the run's typical request: the median of each operation
    over the requests, summed over the operations.  A stall that hits one
    operation of one request moves it less than it moves that request's
    total.  With two requests it is their mean."""
    return sum(_median([op.seconds for op in ops]) for ops in zip(*units))


def e2e_metrics(units: list[list], setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "request_p50_ms": typical_request(units) * 1000.0}


def named_figures(wl, units: list[list]) -> dict[str, float]:
    """The workload's own figures, by the names the documentation uses:
    medians over the timed units of the run."""
    from perfbench.gen import QUERY_TYPES

    def med(kinds):
        return _median([sum(op.seconds for op in ops if op.kind in kinds) for ops in units])

    if wl.name == "analytics_batch":
        return {
            "analytics_pass_s": typical_request(units),
            "checks": len(units[0]),
            # each check's latency in every timed pass, in order
            "check_s": {op.kind: [u[i].seconds for u in units] for i, op in enumerate(units[0])},
        }
    reads = [op.seconds for ops in units for op in ops if op.kind in QUERY_TYPES]
    p, t = tail(reads)
    return {
        "ingest_files_per_s": wl.notes["files"] / med({"add_full"}),
        "resync_s": med({"move", "sync"}),
        "browse_s": med(set(QUERY_TYPES)),
        "query_p50_ms": _median(reads) * 1000.0,
        "query_tail_ms": t * 1000.0,
        "query_tail_percentile": p * 100,
        "queries_per_s": len(reads) / sum(reads),
        "queries": len(reads),
        "stamp_s": med({"stamp"}),
        "delta_s": med({"diff_versions"}),
        "lifecycle_s": med({op.kind for op in units[0]}),
    }


def layer_metrics(wl, spans, units: list[list], cores: int) -> dict:
    from perfbench.trace import SPARK_COUNTERS, self_times

    n = len(units)
    out = wl.layer_metrics(spans, n)
    totals = {c: sum(s.spark.get(c, 0.0) for s in spans) for c in SPARK_COUNTERS}
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = totals[c] / n
    wall_ms = sum(op.seconds for ops in units for op in ops) * 1000.0
    n_ops = sum(len(ops) for ops in units)
    out["spark.core_busy_ratio"] = totals["run_ms"] / (wall_ms * cores)
    out["spark.jobs_per_op"] = totals["jobs"] / n_ops
    out["spark.tasks_per_op"] = totals["tasks"] / n_ops
    selfs = self_times(spans)
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = sum(selfs[s.id] for s in spans if s.layer == layer) / n
    # a consistency figure: every timed operation is a layer call, so
    # the self times must add up to the timed wall time
    out["trace.coverage"] = sum(selfs.values()) / wall_ms
    # the traced requests run at the same positions as the requests of an
    # untraced run; the two medians give the tracing overhead
    out["trace.request_p50_ms"] = typical_request(units) * 1000.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--corrupt", action="store_true", help="self-test: corrupt outputs")
    args = ap.parse_args(argv)
    # a run that hangs (a wedged JVM) still ends, with its traceback on
    # stderr and no result; the engine JVM exits when its stdin closes
    faulthandler.dump_traceback_later(args.seconds + 165, exit=True)

    if not os.path.isdir(os.path.join(ROOT, "dronedb_spark")):
        print(f"perfbench: no dronedb_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    driver_mem = _host_setup(work)
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()[0]
    steal_start = _cpu_jiffies()

    import pyspark
    from pyspark import SparkContext

    from dronedb_spark.session import get_spark
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    # one core stays free for the driver, the Python workers, the JIT and
    # the GC, so that task threads do not queue behind them
    cores = max(1, nproc - 1)
    spark = get_spark("perfbench", cpus=cores)
    gateway = SparkContext._gateway
    try:
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.tiny, args.corrupt)
        reps = []
        for rep in range(wl.reps):
            t0 = time.perf_counter()
            wl.prepare(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + _median(reps) + warm_s

        units: list[list] = []
        tracer.enabled = bool(args.trace)
        t_end = time.perf_counter() + args.seconds
        while len(units) < wl.min_units or time.perf_counter() < t_end:
            with tracer.patched(wl.trace_targets()):
                first = len(tracer.spans)
                units.append(wl.unit())
            tracer.collect_spark(tracer.spans[first:])
        spans = tracer.spans

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python_mb": _vm_hwm_mb(os.getpid()), "jvm_mb": _vm_hwm_mb(jvm_pid)}
        ops = [op for u in units for op in u]
        failed = sum(not op.ok for op in ops)
        lat = requests(units)
        report = {
            "workload": args.workload,
            "request_s": lat,
            "ops_failed_ratio": failed / len(ops),
            "failed_ops": sorted({op.kind for op in ops if not op.ok}),
            **named_figures(wl, units),
            "requests": len(lat),
            "peak_rss": rss,
            "setup": {"session_s": session_s, "prepare_s": reps, "warm_s": warm_s},
        }
        if args.trace:
            values = layer_metrics(wl, spans, units, cores)
            values["memory.peak_rss_mb"] = sum(rss.values())
            section = spec["per_layer"]
            with open(os.path.join(work, "spans.json"), "w") as f:
                json.dump([s.as_dict() for s in spans], f)
        else:
            values = e2e_metrics(units, setup_s)
            section = spec["end_to_end"]
        steal = _cpu_jiffies()
        env = {
            "nproc": nproc,
            "spark_cores": cores,
            "load1m_start": load_start,
            "load1m_end": os.getloadavg()[0],
            # CPU time taken by other guests of a shared host
            "cpu_steal_pct": 100.0 * (steal[0] - steal_start[0]) / max(1, steal[1] - steal_start[1]),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "driver_mem": driver_mem,
            "seed": args.seed,
        }
        print(json.dumps({"report": report, "env": env}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in section
            },
        }))
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
