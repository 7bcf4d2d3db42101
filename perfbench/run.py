"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload tile_points --seed 1 --seconds 4 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it records the host, the versions, the
seed and, for a traced run, the span self times.

Working files go to ``.perfbench_work/`` under the repository root and
are removed when the run ends, apart from each traced run's span dump
in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("tile_points", "tile_polygons", "replicate_minutely")


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc (psutil is not needed)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def reset_hwm(pid: int | str) -> None:
    """Reset a process's VmHWM to its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


_GC_LINE = re.compile(r"^\[(\d+\.\d+)s\].*->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_mb(log: str, since_s: float) -> float | None:
    """Largest heap occupancy right after a collection, from the JVM's GC
    log, over collections at or after JVM uptime ``since_s``; None when
    none ran."""
    peak = None
    with open(log) as f:
        for line in f:
            m = _GC_LINE.match(line)
            if m and float(m.group(1)) >= since_s:
                mb = int(m.group(2)) * _MB[m.group(3)]
                peak = mb if peak is None else max(peak, mb)
    return peak


def configure_env(work: str) -> dict:
    """Fit the session to the host: one task thread per available core
    and a driver heap of an eighth of physical RAM, at most 1.5 GiB (the
    engine's defaults are 32 threads and a 24g heap). Every workload fills
    a heap this size, so the JVM's resident set mostly tracks the heap
    size; the JVM logs its collections, and the heap left after them is
    what the engine holds. Spark's scratch and temp files stay inside the
    working directory."""
    cpus = len(os.sched_getaffinity(0))
    ram = host_ram_bytes()
    heap_mb = min(1536, ram // 8 // (1 << 20))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # no hsperfdata file under /tmp either; one GC log per JVM
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xlog:gc:file={work}/gc-%p.log:uptime",
    )
    return {"nproc": cpus, "ram_gb": round(ram / 2**30, 1), "driver_heap_mb": heap_mb}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — TimeoutExpired: make sure it dies
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "osm_replication_rust_spark", "__init__.py")):
        print(f"engine package osm_replication_rust_spark not found under {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, **configure_env(work)}
    sys.path.insert(0, ROOT)

    import pyspark

    from workloads import WORKLOADS
    from osm_replication_rust_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        session_s = t1 - t0
        info.update(
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            spark=spark.version,
            java=spark._jvm.System.getProperty("java.version"),
            master=spark.sparkContext.master,
        )
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.tracer.add_span("session.start", t0, t1)
        setups = [wl.setup(rep) for rep in range(wl.setup_reps)]
        setup_s = session_s + statistics.median(setups)
        info["setup_reps_s"] = setups

        # peaks from here on cover the timed units only
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        for pid in ("self", jvm_pid):
            reset_hwm(pid)
        since_s = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000
        steal0, total0 = cpu_jiffies()
        wl.loop(args.seconds, bool(args.trace))
        steal1, total1 = cpu_jiffies()
        # the share of CPU time the hypervisor took away while units ran
        info["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        info["jvm_heap_after_gc_mb"] = heap_after_gc_mb(os.path.join(work, f"gc-{jvm_pid}.log"), since_s)
        wl.finish()
        info["unit_s"] = [u.get("time") for u in wl.units]
        info["traced_units"] = sorted(wl.traced_units())

        if args.trace:
            metrics = per_layer_metrics(wl, session_s, info)
            dump = os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json")
            os.makedirs(os.path.dirname(dump), exist_ok=True)
            with open(dump, "w") as f:
                json.dump({"info": info, "spans": wl.tracer.dump()}, f)
        else:
            metrics = wl.end_to_end(setup_s, rss_mb)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"perfbench_info": info}))
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


#: every per-layer metric, in BENCHMARK.json order, with its unit
PER_LAYER = {
    "session.start_s": "s",
    "coords.encode_s": "s",
    "spatial_join.prefilter_s": "s",
    "spatial_join.candidate_rows": "count",
    "cells.cover_s": "s",
    "cells.cover_rows": "count",
    "cells.partial_frac": "frac",
    "spatial_join.refine_rows": "count",
    "spatial_join.assign_s": "s",
    "spatial_join.refine_s": "s",
    "spatial_join.refine_share": "frac",
    "spatial_join.keep_frac": "frac",
    "geometry.pip_rows_per_s": "1/s",
    "geometry.buffer_rows_per_s": "1/s",
    "osc.read_s": "s",
    "osc.elements": "count",
    "bbox.point_s": "s",
    "bbox.group_s": "s",
    "bbox.group_jobs": "count",
    "filter.classify_s": "s",
    "filter.group_classify_s": "s",
    "filter.group_jobs": "count",
    "pipeline.base_read_s": "s",
    "pipeline.publish_s": "s",
    "pipeline.jobs_per_state": "count",
    "merge.apply_s": "s",
    "merge.jobs": "count",
    "merge.rewritten_bucket_frac": "frac",
    "merge.written_mb": "MB",
    "jvm.heap_after_gc_mb": "MB",
    "trace.forced_frac": "frac",
    "trace.overhead_frac": "frac",
    "failed_frac": "frac",
}


def per_layer_metrics(wl, session_s: float, info: dict) -> dict:
    """Every per-layer metric. A layer this workload does not exercise
    reports 0 and is named, with the reason, in ``info['not_measured']``."""
    layers = wl.per_layer()
    layers["session.start_s"] = (session_s, "s")
    layers["jvm.heap_after_gc_mb"] = (info["jvm_heap_after_gc_mb"], "MB")
    layers["trace.forced_frac"], layers["trace.overhead_frac"] = ((v, "frac") for v in wl.trace_cost())
    layers["failed_frac"] = (wl.failed / max(wl.attempted, 1), "frac")
    info["self_times"] = wl.tracer.self_time_table()
    missing = [k for k in PER_LAYER if k not in layers or layers[k][0] is None]
    info["not_measured"] = {
        k: "no collection ran during the timed units" if k == "jvm.heap_after_gc_mb"
        else f"layer not exercised by {info['workload']}"
        for k in missing
    }
    return {k: (layers.get(k, (0.0, u))[0] or 0.0, u) for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
