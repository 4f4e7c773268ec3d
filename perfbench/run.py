"""Benchmark runner: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The runner pins the environment before
Spark starts (``local[nproc]``, a fresh scratch directory for Spark's
local dirs, temp files and tables, one driver heap size for every run),
generates the workload's inputs from the seed, sets up and warms the
workload, measures it for ``--seconds`` and checks its outputs. It
prints a summary of every metric with unit and sample count, then one
JSON line: the end-to-end metrics with ``--trace 0``; with ``--trace 1``
the per-layer metrics, taken from spans and Spark's event log, and the
spans themselves are written under ``.perfbench/traces/``. A traced run
also runs the workload's companions (see ``Workload.companions``) after
its measured part, in the same session, for their per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"
COMPANION_S = 4  # measured time of each companion workload in a traced run


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(children.get(p, []))
    return tree


def tree_peak_rss_mb(pid: int) -> list[float]:
    """VmHWM of ``pid`` and of each of its descendants."""
    out = []
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    return out


def jvm_heap_peak_mb(spark) -> float:
    """Each heap pool's own peak use, summed: an upper bound on the driver
    JVM's peak heap, since the pools peak at different times."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed() for p in pools if p.getType() == heap) / 2**20


def settle(spark, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Collect garbage, then wait until the driver JVM's JIT compiler has
    been idle for ``quiet_s`` (at most ``limit_s``), so that compilation
    queued by the warm-up does not compete with the first timed
    operations."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    deadline = time.monotonic() + limit_s
    last, quiet_since = jit.getTotalCompilationTime(), time.monotonic()
    while time.monotonic() < deadline:
        time.sleep(0.1)
        now = jit.getTotalCompilationTime()
        if now != last:
            last, quiet_since = now, time.monotonic()
        elif time.monotonic() - quiet_since >= quiet_s:
            return


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and its Python workers, and
    wait for all of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = process_tree(gateway.proc.pid)[1:] if gateway else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30  # workers exit when their JVM socket closes
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def pin_environment(work: str) -> dict:
    """Environment every run uses; returns the Spark settings to add."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_MIN_FREE_GB": "0",
        "TMPDIR": tmp,
        # few glibc malloc arenas, so native memory does not grow with
        # however many threads happened to allocate at once
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {
        # a fixed young generation, so resident memory does not depend on
        # how far G1 grew it; no hsperfdata file outside the scratch dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every micro-batch's progress of a streaming run
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import numpy as np

    import catalog
    import tracing
    from workloads import WORKLOADS, cpu_jiffies, unstolen

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "marketing_etl_analytics_spark")):
        print("marketing_etl_analytics_spark not found beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        conf = pin_environment(work)
        if args.trace:
            os.makedirs(os.path.join(work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            })

        wl_cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        wl = wl_cls(None, None, work, args.seed, bool(args.trace))
        wl.generate()
        gen_s = time.perf_counter() - t0

        from marketing_etl_analytics_spark.session import get_spark
        j0, t0 = cpu_jiffies(), time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        tr = tracing.Tracer(spark.sparkContext, enabled=False)
        wl.spark, wl.tr = spark, tr
        wl.setup()
        settle(spark)
        j1 = cpu_jiffies()
        setup_s = unstolen(process_age_s() - gen_s, j0, j1)

        wl.run(time.perf_counter() + args.seconds)
        j2 = cpu_jiffies()
        res = wl.finish()
        # a traced run then runs the companion workloads, each in full
        companions = {}
        for name in wl.companions if args.trace else ():
            cw = WORKLOADS[name](spark, tr, os.path.join(work, name), args.seed, True)
            cw.generate()
            cw.setup()
            cw.run(time.perf_counter() + COMPANION_S)
            companions[name] = (cw, cw.finish())
        attempted = wl.attempted + sum(cw.attempted for cw, _ in companions.values())
        failed = wl.failed + sum(cw.failed for cw, _ in companions.values())
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = tree_peak_rss_mb(jvm_pid)
        peak_rss = sum(rss)
        heap_peak = jvm_heap_peak_mb(spark)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark = None

        lat = res["latency_ms"]
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "latency_p50_ms": tracing.median(lat),
            "latency_p90_ms": float(np.percentile(lat, 90)),
            "throughput_per_s": res["items_per_s"],
            "stored_bytes_per_input_byte": res["stored_bytes_per_input_byte"],
        }
        samples = {"latency_p50_ms": len(lat), "latency_p90_ms": len(lat)}
        print(f"# workload {args.workload} seed {args.seed}: {attempted} operations "
              f"attempted, {failed} failed (failed_ops_ratio "
              f"{failed / attempted:.4f}); one operation = {wl.unit_op}; "
              f"input generation {gen_s:.2f} s, session.get_spark {get_spark_s:.2f} s")
        print(f"# each {wl.unit_op} (ms): " + ", ".join(
            f"{o['key']} {o['ms']:.0f}" if o["key"] != o["kind"] else f"{o['ms']:.0f}"
            for o in wl.ops if o["kind"] == res["latency_kind"] and not o["traced"]))
        wall = wl.op_latencies(res["latency_kind"], "wall_ms")
        print(f"# peak_rss_mb: driver JVM {rss[0]:.0f} MB, {len(rss) - 1} Python workers "
              f"{sum(rss[1:]):.0f} MB; JVM heap pools' peaks sum to {heap_peak:.0f} MB")
        print(f"# times exclude CPU time the hypervisor stole: {1 - unstolen(1.0, j1, j2):.1%} "
              f"of the measured part; with it, latency_p50_ms = {tracing.median(wall):.6g} ms")
        for r in [res] + [r for _, r in companions.values()]:
            for name, (value, unit, n) in r["named"].items():
                print(f"# {name} = {value:.6g} {unit} (n={n})")
        for name, value in e2e.items():
            print(f"# {name} = {value:.6g} {catalog.END_TO_END[name][0]} "
                  f"(n={samples.get(name, 1)})")

        if args.trace:
            groups, total = tracing.parse_event_log(os.path.join(work, "eventlog"), app_id)
            tr.attach_events(groups)
            info = {"get_spark_s": get_spark_s, "jvm_heap_peak_mb": heap_peak,
                    "overhead_ms": wl.tracing_overhead_ms(res["latency_kind"])}
            layer = catalog.per_layer(tr, info, companions)
            trace_path = os.path.join(ROOT, ".perfbench", "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            tr.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                  "event_totals": total, "per_layer": layer,
                                  "end_to_end": e2e})
            for layer_name, secs in sorted(tr.self_times().items()):
                print(f"# self time {layer_name} = {secs:.4f} s")
            print(f"# tracing overhead = {info['overhead_ms']:.1f} ms per {wl.unit_op} "
                  f"(traced minus untraced median); spans in {trace_path}")
            metrics = {k: {"value": v, "unit": catalog.layer_unit(k)[0]}
                       for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": catalog.END_TO_END[k][0]} for k, v in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
