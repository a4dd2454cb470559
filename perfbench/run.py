#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 20 --trace 0

Each run, in order: prepare the seeded input and its golden (cached,
untimed; what the set-up does not read is computed in a child process
beside the first set-up, and waited for before the timed operation);
set up the session ``SETUP_REPEATS`` times (start + untimed warm-up +
operator construction) and report the median as ``setup_s``; run the
timed operation in a closed loop for ``--seconds``; verify every output
outside the timed region. ``--trace 1`` reports the per-layer metrics
instead (see perfbench/README.md). The last stdout line is the result;
the line before it carries workload detail and the host record.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# host fit


def host_record() -> dict:
    import platform

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": java.splitlines()[0] if java else "unknown",
    }


def session_conf(host: dict, aqe: bool, trace_dir: str | None) -> dict:
    """Spark conf sized to the host: a quarter of RAM for the driver heap
    (at most 2 GB, which keeps peak RSS steady run to run), local dirs
    inside the checkout, AQE as the workload asks, and — traced runs
    only — an uncompressed event log (the UDF profiler is switched on at
    run time, around the traced operation)."""
    heap = max(1, min(2, int(host["ram_gb"] // 4)))
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp}",
        "spark.sql.adaptive.enabled": "true" if aqe else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree_rss_kb(include_self: bool = True) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[int(pid)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
        me = os.getpid()
        total = 0
        for pid in rss:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p == me and (include_self or pid != me):
                total += rss[pid]
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs (the benchmark's own tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop/alter one output row before checking (tests only)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "scalpel_spark", "__init__.py")):
        _fail(f"no scalpel_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    # Python workers are started by the JVM from this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for knob in ("SPARK_GRAFT_SALT_SKIP", "SPARK_GRAFT_SPREAD_FACTOR",
                 "SCALPEL_CRAWL_TRACE", "SPARK_GRAFT_AQE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)

    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload](args.size, args.corrupt)
    host = host_record()
    master = f"local[{host['nproc']}]"

    t0 = time.perf_counter()
    wl.prepare(args.seed)  # what the set-up reads: cached, untimed
    prepare_s = time.perf_counter() - t0
    # the rest (goldens, for analytics the input too) is cached on disk
    # by a forked child while the first set-up starts the JVM; no thread
    # or JVM exists yet at the fork
    rest = multiprocessing.get_context("fork").Process(target=wl.prepare_rest)
    rest.start()

    trace_dir = None
    if args.trace:
        import shutil

        trace_dir = os.path.join(WORK, "trace", f"{args.workload}-{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    conf = session_conf(host, wl.aqe, trace_dir)

    from scalpel_spark.spark.session import get_spark

    spark = None
    setups = []
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                wl.release()
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench_{args.workload}", master=master, extra_conf=conf)
            wl.warm_up(spark)
            wl.construct(spark)
            setups.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        rest.join()
        wl.prepare_rest()  # loads the child's cache entries (or raises its error)
        prepare_s += time.perf_counter() - t0

        if args.trace:
            result = layers.traced_run(spark, wl, trace_dir)
        else:
            result = untraced_run(wl, args.seconds)
            result["metrics"]["setup_s"] = statistics.median(setups)
    finally:
        if rest.is_alive():
            rest.terminate()
        rest.join()
        if spark is not None:
            wl.release()
            spark.stop()
        stop_jvm()

    detail = result.pop("detail")
    detail.update(host=host, setup_s_all=setups, prepare_s=prepare_s, workload=args.workload,
                  seed=args.seed, error_rate=result["failed"] / result["attempted"])
    print(json.dumps({"detail": detail}, default=str))
    units = layers.PER_LAYER_UNITS if args.trace else workloads.UNITS
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))


def stop_jvm(timeout: float = 60) -> None:
    """End the gateway JVM this process launched and wait until it and
    every process under it (the Python workers) have exited: closing its
    stdin is PySpark's shutdown signal."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while RssSampler._tree_rss_kb(include_self=False) and time.monotonic() < deadline:
        time.sleep(0.2)


def untraced_run(wl, seconds: float) -> dict:
    """Closed loop: start another operation only while it is expected to
    finish inside ``seconds``; always at least one. Peak RSS is sampled
    over the timed loop only; checks run after it."""
    sampler = RssSampler()
    sampler.start()
    walls = []
    t_start = time.perf_counter()
    while True:
        walls.append(wl.timed_op())
        elapsed = time.perf_counter() - t_start
        if elapsed + statistics.median(walls) > seconds:
            break
    peak_mb = sampler.stop()
    attempted, failed = wl.check()
    metrics = wl.metrics()
    metrics["peak_rss_mb"] = peak_mb
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "detail": wl.detail()}


if __name__ == "__main__":
    main()
