"""The traced run (``--trace 1``): per-layer metrics for one workload.

Four sources, as the README describes:

* Spark's uncompressed event log — jobs, stages and task metrics inside
  the traced operation's window; crawl jobs are mapped to engine phases
  by the table their SQL execution writes;
* the built-in UDF profiler (``spark.sql.pyspark.udf.profiler=perf``)
  for Python kernel time;
* benchmark-side spans around each public call (``workloads.Spans``);
* standalone single-process timings of the public kernels over a fixed
  sample of the workload's input.

The run performs three operations: a first one, an untraced one and a
traced one. ``trace_overhead_s`` compares the last two, both warm.
``first_use_s`` is the first minus the untraced one: what the first
operation of a session pays for JIT, code generation and worker-side
first use, which the untraced benchmark run's single operation includes.

Workload-specific figures (candidate volumes, files per round, ...) go
to ``layer_figures`` in ``layers.json`` and the detail line.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import re
import statistics
import time

import numpy as np


PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.python_stage_s": "s",
    "driver_gap_s": "s",
    "jobs_per_step": "count",
    "udf.kernel_s": "s",
    "udf.serde_s": "s",
    "trace_overhead_s": "s",
    "first_use_s": "s",
    "extract.page_us": "us",
    "index.parse_spec_us": "us",
    "scraper.run_us": "us",
    "urlnorm.canonicalize_us": "us",
    "hashing.murmur3_ns": "ns",
    "bloom.build_ns_per_key": "ns",
    "bloom.contains_ns_per_key": "ns",
    "imageops.decode_ms_unique": "ms",
}


def traced_run(spark, wl, trace_dir: str) -> dict:
    first = wl.timed_op()
    untraced = wl.timed_op()
    spark.profile.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    wl.spans.clear()
    t0 = time.time()
    traced = wl.timed_op()
    t1 = time.time()
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    prof_dir = os.path.join(trace_dir, "udf_profiles")
    spark.profile.dump(prof_dir)
    attempted, failed = wl.check()
    figures = wl.layer_figures(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log

    log = EventLog(glob.glob(os.path.join(trace_dir, f"*{app_id}*", "events_*"))
                   + glob.glob(os.path.join(trace_dir, f"{app_id}*")))
    window = log.window(t0 * 1000, t1 * 1000)
    kernel_s, top = _udf_profile(prof_dir)
    steps = wl.steps()
    metrics = {
        "spark.jobs": window["jobs"],
        "spark.tasks": window["tasks"],
        "spark.task_s": window["task_s"],
        "spark.gc_s": window["gc_s"],
        "spark.shuffle_write_bytes": window["shuffle_write_bytes"],
        "spark.input_bytes": window["input_bytes"],
        "spark.python_stage_s": window["python_stage_s"],
        "driver_gap_s": traced - window["job_wall_s"],
        "jobs_per_step": window["jobs"] / steps,
        "udf.kernel_s": kernel_s,
        "udf.serde_s": window["python_task_s"] - kernel_s,
        "trace_overhead_s": traced - untraced,
        "first_use_s": first - untraced,
    }
    metrics.update(standalone_kernels(*wl.kernel_sample()))
    phases = log.phases(t0 * 1000, t1 * 1000, wl.phase_of)
    if "frontier_base" in phases:
        figures["engine.compact_s"] = phases["frontier_base"]["job_wall_s"]
    detail = {
        "first_op_s": first,
        "untraced_op_s": untraced,
        "traced_op_s": traced,
        "steps": steps,
        "layer_figures": figures,
        "udf_top_functions": top,
        "phases": phases,
        "longest_jobs": log.longest_jobs(t0 * 1000, t1 * 1000, wl.phase_of),
        "workload_detail": wl.detail(),
    }
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump(wl.spans, f, indent=1)
    with open(os.path.join(trace_dir, "layers.json"), "w") as f:
        json.dump({"metrics": metrics, "detail": detail}, f, indent=1, default=str)
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "detail": detail}


# ---------------------------------------------------------------------------
# event log


def _union(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


#: output path in a write's formatted plan (the node's details section)
_WRITE_ARGS = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


class EventLog:
    """Jobs/stages/tasks from an uncompressed Spark event log."""

    def __init__(self, paths):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.writes: dict[int, str] = {}  # SQL execution id -> output path
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            m = _WRITE_ARGS.search(e.get("physicalPlanDescription", ""))
            self.writes[e["executionId"]] = m.group(1) if m else ""
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[jid] = {
                "start": e["Submission Time"],
                "end": e["Submission Time"],
                "writes": self.writes.get(int(exec_id), "") if exec_id else "",
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            self.stages[si["Stage ID"]] = {
                "start": si.get("Submission Time", 0),
                "end": si.get("Completion Time", 0),
                "python": any("Python" in (a.get("Name") or "") for a in si.get("Accumulables", [])),
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            })

    def _select(self, t0_ms: float, t1_ms: float, jobs=None):
        jobs = jobs if jobs is not None else {
            j for j, v in self.jobs.items() if t0_ms <= v["start"] <= t1_ms
        }
        stages = {s for s, j in self.stage_job.items() if j in jobs and s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        return jobs, stages, tasks

    def _summary(self, jobs, stages, tasks) -> dict:
        py = [s for s in stages if self.stages[s]["python"]]
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "input_bytes": sum(t["input"] for t in tasks),
            "job_wall_s": _union((self.jobs[j]["start"], self.jobs[j]["end"]) for j in jobs) / 1000,
            "python_stage_s": _union(
                (self.stages[s]["start"], self.stages[s]["end"]) for s in py) / 1000,
            "python_task_s": sum(t["run_ms"] for t in tasks if t["stage"] in py) / 1000,
        }

    def window(self, t0_ms: float, t1_ms: float) -> dict:
        return self._summary(*self._select(t0_ms, t1_ms))

    def phases(self, t0_ms: float, t1_ms: float, phase_of) -> dict:
        """Window jobs grouped by ``phase_of(job)``; a job carries its
        submission time and the path its SQL execution writes, if any."""
        jobs, _, _ = self._select(t0_ms, t1_ms)
        groups: dict[str, set] = {}
        for j in jobs:
            groups.setdefault(phase_of(self.jobs[j]), set()).add(j)
        return {name: self._summary(*self._select(t0_ms, t1_ms, js)) for name, js in groups.items()}

    def longest_jobs(self, t0_ms: float, t1_ms: float, phase_of, n: int = 5) -> list:
        """The ``n`` longest window jobs as (phase, wall seconds)."""
        jobs, _, _ = self._select(t0_ms, t1_ms)
        walls = sorted(
            ((self.jobs[j]["end"] - self.jobs[j]["start"]) / 1000, phase_of(self.jobs[j]))
            for j in jobs
        )
        return [(phase, wall) for wall, phase in walls[::-1][:n]]


# ---------------------------------------------------------------------------
# UDF profiler


def _udf_profile(prof_dir: str):
    """→ (total Python kernel seconds, top functions by own time)."""
    total, funcs = 0.0, {}
    for path in glob.glob(os.path.join(prof_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        st = pstats.Stats(path)
        total += st.total_tt
        for (file, line, name), (_, _, tt, _, _) in st.stats.items():
            key = f"{os.path.basename(file)}:{line}:{name}"
            funcs[key] = funcs.get(key, 0.0) + tt
    top = sorted(funcs.items(), key=lambda kv: -kv[1])[:12]
    return total, top


# ---------------------------------------------------------------------------
# standalone kernels


def _per_item(fn, items, min_s: float = 0.2, repeats: int = 3) -> float:
    """Median over ``repeats`` of the per-item seconds of ``fn`` mapped
    over ``items``, each repeat looping the sample for ≥ ``min_s``."""
    out = []
    for _ in range(repeats):
        n, t0 = 0, time.perf_counter()
        while True:
            for it in items:
                fn(it)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(dt / n)
    return statistics.median(out)


def _per_call(fn, min_s: float = 0.2, repeats: int = 3) -> float:
    return _per_item(lambda _: fn(), [None], min_s, repeats)


def standalone_kernels(pages, images) -> dict:
    """Single-process timings of the public kernels (no Spark).
    ``pages``: [(html, url)]; ``images``: [(blob, fmt)]."""
    from scalpel_spark.crawl.bloom import BloomShards, build_bits
    from scalpel_spark.crawl.hashing import murmur3_64
    from scalpel_spark.crawl.logic import PAGE_SCRAPER, extract_page
    from scalpel_spark.crawl.urlnorm import canonicalize_url
    from scalpel_spark.imageops import decode_image
    from scalpel_spark.index import parse_spec

    specs = [parse_spec(h) for h, _ in pages]
    urls = [u for _, u in pages] + [l for h, u in pages for l in extract_page(h, u).links]
    hashes = np.array([murmur3_64(u) for u in urls], dtype=np.int64)
    hashes = np.resize(hashes, 1 << 16)
    bloom = BloomShards(16, 1 << 20, 7)
    bloom.add_many(hashes[::2])
    n = len(hashes)
    return {
        "extract.page_us": _per_item(lambda p: extract_page(*p), pages) * 1e6,
        "index.parse_spec_us": _per_item(lambda p: parse_spec(p[0]), pages) * 1e6,
        "scraper.run_us": _per_item(PAGE_SCRAPER.run, specs) * 1e6,
        "urlnorm.canonicalize_us": _per_item(canonicalize_url, urls) * 1e6,
        "hashing.murmur3_ns": _per_item(murmur3_64, urls) * 1e9,
        "bloom.build_ns_per_key": _per_call(lambda: build_bits(hashes, 1 << 20, 7)) / n * 1e9,
        "bloom.contains_ns_per_key": _per_call(lambda: bloom.contains_many(hashes)) / n * 1e9,
        "imageops.decode_ms_unique": _per_item(lambda b: decode_image(*b), images) * 1e3,
    }
