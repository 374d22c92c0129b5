"""Spans and per-layer metrics of a traced run.

Spans are recorded only at the boundaries of the benchmark's own calls
into the engine: run -> pass -> query -> {plan, sink}. ``plan`` is the
``workload.all_queries()[q](spark, sf_dir)`` call (driver-side plan
build plus any eager count/collect/fit inside it), ``sink`` is the noop
write. Each plan/sink span carries the status-store and /proc counter
diffs of its interval. Spans stay in memory; run.py writes them once,
at the end.

Layers are named after the engine's modules: ``session``, ``workload``
(and ``workload.<module>`` per query module), ``spark``, ``jvm``,
``operators`` (Python workers), ``sources`` (files written), and
``driver`` (this process).
"""

from __future__ import annotations

import contextlib
import statistics
import time

from probe import SPARK_COUNTERS, SparkMeter, dir_usage

# Engine modules whose queries some workload runs (workloads.py).
MODULES = ("core", "maintenance", "ml", "text", "vector")
_CPU = ("driver", "jvm", "jit", "gc", "pyworker")


def metric_names() -> list[str]:
    names = [
        "session.start_s",
        "workload.plan_s",
        "workload.eager_jobs",
        "workload.eager_stages",
        "workload.assets_published",
    ]
    for m in MODULES:
        names += [f"workload.{m}.plan_s", f"workload.{m}.sink_s"]
    names += ["spark.sink_s"] + [f"spark.{c}" for c in SPARK_COUNTERS]
    names += [
        "spark.task_offcpu_s",
        "spark.slot_busy",
        "jvm.cpu_s",
        "jvm.overhead_cpu_s",
        "jvm.jit_cpu_s",
        "jvm.gc_cpu_s",
        "jvm.peak_rss_mb",
        "operators.pyworker_cpu_s",
        "operators.pyworker_procs",
        "sources.files_written",
        "sources.written_mb",
        "driver.cpu_s",
        "trace.batch_s",
        "trace.overhead_s",
    ]
    return names


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "spark.slot_busy":
        return "share"
    return "count"


class Tracer:
    """Spans of one traced run, each leaf with its counter diffs."""

    def __init__(self, spark, cpu, watch_dirs: list[str]):
        self._spark = SparkMeter(spark)
        self._cpu = cpu
        self._watch = watch_dirs
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._run = self._open("run", None)
        self._pass = self._query = None

    def _open(self, name: str, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": time.perf_counter() - self._t0, "end": None, **attrs}
        )
        return len(self.spans) - 1

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter() - self._t0

    def begin_pass(self) -> None:
        self._workers0 = dict(self._cpu.worker_cpu)
        self._fs0 = dir_usage(self._watch)
        self._pass = self._open("pass", self._run)

    def end_pass(self) -> None:
        self._close(self._pass)
        files, size, published = (
            b - a for a, b in zip(self._fs0, dir_usage(self._watch))
        )
        self.spans[self._pass]["counters"] = {
            "files_written": files,
            "written_mb": size / (1024.0 * 1024.0),
            "assets_published": published,
            # Python worker processes that used CPU during the pass.
            "pyworker_procs": sum(
                cpu > self._workers0.get(pid, 0.0)
                for pid, cpu in self._cpu.worker_cpu.items()
            ),
        }
        self._close(self._run)

    @contextlib.contextmanager
    def leaf(self, kind: str, query: str, module: str):
        self._spark.read()
        c0 = self._cpu.read()
        if kind == "plan":
            self._query = self._open("query", self._pass, query=query, module=module)
        sid = self._open(kind, self._query)
        try:
            yield
        finally:
            self._close(sid)
            self._close(self._query)
            c1 = self._cpu.read()
            counters = self._spark.read()
            counters.update({f"{k}_cpu_s": c1[k] - c0[k] for k in _CPU})
            self.spans[sid]["counters"] = counters


def _pass_metrics(spans: list[dict], pass_id: int, cores: int) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    p = by_id[pass_id]
    wall = p["end"] - p["start"]
    m = dict.fromkeys(metric_names(), 0.0)
    for s in spans:
        if s["name"] not in ("plan", "sink") or by_id[s["parent"]]["parent"] != pass_id:
            continue
        c, dur = s["counters"], s["end"] - s["start"]
        module = by_id[s["parent"]]["module"]
        m[f"workload.{module}.{s['name']}_s"] += dur
        if s["name"] == "plan":
            m["workload.plan_s"] += dur
            m["workload.eager_jobs"] += c["jobs"]
            m["workload.eager_stages"] += c["stages"]
        else:
            m["spark.sink_s"] += dur
        for k in SPARK_COUNTERS:
            m[f"spark.{k}"] += c[k]
        m["jvm.cpu_s"] += c["jvm_cpu_s"]
        m["jvm.jit_cpu_s"] += c["jit_cpu_s"]
        m["jvm.gc_cpu_s"] += c["gc_cpu_s"]
        m["operators.pyworker_cpu_s"] += c["pyworker_cpu_s"]
        m["driver.cpu_s"] += c["driver_cpu_s"]
    pc = p["counters"]
    m["workload.assets_published"] = pc["assets_published"]
    m["sources.files_written"] = pc["files_written"]
    m["sources.written_mb"] = pc["written_mb"]
    m["operators.pyworker_procs"] = pc["pyworker_procs"]
    m["spark.task_offcpu_s"] = m["spark.task_run_s"] - m["spark.task_cpu_s"] - m["spark.gc_s"]
    m["spark.slot_busy"] = m["spark.task_run_s"] / (wall * cores)
    m["jvm.overhead_cpu_s"] = m["jvm.cpu_s"] - m["spark.task_cpu_s"]
    m["trace.batch_s"] = wall
    return m


def layer_metrics(
    tracer: Tracer,
    untraced: list[dict],
    session_start_s: float,
    jvm_hwm_mb: float,
    cores: int,
) -> dict[str, dict]:
    """Per-layer metrics: per traced pass, median over the traced passes.
    Tracing overhead is measured against the `untraced` passes."""
    pass_ids = [s["id"] for s in tracer.spans if s["name"] == "pass"]
    per_pass = [_pass_metrics(tracer.spans, i, cores) for i in pass_ids]
    out = {k: statistics.median(m[k] for m in per_pass) for k in metric_names()}
    out["session.start_s"] = session_start_s
    out["jvm.peak_rss_mb"] = jvm_hwm_mb
    out["trace.overhead_s"] = out["trace.batch_s"] - statistics.median(
        p["wall"] for p in untraced
    )
    return {k: {"value": v, "unit": unit(k)} for k, v in out.items()}
