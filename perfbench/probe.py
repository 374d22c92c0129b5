"""Outside-in layer counters: read at call boundaries, never inside the
engine.

- Spark work comes from the driver's status store (the data behind the
  Spark UI, kept even with the UI off): jobs and stages newer than the
  last read, with their task metrics.
- CPU comes from /proc: the driver process, the JVM it launched, and
  the JVM's descendants (the Python workers that run Arrow kernels and
  pandas UDFs). Reaped workers are counted through their parent's
  cutime/cstime.
- Files written are the growth of the engine's scratch root and the
  warehouse.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1024.0 * 1024.0


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of `pid`, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    f = data[data.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), own, reaped


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of `pid` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(root: int) -> dict[int, float]:
    """Every live descendant of `root` -> its own + reaped-children CPU s."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
            cpu[int(name)] = st[1] + st[2]
    out: dict[int, float] = {}
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        if pid in cpu:
            out[pid] = cpu[pid]
            todo.extend(children.get(pid, ()))
    return out


def _jvm_threads(pid: int) -> dict[int, tuple[str, float]]:
    """JIT compiler and GC threads of the JVM: tid -> (kind, cpu s)."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        name = data[data.index("(") + 1 : data.rindex(")")]
        if "CompilerThre" in name:
            kind = "jit"
        elif name.startswith(("G1 ", "GC Thread")):
            kind = "gc"
        else:
            continue
        f = data[data.rindex(")") + 2 :].split()
        out[int(tid)] = (kind, (int(f[11]) + int(f[12])) / _TICK)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot: the
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def dir_usage(paths: list[str]) -> tuple[int, int, int]:
    """(files, bytes, published markers) under `paths`."""
    files = size = published = 0
    for root in paths:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                try:
                    size += os.path.getsize(os.path.join(dirpath, n))
                except OSError:
                    continue
                files += 1
                published += n == "_PUBLISHED"
    return files, size, published


class CpuMeter:
    """CPU seconds of the driver, the JVM (and, within it, its JIT and GC
    threads) and the JVM's descendants."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        # Last CPU seconds seen per JVM descendant, dead ones included.
        self.worker_cpu: dict[int, float] = {}
        # The JVM starts and stops compiler threads as it goes, so their
        # CPU is accumulated read by read, per thread.
        self._threads: dict[int, tuple[str, float]] = {}
        self._thread_total = {"jit": 0.0, "gc": 0.0}

    def read(self) -> dict[str, float]:
        t = os.times()
        st = _stat(self.jvm_pid)
        if st is None:
            raise RuntimeError(f"JVM pid {self.jvm_pid} is gone")
        kids = descendants(self.jvm_pid)
        self.worker_cpu.update(kids)
        threads = _jvm_threads(self.jvm_pid)
        for tid, (kind, cpu) in threads.items():
            self._thread_total[kind] += cpu - self._threads.get(tid, (kind, 0.0))[1]
        self._threads = threads
        return {
            "driver": t.user + t.system,
            "jvm": st[1],
            "jit": self._thread_total["jit"],
            "gc": self._thread_total["gc"],
            "pyworker": st[2] + sum(kids.values()),
        }


_STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "task_run_s": ("executorRunTime", 1e3),
    "task_cpu_s": ("executorCpuTime", 1e9),
    "gc_s": ("jvmGcTime", 1e3),
    "shuffle_read_mb": ("shuffleReadBytes", _MB),
    "shuffle_write_mb": ("shuffleWriteBytes", _MB),
    "spill_mb": ("diskBytesSpilled", _MB),
}
SPARK_COUNTERS = ("jobs", "stages", "codegen_compiles", *_STAGE_FIELDS)


class SparkMeter:
    """Diffs of the status store's job and stage lists.

    Both lists come newest first, so each read walks only the entries
    newer than the previous read. Skipped stages (their shuffle output
    was reused) are not counted. Needs ``spark.ui.retainedJobs`` and
    ``spark.ui.retainedStages`` above what one run starts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        # Generated classes compiled by Janino (codegen cache misses).
        self._compiles = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._last_job = self._last_stage = -1
        self._last_compiles = 0
        self.read()

    def read(self) -> dict[str, float]:
        """Counters of the jobs and stages finished since the last read."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        compiles = self._compiles.getCount()
        out["codegen_compiles"] = float(compiles - self._last_compiles)
        self._last_compiles = compiles
        jobs = self._store.jobsList(None)
        if jobs.length():
            newest = jobs.apply(0).jobId()  # job ids are consecutive
            out["jobs"] = float(newest - self._last_job)
            self._last_job = newest
        ArrayList = self._jvm.java.util.ArrayList
        stages = self._store.stageList(
            ArrayList(), False, False, self._no_quantiles, ArrayList()
        )
        newest = self._last_stage
        for i in range(stages.length()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, unit) in _STAGE_FIELDS.items():
                out[key] += getattr(s, getter)() / unit
        self._last_stage = newest
        return out
