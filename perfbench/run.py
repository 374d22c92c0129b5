"""steelflow benchmark: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload olap-sf0.1 --seed 1 --seconds 16 --trace 0

A run
1. sets up three times: (re)starts the engine session (the first time
   this also launches the JVM), makes the seeded inputs (gen.py, cached
   per seed under perfbench/.data) and evicts every scratch asset and
   warehouse table derived from earlier inputs. ``setup_s`` is the
   median of the three; the first one counts from process start;
2. runs the workload once, untimed, collecting each query's output and
   comparing it with its DuckDB oracle twin (``oracle_sql()``, hashed
   with tools/check_correctness.summarize). This pass is also the
   JIT's and the Python workers' warm-up;
3. runs the workload's warm-up passes, then round(seconds / pass_s)
   measured passes (at least two, three when traced): each query of the
   workload is planned and drained into a ``noop`` sink, one after
   another (one client, closed loop). Every pass reads a fresh alias of
   the input directory, so scratch assets and session caches are built
   cold in every pass.

The warm-up passes still carry JIT compilation; the metrics come from
the untraced passes after them. End-to-end metrics (``--trace 0``):
``setup_s``; ``batch_s``, the median pass time; ``query_p50_s``, the
median over the workload's queries of each query's median latency
(plan + sink); ``cpu_s``, the median CPU time per pass of this process,
the JVM and the Python workers (/proc); ``peak_rss_mb``, the peak RSS
of the JVM plus this process. With ``--trace 1`` every second measured
pass is traced and the per-layer metrics of layers.py are reported
instead, tracing overhead included.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the run's record
(environment, per-pass and per-query times, failed_ops, output hashes),
also written to perfbench/.data/results/. The process exits 1 if any
query raised or failed verification, and 2 if the engine is missing.
"""

from __future__ import annotations

import argparse
import fcntl
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
ENGINE = "steel_energy_consumption_prediction_using_pyspark_spark"
SETUPS = 3
# Below physical RAM: the engine's 16g default is OOM-killed on a 16 GB box.
DRIVER_MEMORY = "3g"
E2E_UNITS = {
    "setup_s": "s",
    "batch_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _pin_environment() -> dict[str, str]:
    """Environment every run shares; must be set before the JVM starts."""
    tmp = os.path.join(DATA, "tmp")
    shutil.rmtree(os.path.join(DATA, "spark-local"), ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(DATA, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the engine's kernels from the repo root,
        # whatever the current directory is.
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return env


def _session_conf() -> dict[str, str]:
    return {
        # The layer probe diffs the status store: keep every job/stage.
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(DATA, "tmp"),
    }


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        os.remove(path)


def _evict(scratch_root: str) -> None:
    """Drop the input aliases, the warehouse, and every scratch asset
    derived from an alias (asset names embed the alias path, which
    contains 'perfbench')."""
    for d in ("runs", "warehouse"):
        shutil.rmtree(os.path.join(DATA, d), ignore_errors=True)
    if not os.path.isdir(scratch_root):
        return
    for top in os.listdir(scratch_root):
        p = os.path.join(scratch_root, top)
        if "perfbench" in top:
            _remove(p)
        elif os.path.isdir(p):
            for sub in os.listdir(p):
                if "perfbench" in sub:
                    _remove(os.path.join(p, sub))


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    shutil.rmtree(os.path.join(DATA, "spark-local"), ignore_errors=True)


def _alias(inputs: str, label: str) -> str:
    """A new directory of hard links to the input tables: same bytes,
    a path no scratch asset or session cache has seen."""
    path = os.path.join(DATA, "runs", f"perfbench_{label}")
    os.makedirs(path)
    for n in os.listdir(inputs):
        if n.endswith(".parquet"):
            os.link(os.path.join(inputs, n), os.path.join(path, n))
    return path


def _verify(spark, queries, oracles, names, sf_dir) -> tuple[list[str], dict]:
    """Collect every query's output and compare it with its oracle twin
    by row count, column names and an order-insensitive value hash.
    Returns the failed queries and each query's output hash."""
    import duckdb

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_correctness import summarize

    con = duckdb.connect()
    for n in os.listdir(sf_dir):
        if n.endswith(".parquet"):
            con.execute(f"CREATE VIEW {n[:-8]} AS SELECT * FROM '{sf_dir}/{n}'")
    failed, hashes = [], {}
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            rows, cols = df.collect(), df.columns
            hashes[name] = summarize(rows, cols)
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = (
                len(rows) == len(drows)
                and sorted(cols) == sorted(dcols)
                and hashes[name] == summarize(drows, dcols)
            )
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"verification failed: {name}", file=sys.stderr)
            failed.append(name)
    con.close()
    return failed, hashes


def _timed_pass(spark, queries, names, sf_dir, tracer=None) -> dict:
    """One closed-loop pass: plan each query, drain it into a noop sink."""
    lat, failed = [], []
    t0 = time.perf_counter()
    for name in names:
        q0 = time.perf_counter()
        try:
            if tracer is None:
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            else:
                module = queries[name].__module__.rsplit(".", 1)[-1]
                with tracer.leaf("plan", name, module):
                    df = queries[name](spark, sf_dir)
                with tracer.leaf("sink", name, module):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            traceback.print_exc()
            failed.append(name)
        lat.append(time.perf_counter() - q0)
    return {"wall": time.perf_counter() - t0, "latencies": lat, "failed": failed}


def run(workload: str, seed: int, seconds: float, trace: bool, started: float) -> dict:
    """One benchmark run. Returns its record; the result line's object
    is under "result"."""
    env = _pin_environment()
    import gen
    from layers import Tracer, layer_metrics
    from probe import CpuMeter, cpu_ticks, hwm_mb
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    inputs = os.path.join(DATA, "inputs", f"scale{wl.scale}-seed{seed}")
    session = importlib.import_module(f"{ENGINE}.session")
    scratch_root = importlib.import_module(f"{ENGINE}.workload.util").scratch_root()
    registry = importlib.import_module(f"{ENGINE}.workload")

    # 1. Set-ups.
    spark, setups, t0 = None, [], started
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        s0 = time.perf_counter()
        spark = session.get_session("perfbench", extra_conf=_session_conf())
        if not setups:
            session_start_s = time.perf_counter() - s0
        gen.write_fixtures(inputs, wl.scale, seed)
        _evict(scratch_root)
        setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()

    # 2. Untimed verification pass.
    queries, oracles = registry.all_queries(), registry.all_oracles()
    v0 = time.perf_counter()
    failed_verify, hashes = _verify(
        spark, queries, oracles, wl.queries, _alias(inputs, "verify")
    )
    verify_s = time.perf_counter() - v0
    spark.catalog.clearCache()

    # 3. Timed passes; a traced run traces every second measured one, so
    # tracing overhead is measured within the same process.
    cpu = CpuMeter(spark.sparkContext._gateway.proc.pid)
    tracer = (
        Tracer(spark, cpu, [scratch_root, os.path.join(DATA, "warehouse")])
        if trace
        else None
    )
    passes = []
    n_measured = max(3 if trace else 2, round(seconds / wl.pass_s))
    for i in range(wl.warmup + n_measured):
        traced = trace and i >= wl.warmup and (i - wl.warmup) % 2 == 1
        alias = _alias(inputs, f"pass{i}")
        s0, c0 = cpu_ticks(), cpu.read()
        if traced:
            tracer.begin_pass()
        p = _timed_pass(spark, queries, wl.queries, alias, tracer if traced else None)
        if traced:
            tracer.end_pass()
        c1, s1 = cpu.read(), cpu_ticks()
        p["cpu_parts"] = {k: c1[k] - c0[k] for k in c1}
        p["cpu"] = sum(p["cpu_parts"][k] for k in ("driver", "jvm", "pyworker"))
        p["steal"] = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
        p["traced"] = traced
        passes.append(p)
        spark.catalog.clearCache()

    jvm_hwm = hwm_mb(cpu.jvm_pid)
    driver_hwm = hwm_mb(os.getpid())
    _shutdown(spark)
    _evict(scratch_root)

    # The warm-up passes still carry JIT compilation: metrics come from
    # the untraced passes after them.
    measured = [p for p in passes[wl.warmup :] if not p["traced"]]
    attempted = len(wl.queries) + sum(len(p["latencies"]) for p in passes)
    failed = len(failed_verify) + sum(len(p["failed"]) for p in passes)
    query_s = {
        n: statistics.median(p["latencies"][i] for p in measured)
        for i, n in enumerate(wl.queries)
    }
    if trace:
        metrics = layer_metrics(
            tracer, measured, session_start_s, jvm_hwm, int(env["SPARK_GRAFT_CPUS"])
        )
    else:
        values = {
            "setup_s": statistics.median(setups),
            "batch_s": statistics.median(p["wall"] for p in measured),
            "query_p50_s": statistics.median(query_s.values()),
            "cpu_s": statistics.median(p["cpu"] for p in measured),
            "peak_rss_mb": jvm_hwm + driver_hwm,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "failed_ops": {"value": failed / attempted, "unit": "share", "attempted": attempted},
        "failed_verify": failed_verify,
        "failed_timed": sorted({n for p in passes for n in p["failed"]}),
        "setups_s": setups,
        "verify_s": verify_s,
        "peak_rss_parts_mb": {"jvm": jvm_hwm, "driver": driver_hwm},
        "pass_s": [p["wall"] for p in passes],
        "pass_cpu_s": [p["cpu"] for p in passes],
        # The JVM's CPU includes that of its JIT and GC threads.
        "pass_cpu_parts_s": [p["cpu_parts"] for p in passes],
        "pass_query_s": [p["latencies"] for p in passes],
        # Share of the machine's CPU time taken by the hypervisor.
        "pass_steal": [p["steal"] for p in passes],
        "query_s": query_s,
        "hashes": hashes,
        "env": {
            **env,
            "python": platform.python_version(),
            "pyspark": importlib.import_module("pyspark").__version__,
            "machine": platform.machine(),
        },
    }
    out = os.path.join(DATA, "results", f"{workload}-seed{seed}-trace{int(trace)}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".json", "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    if trace:
        with open(out + ".spans.json", "w") as fh:
            json.dump(tracer.spans, fh)
    record["result"] = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(REPO, ENGINE)):
        print(f"engine package {ENGINE} not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    os.makedirs(DATA, exist_ok=True)
    with open(os.path.join(DATA, ".lock"), "w") as lock:
        # Runs in one checkout share the scratch root: one at a time.
        fcntl.flock(lock, fcntl.LOCK_EX)
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    result = record.pop("result")
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
