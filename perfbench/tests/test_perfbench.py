"""Self-tests of the benchmark: names, generator, repeatable counts.

    python3 -m pytest perfbench/tests -q

The Spark tests make two traced runs per workload and one steel_eda
run, about four minutes in all.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import layers
import run
from workloads import WORKLOADS, Workload

BENCH = os.path.join(run.REPO, "BENCHMARK.json")


def _bench() -> dict:
    with open(BENCH) as fh:
        return json.load(fh)


def test_metric_and_workload_names_match_benchmark_json():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(
        run.E2E_UNITS.items()
    )
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        (n, layers.unit(n)) for n in layers.metric_names()
    ]
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert b["paths"] == ["perfbench"]


def test_layer_modules_cover_every_workload_query():
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        all_oracles,
        all_queries,
    )

    qs, oracles = all_queries(), all_oracles()
    for w in WORKLOADS.values():
        for name in w.queries:
            assert qs[name].__module__.rsplit(".", 1)[-1] in layers.MODULES
            assert name in oracles, f"{name} has no oracle twin"


def _digest(d: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
        if n.endswith(".parquet")
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_fixtures(str(tmp_path / "a"), 0.001, 3)
    b = gen.write_fixtures(str(tmp_path / "b"), 0.001, 3)
    c = gen.write_fixtures(str(tmp_path / "c"), 0.001, 4)
    assert sorted(_digest(a)) == [f"{t}.parquet" for t in sorted(gen.TABLES)]
    assert _digest(a) == _digest(b)
    for t in ("lineitem", "documents", "embeddings"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        tc = pq.read_table(os.path.join(c, f"{t}.parquet"))
        assert ta.num_rows == tc.num_rows
        assert not ta.equals(tc), f"{t}: seed did not change the row order"
        key = [(f.name, "ascending") for f in ta.schema if not pa.types.is_list(f.type)]
        assert ta.sort_by(key).equals(tc.sort_by(key)), f"{t}: rows differ"


# Counts that must repeat exactly between two runs of the same code.
EXACT = (
    "spark.jobs",
    "spark.stages",
    "workload.eager_stages",
    "workload.assets_published",
)
# Per workload, the layer counters its queries must move.
NONZERO = {
    "olap-sf0.1": (
        "spark.task_cpu_s",
        "spark.shuffle_write_mb",
        "workload.core.sink_s",
    ),
    "llm-notebook-sf0.001": (
        "operators.pyworker_cpu_s",
        "operators.pyworker_procs",
        "workload.eager_jobs",
        "workload.assets_published",
        "sources.files_written",
        "workload.text.sink_s",
        "workload.vector.plan_s",
        "workload.ml.plan_s",
        "workload.maintenance.sink_s",
    ),
}
# The workload that bypasses Python workers and file writes.
ZERO = {"olap-sf0.1": ("operators.pyworker_cpu_s", "sources.files_written")}


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_counts_repeat_and_outputs_match_across_seeds(name):
    a = run.run(name, 1, 0, True, time.perf_counter())
    b = run.run(name, 2, 0, True, time.perf_counter())
    for r in (a, b):
        assert r["result"]["correct"], r["failed_verify"] + r["failed_timed"]
    assert a["hashes"] == b["hashes"]
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    assert {k: ma[k]["value"] for k in EXACT} == {k: mb[k]["value"] for k in EXACT}
    for k in NONZERO[name]:
        assert ma[k]["value"] > 0, k
    for k in ZERO.get(name, ()):
        assert ma[k]["value"] == 0, k


@pytest.mark.xfail(
    reason="known defect: steel_eda's format_number rounding depends on the "
    "partition count (Spark 36.04 vs DuckDB 36.03 on 4 cores), so it is "
    "left out of the workloads until it is fixed"
)
def test_steel_eda_verifies(monkeypatch):
    monkeypatch.setitem(
        WORKLOADS, "steel_eda", Workload("steel_eda", 0.001, ("steel_eda",), 1.0, "")
    )
    r = run.run("steel_eda", 1, 0, False, time.perf_counter())
    assert r["result"]["correct"], r["failed_verify"]
