"""Tests of the benchmark itself. From the repo root::

    python3 -m pytest perfbench/tests -q

The first group needs no Spark session and runs in seconds. The
``test_trace_*`` and ``test_work_counters_*`` tests run the benchmark
end to end (cold jobs on ``local[4]``) and take several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import jobs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import trace_layers  # noqa: E402


# -- no Spark ------------------------------------------------------------------

def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(jobs.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_inputs_repeat_per_seed_and_differ_across_seeds():
    from gen import make_tables

    a, b, c = make_tables(0.001, 5), make_tables(0.001, 5), make_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert {t: a[t].num_rows for t in a} == {t: c[t].num_rows for t in c}


def test_canonical_text_folds_number_spellings():
    col = oracle.canon_column(pa.array(["1.0E7", "10000000", "-0.0", "0", "0.1", "x ", ""]))
    assert col.to_pylist() == ["10000000", "10000000", "0", "0", "0.1", "x ", ""]
    assert oracle.canon_column(pa.array(['[1.0, 2.5]', '[1,2.5]'])).to_pylist() == [
        "[\"1\",\"2.5\"]", "[\"1\",\"2.5\"]",
    ]


def test_median_estimate_moves_smoothly_between_clusters():
    assert run._hd_median([7.0]) == 7.0
    assert abs(run._hd_median([1.0, 2.0, 3.0]) - 2.0) < 1e-9
    # one rank crossing between two clusters moves the sample median from
    # one cluster to the other, the estimate only part of the way
    low, high = run._hd_median([1.0] * 13 + [2.0] * 12), run._hd_median([1.0] * 12 + [2.0] * 13)
    assert 1.0 < low < high < 2.0
    assert high - low < 0.25


def test_every_job_replays_and_counts_its_statements():
    for name, make in jobs.WORKLOADS.items():
        job_list = make(1)
        assert job_list[0].statements > 0, name
        assert any(j.expect_export_failure for j in job_list[1:]), name
    surface = jobs.dialect_surface(1)[0]
    assert len(surface.validate_blocks[0]["codes"]) == 72


def test_tracer_patches_every_module_that_bound_a_name():
    from component_duckdb_transformation_spark import workloads
    from component_duckdb_transformation_spark.functions import dialect
    from component_duckdb_transformation_spark.plans import executor
    from component_duckdb_transformation_spark.validators import sql_validator

    original = dialect.translate
    tracer = trace_layers.Tracer("t")
    tracer.install()
    try:
        for mod in (dialect, executor, sql_validator, workloads):
            assert mod.translate is not original, mod.__name__
            assert mod.translate.__wrapped__ is original
        executor.translate("SELECT 1")
        (span,) = [s for s in tracer.spans if s["name"] == "dialect.translate"]
        assert span["chars_in"] == len("SELECT 1")
    finally:
        for owner, attr in tracer.patched:
            setattr(owner, attr, getattr(owner, attr).__wrapped__)
    assert dialect.translate is original


def test_nesting_check_flags_a_child_outside_its_parent():
    spans = [
        {"id": 1, "name": "a", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 2, "name": "b", "parent": 1, "start": 0.5, "end": 0.9},
        {"id": 3, "name": "c", "parent": 1, "start": 0.5, "end": 1.5},
    ]
    assert trace_layers.check_nesting(spans) == ["c#3 outside a#1"]


# -- end to end ----------------------------------------------------------------

def _bench(workload: str, seed: int, trace: int) -> tuple[dict, dict, list]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--keep"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, result = proc.stdout.strip().splitlines()
    detail = json.loads(detail)
    spans = []
    for name in os.listdir(detail["work_dir"]):
        if name.endswith(".spans"):
            with open(os.path.join(detail["work_dir"], name), encoding="utf-8") as fh:
                spans = [json.loads(line) for line in fh]
    shutil.rmtree(detail["work_dir"])
    return detail, json.loads(result), spans


# layers every job must record at least one span for, plus the
# workload-specific ones
COMMON_LAYERS = {
    "component.run", "table_import.create_input_view", "sql_parser.parse_script",
    "orchestrator.build_execution_plan", "orchestrator.execute", "dialect.translate",
    "executor.statement_type_hints", "executor.execute_query", "spark.sql",
    "table_store.create_table", "table_export.export_table",
}
LAYERS = {
    "etl_analytics": {"table_store.rewrite"},
    "dialect_surface": {"sql_validator.validate_queries"},
    "mutation_csv": {"table_store.insert_into", "table_store.rewrite"},
}


@pytest.mark.parametrize("workload", list(jobs.WORKLOADS))
def test_trace_is_complete(workload):
    detail, result, spans = _bench(workload, 3, 1)
    assert result["correct"], detail["unexpected_failures"]
    names = {s["name"] for s in spans}
    missing = (COMMON_LAYERS | LAYERS[workload]) - names
    assert not missing
    assert trace_layers.check_nesting(spans) == []
    # the UI's job log holds every job the status tracker counted
    assert detail["spark_job_log"]["complete"], detail["spark_job_log"]
    assert set(result["metrics"]) == set(run.PER_LAYER)


@pytest.mark.parametrize("workload", list(jobs.WORKLOADS))
def test_work_counters_repeat_exactly(workload):
    """Counts that must not move between two runs on one seed, so no
    change can shrink the work unnoticed."""
    runs = [_bench(workload, 8, 1) for _ in range(2)]
    keys = [k for k in run.PER_LAYER if k.startswith("work.")] + [
        "table_store.bytes_written", "spark.jobs",
    ]
    first, second = ({k: r[1]["metrics"][k]["value"] for k in keys} for r in runs)
    assert first == second
