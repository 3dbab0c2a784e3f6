"""One cold benchmark run: a fresh process that builds the engine session
and runs one ``Component.run()`` job, then the known-defect jobs.

Usage (``run.py`` starts it with the repo root on ``PYTHONPATH``)::

    python3 perfbench/child.py RESULT.json RUN_ID DATA_DIR [DEFECT_DIR ...]
        [--trace] [--validate BLOCKS.json]

It writes one JSON document to ``RESULT.json`` and exits without
stopping the session; the harness then kills the process group (the JVM
and its Python workers) and waits for every process to end.
``setup_done`` is the wall-clock time at which the session was ready;
the harness subtracts the time it started this process, so ``setup_s``
covers interpreter start, imports and ``build_spark_session`` (UDF
registration included).

With ``--trace`` the per-layer spans are recorded (``trace_layers.py``)
and the Spark job metrics read from the UI REST API. ``--validate`` also
runs the SQL validator over the blocks in ``BLOCKS.json`` after the job.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import time


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n)) for root, _, names in os.walk(path) for n in names
    )


def _store_sizes(component) -> dict:
    """Live-version bytes vs warehouse bytes of the job's TableStore."""
    store = component.executor.store
    paths = [s.path for s in store.tables.values() if s.path]
    return {
        "live_bytes": sum(_dir_bytes(p) for p in paths),
        "disk_bytes": _dir_bytes(store.warehouse_dir),
        "versions": sum(
            len([d for d in os.listdir(os.path.dirname(p)) if d.startswith("v")]) for p in paths
        ),
    }


def _install_probes(tracer):
    """Keep ``BlockOrchestrator.execute``'s return value and count the
    bytes each TableStore write adds under its version directory. Both
    are one call per job or per write, not per statement."""
    from component_duckdb_transformation_spark.plans import executor, orchestrator

    captured: dict = {"stats": [], "writes": []}
    execute = orchestrator.BlockOrchestrator.execute

    def execute_kept(self):
        stats = execute(self)
        captured["stats"].append(stats)
        return stats

    orchestrator.BlockOrchestrator.execute = execute_kept

    def counted(fn):
        def wrapper(self, name, *args, **kwargs):
            state = self.tables.get(name)
            path_before = state.path if state else None
            before = _dir_bytes(path_before) if path_before else 0
            fn(self, name, *args, **kwargs)
            path = self.tables[name].path
            written = _dir_bytes(path) - (before if path == path_before else 0)
            captured["writes"].append(written)
            if tracer is not None:
                tracer.add_counter("table_store.bytes_written", written)

        wrapper.__wrapped__ = fn
        return wrapper

    for meth in ("create_table", "insert_into", "rewrite"):
        setattr(executor.TableStore, meth, counted(getattr(executor.TableStore, meth)))
    return captured


def _steal_jiffies() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("result")
    ap.add_argument("run_id")
    ap.add_argument("data_dir")
    ap.add_argument("defect_dirs", nargs="*")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--validate")
    args = ap.parse_args()
    run_id = args.run_id
    logging.basicConfig(level=logging.WARNING)
    tracer = tl = None
    if args.trace:
        import trace_layers as tl

        tracer = tl.Tracer(run_id)
        tracer.install()
    from component_duckdb_transformation_spark import session as session_mod
    from component_duckdb_transformation_spark.component import Component
    from component_duckdb_transformation_spark.configuration import Configuration

    with open(os.path.join(args.data_dir, "config.json"), encoding="utf-8") as fh:
        params = Configuration(**json.load(fh)["parameters"])
    # the same arguments Component.spark passes
    spark = session_mod.build_spark_session(
        app_name="cdts-component",
        master=params.spark_master,
        threads=params.threads,
        max_memory_mb=params.max_memory_mb,
    )
    setup_done = time.time()
    captured = _install_probes(tracer)
    sc = spark.sparkContext
    sc.setJobGroup(run_id, "benchmark job", interruptOnCancel=True)

    first_job = tl.max_job_id(spark) if tracer is not None else None
    steal0 = _steal_jiffies()
    component = Component(args.data_dir, spark=spark)
    t0 = time.perf_counter()
    if tracer is not None:
        with tracer.span("component.run"):
            component.run()
    else:
        component.run()
    job_s = time.perf_counter() - t0
    steal = _steal_jiffies() - steal0
    # tells the harness's memory watcher the timed job is over
    open(args.result + ".jobdone", "w").close()

    stats = captured["stats"][0]
    result = {
        "setup_done": setup_done,
        "job_s": job_s,
        "steal_jiffies": steal,
        "query_times": stats.query_times,
        "batch_times": stats.batch_times,
        "store": _store_sizes(component),
        "store_writes": captured["writes"],
        "defects": [],
    }
    if tracer is not None:
        from component_duckdb_transformation_spark.configuration import Block
        from component_duckdb_transformation_spark.plans.orchestrator import build_queries
        from component_duckdb_transformation_spark.validators.sql_validator import SQLValidator

        groups = [run_id] + [f"{run_id}/{q.name}" for q in build_queries(params.blocks)]
        rest = tl.spark_job_metrics(spark, run_id, first_job, groups)
        if args.validate:
            with open(args.validate, encoding="utf-8") as fh:
                blocks = [Block(**b) for b in json.load(fh)]
            with tracer.span("syntax_check"):
                SQLValidator(spark).validate_queries(blocks)
        spans_path = os.path.join(os.path.dirname(args.result), f"{run_id}.spans")
        result["trace"] = tracer.finish(component, stats, spans_path, rest)

    for ddir in args.defect_dirs:
        sc.setJobGroup(f"{run_id}-defect", "known defect", interruptOnCancel=True)
        t = time.perf_counter()
        try:
            Component(ddir, spark=spark).run()
            error = None
        except Exception as exc:  # noqa: BLE001 - the failure is the datum
            error = str(exc)[:400]
        result["defects"].append({"dir": ddir, "error": error, "s": time.perf_counter() - t})
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    logging.shutdown()
    os._exit(0)


if __name__ == "__main__":
    main()
