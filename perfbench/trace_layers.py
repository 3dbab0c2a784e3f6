"""Per-layer spans for the traced benchmark run.

The tracer wraps the public boundary of each engine layer from the
outside: it replaces the function on its defining module or class and
on every loaded module that bound the same object by name (``translate``
is imported by name into ``plans.executor``, ``validators.sql_validator``
and ``workloads``). No engine code changes.

One span per wrapped call: name, start, end, parent span and run id.
Spans stay in memory and are written as JSON lines when the run ends.
Worker-thread spans (the orchestrator fans a batch out to a thread pool)
take the innermost span open on the main thread as their parent.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

PKG = "component_duckdb_transformation_spark"

# (module, attribute-path, span name); attribute-path "Cls.meth" wraps a method
BOUNDARIES = [
    ("session", "build_spark_session", "session.build"),
    ("sources.table_import", "create_input_view", "table_import.create_input_view"),
    ("validators.sql_validator", "SQLValidator.validate_queries", "sql_validator.validate_queries"),
    ("plans.orchestrator", "build_execution_plan", "orchestrator.build_execution_plan"),
    ("plans.sql_parser", "parse_script", "sql_parser.parse_script"),
    ("plans.orchestrator", "BlockOrchestrator.execute", "orchestrator.execute"),
    ("functions.dialect", "translate", "dialect.translate"),
    ("plans.executor", "statement_type_hints", "executor.statement_type_hints"),
    ("plans.executor", "SparkStatementExecutor.execute_query", "executor.execute_query"),
    ("plans.executor", "TableStore.create_table", "table_store.create_table"),
    ("plans.executor", "TableStore.insert_into", "table_store.insert_into"),
    ("plans.executor", "TableStore.rewrite", "table_store.rewrite"),
    ("sinks.table_export", "export_table", "table_export.export_table"),
]


class Tracer:
    """Spans and counters of one run, plus the patches that record them."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.patched: list[tuple[object, str]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._main_stack
            parent = main[-1] if main else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.get_ident(), **attrs}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add_counter(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    # -- patching ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            _annotate(name, rec, args, out)
            return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        """Wrap every boundary, plus ``SparkSession.sql``."""
        import importlib

        from pyspark.sql import SparkSession

        # import the modules that bind boundary names before scanning
        for extra in ("component", "workloads", "actions.sync_actions"):
            importlib.import_module(f"{PKG}.{extra}")
        for mod_name, path, span_name in BOUNDARIES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in path:
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), span_name))
                self.patched.append((cls, meth))
                continue
            original = getattr(mod, path)
            traced = self._wrap(original, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, path, None) is original:
                    setattr(m, path, traced)
                    self.patched.append((m, path))
        SparkSession.sql = self._wrap(SparkSession.sql, "spark.sql")
        self.patched.append((SparkSession, "sql"))

    # -- results ----------------------------------------------------------
    def finish(self, component, stats, out_path: str, rest: dict | None) -> dict:
        """Aggregate the spans into per-layer metrics and write them out."""
        with open(out_path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
        return aggregate(self.spans, self.counters, component, stats, rest)


def _annotate(name: str, rec: dict, args, out) -> None:
    """Attach the sizes each layer's metrics need to its span."""
    if name == "dialect.translate":
        rec["chars_in"], rec["chars_out"] = len(args[0]), len(out)
    elif name == "table_import.create_input_view":
        path = args[1].full_path or ""
        rec["bytes_in"] = _path_bytes(path)
    elif name == "sql_validator.validate_queries":
        rec["queries"] = sum(len(c.script) for b in args[1] for c in b.codes)
        rec["verdict"] = out.type.value
    elif name == "orchestrator.build_execution_plan":
        rec["widths"] = [len(b) for blk in out for b in blk]


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _, ns in os.walk(path) for n in ns
    )


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def aggregate(spans, counters, component, stats, rest) -> dict:
    """Per-layer metrics. Job layers count only spans under the
    ``component.run`` root; the validator's own run sits under
    ``syntax_check``."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def root(s: dict) -> str:
        while s["parent"] is not None and s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["name"]

    def nested_in_same(s: dict) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == s["name"]:
                return True
            p = by_id.get(p["parent"])
        return False

    job: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if root(s) == "component.run" and not nested_in_same(s):
            job[s["name"]].append(s)

    def ms(name: str, group=job) -> float:
        return sum(_ms(s) for s in group[name])

    m: dict[str, float] = {}
    m["session.build_ms"] = sum(_ms(s) for s in spans if s["name"] == "session.build")
    imp = job["table_import.create_input_view"]
    m["table_import.calls"] = len(imp)
    m["table_import.ms"] = ms("table_import.create_input_view")
    m["table_import.bytes_in"] = sum(s["bytes_in"] for s in imp)
    val = [s for s in spans if s["name"] == "sql_validator.validate_queries"]
    m["sql_validator.ms"] = sum(_ms(s) for s in val)
    m["sql_validator.queries"] = sum(s["queries"] for s in val)
    widths = [w for s in job["orchestrator.build_execution_plan"] for w in s["widths"]]
    m["orchestrator.plan_ms"] = ms("orchestrator.build_execution_plan") + ms("sql_parser.parse_script")
    m["orchestrator.batches"] = len(widths)
    m["orchestrator.batch_width_mean"] = sum(widths) / len(widths) if widths else 0.0
    m["orchestrator.batch_ms"] = sum(stats.batch_times) * 1000.0
    # per batch: worker slots x batch wall - sum of query walls
    idle, i = 0.0, 0
    workers = component.params.threads or 4
    for width, wall in zip(widths, stats.batch_times):
        idle += min(workers, width) * wall - sum(stats.query_times[i:i + width])
        i += width
    m["orchestrator.idle_slot_ms"] = idle * 1000.0
    tr = job["dialect.translate"]
    m["dialect.translate_calls"] = len(tr)
    m["dialect.translate_ms"] = ms("dialect.translate")
    m["dialect.chars_in"] = sum(s["chars_in"] for s in tr)
    m["dialect.chars_out"] = sum(s["chars_out"] for s in tr)
    m["executor.hint_calls"] = len(job["executor.statement_type_hints"])
    m["executor.hint_ms"] = ms("executor.statement_type_hints")
    m["executor.sql_calls"] = len(job["spark.sql"])
    m["executor.sql_ms"] = ms("spark.sql")
    eq = job["executor.execute_query"]
    m["executor.query_ms"] = ms("executor.execute_query")
    m["executor.self_ms"] = sum(_ms(s) - sum(_ms(c) for c in children[s["id"]]) for s in eq)
    writes = [s for n in ("create_table", "insert_into", "rewrite") for s in job[f"table_store.{n}"]]
    m["table_store.writes"] = len(writes)
    m["table_store.write_ms"] = sum(_ms(s) for s in writes)
    m["table_store.bytes_written"] = counters.get("table_store.bytes_written", 0.0)
    m["table_export.calls"] = len(job["table_export.export_table"])
    m["table_export.ms"] = ms("table_export.export_table")
    m["unattributed_ms"] = sum(
        _ms(r) - sum(_ms(c) for c in children[r["id"]]) for r in job["component.run"]
    )
    if rest is not None:
        m.update(rest)
    return m


def check_nesting(spans: list[dict]) -> list[str]:
    """Child spans must lie inside their parents. Returns the violations."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            bad.append(f"{s['name']}#{s['id']}: parent {s['parent']} missing")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            bad.append(f"{s['name']}#{s['id']} outside {p['name']}#{p['id']}")
    return bad


# -- Spark jobs via the UI REST API ----------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def max_job_id(spark) -> int:
    """Highest job id the UI knows (-1 before any job)."""
    base = _app_url(spark)
    jobs = _get(f"{base}/jobs")
    return max((j["jobId"] for j in jobs), default=-1)


def _app_url(spark) -> str:
    sc = spark.sparkContext
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def spark_job_metrics(spark, run_id: str, first_job: int, groups: list[str]) -> dict:
    """Jobs, tasks, executor run/CPU time, shuffle and spill bytes of the
    run's job groups (``<run_id>`` and ``<run_id>/<query>``).

    Also checks the UI's job log is complete for the run: every job id
    after ``first_job`` up to the last one belongs to the run and is
    present, and every job the status tracker lists for the run's groups
    is in the log. A gap means UI retention dropped jobs."""
    base = _app_url(spark)
    jobs = [
        j for j in _get(f"{base}/jobs")
        if j["jobId"] > first_job
        and (j.get("jobGroup") == run_id or str(j.get("jobGroup", "")).startswith(run_id + "/"))
    ]
    ids = sorted(j["jobId"] for j in jobs)
    tracker = spark.sparkContext.statusTracker()
    tracked = set()
    for g in groups:
        tracked.update(int(i) for i in tracker.getJobIdsForGroup(g))
    tracked = {i for i in tracked if i > first_job}
    complete = (
        bool(ids)
        and ids == list(range(first_job + 1, ids[-1] + 1))
        and tracked <= set(ids)
    )
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    stages = [s for s in _get(f"{base}/stages") if s["stageId"] in stage_ids]
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "spark.executor_run_ms": sum(s.get("executorRunTime", 0) for s in stages),
        "spark.executor_cpu_ms": sum(s.get("executorCpuTime", 0) for s in stages) / 1e6,
        "spark.shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "spark.spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
        ),
        "spark.job_log_complete": 1.0 if complete else 0.0,
        "spark.tracked_jobs": len(tracked),
    }
