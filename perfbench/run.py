"""Product-path benchmark: cold ``Component.run()`` jobs on generated
Keboola data directories.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload etl_analytics --seed 1 --seconds 30 --trace 0

Each measured job runs in a fresh Python process (``child.py``) on
``local[4]``: it builds the engine session, then runs one job. The
harness makes the inputs from ``--seed`` (untimed), replays every job in
DuckDB 1.0 for the correctness gate (untimed), starts cold jobs until
``--seconds`` would be exceeded (at least one), compares every exported
table with DuckDB's, and prints one JSON object as its last line.

``--trace 0`` reports the end-to-end metrics (medians over the cold
jobs). ``--trace 1`` runs one traced job and reports its per-layer
metrics, plus the tracing overhead against the untraced jobs run before
in this checkout (one untraced job first if there were none). See
``NOTES.md`` for what each metric means and for the known defects.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import jobs  # noqa: E402
import numpy as np  # noqa: E402
import oracle  # noqa: E402

CHILD_TIMEOUT_S = 150
# untraced job_s of every cold job run in this checkout, for the traced
# run's overhead baseline
HISTORY = os.path.join(ROOT, ".bench_work", "history.jsonl")
MAX_JOBS = 8
E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "query_ms_p50": "ms", "query_ms_p95": "ms",
    "store_write_amp": "ratio", "store_space_amp": "ratio", "fail_ratio": "ratio",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- one cold job --------------------------------------------------------------

class _RssWatch(threading.Thread):
    """Peak resident memory (VmHWM) of the child's JVM, read from /proc
    until the child marks the end of its timed job."""

    def __init__(self, pid: int, done_marker: str):
        super().__init__(daemon=True)
        self.pid, self.jvm, self.peak_kb = pid, None, 0
        self.done_marker = done_marker
        self.stop = threading.Event()

    def _find_jvm(self):
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{entry}/comm", encoding="ascii") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            if int(fields[1]) == self.pid and comm == "java":
                return int(entry)
        return None

    def run(self):
        while not self.stop.wait(0.2):
            if self.jvm is None:
                self.jvm = self._find_jvm()
                continue
            done = os.path.exists(self.done_marker)
            try:
                with open(f"/proc/{self.jvm}/status", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                pass
            if done:
                return


def _child_env(work: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVM temp files, and no hsperfdata file under /tmp either
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    env.pop("CDTS_SPARK_UI", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        env["CDTS_SPARK_UI"] = "true"
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
            " --conf spark.ui.port=0 pyspark-shell"
        )
    return env


def _run_child(work: str, run_id: str, job_dirs: list[str], trace: bool, extra: list[str]) -> dict:
    for d in job_dirs:
        out = os.path.join(d, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tables"))
    result_path = os.path.join(work, f"{run_id}.json")
    log_path = os.path.join(work, f"{run_id}.log")
    cmd = [sys.executable, os.path.join(HERE, "child.py"), result_path, run_id, *job_dirs, *extra]
    if trace:
        cmd.append("--trace")
    with open(log_path, "w", encoding="utf-8") as log:
        started = time.time()
        proc = subprocess.Popen(
            cmd, cwd=work, env=_child_env(work, trace), stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        watch = _RssWatch(proc.pid, result_path + ".jobdone")
        watch.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        watch.stop.set()
        watch.join()
        _reap(proc)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        _fail(f"cold job {run_id} exited with {code}:\n{tail}")
    with open(result_path, encoding="utf-8") as fh:
        res = json.load(fh)
    res["setup_s"] = res["setup_done"] - started
    res["wall_s"] = time.time() - started
    res["peak_rss_mb"] = watch.peak_kb / 1024.0
    return res


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid:
                pids.append(int(entry))
    return pids


def _reap(proc: subprocess.Popen) -> None:
    """Kill the child's process group (its JVM and Python workers) and
    wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while _group_pids(proc.pid):
        time.sleep(0.05)


# -- correctness ---------------------------------------------------------------

def _check(job, data_dir: str, expected: dict, defect) -> dict:
    """Operations of one job: statements, exports and comparisons."""
    ops = {"attempted": 0, "failed": 0, "unexpected": [], "known": []}
    n_exp = len(job.exports)
    ops["attempted"] += job.statements + 2 * n_exp
    if defect is not None and defect.get("error") is not None:
        # the job raised: its export (and so its comparison) failed
        known = job.expect_export_failure and "UNRESOLVED_COLUMN" in defect["error"]
        ops["failed"] += 2
        (ops["known"] if known else ops["unexpected"]).append(
            f"{job.name}: {defect['error'][:200]}"
        )
        return ops
    for table in job.exports:
        ok, detail = oracle.compare(expected[table], os.path.join(data_dir, "out", "tables", table))
        if ok:
            continue
        ops["failed"] += 1
        ws_known = oracle.compare(
            expected[table], os.path.join(data_dir, "out", "tables", table), strip=True
        )[0]
        (ops["known"] if ws_known else ops["unexpected"]).append(f"{table}: {detail}")
    if job.expect_export_failure:
        ops["known"].append(f"{job.name}: export no longer fails")
    return ops


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, n)) for r, _, ns in os.walk(path) for n in ns)


def _work_counters(main_job, main_dir: str, child: dict) -> dict:
    out = os.path.join(main_dir, "out", "tables")
    paths = [os.path.join(out, t) for t in main_job.exports if os.path.exists(os.path.join(out, t))]
    return {
        "work.statements": main_job.statements,
        "work.input_rows": sum(i.table.num_rows for i in main_job.inputs),
        "work.input_bytes": _dir_bytes(os.path.join(main_dir, "in", "tables")),
        "work.output_rows": sum(sum(oracle.csv_rows(p).values()) for p in paths),
        "work.output_bytes": sum(_dir_bytes(p) for p in paths),
        "table_store.bytes_written": sum(child["store_writes"]),
    }


# -- main ----------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory (spans, logs, outputs)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "component_duckdb_transformation_spark", "component.py")):
        _fail(f"no engine package under {ROOT}: run from the root of a checkout")
    if args.workload not in jobs.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(jobs.WORKLOADS)}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = _measure(args, work)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def _measure(args, work: str) -> dict:
    # untimed set-up: inputs from the seed, DuckDB replays
    job_list = jobs.WORKLOADS[args.workload](args.seed)
    dirs = []
    expected = []
    for job in job_list:
        d = os.path.join(work, job.name)
        job.write(d, args.seed)
        dirs.append(d)
        expected.append(oracle.duck_tables(job, d))
    main_job, main_dir = job_list[0], dirs[0]
    validate = None
    if main_job.validate_blocks:
        validate = os.path.join(work, "validate.json")
        with open(validate, "w", encoding="utf-8") as fh:
            json.dump(main_job.validate_blocks, fh)

    children = []
    ops = {"attempted": 0, "failed": 0, "unexpected": [], "known": []}

    def one(trace: bool, tag: str) -> dict:
        run_id = f"bench-{tag}{len(children)}"
        extra = ["--validate", validate] if trace and validate else []
        child = _run_child(work, run_id, dirs, trace, extra)
        for job, d, exp, defect in zip(job_list, dirs, expected, [None, *child["defects"]]):
            o = _check(job, d, exp, defect)
            for k in ("attempted", "failed"):
                ops[k] += o[k]
            ops["unexpected"] += o["unexpected"]
            ops["known"] += o["known"]
        child["work"] = _work_counters(main_job, main_dir, child)
        if not trace:
            _record(args.workload, child["job_s"])
        children.append(child)
        return child

    begin = time.time()
    if args.trace:
        base = _history(args.workload)
        if not base:
            base = [one(False, "u")["job_s"]]
        traced = one(True, "t")
        metrics = _layer_metrics(statistics.median(base), traced)
    else:
        while True:
            last = one(False, "u")
            elapsed = time.time() - begin
            if len(children) >= MAX_JOBS or elapsed + last["wall_s"] > args.seconds:
                break
        metrics = _e2e_metrics(children, ops)

    detail = {
        "workload": args.workload, "seed": args.seed, "jobs": len(children), "work_dir": work,
        "operations": {"attempted": ops["attempted"], "failed": ops["failed"]},
        "known_defects": ops["known"], "unexpected_failures": ops["unexpected"],
        "per_job": [
            {k: c[k] for k in ("setup_s", "job_s", "wall_s", "peak_rss_mb", "steal_jiffies")}
            | {"defect_s": [d["s"] for d in c["defects"]]}
            for c in children
        ],
        "work": children[-1]["work"],
    }
    if args.trace:
        trace = children[-1]["trace"]
        detail["spark_job_log"] = {
            "complete": bool(trace["spark.job_log_complete"]),
            "jobs": trace["spark.jobs"], "tracked_jobs": trace["spark.tracked_jobs"],
        }
    print(json.dumps(detail))
    unexpected = len(ops["unexpected"])
    return {
        "correct": unexpected == 0,
        "attempted": ops["attempted"],
        "failed": unexpected,
        "metrics": metrics,
    }


def _history(workload: str) -> list[float]:
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY, encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return [r["job_s"] for r in rows if r["workload"] == workload]


def _record(workload: str, job_s: float) -> None:
    with open(HISTORY, "a", encoding="utf-8") as fh:
        fh.write(json.dumps({"workload": workload, "job_s": job_s}) + "\n")


def _quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) density over their
    ranks. One job's script walls fall in clusters (the cold first
    batch, paired and lone statements), so the sample median jumps from
    one cluster to the next when a single rank moves; this estimate
    weighs the ranks around the middle and moves smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    grid = np.linspace(0.0, 1.0, 100001)
    with np.errstate(divide="ignore"):
        log_pdf = ((n + 1) / 2 - 1) * (np.log(grid) + np.log1p(-grid))
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    edges = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.diff(edges) @ x)


def _e2e_metrics(children: list[dict], ops: dict) -> dict:
    med = statistics.median
    queries = [t * 1000.0 for c in children for t in c["query_times"]]
    store = [c["store"] for c in children]
    values = {
        "setup_s": med(c["setup_s"] for c in children),
        "job_s": med(c["job_s"] for c in children),
        "query_ms_p50": _hd_median(queries),
        "query_ms_p95": _quantile(queries, 95),
        "store_write_amp": med(
            sum(c["store_writes"]) / s["live_bytes"] for c, s in zip(children, store)
        ),
        "store_space_amp": med(s["disk_bytes"] / s["live_bytes"] for s in store),
        "fail_ratio": ops["failed"] / ops["attempted"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def _layer_metrics(base_job_s: float, traced: dict) -> dict:
    m = dict(traced["trace"])
    m["table_export.rows"] = traced["work"]["work.output_rows"]
    m["table_export.bytes"] = traced["work"]["work.output_bytes"]
    m["table_store.versions_kept"] = traced["store"]["versions"]
    m["host.steal_jiffies"] = traced["steal_jiffies"]
    m["jvm.peak_rss_mb"] = traced["peak_rss_mb"]
    m["trace.overhead_ms"] = (traced["job_s"] - base_job_s) * 1000.0
    m.update(traced["work"])
    return {k: {"value": m[k], "unit": unit} for k, unit in PER_LAYER.items()}


PER_LAYER = {
    "session.build_ms": "ms",
    "table_import.calls": "count",
    "table_import.ms": "ms",
    "table_import.bytes_in": "bytes",
    "sql_validator.ms": "ms",
    "sql_validator.queries": "count",
    "orchestrator.plan_ms": "ms",
    "orchestrator.batches": "count",
    "orchestrator.batch_width_mean": "queries",
    "orchestrator.batch_ms": "ms",
    "orchestrator.idle_slot_ms": "ms",
    "dialect.translate_calls": "count",
    "dialect.translate_ms": "ms",
    "dialect.chars_in": "chars",
    "dialect.chars_out": "chars",
    "executor.hint_calls": "count",
    "executor.hint_ms": "ms",
    "executor.sql_calls": "count",
    "executor.sql_ms": "ms",
    "executor.query_ms": "ms",
    "executor.self_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "table_store.writes": "count",
    "table_store.write_ms": "ms",
    "table_store.bytes_written": "bytes",
    "table_store.versions_kept": "count",
    "table_export.calls": "count",
    "table_export.ms": "ms",
    "table_export.rows": "count",
    "table_export.bytes": "bytes",
    "unattributed_ms": "ms",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "host.steal_jiffies": "jiffies",
    "work.statements": "count",
    "work.input_rows": "count",
    "work.input_bytes": "bytes",
    "work.output_rows": "count",
    "work.output_bytes": "bytes",
}


if __name__ == "__main__":
    main()
