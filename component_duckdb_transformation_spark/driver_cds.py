"""Class-data-sharing (AppCDS) archive for the Spark driver JVM.

Every Keboola job is a fresh process that launches a driver JVM, and
most of its ~10 s start-up is class loading: ``getOrCreate`` and the
first query load some ten thousand classes from ~290 jars. JDK 17's
dynamic AppCDS maps those classes from an archive that a trained JVM
wrote at exit, which roughly halves the launch.

- **Where.** ``jvm/driver-<key>.jsa``, next to ``duckspark.jar``
  (gitignored). The key hashes the JDK, the launch conf dir's path and
  the listing (name, size, mtime) of ``$SPARK_HOME/jars``, so upgrading
  either, or moving the checkout, trains a new one.
- **Training.** When the archive is missing, the first launch trains it
  once in a child process (``python -m`` this module): the child builds
  an engine session with ``-XX:ArchiveClassesAtExit``, runs a small
  fixed ``Component`` job (parquet and CSV in and out, a join, a
  group-by, a window, DECIMAL sums, UPDATE, DELETE, a pandas UDF), stops the
  session and waits for the JVM to exit and write the archive. The
  parent moves it into place under a file lock; concurrent first
  launches wait on the lock and then use it.
- **Failures.** A failed training, or an archive the JVM would not start
  with (the launch then falls back to no archive), leaves a ``.failed``
  note with its reason next to where the archive would be, so later
  launches skip CDS rather than pay for it again; delete the note to
  retry.
- **Conf dir.** The launcher puts ``SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) first on the classpath, and JDK 17 refuses a
  non-empty directory there: the dump fails, and at run time the
  archive is dropped without a word. When that directory holds nothing
  but ``*.template`` files, the launch points ``SPARK_CONF_DIR`` at an
  empty engine-owned directory instead; otherwise CDS is skipped.

Every skip and every training failure logs a WARNING with its reason,
and the driver then launches as it would without an archive.
"""

from __future__ import annotations

import contextlib
import csv
import fcntl
import glob
import hashlib
import json
import logging
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from typing import Iterator, Mapping

LOG = logging.getLogger(__name__)

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
JVM_DIR = os.path.join(_PACKAGE_DIR, "jvm")
#: first four bytes of a JDK 17 dynamic archive (0xf00baba8, little-endian)
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, "little")
#: training is warm-up (~25 s) plus the dump at JVM exit (~17 s)
TRAIN_TIMEOUT_S = 100
#: environment and conf that put entries on the driver classpath besides
#: the conf dir and ``$SPARK_HOME/jars`` (Spark's AbstractCommandBuilder)
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_PREPEND_CLASSES")
_CLASSPATH_SUBMIT_ARGS = ("--driver-class-path", "spark.driver.extraClassPath")


@dataclass(frozen=True)
class DriverArchive:
    """A trained archive and the conf dir the driver must launch with."""

    path: str
    conf_dir: str

    @property
    def java_option(self) -> str:
        return f"-XX:SharedArchiveFile={self.path}"

    @contextlib.contextmanager
    def launch_env(self) -> Iterator[None]:
        """Point ``SPARK_CONF_DIR`` at the archive's conf dir while the
        gateway is launched (pyspark copies ``os.environ`` then)."""
        before = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if before is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = before

    def reject(self, reason: str) -> None:
        """Remove an archive the JVM would not start with and keep the
        reason, so later launches skip CDS instead of training again."""
        _discard(self.path)
        _note_failure(self.path, reason)


def java_home() -> str:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else the one owning
    ``java`` on PATH ('' when there is none)."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def archive_key(spark_home_dir: str, jdk: str, conf_dir: str) -> str:
    """Hash of the JDK (path and ``release`` file) and of the driver
    classpath: the launch conf dir and the jars dir (paths and jar
    listing). The archive records the classpath's absolute paths and the
    JVM rejects it, without a warning, when they differ, so a moved or
    copied checkout gets a key of its own. Raises OSError when there is
    no jars dir."""
    h = hashlib.sha256(jdk.encode())
    with contextlib.suppress(OSError), open(os.path.join(jdk, "release"), "rb") as fh:
        h.update(fh.read())
    jars = os.path.join(spark_home_dir, "jars")
    h.update(f"\n{conf_dir}\0{jars}".encode())
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\n{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def launch_conf_dir(spark_home_dir: str) -> tuple[str | None, str]:
    """``(conf_dir, '')`` to launch with, or ``(None, reason)`` when the
    effective conf dir holds real configuration the redirect would hide."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home_dir, "conf")
    entries = os.listdir(conf) if os.path.isdir(conf) else []
    real = sorted(e for e in entries if not e.endswith(".template"))
    if real:
        return None, (
            f"Spark conf dir {conf} holds {', '.join(real[:3])}; the JVM cannot "
            "share classes with a non-empty directory on the classpath"
        )
    empty = os.path.join(JVM_DIR, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None, f"{empty} must be empty"
    except OSError as exc:
        return None, f"cannot create {empty}: {exc}"
    return empty, ""


def _classpath_blocker(extra_conf: Mapping[str, str]) -> str:
    """Why this launch cannot use an archive, or ''."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return "the driver JVM was launched outside this process (PYSPARK_GATEWAY_PORT)"
    for var in _CLASSPATH_ENV:
        if os.environ.get(var):
            return f"{var} adds driver classpath entries the archive does not cover"
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "spark.driver.extraClassPath" in extra_conf or any(a in submit for a in _CLASSPATH_SUBMIT_ARGS):
        return "an extra driver classpath is set; the archive does not cover it"
    return ""


def _usable(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return fh.read(4) == _DYNAMIC_MAGIC
    except OSError:
        return False


def _discard(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _failure_note(path: str) -> str:
    return path[: -len(".jsa")] + ".failed"


def _note_failure(path: str, reason: str) -> None:
    with contextlib.suppress(OSError), open(_failure_note(path), "w", encoding="utf-8") as fh:
        fh.write(reason + "\n")


def driver_archive(max_memory_mb: int, extra_conf: Mapping[str, str]) -> DriverArchive | None:
    """The archive for a fresh driver launch, trained first when missing,
    or None (after a WARNING) when this launch cannot use one."""
    reason = _classpath_blocker(extra_conf)
    home = spark_home()
    if not reason:
        conf_dir, reason = launch_conf_dir(home)
    if not reason:
        try:
            key = archive_key(home, java_home(), conf_dir)
        except OSError as exc:
            reason = f"cannot list the driver jars: {exc}"
    if reason:
        LOG.warning("Driver class-data sharing skipped: %s", reason)
        return None
    path = os.path.join(JVM_DIR, f"driver-{key}.jsa")
    if os.path.exists(path) and not _usable(path):
        LOG.warning("Driver CDS archive %s is not a JDK dynamic archive; discarding it", path)
        _discard(path)
    if not _usable(path) and not _train_once(path, conf_dir, max_memory_mb):
        return None
    return DriverArchive(path, conf_dir)


def _train_once(path: str, conf_dir: str, max_memory_mb: int) -> bool:
    """Train ``path`` unless a concurrent launch did, under a file lock."""
    jvm_dir = os.path.dirname(path)
    failed = _failure_note(path)
    try:
        lock = open(os.path.join(jvm_dir, "driver-cds.lock"), "a")
    except OSError as exc:
        LOG.warning("Driver class-data sharing skipped: cannot lock %s: %s", jvm_dir, exc)
        return False
    with lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _usable(path):
            return True
        if os.path.exists(failed):
            LOG.warning(
                "Driver class-data sharing skipped: it failed before (see %s; "
                "delete it to retry)", failed,
            )
            return False
        tmp = f"{path[: -len('.jsa')]}.{os.getpid()}.tmp.jsa"
        LOG.info("Training the driver CDS archive %s (once per JDK and jar set)", path)
        t0 = time.monotonic()
        error = _run_trainer(tmp, conf_dir, max_memory_mb)
        if error:
            _discard(tmp)
            LOG.warning("Driver CDS archive training failed: %s", error)
            _note_failure(path, error)
            return False
        os.replace(tmp, path)
        # archives of other keys, their failure notes, and partial dumps
        # of trainers whose launching process died (none can be running:
        # this process holds the lock)
        for stale in glob.glob(os.path.join(jvm_dir, "driver-*")):
            if stale != path and not stale.endswith(".lock"):
                _discard(stale)
        LOG.info(
            "Trained the driver CDS archive %s (%.0f MiB) in %.1f s",
            path, os.path.getsize(path) / 2**20, time.monotonic() - t0,
        )
        return True


def _run_trainer(tmp: str, conf_dir: str, max_memory_mb: int) -> str:
    """Run the training child; '' on success, else the reason."""
    work = tempfile.mkdtemp(prefix="cdts-cds-")
    env = dict(os.environ, SPARK_CONF_DIR=conf_dir)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(_PACKAGE_DIR), env.get("PYTHONPATH")) if p
    )
    log_path = os.path.join(work, "train.log")
    cmd = [sys.executable, "-m", __name__, tmp, str(max_memory_mb), work]
    try:
        with open(log_path, "w", encoding="utf-8") as log:
            # own process group, so a timeout can kill the child's JVM and
            # Python workers too; the stdin pipe tells the child when this
            # process has died (see _train)
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=TRAIN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            proc.stdin.close()
        if code is None:
            return f"timed out after {TRAIN_TIMEOUT_S} s"
        if code != 0 or not _usable(tmp):
            with open(log_path, encoding="utf-8", errors="replace") as fh:
                tail = fh.read()[-1500:]
            return f"trainer exited with {code}:\n{tail}"
        return ""
    except OSError as exc:
        return str(exc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# -- the training child --------------------------------------------------------

_WARM_UP_SQL = [
    "CREATE TABLE joined AS SELECT f.k, d.label, SUM(f.amount) AS total, COUNT(*) AS n, "
    "jaro_winkler_similarity(d.label, 'g1') AS sim "
    "FROM facts f JOIN dims d ON f.k = d.k GROUP BY f.k, d.label",
    "CREATE TABLE ranked AS SELECT id, k, amount, "
    "ROW_NUMBER() OVER (PARTITION BY k ORDER BY amount DESC, id) AS rn, "
    "SUM(amount) OVER (PARTITION BY k ORDER BY id) AS running FROM facts",
    "UPDATE joined SET total = total * 2 WHERE k < 5",
    "DELETE FROM ranked WHERE rn > 100",
]


def _write_warm_up_job(data_dir: str) -> None:
    """A Keboola data dir: a parquet and a CSV input, one block of
    ``_WARM_UP_SQL`` and CSV exports of both results."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = os.path.join(data_dir, "in", "tables")
    os.makedirs(os.path.join(tables, "facts"))
    os.makedirs(os.path.join(data_dir, "out", "tables"))
    facts = pa.table({
        "id": pa.array(range(2000), pa.int64()),
        "k": pa.array([i % 13 for i in range(2000)], pa.int64()),
        "amount": pa.array([decimal.Decimal(i) / 4 for i in range(2000)], pa.decimal128(18, 2)),
    })
    pq.write_table(facts, os.path.join(tables, "facts", "part-0001.parquet"))
    with open(os.path.join(tables, "dims.csv"), "w", newline="", encoding="utf-8") as fh:
        writer = csv.writer(fh, quoting=csv.QUOTE_ALL)
        writer.writerow(["k", "label"])
        writer.writerows([k, f"g{k}"] for k in range(13))
    for name, cols in (("facts", facts.column_names), ("dims.csv", ["k", "label"])):
        with open(os.path.join(tables, name + ".manifest"), "w", encoding="utf-8") as fh:
            json.dump({"id": f"in.c-warm.{name}", "columns": cols}, fh)
    config = {
        "parameters": {
            "blocks": [{"name": "warm-up", "codes": [{"name": "warm-up", "script": _WARM_UP_SQL}]}],
            "threads": 2,
            "syntax_check_on_startup": False,
        },
        "storage": {
            "input": {"tables": [
                {"source": "in.c-warm.facts", "destination": "facts", "file_type": "parquet"},
                {"source": "in.c-warm.dims.csv", "destination": "dims"},
            ]},
            "output": {"tables": [
                {"source": t, "destination": f"out.c-warm.{t}"} for t in ("joined", "ranked")
            ]},
        },
    }
    with open(os.path.join(data_dir, "config.json"), "w", encoding="utf-8") as fh:
        json.dump(config, fh)


def _train(archive: str, max_memory_mb: int, work: str) -> int:
    """Build an engine session that dumps ``archive`` at JVM exit, run
    the warm-up job, then stop the JVM and wait for the dump."""
    from pyspark import SparkContext

    from .component import Component
    from .session import engine_builder, finish_engine_session

    def exit_with_parent():
        # the raw fd: a daemon thread blocked in sys.stdin would abort
        # interpreter shutdown
        while os.read(0, 4096):
            pass
        # EOF: the launching process has died
        shutil.rmtree(work, ignore_errors=True)
        os.killpg(0, signal.SIGKILL)

    threading.Thread(target=exit_with_parent, daemon=True).start()

    builder = engine_builder(
        app_name="cdts-cds-train",
        threads=2,
        max_memory_mb=max_memory_mb,
        # the dump warns once per class it skips; keep its errors only
        extra_conf={"spark.driver.extraJavaOptions": f"-XX:ArchiveClassesAtExit={archive} -Xlog:cds*=error"},
    )
    spark = finish_engine_session(builder.getOrCreate())
    data_dir = os.path.join(work, "job")
    _write_warm_up_job(data_dir)
    Component(data_dir, spark=spark).run()
    gateway = SparkContext._gateway
    spark.stop()
    # the gateway JVM exits on EOF on its stdin; the archive is written then
    gateway.proc.stdin.close()
    gateway.proc.wait()
    return 0 if _usable(archive) else 1


if __name__ == "__main__":
    logging.basicConfig(level=logging.WARNING)
    sys.exit(_train(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
