"""Class-data-sharing archive for the driver JVM (``driver_cds``).

The first group covers the launch rules without a JVM: the archive key,
the conf-dir redirect, the skips, training once under a lock and the
fallback when the JVM will not start with the archive. The last two
tests start real driver JVMs in fresh processes: one proves the classes
are mapped from the archive (the JVM drops a rejected archive without a
word), the other that a damaged archive still yields a working session.
"""

from __future__ import annotations

import logging
import os
import subprocess
import sys
import textwrap
import threading
import time

import pytest
from pyspark.errors import PySparkRuntimeError

from component_duckdb_transformation_spark import driver_cds, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAGIC = (0xF00BABA8).to_bytes(4, "little")
CONF = "/srv/checkout/jvm/empty-conf"


@pytest.fixture()
def fake_host(tmp_path, monkeypatch):
    """A Spark home with two jars and a templates-only conf dir, a JDK
    dir, and an archive dir under ``tmp_path``."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    jvm_dir = tmp_path / "jvm"
    jvm_dir.mkdir()
    monkeypatch.setattr(driver_cds, "spark_home", lambda: str(home))
    monkeypatch.setattr(driver_cds, "java_home", lambda: str(jdk))
    monkeypatch.setattr(driver_cds, "JVM_DIR", str(jvm_dir))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", *driver_cds._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    return home, jdk, jvm_dir


@pytest.fixture()
def trainer(monkeypatch):
    """Replace the training child: count calls, write a file that starts
    like a dynamic archive, or fail with ``trainer.error``."""

    class Trainer:
        calls = 0
        error = ""
        delay = 0.0

        def __call__(self, tmp, conf_dir, max_memory_mb):
            Trainer.calls += 1
            time.sleep(self.delay)
            if self.error:
                return self.error
            with open(tmp, "wb") as fh:
                fh.write(MAGIC + b"\0" * 60)
            return ""

    t = Trainer()
    monkeypatch.setattr(driver_cds, "_run_trainer", t)
    return t


def test_archive_key_tracks_jar_listing_and_jdk(fake_host, tmp_path):
    home, jdk, _ = fake_host
    key = driver_cds.archive_key(str(home), str(jdk), CONF)
    assert driver_cds.archive_key(str(home), str(jdk), CONF) == key

    jar = home / "jars" / "a.jar"
    st = jar.stat()
    jar.write_bytes(b"jar a.jar, rebuilt")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    resized = driver_cds.archive_key(str(home), str(jdk), CONF)
    assert resized != key

    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = driver_cds.archive_key(str(home), str(jdk), CONF)
    assert touched not in (key, resized)

    other_jdk = tmp_path / "jdk-other"
    other_jdk.mkdir()
    (other_jdk / "release").write_text((jdk / "release").read_text())
    assert driver_cds.archive_key(str(home), str(other_jdk), CONF) != touched


def test_archive_key_tracks_launch_conf_dir(fake_host, tmp_path):
    """The archive records the conf dir as its first classpath entry; a
    checkout copied or moved elsewhere launches with another conf dir
    and must not reuse an archive the JVM would reject."""
    home, jdk, _ = fake_host
    here = driver_cds.archive_key(str(home), str(jdk), str(tmp_path / "a" / "empty-conf"))
    moved = driver_cds.archive_key(str(home), str(jdk), str(tmp_path / "b" / "empty-conf"))
    assert here != moved


def test_templates_only_conf_dir_is_redirected(fake_host, monkeypatch):
    home, _, jvm_dir = fake_host
    conf_dir, reason = driver_cds.launch_conf_dir(str(home))
    assert (conf_dir, reason) == (str(jvm_dir / "empty-conf"), "")
    assert os.listdir(conf_dir) == []

    # an explicit SPARK_CONF_DIR is the effective one
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    assert driver_cds.launch_conf_dir(str(home))[0] == conf_dir


def test_real_conf_dir_is_left_alone_and_warns(fake_host, trainer, caplog):
    home, _, _ = fake_host
    (home / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    with caplog.at_level(logging.WARNING, logger=driver_cds.LOG.name):
        assert driver_cds.driver_archive(1024, {}) is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert trainer.calls == 0
    warned = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert any("spark-defaults.conf" in m for m in warned), warned


def test_missing_archive_is_trained_once_under_concurrent_launches(fake_host, trainer):
    _, _, jvm_dir = fake_host
    trainer.delay = 0.5
    results = []
    threads = [
        threading.Thread(target=lambda: results.append(driver_cds.driver_archive(1024, {})))
        for _ in range(2 * (os.cpu_count() or 1))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(results) == len(threads)
    assert trainer.calls == 1
    assert len({r.path for r in results}) == 1
    archive = results[0]
    assert archive.conf_dir == str(jvm_dir / "empty-conf")
    assert archive.java_option == f"-XX:SharedArchiveFile={archive.path}"
    assert sorted(os.listdir(jvm_dir)) == sorted(
        [os.path.basename(archive.path), "driver-cds.lock", "empty-conf"]
    )
    # later launches use it as is
    assert driver_cds.driver_archive(1024, {}) == archive
    assert trainer.calls == 1


def test_corrupt_archive_is_discarded_and_retrained(fake_host, trainer, caplog):
    home, jdk, jvm_dir = fake_host
    key = driver_cds.archive_key(str(home), str(jdk), str(jvm_dir / "empty-conf"))
    path = jvm_dir / f"driver-{key}.jsa"
    path.write_bytes(b"not an archive")
    with caplog.at_level(logging.WARNING, logger=driver_cds.LOG.name):
        archive = driver_cds.driver_archive(1024, {})
    assert archive.path == str(path)
    assert path.read_bytes().startswith(MAGIC)
    assert trainer.calls == 1
    assert any("not a JDK dynamic archive" in r.getMessage() for r in caplog.records)


def test_failed_training_warns_and_is_not_retried(fake_host, trainer, caplog):
    trainer.error = "trainer exited with 1"
    with caplog.at_level(logging.WARNING, logger=driver_cds.LOG.name):
        assert driver_cds.driver_archive(1024, {}) is None
        assert driver_cds.driver_archive(1024, {}) is None
    assert trainer.calls == 1
    messages = [r.getMessage() for r in caplog.records]
    assert any("training failed: trainer exited with 1" in m for m in messages), messages
    assert any("delete it to retry" in m for m in messages), messages


def test_unwritable_archive_dir_skips_with_warning(fake_host, trainer, monkeypatch, caplog):
    _, _, jvm_dir = fake_host
    blocker = jvm_dir / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setattr(driver_cds, "JVM_DIR", str(blocker / "jvm"))
    with caplog.at_level(logging.WARNING, logger=driver_cds.LOG.name):
        assert driver_cds.driver_archive(1024, {}) is None
    assert trainer.calls == 0
    assert any("skipped: cannot create" in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize(
    "env, conf",
    [
        ({"HADOOP_CONF_DIR": "/etc/hadoop"}, {}),
        ({}, {"spark.driver.extraClassPath": "/x.jar"}),
        ({"PYSPARK_SUBMIT_ARGS": "--driver-class-path /x.jar pyspark-shell"}, {}),
        ({"PYSPARK_GATEWAY_PORT": "1234"}, {}),
    ],
)
def test_launches_the_archive_cannot_cover_are_skipped(fake_host, trainer, monkeypatch, caplog, env, conf):
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    with caplog.at_level(logging.WARNING, logger=driver_cds.LOG.name):
        assert driver_cds.driver_archive(1024, conf) is None
    assert trainer.calls == 0
    assert any("skipped" in r.getMessage() for r in caplog.records)


class _Builder:
    """Stands in for ``SparkSession.Builder``: records each launch and
    fails the ones that carry the archive option."""

    def __init__(self):
        self.options, self.launches = {}, []

    def config(self, key, value):
        self.options[key] = value
        return self

    def getOrCreate(self):
        opts = self.options.get("spark.driver.extraJavaOptions", "")
        self.launches.append((opts, os.environ.get("SPARK_CONF_DIR")))
        if "SharedArchiveFile" in opts:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return "session"


def test_jvm_that_will_not_start_with_archive_is_relaunched_without_it(fake_host, trainer, caplog):
    _, _, jvm_dir = fake_host
    builder = _Builder()
    with caplog.at_level(logging.WARNING, logger=session.LOG.name):
        spark = session._launch(builder, 1024, {"spark.driver.extraJavaOptions": "-Dx=1"})
    assert spark == "session"
    (first, conf_dir), (second, after) = builder.launches
    assert first.startswith("-Dx=1 -XX:SharedArchiveFile=")
    assert conf_dir == str(jvm_dir / "empty-conf")
    assert (second, after) == ("-Dx=1", None)
    assert not any(n.endswith(".jsa") for n in os.listdir(jvm_dir))
    assert any("launching without it" in r.getMessage() for r in caplog.records)
    # the next launch neither trains again nor uses an archive
    assert driver_cds.driver_archive(1024, {}) is None
    assert trainer.calls == 1


# -- real driver JVMs ----------------------------------------------------------

def _run(script: str, cwd) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_driver_classes_are_mapped_from_the_archive(tmp_path):
    log = tmp_path / "class-load.log"
    proc = _run(
        f"""
        from component_duckdb_transformation_spark.session import build_spark_session
        spark = build_spark_session(
            threads=2, max_memory_mb=1024,
            extra_conf={{"spark.driver.extraJavaOptions": "-Xlog:class+load:file={log}"}},
        )
        assert spark.sql("SELECT count(*) FROM range(10)").collect()[0][0] == 10
        """,
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    loaded = log.read_text()
    for cls in (
        "org.apache.spark.SparkContext",
        "org.apache.spark.sql.catalyst.analysis.Analyzer",
    ):
        assert f"{cls} source: shared objects file (top)" in loaded, (cls, proc.stderr[-3000:])


def test_damaged_archive_still_yields_a_working_session(tmp_path):
    proc = _run(
        f"""
        import logging, os
        logging.basicConfig(level=logging.WARNING)
        from component_duckdb_transformation_spark import driver_cds
        from component_duckdb_transformation_spark.session import build_spark_session
        good = driver_cds.driver_archive(1024, {{}}).path
        driver_cds.JVM_DIR = {str(tmp_path / "jvm")!r}
        os.makedirs(driver_cds.JVM_DIR)
        # the key covers the conf dir, which moved with JVM_DIR
        home = driver_cds.spark_home()
        conf_dir, _ = driver_cds.launch_conf_dir(home)
        key = driver_cds.archive_key(home, driver_cds.java_home(), conf_dir)
        damaged = os.path.join(driver_cds.JVM_DIR, f"driver-{{key}}.jsa")
        with open(good, "rb") as src, open(damaged, "wb") as dst:
            dst.write(src.read(os.path.getsize(good) // 3))
        spark = build_spark_session(threads=2, max_memory_mb=1024)
        print("rows", spark.sql("SELECT count(*) FROM range(10)").collect()[0][0])
        print("left", os.path.exists(damaged))
        """,
        tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 10" in proc.stdout and "left False" in proc.stdout, proc.stdout[-2000:]
    assert "launching without it" in proc.stderr
