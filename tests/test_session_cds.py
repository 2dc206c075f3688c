"""The driver JVM's AppCDS archive (session.get_spark): built by the first
app, published only whole, used by the next app, and skipped where it
cannot apply. Each app is a fresh process with its own XDG_CACHE_HOME;
the module launches four JVMs in all."""

import fcntl
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

import pytest

from amharic_ecommerce_data_extractor_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one job, then the driver JVM's command line and environment as the last
# stdout line
APP = r"""
import json, os
from amharic_ecommerce_data_extractor_spark.session import get_spark

spark = get_spark(cores=1, extra_conf={"spark.driver.extraJavaOptions": "-Dcds.test=1"})
total = spark.range(100).selectExpr("sum(id) AS s").collect()[0]["s"]
pid = spark.sparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline", "rb") as f:
    argv = [a.decode() for a in f.read().split(b"\0") if a]
with open(f"/proc/{pid}/environ", "rb") as f:
    env = dict(kv.decode().split("=", 1) for kv in f.read().split(b"\0") if b"=" in kv)
spark.stop()
print(json.dumps({"sum": total, "jvm": pid, "argv": argv,
                  "jvm_conf_dir": env.get("SPARK_CONF_DIR"),
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}), flush=True)
"""

HEAP_16G, HEAP_32G = {"spark.driver.memory": "16g"}, {"spark.driver.memory": "32g"}

pytestmark = pytest.mark.slow


def _env(tmp_path, conf_files):
    """The apps' environment: a fresh cache and a conf dir holding
    ``conf_files``, with no running JVM or extra classpath inherited."""
    conf = tmp_path / "conf"
    conf.mkdir()
    for name in conf_files:
        (conf / name).write_text("spark.ui.enabled false\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                        "SPARK_DIST_CLASSPATH")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               PYTHONPATH=REPO)
    return env


def _run(env):
    out = subprocess.run([sys.executable, "-c", APP], env=env, capture_output=True,
                         text=True, timeout=300, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["sum"] == 4950
    return res


def _jvm_opts(argv):
    """The JVM's own options: those before the main class."""
    return argv[:argv.index("org.apache.spark.deploy.SparkSubmit")]


def _flags(argv):
    return [a for a in _jvm_opts(argv) if "Archive" in a or a.startswith("-Xlog:cds")]


def test_archive_life_cycle(tmp_path):
    env = _env(tmp_path, ["spark-defaults.conf.template"])
    cds = tmp_path / "cache" / "amharic_ecommerce_kg" / "cds"

    # a dump whose JVM is SIGKILLed while it writes is never published
    app = subprocess.Popen([sys.executable, "-c", APP], env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, cwd=REPO)
    first = next(json.loads(line) for line in app.stdout if line.startswith("{"))
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["argv"])
    deadline = time.monotonic() + 120
    while not glob.glob(str(cds / "*.tmp")) and time.monotonic() < deadline:
        time.sleep(0.01)
    assert glob.glob(str(cds / "*.tmp")), "the dump never started"
    os.kill(first["jvm"], signal.SIGKILL)
    assert app.wait(timeout=120) == 0
    assert sorted(os.listdir(cds)) == ["conf", "dump.lock"]

    # the next app still starts, runs its job and publishes the archive;
    # the CDS flags print nothing after the app's own last line
    built = _run(env)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in built["argv"])
    archives = glob.glob(str(cds / "*.jsa"))
    assert len(archives) == 1 and not glob.glob(str(cds / "*.tmp"))

    # the app after it maps the archive, keeps the caller's options and
    # leaves the caller's SPARK_CONF_DIR as it was
    used = _run(env)
    assert _flags(used["argv"]) == ["-Xlog:cds*=off", f"-XX:SharedArchiveFile={archives[0]}"]
    assert "-Dcds.test=1" in _jvm_opts(used["argv"])
    assert used["jvm_conf_dir"] == str(cds / "conf")
    assert used["conf_dir"] == env["SPARK_CONF_DIR"]
    assert not any("Tiered" in a or "Compil" in a for a in _jvm_opts(used["argv"]))


def test_conf_dir_with_a_real_file_skips_cds(tmp_path):
    env = _env(tmp_path, ["spark-defaults.conf"])
    res = _run(env)
    assert _flags(res["argv"]) == []
    assert res["jvm_conf_dir"] == res["conf_dir"] == env["SPARK_CONF_DIR"]
    assert not (tmp_path / "cache").exists()


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """_cds_plan's view of a process with no JVM yet and a template-only
    conf dir."""
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    for var in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path / "cache" / "amharic_ecommerce_kg" / "cds"


def test_running_jvm_skips_cds(no_jvm, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._cds_plan(HEAP_16G) is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    assert session._cds_plan(HEAP_16G) is None


def test_classpath_directories_skip_cds(no_jvm, monkeypatch):
    assert session._cds_plan({**HEAP_16G, "spark.driver.extraClassPath": "/opt/x"}) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", "/etc/hadoop")
    assert session._cds_plan(HEAP_16G) is None


def test_unwritable_cache_skips_cds(no_jvm, monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    assert session._cds_plan(HEAP_16G) is None


def test_one_dump_at_a_time_and_old_keys_deleted(no_jvm):
    no_jvm.mkdir(parents=True)
    (no_jvm / "0123456789abcdef.jsa").write_text("older key")
    lock = os.open(no_jvm / "dump.lock", os.O_WRONLY | os.O_CREAT)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        assert session._cds_plan(HEAP_16G) is None  # another app dumps
        assert (no_jvm / "0123456789abcdef.jsa").exists()
    finally:
        os.close(lock)
    options, conf_dir, (dump_lock, tmp, archive) = session._cds_plan(HEAP_16G)
    try:
        assert options == ["-Xlog:cds*=off", f"-XX:ArchiveClassesAtExit={tmp}"]
        assert conf_dir == str(no_jvm / "conf") and not os.listdir(conf_dir)
        assert sorted(os.listdir(no_jvm)) == ["conf", "dump.lock"]
        # the heap is part of the key: 32g and up turns off compressed oops
        assert session._cds_plan(HEAP_32G) is None  # this app holds the lock
    finally:
        os.close(dump_lock)
    options, _, dump = session._cds_plan(HEAP_32G)
    os.close(dump[0])
    assert dump[2] != archive


def test_key_covers_submit_args_only_when_set(monkeypatch, tmp_path):
    """Extra jars in PYSPARK_SUBMIT_ARGS change the driver's classpath, so
    the launch arguments are part of the key when set; unset, the key is
    the one the archives already on disk were dumped under."""
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "lib").mkdir()
    (spark_home / "jars").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    files = [(jdk / "lib" / "modules", 7), (spark_home / "jars" / "a.jar", 5),
             (spark_home / "jars" / "b.jar", 3)]
    for i, (path, size) in enumerate(files):
        path.write_bytes(b"x" * size)
        os.utime(path, ns=(0, (i + 1) * 10**9))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)

    unset = session._cds_key(str(spark_home), "16g")
    want = hashlib.sha256(f"{os.path.realpath(jdk)}\0" "16g".encode())
    for path, size in files:
        want.update(f"\0{path.name}\0{size}\0{os.stat(path).st_mtime_ns}".encode())
    assert unset == want.hexdigest()[:16]

    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--jars /opt/extra.jar pyspark-shell")
    with_jar = session._cds_key(str(spark_home), "16g")
    assert with_jar != unset
    assert session._cds_key(str(spark_home), "16g") == with_jar
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    assert session._cds_key(str(spark_home), "16g") not in (unset, with_jar)
