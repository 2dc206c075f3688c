"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one that
matters on a real multi-executor cluster too: AQE for runtime re-planning and
skew-join splitting, Arrow for the pandas-UDF boundary, partition counts
sized to cores rather than the 200 default.

When ``get_spark`` launches the driver JVM itself, that JVM starts from a
per-host AppCDS archive (JDK 17 dynamic class-data sharing): Spark's ~10k
classes from its jars are mapped pre-parsed and pre-verified instead of
being loaded anew by every app. On a 4-core VM that cut the CPU of a
session's start (perfbench ``setup_s``) from ~18.3 to ~12.5–13.0 s.

* **Where.** ``${XDG_CACHE_HOME:-~/.cache}/amharic_ecommerce_kg/cds/<key>.jsa``.
  The key hashes the Java runtime, Spark's jars (name, size, mtime), the
  driver heap and ``PYSPARK_SUBMIT_ARGS`` when it is set: a heap of 32g or
  more turns off compressed oops, and the JVM refuses an archive dumped
  with another heap mode or classpath. An archive is 150–180 MB; the app
  that builds one for a new key deletes the older ones.
* **The first app pays.** With no archive, the app that takes the cache's
  dump lock runs its JVM with ``-XX:ArchiveClassesAtExit``. At interpreter
  exit it closes the gateway's stdin, waits for the JVM's dump (15 s of
  wall time and 17 CPU-s after a 5k build on 4 cores; the dumping JVM
  also uses more CPU while it starts) and moves the archive into place with
  ``os.replace``, only if the JVM exited 0 and ``java -Xshare:on`` maps
  the archive with the driver's classpath. A killed dump is never
  published; the next app that takes the lock deletes what it left.
* **Skipped** — the JVM starts exactly as it would without this code —
  when a JVM already runs (a live SparkContext in this process, or
  spark-submit / ``PYSPARK_GATEWAY_PORT``), when the conf dir
  (``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds any file but
  ``*.template`` ones or other directories join the classpath
  (``spark.driver.extraClassPath``, Hadoop/YARN conf dirs; CDS refuses a
  classpath with a non-empty directory), when the cache dir
  cannot be written, and while another app holds the dump lock. A
  template-only conf dir is swapped for an empty one beside the archive
  for the launch; Spark reads nothing from template files, so its
  settings do not change. A stale archive only makes the JVM start
  without sharing, and a JVM that fails to start with the archive flags
  is started again without them.

The flags go in ``spark.driver.defaultJavaOptions`` (ahead of any the
caller passes there), so a caller's ``spark.driver.extraJavaOptions``
still applies. ``-Xlog:cds*=off`` keeps CDS warnings off the app's
stdout. No JIT or compiler flag is set.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import subprocess
import warnings

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# rows per Arrow batch handed to a Python UDF (arrow.maxRecordsPerBatch)
ARROW_BATCH_ROWS = 10_000


def get_spark(
    app_name: str = "amharic_ecommerce_kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # smaller scan splits: the 128MB default collapses mid-size tables
        # into fewer partitions than cores, serializing scan-side stages
        # (AQE coalescing re-merges when they are genuinely tiny)
        "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        # AQE coalesces shuffle outputs by BYTES (floor = minPartitionSize,
        # default 1MB), which is the wrong cost model for this engine's
        # CPU-dense text stages: a window/groupBy output of 10k documents is
        # <1MB compressed, so the default collapses it to ONE partition and
        # the downstream per-k-gram/minhash projection runs on one core
        # (measured: the curation audit's minhash stage 9.9s -> 1.3s with a
        # 16KB floor, 32 partitions). At scale the parallelismFirst target
        # (total bytes / default parallelism) dominates this floor, so large
        # shuffles coalesce exactly as before; the only cost is a few extra
        # ~ms tasks on genuinely tiny stages.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    }
    # shuffle/spill to tmpfs when available: local-mode shuffles are
    # disk-bound on container filesystems
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        conf["spark.local.dir"] = local_dir
    conf.update(extra_conf or {})

    def start(conf: dict[str, str]) -> SparkSession:
        return (SparkSession.builder.master(f"local[{cores}]").appName(app_name)
                .config(map=conf).getOrCreate())

    cds = _cds_plan(conf)
    spark = None
    if cds is not None:
        try:
            spark = _start_with_cds(start, conf, *cds)
        except Exception as e:
            if SparkContext._gateway is not None:  # the JVM runs: not a start failure
                raise
            warnings.warn(f"driver JVM did not start with AppCDS flags ({e!r}); "
                          "starting it without them", RuntimeWarning)
    if spark is None:
        spark = start(conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cds_key(spark_home: str, driver_memory: str) -> str:
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("java")
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(f"{jdk}\0{driver_memory}".encode())
    # extra jars or options in the launch change the driver's classpath, and
    # the JVM refuses an archive dumped with another one
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if submit_args is not None:
        h.update(f"\0{submit_args}".encode())
    for path in [os.path.join(jdk, "lib", "modules")] + sorted(
            os.path.join(jars, name) for name in os.listdir(jars)):
        st = os.stat(path)
        h.update(f"\0{os.path.basename(path)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _cds_plan(conf: dict[str, str]):
    """(JVM options, conf dir for the launch, dump) of an AppCDS start with
    the session conf ``conf``, or None to start as without it. dump is None
    when the archive exists, else (lock fd, tmp path, archive path) of the
    dump this app makes at exit."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    # classpath entries that may be non-empty directories: a dump fails on
    # them, at start or at exit
    if conf.get("spark.driver.extraClassPath") or any(
            os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                        "SPARK_DIST_CLASSPATH")):
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and not all(
                name.endswith(".template") for name in os.listdir(conf_dir)):
            return None
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                             "amharic_ecommerce_kg", "cds")
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        archive = os.path.join(cache, _cds_key(spark_home, conf["spark.driver.memory"]) + ".jsa")
        if os.path.isfile(archive):
            return ["-Xlog:cds*=off", f"-XX:SharedArchiveFile={archive}"], empty_conf, None
        lock = os.open(os.path.join(cache, "dump.lock"), os.O_WRONLY | os.O_CREAT, 0o644)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            # no other app dumps now: every other file is an older key's
            # archive or what a killed dump left
            for name in set(os.listdir(cache)) - {"conf", "dump.lock"}:
                os.remove(os.path.join(cache, name))
        except OSError:
            os.close(lock)
            return None
        tmp = f"{archive}.{os.getpid()}.tmp"
        return (["-Xlog:cds*=off", f"-XX:ArchiveClassesAtExit={tmp}"], empty_conf,
                (lock, tmp, archive))
    except OSError:
        return None


def _start_with_cds(start, conf: dict[str, str], options: list[str], conf_dir: str, dump):
    java_opts = " ".join([*options, conf.get("spark.driver.defaultJavaOptions", "")])
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = start({**conf, "spark.driver.defaultJavaOptions": java_opts.strip()})
    except BaseException:
        if dump is not None:
            os.close(dump[0])
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is not None:
        proc = spark.sparkContext._gateway.proc
        try:  # the driver's java and classpath, for the check before publishing
            with open(f"/proc/{proc.pid}/cmdline", "rb") as f:
                argv = [a.decode() for a in f.read().split(b"\0")[:-1]]
        except OSError:
            argv = []
        atexit.register(_publish_dump, proc, argv, *dump)
    return spark


def _publish_dump(proc, argv: list[str], lock: int, tmp: str, archive: str) -> None:
    """At interpreter exit: end the dumping JVM, then move its archive into
    place if the JVM exited 0 and ``java -Xshare:on`` maps it. A partial
    archive is never at the final path: mapping a truncated one crashed
    ``java -version`` with SIGBUS."""
    try:
        proc.stdin.close()  # the gateway exits on EOF; the JVM dumps on its way out
        try:
            rc = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        if rc == 0 and _archive_maps(argv, tmp):
            os.replace(tmp, archive)
    except (OSError, ValueError, subprocess.SubprocessError):
        pass  # nothing is published; the next app without an archive dumps again
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
        os.close(lock)


def _archive_maps(argv: list[str], archive: str) -> bool:
    """A dynamic archive is only mapped with the classpath and heap (oop
    encoding) it was dumped with: check it with the driver's own."""
    cp = argv[argv.index("-cp") + 1]
    heap = [a for a in argv if a.startswith("-Xmx")]
    check = subprocess.run(
        [argv[0], "-Xshare:on", f"-XX:SharedArchiveFile={archive}", *heap, "-cp", cp, "-version"],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    return check.returncode == 0
