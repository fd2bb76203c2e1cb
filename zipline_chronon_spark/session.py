"""SparkSession factory tuned for the PIT feature-engine workload.

Scale stance (100 TB / 1000-executor design point, tested on local[N]):
 - AQE on (runtime coalesce + skew-join splitting),
 - Arrow on (every custom operator runs through ``mapInArrow``),
 - UTC session timezone for deterministic timestamp <-> epoch math,
 - shuffle partitions sized by env (driver sets cluster-appropriate value),
 - codegen cache sized to the engine's working set (below),
 - driver JIT thresholds raised (below),
 - driver classes mapped from a class-data-sharing archive (below).

Codegen cache. Whole-stage codegen turns each plan into Java source that
Janino compiles and the JVM then JIT-compiles; Spark caches the compiled
class per source in an LRU of ``spark.sql.codegen.cache.maxEntries``
entries, default 100. One long-lived driver runs far more distinct
sources than that: the eight ``driver_suite`` benchmark queries generate
about 195, the 33 ``__spark_entry__`` driver queries about 432 at sf0.01.
With 100 entries the LRU misses on every one of them on every pass, and
recompiling (Janino plus the JIT threads) becomes the JVM's largest CPU
user. ``CODEGEN_CACHE_ENTRIES`` (2048, about 4.7x the 432) keeps each
class compiled once per session; ``extra`` can still override it. Class
names leave out the whole-stage codegen stage id
(``spark.sql.codegen.useIdInClassName``), so the same stage code at a
different position in a plan, or after AQE renumbers a re-planned query,
hits the cache too (the eight queries' 195 sources become about 180).

The cache size is a static conf: Spark reads it once per JVM, from the
session that generates the first class. ``getOrCreate()`` on an
already-running SparkContext cannot apply it, so the first session in a
process must come from ``get_spark``.

JIT thresholds. Once the codegen cache holds, most of the driver JVM's CPU
goes to the C2 compiler: 59-70 s of a 138-171 s ``driver_suite`` benchmark
run on a 4-core host, 35-42 s of 95-116 s in ``transcript_backfill``. It
compiled about 4,300 times over 3,600 distinct methods at a steady
370-650 compiles per 5 s, about a thousand of them in
``org.apache.spark.sql``: the breadth of Spark's briefly warm planning code
(Catalyst, AQE re-planning, the Janino front end), not a deoptimization
loop. ``-XX:CompileThresholdScaling=JIT_THRESHOLD_SCALING`` (4) scales
every tier's invocation and back-edge thresholds, so that code stays in C1
or the interpreter while the executor hot loops still reach C2; the C2
threads' CPU halves and ``driver_suite`` takes about 18% less CPU. 2 saved
half as much; 8 saved a little more on ``driver_suite`` but slowed
``transcript_backfill``, whose hot code then reached C2 too late. The
price is a slower warm-up: the benchmark's set-up, which includes the cold
first passes, takes 5-8% longer. The flag goes into
``spark.driver.defaultJavaOptions``, which the launcher puts before
``spark.driver.extraJavaOptions``: a caller's own ``extraJavaOptions`` add
to it, a ``-XX:CompileThresholdScaling`` there overrides it, and ``extra``
can replace it. Like the codegen cache it only takes effect when
``get_spark`` launches the JVM.

Class-data sharing. Before a local session can run anything, the driver
JVM loads, parses and verifies about 175 MB of Spark classes: about half
of its start. On local masters it starts instead from a dynamic AppCDS
archive (JEP 350) that maps them. JDK 17 cannot make one by itself
(``-XX:+AutoCreateSharedArchive`` came in JDK 19), so ``get_spark`` does:
the first session for a key writes ``<key>.jsa`` under
``${XDG_CACHE_HOME:-~/.cache}/zipline_chronon_spark/cds`` and later ones
map it (``-XX:SharedArchiveFile … -Xshare:auto``). The key covers what the
JVM checks an archive against: the Java build, the class path and the
base archive the heap selects (32 GB or more turns compressed oops off).
The writer takes ``<key>.lock`` and runs with ``-XX:ArchiveClassesAtExit``
into a temporary file; an ``atexit`` hook closes the JVM's stdin, waits
for it to dump and exit, and renames the file into place only if the exit
code is 0, so no JVM maps a half-written archive (a truncated one crashes
the JVM that maps it). The lock stays after a failed dump: one attempt per
key, until the directory is removed. A published archive replaces those
of other keys. An archive the JVM rejects (``UseSharedSpaces`` reads
false) or dies on is deleted, so the next session writes a fresh one; the
session that found it runs without one. JDK 17
neither dumps nor maps with a non-empty directory on the class path, and
the launcher always puts the conf directory there: when it holds only
``*.template`` files the JVM launches with ``SPARK_CONF_DIR`` at an empty
directory in the cache; with real files (``spark-defaults.conf``,
``spark-env.sh``) it launches without an archive. ``-Xlog:cds*=off`` keeps
the dump's warnings about classes it skips off stdout. On a 4-core host
the benchmark's session start fell from about 8.2 to 4.0 s and its set-up
from 35.3 to 27.1 s (``transcript_backfill``) and from 42.3 to 33.8 s
(``driver_suite``). The writer pays: its session starts about 3 s later,
and its exit waits about 15 s while the JVM dumps a 174 MB archive. Like
the JIT flag, the options go into ``spark.driver.defaultJavaOptions``, and
``extra`` can replace them.

Python workers. Every Arrow Python task (the PIT kernels, sketch tile
builds and serves) starts with pyspark's ``setup_spark_files`` calling
``importlib.invalidate_caches()``. On CPython 3.11 that re-reads the
1,328-entry central directory of ``pyspark.zip`` once for each of the
worker's 16 cached zip importers: 140-233 ms of CPU per task on a 4-core
host, more than the PIT kernels' own CPU in a whole ``transcript_backfill``
pass. ``worker_daemon`` starts the workers with zip importers that keep
their directory, which cuts the call to about 0.1 ms. It applies to local
masters only: there the daemon runs on the driver host, in the driver's
environment, where the UDF closures already import ``zipline_chronon_spark``.
A cluster opts in by installing the package on its executors and setting
``spark.python.daemon.module=zipline_chronon_spark.worker_daemon``; ``extra``
can also override the local default.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
from contextlib import suppress

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 2048
JIT_THRESHOLD_SCALING = 4
# at or above this driver heap the JVM turns compressed oops off and maps the
# JDK's other base archive
_NOCOOPS_HEAP_MB = 32 * 1024
_MB_PER_UNIT = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2, "p": 1024**3}


def _heap_mb(memory: str) -> float:
    """A ``spark.driver.memory`` value in MiB (a bare number is MiB); 0 when
    it does not parse."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", memory.lower())
    return int(m[1]) * _MB_PER_UNIT[m[2] or "m"] if m else 0


def _cds_dir() -> str | None:
    """The archive directory, created with mode 0700; None when it cannot be
    written, or when its path would need quoting inside a Java option."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "zipline_chronon_spark", "cds")
    if re.search(r"[\s\"'\\]", d):
        return None
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        os.makedirs(os.path.join(d, "conf"), mode=0o700, exist_ok=True)
    except OSError:
        return None
    return d if os.access(d, os.W_OK | os.X_OK) else None


def _archive_key(extra: dict[str, str], memory: str) -> str | None:
    """Digest of everything the JVM checks an archive against: the Java
    build, the class path (Spark's jars by name, size and mtime, and any
    ``spark.driver.extraClassPath``) and the base archive the heap size
    selects. None when the Java build cannot be found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    h = hashlib.sha256()
    try:
        java = os.path.realpath(java)
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            h.update(java.encode() + b"\0" + fh.read())
        jars = os.path.join(_find_spark_home(), "jars")
        for e in sorted(os.scandir(jars), key=lambda e: e.name):
            if e.name.endswith(".jar"):
                st = e.stat()
                h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    except OSError:
        return None
    h.update(extra.get("spark.driver.extraClassPath", "").encode() + b"\0")
    h.update(b"nocoops" if _heap_mb(memory) >= _NOCOOPS_HEAP_MB else b"coops")
    return h.hexdigest()[:20]


def _archive(extra: dict[str, str], memory: str) -> tuple[str, str, bool] | None:
    """How the driver JVM about to launch uses its class-data-sharing
    archive: the archive's path without suffix, the empty directory to
    launch with as ``SPARK_CONF_DIR``, and whether this launch writes the
    archive (having taken its lock). None to launch without one."""
    if "spark.driver.defaultJavaOptions" in extra:
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        names = os.listdir(conf) if os.path.isdir(conf) else []
    except OSError:
        return None
    # a non-empty directory on the class path stops JDK 17 from dumping or
    # mapping an archive; one of templates only can be swapped for an empty one
    if not all(n.endswith(".template") for n in names):
        return None
    d = _cds_dir()
    key = d and _archive_key(extra, memory)
    if not key:
        return None
    base = os.path.join(d, key)
    if os.path.exists(base + ".jsa"):
        return base, os.path.join(d, "conf"), False
    try:
        os.close(os.open(base + ".lock", os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600))
    except OSError:
        return None  # another session writes it, or an attempt failed
    return base, os.path.join(d, "conf"), True


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass
    return True


def _publish(proc, base: str, owner: int) -> None:
    """At interpreter exit: close the writer JVM's stdin, wait (without a
    time limit) until it has dumped its archive and exited, and publish the
    archive if it exited cleanly."""
    if os.getpid() != owner:  # a forked child: the JVM is not its own
        return
    with suppress(OSError):
        proc.stdin.close()
    tmp = f"{base}.{owner}.tmp"
    if proc.wait() != 0 or not os.path.isfile(tmp):
        with suppress(FileNotFoundError):
            os.remove(tmp)
        return
    os.replace(tmp, base + ".jsa")
    d, key = os.path.split(base)
    for name in os.listdir(d):
        stem, ext = os.path.splitext(name)
        if ext == ".jsa" and stem != key:
            for path in (name, stem + ".lock"):
                with suppress(FileNotFoundError):
                    os.remove(os.path.join(d, path))
        elif ext == ".tmp":
            pid = stem.rsplit(".", 1)[-1]
            if pid.isdigit() and not _alive(int(pid)):
                with suppress(FileNotFoundError):
                    os.remove(os.path.join(d, name))


def vm_option(spark: SparkSession, name: str) -> str:
    """The driver JVM's value of the HotSpot flag ``name``."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption(name).getValue()


def cds_mapped(spark: SparkSession) -> bool:
    """Whether the driver JVM runs from a class-data-sharing archive of its
    own: ``SharedArchiveFile`` is set and ``UseSharedSpaces`` is on."""
    return (bool(vm_option(spark, "SharedArchiveFile"))
            and vm_option(spark, "UseSharedSpaces") == "true")


def get_spark(
    master: str | None = None,
    app_name: str = "zipline-chronon-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # match parallelism of the master when local, else leave to cluster conf
        if master.startswith("local["):
            n = master[len("local[") : -1]
            shuffle_partitions = 32 if n == "*" else max(8, int(n))
        else:
            shuffle_partitions = 200
    extra = extra or {}
    memory = extra.get("spark.driver.memory") or os.environ.get("SPARK_DRIVER_MEMORY", "24g")
    jit_option = f"-XX:CompileThresholdScaling={JIT_THRESHOLD_SCALING}"
    java_options = jit_option
    # only a JVM this call launches takes the options
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _archive(extra, memory) if launches and master.startswith("local") else None
    if cds:
        base, conf_dir, writes = cds
        java_options += (f" -XX:ArchiveClassesAtExit={base}.{os.getpid()}.tmp" if writes
                         else f" -XX:SharedArchiveFile={base}.jsa -Xshare:auto")
        java_options += " -Xlog:cds*=off"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.defaultJavaOptions", java_options)
    )
    if master.startswith("local"):
        b = b.config("spark.python.daemon.module", "zipline_chronon_spark.worker_daemon")
    for k, v in extra.items():
        b = b.config(k, v)
    if not cds:
        return b.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = b.getOrCreate()
    except PySparkRuntimeError:  # the JVM exited before the gateway started
        if writes:
            raise
        spark = None  # a damaged archive can crash the JVM that maps it
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if writes:
        atexit.register(_publish, SparkContext._gateway.proc, base, os.getpid())
    elif spark is None or not cds_mapped(spark):
        # the JVM rejected the archive or died on it: the next session
        # writes a fresh one
        for path in (base + ".jsa", base + ".lock"):
            with suppress(FileNotFoundError):
                os.remove(path)
        if spark is None:
            spark = b.config("spark.driver.defaultJavaOptions", jit_option).getOrCreate()
    return spark
