"""SparkSession factory with scale-oriented defaults.

The reference enables AQE + partition coalescing in cluster config
(configs/neo4j-connector-config.yml:56-57, configs/cluster-configurations.yml:54-56)
but never tunes shuffle partitioning or skew join. We enable the full
adaptive suite and size shuffle partitions to the core count (local mode)
— on a real cluster this would be 2-3x total executor cores.

Class-data sharing. A cold driver JVM loads about 13k Spark classes
from the jars of ``$SPARK_HOME/jars``, which is most of the 6-7 s a
session takes to start. ``get_spark`` maps a dynamic AppCDS archive
(JEP 350) of those classes into every driver JVM it launches, which
halves session start. The archive is built once per install, under
``$XDG_CACHE_HOME/kgflow/cds/`` (default ``~/.cache/kgflow/cds/``), and
its file name is a hash of the ``java`` binary that ``spark-class``
runs (real path and mtime), of the name, size and mtime of every jar
in ``$SPARK_HOME/jars``, and of the GC and JIT flags set here. A JDK or
Spark upgrade therefore builds a new archive. The heap size is not in
the key: one archive maps under a 1 GB, a 4 GB and an 8 GB heap.

The first JVM launched for an install dumps the archive when it exits.
That run pays for it: session start is about 3 s slower, and the dump
adds 10-16 s at exit and writes 140-195 MB. The dump goes to a
per-process temporary file, and an ``atexit`` hook publishes it only if
the JVM exited cleanly, so two first runs cannot race and a killed JVM
never leaves a truncated archive behind. A dump whose Python process
was killed is never published; the next launch deletes it.

A JVM cannot dump while a non-empty directory is on its classpath, and
the launch classpath starts with Spark's conf directory. So the archive
is used only when ``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR`` and
``YARN_CONF_DIR`` are unset and ``$SPARK_HOME/conf`` holds nothing but
``*.template`` files; the JVM then runs with ``SPARK_CONF_DIR`` pointed
at an empty directory next to the archives. Any live configuration, or
a cache directory that cannot be written, runs the JVM as before,
without an archive.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# JIT compile policy for a cold batch job. HotSpot's tier-4 (C2)
# thresholds (JDK 17: 5000/600/15000/40000) are sized for long-lived
# servers: in a ~35 s pipeline run (perfbench kg_bulk, 4 vCPUs) the C2
# threads burned 56 of the JVM's 116 CPU-s compiling lukewarm planner
# and codegen methods the job never ran long enough to repay. 10x
# thresholds leave those at C1 and still C2-compile the hot loops
# (regex, sha2, parquet decode) early enough that executor-task CPU is
# unchanged; a long job reaches the same steady state. 30x starved the
# hot loops as well (task CPU +25%).
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


# Class-data-sharing messages go to the JVM's stdout, after the caller's
# own output. A dumping JVM warns once per class it skips: all of
# Janino's, whose jar is signed (576 lines in a one-query session).
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _cds_paths(java_opts: str) -> tuple[str, str] | None:
    """(archive path, empty conf dir) for a driver JVM launched with
    ``java_opts``, or None when this launch must run without an
    archive (see the module docstring)."""
    if any(os.environ.get(v) for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return None
    spark_home = _find_spark_home()  # the one PySpark's gateway launch uses
    conf = os.path.join(spark_home, "conf")
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    if java is None:
        return None
    root = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "kgflow", "cds"
    )
    try:
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        java = os.path.realpath(java)
        key = hashlib.sha256(f"{java}|{os.stat(java).st_mtime_ns}|{java_opts}".encode())
        with os.scandir(os.path.join(spark_home, "jars")) as jars:
            for jar in sorted(jars, key=lambda e: e.name):
                st = jar.stat()
                key.update(f"\n{jar.name}|{st.st_size}|{st.st_mtime_ns}".encode())
        empty_conf = os.path.join(root, "conf")
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    if not os.access(root, os.W_OK):
        return None
    _sweep_orphaned_dumps(root)
    return os.path.join(root, f"{key.hexdigest()[:20]}.jsa"), empty_conf


def _sweep_orphaned_dumps(root: str) -> None:
    """Delete the ``<hash>.jsa.<pid>.tmp`` dumps of dead processes. A
    launch whose Python process is killed leaves its JVM to finish the
    dump, and nothing publishes or deletes the file. A live pid's file
    stays: a concurrent first run may still be writing it."""
    for tmp in glob.glob(os.path.join(glob.escape(root), "*.jsa.*.tmp")):
        pid = tmp.rsplit(".", 2)[1]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.remove(tmp)
        except (OSError, OverflowError):
            pass  # alive under another user, or not a pid


def _publish_archive(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """At interpreter exit: end the dumping JVM and publish its archive.
    EOF on the JVM's stdin makes PySpark's gateway call System.exit(0),
    and the JVM writes ``tmp`` on its way out. Only a clean exit
    publishes; anything else (a kill mid-dump) deletes the file."""
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        code = proc.wait(timeout=300)  # a 170 MB dump takes about 10 s
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    with contextlib.suppress(OSError):
        if code == 0:
            os.replace(tmp, archive)
        else:
            os.remove(tmp)


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of physical RAM, at least 1 GB: in local[N] mode the driver
    JVM is the whole runtime, and the rest of the host is left to the
    Python workers, the page cache and the OS. 4 GB where /proc/meminfo
    cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{max(1024, int(line.split()[1]) // 1024 // 2)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "kgflow",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` controls local[N] parallelism; defaults to $SPARK_GRAFT_CPUS
    or all cores. ``shuffle_partitions`` defaults to 2x cores — enough
    granularity for AQE to coalesce, small enough for local mode.
    ``master`` overrides the master URL entirely (e.g.
    ``local-cluster[4,8,8192]`` for multi-process executors — on this
    sandbox host a single JVM's threads anti-scale beyond ~8 cores, so
    scaling evidence uses executor *processes*, which also matches a
    real cluster's topology).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    # G1 sizes ParallelGCThreads from visible CPUs (~23 on 32 vCPUs);
    # on this virtualized kernel that many GC threads THRASH — a pure
    # xxhash job at local[32] ran 12x faster with GC threads capped
    # (123s -> 10s). Cap them everywhere.
    java_opts = f"-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 {JIT_POLICY}"
    # the archive is decided once per JVM: a session rebuilt inside a
    # running JVM (or one spark-submit started) keeps what it has
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _cds_paths(java_opts) if launching else None
    dump = None
    if cds is not None:
        archive, empty_conf = cds
        if os.path.exists(archive):
            java_opts += f" {_CDS_QUIET} -XX:SharedArchiveFile={archive}"
        else:
            dump = f"{archive}.{os.getpid()}.tmp"
            java_opts += f" {_CDS_QUIET} -XX:ArchiveClassesAtExit={dump}"

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10k rows/batch is ~125 MB for 12 KB text rows — several
        # concurrent tasks then thrash executor heaps; 2k keeps Arrow
        # batches ~25 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # local mode = driver-only: this is the ONLY memory knob. Size it
        # to the host — 32 concurrent tasks over wide text rows in a small
        # heap spend their time in GC, not work.
        .config(
            "spark.driver.memory",
            os.environ.get("KGFLOW_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.extraJavaOptions", java_opts)
        # text-heavy rows compress hard in parquet: default 128 MB splits
        # leave most cores idle on corpora whose *decoded* cost is high.
        # 16 MB keeps every core fed; at real 100 TB scale the default is
        # fine because file counts dominate.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        # all executors share this host: waiting for data-locality only
        # stalls small stages (default 3s per locality level)
        .config("spark.locality.wait", "0ms")
        # partition discovery over the at-rest ANN indexes (1.5k+ small
        # partition dirs): above this many paths Spark launches a
        # distributed listing JOB, whose fixed scheduling cost dwarfs a
        # serial driver listing on a local filesystem — measured 2.6 s
        # -> 0.22 s per spark.read.parquet() of the 1481-bucket LSH
        # index (round 7, guide §6 file listing). On a real cluster
        # over an object store, pass a lower value (toward the 32
        # default) through extra_conf so massive partition counts list
        # in parallel.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        # InferFiltersFromGenerate rewrites `explode(expr)` into
        # `Filter(size(expr) > 0) + explode(expr)`; predicate pushdown
        # then substitutes the alias and re-evaluates the FULL generator
        # input expression once more per row. For our explodes the
        # inferred filter can never prune (pair arrays may be empty but
        # are trivially cheap; the graph_enrich property bag always
        # carries value_tier), while the duplicated evaluation of the
        # 4x-from_json merged-bag expression measurably doubled that
        # query (guide §4.4 — same duplication mechanism as UDF filter
        # pushdown, here with built-ins). Known upstream footgun for
        # expensive generator inputs (SPARK-36715 limited it to
        # ExplodeBase for this reason).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    if cds is None:
        spark = builder.getOrCreate()
    else:
        # the launch reads SPARK_CONF_DIR; it is unset here (_cds_paths)
        os.environ["SPARK_CONF_DIR"] = empty_conf
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
    if dump is not None:
        atexit.register(_publish_archive, spark.sparkContext._gateway.proc, dump, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
