"""SparkSession factory with scale-oriented defaults.

The reference enables AQE + partition coalescing in cluster config
(configs/neo4j-connector-config.yml:56-57, configs/cluster-configurations.yml:54-56)
but never tunes shuffle partitioning or skew join. We enable the full
adaptive suite and size shuffle partitions to the core count (local mode)
— on a real cluster this would be 2-3x total executor cores.
"""

from __future__ import annotations

import os

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
        # G1 sizes ParallelGCThreads from visible CPUs (~23 on 32 vCPUs);
        # on this virtualized kernel that many GC threads THRASH — a pure
        # xxhash job at local[32] ran 12x faster with GC threads capped
        # (123s -> 10s). Cap them everywhere.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 {JIT_POLICY}",
        )
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
        # over an object store, LOWER this back toward the 32 default
        # via the env var so massive partition counts list in parallel.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("KGFLOW_PARTITION_DISCOVERY_THRESHOLD", "100000"),
        )
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
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
