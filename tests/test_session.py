"""Session factory: the JIT compile policy reaches every JVM that runs
tasks, and the default driver heap is sized to the host."""

from __future__ import annotations

from kgflow.session import JIT_POLICY, default_driver_memory


def test_driver_jvm_runs_with_jit_policy(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    for flag in JIT_POLICY.split():
        assert flag in args, f"{flag} missing from driver JVM args {args}"


def test_local_cluster_executors_get_jit_policy():
    import run_pipeline as cli

    conf, total_cores = cli.local_cluster_conf("local-cluster[2,3,4096]")
    opts = conf["spark.executor.extraJavaOptions"].split()
    assert total_cores == 6
    assert "-XX:ActiveProcessorCount=3" in opts
    for flag in JIT_POLICY.split():
        assert flag in opts


def test_default_driver_memory_is_half_of_ram(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:         1000 kB\n")
    assert default_driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:        1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"  # floor
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
