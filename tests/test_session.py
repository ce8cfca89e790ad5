"""Session factory: the JIT compile policy reaches every JVM that runs
tasks, the default driver heap is sized to the host, and a driver JVM
maps the install's class-data-sharing archive, which the first JVM
dumps. Archive tests run each session in a subprocess whose cache
directory is the test's tmp_path."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from kgflow.session import JIT_POLICY, default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session that runs one query and stops; {tail} runs after the query
SESSION = """
import atexit, glob, os, signal, sys, time
from kgflow.session import get_spark
spark = get_spark("cds-probe", cores=2)
print(spark.range(100).selectExpr("sum(id)").first()[0])
{tail}
spark.stop()
"""


def _run(tmp_path, args, **env) -> str:
    full = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "KGFLOW_DRIVER_MEM": "1g",
        "PYTHONPATH": ROOT,
        **env,
    }
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "JAVA_TOOL_OPTIONS"):
        if var not in env:
            full.pop(var, None)
    out = subprocess.run([sys.executable, *args], cwd=ROOT, env=full, timeout=600,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def _session(tmp_path, tail="", **env) -> str:
    return _run(tmp_path, ["-c", SESSION.format(tail=tail)], **env)


def _cache(tmp_path, pattern):
    return sorted((tmp_path / "cache" / "kgflow" / "cds").glob(pattern))


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


def test_first_session_publishes_archive_and_next_maps_it(tmp_path):
    # a session rebuilt inside the running JVM registers no second hook
    _session(tmp_path, tail=(
        "n = atexit._ncallbacks(); spark.stop()\n"
        "spark = get_spark('cds-probe', cores=2)\n"
        "assert atexit._ncallbacks() == n"
    ))
    assert len(_cache(tmp_path, "*.jsa")) == 1
    assert _cache(tmp_path, "*.tmp") == []

    log = tmp_path / "class-load"
    _session(tmp_path, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}-%p.log")
    # the launcher JVM that spark-class runs first writes a log too
    loads = "".join(p.read_text() for p in tmp_path.glob("class-load-*.log"))
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads


def test_killed_dump_publishes_nothing_and_next_session_dumps_again(tmp_path):
    # close the JVM's stdin so it exits and dumps, then SIGKILL it as
    # soon as the archive file appears
    _session(tmp_path, tail="""
proc = spark.sparkContext._gateway.proc
proc.stdin.close()
deadline = time.monotonic() + 120
while not glob.glob(os.environ["XDG_CACHE_HOME"] + "/kgflow/cds/*.tmp"):
    assert time.monotonic() < deadline and proc.poll() is None
    time.sleep(0.01)
os.kill(proc.pid, signal.SIGKILL)
sys.exit(0)
""")
    assert _cache(tmp_path, "*.jsa") == [] and _cache(tmp_path, "*.tmp") == []

    _session(tmp_path)
    assert len(_cache(tmp_path, "*.jsa")) == 1
    assert _cache(tmp_path, "*.tmp") == []


def test_live_spark_conf_dir_still_takes_effect(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.kgflow.probe 1\n")
    out = _session(tmp_path, tail="print('probe', spark.conf.get('spark.kgflow.probe'))",
                   SPARK_CONF_DIR=str(conf))
    assert "probe 1" in out.splitlines()
    assert _cache(tmp_path, "*.jsa") == []


def test_cli_summary_stays_clean_json_while_first_run_dumps(tmp_path):
    out = _run(tmp_path, ["run_pipeline.py", "--synthetic", "200", "--cores", "2",
                          "--output", str(tmp_path / "run")])
    assert "[cds" not in out
    assert json.loads(out)["triples"] > 0
    assert len(_cache(tmp_path, "*.jsa")) == 1
