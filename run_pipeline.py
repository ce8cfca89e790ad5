#!/usr/bin/env python
"""CLI entry point: run the KG-construction pipeline via spark-submit.

    spark-submit --py-files kgflow.zip run_pipeline.py \
        --input /path/to/source_files_parquet --output /path/to/run_dir

    # or, sandbox/demo mode with the deterministic synthetic corpus:
    python run_pipeline.py --synthetic 10000 --output /tmp/kg_run

Replaces the reference's Databricks Jobs DAG
(databricks/jobs/etl-pipeline-job.json) — same stage topology, but
checkpoint/resume comes from stage manifests instead of task retries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict


def _input_fingerprint(spark, path: str) -> str:
    """Fingerprint the input DATA, not just its path: sorted file
    listing (name, size, mtime) via the Hadoop FS API. A path-only
    fingerprint let a changed corpus silently resume stale stage tables
    (round-1 advice); with this, any file added/removed/rewritten under
    --input invalidates every stage manifest."""
    import hashlib

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    entries = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        entries.append(
            f"{st.getPath().toString()}|{st.getLen()}|{st.getModificationTime()}"
        )
    h = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()[:16]
    return f"{path}#n={len(entries)}#ls={h}"


def local_cluster_conf(master: str) -> tuple[dict[str, str], int]:
    """Executor conf for a ``local-cluster[n_exec,cores,mem_mb]`` master,
    and the cluster's total core count."""
    from kgflow.session import JIT_POLICY

    inner = master.split("[")[1].rstrip("]").split(",")
    n_exec, exec_cores, mem_mb = int(inner[0]), int(inner[1]), int(inner[2])
    return {
        "spark.executor.memory": f"{max(mem_mb - 1024, 1024)}m",
        # executor python workers must import kgflow
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.abspath(__file__)),
        # right-size each executor JVM's thread pools to its core
        # slice; unbounded GC threads thrash this host (session.py);
        # executors run the tasks, so they take the JIT policy too
        "spark.executor.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={exec_cores} "
            f"-XX:ParallelGCThreads={max(exec_cores // 2, 2)} -XX:ConcGCThreads=2 "
            f"{JIT_POLICY}"
        ),
    }, n_exec * exec_cores


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kgflow KG-construction pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of (repo,path,commit,lang,content)")
    src.add_argument("--synthetic", type=int, metavar="N_FILES",
                     help="generate the deterministic synthetic corpus instead")
    ap.add_argument("--output", required=True, help="run directory for stage tables")
    ap.add_argument("--cores", type=int, default=None, help="local[N] parallelism")
    ap.add_argument("--master", default=None,
                    help="override master URL, e.g. local-cluster[4,8,8192]")
    ap.add_argument("--out-partitions", type=int, default=None)
    ap.add_argument("--run-ts", default="1970-01-01T00:00:00Z",
                    help="logical run timestamp recorded in manifests")
    args = ap.parse_args(argv)

    from kgflow import fixtures
    from kgflow.audit import Usage
    from kgflow.pipeline import run_pipeline
    from kgflow.session import get_spark

    extra, total_cores = {}, None
    if args.master and args.master.startswith("local-cluster"):
        extra, total_cores = local_cluster_conf(args.master)
    spark = get_spark(
        "kgflow-pipeline",
        cores=args.cores,
        master=args.master,
        # shuffle granularity must track the CLUSTER's core count, not
        # the host's (a 2-core cluster drowning in 64-partition shuffles
        # pays pure scheduling latency on every small stage)
        shuffle_partitions=(2 * total_cores if total_cores else None),
        extra_conf=extra,
    )
    if args.synthetic:
        source = fixtures.source_files(spark, args.synthetic)
        corpus_fp = f"synthetic-n{args.synthetic}-seed{fixtures.SEED}"
    else:
        source = spark.read.parquet(args.input)
        corpus_fp = _input_fingerprint(spark, args.input)

    report = run_pipeline(
        spark,
        source,
        args.output,
        corpus_fingerprint=corpus_fp,
        run_ts=args.run_ts,
        out_partitions=args.out_partitions,
    )

    # every figure comes from the report's records (kgflow/pipeline.py):
    # the run record gives the whole-run wall, own-tree CPU-seconds,
    # driver-JVM GC ms and JIT compile ms; each stage that ran carries
    # the same four over its own window (a stage's sec is its build plus
    # its write, and for nodes the two graph checks too),
    # and a resumed stage carries none. In local[N] mode the driver JVM
    # is the whole runtime, so gc_ms and jit_ms are the run's total GC
    # and compile cost.
    run = report.run
    summary = {
        "elapsed_sec": run.sec,
        "triples": report.triples_emitted,
        "triples_per_sec": round(report.triples_emitted / run.sec, 1),
        "own_cpu_s": run.own_cpu_s,
        "gc_ms": run.gc_ms,
        "jit_ms": run.jit_ms,
        "stages": {
            name: {"rows": r.row_count, "skipped": r.skipped, **asdict(r.usage or Usage())}
            for name, r in report.results.items()
        },
    }
    print(json.dumps(summary, indent=2))

    # Reap the JVM before exiting — but ONLY when this process owns the
    # session, i.e. when invoked as a script (argv is None). In-process
    # callers (tests call cli.main([...]) against the shared pytest
    # session) must not have their JVM torn down under them.
    #
    # Why reap at all: PySpark's shutdown path lets the JVM die
    # asynchronously on broken pipe AFTER the Python process exits, so
    # the JVM's CPU time is charged to nobody in this process tree —
    # and the bench's co-tenant CPU audit (kgflow/audit.py) counts
    # exactly such un-reaped ticks as foreign load, falsely flagging
    # every fresh-subprocess pipeline iteration as contaminated
    # (measured ~12% spurious other_busy at 60k files). Ending the JVM
    # and waiting rolls its rusage into this process, which the parent's
    # RUSAGE_CHILDREN snapshot then attributes correctly. The timed
    # summary above is unaffected (already printed). EOF on the JVM's
    # stdin makes the gateway call System.exit(0); a SIGTERM exit (143)
    # would discard the class-data-sharing archive a first run dumps
    # (kgflow/session.py).
    if argv is None:
        proc = getattr(getattr(spark.sparkContext, "_gateway", None), "proc", None)
        spark.stop()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
