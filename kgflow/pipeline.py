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

The run explains itself through one record per step: every stage that
runs (its build plus its write), the end-of-run validation and the whole
run each get an `audit.Usage` (wall, own-tree CPU, driver-JVM GC and JIT
ms) from the same `audit.measure` window. A resumed stage has none: it
did no work. `run_pipeline.py` prints its JSON summary from these
records.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import cache

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
    # what the end-of-run constraint validation and the whole run cost
    validate: audit.Usage | None = None
    run: audit.Usage = field(default_factory=audit.Usage)

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

    def stage(name: str, fp: str, build) -> None:
        res = lin.completed(run_dir, name, fp)
        if res is None:
            # build() may run eager work (link, canonicalize and
            # materialize localCheckpoint intermediates), so the window
            # spans the build and the write
            with audit.measure(spark) as usage:
                res = lin.write_stage(build(), name, run_dir, fp, run_ts)
            res.usage = usage
        report.results[name] = res

    with audit.measure(spark) as report.run:
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
        # materialize() eagerly checkpoints the canonicalized stream both
        # outputs share: the first output step that runs builds the pair
        pair = cache(lambda: materialize(triples, cmap, out_partitions=out_partitions))
        stage("nodes", fp4, lambda: pair()[0])
        stage("edges", fp4, lambda: pair()[1])

        if validate:
            # the two constraint probes are independent actions; running
            # them from a 2-thread pool lets the second job back-fill the
            # first's straggler tail (guide §2.6) — measured 4.6 -> 3.2 s
            # in a fresh JVM at 200k files
            with audit.measure(spark) as report.validate, ThreadPoolExecutor(2) as pool:
                nodes = lin.read_stage(spark, run_dir, "nodes")
                edges = lin.read_stage(spark, run_dir, "edges")
                fu = pool.submit(assert_unique_ids, nodes)
                fe = pool.submit(assert_edge_endpoints, nodes, edges)
                fu.result()
                fe.result()
    return report
