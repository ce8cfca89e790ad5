"""End-to-end pipeline: triples match golden, resume skips stages,
materialization is idempotent, lineage is recorded per partition.

One full pipeline run is shared module-wide; resume/invalidation tests
work on copies of its run directory instead of recomputing.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgflow import fixtures, lineage as lin
from kgflow.pipeline import run_pipeline

N_FILES = 150
FP = f"fixture-n{N_FILES}"


def _run(spark, run_dir):
    src = fixtures.source_files(spark, N_FILES)
    return run_pipeline(spark, src, run_dir, corpus_fingerprint=FP)


@pytest.fixture(scope="module")
def base_run(spark, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("kg") / "run")
    report = _run(spark, run_dir)
    return run_dir, report


@pytest.fixture()
def run_copy(base_run, tmp_path):
    src_dir, _ = base_run
    dst = str(tmp_path / "run")
    shutil.copytree(src_dir, dst)
    return dst


def test_end_to_end_triples_match_golden(spark, base_run):
    run_dir, report = base_run
    assert report.triples_emitted > 0
    got = {
        (r.subj, r.pred, r.obj)
        for r in lin.read_stage(spark, run_dir, "triples")
        .select("subj", "pred", "obj")
        .distinct()
        .collect()
    }
    want = {
        (r.subj, r.pred, r.obj)
        for r in fixtures.golden_triples(spark, N_FILES).collect()
    }
    tp = len(got & want)
    assert tp / len(got) >= 0.95
    assert tp / len(want) >= 0.95


def test_resume_skips_completed_stages(spark, run_copy):
    second = _run(spark, run_copy)
    assert set(second.skipped_stages()) == {
        "ingested", "triples", "alias_edges", "canonical_map", "nodes", "edges",
    }
    # simulate a failed materialize: wipe 'edges', re-run — only it recomputes
    shutil.rmtree(os.path.join(run_copy, "edges"))
    third = _run(spark, run_copy)
    assert "edges" not in third.skipped_stages()
    assert "triples" in third.skipped_stages()


def test_resume_output_identical(spark, base_run, run_copy):
    base_dir, _ = base_run
    before = sorted(
        (r.subj, r.pred, r.obj)
        for r in lin.read_stage(spark, base_dir, "triples").select("subj", "pred", "obj").collect()
    )
    shutil.rmtree(os.path.join(run_copy, "triples"))
    _run(spark, run_copy)
    after = sorted(
        (r.subj, r.pred, r.obj)
        for r in lin.read_stage(spark, run_copy, "triples").select("subj", "pred", "obj").collect()
    )
    assert before == after


def test_stored_triples_src_sha_matches_ingested(spark, base_run):
    """The ingested and triples stages hash content in two separate
    scans; their stored tables must agree: every triple's src_sha is an
    ingested content_sha, every ingested file has its WRITTEN_IN triple,
    and the stored triples are exactly extract(ingest(source))."""
    from kgflow.stages.extract import extract
    from kgflow.stages.ingest import ingest

    run_dir, _ = base_run
    ingested = lin.read_stage(spark, run_dir, "ingested")
    triples = lin.read_stage(spark, run_dir, "triples")

    orphans = triples.join(
        ingested.select(F.col("content_sha").alias("src_sha")), "src_sha", "left_anti"
    )
    assert orphans.isEmpty()

    written_in = triples.where(F.col("pred") == "WRITTEN_IN").select(
        F.col("subj").alias("file_ref"), F.col("obj").alias("lang"),
        F.col("src_sha").alias("content_sha"),
    )
    unwritten = ingested.select(
        F.concat_ws("/", "repo", "path").alias("file_ref"), "lang", "content_sha"
    ).join(written_in, ["file_ref", "lang", "content_sha"], "left_anti")
    assert unwritten.isEmpty()

    inline = extract(ingest(fixtures.source_files(spark, N_FILES)))
    assert triples.exceptAll(inline).isEmpty()
    assert inline.exceptAll(triples).isEmpty()


def test_corpus_change_invalidates_downstream(spark, run_copy):
    src = fixtures.source_files(spark, N_FILES)
    report = run_pipeline(spark, src, run_copy, corpus_fingerprint="v2")
    assert report.skipped_stages() == []


def test_write_stage_schema_evolution_merge(spark, tmp_path):
    """S5 mergeSchema semantics (csv-ingestion.py:191): re-running a
    stage after adding a column evolves the table; a column the new run
    dropped survives as typed nulls — no manual cleanup between runs."""
    run_dir = str(tmp_path / "run")
    v1 = spark.createDataFrame([(1, "x")], "id long, old_prop string")
    lin.write_stage(v1, "s", run_dir, "fp-v1", "1970-01-01T00:00:00Z")

    v2 = spark.createDataFrame([(2, 3.5)], "id long, new_prop double")
    res = lin.write_stage(
        v2, "s", run_dir, "fp-v2", "1970-01-01T00:00:00Z", schema_mode="merge"
    )
    assert not res.skipped
    got = lin.read_stage(spark, run_dir, "s")
    assert [f.name for f in got.schema.fields] == ["id", "old_prop", "new_prop"]
    row = got.collect()[0]
    assert (row.id, row.old_prop, row.new_prop) == (2, None, 3.5)

    # default mode still replaces the schema wholesale (overwriteSchema,
    # customer_recommendations_writeback.py:144)
    lin.write_stage(v2, "s", run_dir, "fp-v3", "1970-01-01T00:00:00Z")
    assert lin.read_stage(spark, run_dir, "s").columns == ["id", "new_prop"]


def test_failed_rewrite_invalidates_completed_stage(spark, tmp_path):
    """A stage complete under fingerprint A, then rewritten under B by a
    write that dies part-way: the overwrite has already deleted A's
    data, so A's manifest must no longer mark the stage complete."""
    run_dir = str(tmp_path / "run")
    stage_dir = os.path.join(run_dir, "s")
    ok = spark.range(100).withColumn("v", F.col("id") * 2)
    lin.write_stage(ok, "s", run_dir, "fp-A", "1970-01-01T00:00:00Z")
    assert lin.is_complete(stage_dir, "fp-A")

    dies = spark.range(100).withColumn(
        "v", F.when(F.col("id") == 57, F.raise_error(F.lit("killed mid-write")))
        .otherwise(F.col("id"))
    )
    with pytest.raises(Exception, match="killed mid-write"):
        lin.write_stage(dies, "s", run_dir, "fp-B", "1970-01-01T00:00:00Z")
    assert not lin.is_complete(stage_dir, "fp-A")
    assert not lin.is_complete(stage_dir, "fp-B")


def test_lineage_per_partition_counts_sum_to_total(spark, base_run):
    run_dir, _ = base_run
    lineage = spark.read.parquet(os.path.join(run_dir, "triples", "lineage"))
    total = lineage.agg(F.sum("row_count")).collect()[0][0]
    with open(os.path.join(run_dir, "triples", "_MANIFEST.json")) as f:
        assert json.load(f)["row_count"] == total
    assert lineage.count() >= 1


def test_materialized_graph_constraints(spark, base_run):
    run_dir, _ = base_run  # run_pipeline validates uniqueness + endpoints itself
    nodes = lin.read_stage(spark, run_dir, "nodes")
    edges = lin.read_stage(spark, run_dir, "edges")
    labels = {r[0] for r in nodes.select(":LABEL").distinct().collect()}
    assert {"File", "Language", "Repo", "Symbol", "Module"} <= labels
    types = {r[0] for r in edges.select(":TYPE").distinct().collect()}
    assert {"WRITTEN_IN", "DECLARES", "IMPORTS"} <= types


def test_alias_variants_share_canonical_node(spark, base_run):
    run_dir, _ = base_run
    cmap = lin.read_stage(spark, run_dir, "canonical_map")
    by_member = {r.member: r.canonical for r in cmap.collect()}
    groups: dict[str, set[str]] = {}
    for base in fixtures.BASE_SYMBOLS:
        variants = {style(base) for style in fixtures.ALIAS_STYLES}
        present = [v for v in variants if v in by_member]
        if len(present) >= 2:
            canon = {by_member[v] for v in present}
            assert len(canon) == 1, f"{base}: variants {present} map to {canon}"
            groups[base] = canon
    assert groups, "fixture corpus produced no alias groups — test vacuous"


def test_pipeline_schema_mode_merge_end_to_end(spark, tmp_path):
    """The round-3 gap: merge_to_schema existed but was unreachable from
    the orchestrator. Full run -> source gains a metadata column ->
    re-run with schema_mode='merge' -> the ingested stage table carries
    BOTH the new column and the v1 columns; a third run that drops the
    column again under merge keeps it as typed nulls. Also asserts the
    fingerprint chain re-ran (a schema change must never silently
    resume)."""
    run_dir = str(tmp_path / "run")
    src_v1 = fixtures.source_files(spark, 60)
    run_pipeline(spark, src_v1, run_dir, corpus_fingerprint="v1")

    src_v2 = src_v1.withColumn("branch", F.lit("main"))
    rep2 = run_pipeline(
        spark, src_v2, run_dir, corpus_fingerprint="v2", schema_mode="merge"
    )
    assert not rep2.results["ingested"].skipped  # new corpus fp -> re-ran
    ing = lin.read_stage(spark, run_dir, "ingested")
    assert "branch" in ing.columns and "content_sha" in ing.columns
    assert ing.where(F.col("branch") == "main").count() == ing.count()

    # drop the column again: merge keeps it as typed nulls
    rep3 = run_pipeline(
        spark, src_v1, run_dir, corpus_fingerprint="v3", schema_mode="merge"
    )
    assert not rep3.results["ingested"].skipped
    ing3 = lin.read_stage(spark, run_dir, "ingested")
    assert "branch" in ing3.columns
    assert ing3.where(F.col("branch").isNull()).count() == ing3.count()
    assert ing3.schema["branch"].dataType.simpleString() == "string"

    # switching schema_mode alone (same corpus) must also re-run, not
    # resume the table written under the other policy
    rep4 = run_pipeline(spark, src_v1, run_dir, corpus_fingerprint="v3")
    assert not rep4.results["ingested"].skipped


def test_cli_schema_mode_flag(tmp_path):
    """--schema-mode reaches write_stage through the CLI (subprocess-free:
    call main() in-process against a tiny synthetic corpus)."""
    import run_pipeline as cli

    out = str(tmp_path / "run")
    rc = cli.main(
        ["--synthetic", "30", "--output", out, "--schema-mode", "merge",
         "--cores", "4"]
    )
    assert rc == 0
    assert os.path.exists(os.path.join(out, "ingested", "_MANIFEST.json"))


def test_materialize_spreads_hot_node_across_partitions(spark):
    """Skew proof for the north_rule's 'salted, skew-aware' requirement:
    a degenerate subject (one repo declaring 90% of all symbols) must
    NOT land on one output partition. materialize() repartitions edges
    by BOTH endpoints, so the hot :START_ID spreads by its distinct
    :END_IDs — no artificial salt column needed."""
    from kgflow.stages.materialize import materialize

    hot = [("repo:hot", "DECLARES", f"sym_{i}", "sha", "repo:hot", "py")
           for i in range(18_000)]
    cold = [(f"repo:c{i}", "DECLARES", f"other_{i}", "sha", f"repo:c{i}", "py")
            for i in range(2_000)]
    triples = spark.createDataFrame(
        hot + cold,
        "subj string, pred string, obj string, src_sha string, repo string, lang string",
    )
    cmap = spark.createDataFrame([], "member string, canonical string")
    _, edges = materialize(triples, cmap, out_partitions=16)

    sizes = [
        r.n
        for r in edges.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == 16, "hot key collapsed the partition count"
    mean = sum(sizes) / len(sizes)
    assert max(sizes) <= 2 * mean, (
        f"straggler partition: max {max(sizes)} vs mean {mean:.0f} ({sizes})"
    )
