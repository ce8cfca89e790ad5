"""End-to-end pipeline: triples match golden, resume skips stages,
materialization is idempotent, lineage is recorded per partition.

One full pipeline run is shared module-wide; resume/invalidation tests
work on copies of its run directory instead of recomputing.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import astuple

import pytest
from pyspark.sql import functions as F

from kgflow import fixtures, lineage as lin, pipeline
from kgflow.pipeline import STAGES, run_pipeline
from kgflow.schemas import SOURCE_FILES

N_FILES = 150
FP = f"fixture-n{N_FILES}"
USAGE_FIELDS = ("sec", "own_cpu_s", "gc_ms", "jit_ms")


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


@pytest.mark.parametrize("wiped", ["nodes", "edges"])
def test_resume_skips_completed_stages(spark, base_run, run_copy, wiped):
    """A rerun skips every stage. After one output stage is wiped only
    it recomputes, whichever of the two materialize() builds for, and
    its table equals the base run's."""
    base_dir, _ = base_run
    second = _run(spark, run_copy)
    assert set(second.skipped_stages()) == set(STAGES)
    shutil.rmtree(os.path.join(run_copy, wiped))
    third = _run(spark, run_copy)
    assert set(STAGES) - set(third.skipped_stages()) == {wiped}
    before = lin.read_stage(spark, base_dir, wiped)
    after = lin.read_stage(spark, run_copy, wiped)
    assert before.exceptAll(after).isEmpty()
    assert after.exceptAll(before).isEmpty()


@pytest.mark.parametrize(
    "wiped, check", [("nodes", "assert_unique_ids"), ("edges", "assert_edge_endpoints")]
)
def test_failed_check_leaves_stage_unpublished(spark, base_run, run_copy, monkeypatch,
                                               wiped, check):
    """A stage whose constraint check raises publishes no manifest, so
    the next run recomputes that stage and only that stage."""
    _, report = base_run
    shutil.rmtree(os.path.join(run_copy, wiped))

    def fails(*_):
        raise AssertionError("check failed")

    with monkeypatch.context() as m:
        m.setattr(pipeline, check, fails)
        with pytest.raises(AssertionError, match="check failed"):
            _run(spark, run_copy)
    assert lin.completed(run_copy, wiped, report.results[wiped].fingerprint) is None
    rerun = _run(spark, run_copy)
    assert set(STAGES) - set(rerun.skipped_stages()) == {wiped}


def test_checks_run_once_when_written_and_never_on_resume(spark, tmp_path, monkeypatch):
    """Each graph check runs once, as its stage is written; a full
    resume reads only manifests and runs neither."""
    calls = Counter()
    for name in ("assert_unique_ids", "assert_edge_endpoints"):
        def counted(*args, _name=name, _check=getattr(pipeline, name)):
            calls[_name] += 1
            return _check(*args)

        monkeypatch.setattr(pipeline, name, counted)
    run_dir = str(tmp_path / "run")
    src = fixtures.source_files(spark, 30)
    run_pipeline(spark, src, run_dir, corpus_fingerprint="fixture-n30")
    assert calls == {"assert_unique_ids": 1, "assert_edge_endpoints": 1}
    calls.clear()
    resumed = run_pipeline(spark, src, run_dir, corpus_fingerprint="fixture-n30")
    assert set(resumed.skipped_stages()) == set(STAGES)
    assert not calls


def test_null_lang_or_repo_makes_no_nameless_node(spark, tmp_path):
    """A NULL lang (the WRITTEN_IN object) or a NULL repo (the DECLARES
    subject) leaves its triple in `triples` but makes no node or edge;
    the run completes and the files' other triples still become edges."""
    odd = spark.createDataFrame(
        [("repo_x", "src/nolang.py", "c1", None, "import os\ndef f_nolang():\n"),
         (None, "src/norepo.py", "c2", "python", "import sys\ndef f_norepo():\n")],
        SOURCE_FILES,
    )
    run_dir = str(tmp_path / "run")
    src = fixtures.source_files(spark, 30).unionByName(odd)
    run_pipeline(spark, src, run_dir, corpus_fingerprint="fixture-n30-null-endpoints")

    triples = lin.read_stage(spark, run_dir, "triples")
    nameless = triples.where(F.col("subj").isNull() | F.col("obj").isNull())
    assert sorted(r.pred for r in nameless.collect()) == ["DECLARES", "WRITTEN_IN"]
    nodes = lin.read_stage(spark, run_dir, "nodes")
    edges = lin.read_stage(spark, run_dir, "edges")
    assert nodes.where(F.col(":ID").isNull()).isEmpty()
    assert edges.where(F.col(":START_ID").isNull() | F.col(":END_ID").isNull()).isEmpty()
    norepo = {
        (r[0], r[1])
        for r in edges.where(F.col(":START_ID") == "File:src/norepo.py")
        .select(":TYPE", ":END_ID").collect()
    }
    assert norepo == {("WRITTEN_IN", "Language:python"), ("IMPORTS", "Module:sys")}


def test_each_step_that_ran_has_one_usage_record(spark, base_run, run_copy):
    """Every stage that ran and the whole run carry wall, CPU, GC and
    JIT figures; a resumed stage did no work and carries none."""
    _, report = base_run
    for usage in [*(r.usage for r in report.results.values()), report.run]:
        assert None not in astuple(usage)
    resumed = _run(spark, run_copy)
    assert [r.usage for r in resumed.results.values()] == [None] * len(STAGES)


def test_resume_output_identical(spark, base_run, run_copy):
    """Triples build from the stored ingested table, never from the
    source: it holds each file's content_sha and mentions but not its
    content, and after triples/ is wiped a rerun over a source whose
    content is all NULL rebuilds exactly the base run's triples."""
    base_dir, _ = base_run
    ingested = lin.read_stage(spark, run_copy, "ingested")
    assert "mentions" in ingested.columns and "content" not in ingested.columns
    shutil.rmtree(os.path.join(run_copy, "triples"))
    blank = fixtures.source_files(spark, N_FILES).withColumn("content", F.lit(None).cast("string"))
    rerun = run_pipeline(spark, blank, run_copy, corpus_fingerprint=FP)
    assert set(STAGES) - set(rerun.skipped_stages()) == {"triples"}
    before = lin.read_stage(spark, base_dir, "triples")
    after = lin.read_stage(spark, run_copy, "triples")
    assert before.exceptAll(after).isEmpty()
    assert after.exceptAll(before).isEmpty()


def test_stored_triples_src_sha_matches_ingested(spark, base_run):
    """The stored triples and ingested tables agree: every triple's
    src_sha is an ingested content_sha, every ingested file has its
    WRITTEN_IN triple, and the stored triples are exactly
    extract(ingest(source)), the path the stream runs."""
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


def test_write_stage_overwrite_replaces_schema(spark, tmp_path):
    """Re-running a stage under a new fingerprint replaces the table and
    its schema wholesale (overwriteSchema,
    customer_recommendations_writeback.py:144)."""
    run_dir = str(tmp_path / "run")
    v1 = spark.createDataFrame([(1, "x")], "id long, old_prop string")
    lin.write_stage(v1, "s", run_dir, "fp-v1", "1970-01-01T00:00:00Z")

    v2 = spark.createDataFrame([(2, 3.5)], "id long, new_prop double")
    res = lin.write_stage(v2, "s", run_dir, "fp-v2", "1970-01-01T00:00:00Z")
    assert not res.skipped
    got = lin.read_stage(spark, run_dir, "s")
    assert got.columns == ["id", "new_prop"]
    assert [tuple(r) for r in got.collect()] == [(2, 3.5)]


def test_write_stage_records_empty_stage_from_footers(spark, tmp_path):
    """A 0-row stage still writes one 0-row part file, so its row count
    and its one-row lineage table come from parquet footers."""
    run_dir = str(tmp_path / "run")
    empty = spark.range(10).where(F.col("id") < 0)
    res = lin.write_stage(empty, "s", run_dir, "fp-empty", "1970-01-01T00:00:00Z")
    assert res.row_count == 0
    with open(os.path.join(run_dir, "s", "_MANIFEST.json")) as f:
        assert json.load(f)["row_count"] == 0
    lineage = spark.read.parquet(os.path.join(run_dir, "s", "lineage")).collect()
    assert [(r.row_count, r.stage) for r in lineage] == [(0, "s")]
    assert lin.completed(run_dir, "s", "fp-empty").row_count == 0


def test_failed_rewrite_invalidates_completed_stage(spark, tmp_path):
    """A stage complete under fingerprint A, then rewritten under B by a
    write that dies part-way: the overwrite has already deleted A's
    data, so A's manifest must no longer mark the stage complete."""
    run_dir = str(tmp_path / "run")
    ok = spark.range(100).withColumn("v", F.col("id") * 2)
    lin.write_stage(ok, "s", run_dir, "fp-A", "1970-01-01T00:00:00Z")
    assert lin.completed(run_dir, "s", "fp-A") is not None

    dies = spark.range(100).withColumn(
        "v", F.when(F.col("id") == 57, F.raise_error(F.lit("killed mid-write")))
        .otherwise(F.col("id"))
    )
    with pytest.raises(Exception, match="killed mid-write"):
        lin.write_stage(dies, "s", run_dir, "fp-B", "1970-01-01T00:00:00Z")
    assert lin.completed(run_dir, "s", "fp-A") is None
    assert lin.completed(run_dir, "s", "fp-B") is None


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


def test_cli_in_process_keeps_the_shared_session(spark, tmp_path, capsys):
    """main([...]) runs the pipeline in-process (no subprocess) and
    leaves the caller's JVM running: only a script run reaps it. Its
    JSON summary comes from the report's records: a stage that ran
    carries all four usage figures, a resumed stage none."""
    import run_pipeline as cli

    out = str(tmp_path / "run")
    argv = ["--synthetic", "30", "--output", out, "--cores", "4"]
    assert cli.main(argv) == 0
    first = json.loads(capsys.readouterr().out)
    for name in STAGES:
        assert os.path.exists(os.path.join(out, name, "_MANIFEST.json"))
    assert spark.range(1).count() == 1

    assert "sections" not in first and "validate" not in first
    for key in ("elapsed_sec", "triples", "triples_per_sec", "own_cpu_s", "gc_ms", "jit_ms"):
        assert first[key] is not None, key
    for rec in first["stages"].values():
        assert all(rec[f] is not None for f in USAGE_FIELDS), rec

    assert cli.main(argv) == 0
    second = json.loads(capsys.readouterr().out)
    assert [s["skipped"] for s in second["stages"].values()] == [True] * len(STAGES)
    for rec in second["stages"].values():
        assert all(rec[f] is None for f in USAGE_FIELDS), rec


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
