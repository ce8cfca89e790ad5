"""Extraction correctness: golden P/R, a Python-re reference, sha invariant."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from pyspark.sql import functions as F

from kgflow import fixtures
from kgflow.schemas import SOURCE_FILES
from kgflow.stages.extract import RULES, extract
from kgflow.stages.ingest import ingest

N_FILES = 150


def _distinct_triples(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").distinct().collect()}


def _reference_triples(source_rows) -> Counter:
    """Plain-Python extraction over collected source rows: Python ``re``
    over the same RULES and ``hashlib`` for the sha, independent of the
    JVM regex engine and of F.sha2. Rules run over "\n" + content, as
    in extract.mentions. Rows of extract()'s schema
    (subj, pred, obj, src_sha, repo, lang), as a multiset."""
    out: Counter = Counter()
    for r in source_rows:
        content = r.content or ""
        sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
        file_ref = f"{r.repo}/{r.path}"
        out[(file_ref, "WRITTEN_IN", r.lang, sha, r.repo, r.lang)] += 1
        for lang, pred, pattern in RULES:
            if lang != r.lang:
                continue
            for obj in re.findall(pattern, "\n" + content):
                subj = r.repo if pred == "DECLARES" else file_ref
                out[(subj, pred, obj, sha, r.repo, r.lang)] += 1
    return out


def test_extraction_precision_recall_vs_golden(spark):
    src = fixtures.source_files(spark, N_FILES)
    got = _distinct_triples(extract(ingest(src)))
    want = {
        (r.subj, r.pred, r.obj)
        for r in fixtures.golden_triples(spark, N_FILES).collect()
    }
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.4f}; extras: {sorted(got - want)[:10]}"
    assert recall >= 0.95, f"recall {recall:.4f}; missing: {sorted(want - got)[:10]}"


# Only "\n" breaks a line. java.util.regex's (?m)^ also matches after
# \r, U+0085 and U+2028, and its `.` stops at \r; Python's do neither.
LINE_BREAK_ROWS = [
    ("lb", "src/cr.py", "c", "python", "a\rdef cr_only(x):\ndef nl_ok(y):\n"),
    ("lb", "src/nel.py", "c", "python", "a\u0085class nel_only:\nclass NlOk:\n"),
    ("lb", "src/ls.go", "c", "go", "x\u2028func ls_only() {}\nfunc nlOk() {}\n"),
    ("lb", "src/crlf.py", "c", "python", "import os\r\ndef crlf_ok():\r\n"),
    ("lb", "src/imp.js", "c", "javascript", "import {a,\rb} from 'mod_x'\n"),
]


def test_extract_matches_python_re_reference(spark):
    """java.util.regex and Python re agree on every rule: extract() and
    the plain-Python reference emit the same multiset of rows, on the
    fixture corpus and on LINE_BREAK_ROWS."""
    src = fixtures.source_files(spark, N_FILES).unionByName(
        spark.createDataFrame(LINE_BREAK_ROWS, SOURCE_FILES)
    )
    rows = src.collect()
    want = _reference_triples(rows)
    got = Counter(tuple(r) for r in extract(ingest(src)).collect())
    assert got == want, (
        f"JVM-only: {sorted(got - want)[:5]}; re-only: {sorted(want - got)[:5]}"
    )
    # the comparison covers CALLS and a NULL-content file
    assert any(pred == "CALLS" for _, pred, *_ in want)
    assert any(r.content is None for r in rows)
    # no declaration after a bare \r, U+0085 or U+2028; a JS import
    # whose braces span a \r is still found
    line_break_objs = {obj for _, pred, obj, _, repo, _ in got
                       if repo == "lb" and pred != "WRITTEN_IN"}
    assert line_break_objs == {"nl_ok", "NlOk", "nlOk", "os", "crlf_ok", "mod_x"}


def test_content_sha_preserved_through_extraction(spark):
    """BASELINE.json input_hint invariant: sha2(content,256) equality
    from ingest through extraction — every triple's src_sha must exist
    in the ingested table, and every non-empty file must be represented."""
    src = fixtures.source_files(spark, N_FILES)
    ing = ingest(src).cache()
    triples = extract(ing)
    orphans = triples.select("src_sha").distinct().join(
        ing.select(F.col("content_sha").alias("src_sha")).distinct(),
        "src_sha",
        "left_anti",
    )
    assert orphans.isEmpty()
    # every file emits at least its WRITTEN_IN triple
    missing = ing.select(F.col("content_sha").alias("src_sha")).distinct().join(
        triples.select("src_sha").distinct(), "src_sha", "left_anti"
    )
    assert missing.isEmpty()
    ing.unpersist()


def test_unicode_identifiers_extracted(spark):
    src = fixtures.source_files(spark, 10)
    got = _distinct_triples(extract(ingest(src)))
    assert any(o == "café_handler" for _, p, o in got if p == "DECLARES")
    assert any(o == "übermodel" for _, p, o in got if p == "DECLARES")


def test_empty_and_mentionless_files_emit_only_written_in(spark):
    src = fixtures.source_files(spark, 3)  # includes i=1 (empty), i=2 (filler)
    triples = extract(ingest(src))
    per_file = (
        triples.groupBy("src_sha", "pred").count().collect()
    )
    # no DECLARES/IMPORTS from the empty or filler files beyond file 0's
    rec1 = fixtures._file_record(1, 3)
    rec2 = fixtures._file_record(2, 3)
    assert rec1["golden"] == [(f"{rec1['repo']}/{rec1['path']}", "WRITTEN_IN", rec1["lang"])]
    assert rec2["golden"] == [(f"{rec2['repo']}/{rec2['path']}", "WRITTEN_IN", rec2["lang"])]
    assert per_file  # sanity


def test_calls_predicate_extracted(spark):
    """CALLS rules (schemas.py predicate, previously dead) emit
    (file_ref, CALLS, callee) for python/javascript/go call sites; P/R
    golden covers exactness."""
    src = fixtures.source_files(spark, N_FILES)
    got = _distinct_triples(extract(ingest(src)))
    calls = {(s, o) for s, p, o in got if p == "CALLS"}
    assert calls, "no CALLS triples"
    # every CALLS subj is a file_ref (contains a path), never a repo
    assert all("/src/" in s for s, _ in calls)


def test_null_content_emits_written_in_both_engines(spark):
    """NULL content must behave like empty content (round-1 advice):
    extract() and the Python-re reference both emit the WRITTEN_IN
    triple, nothing else."""
    src = fixtures.source_files(spark, 10)  # includes i=9 (NULL content)
    rec9 = fixtures._file_record(9, 10)
    assert rec9["content"] is None
    ref9 = f"{rec9['repo']}/{rec9['path']}"
    want = [(ref9, "WRITTEN_IN", rec9["lang"])]
    got = extract(ingest(src)).where(F.col("subj") == ref9).collect()
    assert [(r.subj, r.pred, r.obj) for r in got] == want
    reference = _reference_triples(
        r for r in src.collect() if f"{r.repo}/{r.path}" == ref9
    )
    assert [t[:3] for t in reference.elements()] == want


def test_extract_with_manifest_alias_serves_perfbench(spark):
    """perfbench imports extract_with_manifest and ingest_manifest at
    module level and its traced run calls them with these exact
    arguments; the aliases must keep both working and return
    extract(ingest(source))."""
    import perfbench.workloads  # noqa: F401  fails at import if the alias goes
    from kgflow.stages.extract import extract_with_manifest
    from kgflow.stages.ingest import ingest_manifest

    src = fixtures.source_files(spark, 40)
    alias = extract_with_manifest(
        src, ingest_manifest(src), engine="native", broadcast=True, assume_unique=True
    )
    inline = extract(ingest(src))
    assert alias.exceptAll(inline).isEmpty()
    assert inline.exceptAll(alias).isEmpty()
