"""Unit tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen, trace, workloads

HERE = os.path.dirname(__file__)
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda seed: gen.bulk_corpus(seed, 60),
    lambda seed: gen.bulk_corpus(seed, 60, (3, 9)),
])
def test_generator_is_a_function_of_the_seed(make):
    a, b, c = make(5), make(5), make(6)
    assert a.rows == b.rows and a.golden == b.golden and a.alias_group == b.alias_group
    assert a.rows["content"] != c.rows["content"]
    assert a.golden != c.golden


def test_stored_parquet_is_identical_for_one_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_parquet(gen.bulk_corpus(3, 50), str(tmp_path / d), 2)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_golden_triples_come_from_the_template_parameters():
    c = gen.bulk_corpus(1, 30)
    refs = {f"{r}/{p}" for r, p in zip(c.rows["repo"], c.rows["path"])}
    written = {s for s, p, _ in c.golden if p == "WRITTEN_IN"}
    assert written == refs  # every file, the empty and the NULL one included
    declared = {o for _, p, o in c.golden if p == "DECLARES"}
    assert declared == set(c.alias_group)


def test_filler_lines_are_fixed_width_hex_comments():
    import numpy as np
    import random

    f = gen.Filler(np.random.default_rng(0), 64)
    lines = f.block(random.Random(0), 5).split("\n")
    assert len(lines) == 5
    assert all(re.fullmatch(r"#( [0-9a-f]{8}){7}", ln) for ln in lines)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

def _span(i, parent, lo, hi, layer="x"):
    return trace.Span(i, i, layer, lo, hi, parent, "r")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("root", None, 0.0, 10.0, "pipeline"),
        _span("a", "root", 1.0, 4.0, "ingest"),
        _span("b", "root", 3.0, 6.0, "extract"),   # overlaps a: union 1..6
        _span("a1", "a", 2.0, 3.0, "lineage"),
        _span("c", "root", 9.0, 12.0, "link"),    # clipped to the parent: 9..10
    ]
    st = trace.self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["a1"] == pytest.approx(1.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(3.0)
    layers = trace.layer_times(spans)
    assert layers == pytest.approx(
        {"pipeline": 4.0, "ingest": 2.0, "extract": 3.0, "lineage": 1.0, "link": 3.0})


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_and_dumps(tmp_path):
    tr = trace.Tracer("t")
    with tr.span("outer", "pipeline"):
        with tr.span("inner", "ingest"):
            pass
    assert [s.parent for s in tr.spans] == [None, "t/0"]
    assert all(s.end >= s.start for s in tr.spans)
    trace.dump(tr.spans, str(tmp_path / "spans.json"))
    assert len(json.load(open(tmp_path / "spans.json"))) == 2


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def _recorded_log():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        return f.readlines()


def test_event_log_aggregation_on_a_recorded_log():
    jobs, tasks = trace.read_event_logs([_recorded_log()])
    groups = {j.group for j in jobs.values()}
    assert {"r/1", "r/2"} <= groups
    spans = [_span("r/0", None, 0, 2e10, "pipeline"),
             _span("r/1", "r/0", 0, 2e10, "ingest"),
             _span("r/2", "r/0", 0, 2e10, "lineage")]
    jspans = trace.job_spans(spans, jobs)
    # a job inside a lineage span is charged to the stage that called it
    layers = {s.parent: s.layer for s in jspans}
    assert layers == {"r/1": "ingest", "r/2": "pipeline"}
    folded = trace.fold_tasks(jobs, tasks, {s.id[len("job:"):]: s.layer for s in jspans})
    r1_stages = {st for j in jobs.values() if j.group == "r/1" for st in j.stages}
    ingest = folded["ingest"]
    assert ingest["jobs"] == sum(1 for j in jobs.values() if j.group == "r/1") == 3
    want_s = sum(t.run_s for st in r1_stages for t in tasks.get(st, []))
    assert want_s > 0
    assert ingest["task_s"] == pytest.approx(want_s)
    assert ingest["task_skew"] >= 1.0
    assert ingest["rows_in"] > 0
    assert "pipeline" in folded and folded["pipeline"]["shuffle_write_mb"] > 0


def test_unowned_jobs_fall_back_to_the_open_span():
    jobs = {"0:0": trace.Job("0:0", "stream-run", 1.0, 2.0, [])}
    spans = [_span("s", None, 0.0, 5.0, "streaming")]
    assert trace.job_spans(spans, jobs) == []
    (j,) = trace.job_spans(spans, jobs, fallback_layer="extract")
    assert (j.parent, j.layer) == ("s", "extract")


# --------------------------------------------------------------------------
# scores and metric names
# --------------------------------------------------------------------------

def test_alias_pair_scores():
    group = {"aB": "a", "a_b": "a", "AB": "a", "cd": "c", "cD": "c"}
    # group "a" fully merged (3 pairs), "c" split (1 pair missed)
    assert workloads.alias_pair_scores({"aB": "AB", "a_b": "AB"}, group) == (1.0, 0.75)
    # merging the two groups: 10 merged pairs, 4 of them planted
    everything = {s: "AB" for s in group}
    assert workloads.alias_pair_scores(everything, group) == (0.4, 1.0)


def test_metric_names_and_benchmark_json_agree():
    names = list(workloads.END_TO_END) + list(workloads.PER_LAYER)
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
