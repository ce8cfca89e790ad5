"""The benchmark's workloads, their correctness checks and their traced runs.

Each workload is a closed loop with one client that submits one job at
a time, against ``local[nproc]`` from a single process:

  kg_bulk    run_pipeline over a mixed-language, filler-heavy corpus
             (Zipf repo skew, ~24 KB per file): scan + sha256 + regex
             extraction are the largest stage share.
  kg_stream  streaming.incremental_extract drains a backlog of small
             parquet files with availableNow, in many micro-batches.

The measured job is the first in a fresh JVM, as the pipeline CLI runs
it, so its time includes Spark's code generation and JIT warm-up. Every workload is
sized so that its first job alone outlasts ``--seconds``; the loop then
stops, and a run holds exactly one measured job. (Should a job ever end
before ``--seconds``, further jobs are submitted and checked until the
window closes, but the end-to-end figures stay those of the first job,
so every run measures the same thing.)
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from kgflow import audit
from kgflow import lineage as lin
from kgflow.pipeline import run_pipeline
from kgflow.session import get_spark
from kgflow.stages.canonicalize import canonical_map
from kgflow.stages.extract import extract, extract_with_manifest
from kgflow.stages.ingest import ingest, ingest_manifest
from kgflow.stages.link import link
from kgflow.stages.materialize import assert_edge_endpoints, assert_unique_ids, materialize
from kgflow.streaming.incremental import incremental_extract
from perfbench import gen, host, trace

RUN_TS = "1970-01-01T00:00:00Z"
STAGE_LAYERS = ("ingest", "extract", "link", "canonicalize", "materialize")
MIN_TRIPLE_PR = 0.95
MIN_ALIAS_PR = 0.9
SHA_SAMPLE = 256
SETUP_REPEATS = 3
# the traced run skips its local[1] job once it has taken this long
TRACE_BUDGET_S = 100.0

SIZES = {
    "kg_bulk": {"files": 8000, "parquet_files": 8, "block_lines": (28, 100)},
    "kg_stream": {"files": 4000, "parquet_files": 320, "block_lines": (3, 9)},
}
WORKLOADS = tuple(SIZES)


class Run:
    """One benchmark run: its work dir, counters and metrics."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace_on: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace_on = seconds, trace_on
        self.name = f"{workload}-s{seed}-t{int(trace_on)}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench", "work", self.name)
        self.results_dir = os.path.join(root, ".perfbench", "results")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        os.makedirs(self.results_dir, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.record: dict = {"workload": workload, "seed": seed, "trace": int(trace_on)}
        self.metrics: dict[str, float] = {}
        self.tracers: list = []  # (Tracer, job) per traced session, in start order

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{what}: {detail}" if detail else what)
        return ok

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — every failure is counted
            self.fail(what, e)
            return None

    def fail(self, what: str, e: Exception) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {type(e).__name__}: {e}"[:500])
        self.record.setdefault("tracebacks", []).append(traceback.format_exc())


# --------------------------------------------------------------------------
# session and inputs
# --------------------------------------------------------------------------

def start_session(run: Run, cores: int, event_log: bool = False):
    # SparkSession.builder keeps options across sessions of one process,
    # so the event log is switched off explicitly, not just left unset
    conf = {
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + run.path("eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(app_name=f"kgflow-bench-{run.workload}", cores=cores, extra_conf=conf)


def restart_session(run: Run, spark, cores: int, event_log: bool):
    """New SparkContext in the same JVM: code generation and JIT stay warm."""
    spark.stop()
    return start_session(run, cores, event_log)


def make_corpus(workload: str, seed: int) -> gen.Corpus:
    size = SIZES[workload]
    return gen.bulk_corpus(seed, size["files"], size["block_lines"])


def set_up_inputs(run: Run) -> tuple[gen.Corpus, str, float]:
    """Generate and store the inputs SETUP_REPEATS times (once in a
    traced run, which does not report setup_s); returns the corpus, its
    parquet dir and the median time of one set-up."""
    input_dir = run.path("input")
    times = []
    corpus = None
    for _ in range(1 if run.trace_on else SETUP_REPEATS):
        t0 = time.monotonic()
        shutil.rmtree(input_dir, ignore_errors=True)
        corpus = make_corpus(run.workload, run.seed)
        gen.write_parquet(corpus, input_dir, SIZES[run.workload]["parquet_files"])
        times.append(host.elapsed(t0))
    return corpus, input_dir, host.p50(times)


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------

def parquet_files(data_dir: str) -> list[str]:
    """Data files of a Spark-written parquet dir (no _SUCCESS, .crc, metadata)."""
    return sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def read_rows(data_dir: str, columns: list[str]) -> list[tuple]:
    out: list[tuple] = []
    for f in parquet_files(data_dir):
        t = pq.read_table(f, columns=columns)
        out.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return out


def precision_recall(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 0.0, hit / len(want) if want else 0.0)


def check_triples(run: Run, corpus: gen.Corpus, rows: list[tuple]) -> tuple[float, float]:
    """Triple P/R against the generator's golden set, and src_sha ==
    sha256(content) on a seeded sample of WRITTEN_IN rows."""
    got = {(s, p, o) for s, p, o, _ in rows}
    prec, rec = precision_recall(got, corpus.golden)
    run.check("triple_precision", prec >= MIN_TRIPLE_PR, f"{prec:.4f}")
    run.check("triple_recall", rec >= MIN_TRIPLE_PR, f"{rec:.4f}")
    content = {
        f"{r}/{p}": c for r, p, c in
        zip(corpus.rows["repo"], corpus.rows["path"], corpus.rows["content"])
    }
    written = [(s, sha) for s, p, _, sha in rows if p == "WRITTEN_IN"]
    sample = random.Random(run.seed).sample(written, min(SHA_SAMPLE, len(written)))
    bad = [s for s, sha in sample
           if hashlib.sha256((content[s] or "").encode()).hexdigest() != sha]
    run.check("src_sha", bool(sample) and not bad, f"{len(bad)} of {len(sample)} mismatched")
    return prec, rec


def alias_pair_scores(canonical: dict[str, str], group: dict[str, str]) -> tuple[float, float]:
    """Pair-counting precision/recall of the canonical ids against the
    planted alias groups, over every declared symbol (a symbol absent
    from the canonical map is its own canonical)."""
    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    cid = {s: canonical.get(s, s) for s in group}
    both = pairs(Counter((cid[s], group[s]) for s in group))
    merged = pairs(Counter(cid.values()))
    planted = pairs(Counter(group.values()))
    return (both / merged if merged else 1.0, both / planted if planted else 1.0)


def check_pipeline_outputs(run: Run, corpus: gen.Corpus, run_dir: str, emitted: int) -> dict:
    rows = read_rows(os.path.join(run_dir, "triples", "data"), ["subj", "pred", "obj", "src_sha"])
    run.check("triple_rows", len(rows) == emitted, f"{len(rows)} read vs {emitted} reported")
    prec, rec = check_triples(run, corpus, rows)
    cmap = dict(read_rows(os.path.join(run_dir, "canonical_map", "data"), ["member", "canonical"]))
    a_prec, a_rec = alias_pair_scores(cmap, corpus.alias_group)
    run.check("alias_precision", a_prec >= MIN_ALIAS_PR, f"{a_prec:.4f}")
    run.check("alias_recall", a_rec >= MIN_ALIAS_PR, f"{a_rec:.4f}")
    return {"triple_precision": prec, "triple_recall": rec,
            "alias_precision": a_prec, "alias_recall": a_rec}


def footer_rows(data_dir: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(data_dir))


def check_stream_outputs(run: Run, spark, corpus: gen.Corpus, input_dir: str, out_dir: str) -> dict:
    """Stream output == batch extract(ingest(...)) over the same files,
    as a multiset; plus the golden and src_sha checks."""
    cols = ["subj", "pred", "obj", "src_sha", "repo", "lang"]
    streamed = Counter(read_rows(out_dir, cols))
    batch = Counter(
        tuple(r) for r in
        extract(ingest(spark.read.parquet(input_dir))).select(*cols).collect()
    )
    run.check("stream_equals_batch", streamed == batch,
              f"{sum((streamed - batch).values())} extra, {sum((batch - streamed).values())} missing")
    prec, rec = check_triples(run, corpus, [(s, p, o, sha) for s, p, o, sha, _, _ in streamed])
    return {"triple_precision": prec, "triple_recall": rec}


def check_job(run: Run, spark, corpus: gen.Corpus, input_dir: str, job: dict) -> dict:
    if run.workload == "kg_stream":
        return check_stream_outputs(run, spark, corpus, input_dir, job["out"])
    return check_pipeline_outputs(run, corpus, job["out"], job["rows"]["triples"])


# --------------------------------------------------------------------------
# jobs
# --------------------------------------------------------------------------

class Window:
    """Wall, CPU, peak RSS and host noise (kgflow.audit.CpuAudit) around
    one job."""

    def __enter__(self):
        self._audit = audit.CpuAudit.start()
        self._cpu0 = audit._own_cpu_seconds()
        self._rss = host.RssPeak().start()
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_s = host.elapsed(self._t0)
        self.cpu_s = (audit._own_cpu_seconds() or 0.0) - (self._cpu0 or 0.0)
        self.peak_rss_mb = self._rss.stop()
        w = self._audit.stop()
        self.host = {"steal_pct": w.steal_pct, "iowait_pct": w.iowait_pct,
                     "other_busy_pct": w.other_busy_pct, "load1": w.load1}
        return False


def plain_pipeline(spark, input_dir: str, run_dir: str, fp: str) -> dict:
    report = run_pipeline(spark, spark.read.parquet(input_dir), run_dir, fp,
                          run_ts=RUN_TS, validate=True)
    return {"rows": {k: r.row_count for k, r in report.results.items()}}


def plain_stream(spark, input_dir: str, out_dir: str) -> dict:
    q = incremental_extract(spark, input_dir, out_dir, out_dir + "_checkpoint")
    q.awaitTermination()
    return {"query": q}


def traced_pipeline(tr: trace.Tracer, spark, input_dir: str, run_dir: str, fp0: str) -> dict:
    """The stage functions called in pipeline.run_pipeline's order, each
    stage's build and its lineage.write_stage under their own spans."""
    rows: dict[str, int] = {}
    source = spark.read.parquet(input_dir)
    sc = spark.sparkContext

    def write(name: str, fp: str, df) -> None:
        with tr.span(f"write_stage:{name}", "lineage"):
            rows[name] = lin.write_stage(df, name, run_dir, fp, RUN_TS).row_count

    def build(layer: str, fn):
        with tr.span(f"{layer}.build", layer):
            return fn()

    with tr.span("pipeline", "pipeline"):
        fp = lin.fingerprint({"corpus": fp0, "schema_mode": "overwrite"})
        with tr.span("ingest", "ingest"):
            write("ingested", fp, build("ingest", lambda: ingest_manifest(source)))
            manifest = lin.read_stage(spark, run_dir, "ingested")
        fp = lin.fingerprint({"engine": "native"}, fp)
        with tr.span("extract", "extract"):
            write("triples", fp, build("extract", lambda: extract_with_manifest(
                source, manifest, engine="native",
                broadcast=rows["ingested"] <= 2_000_000, assume_unique=True)))
            triples = lin.read_stage(spark, run_dir, "triples")
        fp = lin.fingerprint({"fuzzy": True}, fp)
        with tr.span("link", "link"):
            dictionary, edges = build("link", lambda: link(triples, fuzzy=True))
            write("alias_edges", fp, edges)
            alias_edges = lin.read_stage(spark, run_dir, "alias_edges")
        fp = lin.fingerprint({}, fp)
        with tr.span("canonicalize", "canonicalize"):
            write("canonical_map", fp, build("canonicalize", lambda: canonical_map(alias_edges)))
            cmap = lin.read_stage(spark, run_dir, "canonical_map")
        fp = lin.fingerprint({"out_partitions": None}, fp)
        with tr.span("materialize", "materialize"):
            nodes_df, edges_df = build("materialize", lambda: materialize(triples, cmap))
            write("nodes", fp, nodes_df)
            write("edges", fp, edges_df)
        with tr.span("validate", "pipeline.validate") as v:
            nodes = lin.read_stage(spark, run_dir, "nodes")
            edges = lin.read_stage(spark, run_dir, "edges")

            def probe(fn, *args):
                sc.setJobGroup(v.id, v.name)  # job groups are per thread
                return fn(*args)

            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [pool.submit(probe, assert_unique_ids, nodes),
                           pool.submit(probe, assert_edge_endpoints, nodes, edges)]
                for f in futures:
                    f.result()
    return {"rows": rows, "dictionary_rows": dictionary.count()}


def traced_stream(tr: trace.Tracer, spark, input_dir: str, out_dir: str) -> dict:
    with tr.span("streaming.drain", "streaming"):
        q = incremental_extract(spark, input_dir, out_dir, out_dir + "_checkpoint")
        q.awaitTermination()
    return {"query": q}


def run_job(run: Run, spark, input_dir: str, tag: str, tracer: trace.Tracer | None = None) -> dict:
    """One job of the workload, timed; traced when ``tracer`` is given."""
    out = run.path(tag)
    fp = f"{run.workload}-{run.seed}-{tag}"
    with Window() as w:
        if run.workload == "kg_stream":
            job = (traced_stream(tracer, spark, input_dir, out) if tracer
                   else plain_stream(spark, input_dir, out))
        else:
            job = (traced_pipeline(tracer, spark, input_dir, out, fp) if tracer
                   else plain_pipeline(spark, input_dir, out, fp))
    if tracer is not None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    q = job.pop("query", None)
    if q is not None:
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        job["progress"] = [p for p in q.recentProgress if p.numInputRows > 0]
        job["rows"] = {"triples": footer_rows(out)}
    job.update(window=w, out=out)
    return job


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def execute(run: Run) -> None:
    cores = host.nproc()
    t0 = time.monotonic()
    spark = start_session(run, cores, event_log=run.trace_on)
    session_s = host.elapsed(t0)
    run.metrics["session.start_s"] = session_s
    try:
        corpus, input_dir, gen_s = set_up_inputs(run)
        run.metrics["setup_s"] = session_s + gen_s
        run.record["input_mb"] = corpus.content_bytes() / 1e6
        run.record["input_rows"] = len(corpus)
        if run.trace_on:
            spark = traced_sequence(run, spark, corpus, input_dir)
        else:
            measured_loop(run, spark, corpus, input_dir)
    finally:
        host.stop_spark(spark)
    if run.trace_on and run.tracers:
        run.attempt("fold_event_logs", lambda: fold_event_logs(run))


def first_job_metrics(run: Run, job: dict, scores: dict) -> None:
    w = job["window"]
    run.metrics.update({
        "wall_s": w.wall_s,
        "triples_per_s": job["rows"]["triples"] / w.wall_s,
        "cpu_s": w.cpu_s,
        "spark.peak_rss_mb": w.peak_rss_mb,
        "triple_precision": scores.get("triple_precision", 0.0),
        "triple_recall": scores.get("triple_recall", 0.0),
        "canonicalize.alias_precision": scores.get("alias_precision", 0.0),
        "canonicalize.alias_recall": scores.get("alias_recall", 0.0),
        "host.steal_pct": w.host["steal_pct"],
        "host.iowait_pct": w.host["iowait_pct"],
        "host.other_busy_pct": w.host["other_busy_pct"],
    })
    run.record["host"] = w.host


def measured_loop(run: Run, spark, corpus: gen.Corpus, input_dir: str) -> None:
    """Closed loop of jobs until ``run.seconds`` have elapsed; every job
    is checked, the first job's figures are the run's end-to-end
    metrics."""
    t0 = time.monotonic()
    k = 0
    while True:
        job = run.attempt("job", lambda: run_job(run, spark, input_dir, f"job{k}"))
        if job is not None:
            scores = run.attempt("check", lambda: check_job(run, spark, corpus, input_dir, job))
            if k == 0:
                first_job_metrics(run, job, scores or {})
        k += 1
        if job is None or host.elapsed(t0) >= run.seconds:
            break
    run.record["jobs"] = k


def traced_sequence(run: Run, spark, corpus: gen.Corpus, input_dir: str):
    """Traced run: the cold job traced (it gives the per-layer figures),
    then, warm, untraced / traced / untraced for the tracing overhead,
    and traced at local[1] for the per-layer speed-up, unless the run
    has already taken TRACE_BUDGET_S. Sessions restart in the same JVM
    to switch the event log and the core count. Returns the live
    session."""
    t0 = time.monotonic()
    cores = host.nproc()
    jobs = {}
    plan = [("cold", cores, True), ("warm_a", cores, False), ("warm", cores, True),
            ("warm_b", cores, False), ("one", 1, True)]
    for i, (tag, n, traced) in enumerate(plan):
        if tag == "one" and host.elapsed(t0) > TRACE_BUDGET_S:
            run.record["skipped"] = "one"
            break
        if i:
            spark = restart_session(run, spark, n, event_log=traced)
        tr = trace.Tracer(tag, spark.sparkContext) if traced else None
        job = run.attempt(f"{tag}_job", lambda: run_job(run, spark, input_dir, tag, tr))
        if job is None:
            break
        jobs[tag] = job
        if tr is not None:
            run.tracers.append((tr, job))
        if tag == "cold":
            scores = run.attempt("check", lambda: check_job(run, spark, corpus, input_dir, job))
            first_job_metrics(run, job, scores or {})
        else:
            run.check(f"{tag}_rows", job["rows"] == jobs["cold"]["rows"],
                      f"{job['rows']} vs traced cold job {jobs['cold']['rows']}")
    if "warm_b" in jobs:
        untraced = (jobs["warm_a"]["window"].wall_s + jobs["warm_b"]["window"].wall_s) / 2
        run.metrics["pipeline.untraced_wall_s"] = untraced
        run.metrics["pipeline.traced_wall_s"] = jobs["warm"]["window"].wall_s
        run.metrics["pipeline.trace_overhead_s"] = jobs["warm"]["window"].wall_s - untraced
    if "one" in jobs:
        run.metrics["pipeline.speedup_4v1"] = (
            jobs["one"]["window"].wall_s / jobs["warm"]["window"].wall_s)
    return spark


def layer_report(tracer: trace.Tracer, jobs, tasks, fallback_layer=None) -> dict:
    """Per-layer self times and Spark task totals for one traced job."""
    jspans = trace.job_spans(tracer.spans, jobs, fallback_layer)
    spans = tracer.spans + jspans
    by_id = {s.id: s for s in spans}
    job_layer = {s.id[len("job:"):]: s.layer for s in jspans}
    return {
        "times": trace.layer_times(spans),
        "tasks": trace.fold_tasks(jobs, tasks, job_layer),
        "build": {L: sum(s.duration for s in tracer.spans if s.name == f"{L}.build")
                  for L in STAGE_LAYERS},
        "write": {L: trace.union_length([(s.start, s.end) for s in jspans
                                         if by_id[s.parent].layer == "lineage" and s.layer == L])
                  for L in STAGE_LAYERS},
        "spans": spans,
    }


def fold_event_logs(run: Run) -> None:
    """Fold the event logs of the traced sessions into each traced job
    (cold, warm, one): a job belongs to the traced job whose spans were
    open when it was submitted."""
    evdir = run.path("eventlog")
    jobs, tasks = trace.load_event_logs([os.path.join(evdir, f) for f in os.listdir(evdir)])
    fallback = "extract" if run.workload == "kg_stream" else None
    reports = []
    for tr, _ in run.tracers:
        lo, hi = min(s.start for s in tr.spans), max(s.end for s in tr.spans)
        mine = {k: j for k, j in jobs.items() if lo <= j.start <= hi}
        reports.append(layer_report(tr, mine, tasks, fallback))
    # the breakdown of the cold job, the one the end-to-end metrics time;
    # the warm traced job's self times (no code generation or JIT
    # warm-up) are reported beside it
    run.metrics.update(layer_metrics(reports[0], run.tracers[0][1]))
    if len(reports) > 1:
        for L in STAGE_LAYERS:
            run.metrics[f"{L}.warm_self_s"] = reports[1]["times"].get(L, 0.0)
    trace.dump([s for r in reports for s in r["spans"]],
               os.path.join(run.results_dir, f"{run.name}.spans.json"))
    if len(reports) == 3:
        warm, one = reports[1]["times"], reports[2]["times"]
        for L in STAGE_LAYERS:
            run.metrics[f"{L}.speedup_4v1"] = (
                one.get(L, 0.0) / warm[L] if warm.get(L) else 0.0)


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

# wall_s and triples_per_s of the untraced run are kept in its record,
# not printed: on a shared host they drift with hypervisor steal far
# more than cpu_s does (see perfbench/README.md)
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

PER_LAYER = {"session.start_s": "s"}
for _L in ("ingest", "extract"):
    PER_LAYER.update({f"{_L}.self_s": "s", f"{_L}.task_s": "s", f"{_L}.rows_in": "count",
                      f"{_L}.rows_out": "count", f"{_L}.task_skew": "ratio"})
PER_LAYER.update({
    "link.self_s": "s", "link.build_s": "s", "link.write_s": "s", "link.task_s": "s",
    "link.shuffle_mb": "MB", "link.spill_mb": "MB", "link.dictionary_rows": "count",
    "link.alias_edges": "count",
    "canonicalize.self_s": "s", "canonicalize.build_s": "s", "canonicalize.jobs": "count",
    "canonicalize.task_s": "s", "canonicalize.alias_precision": "ratio",
    "canonicalize.alias_recall": "ratio",
    "materialize.self_s": "s", "materialize.build_s": "s", "materialize.write_s": "s",
    "materialize.task_s": "s", "materialize.shuffle_mb": "MB", "materialize.nodes": "count",
    "materialize.edges": "count",
    "lineage.commit_s": "s",
    "pipeline.validate_s": "s", "pipeline.gap_s": "s", "pipeline.untraced_wall_s": "s",
    "pipeline.traced_wall_s": "s", "pipeline.trace_overhead_s": "s",
    "streaming.self_s": "s", "streaming.batches": "count", "streaming.batch_ms_p50": "ms",
    "streaming.get_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio", "spark.peak_rss_mb": "MB",
    "host.steal_pct": "%", "host.iowait_pct": "%", "host.other_busy_pct": "%",
})
for _L in STAGE_LAYERS:
    PER_LAYER[f"{_L}.warm_self_s"] = "s"
for _L in STAGE_LAYERS + ("pipeline",):
    PER_LAYER[f"{_L}.speedup_4v1"] = "ratio"


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def layer_metrics(rep: dict, extra: dict) -> dict[str, float]:
    """Map one traced job's layer report onto the per-layer metric names."""
    m: dict[str, float] = {}
    t, tasks = rep["times"], rep["tasks"]
    for L in STAGE_LAYERS:
        a = tasks.get(L, {})
        m[f"{L}.self_s"] = t.get(L, 0.0)
        m[f"{L}.task_s"] = a.get("task_s", 0.0)
        m[f"{L}.rows_in"] = a.get("rows_in", 0)
        m[f"{L}.task_skew"] = a.get("task_skew", 0.0)
        m[f"{L}.shuffle_mb"] = a.get("shuffle_write_mb", 0.0)
        m[f"{L}.spill_mb"] = a.get("spill_mb", 0.0)
        m[f"{L}.jobs"] = a.get("jobs", 0)
        m[f"{L}.build_s"] = rep["build"][L]
        m[f"{L}.write_s"] = rep["write"][L]
    rows = extra.get("rows", {})
    m["ingest.rows_out"] = rows.get("ingested", 0)
    m["extract.rows_out"] = rows.get("triples", 0)
    m["link.alias_edges"] = rows.get("alias_edges", 0)
    m["link.dictionary_rows"] = extra.get("dictionary_rows", 0)
    m["materialize.nodes"] = rows.get("nodes", 0)
    m["materialize.edges"] = rows.get("edges", 0)
    m["lineage.commit_s"] = t.get("lineage", 0.0)
    m["pipeline.validate_s"] = t.get("pipeline.validate", 0.0)
    m["pipeline.gap_s"] = t.get("pipeline", 0.0)
    m["streaming.self_s"] = t.get("streaming", 0.0)
    allt = list(tasks.values())
    m["spark.task_s"] = sum(a["task_s"] for a in allt)
    m["spark.gc_s"] = sum(a["gc_s"] for a in allt)
    m["spark.shuffle_write_mb"] = sum(a["shuffle_write_mb"] for a in allt)
    m["spark.spill_mb"] = sum(a["spill_mb"] for a in allt)
    m["spark.task_skew"] = max((a["task_skew"] for a in allt), default=0.0)
    progress = extra.get("progress") or []
    if progress:
        def p50_of(key):
            return host.p50([float(p.durationMs.get(key, 0)) for p in progress])

        m["streaming.batches"] = len(progress)
        m["streaming.batch_ms_p50"] = p50_of("triggerExecution")
        m["streaming.get_batch_ms"] = p50_of("getBatch")
        m["streaming.query_planning_ms"] = p50_of("queryPlanning")
        m["streaming.add_batch_ms"] = p50_of("addBatch")
        m["streaming.wal_commit_ms"] = p50_of("walCommit")
    return m


