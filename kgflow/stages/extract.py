"""Stage 2 — triple extraction: mention detection over file content.

Pure JVM ``regexp_extract_all`` + higher-order array functions: stays
inside whole-stage codegen, zero Python on the datapath. A pure per-row
function of (lang, content) — no cross-row state — so partitioning
cannot change the output (SURVEY.md §7.4 determinism requirement).
Batch (``pipeline.run_pipeline``) and stream
(``streaming.incremental``) both build triples as
``extract(ingest(source))``.

The reference's only extraction analogue is expression-level
projection of already-structured rows (graph-transformation.py:77-116);
regex appears only as a validation predicate
(ecommerce-etl-pipeline.py:154). We generalize that `rlike` idea into
`regexp_extract_all` mention detectors per language.

Emitted predicates (north_star):
    (repo/path, WRITTEN_IN, lang)    — projection, no parsing
    (repo,      DECLARES,   symbol)  — def/class/function/table decls
    (repo/path, IMPORTS,    module)  — import/require/from statements
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow.stages.ingest import ingest

# Identifier char classes written with explicit unicode ranges so the
# JVM regex engine (ASCII \w) and Python's re (unicode \w) agree.
_ID0 = "[A-Za-z_\u00c0-\uffef]"
_IDC = "[A-Za-z0-9_\u00c0-\uffef]"
IDENT = f"{_ID0}{_IDC}*"
DOTTED = f"{IDENT}(?:\\.{IDENT})*"

# (lang, predicate, regex-with-one-capture-group). Every construct used
# is portable between java.util.regex and Python re; the tests check
# extract() against a Python-re reference over the same RULES.
RULES: list[tuple[str, str, str]] = [
    ("python", "IMPORTS", rf"(?m)^import\s+({DOTTED})"),
    ("python", "IMPORTS", rf"(?m)^from\s+({DOTTED})\s+import"),
    ("python", "DECLARES", rf"(?m)^def\s+({IDENT})"),
    ("python", "DECLARES", rf"(?m)^class\s+({IDENT})"),
    # call-site detection (schemas.py CALLS predicate): a bare
    # `ident(` at line start — declaration keywords (def/class/
    # function/func) put a space before the name, so they never match
    ("python", "CALLS", rf"(?m)^({IDENT})\("),
    ("javascript", "IMPORTS", rf"(?m)^import\s+.*?\s+from\s+'([^']+)'"),
    ("javascript", "IMPORTS", r"require\('([^']+)'\)"),
    ("javascript", "DECLARES", rf"(?m)^function\s+({IDENT})"),
    ("javascript", "DECLARES", rf"(?m)^class\s+({IDENT})"),
    ("javascript", "CALLS", rf"(?m)^({IDENT})\("),
    ("java", "IMPORTS", rf"(?m)^import\s+({DOTTED})\.{IDENT}\s*;"),
    ("java", "DECLARES", rf"(?m)^(?:public\s+|final\s+)*class\s+({IDENT})"),
    ("go", "IMPORTS", r'(?m)^import\s+"([^"]+)"'),
    ("go", "DECLARES", rf"(?m)^func\s+({IDENT})"),
    ("go", "CALLS", rf"(?m)^({IDENT})\("),
    ("sql", "DECLARES", rf"(?mi)^CREATE\s+TABLE\s+({IDENT})"),
    ("sql", "IMPORTS", rf"(?i)\bFROM\s+({IDENT})"),
]

_LANGS = sorted({lang for lang, _, _ in RULES})


def extract(ingested: DataFrame) -> DataFrame:
    """ingested -> candidate triples (subj, pred, obj, src_sha, repo, lang).

    regexp_extract_all per rule, arrays tagged with their predicate via
    transform(), concatenated, exploded: one narrow stage, no shuffle
    until the caller aggregates. Match order within one (rule, row) is
    document order; duplicates are preserved here (frequency may matter
    to downstream scoring) — dedup happens at materialize (reference
    MERGE semantics, neo4j-loading.py:230-234).
    """
    def tagger(pred: str):
        # single-arg lambda: a 2-arg lambda would be treated as
        # (element, index) by F.transform
        return lambda m: F.struct(F.lit(pred).alias("pred"), m.alias("obj"))

    # NULL content must behave like empty content: regexp_extract_all of
    # NULL is NULL, and concat-with-NULL nulls the whole mention array,
    # which would silently drop the file's WRITTEN_IN triple
    content = F.coalesce(F.col("content"), F.lit(""))
    per_lang = []
    for lang in _LANGS:
        arrays = [
            F.transform(
                F.regexp_extract_all(content, F.lit(pattern), F.lit(1)),
                tagger(pred),
            )
            for rule_lang, pred, pattern in RULES
            if rule_lang == lang
        ]
        per_lang.append((lang, F.concat(*arrays) if len(arrays) > 1 else arrays[0]))

    mentions = F.when(F.col("lang") == per_lang[0][0], per_lang[0][1])
    for lang, arr in per_lang[1:]:
        mentions = mentions.when(F.col("lang") == lang, arr)
    mentions = mentions.otherwise(F.array().cast("array<struct<pred:string,obj:string>>"))
    # fold the WRITTEN_IN projection into the same array: one explode,
    # one corpus scan (a unioned projection branch would re-scan the
    # whole corpus a second time — union branches share nothing)
    mentions = F.concat(
        F.array(F.struct(F.lit("WRITTEN_IN").alias("pred"), F.col("lang").alias("obj"))),
        mentions,
    )

    exploded = (
        ingested.select(
            "repo", "lang", "content_sha",
            F.concat_ws("/", "repo", "path").alias("file_ref"),
            F.explode(mentions).alias("m"),
        )
    )
    return exploded.select(
        F.when(F.col("m.pred") == "DECLARES", F.col("repo"))
        .otherwise(F.col("file_ref"))
        .alias("subj"),
        F.col("m.pred").alias("pred"),
        F.col("m.obj").alias("obj"),
        F.col("content_sha").alias("src_sha"),
        "repo",
        "lang",
    )


def extract_with_manifest(source: DataFrame, manifest: DataFrame, **_ignored) -> DataFrame:
    """Alias for ``extract(ingest(source))``; ``manifest`` and every
    keyword argument are ignored.

    Kept only because the benchmark harness (``perfbench/workloads.py``)
    imports this name at module level and its traced run calls it as
    ``(source, manifest, engine="native", broadcast=...,
    assume_unique=True)``; through this alias that run measures the same
    extract path ``run_pipeline`` runs. ROADMAP direction 1 moves the
    harness onto ``run_pipeline`` and deletes this alias.
    """
    return extract(ingest(source))
