"""Stage 2 — triple extraction: mention detection over file content.

Pure JVM ``regexp_extract_all`` + higher-order array functions: stays
inside whole-stage codegen, zero Python on the datapath. A pure per-row
function of (lang, content) — no cross-row state — so partitioning
cannot change the output (SURVEY.md §7.4 determinism requirement).
The work is split at the explode: ``mentions`` is the per-file array,
computed once by ``ingest`` in its one content pass and stored in the
``ingested`` table; ``extract`` explodes it. Batch
(``pipeline.run_pipeline``) builds triples as ``extract`` over the
stored ``ingested`` table, the stream (``streaming.incremental``) as
``extract(ingest(stream))``: the same two functions.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Identifier char classes written with explicit unicode ranges so the
# JVM regex engine (ASCII \w) and Python's re (unicode \w) agree.
_ID0 = "[A-Za-z_\u00c0-\uffef]"
_IDC = "[A-Za-z0-9_\u00c0-\uffef]"
IDENT = f"{_ID0}{_IDC}*"
DOTTED = f"{IDENT}(?:\\.{IDENT})*"

# (lang, predicate, regex-with-one-capture-group). Every construct used
# is portable between java.util.regex and Python re; the tests check
# extract() against a Python-re reference over the same RULES.
#
# Rules run over "\n" + content, and a rule anchored at a line start is
# written with a literal "\n" in place of (?m)^. java.util.regex's (?m)^
# also matches after \r, U+0085 and U+2028, and its `.` stops at them;
# Python's do not. The literal form gives both engines Python's
# \n-only line breaks (and `.` is written [^\n] for the same reason),
# and lets java.util.regex seek the literal instead of trying every
# position. A match never ends in "\n", so consuming the one before it
# skips no match that (?m)^ would have found.
RULES: list[tuple[str, str, str]] = [
    ("python", "IMPORTS", rf"\nimport\s+({DOTTED})"),
    ("python", "IMPORTS", rf"\nfrom\s+({DOTTED})\s+import"),
    ("python", "DECLARES", rf"\ndef\s+({IDENT})"),
    ("python", "DECLARES", rf"\nclass\s+({IDENT})"),
    # call-site detection (schemas.py CALLS predicate): a bare
    # `ident(` at line start — declaration keywords (def/class/
    # function/func) put a space before the name, so they never match
    ("python", "CALLS", rf"\n({IDENT})\("),
    ("javascript", "IMPORTS", r"\nimport\s+[^\n]*?\s+from\s+'([^']+)'"),
    ("javascript", "IMPORTS", r"require\('([^']+)'\)"),
    ("javascript", "DECLARES", rf"\nfunction\s+({IDENT})"),
    ("javascript", "DECLARES", rf"\nclass\s+({IDENT})"),
    ("javascript", "CALLS", rf"\n({IDENT})\("),
    ("java", "IMPORTS", rf"\nimport\s+({DOTTED})\.{IDENT}\s*;"),
    ("java", "DECLARES", rf"\n(?:public\s+|final\s+)*class\s+({IDENT})"),
    ("go", "IMPORTS", r'\nimport\s+"([^"]+)"'),
    ("go", "DECLARES", rf"\nfunc\s+({IDENT})"),
    ("go", "CALLS", rf"\n({IDENT})\("),
    ("sql", "DECLARES", rf"(?i)\nCREATE\s+TABLE\s+({IDENT})"),
    ("sql", "IMPORTS", rf"(?i)\bFROM\s+({IDENT})"),
]

_LANGS = sorted({lang for lang, _, _ in RULES})


def mentions(lang: Column, content: Column) -> Column:
    """A file's mentions, ``array<struct<pred, obj>>``: its WRITTEN_IN
    entry first, then regexp_extract_all per rule of its language, each
    array tagged with its predicate via transform(). ``content`` must be
    non-NULL (``ingest`` coalesces it): concat-with-NULL would null the
    whole array and silently drop the file's WRITTEN_IN triple.

    Match order within one (rule, row) is document order; duplicates are
    preserved (frequency may matter to downstream scoring) — dedup
    happens at materialize (reference MERGE semantics,
    neo4j-loading.py:230-234).
    """
    def tagger(pred: str):
        # single-arg lambda: a 2-arg lambda would be treated as
        # (element, index) by F.transform
        return lambda m: F.struct(F.lit(pred).alias("pred"), m.alias("obj"))

    text = F.concat(F.lit("\n"), content)
    per_lang = []
    for lang_name in _LANGS:
        arrays = [
            F.transform(
                F.regexp_extract_all(text, F.lit(pattern), F.lit(1)),
                tagger(pred),
            )
            for rule_lang, pred, pattern in RULES
            if rule_lang == lang_name
        ]
        per_lang.append((lang_name, F.concat(*arrays) if len(arrays) > 1 else arrays[0]))

    by_lang = F.when(lang == per_lang[0][0], per_lang[0][1])
    for lang_name, arr in per_lang[1:]:
        by_lang = by_lang.when(lang == lang_name, arr)
    by_lang = by_lang.otherwise(F.array().cast("array<struct<pred:string,obj:string>>"))
    # the WRITTEN_IN projection rides in the same array: one explode
    # (a unioned projection branch would be a second pass over the rows)
    return F.concat(
        F.array(F.struct(F.lit("WRITTEN_IN").alias("pred"), lang.alias("obj"))),
        by_lang,
    )


def extract(ingested: DataFrame) -> DataFrame:
    """ingested -> candidate triples (subj, pred, obj, src_sha, repo, lang).

    Explodes each file's stored ``mentions``: one narrow stage, no
    shuffle until the caller aggregates, and no content read.
    """
    exploded = ingested.select(
        "repo", "lang", "content_sha",
        F.concat_ws("/", "repo", "path").alias("file_ref"),
        F.explode("mentions").alias("m"),
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
    """Alias for ``extract(manifest)``; ``source`` and every keyword
    argument are ignored.

    Kept only because the benchmark harness (``perfbench/workloads.py``)
    imports this name at module level and its traced run calls it as
    ``(source, manifest, engine="native", broadcast=...,
    assume_unique=True)`` with ``manifest`` the stored ``ingested``
    table; through this alias that run builds triples the way
    ``run_pipeline`` does. ROADMAP direction 1 moves the harness onto
    ``run_pipeline`` and deletes this alias.
    """
    return extract(manifest)
