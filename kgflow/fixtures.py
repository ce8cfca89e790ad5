"""Deterministic synthetic source-code corpus + golden triples.

The reference repo's only correctness oracle is its fixed sample-data
CSV set run end-to-end with count reconciliation
(/root/reference/sample-data/*.csv; databricks/notebooks/neo4j-loading.py:341-365).
We need a *source-code* corpus (BASELINE.json input_hint) whose ground
truth is derivable at generation time, so the golden triples are NOT a
re-run of the extractor — they come from the same template parameters.

Everything is a pure function of (row index, SEED): generation is done
distributively with mapInPandas over spark.range(n), so the same corpus
can be built at unit-test size (hundreds of rows) and bench size
(hundreds of thousands) with identical per-row content.

Deterministic edge cases (FIXTURES.md §1) live at fixed indices:
  i=1  empty file
  i=2  file with no mentions (filler only)
  i=3,4  same (repo, path) under two commits
  i=5  unicode identifiers
  i=6  large file (~256 KB) — skew probe
  i=7,8  identical content under two paths (content-sha dedup probe)
Alias pairs differing by case/underscore are sprinkled throughout via
ALIAS_STYLES (exercises LSH blocking + connected-components).
"""

from __future__ import annotations

import hashlib
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from kgflow import schemas

SEED = 42

LANGS = ["python", "javascript", "java", "go", "sql"]
EXT = {"python": "py", "javascript": "js", "java": "java", "go": "go", "sql": "sql"}

# Base symbols; alias styles of the same base must canonicalize together.
BASE_SYMBOLS = [
    "parse_config",
    "http_client",
    "load_model",
    "run_query",
    "merge_rows",
    "hash_key",
    "split_text",
    "read_stream",
    "write_batch",
    "score_item",
    "rank_docs",
    "build_index",
    "fetch_page",
    "clean_value",
    "emit_event",
    "sync_state",
]

MODULES = [
    "os_path",
    "net_http",
    "json_codec",
    "math_stats",
    "db_driver",
    "log_setup",
    "cache_layer",
    "vec_ops",
    "auth_token",
    "cfg_loader",
    "retry_policy",
    "time_sync",
]

# Filler vocabulary must never collide with extraction regexes
# (no import/class/def/func/from/create/table/require/select tokens).
FILLER = (
    "alpha beta gamma delta epsilon zeta theta kappa sigma omega "
    "widget handle buffer cursor ledger packet branch vertex tuple"
).split()


def _snake_to_camel(s: str) -> str:
    parts = s.split("_")
    return parts[0] + "".join(p.capitalize() for p in parts[1:])


def _snake_to_pascal(s: str) -> str:
    return "".join(p.capitalize() for p in s.split("_"))


ALIAS_STYLES = [
    lambda s: s,  # snake_case (canonical base form)
    _snake_to_camel,  # camelCase
    _snake_to_pascal,  # PascalCase
    lambda s: s.upper(),  # SCREAMING
]


def n_repos_for(n_files: int) -> int:
    return max(4, int(n_files**0.5) // 2)


def _rng(i: int) -> random.Random:
    return random.Random(f"{SEED}:{i}")


def _repo_for(i: int, n_repos: int, r: random.Random) -> str:
    # Zipf-ish skew: repo 0 receives a disproportionate share of files,
    # forcing the skew handling the north_rule demands.
    idx = int(n_repos * (r.random() ** 2.5))
    return f"org{idx % 7}/repo{idx}"


def _commit_for(repo: str, i: int) -> str:
    return hashlib.sha1(f"{SEED}:{repo}:{i // 50}".encode()).hexdigest()


def _filler_line(r: random.Random) -> str:
    """Comment line with high-entropy tokens: realistic source files
    compress ~2-4x in parquet, not 25x — a template-only corpus turns
    into so few bytes at rest that scan splits (and therefore cores)
    starve, which would fake any scaling measurement."""
    words = " ".join(r.choice(FILLER) for _ in range(4))
    hexes = " ".join(f"{r.getrandbits(32):08x}" for _ in range(5))
    return f"# {words} {hexes}"


def _filler_block(r: random.Random) -> list[str]:
    return [_filler_line(r) for _ in range(r.randrange(12, 48))]


def _file_record(i: int, n_files: int) -> dict:
    """Pure function of (i, n_files) -> one source_files row + its golden triples."""
    r = _rng(i)
    n_repos = n_repos_for(n_files)
    repo = _repo_for(i, n_repos, r)
    lang = LANGS[r.randrange(len(LANGS))]
    path = f"src/pkg{r.randrange(9)}/mod_{i}.{EXT[lang]}"
    commit = _commit_for(repo, i)

    # --- fixed edge cases -------------------------------------------------
    if i == 1:
        return _row(repo, path, commit, lang, "", [], [])
    if i == 2:
        body = "\n".join(_filler_line(r) for _ in range(5))
        return _row(repo, path, commit, lang, body, [], [])
    if i == 9:  # NULL content: engines must still emit WRITTEN_IN
        return _row(repo, path, commit, lang, None, [], [])
    if i == 4:  # same (repo, path) as i=3, different commit
        three = _file_record(3, n_files)
        return {
            **three,
            "commit": hashlib.sha1(f"{SEED}:alt:{3}".encode()).hexdigest(),
        }
    if i == 8:  # identical content to i=7 under a different path
        seven = _file_record(7, n_files)
        alt_path = f"src/pkg_dup/mod_{i}.{EXT[seven['lang']]}"
        golden = [
            (g[0].replace(seven["path"], alt_path), g[1], g[2])
            for g in seven["golden"]
        ]
        return {**seven, "path": alt_path, "golden": golden}

    # --- regular templated file --------------------------------------------
    decls: list[str] = []
    for _ in range(r.randrange(2, 7)):
        base = r.choice(BASE_SYMBOLS)
        style = ALIAS_STYLES[r.randrange(len(ALIAS_STYLES))]
        decls.append(style(base) + f"_{r.randrange(20)}" if r.random() < 0.3 else style(base))
    imports = [r.choice(MODULES) for _ in range(r.randrange(2, 6))]
    imports = list(dict.fromkeys(imports))
    decls = list(dict.fromkeys(decls))

    if i == 5:  # unicode identifiers
        decls = ["café_handler", "übermodel"]
        lang, path = "python", f"src/pkg0/mod_{i}.py"
    # call sites (CALLS predicate): a deterministic subset of this
    # file's own declarations, invoked at top level — only for langs
    # with a call-site rule
    calls = []
    if lang in ("python", "javascript", "go"):
        calls = [d for d in decls if r.random() < 0.5]
    body = _render(lang, decls, imports, r, big=(i == 6), calls=calls)
    return _row(repo, path, commit, lang, body, decls, imports, calls)


def _render(lang: str, decls: list[str], imports: list[str], r: random.Random,
            big: bool, calls: list[str] | None = None) -> str:
    calls = calls or []
    lines: list[str] = []
    fill = lambda: lines.extend(_filler_block(r))  # noqa: E731
    fill()
    if lang == "python":
        for m in imports:
            lines.append(f"import {m}")
        fill()
        for s in decls:
            if s[0].isupper():
                lines.append(f"class {s}:")
                lines.append("    pass")
            else:
                lines.append(f"def {s}(x, y):")
                lines.append("    return x")
            fill()
        for c in calls:
            lines.append(f"{c}(1, 2)")
    elif lang == "javascript":
        for m in imports:
            if r.random() < 0.5:
                lines.append(f"import {{ thing }} from '{m}'")
            else:
                lines.append(f"const m = require('{m}')")
        fill()
        for s in decls:
            if s[0].isupper():
                lines.append(f"class {s} {{}}")
            else:
                lines.append(f"function {s}(a, b) {{ return a }}")
            fill()
        for c in calls:
            lines.append(f"{c}(1)")
    elif lang == "java":
        for m in imports:
            lines.append(f"import {m}.Core;")
        fill()
        for s in decls:
            lines.append(f"class {s} {{ }}")
            fill()
    elif lang == "go":
        for m in imports:
            lines.append(f'import "{m}"')
        fill()
        for s in decls:
            lines.append(f"func {s}(n int) int {{ return n }}")
            fill()
        for c in calls:
            lines.append(f"{c}(7)")
    elif lang == "sql":
        for s in decls:
            lines.append(f"CREATE TABLE {s} (id INT);")
            fill()
        for m in imports:
            lines.append(f"SELECT id FROM {m};")
    if big:
        pad = _filler_line(r)
        lines.extend([pad] * (256 * 1024 // (len(pad) + 1)))
    return "\n".join(lines)


def _row(repo: str, path: str, commit: str, lang: str, content: str | None,
         decls: list[str], imports: list[str],
         calls: list[str] | None = None) -> dict:
    file_ref = f"{repo}/{path}"
    golden: list[tuple[str, str, str]] = [(file_ref, "WRITTEN_IN", lang)]
    for s in decls:
        golden.append((repo, "DECLARES", s))
    for m in imports:
        golden.append((file_ref, "IMPORTS", m))
    for c in calls or []:
        golden.append((file_ref, "CALLS", c))
    return {
        "repo": repo, "path": path, "commit": commit, "lang": lang,
        "content": content, "golden": golden,
    }


# --------------------------------------------------------------------------
# Spark-facing builders (distributed, deterministic)
# --------------------------------------------------------------------------

def source_files(spark: SparkSession, n_files: int) -> DataFrame:
    """The synthetic input table (repo, path, commit, lang, content)."""
    parts = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_file_record(int(i), n_files) for i in pdf["id"]]
            yield pd.DataFrame(
                [{k: row[k] for k in ("repo", "path", "commit", "lang", "content")}
                 for row in rows]
            )

    return spark.range(0, n_files, 1, parts).mapInPandas(gen, schema=schemas.SOURCE_FILES)


def golden_triples(spark: SparkSession, n_files: int) -> DataFrame:
    """Expected distinct (subj, pred, obj) set for the same corpus."""
    parts = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf["id"]:
                for s, p, o in _file_record(int(i), n_files)["golden"]:
                    out.append({"subj": s, "pred": p, "obj": o})
            yield pd.DataFrame(out, columns=["subj", "pred", "obj"])

    return (
        spark.range(0, n_files, 1, parts)
        .mapInPandas(gen, schema="subj string, pred string, obj string")
        .dropDuplicates(["subj", "pred", "obj"])
    )
