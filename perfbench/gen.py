"""Seeded input generators for the kgflow benchmark workloads.

Every corpus is a pure function of (seed, size parameters): the same
seed gives byte-identical parquet, another seed gives other inputs.
The per-language statement forms and the vocabularies are those of
``kgflow.fixtures`` (its row templates), but the randomness comes from
the benchmark's own RNGs instead of the module-level ``fixtures.SEED``,
and the high-entropy filler is produced in bulk with numpy so that a
few hundred MB of source text is generated in about a second.

The golden outputs come from the generator, never from the extractor:
each file's expected (subj, pred, obj) triples are built with
``fixtures._row`` from the same parameters that rendered its text, and
every declared symbol is tagged with the base name it was derived from
(its planted alias group).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgflow import fixtures

SOURCE_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)

_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_FILLER_GROUPS = 7
# "#" + 7 x (" " + 8 hex digits) + "\n"
FILLER_LINE_LEN = 2 + _FILLER_GROUPS * 9

BULK_SUFFIX_P = 0.3  # share of numeric-suffix variants in kgflow.fixtures


@dataclass
class Corpus:
    """Rows of the source table plus what the program should produce."""

    rows: dict[str, list] = field(
        default_factory=lambda: {k: [] for k in SOURCE_SCHEMA.names}
    )
    golden: set[tuple[str, str, str]] = field(default_factory=set)
    # declared symbol -> planted alias group (the base it was derived from)
    alias_group: dict[str, str] = field(default_factory=dict)

    def __len__(self) -> int:
        return len(self.rows["repo"])

    def add(self, repo, path, commit, lang, content, decls, imports, calls, bases):
        for k, v in zip(SOURCE_SCHEMA.names, (repo, path, commit, lang, content)):
            self.rows[k].append(v)
        self.golden.update(
            fixtures._row(repo, path, commit, lang, content, decls, imports, calls)[
                "golden"
            ]
        )
        for sym, base in zip(decls, bases):
            self.alias_group[sym] = base

    def table(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        return pa.table(
            {k: v[lo:hi] for k, v in self.rows.items()}, schema=SOURCE_SCHEMA
        )

    def content_bytes(self) -> int:
        return sum(len(c) for c in self.rows["content"] if c)


class Filler:
    """A seeded pool of high-entropy comment lines ("# 8f3a... ..."),
    handed out as blocks that start at random lines. Fixed-width lines
    make a block a plain slice of one pre-rendered string; a pool of
    ~17 MB is far larger than a parquet page, so reuse across files
    does not make the corpus compress better."""

    def __init__(self, rng: np.random.Generator, n_lines: int = 1 << 18):
        words = rng.integers(0, 2**32, size=(n_lines, _FILLER_GROUPS), dtype=np.uint32)
        shifts = np.arange(28, -4, -4, dtype=np.uint32)
        digits = _HEX[(words[..., None] >> shifts) & 0xF]  # (n, groups, 8)
        cells = np.full((n_lines, _FILLER_GROUPS, 9), ord(" "), dtype=np.uint8)
        cells[..., 1:] = digits
        lines = np.empty((n_lines, FILLER_LINE_LEN), dtype=np.uint8)
        lines[:, 0] = ord("#")
        lines[:, 1:-1] = cells.reshape(n_lines, -1)
        lines[:, -1] = ord("\n")
        self._text = lines.tobytes().decode("ascii")
        self._n = n_lines

    def block(self, r: random.Random, k: int) -> str:
        lo = r.randrange(self._n - k) * FILLER_LINE_LEN
        return self._text[lo : lo + k * FILLER_LINE_LEN - 1]


def _render(lang, decls, imports, calls, r: random.Random, fill) -> str:
    """Statement forms of kgflow.fixtures._render, with filler blocks
    from ``fill()``."""
    out: list[str] = [fill()]
    if lang == "python":
        out += [f"import {m}" for m in imports]
        out.append(fill())
        for s in decls:
            if s[0].isupper():
                out += [f"class {s}:", "    pass"]
            else:
                out += [f"def {s}(x, y):", "    return x"]
            out.append(fill())
        out += [f"{c}(1, 2)" for c in calls]
    elif lang == "javascript":
        for m in imports:
            if r.random() < 0.5:
                out.append(f"import {{ thing }} from '{m}'")
            else:
                out.append(f"const m = require('{m}')")
        out.append(fill())
        for s in decls:
            if s[0].isupper():
                out.append(f"class {s} {{}}")
            else:
                out.append(f"function {s}(a, b) {{ return a }}")
            out.append(fill())
        out += [f"{c}(1)" for c in calls]
    elif lang == "java":
        out += [f"import {m}.Core;" for m in imports]
        out.append(fill())
        for s in decls:
            out += [f"class {s} {{ }}", fill()]
    elif lang == "go":
        out += [f'import "{m}"' for m in imports]
        out.append(fill())
        for s in decls:
            out += [f"func {s}(n int) int {{ return n }}", fill()]
        out += [f"{c}(7)" for c in calls]
    elif lang == "sql":
        for s in decls:
            out += [f"CREATE TABLE {s} (id INT);", fill()]
        out += [f"SELECT id FROM {m};" for m in imports]
    return "\n".join(out)


def _commit(seed: int, repo: str, i: int) -> str:
    return hashlib.sha1(f"{seed}:{repo}:{i // 50}".encode()).hexdigest()


def _variant(r: random.Random, base: str, suffix_p: float) -> str:
    style = fixtures.ALIAS_STYLES[r.randrange(len(fixtures.ALIAS_STYLES))]
    if r.random() < suffix_p:
        return style(base) + f"_{r.randrange(20)}"
    return style(base)


def bulk_corpus(seed: int, n_files: int, block_lines: tuple[int, int] = (12, 48)) -> Corpus:
    """Mixed-language corpus shaped like kgflow.fixtures: Zipf repo skew,
    2-6 declarations from the 16 fixture bases (4 case styles, 30%
    numeric-suffix near-duplicates), 2-5 imports, call sites, and
    high-entropy filler blocks of ``block_lines`` lines (the fixture
    default gives about 12 KB per file). Two edge rows: an empty file
    and a NULL-content file."""
    r = random.Random(f"kgflow-bench:bulk:{seed}")
    filler = Filler(np.random.default_rng([seed, 1]))
    fill = lambda: filler.block(r, r.randrange(*block_lines))  # noqa: E731
    n_repos = fixtures.n_repos_for(n_files)
    corpus = Corpus()
    for i in range(n_files):
        repo = fixtures._repo_for(i, n_repos, r)
        lang = fixtures.LANGS[r.randrange(len(fixtures.LANGS))]
        path = f"src/pkg{r.randrange(9)}/mod_{i}.{fixtures.EXT[lang]}"
        commit = _commit(seed, repo, i)
        if i == 1:
            corpus.add(repo, path, commit, lang, "", [], [], [], [])
            continue
        if i == 2:
            corpus.add(repo, path, commit, lang, None, [], [], [], [])
            continue
        bases = [r.choice(fixtures.BASE_SYMBOLS) for _ in range(r.randrange(2, 7))]
        decl_of = {}
        for b in bases:
            decl_of.setdefault(_variant(r, b, BULK_SUFFIX_P), b)
        decls = list(decl_of)
        imports = list(dict.fromkeys(
            r.choice(fixtures.MODULES) for _ in range(r.randrange(2, 6))
        ))
        calls = []
        if lang in ("python", "javascript", "go"):
            calls = [d for d in decls if r.random() < 0.5]
        body = _render(lang, decls, imports, calls, r, fill)
        corpus.add(repo, path, commit, lang, body, decls, imports, calls,
                   [decl_of[d] for d in decls])
    return corpus


def write_parquet(corpus: Corpus, out_dir: str, n_files: int, row_group_rows: int = 512) -> list[str]:
    """Store the corpus as ``n_files`` parquet files (contiguous row
    ranges) under ``out_dir``; returns their paths in row order."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(corpus)
    step = -(-n // n_files)
    paths = []
    for k, lo in enumerate(range(0, n, step)):
        p = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(corpus.table(lo, lo + step), p, row_group_size=row_group_rows)
        paths.append(p)
    return paths
