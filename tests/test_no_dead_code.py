"""Every top-level function in the package is reached from outside the
tests, apart from the oracles kept on purpose as test references.

An AST scan: a function counts as reached when its name appears as a name,
an attribute or an imported name in the package, ``tools/``,
``perfbench/`` or the entry scripts. String constants do not count, so an
``__all__`` entry or a registry key that happens to share a function's name
keeps nothing alive. The match is by bare name: a function that shares its
name with one used elsewhere still hides.
"""

from __future__ import annotations

import ast
import fnmatch
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "audio_feature_extraction_spark"
ROOTS = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "__spark_entry__.py",
         ROOT / "bench.py", ROOT / "bench_scaling.py"]

# <module stem>.<function> patterns that only tests call, each kept as the
# independent reference a test compares production code against
TEST_REFERENCES = [
    "datagen.gen_*_pdf",        # single-process twins of the distributed generators
    "dtw.dtw_accumulate",       # per-cell DP oracle for the batched DTW kernel
    "dtw.dtw_path",
    "dtw.dtw_pair",
    "quality.duplicate_ngram_fraction",  # per-row references for repetition_stats
    "quality.top_word_stats",
]


def _unreached() -> list[str]:
    files = [f for r in ROOTS for f in (sorted(r.rglob("*.py")) if r.is_dir() else [r])
             if "tests" not in f.relative_to(ROOT).parts]
    defs, used = [], set()
    for f in files:
        tree = ast.parse(f.read_text())
        if PKG in f.parents:
            defs += [(f.stem, n.name) for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.add(n.name.rsplit(".", 1)[-1])
    return [
        f"{stem}.{name}" for stem, name in defs
        if name not in used
        and not any(fnmatch.fnmatch(f"{stem}.{name}", p) for p in TEST_REFERENCES)
    ]


def test_every_package_function_is_reached_outside_tests():
    assert _unreached() == []

