"""Dead-code guard: every top-level function, class and assigned name
(dunders aside) in ``geo_inference_spark/`` is named somewhere in the
repository's Python files besides its own definition — a caller, a
reader, a test, a benchmark, or a re-export. Pure ``ast`` + text scan;
needs no Spark.
"""

import ast
import os
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "geo_inference_spark"
_WORD = re.compile(r"\b[A-Za-z_]\w*\b")


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        # skip .git, caches and other hidden trees
        subdirs[:] = [s for s in subdirs if not s.startswith(".")]
        for f in files:
            if f.endswith(".py"):
                yield Path(d, f)


def _top_level_defs():
    defs = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text(), filename=str(p))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name) and not n.id.startswith("__")
                ]
            else:
                continue
            defs += [(name, f"{p.relative_to(ROOT)}:{node.lineno}") for name in names]
    return defs


def test_every_top_level_definition_has_a_reference():
    words = Counter()
    for p in _py_files():
        words.update(_WORD.findall(p.read_text()))
    defs = _top_level_defs()
    n_defs = Counter(name for name, _ in defs)
    dead = [
        f"{name} ({where})"
        for name, where in defs
        if words[name] <= n_defs[name]
    ]
    assert not dead, "defined but never referenced: " + ", ".join(dead)
