"""Dead-code guard: every top-level function, class and assigned name
(dunders aside) in ``geo_inference_spark/`` is referenced somewhere in
the repository's Python code besides its own definition — a caller, a
reader, a test, a benchmark, or a re-export. A reference is a name
read in code (``ast.Name`` outside an assignment target), an
attribute, an imported name, or a string constant that is exactly the
identifier (``monkeypatch.setattr(V, "CC_DRIVER_EDGES", 0)``); a word
in a docstring or a comment is not. Pure ``ast``; needs no Spark.
"""

import ast
import os
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "geo_inference_spark"


def _py_files():
    for d, subdirs, files in os.walk(ROOT):
        # skip .git, caches and other hidden trees
        subdirs[:] = [s for s in subdirs if not s.startswith(".")]
        for f in files:
            if f.endswith(".py"):
                yield Path(d, f)


def _references(tree) -> Counter:
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            refs[node.value] += 1
    return refs


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
    refs = Counter()
    for p in _py_files():
        refs.update(_references(ast.parse(p.read_text(), filename=str(p))))
    dead = [f"{name} ({where})" for name, where in _top_level_defs() if not refs[name]]
    assert not dead, "defined but never referenced: " + ", ".join(dead)
