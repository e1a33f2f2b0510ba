"""Every top-level def/class in the package is used somewhere: its name
appears in another .py file of the repo, or again in its own module
beyond the definition. Pure AST + token scan — no Spark."""

import ast
import os
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "geotrellis_server_spark"
SKIP = {".git", ".hypothesis", "spark-warehouse", ".perfbench_work", "__pycache__"}
ALLOWED: set[str] = set()  # "path:name" entries that may stay unreferenced


def _sources() -> dict[Path, str]:
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP]
        for f in files:
            if f.endswith(".py"):
                p = Path(d) / f
                out[p] = p.read_text()
    return out


def test_no_unreferenced_top_level_defs():
    texts = _sources()
    everywhere = Counter(re.findall(r"\w+", "\n".join(texts.values())))
    dead = []
    for path, text in texts.items():
        if PKG not in path.parents:
            continue
        words = Counter(re.findall(r"\w+", text))
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name, own = node.name, words[node.name]
            used = own > 1 or everywhere[name] > own
            label = f"{path.relative_to(ROOT)}:{name}"
            if not used and label not in ALLOWED:
                dead.append(f"{label} (line {node.lineno})")
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
