"""No functions that nothing calls: every public module-level function
and class under blink_spark/ is named somewhere besides its own
definition, in some .py file of the repo (library, tests, scripts,
benchmarks or the driver entry)."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def test_every_public_definition_is_referenced():
    uses = Counter()
    for path in ROOT.rglob("*.py"):
        uses.update(WORD.findall(path.read_text()))
    dead = []
    for path in (ROOT / "blink_spark").rglob("*.py"):
        for node in ast.parse(path.read_text(), str(path)).body:
            # the definition itself is one occurrence of the name
            if isinstance(node, DEFS) and not node.name.startswith("_") and uses[node.name] <= 1:
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, dead
