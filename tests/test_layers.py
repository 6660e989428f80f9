"""Each package layer imports only the layers below it.

``functions/`` (pure kernels) sits at the bottom with ``config``;
``operators/`` builds on it and on ``plans/``; ``sources/``, ``sinks/``,
``streaming/`` and the entry module sit on top.  An ``ast`` scan of every
``import`` in a layer, function-local ones included (no Spark), checks the
package modules it names; third-party imports are not constrained."""

import ast
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "qwen_ocr_spark"

# layer -> the package layers (top-level module or subpackage) it may import
ALLOWED = {
    "functions": {"functions", "config"},
    "operators": {"functions", "operators", "plans", "config"},
}


def _imported_layers(path):
    """(line, module, layer) for every package module ``path`` imports."""
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = path.relative_to(ROOT).parent.parts
                pkg = pkg[:len(pkg) - node.level + 1]
                base = ".".join(pkg + ((base,) if base else ()))
            mods = ([f"{base}.{a.name}" for a in node.names]
                    if base == PACKAGE.name else [base])
        else:
            continue
        for mod in mods:
            parts = mod.split(".")
            if parts[0] == PACKAGE.name:
                yield node.lineno, mod, parts[1] if len(parts) > 1 else ""


@pytest.mark.parametrize("layer", sorted(ALLOWED))
def test_layer_imports_only_lower_layers(layer):
    bad = [f"{f.relative_to(ROOT)}:{line} -> {mod}"
           for f in sorted((PACKAGE / layer).rglob("*.py"))
           for line, mod, dep in _imported_layers(f)
           if dep not in ALLOWED[layer]]
    assert not bad, f"{layer}/ imports above its layer:\n" + "\n".join(bad)


def test_extraction_operator_loads_no_source():
    """Importing the extraction operator, as every extraction worker does,
    loads no corpus-synthesis module (the PDF writer lives in sources/)."""
    code = ("import sys, qwen_ocr_spark.operators.extract\n"
            "print(sorted(m for m in sys.modules\n"
            "             if m.startswith('qwen_ocr_spark.sources')))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"
