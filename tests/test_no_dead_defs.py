"""Every top-level function and class in the package is referenced.

A pure source scan (``ast`` for the definitions, ``tokenize`` for the
references; no Spark): a definition counts as live when its name occurs
as a ``NAME`` token somewhere outside its own ``def``/``class`` body, in
the package, the entry module, the bench scripts, ``scripts/``,
``perfbench/`` or ``tests/``.  Comments and docstrings are ``COMMENT`` /
``STRING`` tokens, so a name mentioned only there is still dead; the
replacement fields of an f-string count (before Python 3.12 the whole
f-string is one ``STRING`` token, so its fields are parsed out here)."""

import ast
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "qwen_ocr_spark"


def _search_files():
    files = set(PACKAGE.rglob("*.py"))
    files.add(ROOT / "__spark_entry__.py")
    files.update(ROOT.glob("bench*.py"))
    for d in ("scripts", "perfbench", "tests"):
        files.update((ROOT / d).rglob("*.py"))
    return sorted(f for f in files if f.is_file())


def _fstring_names(literal):
    tree = ast.parse(literal, mode="eval")
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr


def _name_tokens(path):
    """name -> lines where it occurs as a NAME token in ``path``."""
    where = defaultdict(list)
    with tokenize.open(path) as fh:
        for tok in tokenize.generate_tokens(fh.readline):
            if tok.type == tokenize.NAME:
                where[tok.string].append(tok.start[0])
            elif tok.type == tokenize.STRING:
                prefix = tok.string[:tok.string.index(tok.string[-1])]
                if "f" not in prefix.lower():
                    continue
                for name in _fstring_names(tok.string):
                    where[name].append(tok.start[0])
    return where


def _top_level_defs(path):
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno


def test_every_top_level_def_is_referenced():
    refs = defaultdict(list)  # name -> [(file, line)]
    for f in _search_files():
        for name, lines in _name_tokens(f).items():
            refs[name].extend((f, ln) for ln in lines)
    dead = []
    for f in sorted(PACKAGE.rglob("*.py")):
        for name, start, end in _top_level_defs(f):
            if not any(rf != f or not start <= ln <= end
                       for rf, ln in refs[name]):
                dead.append(f"{f.relative_to(ROOT)}:{start} {name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
