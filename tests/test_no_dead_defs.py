"""Every top-level function, class and UPPER_CASE constant in the
package is referenced, and by more than tests.

A pure source scan (``ast`` for the definitions, ``tokenize`` for the
references; no Spark): a definition counts as live when its name occurs
as a ``NAME`` token somewhere outside its own ``def``/``class`` body (or
assignment statement), in the package, the entry module, the bench
scripts, ``scripts/``, ``perfbench/`` or ``tests/``.  Comments and
docstrings are ``COMMENT`` / ``STRING`` tokens, so a name mentioned only
there is still dead; the replacement fields of an f-string count (before
Python 3.12 the whole f-string is one ``STRING`` token, so its fields
are parsed out here).

A function or class that only test files reference is flagged too,
unless ``TEST_ONLY_ALLOWED`` names it with the reason it stays.  So is a
defaulted parameter of a top-level function that no call outside tests
passes (an option only one value reaches), unless ``NEVER_PASSED_ALLOWED``
names it with its reason; that scan is ``ast`` too, matching a call to
the function by its bare or attribute name."""

import ast
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "qwen_ocr_spark"

# Top-level defs that only tests call, each kept for the contract it
# reproduces: a SURVEY.md row, the goldens' entry point, or a COVERAGE.md
# "beyond the reference" row.
TEST_ONLY_ALLOWED = {
    "clean_markdown_output": "SURVEY P6: the reference's code-fence strip",
    "num_batches": "SURVEY A4: the reference's batch count",
    "job_totals": "SURVEY A3/A6/A7: job totals, images extracted, total_cost",
    "scale_bbox_to_pixels": "reference pdf_handler.py:85-91 bbox scaling",
    "extract_pdf": "the goldens' entry point (tests/make_goldens.py)",
    "sessionize_stream": "COVERAGE beyond the reference: streaming twin",
    "events_hourly_stream": "COVERAGE beyond the reference: streaming twin",
    "incremental_dedup": "COVERAGE beyond the reference: incremental dedup",
}

# (function, parameter): defaulted parameters no call outside tests passes,
# each kept for the reason given.
NEVER_PASSED_ALLOWED = {
    ("simhash_near_pairs", "radius"): "tests sweep the hamming radius",
    ("parse_html", "fast"): "fast=False is the tests' reference parser",
    ("read_output", "dedup"): "racing writers' duplicate urls; leaves with "
                              "the commit log (ROADMAP direction 7)",
    ("incremental_dedup", "commit"): "test-only operator (TEST_ONLY_ALLOWED)",
    ("incremental_dedup", "run_id"): "test-only operator (TEST_ONLY_ALLOWED)",
    ("synth_pages", "start"): "test-data generator: a second id range",
    ("make_pdf", "cid_cff"): "test-data generator: a PDF feature flag",
}


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


def _top_level_constants(path):
    """Module-level assignments to UPPER_CASE names."""
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign)
                   else [])
        for tgt in targets:
            for name in ast.walk(tgt):
                if isinstance(name, ast.Name) and name.id.isupper():
                    yield name.id, node.lineno, node.end_lineno


def _refs():
    refs = defaultdict(list)  # name -> [(file, line)]
    for f in _search_files():
        for name, lines in _name_tokens(f).items():
            refs[name].extend((f, ln) for ln in lines)
    return refs


def _outside(refs, name, f, start, end):
    """Files referencing ``name`` outside lines start..end of ``f``."""
    return {rf for rf, ln in refs[name] if rf != f or not start <= ln <= end}


def _is_test(path):
    return "tests" in path.relative_to(ROOT).parts


def _unreferenced(defs):
    refs = _refs()
    return [f"{f.relative_to(ROOT)}:{start} {name}"
            for f in sorted(PACKAGE.rglob("*.py"))
            for name, start, end in defs(f)
            if not _outside(refs, name, f, start, end)]


def test_every_top_level_def_is_referenced():
    dead = _unreferenced(_top_level_defs)
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)


def test_every_module_constant_is_referenced():
    dead = _unreferenced(_top_level_constants)
    assert not dead, "unreferenced module constants:\n" + "\n".join(dead)


def test_no_top_level_def_is_referenced_only_by_tests():
    refs = _refs()
    test_only = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        for name, start, end in _top_level_defs(f):
            users = _outside(refs, name, f, start, end)
            if users and all(_is_test(u) for u in users):
                test_only[name] = f"{f.relative_to(ROOT)}:{start} {name}"
    flagged = [w for n, w in test_only.items() if n not in TEST_ONLY_ALLOWED]
    assert not flagged, ("top-level definitions only tests reference:\n"
                         + "\n".join(flagged))
    stale = sorted(TEST_ONLY_ALLOWED.keys() - test_only.keys())
    assert not stale, f"allow-listed but not test-only: {stale}"


def _defaulted_params(fn):
    """(name, positional index or None) of each parameter of ``fn`` that
    has a default."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    out += [(a.arg, None) for a, d in zip(fn.args.kwonlyargs,
                                          fn.args.kw_defaults)
            if d is not None]
    return out


def _passed_params():
    """{(called name, parameter name or positional index)} over every call
    outside tests; a call with ``*args`` or ``**kwargs`` passes "*"."""
    passed = set()
    for f in _search_files():
        if _is_test(f):
            continue
        tree = ast.parse(f.read_text(encoding="utf-8"), filename=str(f))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name is None:
                continue
            passed.update((name, i) for i in range(len(node.args)))
            passed.update((name, k.arg or "*") for k in node.keywords)
            if any(isinstance(a, ast.Starred) for a in node.args):
                passed.add((name, "*"))
    return passed


def test_every_defaulted_parameter_is_passed_outside_tests():
    passed = _passed_params()
    never = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text(encoding="utf-8"), filename=str(f))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for param, i in _defaulted_params(node):
                if not {(node.name, param), (node.name, i),
                        (node.name, "*")} & passed:
                    never[(node.name, param)] = (
                        f"{f.relative_to(ROOT)}:{node.lineno} "
                        f"{node.name}({param})")
    flagged = [w for k, w in never.items() if k not in NEVER_PASSED_ALLOWED]
    assert not flagged, ("defaulted parameters no call outside tests "
                         "passes:\n" + "\n".join(flagged))
    stale = sorted(NEVER_PASSED_ALLOWED.keys() - never.keys())
    assert not stale, f"allow-listed but passed outside tests: {stale}"
