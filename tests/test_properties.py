"""Property-based tests (hypothesis) for the deterministic kernels —
invariants that hold for ALL inputs, not just the golden cases."""

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from qwen_ocr_spark.functions.figures import bbox_valid, filter_figures, Figure
from qwen_ocr_spark.functions.htmlx import extract_html
from qwen_ocr_spark.functions.markdown import (
    clean_markdown_output,
    extract_headers,
    iter_batches,
    num_batches,
    update_header_stack,
)
from qwen_ocr_spark.operators.dedup import _cc_label_kernel

headers = st.lists(
    st.tuples(st.integers(1, 6), st.text(min_size=1, max_size=10)), max_size=30
)


@given(headers, headers)
@settings(max_examples=200)
def test_header_stack_levels_strictly_increase(a, b):
    stack = update_header_stack(update_header_stack([], a), b)
    levels = [lv for lv, _ in stack]
    assert levels == sorted(set(levels)), "stack must be strictly increasing"
    if b:
        assert stack, "non-empty fold input leaves a non-empty stack"
        assert stack[-1][0] == b[-1][0]


@given(headers)
@settings(max_examples=100)
def test_header_stack_idempotent_on_last(a):
    s1 = update_header_stack([], a)
    # folding the stack into an empty stack reproduces it
    assert update_header_stack([], s1) == s1


@given(st.text(max_size=300))
@settings(max_examples=200)
def test_clean_markdown_never_adds_content(text):
    out = clean_markdown_output(text)
    assert out in text or out == text
    # idempotent unless the body itself ends with a fence line
    if not out.split("\n")[-1].strip() == "```":
        assert clean_markdown_output(out) == out


@given(st.text(max_size=300))
@settings(max_examples=200)
def test_extract_headers_levels_bounded(md):
    for level, line in extract_headers(md):
        assert 1 <= level <= 6
        assert line in md.split("\n")


@given(st.integers(1, 500), st.integers(1, 50))
@settings(max_examples=200)
def test_batches_partition_the_range(total, size):
    spans = list(iter_batches(1, total, size))
    assert len(spans) == num_batches(total, size)
    covered = [p for _, s, e in spans for p in range(s, e + 1)]
    assert covered == list(range(1, total + 1))
    assert [b for b, _, _ in spans] == list(range(len(spans)))


@given(st.tuples(st.integers(-100, 1100), st.integers(-100, 1100),
                 st.integers(-100, 1100), st.integers(-100, 1100)))
@settings(max_examples=300)
def test_filter_figures_only_keeps_valid(bbox):
    kept = filter_figures([Figure(1, bbox)])
    for f in kept:
        x1, y1, x2, y2 = f.bbox
        assert 0 <= x1 < x2 <= 1000 and 0 <= y1 < y2 <= 1000
        assert 50_000 <= (x2 - x1) * (y2 - y1) <= 850_000
    assert bbox_valid(bbox) or not kept


@given(st.text(max_size=500))
@settings(max_examples=100, deadline=2000)
def test_extract_html_total_and_deterministic(payload):
    """The HTML path never raises and is a pure function of its input."""
    a = extract_html(payload)
    b = extract_html(payload)
    assert a.markdown == b.markdown
    assert a.extracted_text == b.extracted_text
    assert "\n\n\n" not in a.markdown


@st.composite
def edge_batches(draw):
    """(edges, Arrow batches holding them): a random graph over a sparse id
    pool, or a descending or shuffled chain, plus repeats of its own edges,
    cut into several (possibly empty) ``RecordBatch``es."""
    pool = draw(st.lists(st.integers(-1000, 100_000), min_size=1,
                         max_size=40, unique=True))
    kind = draw(st.sampled_from(["random", "descending", "shuffled"]))
    if kind == "random":
        edges = draw(st.lists(st.tuples(st.sampled_from(pool),
                                        st.sampled_from(pool)), max_size=80))
    else:
        path = (sorted(pool, reverse=True) if kind == "descending"
                else draw(st.permutations(pool)))
        edges = list(zip(path, path[1:]))
        if kind == "shuffled":
            edges = draw(st.permutations(edges))
    if edges:
        edges += draw(st.lists(st.sampled_from(edges), max_size=10))
    cuts = sorted(draw(st.lists(st.integers(0, len(edges)), max_size=4)))
    bounds = [0, *cuts, len(edges)]
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([a for a, _ in edges[i:j]], pa.int64()),
         pa.array([b for _, b in edges[i:j]], pa.int64())], names=["a", "b"])
        for i, j in zip(bounds, bounds[1:])]
    return edges, batches


def _min_id_components(edges):
    """Plain-Python union-find: node -> its component's minimum id."""
    root = {}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in edges:
        root.setdefault(a, a)
        root.setdefault(b, b)
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in root}


@given(edge_batches())
@settings(max_examples=300, deadline=None)
def test_cc_label_kernel_matches_union_find(case):
    """The connected-components kernel labels every node of its edge
    batches with the component minimum, once per node, whatever the graph
    shape, repeats or batch split; no edges yield no batch."""
    edges, batches = case
    out = list(_cc_label_kernel(iter(batches)))
    if not edges:
        assert out == []
        return
    nodes = [n for rb in out for n in rb.column("node").to_pylist()]
    groups = [g for rb in out for g in rb.column("group_id").to_pylist()]
    assert len(nodes) == len(set(nodes))
    assert dict(zip(nodes, groups)) == _min_id_components(edges)


def test_cc_label_kernel_empty_input():
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.int64())], names=["a", "b"])
    assert list(_cc_label_kernel(iter([]))) == []
    assert list(_cc_label_kernel(iter([empty, empty]))) == []
