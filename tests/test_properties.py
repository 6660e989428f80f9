"""Property-based tests (hypothesis) for the deterministic kernels —
invariants that hold for ALL inputs, not just the golden cases."""

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
