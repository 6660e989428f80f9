"""Markdown contract kernels: header lines, fence cleanup, breadcrumb fold.

Semantics mirror the reference's deterministic post-processing exactly:

* header extraction       — /root/reference/src/processing.py:15-27
* code-fence strip        — /root/reference/src/processing.py:30-42
* header-stack fold       — /root/reference/src/processing.py:45-66
* breadcrumb rendering    — /root/reference/src/processing.py:157-160
* batch iteration bounds  — /root/reference/src/models/document_job.py:53-63

All functions are pure: no I/O, no clocks, no global mutation — this is the
determinism contract that makes the Spark pipeline retry-safe (re-running a
task yields byte-identical output).
"""

from __future__ import annotations

from collections.abc import Iterator

Header = tuple[int, str]  # (level 1-6, original line including '#'s)

BREADCRUMB_TITLE = "### DOCUMENT LOCATION BREADCRUMB\n"


def extract_headers(markdown: str) -> list[Header]:
    """Return ``(level, original_line)`` for every markdown heading line.

    A heading line is one whose left-stripped form starts with 1-6 ``#``
    characters followed by non-empty text.  The *original* line (with
    indentation and hashes) is preserved, matching the reference, because the
    breadcrumb re-renders raw lines.
    """
    out: list[Header] = []
    for line in markdown.split("\n"):
        s = line.lstrip()
        if not s.startswith("#"):
            continue
        level = len(s) - len(s.lstrip("#"))
        if 1 <= level <= 6 and s.lstrip("#").strip():
            out.append((level, line))
    return out


def clean_markdown_output(text: str) -> str:
    """Strip a wrapping ```` ```markdown ```` / ```` ``` ```` fence pair.

    Only a first line that is exactly ```` ```markdown ```` (after strip) and
    a last line that is exactly ```` ``` ```` are removed; anything else is
    left untouched.
    """
    lines = text.split("\n")
    if lines and lines[0].strip() == "```markdown":
        lines = lines[1:]
    if lines and lines[-1].strip() == "```":
        lines = lines[:-1]
    return "\n".join(lines)


def update_header_stack(stack: list[Header], new_headers: list[Header]) -> list[Header]:
    """Fold new headings into the breadcrumb stack.

    Monotone-stack semantics: deeper level pushes; equal level replaces the
    top; shallower level pops every entry at >= that level, then pushes.
    This is the ONLY cross-segment state in the pipeline — O(max heading
    depth) per document, never O(document), which is what lets a 10^12-row
    job keep per-group state negligible.
    """
    result = list(stack)
    for level, line in new_headers:
        while result and result[-1][0] > level:
            result.pop()
        if result and result[-1][0] == level:
            result[-1] = (level, line)
        else:
            result.append((level, line))
    return result


def build_context(stack: list[Header]) -> str:
    """Render the breadcrumb stack as an indented outline for segment k+1."""
    body = "\n".join("  " * (level - 1) + line for level, line in stack)
    return BREADCRUMB_TITLE + body


def iter_batches(start_page: int, end_page: int, batch_size: int) -> Iterator[tuple[int, int, int]]:
    """Yield ``(batch_num, page_start, page_end)`` over an inclusive range.

    ``batch_num`` is 0-based; page bounds are 1-based inclusive; the final
    batch is clamped to ``end_page``.
    """
    batch_num = 0
    page = start_page
    while page <= end_page:
        last = min(page + batch_size - 1, end_page)
        yield (batch_num, page, last)
        page = last + 1
        batch_num += 1


def num_batches(total_pages: int, batch_size: int) -> int:
    """Ceil-divide pages into batches (reference: document_job.py:317-319)."""
    return -(-total_pages // batch_size) if total_pages > 0 else 0
