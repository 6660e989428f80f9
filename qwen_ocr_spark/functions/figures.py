"""Figure metadata kernels: bbox validity, area filter, numbering, captions.

Semantics mirror the reference:

* bbox validity   — /root/reference/src/pdf_handler.py:105-110
                    (0 <= x1 < x2 <= 1000 and 0 <= y1 < y2 <= 1000)
* area filter     — /root/reference/src/models/document_job.py:203-227
                    (normalized area in [MIN_AREA_FRACTION, MAX_AREA_FRACTION])
* fig numbering   — restart at 1 per page, ordered by visual position
                    (/root/reference/src/config.py:151-152; top-left origin)
* caption rule    — caption text begins with Figure/Fig./Table/Algorithm
                    (/root/reference/src/config.py:147)
* per-figure failure is non-fatal — an invalid bbox drops that figure only
  (/root/reference/src/models/document_job.py:229-239)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from qwen_ocr_spark import config

BBox = tuple[int, int, int, int]  # x1, y1, x2, y2 — normalized 0-1000, top-left origin


@dataclass
class Figure:
    """One detected visual element, pre-crop (analog of ImageMetadata,
    /root/reference/src/models/image_metadata.py:7-85)."""

    page_number: int
    bbox: BBox
    element_type: str = "other"
    caption: str | None = None
    fig_number: int = 0  # assigned by number_figures
    # payload format tag: "gray8:WxH" for decoded PDF raster samples, ""
    # when no pixel payload exists (the HTML path carries only metadata —
    # no raster ever existed to crop from; the column is honest about it)
    img_format: str = ""
    png: bytes = field(default=b"", repr=False)


def bbox_valid(bbox: BBox) -> bool:
    x1, y1, x2, y2 = bbox
    s = config.BBOX_SCALE
    return 0 <= x1 < x2 <= s and 0 <= y1 < y2 <= s


def bbox_area_fraction(bbox: BBox) -> float:
    x1, y1, x2, y2 = bbox
    return ((x2 - x1) * (y2 - y1)) / float(config.BBOX_SCALE ** 2)


def area_in_bounds(bbox: BBox) -> bool:
    frac = bbox_area_fraction(bbox)
    return config.MIN_AREA_FRACTION <= frac <= config.MAX_AREA_FRACTION


def filter_figures(figures: list[Figure]) -> list[Figure]:
    """Keep figures with a valid bbox and in-bounds area.

    Invalid entries are silently dropped (row-level error channel handled by
    the caller) — one bad figure never fails the document.
    """
    return [f for f in figures if bbox_valid(f.bbox) and area_in_bounds(f.bbox)]


def number_figures(figures: list[Figure]) -> list[Figure]:
    """Assign fig_number restarting at 1 per page, ordered by (y1, x1).

    Deterministic tie-break: top-most first, then left-most — this is the
    window-function analog ``row_number() over (partition by page order by
    y1, x1)`` and the two implementations must agree (see the q_fig_numbering
    oracle in __spark_entry__.py).
    """
    out: list[Figure] = []
    by_page: dict[int, list[Figure]] = {}
    for f in figures:
        by_page.setdefault(f.page_number, []).append(f)
    for page in sorted(by_page):
        page_figs = sorted(by_page[page], key=lambda f: (f.bbox[1], f.bbox[0]))
        for i, f in enumerate(page_figs, start=1):
            f.fig_number = i
            out.append(f)
    return out


def is_caption(text: str) -> bool:
    s = text.strip()
    return s.startswith(config.CAPTION_PREFIXES)


def figure_ref(page_number: int, fig_number: int, caption: str | None) -> str:
    """Markdown image reference ``![caption]({page}_fig{n}.png)``.

    Filename key matches the reference's on-disk layout
    (/root/reference/src/models/extracted_image.py:36).
    """
    return f"![{caption or ''}]({page_number}_fig{fig_number}.png)"


def scale_bbox_to_pixels(bbox: BBox, width: int, height: int) -> tuple[int, int, int, int]:
    """Normalized 0-1000 bbox → pixel coordinates for a page of (width, height).

    Integer truncation matches the reference (/root/reference/src/pdf_handler.py:85-91).
    """
    x1, y1, x2, y2 = bbox
    s = config.BBOX_SCALE
    return (
        int(x1 * width / s),
        int(y1 * height / s),
        int(x2 * width / s),
        int(y2 * height / s),
    )


def image_tokens(width: int, height: int) -> int:
    """Cost-model metric: (w // 28) * (h // 28) per page image
    (/root/reference/src/processing.py:100-102)."""
    tile = config.IMAGE_TOKEN_SIZE
    return (width // tile) * (height // tile)
