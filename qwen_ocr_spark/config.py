"""Engine constants.

Mirrors the tunables of the reference's ``Config`` singleton
(/root/reference/src/config.py:47-62) that survive the rebuild — everything
API/GUI-related is dropped.  A plain constants module (no mutable singleton):
it is captured by closure into UDFs and therefore broadcast implicitly.
"""

# Batch of pages folded per context-update step inside a document
# (reference: DEFAULT_BATCH_SIZE, src/config.py:52).  In the reference this
# was the unit of model invocation; here it survives as the unit of the
# header-breadcrumb fold so cross-segment semantics (list continuation,
# sentence merge) stay testable.
BATCH_SIZE = 10

# First page number is 1 (reference: DEFAULT_START_PAGE, src/config.py:53).
START_PAGE = 1

# Figure area filter, normalized bbox coords in [0, 1000] so a full page is
# area 1e6 (reference: MIN/MAX_AREA_PERCENTAGE, src/config.py:61-62, applied
# at src/models/document_job.py:203-227).
MIN_AREA_FRACTION = 0.05
MAX_AREA_FRACTION = 0.85

# bbox coordinate domain (reference: src/pdf_handler.py:81-91 — normalized
# 0-1000, origin top-left).
BBOX_SCALE = 1000

# Image token cost model: (width // 28) * (height // 28) per page
# (reference: IMAGE_TOKEN_SIZE, src/config.py:49; src/processing.py:100-102).
IMAGE_TOKEN_SIZE = 28

# Boilerplate classifier thresholds (replacement core per BASELINE.json
# north_star — Readability/boilerpipe-style text-density + link-density
# block scoring; no reference analog, the VLM did this implicitly).
LINK_DENSITY_MAX = 0.33        # blocks with more link chars than this are chrome
MIN_CONTENT_WORDS = 3          # shorter text blocks are boilerplate unless heading
LONG_TEXT_WORDS = 10           # long low-link blocks are content even in chrome

# Running header/footer removal (reference prompt rule src/config.py:90):
# a first/last line of a page repeated on strictly more than half the pages
# of a multi-page document is dropped.
RUNNING_LINE_MIN_PAGES = 2

# Caption detector (reference prompt: src/config.py:147 — caption text
# starts with one of these, usually below the figure).
CAPTION_PREFIXES = ("Figure", "Fig.", "Table", "Algorithm")

# element_type closed enum (reference: src/models/image_metadata.py:63-65).
ELEMENT_TYPES = (
    "chart", "graph", "diagram", "algorithm", "table", "screenshot", "other",
)
