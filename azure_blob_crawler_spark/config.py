"""Engine constants.

Values mirror the reference's operational defaults so behavior is comparable
(reference: shared/config/settings.py:32-38,80-101 — chunk budget, overlap,
file-size limit, batch size, extension allow-lists, page markers).
"""

# --- chunking (reference settings.py:32-34) ---
CHUNK_MAX_TOKENS = 4000
OVERLAP_TOKENS = 200
EMBEDDING_MAX_TOKENS = 8000
# 1 token ~= 4 chars fallback ratio (reference settings.py:77)
FALLBACK_CHARS_PER_TOKEN = 4

# --- admission (reference settings.py:38,92-95; handlers.py:188-192) ---
MAX_FILE_SIZE_MB = 100
SUPPORTED_TEXT_EXTENSIONS = ("txt", "md", "csv")
SUPPORTED_STRUCTURED_EXTENSIONS = ("json",)
SUPPORTED_DOCUMENT_EXTENSIONS = ("pdf", "docx", "doc")
ALL_SUPPORTED_EXTENSIONS = (
    SUPPORTED_TEXT_EXTENSIONS
    + SUPPORTED_STRUCTURED_EXTENSIONS
    + SUPPORTED_DOCUMENT_EXTENSIONS
)

# --- page/section markers (reference settings.py:99-101) ---
PAGE_PREFIX = "--- Page "
SECTION_PREFIX = "--- Section "
PAGE_SUFFIX = " ---"
PARAGRAPHS_PER_PAGE = 20  # reference settings.py:98

# --- embeddings ---
EMBEDDING_DIM = 1536          # reference settings.py:76
TEST_EMBEDDING_DIM = 64       # small dim used by tests/bench for speed

# --- frontier / scheduling (reference settings.py:80-85) ---
ROUND_SIZE = 10               # messages per receive batch
MAX_ATTEMPTS = 10             # max delivery count before dead-letter
DEFAULT_CRAWL_DELAY_S = 1.0   # politeness default when robots has no entry
ROUND_SECONDS = 10.0          # notional wall budget of one BSP round

# --- query surface (reference settings.py:144-146) ---
DEFAULT_TOP = 10
MAX_TOP = 100
GET_ALL_DOCS_CAP = 100_000
RRF_K = 60

# --- claim scheduler skew control ---
# Per-host salt width in the claim's phase-1 window = ceil(pending / this):
# bounds one window task's sort input regardless of host share. 1M rows ≈
# 100 MB of frontier columns per task — comfortable executor working set;
# hosts below the target get width 1 (no extra salt partitions, and the
# hot-host broadcast stays ∝ skewed hosts only).
CLAIM_SALT_TARGET_ROWS = 1_000_000

# --- seen-set sizing ---
# Store buckets for seen/frontier tables. 64 fits tests/bench; at scale the
# bucket count MUST grow with the table (one bucket = one task's working set
# in the cuckoo cogroup paths). Use seen_buckets_for(expected_keys) —
# ~2^27 keys/bucket keeps a shard's raw int64 keys ≈ 1 GB and its cuckoo
# chain ≈ 0.5 GB per task; 10^10 keys → 128 buckets min, 10^11 → 1024.
# CrawlRunner(n_buckets=...) and every seen.py entry point take the value
# explicitly; this module constant is only the small-scale default.
SEEN_BUCKETS = 64
_KEYS_PER_BUCKET_TARGET = 1 << 27


def seen_buckets_for(expected_keys: int) -> int:
    """Power-of-two bucket count sized so one bucket's keys fit a task."""
    n = 64
    while n * _KEYS_PER_BUCKET_TARGET < expected_keys:
        n *= 2
    return n
