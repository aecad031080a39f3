"""What the workloads hand the program and what their gates expect: the
dictionaries, patterns, fallbacks and curation settings shared by the
generators, the oracle and the workloads.

Standard library only, so importing it costs the set-up measurement
nothing.
"""

# ---------------------------------------------------------------------------
# pages_pipeline
# ---------------------------------------------------------------------------

#: dictionaries the benchmark hands to the pipeline (all below the
#: map-literal bound, so exact lookups take the map-literal plane and the
#: union dictionary passes the native replace plane's non-interaction proof)
PAGE_STATUS_DICT = [
    ("200", "OK"),
    ("301", "Moved Permanently"),
    ("404", "Not Found"),
    ("500", "Server Error"),
]
PAGE_LANG_DICT = [
    ("en", "English"),
    ("de", "German"),
    ("fr", "French"),
    ("es", "Spanish"),
    ("ja", "Japanese"),
    ("zh", "Chinese"),
]
PAGE_COLLAB_DICT = [("100", "Yuki"), ("101", "Rupert"), ("102", "Ahmed"), ("103", "Kwame")]
PAGE_UNION_DICT = [("200", "OK"), ("500", "Server Error")]
PAGE_STATUS_FALLBACK = "unknown-status"


# ---------------------------------------------------------------------------
# enrich_lookup
# ---------------------------------------------------------------------------

#: ordered first-match patterns (Java/Python common regex subset, no
#: capturing groups) and the path templates that exercise them
PATH_PATTERNS = [
    (r"^/api/v[0-9]+/users/[0-9]+$", "api-user"),
    (r"^/api/v[0-9]+/orders/[0-9]+/items$", "api-order-items"),
    (r"^/api/v[0-9]+/orders/[0-9]+$", "api-order"),
    (r"^/api/", "api-other"),
    (r"^/static/[a-z0-9/]+\.(?:css|js)$", "static-code"),
    (r"^/static/[a-z0-9/]+\.(?:png|jpg|gif)$", "static-image"),
    (r"^/static/", "static-other"),
    (r"^/blog/[0-9]{4}/[0-9]{2}/[a-z-]+$", "blog-post"),
    (r"^/blog/", "blog-index"),
    (r"^/search\?q=[a-z]+", "search"),
    (r"^/account/(?:login|logout)$", "auth"),
    (r"^/account/", "account"),
    (r"^/admin(?:/|$)", "admin"),
    (r"\.php$", "php-probe"),
    (r"^/health$", "health"),
    (r"^/docs/[a-z]+/[a-z0-9-]+$", "docs"),
]
PATH_FALLBACK = "other-path"
KEY_FALLBACK = "unknown-key"
TAG_FALLBACK = "unknown-tag"
TAG_DICT_SIZE = 2_000
TAG_LABELS = 97
BATCH_FILES = 2


def tag_dict():
    """iterate_on dictionary: 2,000 of the 2,400 tags, values tl<n>."""
    return [(f"t{n}", f"tl{n % TAG_LABELS}") for n in range(TAG_DICT_SIZE)]


# ---------------------------------------------------------------------------
# near-duplicate probe
# ---------------------------------------------------------------------------

#: curation mix: per-language sample rates, default for the rest, and the
#: per-domain cap (the Zipf-skewed domains make the cap bite)
CURATION_RATES = {"en": 0.8, "de": 0.6, "fr": 0.5}
CURATION_DEFAULT_RATE = 0.3
JACCARD_MIN_PCT = 50
REPETITION_MAX_PCT = 50


def curation_cap(n_docs: int) -> int:
    return max(10, n_docs // 100)
