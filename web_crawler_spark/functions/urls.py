"""URL kernels: canonicalization, exclusion, same-domain, scheme, priority.

Re-expresses (does not copy) the semantics of
``site-crawler.service.js`` (shouldExcludeUrl :52-79, prioritizeUrls
:84-124, canonicalization :30, same-domain :28, scheme filter :17) as pure
Spark column expressions, plus exact Python mirrors used by the
single-threaded oracle in tests.

All predicates are deterministic built-ins, so Catalyst pushes them below
shuffles and ahead of the (expensive, nondeterministic-looking) fetch UDF —
the Spark analogue of the reference's "filter before enqueue" heuristic.
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

from pyspark.sql import Column
from pyspark.sql import functions as F

# 25 excluded file extensions (site-crawler.service.js:55-58)
FILE_EXTENSIONS = [
    ".jpg", ".jpeg", ".png", ".gif", ".svg", ".webp", ".ico", ".pdf",
    ".zip", ".rar", ".tar", ".gz", ".exe", ".dmg",
    ".mp4", ".avi", ".mov", ".mp3", ".wav",
    ".css", ".js", ".json", ".xml", ".txt",
]

# 18+1 excluded path substrings (site-crawler.service.js:63-74)
EXCLUDE_PATTERNS = [
    "/login", "/signin", "/signup", "/register",
    "/cart", "/checkout", "/payment",
    "/search", "/filter",
    "/admin", "/wp-admin", "/dashboard",
    "/blog", "/news", "/article", "/post",
    "/product", "/item", "/category",
    "/privacy", "/terms", "/cookie",
    "/careers/job", "/jobs/", "/apply",
    "/download", "/upload",
    "#",
]

# priority tiers (site-crawler.service.js:91-114). Tier 1 also matches
# the /locations?$ regex; tier order inside each list is irrelevant
# (bucket membership only — the sort is a stable bucket sort).
HIGH_SUBSTRINGS = [
    "/contact", "/location", "/office", "/store", "/branch",
    "/find", "/where", "/address", "/about/us",
]
MEDIUM_SUBSTRINGS = [
    "/about", "/company", "/corporate", "/headquarter", "/facility", "/site",
]

_EXT_RE = "(" + "|".join(re.escape(e) for e in FILE_EXTENSIONS) + ")$"
_PAT_RE = "(" + "|".join(re.escape(p) for p in EXCLUDE_PATTERNS) + ")"
_HIGH_RE = "(" + "|".join(re.escape(p) for p in HIGH_SUBSTRINGS) + "|/locations?$)"
_MED_RE = "(" + "|".join(re.escape(p) for p in MEDIUM_SUBSTRINGS) + ")"
_SCHEME_RE = "^(javascript:|mailto:|tel:)"


# ---------------------------------------------------------------- columns --
def canonicalize(url: Column | str) -> Column:
    """origin + pathname: strip query + fragment (site-crawler.service.js:30).

    This canonical form IS the dedup key of the URL-seen set (north_rule).
    """
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"^(https?://[^?#]+)", 1)


def normalize_host(host: Column | str) -> Column:
    """www-stripped lowercase host (same-domain check, :28)."""
    c = F.col(host) if isinstance(host, str) else host
    return F.regexp_replace(F.lower(c), r"^www\.", "")


def host_of(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, r"^https?://([^/?#]+)", 1))


def path_of(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"^https?://[^/?#]+(/[^?#]*)", 1)


def resolve_url(href: Column | str, base: Column | str) -> Column:
    """``new URL(href, base).toString().split('#')[0]`` — the shared
    relative-URL resolution of the reference (map-detector.service.js:
    183-189, link-explorer, site-crawler), fragment stripped.

    Regex-expressible subset: absolute and protocol-relative hrefs resolve
    exactly; root-relative hrefs join the base origin; other relatives
    join the base URL's directory (dot segments are not collapsed)."""
    h = F.col(href) if isinstance(href, str) else href
    b = F.col(base) if isinstance(base, str) else base
    origin = F.regexp_extract(b, r"^(https?:)//([^/?#]+)", 0)
    scheme = F.regexp_extract(b, r"^(https?:)", 1)
    base_nofrag = F.regexp_extract(b, r"^([^?#]+)", 1)
    base_dir = F.when(
        base_nofrag.rlike(r"^https?://[^/]*$"), base_nofrag
    ).otherwise(F.regexp_replace(base_nofrag, r"/[^/]*$", ""))
    resolved = (
        F.when(h.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), h)
        .when(h.startswith("//"), F.concat(scheme, h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.concat(base_dir, F.lit("/"), h))
    )
    return F.regexp_extract(resolved, r"^([^#]*)", 1)


def is_excluded(url: Column | str) -> Column:
    """True if URL hits an excluded extension or path pattern (:52-79)."""
    c = F.lower(F.col(url) if isinstance(url, str) else url)
    return c.rlike(_EXT_RE) | c.contains("#") | c.rlike(_PAT_RE)


def bad_scheme(href: Column | str) -> Column:
    c = F.col(href) if isinstance(href, str) else href
    return c.rlike(_SCHEME_RE)


def same_domain(url: Column | str, base_host: Column | str) -> Column:
    b = F.col(base_host) if isinstance(base_host, str) else base_host
    return normalize_host(host_of(url)) == normalize_host(b)


def priority_tier(url: Column | str) -> Column:
    """1=high, 2=medium, 3=low (site-crawler.service.js:84-124)."""
    c = F.lower(F.col(url) if isinstance(url, str) else url)
    return (
        F.when(c.rlike(_HIGH_RE), F.lit(1))
        .when(c.rlike(_MED_RE), F.lit(2))
        .otherwise(F.lit(3))
    )


# ----------------------------------------------------- python mirrors -----
def py_canonicalize(url: str) -> str:
    m = re.match(r"^(https?://[^?#]+)", url)
    return m.group(1) if m else ""


def py_is_excluded(url: str) -> bool:
    u = url.lower()
    if any(u.endswith(e) for e in FILE_EXTENSIONS):
        return True
    return any(p in u for p in EXCLUDE_PATTERNS)


def py_bad_scheme(href: str) -> bool:
    return href.startswith(("javascript:", "mailto:", "tel:"))


def py_same_domain(url: str, base_host: str) -> bool:
    try:
        h = urlparse(url).hostname or ""
    except ValueError:
        return False
    strip = lambda x: re.sub(r"^www\.", "", x.lower())  # noqa: E731
    return strip(h) == strip(base_host)


def py_priority_tier(url: str) -> int:
    u = url.lower()
    if any(p in u for p in HIGH_SUBSTRINGS) or re.search(r"/locations?$", u):
        return 1
    if any(p in u for p in MEDIUM_SUBSTRINGS):
        return 2
    return 3


# ------------------------------------------------- document-type routing ---
# crawler.service.js isPdfUrl(:113-119) / isDocumentUrl(:124-134) route
# URLs to the PDF/text extraction path before fetching;
# professional-crawler.service.js isHomepage(:238-249) gates the
# homepage-only politeness shortcut. Pure column predicates.


def is_pdf_url(url: Column | str) -> Column:
    """crawler.service.js:113-119 — endswith .pdf, '.pdf?' anywhere,
    '/pdf/' path segment, or the 'doc_financials' investor-page quirk."""
    u = F.lower(F.col(url) if isinstance(url, str) else url)
    return (
        u.endswith(".pdf") | u.contains(".pdf?") | u.contains("/pdf/")
        | u.contains("doc_financials")
    )


def is_document_url(url: Column | str) -> Column:
    """crawler.service.js:124-134 — .doc/.docx/.txt/.rtf suffixes."""
    u = F.lower(F.col(url) if isinstance(url, str) else url)
    return (
        u.endswith(".doc") | u.endswith(".docx") | u.endswith(".txt")
        | u.endswith(".rtf")
    )


def is_homepage(url: Column | str) -> Column:
    """professional-crawler.service.js:238-249 — pathname '' or '/'
    (query/fragment stripped first, as new URL().pathname does)."""
    u = F.regexp_replace(
        F.col(url) if isinstance(url, str) else url, r"[?#].*$", ""
    )
    return u.rlike(r"^https?://[^/?#]+/?$")


def surt_key(url: Column | str) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) canonical key — the
    Heritrix / OpenWayback frontier key form: fragment dropped, host
    components reversed and comma-joined, query parameters sorted.

    ``https://www.example.com/a/b?b=2&a=1`` →
    ``com,example,www)/a/b?a=1&b=2``

    Why this form at 10^10 URLs: a frontier (or seen-set) sorted on the
    SURT key clusters every URL of a registrable domain into one
    contiguous key range, so per-site scans, range-partitioned politeness
    shards, and prefix-scoped crawl rules are sequential reads instead of
    scattered lookups — and sorted query params fold parameter-order
    aliases (?a=1&b=2 vs ?b=2&a=1) into one key for free. Pure column
    algebra, engine-exact (binary string sort both sides)."""
    c = F.col(url) if isinstance(url, str) else url
    u = F.substring_index(c, "#", 1)
    host = host_of(u)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(u, r"^https?://[^/?#]+([^?#]*)", 1)
    qpos = F.locate("?", u)
    sorted_q = F.when(
        qpos > 0,
        F.concat(
            F.lit("?"),
            F.array_join(
                F.array_sort(F.split(F.substr(u, qpos + 1), "&")), "&"
            ),
        ),
    ).otherwise(F.lit(""))
    return F.concat(rev, F.lit(")"), path, sorted_q)


# ----------------------- RFC 3986 syntax-based normalization ---------------
# §6.2.2 of RFC 3986, the alias-collapse every production frontier
# (Mercator, Heritrix, Nutch) runs BEFORE statistical rules like DUST:
# percent-decoding of unreserved characters, case normalization of scheme
# and host, default-port removal, dot-segment removal, and the empty-path
# → '/' rule. Each collapses an alias family the seen-set would otherwise
# count as distinct URLs. Pure column algebra (a constant battery of
# literal replaces + anchored regexp rewrites — whole-stage codegen, no
# UDF), mirrored rule-for-rule in the DuckDB oracle, so the normal form
# is engine-exact.
#
# Documented bounds (both engines, identical): dot-segment removal is a
# bounded rewrite (nesting depth ≤ 8 per rule — deeper chains of '..'
# than 8 levels survive partially, never incorrectly reordered); empty
# path segments ('//') are preserved as RFC allows; percent-escapes
# outside the unreserved set are left exactly as received (no case-folding
# of their hex digits); unreserved percent-decoding is applied as a
# sequential literal-replace battery, so an escape whose bytes are only
# FORMED by an earlier replacement in the same pass (e.g. '%%341' →
# '%41' → 'A' byte soup) decodes too — a deviation from single-pass RFC
# 3986 decoding that also makes the function non-idempotent for such
# pathological inputs (the hypothesis idempotence property excludes '%'
# for exactly this reason). All three engines (Spark battery, DuckDB
# oracle battery, Python twin) share the behavior bit-for-bit, so the
# normal form stays engine-exact. Scheme coverage: http/https (the crawl
# frontier's world).

# (escape, char) for every unreserved character, in both hex spellings the
# wire can carry (first hex digit of unreserved ASCII is always 2-7, so
# only the second digit has a letter-case variant)
PCT_UNRESERVED: list[tuple[str, str]] = []
for _ch in (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
):
    _hx = format(ord(_ch), "02X")
    for _v in sorted({f"%{_hx}", f"%{_hx[0]}{_hx[1].lower()}"}):
        PCT_UNRESERVED.append((_v, _ch))
del _ch, _hx, _v

# a path segment that is neither '.' nor '..' (no lookahead — RE2-safe,
# so the same pattern runs in Spark's Java regex and DuckDB's RE2)
_SEG = r"(?:\.\.[^/]+|\.[^/.][^/]*|[^/.][^/]*)"
DOTSEG_DEPTH = 8


def rfc3986_normalize(url: Column | str) -> Column:
    """Normalize an http(s) URL per RFC 3986 §6.2.2 (see module notes for
    the exact rule battery and bounds). Query and fragment ride along
    unchanged apart from unreserved percent-decoding.

    Step 0 strips ASCII tab/CR/LF anywhere in the string (the WHATWG URL
    parser's rule; RFC 3986 URIs cannot carry them) — this also pins the
    three regex engines together, since Java's ``$`` matches before a
    trailing newline while RE2's does not. Inputs without a
    ``<scheme>://`` prefix are returned UNCHANGED (a mailto:/data:/
    garbage string is not this kernel's job to rewrite)."""
    c0 = F.col(url) if isinstance(url, str) else url
    c = F.regexp_replace(c0, "[\t\n\r]", "")
    for pct, ch in PCT_UNRESERVED:
        c = F.replace(c, F.lit(pct), F.lit(ch))
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    rest = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*(.*)$", 1)
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    raw_path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    tail = F.substr(rest, F.length(raw_path) + 1, F.length(rest))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    for _ in range(DOTSEG_DEPTH):
        path = F.regexp_replace(path, r"/\./", "/")
    path = F.regexp_replace(path, r"/\.$", "/")
    for _ in range(DOTSEG_DEPTH):
        path = F.regexp_replace(path, f"/{_SEG}/\\.\\./", "/")
    path = F.regexp_replace(path, f"/{_SEG}/\\.\\.$", "/")
    path = F.regexp_replace(path, r"^(/\.\.)+/", "/")
    path = F.regexp_replace(path, r"^(/\.\.)+$", "/")
    return F.when(
        c.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"),
        F.concat(scheme, F.lit("://"), host, path, tail),
    ).otherwise(c0)
