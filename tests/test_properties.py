"""Property-based parity: the JVM column kernels must agree with their
pure-Python twins (py_*) on adversarial inputs — the JS-vs-Java regex
parity risk called out in SURVEY.md §7.3. Hypothesis generates URL-shaped
strings; each example set runs through Spark in ONE batch."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from web_crawler_spark.functions import urls as U

# ---------------------------------------------- pure-Python twins -----
# Reference implementations the column kernels are compared against;
# the crawl oracle's own twins (py_canonicalize, ...) live in functions/urls.py.
def py_is_pdf_url(url: str) -> bool:
    u = url.lower()
    return (u.endswith(".pdf") or ".pdf?" in u or "/pdf/" in u
            or "doc_financials" in u)


def py_is_document_url(url: str) -> bool:
    return url.lower().endswith((".doc", ".docx", ".txt", ".rtf"))


def py_is_homepage(url: str) -> bool:
    base = re.sub(r"[?#].*$", "", url)
    return bool(re.match(r"^https?://[^/?#]+/?$", base))


def py_rfc3986_normalize(url: str) -> str:
    """Pure-Python twin of :func:`urls.rfc3986_normalize` — the SAME rule
    battery in the same order (hypothesis parity pins the Java-regex /
    RE2 / Python-re semantics to one another). Non-``scheme://`` inputs
    come back unchanged, like the column kernel."""
    c = re.sub(r"[\t\n\r]", "", url)
    for pct, ch in U.PCT_UNRESERVED:
        c = c.replace(pct, ch)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)(.*)$", c, re.S)
    if not m:
        return url
    scheme, hostport, rest = m.group(1).lower(), m.group(2).lower(), m.group(3)
    if scheme == "http":
        hostport = re.sub(r":80$", "", hostport)
    elif scheme == "https":
        hostport = re.sub(r":443$", "", hostport)
    pm = re.match(r"^([^?#]*)", rest)
    raw_path, tail = pm.group(1), rest[len(pm.group(1)):]
    path = raw_path if raw_path != "" else "/"
    for _ in range(U.DOTSEG_DEPTH):
        path = re.sub(r"/\./", "/", path)
    path = re.sub(r"/\.$", "/", path)
    for _ in range(U.DOTSEG_DEPTH):
        path = re.sub(f"/{U._SEG}/\\.\\./", "/", path)
    path = re.sub(f"/{U._SEG}/\\.\\.$", "/", path)
    path = re.sub(r"^(/\.\.)+/", "/", path)
    path = re.sub(r"^(/\.\.)+$", "/", path)
    return f"{scheme}://{hostport}{path}{tail}"


_scheme = st.sampled_from(
    ["https://", "http://", "javascript:", "mailto:", "tel:", ""]
)
_host = st.sampled_from(
    ["example.com", "www.example.com", "sub.example.co.uk", "host007.example.com"]
)
_path = st.text(
    alphabet="abcdefghij/._-#?=&%0123456789",
    min_size=0, max_size=30,
)
_suffix = st.sampled_from(
    ["", ".png", ".html", ".pdf", "/login", "/blog/x", "#frag", "?q=1&b=2"]
)
url_strategy = st.builds(
    lambda s, h, p, x: f"{s}{h}/{p}{x}", _scheme, _host, _path, _suffix
)


@settings(max_examples=3, deadline=None)
@given(st.lists(url_strategy, min_size=50, max_size=120, unique=True))
def test_url_kernels_match_python_twins(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        U.canonicalize("url").alias("canon"),
        U.is_excluded("url").alias("excl"),
        U.bad_scheme("url").alias("bad"),
        U.priority_tier("url").alias("tier"),
    ).collect()
    for r in rows:
        u = r["url"]
        assert r["canon"] == U.py_canonicalize(u), u
        assert r["excl"] == U.py_is_excluded(u), u
        assert r["bad"] == U.py_bad_scheme(u), u
        assert r["tier"] == U.py_priority_tier(u), u


@settings(max_examples=3, deadline=None)
@given(st.lists(url_strategy, min_size=50, max_size=120, unique=True))
def test_doc_route_kernels_match_python_twins(spark, urls):
    # crawler.service.js:113-134 + professional-crawler.service.js:238-249
    extra = [
        "https://a.ex.com/files/r.pdf", "https://a.ex.com/dl.pdf?v=1",
        "https://a.ex.com/pdf/annual", "https://a.ex.com/doc_financials/q",
        "https://a.ex.com/n.docx", "https://a.ex.com/n.rtf",
        "https://a.ex.com", "https://a.ex.com/", "https://a.ex.com/?q=1",
        "https://a.ex.com#top", "https://a.ex.com/about",
    ]
    allu = list(dict.fromkeys(urls + extra))
    df = spark.createDataFrame([(u,) for u in allu], "url string")
    rows = df.select(
        "url",
        U.is_pdf_url("url").alias("pdf"),
        U.is_document_url("url").alias("doc"),
        U.is_homepage("url").alias("home"),
    ).collect()
    for r in rows:
        u = r["url"]
        assert r["pdf"] == py_is_pdf_url(u), u
        assert r["doc"] == py_is_document_url(u), u
        assert r["home"] == py_is_homepage(u), u
    by = {r["url"]: r for r in rows}
    assert by["https://a.ex.com/?q=1"]["home"]          # query stripped
    assert by["https://a.ex.com#top"]["home"]           # fragment stripped
    assert by["https://a.ex.com/doc_financials/q"]["pdf"]  # investor quirk
    assert not by["https://a.ex.com/about"]["pdf"]


def test_surt_key_examples(spark):
    from web_crawler_spark.functions.urls import surt_key

    cases = [
        ("https://www.Example.com/a/b?b=2&a=1", "com,example,www)/a/b?a=1&b=2"),
        ("https://sub.example.org/p#frag", "org,example,sub)/p"),
        ("https://example.com/", "com,example)/"),
        ("https://example.com/x?single=1#f", "com,example)/x?single=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r["s"]
           for r in df.select("url", surt_key("url").alias("s")).collect()}
    for u, want in cases:
        assert got[u] == want


def test_surt_key_clusters_domains_and_folds_param_order(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.urls import surt_key

    df = spark.createDataFrame(
        [("https://a.example.com/1",), ("https://b.example.com/2",),
         ("https://example.net/3",),
         ("https://example.com/q?x=1&y=2",),
         ("https://example.com/q?y=2&x=1",)],
        "url string")
    keys = [r["s"] for r in
            df.select(surt_key("url").alias("s")).orderBy("s").collect()]
    # sorted SURT space puts all of example.com's hosts in one prefix run
    com = [k for k in keys if k.startswith("com,example")]
    assert com == keys[:len(com)]
    # parameter-order aliases collapse to one key
    assert keys.count("com,example)/q?x=1&y=2") == 2


# ----------------------- RFC 3986 syntax normalization ---------------------
# messy-URL strategy for the normalizer: mixed-case scheme/host, ports,
# dot-segment families, percent escapes; '%' is allowed (decode coverage)
# but the idempotence property below excludes it (pathological '%X%YZ'
# byte soup can legitimately decode in two steps)
_rfc_seg = st.sampled_from(
    ["a", "b9", ".", "..", "...", ".hidden", "a.b", "x-y_z~", "%7E", "%2F",
     "%41", "", "wEIrd"]
)
_rfc_url = st.builds(
    lambda sch, hostcase, port, segs, tail: (
        sch + hostcase + port + "".join("/" + s for s in segs) + tail
    ),
    st.sampled_from(["http://", "HTTP://", "https://", "HTTPS://"]),
    st.sampled_from(["Ex.COM", "www.example.com", "A.B.example.ORG"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.lists(_rfc_seg, min_size=0, max_size=6),
    st.sampled_from(["", "?q=1&a=%41", "#f", "?x=%2F#y"]),
)


@settings(max_examples=3, deadline=None)
@given(st.lists(_rfc_url, min_size=40, max_size=100, unique=True))
def test_rfc3986_normalize_matches_python_twin(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", U.rfc3986_normalize("url").alias("n")).collect()
    for r in rows:
        assert r["n"] == py_rfc3986_normalize(r["url"]), r["url"]


@settings(max_examples=200, deadline=None)
@given(_rfc_url)
def test_rfc3986_normalize_invariants(url):
    n = py_rfc3986_normalize(url)
    # scheme + host lowercased, default port gone, path present
    assert n.startswith(("http://", "https://"))
    host = n.split("://", 1)[1].split("/", 1)[0]
    assert host == host.lower()
    # only the scheme's OWN default port is stripped
    if n.startswith("http://"):
        assert not host.endswith(":80")
    else:
        assert not host.endswith(":443")
    pathq = "/" + n.split("://", 1)[1].split("/", 1)[1] if "/" in n.split("://", 1)[1] else "/"
    path = pathq.split("?", 1)[0].split("#", 1)[0]
    assert path.startswith("/")
    # no '%'-free input leaves a removable dot segment behind (depth <= 6
    # fixtures stay inside the documented unroll bound)
    if "%" not in url:
        assert "/./" not in path and not path.endswith("/.")
        assert py_rfc3986_normalize(n) == n  # idempotent


def test_rfc3986_normalize_curated_cases(spark):
    cases = [
        ("HTTP://WWW.Example.COM:80/a/./b/../c?q=1#f",
         "http://www.example.com/a/c?q=1#f"),
        ("https://Ex.com", "https://ex.com/"),
        ("https://ex.com:443/%7Euser/%61bc", "https://ex.com/~user/abc"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),
        ("http://ex.com/a/b/c/../../../d", "http://ex.com/d"),
        ("http://ex.com/../a", "http://ex.com/a"),
        ("http://ex.com/a/../../b", "http://ex.com/b"),
        ("http://ex.com/%2Fkeep", "http://ex.com/%2Fkeep"),
        ("http://ex.com/a/..", "http://ex.com/"),
        ("http://ex.com/a/.", "http://ex.com/a/"),
        ("http://ex.com/..", "http://ex.com/"),
        ("http://ex.com/a//b/../c", "http://ex.com/a//c"),
        ("http://ex.com/...x/../y", "http://ex.com/y"),
        ("http://ex.com/?a=%41", "http://ex.com/?a=A"),
        ("http://ex.com/a/b/c/../../../d/..", "http://ex.com/"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    for r in df.select("url", "expected",
                       U.rfc3986_normalize("url").alias("n")).collect():
        assert r["n"] == r["expected"], (r["url"], r["n"])
        assert py_rfc3986_normalize(r["url"]) == r["expected"]


def test_rfc3986_normalize_whitespace_and_non_url_edges(spark):
    cases = [
        # WHATWG tab/CR/LF strip — all three engines agree after step 0
        ("http://ex.com/a\nb", "http://ex.com/ab"),
        ("http://ex\t.com:80/x\r\n", "http://ex.com/x"),
        # non-scheme inputs pass through unchanged
        ("mailto:x@y.example", "mailto:x@y.example"),
        ("not a url", "not a url"),
        ("", ""),
        ("//protocol-relative/x", "//protocol-relative/x"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    for r in df.select("url", "expected",
                       U.rfc3986_normalize("url").alias("n")).collect():
        assert r["n"] == r["expected"], (r["url"], r["n"])
        assert py_rfc3986_normalize(r["url"]) == r["expected"]


@settings(max_examples=3, deadline=None)
@given(st.lists(
    st.one_of(
        _rfc_url,
        st.sampled_from(["mailto:a@b", "tel:+1-555", "x", "", "//rel/x",
                         "http:/one-slash", "ftp://other.scheme/p"]),
    ),
    min_size=30, max_size=80, unique=True,
))
def test_rfc3986_normalize_twin_parity_beyond_http(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", U.rfc3986_normalize("url").alias("n")).collect()
    for r in rows:
        assert r["n"] == py_rfc3986_normalize(r["url"]), r["url"]


# --------------------------------------------------- .warc.gz member split --
@given(
    st.lists(st.binary(min_size=0, max_size=4000), min_size=1, max_size=12),
    st.integers(min_value=0, max_value=9),
)
@settings(max_examples=40, deadline=None)
def test_gzip_members_roundtrip_any_member_sizes(members, level):
    """gzip_members must recover EXACTLY the member payloads from any
    concatenation — arbitrary sizes (including empty members), any
    compression level, members straddling the internal feed chunks."""
    import gzip

    from web_crawler_spark.sources.warc import gzip_members

    blob = b"".join(
        gzip.compress(m, compresslevel=level, mtime=0) for m in members
    )
    assert list(gzip_members(blob)) == members


@given(st.lists(st.binary(min_size=1, max_size=2000), min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_gzip_members_truncation_always_raises(members):
    import gzip

    import pytest

    from web_crawler_spark.sources.warc import gzip_members

    import zlib

    blob = b"".join(gzip.compress(m, mtime=0) for m in members)
    # cutting inside the final member must raise (ours for a clean
    # truncation, zlib's for a corrupted stream) — never yield a
    # silently short or partially-decoded member list
    cut = blob[: len(blob) - 5]
    with pytest.raises((ValueError, zlib.error)):
        list(gzip_members(cut))
