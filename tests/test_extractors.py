"""Extractor-stack tests against the synthetic web's golden counts: every
page plants ``n_locations(h,p)`` records via a known strategy; each
extractor must recover exactly those records (count and values)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import extract as EX
from web_crawler_spark.synthetic.web import SyntheticWeb

WEB = SyntheticWeb(n_hosts=4, pages_per_host=60, seed=42)


@pytest.fixture(scope="module")
def pages(spark):
    rows = []
    for h in range(WEB.n_hosts):
        for p in range(WEB.n_pages(h)):
            rows.append(
                (WEB.url(h, p), WEB.host(h), WEB.body(h, p), WEB.xhr_json(h, p))
            )
    df = spark.createDataFrame(
        rows, "url string, seed_host string, body string, xhr_json string"
    ).cache()
    df.count()
    return df


def _golden(strategy):
    total = 0
    for h in range(WEB.n_hosts):
        for p in range(WEB.n_pages(h)):
            if WEB.strategy(h, p) == strategy:
                total += WEB.n_locations(h, p)
    return total


@pytest.mark.parametrize(
    "strategy,extractor",
    [
        ("jsonld", EX.extract_jsonld),
        ("microdata", EX.extract_microdata),
        ("map", EX.extract_map),
        ("script", EX.extract_inline_script),
        ("text", EX.extract_text),
        ("h3", EX.extract_h3_sequential),
        ("spa", EX.extract_xhr),
    ],
)
def test_each_strategy_recovers_golden_count(pages, strategy, extractor):
    got = extractor(pages).count()
    assert got == _golden(strategy), f"{strategy}: {got} != {_golden(strategy)}"


def test_jsonld_values_match_planted(pages):
    # pick one jsonld page with records and compare field-by-field
    target = None
    for h in range(WEB.n_hosts):
        for p in range(WEB.n_pages(h)):
            if WEB.strategy(h, p) == "jsonld" and WEB.n_locations(h, p) > 0:
                target = (h, p)
                break
        if target:
            break
    assert target is not None
    h, p = target
    url = WEB.url(h, p)
    got = (
        EX.extract_jsonld(pages.filter(F.col("url") == url))
        .orderBy("locationName")
        .collect()
    )
    want = sorted(
        (WEB.location(h, p, k) for k in range(WEB.n_locations(h, p))),
        key=lambda L: L["name"],
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["locationName"] == w["name"]
        assert g["street"] == w["street"]
        assert g["city"] == w["city"]
        assert g["postcode"] == w["postcode"]
        assert g["country"] == w["country"]
        assert abs(g["latitude"] - w["lat"]) < 1e-9
        assert abs(g["longitude"] - w["lon"]) < 1e-9
        assert g["phone"] == w["phone"]


def test_extract_all_union_and_floor(pages):
    allr = EX.extract_all(pages)
    per = {r["extractionMethod"]: r["count"] for r in
           allr.groupBy("extractionMethod").count().collect()}
    for strat in ("jsonld", "microdata", "map", "script", "text", "h3"):
        assert per.get(strat, 0) == _golden(strat), strat
    assert per.get("xhr", 0) == _golden("spa")
    # all confidences above the floor
    assert allr.filter(F.col("confidence") < EX.CONFIDENCE_FLOOR).count() == 0


def test_image_caption_extraction(pages):
    imgs = EX.extract_images(pages)
    total_planted = sum(
        WEB.n_locations(h, p)
        for h in range(WEB.n_hosts)
        for p in range(WEB.n_pages(h))
    )
    assert imgs.count() == total_planted
    # caption format "{name} — {city}, {country}"
    bad = imgs.filter(~F.col("caption").rlike(r"^.+ — .+, [A-Z]{3}$")).count()
    assert bad == 0


def test_classifier_and_needs_js(pages):
    cl = pages.select(
        "url", EX.classify_page("url", "body").alias("c"),
        EX.needs_js("body").alias("njs"),
    )
    rows = cl.collect()
    by_url = {r["url"]: r for r in rows}
    for h in range(WEB.n_hosts):
        for p in range(WEB.n_pages(h)):
            u = WEB.url(h, p)
            if "/contact/" in u or u.rstrip("/").endswith("/contact"):
                assert by_url[u]["c"]["confidence"] >= 0.85
            if WEB.strategy(h, p) == "spa":
                assert by_url[u]["njs"], u


# ------------------------------------------------- X31 structural battery --
# universal-location-extractor.service.js:112-420 — adversarial semantics
# that distinguish the five DOM-structural strategies from a naive parse.
_STRUCT_HTML = (
    "<html><body><h1>Branch directory</h1>"
    # list: ul gated on office/location keyword; short item dropped
    "<ul><li>Office Directory: 12 Oak Street, Riverton, 10012 USA, call"
    " (415) 555-1234</li><li>tiny</li></ul>"
    # ungated ul: same shape but no office/location/address/contact word
    "<ul><li>Catalogue item: 99 Elm Street, Lakewood, 20099 USA, ref"
    " (415) 555-9999</li></ul>"
    # table: cells joined with ' '; short row dropped
    "<table><tr><td>Depot No7</td><td>2 Maple Ave,</td><td>Georgetown, TX"
    " 70002</td></tr><tr><td>n/a</td></tr></table>"
    # section: heading overrides locationName; component-free one dropped
    "<section><h3>Harbor Branch.</h3>3 River Road, Springfield, MA 20003,"
    " Canada. Contact branch@corp.example.com for details.</section>"
    "<section>We make fine products and offer excellent services to"
    " customers everywhere around.</section>"
    # card: LAST country header wins (Canada then United States)
    "<h2>Canada</h2><h2>United States</h2>"
    '<div class="location-card"><h4>Bayview</h4>Visit our branch at'
    " 4 Hill Blvd, 40004</div>"
    # grid: 'Reach us … Canada' → country US (ordered-substring scan)
    '<div class="grid-list"><span>Reach us at 5 Sunset Way, Oakdale,'
    " 50005 Canada</span><span>General words about nothing in particular"
    " here</span></div></body></html>"
)


@pytest.fixture(scope="module")
def struct_rows(spark):
    df = spark.createDataFrame(
        [("https://x.example.com/dir", "x.example.com", _STRUCT_HTML)],
        "url string, seed_host string, body string",
    )
    out = EX.extract_structural(df).collect()
    return {r["sourceType"]: r for r in out}, out


def test_structural_one_row_per_strategy(struct_rows):
    by_type, rows = struct_rows
    assert len(rows) == 5, rows
    assert sorted(by_type) == [
        "dom_card", "dom_grid", "dom_list", "dom_section", "dom_table"
    ]


def test_structural_list_gate_and_values(struct_rows):
    by_type, _ = struct_rows
    r = by_type["dom_list"]
    # the ungated Catalogue ul (Lakewood) must not leak through
    assert r["city"] == "Riverton"
    assert r["street"] == "12 Oak Street"
    assert r["postcode"] == "10012"
    assert r["country"] == "USA"
    assert r["phone"] == "(415) 555-1234"


def test_structural_table_cells_joined_with_space(struct_rows):
    by_type, _ = struct_rows
    r = by_type["dom_table"]
    assert r["city"] == "Georgetown"
    assert r["state"] == "TX"
    assert r["street"] == "2 Maple Ave"


def test_structural_section_heading_overrides_name(struct_rows):
    by_type, _ = struct_rows
    r = by_type["dom_section"]
    assert r["locationName"] == "Harbor Branch."
    assert r["email"] == "branch@corp.example.com"
    assert r["state"] == "MA"


def test_structural_card_last_country_header_wins(struct_rows):
    by_type, _ = struct_rows
    r = by_type["dom_card"]
    assert r["country"] == "United States"  # not the earlier Canada header
    assert r["locationName"] == "Bayview"
    assert r["street"] == "4 Hill Blvd"


def test_structural_country_ordered_substring_bug(struct_rows):
    by_type, _ = struct_rows
    # 'Reach us … Canada' upper-contains 'US' before the scan reaches
    # Canada — bug-compatible with extractCountry (:511-521)
    assert by_type["dom_grid"]["country"] == "US"


# ----------------------------------- X32 data-attributes / X33 contact page --
# location-extractor.service.js:350-450 — the data-slug strategy and the
# contact-block scan, with their reference quirks.
_DA_HTML = (
    "<html><body>"
    # 8a: empty element -> slug title-cased, inner word case preserved
    '<a data-slug="river-heights-NYC"></a>'
    # 8a: class display child beats the data-city attr
    '<div data-city="Austin"><span class="location-name">Austin HQ</span> x</div>'
    # 8a: jsname child beats the class child
    '<li data-office="O1"><span jsname="K4r5Ff">Tokyo Office</span>'
    '<span class="city-name">Nope</span></li>'
    # 8a decoy: 1-char name
    '<span data-city="A"></span>'
    # 8b: script city array + http decoy entry
    '<script>var offices = [["San Mateo","san-mateo",[1,2],["F"],"CA",3],'
    '[["http://x","y"]]];</script>'
    # contact: US-tier address, heading name, activity keyword, phone+email
    '<div class="contact-location"><h3>Main Desk.</h3>123 Harbor Street,'
    " Suite 4, Springfield, IL 62704. Call (415) 555-2671 or mail"
    " desk@corp.example.com. Our warehouse team is here.</div>"
    # contact: lenient comma tier, no heading -> per-page .each index name
    '<div class="branch-info">Reach the annex at Plaza Mayor 9, Madrid,'
    " Spain soon</div>"
    # contact decoy: too short for the 15-char address gate
    '<div class="contact-address">short, text</div>'
    "</body></html>"
)


@pytest.fixture(scope="module")
def da_rows(spark):
    df = spark.createDataFrame(
        [("https://x.test/contact", "x.test", _DA_HTML)],
        "url string, seed_host string, body string",
    )
    return (
        EX.extract_data_attributes(df).collect(),
        EX.extract_contact_page(df).collect(),
    )


def test_data_attr_slug_title_case_preserves_inner_case(da_rows):
    attrs, _ = da_rows
    names = {r["locationName"] for r in attrs}
    # NOT 'River Heights Nyc' (initcap would lowercase the rest)
    assert "River Heights NYC" in names


def test_data_attr_child_priority_and_gates(da_rows):
    attrs, _ = da_rows
    names = sorted(r["locationName"] for r in attrs)
    # class child beats attr; jsname child beats class child; 1-char and
    # http-containing candidates are gated out
    assert names == ["Austin HQ", "River Heights NYC", "San Mateo",
                     "Tokyo Office"]


def test_contact_page_us_tier_and_activity(da_rows):
    _, cps = da_rows
    r = {x["locationName"]: x for x in cps}["Main Desk."]
    assert r["street"] == "123 Harbor Street, Suite 4, Springfield, IL 62704"
    assert r["activity"] == "Warehouse"
    assert r["phone"] == "(415) 555-2671"
    assert r["email"] == "desk@corp.example.com"


def test_contact_page_each_index_fallback_name(da_rows):
    _, cps = da_rows
    assert len(cps) == 2  # the 'short, text' block fails the 15-char gate
    r = {x["locationName"]: x for x in cps}["Contact Location 2"]
    # lenient tier returns the whole cleaned text (no US/intl match)
    assert r["street"].startswith("Reach the annex at Plaza Mayor 9")
    assert r["phone"] is None and r["email"] is None


# --------------------------------------------- X34 heuristic DOM battery --
# heuristic-extractor.service.js:11-245 — the four strategies, the
# looksLikeAddress gate, and the normalized-key first-wins dedup.
_HX_HTML = (
    '<html><body>'
    '<div class="contact-info">Contact our office at Keystone Plaza near'
    " the station in Ashford</div>\n"
    '<span class="office-tag">(12) Oak 5!!</span>\n'   # key len <= 10
    "<address>Registered at 9 Crown Square, Ashford</address>\n"
    "<h2>Our Locations</h2>\n"
    "<p>4 Garner Road, Ashford 30042</p>\n"
    "<p>Timetable item without numerals here</p>\n"    # no digit
    "<h6>Company history</h6>\n"                       # non-keyword heading
    "<ul><li>Branch office list</li>\n"
    "<li>4 Quarry Lane, Ashford, 44042</li><li>tiny</li></ul>\n"
    "Shipping dock at 7 Mason Court, Ashford 88042\n"
    "</body></html>"
)


@pytest.fixture(scope="module")
def hx_rows(spark):
    df = spark.createDataFrame(
        [("https://s1.example.com/loc-1", "s1.example.com", _HX_HTML)],
        "url string, seed_host string, body string",
    )
    return EX.extract_heuristic(df).collect()


def test_heuristic_strategy_rows_and_confidences(hx_rows):
    got = sorted((r["sourceType"], r["street"]) for r in hx_rows)
    assert [t for t, _ in got].count("heur_semantic") == 2
    assert [t for t, _ in got].count("heur_heading") == 1
    assert [t for t, _ in got].count("heur_text") == 2
    assert [t for t, _ in got].count("heur_list") == 1
    conf = {r["sourceType"]: r["confidence"] for r in hx_rows}
    assert conf == {"heur_semantic": 0.7, "heur_heading": 0.8,
                    "heur_text": 0.6, "heur_list": 0.75}


def test_heuristic_dedup_strategy_order_wins(hx_rows):
    # the <address> line and the heading sibling also match strategy 3's
    # body-line scan; push order (semantic < heading < text) keeps the
    # earlier strategy's row and drops the 0.6 duplicates
    streets = {(r["sourceType"], r["street"]) for r in hx_rows}
    assert ("heur_semantic", "Registered at 9 Crown Square, Ashford") in streets
    assert ("heur_text", "Registered at 9 Crown Square, Ashford") not in streets
    assert ("heur_heading", "4 Garner Road, Ashford 30042") in streets
    assert ("heur_text", "4 Garner Road, Ashford 30042") not in streets
    # the list item's body line glues with the 'tiny' decoy -> distinct
    # key, so BOTH the list row and the glued text row survive
    assert ("heur_list", "4 Quarry Lane, Ashford, 44042") in streets
    assert ("heur_text", "4 Quarry Lane, Ashford, 44042tiny") in streets


def test_heuristic_gates(hx_rows):
    streets = [r["street"] for r in hx_rows]
    assert "(12) Oak 5!!" not in streets          # dedup key len <= 10
    assert all("Timetable" not in s for s in streets)   # no digit
    assert all(s != "tiny" for s in streets)            # length gate
    head = [r for r in hx_rows if r["sourceType"] == "heur_heading"][0]
    assert head["locationName"] == "our locations"      # lowercased heading


# ------------------------------------------------ X35 scraper pipeline ----
# scraper.service.js:5-155,223-309 — the strategy chain and the
# sequential similarity dedup with longer-address-wins replacement.
_SC_A = (
    "<html><head><title>Acme 7 Corp</title></head><body>"
    '<div class="office-location"><h4>Westwing Hub</h4>12 Keel Street,'
    " Suite 3, Norfolk, VA 23510</div>"
    "Depots: 77 Marsh Avenue, Dover, DE 19901 and later"
    " 77 Marsh Avenue, Dover, DE 19901-8899."
    "</body></html>"
)
_SC_B = (
    "<html><head><title>Acme 7 Warehouse Group</title>"
    '<meta name="description" content="Distribution and fulfillment">'
    '</head><body><div class="contact">Reach our contact desk anytime</div>'
    "<p>Visit us at 14 Old Mill Hollow, Fairbanks, AK today</p>"
    "<p>Our office sits at 8 Quay Yard, Juneau, AK for now</p></body></html>"
)
_SC_C = (
    '<html><head><meta property="og:title" content="Acme Agency 7"></head>'
    "<body><p>General information page with no physical sites listed"
    " anywhere.</p></body></html>"
)


# first-6-elements window (`if (i > 5) return false`): the only address
# sits in the SEVENTH keyword-bearing block, past the cutoff
_SC_D = (
    "<html><head><title>Acme Seven Annex</title></head><body>"
    + "".join(f"<p>office wing {w} holds no mail drop</p>"
              for w in ("ay", "bee", "cee", "dee", "ee", "eff"))
    + "<p>office mail: 8 Quay Yard, Juneau, AK</p></body></html>"
)
# a 10-char keyword block fails the >10 length gate but still CONSUMES a
# window slot; the address block is the sixth element, last inside the cap
_SC_E = (
    "<html><head><title>Acme Seven Depot</title></head><body>"
    "<p>office now</p>"
    + "".join(f"<p>office wing {w} holds no mail drop</p>"
              for w in ("gee", "aitch", "eye", "jay"))
    + "<p>office at 9 Elm Walk, Juneau, AK</p></body></html>"
)


@pytest.fixture(scope="module")
def sc_rows(spark):
    rows = [(f"https://t1.example.com/{p}-7", "t1.example.com", b)
            for p, b in (("a", _SC_A), ("b", _SC_B), ("c", _SC_C),
                         ("d", _SC_D), ("e", _SC_E))]
    df = spark.createDataFrame(rows, "url string, seed_host string, body string")
    out = EX.extract_scraper(df).collect()
    return {r["sourceUrl"][-3:]: [] for r in out} | {
        k: [r for r in out if r["sourceUrl"].endswith(k)]
        for k in ("a-7", "b-7", "c-7", "d-7", "e-7")
    }


def test_scraper_dedup_longer_replaces_shorter(sc_rows):
    a = {r["sourceType"]: r for r in sc_rows["a-7"]}
    assert len(sc_rows["a-7"]) == 2
    # the pattern row survives its equal-length body-text duplicate;
    # the shorter Marsh row is REPLACED by the ZIP+4 variant, which
    # keeps its pre-dedup index in the name ('Location 3')
    assert a["scraper_pattern"]["locationName"] == "Westwing Hub"
    assert a["scraper_pattern"]["street"] == \
        "12 Keel Street, Suite 3, Norfolk, VA 23510"
    assert a["scraper_regex"]["locationName"] == "Location 3 - t1.example.com"
    assert a["scraper_regex"]["street"] == "77 Marsh Avenue, Dover, DE 19901-8899"


def test_scraper_basic_last_keyword_wins(sc_rows):
    (b,) = sc_rows["b-7"]
    assert b["sourceType"] == "scraper_basic"
    assert b["locationName"] == "Acme 7 Warehouse Group"  # title tag
    # 'office' is scanned after 'visit us', so its paragraph wins; the
    # address-free '.contact' block must not overwrite anything
    assert b["street"] == "8 Quay Yard, Juneau, AK"
    assert b["activity"] == "Warehouse"   # title+description keywords
    assert b["usageShare"] == "Own"


def test_scraper_basic_placeholder_and_og_title(sc_rows):
    (c,) = sc_rows["c-7"]
    assert c["locationName"] == "Acme Agency 7"           # og:title tier
    assert c["street"] == "t1.example.com - See website for address"
    assert c["activity"] == "Office"


def test_scraper_head_does_not_leak_into_body_scans(sc_rows):
    # the <title> digits must not seed a regex match ($('body').text()
    # excludes head content)
    assert all(not r["street"].startswith("7 Corp")
               for r in sc_rows["a-7"])


def test_scraper_keyword_window_stops_after_six_elements(sc_rows):
    # scraper.service.js:74 `if (i > 5) return false` — the 7th
    # keyword-bearing element is never examined, so page d falls back to
    # the placeholder even though that element holds a parseable address
    (d,) = sc_rows["d-7"]
    assert d["sourceType"] == "scraper_basic"
    assert d["street"] == "t1.example.com - See website for address"


def test_scraper_keyword_window_counts_ineligible_elements(sc_rows):
    # the 10-char 'office now' block fails the length gate but still
    # consumes window slot i=0 (the JS counts every matched element);
    # the address block is element i=5 — last inside the cap — and wins
    (e,) = sc_rows["e-7"]
    assert e["sourceType"] == "scraper_basic"
    assert e["street"] == "9 Elm Walk, Juneau, AK"


# ----------------------------------------------------- X37 map detection ---
def test_map_coords_cascade_reference_order(spark):
    """The six patterns of map-detector.service.js:71-129 in order, plus
    the truthy-object semantics (found=True with NULL coords for NaN
    parseFloats) and searchParams decoding ('+', %XX)."""
    from web_crawler_spark.operators import extract as EX

    cases = [
        ("https://g.com/maps/@12.5,-70.25,15z", True, 12.5, -70.25),
        ("https://g.com/maps/place/!3d1.5!4d2.5", True, 1.5, 2.5),
        ("https://g.com/?q=Foo+Bar+7.25,-8.5", True, 7.25, -8.5),
        ("https://g.com/?q=12.25%2C-13.5", True, 12.25, -13.5),
        ("https://g.com/?center=5.5,6.5", True, 5.5, 6.5),
        ("https://g.com/?center=notanum,6.5", True, None, 6.5),
        ("https://g.com/?lat=1.5&lng=2.5", True, 1.5, 2.5),
        ("https://g.com/?lat=&lon=&lng=7.5", True, None, 7.5),
        ("https://osm.org/?mlat=3.25&mlon=4.5", True, 3.25, 4.5),
        # hash is not a query: ?q= inside the fragment must not count
        ("https://g.com/path#?q=9.5,9.5", False, None, None),
        ("https://g.com/plain", False, None, None),
        # integer coords do not satisfy the \d+\.\d+ patterns
        ("https://g.com/maps/@12,-70", False, None, None),
    ]
    df = spark.createDataFrame([(u,) for u, *_ in cases], "u string")
    got = {
        r["u"]: (r["c"]["found"], r["c"]["lat"], r["c"]["lon"])
        for r in df.select("u", EX.map_coords(F.col("u")).alias("c")).collect()
    }
    for u, found, lat, lon in cases:
        assert got[u] == (found, lat, lon), u


def test_detect_map_iframes_gates_and_order(spark):
    from web_crawler_spark.operators import extract as EX

    body = (
        '<iframe src="https://www.google.com/maps/@40.75,-73.99,15z">'
        "</iframe>"
        '<iframe src="https://other.example.com/notamap"></iframe>'
        '<iframe src="/embed/mapbox-view"></iframe>'
        '<a href="https://maps.app.goo.gl/XYZ">No coords link</a>'
        '<a href="https://www.google.com/maps/place/!3d1.5!4d2.5">'
        "<b>Visit</b> HQ</a>"
        '<a href="/directions/here">Not a google link</a>'
    )
    df = spark.createDataFrame(
        [("https://base.example.com/contact/page", body)],
        "url string, body string",
    )
    rows = EX.detect_map_iframes(df).orderBy("ord").collect()
    assert [
        (r["ord"], r["kind"], r["src"], r["coords_found"], r["provider"],
         r["text"]) for r in rows
    ] == [
        (0, "iframe", "https://www.google.com/maps/@40.75,-73.99,15z",
         True, "google", None),
        # relative src resolves against the base URL's directory
        (1, "iframe", "https://base.example.com/embed/mapbox-view",
         False, "mapbox", None),
        # link rows require coordinates and strip inner tags from text
        (2, "link", "https://www.google.com/maps/place/!3d1.5!4d2.5",
         True, "google", "Visit HQ"),
    ]


def test_detect_data_attributes_pair_json_and_fallback(spark):
    from web_crawler_spark.operators import extract as EX

    body = (
        '<div id="hq" class="pin" data-lat="12.5" data-lon="-70.25">x</div>'
        '<span data-latitude="1.25" data-lng="3.5">y</span>'
        "<p data-location='{\"lat\":1.5,\"lon\":2.5}'>z</p>"
        '<p data-location="3.5, 4.75">w</p>'
        # JSON zeros are falsy in the reference -> dropped
        "<p data-location='{\"lat\":0,\"lon\":2.5}'>zero</p>"
        '<p data-lat="9.5">lat only</p>'
    )
    df = spark.createDataFrame([("https://b.com/p", body)],
                               "url string, body string")
    rows = EX.detect_data_attributes(df).orderBy("ord").collect()
    assert [(r["lat"], r["lon"], r["element"]) for r in rows] == [
        (12.5, -70.25, "DIV#hq.pin"),
        (1.25, 3.5, "SPAN"),
        (1.5, 2.5, None),
        (3.5, 4.75, None),
    ]


def test_resolve_url_subset(spark):
    from web_crawler_spark.functions import urls as U

    cases = [
        ("https://x.com/a", "https://b.com/c/d", "https://x.com/a"),
        ("//cdn.x.com/a", "https://b.com/c/d", "https://cdn.x.com/a"),
        ("/root/p", "https://b.com/c/d?q=1", "https://b.com/root/p"),
        ("rel/p", "https://b.com/c/d", "https://b.com/c/rel/p"),
        ("rel", "https://b.com", "https://b.com/rel"),
        ("a#frag", "https://b.com/c/", "https://b.com/c/a"),
    ]
    df = spark.createDataFrame(cases, "href string, base string, want string")
    got = df.select(
        U.resolve_url("href", "base").alias("got"), "want"
    ).collect()
    for r in got:
        assert r["got"] == r["want"]


# --------------------------------------- X38 location-extractor DOM set ----
_LD_PAT = ('<html><head><title>T9</title></head><body><p>45 Mill Lane Leeds'
           ' LS1 4AB. Call 12 Harbor Street, Suite 9, Springfield, IL 62704'
           ' now. Keizersgracht 100, 1015 CJ Amsterdam</p></body></html>')
_LD_TBL = ('<body><table><tr><td>Springfield Office</td>'
           '<td>12 Harbor Street, Springfield, IL 62704</td>'
           '<td>Tel 217-555-0133 x@acme.com</td></tr>'
           '<tr><td>tiny</td><td>x</td></tr>'
           '<tr><td></td><td>34 Elm Street, Madison, WI 53703</td></tr>'
           '</table><table><tr><td>No keyword</td>'
           '<td>77 Oak Road, Dover, DE 19901</td></tr></table></body>')
_LD_SEC = ('<body><section class="location"><h3>Downtown Hub</h3>'
           '<p>88 Pine Street, Portland, OR 97204</p>'
           '<p>Tel 503-555-0199 and open daily</p></section>'
           '<div id="contact-main">Our crew sits at 9 Elm Road, Salem,'
           ' OR 97301 every day of the year</div>'
           '<div class="location">tiny</div>'
           '<section class="office">no address here but definitely enough'
           ' padding text to pass fifty</section></body>')
_LD_LST = ('<body><ul class="locations-list">'
           '<li>Harbor Annex 14 Bay Street, Oakland, CA 94607 Tel'
           ' 510-555-0142 a@b.io</li>'
           '<li>too short</li>'
           '<article><h4>Lake Office</h4><p>irrelevant filler</p>'
           '<p>215 Lake Avenue, Duluth, MN 55802</p></article>'
           '<div class="office-item">Main office building'
           ' <p>Fifth floor west wing entrance</p></div>'
           '</ul><ul class="wp-block-group"><li>No address in this item'
           ' but long enough text</li></ul></body>')


@pytest.fixture(scope="module")
def ld_pages(spark):
    return spark.createDataFrame(
        [(f"https://lp0.example.com/{p}", "lp0.example.com", b)
         for p, b in (("pat", _LD_PAT), ("tbl", _LD_TBL),
                      ("sec", _LD_SEC), ("lst", _LD_LST))],
        "url string, seed_host string, body string",
    )


def test_loc_patterns_five_sweeps(ld_pages):
    rows = EX.extract_loc_patterns(
        ld_pages.where("url like '%/pat'")
    ).orderBy("ord").collect()
    # pattern-sweep order: US, UK, NL postcode+city, NL full; the
    # flexible pattern has no match; idx counts per pattern (all ' 1')
    assert [(r["locationName"], r["street"], r["phone"], r["email"],
             r["activity"], r["usageShare"]) for r in rows] == [
        ("lp0.example.com - Location 1",
         "12 Harbor Street, Suite 9, Springfield, IL 62704",
         "", "", "Office", "Exclusive"),
        ("lp0.example.com - Location 1", "45 Mill Lane Leeds LS1 4AB",
         "", "", "Office", "Exclusive"),
        ("lp0.example.com - Location 1", "1015 CJ Amsterdam",
         "", "", "Office", "Exclusive"),
        ("lp0.example.com - Location 1",
         "Keizersgracht 100, 1015 CJ Amsterdam",
         "", "", "Office", "Exclusive"),
    ]


def test_loc_tables_gates_and_fallback_name(ld_pages):
    rows = EX.extract_loc_tables(
        ld_pages.where("url like '%/tbl'")
    ).orderBy("ord").collect()
    # second table lacks address/location/office in its text -> skipped
    # entirely; 'tiny' row fails the addr gate; empty first cell falls
    # back to 'Location ${row ordinal+1}'
    assert [(r["locationName"], r["street"], r["phone"], r["email"])
            for r in rows] == [
        ("Springfield Office", "12 Harbor Street, Springfield, IL 62704",
         "217-555-0133", "x@acme.com"),
        ("Location 3", "34 Elm Street, Madison, WI 53703", "", ""),
    ]


def test_loc_sections_gates_and_names(ld_pages):
    rows = EX.extract_loc_sections(
        ld_pages.where("url like '%/sec'")
    ).orderBy("ord").collect()
    # <50-char and no-address sections drop; heading names the first,
    # the id*=contact div falls back to its match ordinal
    assert [(r["locationName"], r["street"], r["phone"]) for r in rows] == [
        ("Downtown Hub", "88 Pine Street, Portland, OR 97204",
         "503-555-0199"),
        ("Location 2", "9 Elm Road, Salem, OR 97301", ""),
    ]


def test_loc_lists_name_cascade_and_p_fallback(ld_pages):
    rows = EX.extract_loc_lists(
        ld_pages.where("url like '%/lst'")
    ).orderBy("ord").collect()
    assert [(r["locationName"], r["street"], r["phone"], r["email"])
            for r in rows] == [
        # no heading -> first comma segment of the address
        ("14 Bay Street", "14 Bay Street, Oakland, CA 94607",
         "510-555-0142", "a@b.io"),
        ("Lake Office", "215 Lake Avenue, Duluth, MN 55802", "", ""),
        # regex miss -> inner-<p> text becomes the address AND the name
        ("Fifth floor west wing entrance", "Fifth floor west wing entrance",
         "", ""),
    ]


def test_generic_addresses_processed_set_and_gates(spark):
    from web_crawler_spark.operators import extract as EX

    body = ('<body><div>Our main office sits at 12 Harbor Street,'
            ' Springfield quite near the park</div>'
            '<div>Our main office sits at 12 Harbor Street, Springfield'
            ' quite near the park</div>'
            '<p>short text 12345</p>'
            '<section>Mail drop with postal code 94607 only, no street'
            ' but padding to fifty chars</section></body>')
    df = spark.createDataFrame([("https://u.com/g", "u.com", body)],
                               "url string, seed_host string, body string")
    rows = EX.extract_generic_addresses(df).collect()
    # duplicate block collapses via the exact-text processed set; the
    # short paragraph misses the [50,600] window
    assert [(r["locationName"], r["street"], r["postcode"]) for r in rows] == [
        ("Office", "12 Harbor Street", None),
        ("Office", None, "94607"),
    ]


def test_jsonld_recursive_walk_semantics(spark):
    from web_crawler_spark.operators import extract as EX

    blob = ('{"@context":"https://schema.org","@graph":[{"@type":'
            '"CorporatePlace","name":"Graph HQ","address":{"streetAddress":'
            '"1 Way","addressLocality":"Oslo","postalCode":"0150"},'
            '"geo":{"latitude":59.9,"longitude":10.7},"sibling_ignored":true},'
            '{"@type":"Thing","nested":{"@type":"LocalBusiness","name":'
            '"Deep Biz","address":{"addressLocality":"Bergen"},'
            '"telephone":"555"}},'
            '{"@type":["Place","Org"],"name":"ArrayType",'
            '"address":{"addressLocality":"Nope"}},'
            '{"@type":"Place","name":"NoAddr"}]}')
    body = (f'<body><script type="application/ld+json">{blob}</script>'
            '<script type="application/ld+json">not json</script></body>')
    df = spark.createDataFrame([("https://u.com/j", "u.com", body)],
                               "url string, seed_host string, body string")
    rows = EX.extract_jsonld_recursive(df).orderBy("ord").collect()
    # substring @type gate (CorporatePlace), @graph sibling short-circuit,
    # nested-object recursion; ARRAY @type fails the typeof-string gate;
    # address-less Place emits nothing; malformed script skipped
    assert [(r["locationName"], r["street"], r["city"], r["phone"],
             r["latitude"], r["longitude"]) for r in rows] == [
        ("Graph HQ", "1 Way", "Oslo", "", 59.9, 10.7),
        ("Deep Biz", "", "Bergen", "555", None, None),
    ]
