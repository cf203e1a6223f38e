"""S5-S10 source/sink operators: sitemap mining, API probing + JSON
normalization, PDF text capsules, bulk CSV synonym parsing, CSV export."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from web_crawler_spark.sources import api_probe as AP
from web_crawler_spark.sources import bulk as BK
from web_crawler_spark.sources import pdf as P
from web_crawler_spark.sources import sitemap as SM


# ------------------------------------------------------------ sitemap ------
def test_sitemap_candidates_and_locs(spark):
    """A sitemap's <loc> entries are the crawl's candidate pages."""
    xml = (
        "<urlset><url><loc>https://acme.com/a</loc></url>"
        "<url><loc>https://acme.com/login</loc></url>"
        "<url><loc>https://acme.com/img.png</loc></url>"
        "<url><loc>https://acme.com/b</loc></url></urlset>"
    )
    sm = spark.createDataFrame([("acme.com", xml)], "host string, xml string")
    locs = SM.extract_locs(sm).select("loc_idx", "loc_url").collect()
    # /login (path pattern) and .png (extension) excluded; order preserved
    assert [(r["loc_idx"], r["loc_url"]) for r in locs] == [
        (0, "https://acme.com/a"),
        (3, "https://acme.com/b"),
    ]


# ---------------------------------------------------------- api probe ------
def _payloads():
    arr = json.dumps(
        [
            {"name": "HQ", "lat": 40.5, "lng": -74.2, "zip": "07001",
             "country": "US", "phone": "+1 555"},
            {"title": "Depot", "address": "9 Dock Rd", "y": 10.0, "x": 20.0},
            {"comment": "no name or address"},
        ]
    )
    nested = json.dumps(
        {"stores": [{"storeName": "Shop", "city": "Leeds", "countryCode": "GB"}]}
    )
    geo = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "geometry": {"coordinates": [4.9, 52.37]},
                    "properties": {"name": "Adam", "city": "Amsterdam",
                                   "country": "NL"},
                }
            ],
        }
    )
    return [
        ("https://a.com/api/locations", arr),
        ("https://a.com/stores.json", nested),
        ("https://a.com/api/offices", geo),
    ]


def test_api_payload_normalization(spark):
    df = spark.createDataFrame(_payloads(), "endpoint string, payload string")
    items = AP.explode_payload_items(df)
    out = AP.normalize_items(items).collect()
    by_name = {r["locationName"]: r for r in out}
    # bare array: two valid items, the no-name/no-address one dropped
    assert set(by_name) == {"HQ", "Depot", "Shop", "Adam"}
    hq = by_name["HQ"]
    assert hq["latitude"] == "40.5" and hq["longitude"] == "-74.2"
    assert hq["postcode"] == "07001"
    assert hq["countryIso3"] == "USA"  # ISO2 -> ISO3
    assert hq["sourceType"] == "API/JSON"
    dep = by_name["Depot"]
    assert dep["locationAddress"] == "9 Dock Rd"
    assert dep["latitude"] == "10.0" and dep["longitude"] == "20.0"  # y/x synonyms
    shop = by_name["Shop"]
    assert shop["streetOrCity"] == "Leeds" and shop["countryIso3"] == "GBR"
    adam = by_name["Adam"]
    assert adam["sourceType"] == "GeoJSON"
    assert adam["latitude"] == "52.37" and adam["longitude"] == "4.9"
    assert adam["countryIso3"] == "NLD"


# ----------------------------------------------------------------- pdf -----
def test_pdf_capsule_roundtrip(spark):
    text = "Office A\n12 Main Street, Springfield 19001\n\nOffice B\n9 Dock Rd"
    rows = [
        ("https://a.com/x.pdf", bytearray(P.encode_minipdf(text, pages=2))),
        ("https://a.com/bad.pdf", bytearray(b"%PDF-1.4 real pdf bytes")),
    ]
    df = spark.createDataFrame(rows, "sourceUrl string, bytes binary")
    out = {r["sourceUrl"]: r for r in P.extract_pdf_text(df).collect()}
    good = out["https://a.com/x.pdf"]
    assert good["decode_ok"] and good["text"] == text and good["pages"] == 2
    # real PDF without pypdf -> flagged row, not an exception
    assert out["https://a.com/bad.pdf"]["decode_ok"] is False


# ---------------------------------------------------------------- bulk -----
def test_bulk_csv_synonyms(spark, tmp_path):
    p = os.path.join(str(tmp_path), "up.csv")
    with open(p, "w") as fh:
        fh.write("Company Name,Website,junk\n")
        fh.write("Acme,https://acme.com,1\n")
        fh.write(",https://anon.example,2\n")  # missing name -> Unknown
        fh.write("NoUrl,,3\n")  # dropped
    got = {r["companyName"]: r["url"] for r in BK.read_bulk_csv(spark, p).collect()}
    assert got == {"Acme": "https://acme.com", "Unknown": "https://anon.example"}


def test_export_csv_quote_all(spark, tmp_path):
    df = spark.createDataFrame(
        [("a, with comma", 'quote "q"', "hide")],
        "name string, note string, secret string",
    )
    out = os.path.join(str(tmp_path), "export")
    BK.export_csv(df, out, columns=["name", "note", "secret"], hidden=("secret",))
    body = "".join(
        open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out))
        if f.endswith(".csv")
    )
    assert '"a, with comma"' in body and '"quote ""q"""' in body
    assert "hide" not in body and "secret" not in body


def test_excel_report_structure(spark):
    rows = [
        ("Acme", "https://acme.com", "done", 3),
        ("Acme", "https://acme.com/2", "done", 2),
        ("Bar", "https://bar.org", "error", 0),
    ]
    df = spark.createDataFrame(
        rows, "companyName string, url string, status string, locationsCount int"
    )
    frames = BK.excel_report_frames(df)
    assert set(frames) == {"Summary", "All Locations"}
    summ = {r["companyName"]: r["locationsCount"] for r in frames["Summary"].collect()}
    assert summ == {"Acme": 5, "Bar": 0}


def test_excel_report_stdlib_xlsx(spark, tmp_path):
    """S10 end-to-end without openpyxl: the written .xlsx is a real zip
    whose sheet XML carries the data and whose styles carry the X25
    quality-color solid fills, wired to the qualityScore cells."""
    import os
    import xml.etree.ElementTree as ET
    import zipfile

    rows = [
        ("Acme", "https://acme.com", "done", 3, 95),
        ("Bar", "https://bar.org", "error", 0, 40),
    ]
    df = spark.createDataFrame(
        rows,
        "companyName string, url string, status string, locationsCount int,"
        " qualityScore int",
    )
    path = os.path.join(str(tmp_path), "report.xlsx")
    BK.write_excel_report(df, path)

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        names = [s.get("name") for s in wb.findall(".//m:sheet", ns)]
        assert names == ["Summary", "All Locations"]

        # All Locations sheet (second): values + per-cell style on
        # qualityScore
        sheet = ET.fromstring(z.read("xl/worksheets/sheet2.xml"))
        texts = [t.text for t in sheet.findall(".//m:is/m:t", ns)]
        assert "Acme" in texts and "https://bar.org" in texts
        header = texts[: len(df.columns) + 1]  # + qualityColor added by frames
        qs_col = header.index("qualityScore")
        styled = {
            c.get("r"): c.get("s")
            for c in sheet.findall(".//m:c", ns)
            if c.get("s") not in (None, "0")
        }
        # both data rows carry a fill on the qualityScore column
        from web_crawler_spark.sources.bulk import _col_letter

        assert f"{_col_letter(qs_col)}2" in styled
        assert f"{_col_letter(qs_col)}3" in styled

        # styles: the Excellent (#10b981) and Poor (#ef4444) solid fills
        styles = z.read("xl/styles.xml").decode()
        assert "FF10B981" in styles and "FFEF4444" in styles
        assert 'patternType="solid"' in styles

        # the package is openable by a picky consumer: all rel targets exist
        assert "[Content_Types].xml" in z.namelist()
        assert "xl/_rels/workbook.xml.rels" in z.namelist()


def test_read_xlsx_grid_roundtrip(spark, tmp_path):
    """read_xlsx_grid inverts write_excel_report exactly: every non-null
    cell comes back as (sheet, data_row, column_name, value-as-written),
    including numeric rendering and the frames-added qualityColor."""
    import os

    rows = [
        ("Acme", "https://acme.com", "done", 3, 95),
        ("Bar", "https://bar.org", "error", 0, 40),
    ]
    df = spark.createDataFrame(
        rows,
        "companyName string, url string, status string, locationsCount int,"
        " qualityScore int",
    )
    path = os.path.join(str(tmp_path), "report.xlsx")
    BK.write_excel_report(df, path, force_stdlib=True)
    grid = BK.read_xlsx_grid(path)
    cells = {(s, rn, col): val for (s, rn, col, val) in grid}
    # Summary: grouped rows ordered by companyName
    assert cells[("Summary", 0, "companyName")] == "Acme"
    assert cells[("Summary", 0, "locationsCount")] == "3"
    assert cells[("Summary", 1, "companyName")] == "Bar"
    # All Locations: original columns + the X25 color added by frames
    assert cells[("All Locations", 0, "qualityScore")] == "95"
    assert cells[("All Locations", 0, "qualityColor")] == "#10b981"
    assert cells[("All Locations", 1, "qualityColor")] == "#ef4444"
    assert cells[("All Locations", 1, "url")] == "https://bar.org"


# ------------------------------------------------- pdf location battery -----
# Expected rows are pinned from executing the reference's pure text
# functions (pdf-extractor.service.js extractLocationsFromText +
# deduplicateLocations, node v20) on these exact fixture texts; they pin
# the strategy battery, emission order, the i<len-3 structured window,
# the ±100/±150 context naming, the key.length>5 drop, and the
# cross-strategy first-wins dedup.
_PDF_FIXTURES = {
    "va": ("Main Office\nAcme Corp\n12 harbor ave\nSpringfield, IL 62704\n"
           "USA\nTel: 555-0100\nBranch registry"),
    "vb": ("Our Offices\nLeeds Hub\n4 mill lane\nLeeds, LS1 4AB\n"
           "Amsterdam Depot\nKeizersgracht 100\nAmsterdam, 1015 CJ"),
    "vc": ("Visit us, office crew\nname, two\n12 st\nmore, lines\nhere, now\n"
           "unseen branch tail"),
    "vd": "office 5\n1\nb\nc",
    "ve": "global presence\nBeta Annex\nDover\nDE 19901\nDover, DE 19901",
}

_PDF_EXPECTED = {
    "va": [
        ("pdf_struct", "Main Office",
         "Acme Corp, 12 harbor ave, Springfield, IL 62704, USA",
         None, None, None, None),
        ("pdf_us", "Main Office", "Springfield, IL 62704",
         "Springfield", "IL", "62704", "USA"),
        ("pdf_street", "Main Office", _PDF_FIXTURES["va"],
         None, None, None, None),
    ],
    "vb": [
        ("pdf_struct", "Our Offices",
         "Leeds Hub, 4 mill lane, Leeds, LS1 4AB, Amsterdam Depot",
         None, None, None, None),
        ("pdf_uk", "Our Offices", "Leeds, LS1 4AB",
         None, None, "LS1 4AB", "GBR"),
        ("pdf_nl", "Our Offices", "Amsterdam, 1015 CJ",
         None, None, "1015 CJ", "NLD"),
        ("pdf_street", "Our Offices", _PDF_FIXTURES["vb"],
         None, None, None, None),
        ("pdf_section", "Leeds Hub", "4 mill lane, Leeds, LS1 4AB",
         None, None, None, None),
        ("pdf_section", "Amsterdam Depot",
         "Keizersgracht 100, Amsterdam, 1015 CJ",
         None, None, None, None),
    ],
    "vc": [
        ("pdf_struct", "Visit us, office crew",
         "name, two, 12 st, more, lines, here, now",
         None, None, None, None),
        ("pdf_street", "unseen branch tail", _PDF_FIXTURES["vc"],
         None, None, None, None),
    ],
    # the structured candidate's key 'a,b,c' has length 5 -> dropped
    "vd": [],
    # US sweep runs before sections: the section window's identical
    # normalized address is suppressed by first-wins
    "ve": [
        ("pdf_us", "global presence", "Dover, DE 19901",
         "Dover", "DE", "19901", "USA"),
    ],
}


def test_pdf_location_battery_matches_reference(spark):
    df = spark.createDataFrame(
        list(_PDF_FIXTURES.items()), "sourceUrl string, text string"
    )
    out = P.extract_pdf_locations(df).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["sourceUrl"], r["ord"])):
        got.setdefault(r["sourceUrl"], []).append(
            (r["strategy"], r["locationName"], r["locationAddress"],
             r["city"], r["state"], r["postcode"], r["countryIso3"])
        )
        assert r["sourceType"] == "pdf"
    for name, exp in _PDF_EXPECTED.items():
        assert got.get(name, []) == exp, name


def test_pdf_locations_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", ""), ("u3", "   \n \n")],
        "sourceUrl string, text string",
    )
    assert P.extract_pdf_locations(df).count() == 0


def test_sitemap_index_classification_and_routing(spark):
    docs = spark.createDataFrame(
        [
            (1, "<sitemapindex><sitemap><loc>https://a.com/sm/0.xml</loc>"
                "</sitemap><sitemap><loc>https://a.com/login</loc>"
                "</sitemap></sitemapindex>"),
            (2, "<urlset><url><loc>https://b.com/office</loc></url>"
                "<url><loc>https://b.com/login</loc></url></urlset>"),
        ],
        "k long, xml string",
    )
    out = SM.split_locs(docs).select("k", "doc_kind", "loc_kind", "loc_url").collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r["k"], []).append(r)
    # index doc: BOTH locs route as child sitemaps — the excludable
    # /login child is NOT dropped (exclusion never applies to sitemaps)
    assert {r["loc_kind"] for r in by_k[1]} == {"sitemap"}
    assert len(by_k[1]) == 2
    assert all(r["doc_kind"] == "index" for r in by_k[1])
    # urlset doc: locs are pages and /login IS excluded
    assert [r["loc_url"] for r in by_k[2]] == ["https://b.com/office"]
    assert by_k[2][0]["loc_kind"] == "page"


# ---------------------------------------------------------------------------
# WET/WARC crawl-archive ingestion (sources/warc.py)
# ---------------------------------------------------------------------------


def _wet_chunk() -> str:
    b1 = "hello world this is page one"
    b2 = "second page text"
    return (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        "WARC-Date: 2024-01-15T00:00:00Z\r\nContent-Length: 9\r\n\r\n"
        "wet-stats\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://a.example/\r\n"
        f"WARC-Date: 2024-01-15T00:00:01Z\r\nContent-Length: {len(b1)}\r\n\r\n"
        f"{b1}\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://b.example/\r\n"
        "WARC-Date: 2024-01-15T00:00:02Z\r\nContent-Length: 99\r\n\r\n"
        f"{b2}\r\n\r\n"
    )


def test_wet_parse_fields_order_and_framing_flag(spark):
    from web_crawler_spark.sources import warc as W

    df = spark.createDataFrame([(7, _wet_chunk())], "k long, wet string")
    rows = {r["record_ord"]: r for r in W.parse_wet_records(df).collect()}
    assert len(rows) == 3
    assert rows[0]["warc_type"] == "warcinfo"
    assert rows[0]["target_uri"] is None and rows[0]["len_ok"]
    assert rows[1]["target_uri"] == "https://a.example/"
    assert rows[1]["body"] == "hello world this is page one"
    assert rows[1]["content_length"] == 28 and rows[1]["len_ok"]
    # the planted Content-Length violation flags, fields don't shift
    assert rows[2]["body"] == "second page text"
    assert rows[2]["content_length"] == 99 and rows[2]["len_ok"] is False
    assert rows[2]["warc_date"] == "2024-01-15T00:00:02Z"


def test_wet_read_scale_path_matches_chunk_parse(spark, tmp_path):
    from web_crawler_spark.sources import warc as W

    p = tmp_path / "shard0.wet"
    p.write_text(_wet_chunk())
    got = sorted(
        (r["record_ord"], r["warc_type"], r["target_uri"], r["body"],
         r["len_ok"])
        for r in W.read_wet(spark, str(tmp_path)).collect()
    )
    chunk_df = spark.createDataFrame([(1, _wet_chunk())], "k long, wet string")
    want = sorted(
        (r["record_ord"], r["warc_type"], r["target_uri"], r["body"],
         r["len_ok"])
        for r in W.parse_wet_records(chunk_df).collect()
    )
    assert got == want


def test_warc_http_response_parsing_and_non_http_nulls(spark):
    """Full-WARC layer: response bodies yield status / media type /
    payload; the media type drops ';' parameters; non-HTTP bodies
    (conversion) and bodies with a malformed status line come back
    all-NULL — surfaced, never misparsed."""
    from web_crawler_spark.sources.warc import parse_warc_responses

    crlf = "\r\n"
    http = (
        f"HTTP/1.1 404 Not Found{crlf}"
        f"Content-Type: text/html; charset=utf-8{crlf}"
        f"Server: syn{crlf}{crlf}"
        "<html>gone</html>"
    )
    bad = f"HTP/1.1 200 OK{crlf}{crlf}nope"  # malformed protocol token
    def rec(typ, body):
        return (
            f"WARC/1.0{crlf}WARC-Type: {typ}{crlf}"
            f"WARC-Target-URI: https://x.example/{typ}{crlf}"
            f"Content-Length: {len(body)}{crlf}{crlf}{body}{crlf}{crlf}"
        )
    shard = rec("response", http) + rec("conversion", "plain text") + rec(
        "response", bad
    )
    df = spark.createDataFrame([(shard,)], "warc string")
    rows = {r["record_ord"]: r for r in parse_warc_responses(df).collect()}
    assert len(rows) == 3
    ok = rows[0]
    assert ok["http_status"] == 404
    assert ok["http_content_type"] == "text/html"  # parameter dropped
    assert ok["payload"] == "<html>gone</html>"
    assert ok["len_ok"]
    for i in (1, 2):  # conversion body and malformed status line
        assert rows[i]["http_status"] is None
        assert rows[i]["http_content_type"] is None
        assert rows[i]["payload"] is None
    # the WET framing layer still sees all three records normally
    assert rows[1]["body"] == "plain text" and rows[1]["len_ok"]


def test_warc_responses_feed_the_extraction_battery(spark):
    """Archive → HTTP layer → extractor, end to end: each response record
    carries its parsed status and media type, and a 2xx text/html
    response feeds the contact battery and yields a record."""
    from web_crawler_spark.operators.extract import extract_text
    from web_crawler_spark.sources.warc import parse_warc_responses

    crlf = "\r\n"
    page = ("<html><p>Acme HQ: 12 Main St, Springfield, 12345 USA. "
            "Call +1 555-0100 or email hq@acme.example</p></html>")

    def http(status, ctype, body):
        return (f"HTTP/1.1 {status}{crlf}Content-Type: {ctype}{crlf}{crlf}"
                + body)

    def rec(typ, uri, body):
        return (f"WARC/1.0{crlf}WARC-Type: {typ}{crlf}"
                f"WARC-Target-URI: {uri}{crlf}"
                f"Content-Length: {len(body)}{crlf}{crlf}{body}{crlf}{crlf}")

    shard = (
        rec("response", "https://a.example/page", http("200 OK", "text/html", page))
        + rec("response", "https://a.example/doc.pdf",
              http("200 OK", "application/pdf", "%PDF-1.4 fake"))
        + rec("response", "https://a.example/gone",
              http("404 Not Found", "text/html", "missing"))
    )
    parsed = parse_warc_responses(spark.createDataFrame([(shard,)], "warc string"))
    heads = {r["target_uri"]: (r["http_status"], r["http_content_type"])
             for r in parsed.collect()}
    assert heads == {
        "https://a.example/page": (200, "text/html"),
        "https://a.example/doc.pdf": (200, "application/pdf"),
        "https://a.example/gone": (404, "text/html"),
    }
    html = parsed.filter(
        (F.col("http_status") == 200) & (F.col("http_content_type") == "text/html")
    ).select(
        F.col("target_uri").alias("url"),
        F.regexp_extract("target_uri", r"https://([^/]+)", 1).alias("seed_host"),
        F.col("payload").alias("body"),
    )
    recs = extract_text(html).collect()
    assert len(recs) == 1
    r = recs[0]
    assert r["locationName"] == "Acme HQ" and r["street"] == "12 Main St"
    assert r["city"] == "Springfield" and r["postcode"] == "12345"
    # the X2 battery's phone class includes separator chars (reference
    # parity), so a trailing separator may ride the capture
    assert r["phone"].strip() == "+1 555-0100"
    assert r["email"] == "hq@acme.example"


def test_wet_magic_inside_payload_never_yields_trusted_phantom(spark):
    """Adversarial framing: a record whose BODY contains the record magic
    splits at the text layer (the documented limit of delimiter framing —
    physical framing belongs to the per-record gzip layer). The honest-
    surfacing contract is what matters: the truncated real record must
    flag len_ok=false, and the phantom fragment after the embedded magic
    must never come back len_ok=true — downstream keep-len_ok filters
    drop BOTH pieces instead of ingesting corrupt text."""
    from web_crawler_spark.sources import warc as W

    evil = "first line\r\nWARC/1.0\r\nthis is still the same document body"
    chunk = (
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://evil.example/\r\n"
        f"WARC-Date: 2024-01-15T00:00:03Z\r\nContent-Length: {len(evil)}\r\n\r\n"
        f"{evil}\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://ok.example/\r\n"
        "WARC-Date: 2024-01-15T00:00:04Z\r\nContent-Length: 2\r\n\r\n"
        "ok\r\n\r\n"
    )
    df = spark.createDataFrame([(1, chunk)], "k long, wet string")
    rows = sorted(
        W.parse_wet_records(df).collect(), key=lambda r: r["record_ord"]
    )
    # 2 real records became 3 fragments
    assert len(rows) == 3
    truncated, phantom, clean = rows
    assert truncated["target_uri"] == "https://evil.example/"
    assert truncated["len_ok"] is False          # body cut at the magic
    assert phantom["len_ok"] is not True         # no trusted phantom
    assert phantom["target_uri"] is None
    assert clean["target_uri"] == "https://ok.example/"
    assert clean["len_ok"] is True               # later records unharmed
    kept = [r for r in rows if r["len_ok"]]
    assert [r["target_uri"] for r in kept] == ["https://ok.example/"]


def test_warc_gz_member_split_matches_plain_wet(spark, tmp_path):
    """The raw-archive leg: gzip-member-per-record shards must parse to
    the SAME rows as the decompressed scale path over the same records —
    the gz layer cancels exactly. Multi-file, multi-member, including a
    member whose body straddles the 1 MiB zlib feed chunk."""
    import re

    from web_crawler_spark.sources import warc as W

    big_body = "x" * (3 << 20) + " tail"
    big_rec = (
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://big.example/\r\n"
        f"WARC-Date: 2024-01-15T00:00:03Z\r\nContent-Length: {len(big_body)}"
        f"\r\n\r\n{big_body}\r\n\r\n"
    )
    recs = ["WARC/1.0\r\n" + r for r in
            re.split(r"WARC/1\.0\r\n", _wet_chunk()) if r]
    gz_dir = tmp_path / "gz"
    gz_dir.mkdir()
    W.write_warc_gz(recs, str(gz_dir / "shard0.warc.gz"))
    W.write_warc_gz([big_rec, recs[1]], str(gz_dir / "shard1.warc.gz"))

    wet_dir = tmp_path / "wet"
    wet_dir.mkdir()
    (wet_dir / "shard0.wet").write_text("".join(recs))
    (wet_dir / "shard1.wet").write_text(big_rec + recs[1])

    def key(r):
        return (r["file"].rsplit("/", 1)[-1].split(".")[0], r["record_ord"],
                r["warc_type"], r["target_uri"], r["warc_date"],
                r["content_length"], r["body"], r["len_ok"])

    got = sorted(key(r) for r in W.read_warc_gz(spark, str(gz_dir)).collect())
    want = sorted(key(r) for r in W.read_wet(spark, str(wet_dir)).collect())
    assert got == want
    assert len(got) == 5
    big = [r for r in got if r[3] == "https://big.example/"]
    assert len(big) == 1 and big[0][7] and len(big[0][6]) == len(big_body)


def test_warc_gz_truncated_member_raises(spark, tmp_path):
    import gzip

    from web_crawler_spark.sources import warc as W

    blob = gzip.compress(_wet_chunk().encode(), mtime=0)
    (tmp_path / "bad.warc.gz").write_bytes(blob[:-4])
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(PythonException, match="truncated gzip member"):
        W.read_warc_gz(spark, str(tmp_path)).collect()


def test_warc_gz_http_response_lane_composition(spark, tmp_path):
    """Full-WARC response records through the gz leg: read_warc_gz rows +
    http_response on the body column must yield the same status/media
    type/payload the plain-text parse produces — i.e. the raw-archive
    path composes with the HTTP layer."""
    from pyspark.sql import functions as F

    from web_crawler_spark.sources import warc as W

    body = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        "Server: synthetic\r\n\r\n<html><body>hi</body></html>"
    )
    rec = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://r.example/\r\n"
        f"WARC-Date: 2024-01-15T00:00:05Z\r\nContent-Length: {len(body)}"
        f"\r\n\r\n{body}\r\n\r\n"
    )
    conv = (
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: https://c.example/\r\n"
        "WARC-Date: 2024-01-15T00:00:06Z\r\nContent-Length: 4\r\n\r\n"
        "text\r\n\r\n"
    )
    W.write_warc_gz([rec, conv], str(tmp_path / "s.warc.gz"))
    parsed = W.read_warc_gz(spark, str(tmp_path))
    h = W.http_response(F.col("body"))
    out = parsed.select(
        "*",
        h["http_status"].alias("http_status"),
        h["http_content_type"].alias("http_content_type"),
        h["payload"].alias("payload"),
    )
    rows = {r["target_uri"]: r for r in out.collect()}
    rr = rows["https://r.example/"]
    assert rr["http_status"] == 200
    assert rr["http_content_type"] == "text/html"
    assert rr["payload"] == "<html><body>hi</body></html>"
    assert rr["len_ok"]
    cc = rows["https://c.example/"]
    assert cc["http_status"] is None


def test_warc_gz_binary_bodies_feed_image_pipeline(spark, tmp_path):
    """The graft-cell archive lane end-to-end: an image/* response record
    in a .warc.gz shard must come back BYTE-EXACT (a text decode would
    corrupt it), pass the zero-decode header audit against its own
    declared dims, and decode to the original pixels. Also covers the
    framing-violation branch (short body → len_ok False, bytes kept)."""
    import numpy as np
    from pyspark.sql import functions as F

    from web_crawler_spark import images as IM
    from web_crawler_spark.sources import warc as W

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (24, 16, 3), dtype=np.uint8)
    png = IM.encode_png(px)
    hdr = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://img.example/a.png\r\n"
        "WARC-Date: 2024-01-15T00:00:07Z\r\n"
        f"Content-Length: {len(png)}\r\n\r\n"
    )
    rec_img = hdr.encode("ascii") + png + b"\r\n\r\n"
    bad = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://img.example/trunc.png\r\n"
        f"WARC-Date: 2024-01-15T00:00:08Z\r\nContent-Length: {len(png)}"
        "\r\n\r\n"
    ).encode("ascii") + png[: len(png) // 2] + b"\r\n\r\n"
    W.write_warc_gz([rec_img, bad], str(tmp_path / "img.warc.gz"))

    rows = {
        r["target_uri"]: r
        for r in W.read_warc_gz_binary(spark, str(tmp_path)).collect()
    }
    good = rows["https://img.example/a.png"]
    assert good["len_ok"] and bytes(good["body"]) == png
    trunc = rows["https://img.example/trunc.png"]
    assert not trunc["len_ok"]
    assert bytes(trunc["body"]) == png[: len(png) // 2]

    # compose with the zero-decode audit + the decoder: the archive bytes
    # are pipeline-ready without ever passing through a text codec
    cat = spark.createDataFrame(
        [("a", bytes(good["body"]), 16, 24, "png", "cap")],
        "image_id string, bytes binary, w int, h int, fmt string, caption string",
    )
    audit = IM.header_audit(cat).collect()[0]
    assert audit["sniffed"] == "png" and audit["header_dims_ok"]
    assert np.array_equal(IM.decode_png(bytes(good["body"])), px)


def test_warc_gz_binary_preserves_trailing_crlf_payload_bytes(spark, tmp_path):
    """A record with NO parseable Content-Length whose payload ends in
    CR/LF bytes: the fallback strips AT MOST the record separator, never
    payload bytes (an earlier rstrip(b'\\r\\n') would eat them)."""
    from web_crawler_spark.sources import warc as W

    payload = b"line one\nline two\r\n"  # payload legitimately ends CRLF
    rec = (
        b"WARC/1.0\r\nWARC-Type: resource\r\n"
        b"WARC-Target-URI: https://t.example/x\r\n"
        b"WARC-Date: 2024-01-15T00:00:09Z\r\n\r\n"  # no Content-Length
        + payload + b"\r\n\r\n"
    )
    W.write_warc_gz([rec], str(tmp_path / "t.warc.gz"))
    r = W.read_warc_gz_binary(spark, str(tmp_path)).collect()[0]
    assert not r["len_ok"] and r["content_length"] is None
    assert bytes(r["body"]) == payload


def test_http_response_binary_kernel(spark):
    """Binary-safe HTTP parse: latin-1 offset view locates the header
    block, the entity slices out of the ORIGINAL binary column byte-exact
    (including non-UTF8 bytes a text decode would mangle); non-HTTP and
    empty bodies come back all-NULL."""
    from pyspark.sql import functions as F

    from web_crawler_spark.sources import warc as W

    png = b"\x89PNG\r\n\x1a\nFAKE\x00\xff\x01binary\r\npayload\xfe"
    msg = (b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n"
           b"Server: s\r\n\r\n" + png)
    df = spark.createDataFrame(
        [(msg,), (b"not http at all",), (b"",)], "body binary"
    )
    h = W.http_response_binary(F.col("body"))
    rows = df.select(
        h["http_status"].alias("st"),
        h["http_content_type"].alias("ct"),
        h["payload"].alias("p"),
    ).collect()
    assert rows[0]["st"] == 200 and rows[0]["ct"] == "image/png"
    assert bytes(rows[0]["p"]) == png
    assert rows[1]["st"] is None and rows[1]["p"] is None
    assert rows[2]["st"] is None


def test_wat_outlinks_parse_and_malformed_rows(spark):
    """wat_outlinks: canonical-path extraction, records with no links or
    malformed JSON yield zero rows (never a misparse or a crash)."""
    from web_crawler_spark.sources import warc as W

    good = (
        '{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": '
        '{"HTML-Metadata": {"Links": [{"path": "A@/href", '
        '"url": "https://a.example/x"}, {"path": "IMG@/src", '
        '"url": "/img/1.png"}]}}}}}'
    )
    nolinks = '{"Envelope": {"Payload-Metadata": {}}}'
    df = spark.createDataFrame(
        [("https://p1/", good), ("https://p2/", nolinks),
         ("https://p3/", "{not json"), ("https://p4/", None)],
        "target_uri string, body string",
    )
    rows = sorted(
        (r["src"], r["link_ord"], r["link_path"], r["url"])
        for r in W.wat_outlinks(df).collect()
    )
    assert rows == [
        ("https://p1/", 0, "A@/href", "https://a.example/x"),
        ("https://p1/", 1, "IMG@/src", "/img/1.png"),
    ]


def test_cdx_parse_and_fetch_plan(spark):
    """CDXJ parsing (JSON tail may contain spaces; malformed JSON yields
    NULL fields, never a misparse) and the digest-election fetch plan:
    one capture per digest, earliest ts wins, per-shard offsets ordered,
    duplicate bytes accounted."""
    from web_crawler_spark.sources import cdx as CX

    lines = [
        # two captures, same digest (revisit) — later ts must lose
        'com,ex)/a 20240101000000 {"url": "https://ex.com/a", '
        '"mime": "text/html", "status": "200", "digest": "dA", '
        '"length": "100", "offset": "0", "filename": "s0.warc.gz"}',
        'com,ex)/a2 20240102000000 {"url": "https://ex.com/a copy", '
        '"mime": "text/html", "status": "200", "digest": "dA", '
        '"length": "120", "offset": "900", "filename": "s1.warc.gz"}',
        # distinct digest, same shard as the winner, later offset
        'com,ex)/b 20240101000000 {"url": "https://ex.com/b", '
        '"mime": "text/html", "status": "200", "digest": "dB", '
        '"length": "50", "offset": "700", "filename": "s0.warc.gz"}',
        # 404 capture: never planned
        'com,ex)/c 20240101000000 {"url": "https://ex.com/c", '
        '"mime": "text/html", "status": "404", "digest": "dC", '
        '"length": "10", "offset": "100", "filename": "s0.warc.gz"}',
        # malformed JSON: fields NULL, filtered out by status gate
        "com,ex)/d 20240101000000 {broken",
    ]
    df = spark.createDataFrame([(x,) for x in lines], "line string")
    caps = CX.parse_cdx(df)
    rows = {r["urlkey"]: r for r in caps.collect()}
    assert rows["com,ex)/a2"]["url"] == "https://ex.com/a copy"
    assert rows["com,ex)/a"]["offset"] == 0 and rows["com,ex)/a"]["length"] == 100
    assert rows["com,ex)/d"]["url"] is None and rows["com,ex)/d"]["status"] is None

    plan = {r["digest"]: r for r in CX.fetch_plan(caps).collect()}
    assert set(plan) == {"dA", "dB"}
    a = plan["dA"]
    assert a["url"] == "https://ex.com/a" and a["n_dups"] == 2
    assert a["dup_bytes_saved"] == 120  # the losing revisit's bytes
    # both electees share shard s0: sequence follows offset order
    assert a["filename"] == "s0.warc.gz" and a["shard_seq"] == 1
    assert plan["dB"]["shard_seq"] == 2


def test_cdx_fetch_plan_malformed_and_null_digest_captures(spark):
    """Malformed CDXJ lines never win or vanish: a capture whose
    timestamp is missing (double space, so the key parses empty) loses
    the election to a well-formed capture of the same digest, and 2xx
    captures without a digest are each planned on their own instead of
    collapsing into one."""
    from web_crawler_spark.sources import cdx as CX

    def js(url, digest, length, offset):
        d = f'"digest": "{digest}", ' if digest else ""
        return (f'{{"url": "{url}", "mime": "text/html", "status": "200", '
                f'{d}"length": "{length}", "offset": "{offset}", '
                f'"filename": "s0.warc.gz"}}')

    lines = [
        "com,ex)/a 20240102000000 " + js("https://ex.com/a", "dA", 100, 0),
        "com,ex)/a-bad  " + js("https://ex.com/a-bad", "dA", 70, 300),
        "com,ex)/n1 20240101000000 " + js("https://ex.com/n1", None, 40, 500),
        "com,ex)/n2 20240101000000 " + js("https://ex.com/n2", None, 60, 600),
    ]
    caps = CX.parse_cdx(spark.createDataFrame([(x,) for x in lines], "line string"))
    assert {r["urlkey"]: r["ts"] for r in caps.collect()}["com,ex)/a-bad"] is None

    plan = {r["url"]: r for r in CX.fetch_plan(caps).collect()}
    assert set(plan) == {"https://ex.com/a", "https://ex.com/n1", "https://ex.com/n2"}
    a = plan["https://ex.com/a"]
    assert (a["ts"], a["n_dups"], a["dup_bytes_saved"]) == ("20240102000000", 2, 70)
    for u in ("https://ex.com/n1", "https://ex.com/n2"):
        assert plan[u]["digest"] is None
        assert (plan[u]["n_dups"], plan[u]["dup_bytes_saved"]) == (1, 0)
    assert [plan[u]["shard_seq"] for u in sorted(plan)] == [1, 2, 3]


def test_cdx_plan_drives_selective_member_reads(spark, tmp_path):
    """End-to-end archive economics: CDXJ index → fetch_plan →
    read_members_at fetches EXACTLY the planned byte ranges (no shard
    scan), each range gunzips to its record byte-exact, and a corrupted
    range raises instead of passing silently."""
    import json as _json

    from pyspark.sql import functions as F

    from web_crawler_spark.sources import cdx as CX
    from web_crawler_spark.sources import warc as W

    def rec(path, body):
        return (
            f"WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: https://ex.com/{path}\r\n"
            f"WARC-Date: 2024-01-15T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n{body}\r\n\r\n"
        )

    recs = [rec(f"p{i}", f"body number {i} " * (i + 1)) for i in range(6)]
    spans = W.write_warc_gz(recs, str(tmp_path / "s0.warc.gz"))
    assert len(spans) == 6 and spans[0][0] == 0

    # index: captures for members 1 and 4 (plus a revisit of 1 that the
    # election must collapse)
    def line(i, ts, url):
        off, ln = spans[i]
        js = _json.dumps({
            "url": url, "mime": "text/plain", "status": "200",
            "digest": f"dg{i}", "length": str(ln), "offset": str(off),
            "filename": "s0.warc.gz",
        })
        return f"com,ex)/p{i} {ts} {js}"

    lines = [
        line(1, "20240101000000", "https://ex.com/p1"),
        line(1, "20240102000000", "https://ex.com/p1-revisit"),
        line(4, "20240101000000", "https://ex.com/p4"),
    ]
    plan = CX.fetch_plan(
        CX.parse_cdx(spark.createDataFrame([(x,) for x in lines], "line string"))
    )
    got = {
        r["url"]: bytes(r["record"])
        for r in W.read_members_at(spark, plan, str(tmp_path)).collect()
    }
    assert set(got) == {"https://ex.com/p1", "https://ex.com/p4"}
    assert got["https://ex.com/p1"] == recs[1].encode()
    assert got["https://ex.com/p4"] == recs[4].encode()

    # a wrong length (range splitting a member) raises loudly
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    bad = plan.withColumn(
        "length", F.col("length") - 5
    )
    with pytest.raises(PythonException, match="truncated|expected exactly"):
        W.read_members_at(spark, bad, str(tmp_path)).collect()


def _ingest_job():
    """jobs/ingest_warc_job.py loaded as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ingest_warc_job",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs",
                     "ingest_warc_job.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _warc_response(uri, ctype, payload):
    msg = f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + payload
    return (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-15T00:00:00Z\r\nContent-Length: {len(msg)}"
        "\r\n\r\n"
    ).encode("ascii") + msg + b"\r\n\r\n"


def _write_gallery(path, host, images):
    """One shard for ``host``: a page captioning each image of ``images``
    ({image_id: (caption, png bytes)}), then one image/png response each."""
    from web_crawler_spark.sources import warc as W

    body = "".join(f'<img src="/images/{img}.png" alt="{cap}">'
                   for img, (cap, _) in images.items())
    W.write_warc_gz(
        [_warc_response(f"https://{host}/gallery", "text/html",
                        f"<html><body>{body}</body></html>".encode())]
        + [_warc_response(f"https://{host}/images/{img}.png", "image/png", png)
           for img, (_, png) in images.items()],
        str(path),
    )


def test_ingest_warc_caption_election_is_partition_independent(spark, tmp_path):
    """The archive-replay job elects one caption per image URL by rule —
    longest caption, ties to the lexicographically smallest — so the pair
    table is identical at any shuffle partition count, however the pages
    citing an image are spread across shards. The job caches its pair
    pipeline for one pass and leaves no persisted RDD behind."""
    from web_crawler_spark import images as IM
    from web_crawler_spark.lake import SnapshotTable
    from web_crawler_spark.sources import warc as W

    job = _ingest_job()

    host = "gallery.example"
    captions = {  # image -> the alt texts its citing pages carry
        "img_000000000001": ["harbour at dusk", "b longer caption",
                             "a longer caption", "boats"],
        "img_000000000002": ["two boats", "two boats"],
        "img_000000000003": ["", "lighthouse"],
    }
    arc = tmp_path / "arc"
    arc.mkdir()
    for i in range(4):  # one shard per page position
        body = "".join(
            f'<img src="/images/{img}.png" alt="{caps[i]}">'
            for img, caps in captions.items() if i < len(caps)
        )
        W.write_warc_gz(
            [_warc_response(f"https://{host}/p{i}", "text/html",
                            f"<html><body>{body}</body></html>".encode())],
            str(arc / f"page{i}.warc.gz"),
        )
    W.write_warc_gz(
        [_warc_response(f"https://{host}/images/{img}.png", "image/png",
                        IM.encode_png(IM.synth_pixels(img, 48, 32)))
         for img in captions],
        str(arc / "images.warc.gz"),
    )

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    tables = []
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            out = str(tmp_path / f"pairs{n}")
            before = persisted()
            got = job.ingest(spark, str(arc), out)
            assert persisted() <= before
            assert (got["pairs"], got["hosts"]) == (3, 1)
            tables.append(sorted(
                (r["image_id"], r["caption"], r["seed_host"], r["phash"],
                 bytes(r["bytes"]))
                for r in SnapshotTable(out).read(spark).collect()
            ))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert tables[0] == tables[1]
    assert [(r[0], r[1]) for r in tables[0]] == [
        ("img_000000000001", "a longer caption"),
        ("img_000000000002", "two boats"),
        ("img_000000000003", "lighthouse"),
    ]


def test_ingest_warc_keeps_each_hosts_own_image(spark, tmp_path):
    """Two hosts serve the same image path with their own bytes and
    captions: the pair table holds one row per host, each with the phash
    of its own bytes, never the other host's."""
    from web_crawler_spark import images as IM
    from web_crawler_spark.lake import SnapshotTable

    arc = tmp_path / "arc"
    arc.mkdir()
    served = {}
    for host, caption in (("a.example", "harbour at dusk"),
                          ("b.example", "market at noon")):
        png = IM.encode_png(IM.synth_pixels(host, 96, 96))
        served[host] = (caption, png)
        _write_gallery(arc / f"{host}.warc.gz", host, {"img_1": (caption, png)})

    out = str(tmp_path / "pairs")
    got = _ingest_job().ingest(spark, str(arc), out)
    assert (got["pairs"], got["hosts"]) == (2, 2)
    rows = sorted(SnapshotTable(out).read(spark).collect(), key=lambda r: r["seed_host"])
    assert [(r["seed_host"], r["image_id"], r["caption"], bytes(r["bytes"]), r["phash"])
            for r in rows] == [
        (host, "img_1", cap, png, IM.phash64(IM.decode_png(png)))
        for host, (cap, png) in sorted(served.items())
    ]
    assert rows[0]["phash"] != rows[1]["phash"]


def test_second_ingest_into_a_lake_is_released_in_full(spark, tmp_path):
    """A second archive ingested into the same lake adds a second
    partitioned data-file set; the release reads both."""
    from web_crawler_spark import images as IM
    from web_crawler_spark.lake import SnapshotTable
    from web_crawler_spark.plans.corpus import build_pair_corpus

    job = _ingest_job()
    lake = str(tmp_path / "lake")
    captions = ["quiet harbour at dusk", "golden market square",
                "misty bridge over the river", "crowded station hall"]
    for k, host in enumerate(("a.example", "b.example")):
        arc = tmp_path / f"arc_{host}"
        arc.mkdir()
        imgs = {f"img_{2 * k + i}": (captions[2 * k + i],
                                     IM.encode_png(IM.synth_pixels(f"img_{2 * k + i}", 96, 96)))
                for i in range(2)}
        _write_gallery(arc / "shard.warc.gz", host, imgs)
        assert job.ingest(spark, str(arc), lake)["pairs"] == 2

    table = SnapshotTable(lake)
    assert len(table.current()["files"]) == 2
    release = build_pair_corpus(table.read(spark)).drop("bytes").collect()
    assert sorted((r["seed_host"], r["image_id"]) for r in release) == [
        ("a.example", "img_0"), ("a.example", "img_1"),
        ("b.example", "img_2"), ("b.example", "img_3"),
    ]
