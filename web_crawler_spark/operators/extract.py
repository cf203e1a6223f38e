"""The extraction stack: every page-to-records strategy of the reference,
re-expressed as Spark column algebra (and one genuinely sequential pandas
UDF), over the fetched ``pages`` table.

Reference strategy stack (crawler.service.js:306-398 + the extractor
services), with the confidence envelope each strategy stamps:

  jsonld     0.95  structured-data-extractor.service.js:31-161   (X15)
  microdata  0.90  structured-data-extractor.service.js:166-265  (X16)
  map        0.90  map-detector.service.js:71-129                (X14)
  xhr        0.85  playwright-renderer.service.js:220-317        (X17/X18)
  script     0.85  location-extractor.service.js:561-597         (X19)
  text       0.80  location-extractor.service.js (regex battery) (X1)
  h3         0.80  location-extractor.service.js:656-698         (X20)

All strategies run as one pass over the pages DataFrame and union their
records (reference: allLocations.push(...) per strategy,
crawler.service.js:314-396 → unionByName). The confidence filter ≥ 0.70
(F6, crawler.service.js:403) and exact dedup close the pipeline.

Scale notes: every extractor is a narrow map over pages — no shuffle at
all until the final dedup. JSON parsing is JVM-side ``from_json``;
regex batteries are whole-stage-codegen `regexp_extract_all`. Only the
sequential-headers parser (X20) — a genuinely stateful in-document scan —
drops to an Arrow-batched mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_crawler_spark.session import local_df

CONFIDENCE = {
    "jsonld": 0.95,
    "microdata": 0.90,
    "map": 0.90,
    "xhr": 0.85,
    "script": 0.85,
    "text": 0.80,
    "h3": 0.80,
}
CONFIDENCE_FLOOR = 0.70  # crawler.service.js:403

# unified raw-record shape every strategy emits
RAW_RECORD_COLS = [
    "sourceUrl", "seed_host", "extractionMethod", "confidence",
    "locationName", "street", "city", "postcode", "country",
    "latitude", "longitude", "phone", "email",
]

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("sourceUrl", T.StringType(), True),
        T.StructField("seed_host", T.StringType(), True),
        T.StructField("extractionMethod", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("locationName", T.StringType(), True),
        T.StructField("street", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("postcode", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("phone", T.StringType(), True),
        T.StructField("email", T.StringType(), True),
    ]
)


def _base(pages: DataFrame) -> DataFrame:
    return pages.select(
        F.col("url").alias("sourceUrl"), "seed_host", "body",
        *(["xhr_json"] if "xhr_json" in pages.columns else []),
    )


def _finish(df: DataFrame, method: str, mapping: dict[str, Column]) -> DataFrame:
    cols = [
        F.col("sourceUrl"),
        F.col("seed_host"),
        F.lit(method).alias("extractionMethod"),
        F.lit(CONFIDENCE[method]).alias("confidence"),
    ]
    for name in RAW_RECORD_COLS[4:]:
        c = mapping.get(name, F.lit(None))
        if name in ("latitude", "longitude"):
            c = c.cast("double")
        else:
            c = c.cast("string")
        cols.append(c.alias(name))
    return df.select(*cols)


# ------------------------------------------------------------- X15 jsonld --
_JSONLD_SCHEMA = T.StructType(
    [
        T.StructField(
            "@graph",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("@type", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField(
                            "address",
                            T.StructType(
                                [
                                    T.StructField("streetAddress", T.StringType()),
                                    T.StructField("addressLocality", T.StringType()),
                                    T.StructField("postalCode", T.StringType()),
                                    T.StructField("addressCountry", T.StringType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "geo",
                            T.StructType(
                                [
                                    T.StructField("latitude", T.DoubleType()),
                                    T.StructField("longitude", T.DoubleType()),
                                ]
                            ),
                        ),
                        T.StructField("telephone", T.StringType()),
                    ]
                )
            ),
        )
    ]
)

_LOCATION_TYPES = [
    "Organization", "LocalBusiness", "Place", "PostalAddress", "Store",
    "Restaurant", "Hotel",
]


def extract_jsonld(pages: DataFrame) -> DataFrame:
    """X15: <script type="application/ld+json"> → from_json → explode
    @graph → filter location @types (structured-data-extractor:31-161)."""
    raw = F.regexp_extract(
        "body", r'(?s)<script type="application/ld\+json">(.*?)</script>', 1
    )
    items = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode_outer(F.from_json(raw, _JSONLD_SCHEMA)["@graph"]).alias("it"),
    ).filter(F.col("it.`@type`").isin(_LOCATION_TYPES))
    return _finish(
        items,
        "jsonld",
        {
            "locationName": F.col("it.name"),
            "street": F.col("it.address.streetAddress"),
            "city": F.col("it.address.addressLocality"),
            "postcode": F.col("it.address.postalCode"),
            "country": F.col("it.address.addressCountry"),
            "latitude": F.col("it.geo.latitude"),
            "longitude": F.col("it.geo.longitude"),
            "phone": F.col("it.telephone"),
        },
    )


# --------------------------------------------------------- X16 microdata ---
def extract_microdata(pages: DataFrame) -> DataFrame:
    """X16: itemscope blocks → per-block itemprop fields.

    The regex treatment is exact for well-formed single-line blocks (our
    fixture; most generator-emitted microdata). Real-world tag-soup HTML
    would swap the block splitter for a pandas-UDF DOM parse — the rest of
    the plan is unchanged.
    """
    blocks = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode(
            F.regexp_extract_all(
                "body", F.lit(r'(?s)<div itemscope[^>]*itemtype="[^"]*">(.*?)</div>'), 1
            )
        ).alias("blk"),
    )
    prop = lambda p: F.regexp_extract(  # noqa: E731
        "blk", rf'itemprop="{p}"[^>]*>([^<]*)<', 1
    )
    nullif = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731
    return _finish(
        blocks,
        "microdata",
        {
            "locationName": nullif(prop("name")),
            "street": nullif(prop("streetAddress")),
            "city": nullif(prop("addressLocality")),
            "postcode": nullif(prop("postalCode")),
        },
    )


# --------------------------------------------------------------- X14 map ---
_MAP_DEC = r"(-?\d+\.\d+),\s*(-?\d+\.\d+)"


def parse_float_prefix(v: Column) -> Column:
    """JS ``parseFloat``: longest numeric prefix after leading whitespace,
    NULL (JS NaN) when none."""
    num = F.regexp_extract(
        F.regexp_replace(v, r"^\s+", ""),
        r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?",
        0,
    )
    return F.nullif(num, F.lit("")).cast("double")


def _map_param(url: Column, name: str) -> Column:
    """``u.searchParams.get(name)`` narrowed to explicit ``name=value``
    pairs before any fragment; NULL when absent. Values are form-decoded
    (percent escapes and '+' for space) like searchParams."""
    nofrag = F.substring_index(url, "#", 1)
    has = nofrag.rlike(r"[?&]" + name + "=")
    raw = F.regexp_extract(nofrag, r"[?&]" + name + r"=([^&]*)", 1)
    return F.when(has, F.try_url_decode(raw))


def map_coords(url: Column) -> Column:
    """X14 cascade (map-detector.service.js:71-129) — the reference's six
    patterns in order over pathname+search+hash: @lat,lon / !3d!4d / ?q= /
    ?center= / lat&(lon|lng) / mlat&mlon.

    Returns struct(found, lat, lon): ``found`` mirrors the reference
    returning a coords OBJECT (truthy even when a parseFloat inside came
    out NaN — NaN maps to NULL lat/lon here), so callers gating on
    "coords present" (:50) behave identically."""
    path = F.regexp_replace(url, r"^https?://[^/?#]*", "")
    at_lat = F.regexp_extract(path, r"@" + _MAP_DEC, 1)
    at_lon = F.regexp_extract(path, r"@" + _MAP_DEC, 2)
    d3_lat = F.regexp_extract(path, r"!3d(-?\d+\.\d+)!4d(-?\d+\.\d+)", 1)
    d3_lon = F.regexp_extract(path, r"!3d(-?\d+\.\d+)!4d(-?\d+\.\d+)", 2)
    q = _map_param(url, "q")
    q_lat = F.regexp_extract(q, _MAP_DEC, 1)
    q_lon = F.regexp_extract(q, _MAP_DEC, 2)
    center = _map_param(url, "center")
    cparts = F.split(center, ",")
    lat_p = _map_param(url, "lat")
    # get('lon') || get('lng'): an empty lon value falls through to lng
    lon_p = F.coalesce(F.nullif(_map_param(url, "lon"), F.lit("")),
                       _map_param(url, "lng"))
    has_lonish = (
        F.substring_index(url, "#", 1).rlike(r"[?&]lon=")
        | F.substring_index(url, "#", 1).rlike(r"[?&]lng=")
    )
    mlat = _map_param(url, "mlat")
    mlon = _map_param(url, "mlon")

    def found(lat, lon):
        return F.struct(
            F.lit(True).alias("found"),
            lat.alias("lat"),
            lon.alias("lon"),
        )

    dbl = lambda c: F.nullif(c, F.lit("")).cast("double")  # noqa: E731
    return (
        F.when(at_lat != "", found(dbl(at_lat), dbl(at_lon)))
        .when(d3_lat != "", found(dbl(d3_lat), dbl(d3_lon)))
        .when(q.isNotNull() & (q_lat != ""), found(dbl(q_lat), dbl(q_lon)))
        .when(
            center.isNotNull() & (F.size(cparts) == 2),
            found(
                parse_float_prefix(F.element_at(cparts, 1)),
                parse_float_prefix(F.element_at(cparts, 2)),
            ),
        )
        .when(
            lat_p.isNotNull() & has_lonish,
            found(parse_float_prefix(lat_p), parse_float_prefix(lon_p)),
        )
        .when(
            mlat.isNotNull() & mlon.isNotNull(),
            found(parse_float_prefix(mlat), parse_float_prefix(mlon)),
        )
        .otherwise(
            F.struct(
                F.lit(False).alias("found"),
                F.lit(None).cast("double").alias("lat"),
                F.lit(None).cast("double").alias("lon"),
            )
        )
    )


def map_coord_lat(src: Column) -> Column:
    """First-match latitude of the X14 cascade (NULL when no pattern)."""
    return map_coords(src)["lat"]


def map_coord_lon(src: Column) -> Column:
    return map_coords(src)["lon"]


def map_provider(url_lower: Column) -> Column:
    """detectMapProvider (map-detector.service.js:196-203) — ordered
    substring cascade over the LOWERCASED raw url."""
    return (
        F.when(
            url_lower.contains("google.com/maps")
            | url_lower.contains("maps.app.goo.gl"),
            F.lit("google"),
        )
        .when(url_lower.contains("bing.com/maps"), F.lit("bing"))
        .when(url_lower.contains("openstreetmap"), F.lit("openstreetmap"))
        .when(url_lower.contains("mapbox"), F.lit("mapbox"))
        .when(url_lower.contains("leaflet"), F.lit("leaflet"))
        .otherwise(F.lit("unknown"))
    )


def extract_map(pages: DataFrame) -> DataFrame:
    """X14: map iframes/divs → coordinate cascade + nearby label."""
    frames = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode(
            F.regexp_extract_all(
                "body",
                F.lit(r'<iframe src="([^"]*maps[^"]*)"></iframe>'
                      r'<div data-lat="[^"]*" data-lon="[^"]*">([^<]*)</div>'),
                0,
            )
        ).alias("frag"),
    )
    links = frames.select(
        "sourceUrl", "seed_host",
        F.regexp_extract("frag", r'data-lon="[^"]*">([^<]*)</div>', 1).alias("_name"),
        F.regexp_extract("frag", r'src="([^"]*)"', 1).alias("_src"),
    )
    # the cascade reads the map URL from a column, and is built once:
    # both coordinates read its one struct
    coords = links.select(
        "sourceUrl", "seed_host", "_name", map_coords(F.col("_src")).alias("_co")
    )
    return _finish(
        coords,
        "map",
        {
            "locationName": F.col("_name"),
            "latitude": F.col("_co.lat"),
            "longitude": F.col("_co.lon"),
        },
    )


# X37: full map detection (map-detector.service.js:11-64 detectMapIframes
# + :136-175 detectDataAttributes). Per-row HOF algebra over the tag
# arrays — like the PDF battery, detection never shuffles. Selector
# narrowings: attributes are read from double-quoted ``attr="..."`` forms
# and data-* attribute names are matched lowercase.
_MAP_IFRAME_MARKERS = [
    "google.com/maps", "bing.com/maps", "openstreetmap",
    "mapbox", "maps.app.goo.gl", "leafletjs",
]

def _attr(tag: Column, name: str) -> Column:
    """attr value of a double- or single-quoted HTML attribute, NULL when
    absent (the JSON-bearing data-location values are single-quoted in
    the wild, so both styles are read)."""
    return (
        F.when(
            tag.rlike(r'(?i)\b' + name + '="'),
            F.regexp_extract(tag, r'(?i)\b' + name + r'="([^"]*)"', 1),
        )
        .when(
            tag.rlike(r"(?i)\b" + name + "='"),
            F.regexp_extract(tag, r"(?i)\b" + name + r"='([^']*)'", 1),
        )
    )


def detect_map_iframes(
    pages: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """detectMapIframes (:11-64): provider-marked ``<iframe src>`` tags
    (emitted even without coordinates) followed by google-maps anchor
    links (emitted only when the URL yields coordinates, with the anchor
    text). ``ord`` is the reference's emission order within the page."""
    from web_crawler_spark.functions import urls as U

    base_url = F.col("sourceUrl")

    def iframe_cand(tag):
        src = F.coalesce(_attr(tag, "src"), F.lit(""))
        src_l = F.lower(src)
        hit = F.lit(False)
        for m in _MAP_IFRAME_MARKERS:
            hit = hit | src_l.contains(m)
        full = U.resolve_url(src, base_url)
        co = map_coords(full)
        return F.when(
            (src != "") & hit,
            F.struct(
                F.lit("iframe").alias("kind"),
                full.alias("src"),
                co["found"].alias("coords_found"),
                co["lat"].alias("lat"),
                co["lon"].alias("lon"),
                map_provider(src_l).alias("provider"),
                F.lit(None).cast("string").alias("text"),
            ),
        )

    def link_cand(a):
        href = F.coalesce(F.regexp_extract(a, r'(?i)<a\b[^>]*\bhref="([^"]*)"', 1), F.lit(""))
        href_l = F.lower(href)
        css = href.contains("maps") | href.contains("directions")
        gate = href_l.contains("google.com/maps") | href_l.contains(
            "maps.app.goo.gl"
        )
        full = U.resolve_url(href, base_url)
        co = map_coords(full)
        return F.when(
            css & gate & co["found"],
            F.struct(
                F.lit("link").alias("kind"),
                full.alias("src"),
                F.lit(True).alias("coords_found"),
                co["lat"].alias("lat"),
                co["lon"].alias("lon"),
                F.lit("google").alias("provider"),
                F.trim(F.regexp_replace(a, r"<[^>]+>", "")).alias("text"),
            ),
        )

    body = F.col("body")
    iframes = F.filter(
        F.transform(
            F.regexp_extract_all(body, F.lit(r"(?i)<iframe\b[^>]*>"), 0),
            iframe_cand,
        ),
        lambda c: c.isNotNull(),
    )
    links = F.filter(
        F.transform(
            F.regexp_extract_all(body, F.lit(r"(?is)<a\b[^>]*>.*?</a>"), 0),
            link_cand,
        ),
        lambda c: c.isNotNull(),
    )
    out = pages.select(
        F.col(url_col).alias("sourceUrl"), F.col(body_col).alias("body")
    ).select("sourceUrl", F.posexplode(F.concat(iframes, links)))
    return out.select(
        "sourceUrl",
        F.col("pos").cast("long").alias("ord"),
        F.col("col.kind").alias("kind"),
        F.col("col.src").alias("src"),
        F.col("col.coords_found").alias("coords_found"),
        F.col("col.lat").alias("lat"),
        F.col("col.lon").alias("lon"),
        F.col("col.provider").alias("provider"),
        F.col("col.text").alias("text"),
    )


def detect_data_attributes(
    pages: DataFrame, url_col: str = "url", body_col: str = "body"
) -> DataFrame:
    """detectDataAttributes (:136-175): elements carrying data-lat /
    data-latitude / data-location. Each element can emit two rows in
    reference order — the attribute pair (with the element identity
    rendered as ``TAG#id.class``) and the data-location value (valid
    JSON with truthy lat+lon, else a "lat,lon" regex parse). JSON zeros
    are falsy in the reference and stay dropped here."""
    selector = r"(?i)\bdata-(lat|latitude|location)=[\"']"

    def ident(tag):
        tagname = F.upper(F.regexp_extract(tag, r"<([a-zA-Z][a-zA-Z0-9]*)", 1))
        idp = _attr(tag, "id")
        cls = _attr(tag, "class")
        return F.concat(
            tagname,
            F.coalesce(F.concat(F.lit("#"), idp), F.lit("")),
            F.coalesce(F.concat(F.lit("."), cls), F.lit("")),
        )

    def pair_cand(tag):
        lat = F.coalesce(
            F.nullif(_attr(tag, "data-lat"), F.lit("")),
            F.nullif(_attr(tag, "data-latitude"), F.lit("")),
        )
        lon = F.coalesce(
            F.nullif(_attr(tag, "data-lon"), F.lit("")),
            F.nullif(_attr(tag, "data-lng"), F.lit("")),
            F.nullif(_attr(tag, "data-longitude"), F.lit("")),
        )
        return F.when(
            lat.isNotNull() & lon.isNotNull(),
            F.struct(
                parse_float_prefix(lat).alias("lat"),
                parse_float_prefix(lon).alias("lon"),
                ident(tag).alias("element"),
            ),
        )

    def loc_cand(tag):
        loc = F.nullif(_attr(tag, "data-location"), F.lit(""))
        parsed = F.from_json(loc, "lat double, lon double")
        json_ok = F.try_parse_json(loc).isNotNull()
        truthy = (
            parsed["lat"].isNotNull() & (parsed["lat"] != 0.0)
            & parsed["lon"].isNotNull() & (parsed["lon"] != 0.0)
        )
        r_lat = F.regexp_extract(loc, _MAP_DEC, 1)
        r_lon = F.regexp_extract(loc, _MAP_DEC, 2)
        null_el = F.lit(None).cast("string").alias("element")
        return F.when(
            loc.isNotNull() & json_ok & truthy,
            F.struct(
                parsed["lat"].alias("lat"), parsed["lon"].alias("lon"), null_el
            ),
        ).when(
            loc.isNotNull() & ~json_ok & (r_lat != ""),
            F.struct(
                F.nullif(r_lat, F.lit("")).cast("double").alias("lat"),
                F.nullif(r_lon, F.lit("")).cast("double").alias("lon"),
                null_el,
            ),
        )

    body = F.col("body")
    tags = F.filter(
        F.regexp_extract_all(body, F.lit(r"(?i)<[a-zA-Z][^>]*>"), 0),
        lambda t: t.rlike(selector),
    )
    cands = F.filter(
        F.flatten(
            F.transform(tags, lambda t: F.array(pair_cand(t), loc_cand(t)))
        ),
        lambda c: c.isNotNull(),
    )
    out = pages.select(
        F.col(url_col).alias("sourceUrl"), F.col(body_col).alias("body")
    ).select("sourceUrl", F.posexplode(cands))
    return out.select(
        "sourceUrl",
        F.col("pos").cast("long").alias("ord"),
        F.col("col.lat").alias("lat"),
        F.col("col.lon").alias("lon"),
        F.col("col.element").alias("element"),
    )


# ------------------------------------------------------------ X19 script ---
_SCRIPT_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("address", T.StringType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lng", T.DoubleType()),
        ]
    )
)


def extract_inline_script(pages: DataFrame) -> DataFrame:
    """X19: window.X = [...] JSON blobs (location-extractor:561-597)."""
    raw = F.regexp_extract("body", r"window\.\w+ = (\[.*?\]);", 1)
    items = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode_outer(F.from_json(raw, _SCRIPT_SCHEMA)).alias("it"),
    ).filter(F.col("it").isNotNull())
    addr = F.col("it.address")
    return _finish(
        items,
        "script",
        {
            "locationName": F.col("it.name"),
            "street": F.regexp_extract(addr, r"^([^,]+),", 1),
            "city": F.regexp_extract(addr, r", (.+)$", 1),
            "latitude": F.col("it.lat"),
            "longitude": F.col("it.lng"),
        },
    )


# --------------------------------------------------------------- X17 xhr ---
_XHR_SCHEMA = T.StructType(
    [
        T.StructField(
            "locations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("address", T.StringType()),
                        T.StructField("latitude", T.DoubleType()),
                        T.StructField("longitude", T.DoubleType()),
                    ]
                )
            ),
        )
    ]
)


def extract_xhr(pages: DataFrame) -> DataFrame:
    """X17/X18: captured XHR JSON → array-bearing key → rows (the
    playwright-renderer path for SPA pages; fed by the fetch stage's
    xhr_json column, S3)."""
    if "xhr_json" not in pages.columns:
        return local_df(pages.sparkSession, [], _RAW_SCHEMA)
    items = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode_outer(F.from_json("xhr_json", _XHR_SCHEMA)["locations"]).alias("it"),
    ).filter(F.col("it").isNotNull())
    addr = F.col("it.address")
    return _finish(
        items,
        "xhr",
        {
            "locationName": F.col("it.name"),
            "street": F.regexp_extract(addr, r"^([^,]+),", 1),
            "city": F.regexp_extract(addr, r", (.+)$", 1),
            "latitude": F.col("it.latitude"),
            "longitude": F.col("it.longitude"),
        },
    )


# -------------------------------------------------------------- X1 text ----
def extract_text(pages: DataFrame) -> DataFrame:
    """X1/X2/X3: the plain-text contact-line battery — address shape,
    phone, email regexes over <p> blocks."""
    ps = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode(F.regexp_extract_all("body", F.lit(r"<p>([^<]{20,400})</p>"), 1)).alias("line"),
    )
    line = F.col("line")
    # "{name}: {street}, {city}, {postcode} {country}. Call {phone} or email {email}"
    pat = r"^(.*?): (.*?), (.*?), (\d{4,6}) ([A-Z]{3})\."
    matched = ps.filter(line.rlike(pat))
    return _finish(
        matched,
        "text",
        {
            "locationName": F.regexp_extract(line, pat, 1),
            "street": F.regexp_extract(line, pat, 2),
            "city": F.regexp_extract(line, pat, 3),
            "postcode": F.regexp_extract(line, pat, 4),
            "country": F.regexp_extract(line, pat, 5),
            "phone": F.when(
                F.regexp_extract(line, r"Call (\+?[\d \-()]{7,20})", 1) != "",
                F.regexp_extract(line, r"Call (\+?[\d \-()]{7,20})", 1),
            ),
            "email": F.when(
                F.regexp_extract(line, r"email ([\w.+-]+@[\w.-]+\.\w+)", 1) != "",
                F.regexp_extract(line, r"email ([\w.+-]+@[\w.-]+\.\w+)", 1),
            ),
        },
    )


# ---------------------------------------------------------------- X20 h3 ---
def extract_h3_sequential(pages: DataFrame) -> DataFrame:
    """X20 "Nutanix pattern": sequential h3 country / h3 city / text-block
    scan. Genuinely stateful within a document → Arrow-batched mapInPandas
    (the only Python extractor in the stack)."""
    import re

    country_re = re.compile(r"<h3>([A-Z]{3}|[A-Z][A-Z ()]+)</h3>")
    h3_re = re.compile(r"<h3>([^<]+)</h3>|<p>([^<]+)</p>")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                body = r["body"] or ""
                country, city = None, None
                for m in h3_re.finditer(body):
                    h3, p = m.group(1), m.group(2)
                    if h3 is not None:
                        if country_re.fullmatch(m.group(0)):
                            country, city = h3, None
                        else:
                            city = h3
                    elif p is not None and city is not None:
                        am = re.match(r"^(.*?), (\d{4,6})$", p)
                        rows.append(
                            (
                                r["sourceUrl"], r["seed_host"], "h3", CONFIDENCE["h3"],
                                f"{city}", am.group(1) if am else p,
                                city, am.group(2) if am else None, country,
                                None, None, None, None,
                            )
                        )
                        city = None
            yield pd.DataFrame(rows, columns=[f.name for f in _RAW_SCHEMA.fields])

    return _base(pages).mapInPandas(gen, _RAW_SCHEMA)


# ---------------------------------------------------- X21/X22 classifiers --
def needs_js(body: Column | str) -> Column:
    """X21: SPA heuristic — framework root divs / tiny body text
    (playwright-renderer.service.js:324-335)."""
    c = F.col(body) if isinstance(body, str) else body
    has_root = c.rlike(r'<div id="(root|app)">\s*</div>')
    text_len = F.length(F.regexp_replace(c, r"<[^>]*>", ""))
    return has_root | (text_len < 200)


def classify_page(url: Column | str, body: Column | str) -> Column:
    """X22: URL-pattern table ⊕ heading-keyword score, max of the two
    (page-classifier.service.js:15-151). Returns struct(page_type,
    confidence, priority)."""
    u = F.lower(F.col(url) if isinstance(url, str) else url)
    b = F.col(body) if isinstance(body, str) else body
    url_conf = (
        F.when(u.rlike(r"/(contact|locations?)($|/)"), F.lit(0.95))
        .when(u.rlike(r"/(office|store|branch|find|where|address)"), F.lit(0.90))
        .when(u.rlike(r"/about/us($|/)"), F.lit(0.85))
        .when(u.rlike(r"/(about|company|corporate)"), F.lit(0.70))
        .when(u.rlike(r"/(headquarter|facility|site)"), F.lit(0.65))
        .otherwise(F.lit(0.0))
    )
    headings = F.lower(F.concat_ws(" ", F.regexp_extract_all(b, F.lit(r"<h[1-3]>([^<]*)</h[1-3]>"), 1)))
    kw_hits = (
        F.when(headings.contains("contact"), 1).otherwise(0)
        + F.when(headings.contains("location"), 1).otherwise(0)
        + F.when(headings.contains("office"), 1).otherwise(0)
        + F.when(headings.contains("address"), 1).otherwise(0)
    )
    head_conf = F.when(kw_hits > 0, F.least(F.lit(0.60) + kw_hits * 0.10, F.lit(0.85))).otherwise(
        F.lit(0.0)
    )
    conf = F.greatest(url_conf, head_conf)
    ptype = (
        F.when(conf >= 0.85, F.lit("location_page"))
        .when(conf >= 0.60, F.lit("company_page"))
        .otherwise(F.lit("other"))
    )
    prio = F.when(conf >= 0.85, 1).when(conf >= 0.7, 2).when(conf >= 0.6, 3).otherwise(4)
    return F.struct(ptype.alias("page_type"), conf.alias("confidence"), prio.alias("priority"))


# ----------------------------------------- X31 DOM-structural battery ------
# universal-location-extractor.service.js — the five DOM-structural
# strategies (cards :112-207, lists :274-299, tables :305-325, sections
# :331-356, grids :362-384) plus the shared parseAddressText/find*
# component helpers (:422-567). All column algebra: blocks come from
# regexp_extract_all over the HTML, components from ordered regex
# batteries (coalesce = the reference's first-pattern-wins loop).
# Ports are bug-compatible where the reference is quirky: extractCountry
# (:511-521) is an ORDERED SUBSTRING scan, so text containing "Reach us"
# or "Australia" yields 'US' (list index 2) unless an earlier entry hits
# first. Selector lists are narrowed to their regex-expressible subset
# (e.g. sections scan literal <section> blocks, not every <div>); each
# strategy keeps its reference length window and gates.

_U_STREET_PATTERNS = [
    r"(?i)\d+\s+[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+(?:Street|St|Avenue|Ave|Road|Rd|"
    r"Boulevard|Blvd|Drive|Dr|Way|Lane|Ln|Court|Ct|Place|Pl|Plaza|Parkway|Pkwy|"
    r"Circle|Cir|Terrace|Ter|Trail|Square|Suite|Floor|Level)\b",
    r"(?i)(?:Level|Suite|Floor|Unit)\s+\d+",
    r"(?i)\d+[-\s]\d+\s+[A-Z][a-z]+\s+(?:Street|Road|Avenue)",
]
_U_POSTAL_PATTERNS = [
    r"\b\d{5}(?:-\d{4})?\b",                      # US ZIP(+4)
    r"\b[A-Z]\d[A-Z]\s?\d[A-Z]\d\b",              # Canadian
    r"\b[A-Z]{1,2}\d{1,2}\s?\d[A-Z]{2}\b",        # UK
    r"\b\d{4}\b(?!\s*(?:Street|St|Avenue|Ave|Road|Rd))",  # generic 4-digit
]
_U_STATE_PATTERNS = [
    r"\b(AL|AK|AZ|AR|CA|CO|CT|DE|FL|GA|HI|ID|IL|IN|IA|KS|KY|LA|ME|MD|MA|MI|MN|MS|"
    r"MO|MT|NE|NV|NH|NJ|NM|NY|NC|ND|OH|OK|OR|PA|RI|SC|SD|TN|TX|UT|VT|VA|WA|WV|WI|"
    r"WY|QLD|NSW|VIC|ACT|SA|WA|TAS|NT|ON|BC|AB|MB|SK|NS|NB|PE|NL|YT|NT|NU)\b",
    r"(?i)\b(Queensland|New South Wales|Victoria|Australian Capital Territory|"
    r"South Australia|Western Australia|Tasmania|Northern Territory)\b",
    r"(?i)\b(Ontario|British Columbia|Alberta|Manitoba|Saskatchewan|Nova Scotia|"
    r"New Brunswick)\b",
]
_U_COUNTRIES = [
    "United States", "USA", "US", "United Kingdom", "UK", "Canada", "Australia",
    "Germany", "France", "India", "China", "Japan", "Singapore", "Brazil",
    "Mexico", "Italy", "Spain", "Netherlands", "Switzerland", "Sweden", "Norway",
    "Denmark", "Finland", "Ireland", "Belgium", "Austria", "Poland", "Russia",
    "South Korea", "Taiwan", "Hong Kong", "Thailand", "Malaysia", "Indonesia",
    "Philippines", "Vietnam", "UAE", "Saudi Arabia", "Israel", "Egypt",
    "South Africa",
]
_U_KNOWN_CITIES = [
    "New York", "Los Angeles", "Chicago", "Houston", "Phoenix", "Philadelphia",
    "San Antonio", "San Diego", "Dallas", "San Jose", "Austin", "San Francisco",
    "Seattle", "Denver", "Washington", "Boston", "Portland", "Las Vegas",
    "Miami", "Atlanta", "London", "Paris", "Berlin", "Tokyo", "Singapore",
    "Sydney", "Melbourne", "Brisbane", "Canberra", "Perth", "Adelaide",
    "Mumbai", "Bangalore", "Delhi", "Hyderabad", "Chennai", "Kolkata", "Pune",
]
_U_PHONE_PATTERNS = [
    r"(?:\+?1[-.\s]?)?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}",
    r"\+\d{1,3}[-.\s]?\d{1,4}[-.\s]?\d{1,4}[-.\s]?\d{1,9}",
    r"\d{3}[-.\s]\d{3}[-.\s]\d{4}",
]
_U_EMAIL_PATTERN = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"


def _u_nth(arr: Column, idx: int) -> Column:
    """element_at that yields NULL (not an ANSI error) on an empty array."""
    return F.when(F.size(arr) >= 1, F.element_at(arr, idx))


def _u_first(text: Column, patterns: list[str]) -> Column:
    """First-pattern-wins battery (the reference's for-loop over regexes);
    NULL when nothing matches (the typed-schema form of JS '')."""
    return F.coalesce(
        *[F.nullif(F.trim(F.regexp_extract(text, p, 0)), F.lit("")) for p in patterns]
    )


def u_street(text: Column) -> Column:
    return _u_first(text, _U_STREET_PATTERNS)


def u_postal(text: Column) -> Column:
    return _u_first(text, _U_POSTAL_PATTERNS)


def u_state(text: Column) -> Column:
    return _u_first(text, _U_STATE_PATTERNS)


def u_city(text: Column) -> Column:
    """findCity (:485-508): comma-before-state/zip capture, else first
    known major city contained (case-sensitive, list order)."""
    comma = F.nullif(
        F.regexp_extract(
            text, r"([A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)\s*,\s*([A-Z]{2,3}|\d{5})", 1
        ),
        F.lit(""),
    )
    known = _u_nth(
        F.filter(
            F.array(*[F.lit(c) for c in _U_KNOWN_CITIES]),
            lambda c: F.contains(text, c),
        ),
        1,
    )
    return F.coalesce(comma, known)


def u_country(text: Column) -> Column:
    """extractCountry (:511-521): ordered case-insensitive SUBSTRING scan
    — bug-compatible (e.g. 'REACH US' or 'AUSTRALIA' both contain 'US')."""
    return _u_nth(
        F.filter(
            F.array(*[F.lit(c) for c in _U_COUNTRIES]),
            lambda c: F.contains(F.upper(text), F.upper(c)),
        ),
        1,
    )


def u_phone(text: Column) -> Column:
    return _u_first(text, _U_PHONE_PATTERNS)


def u_email(text: Column) -> Column:
    return F.nullif(F.regexp_extract(text, _U_EMAIL_PATTERN, 0), F.lit(""))


def u_has_components(text: Column) -> Column:
    """containsAddressComponents (:548-556)."""
    return (
        u_street(text).isNotNull()
        | u_postal(text).isNotNull()
        | text.rlike(r"\d+\s+[A-Z]")
    )


def _u_strip(raw: Column) -> Column:
    """cheerio $(el).text(): concatenated text nodes (tags removed, no
    separator inserted — adjacent runs glue, as in the reference)."""
    return F.trim(F.regexp_replace(raw, r"<[^>]+>", ""))


_U_STRUCT_COLS = [
    "sourceUrl", "sourceType", "locationName", "street", "city", "state",
    "postcode", "country", "phone", "email",
]


def _u_parse(df: DataFrame, source_type: str, text: Column,
             name_override: Column | None = None,
             state_fallback: Column | None = None,
             country_override: Column | None = None) -> DataFrame:
    """parseAddressText (:422-447): component batteries + the lenient
    any-component validation; locationName = city || country || 'Office'."""
    street, city = u_street(text), u_city(text)
    state = u_state(text)
    if state_fallback is not None:
        state = F.coalesce(state, state_fallback)
    postal = u_postal(text)
    country = u_country(text)
    if country_override is not None:
        country = F.coalesce(country_override, country)
    name = F.coalesce(city, country, F.lit("Office"))
    if name_override is not None:
        name = F.coalesce(name_override, name)
    out = df.select(
        "sourceUrl",
        F.lit(source_type).alias("sourceType"),
        name.alias("locationName"),
        street.alias("street"),
        city.alias("city"),
        state.alias("state"),
        postal.alias("postcode"),
        country.alias("country"),
        u_phone(text).alias("phone"),
        u_email(text).alias("email"),
    )
    return out.filter(
        F.coalesce(
            F.col("street"), F.col("postcode"), F.col("city"),
            F.col("country"), F.col("state"),
        ).isNotNull()
    )


def _u_blocks(ps: DataFrame, pattern: str, group: int = 0) -> DataFrame:
    return ps.select(
        "sourceUrl",
        F.explode(F.regexp_extract_all("body", F.lit(pattern), group)).alias("raw"),
    )


def extract_generic_addresses(pages: DataFrame) -> DataFrame:
    """X31 strategy 7 (universal-location-extractor.service.js:392-417,
    tagged dom_generic): any element whose subtree text sits in the
    [50, 600] window and trips the street or postal battery, parsed by
    the shared parseAddressText; an exact-text processed set keeps the
    first occurrence only. The reference's ``$('*')`` walk is narrowed
    to the block-tag families (overlapping ancestor subtexts differ —
    identical repeated blocks still dedup exactly)."""
    ps = _base(pages)
    blocks = F.regexp_extract_all(
        "body",
        F.lit(r"(?is)<(div|section|p|li|article|td|address)\b[^>]*>.*?</\1>"),
        0,
    )
    texts = F.transform(blocks, lambda b: F.trim(_u_strip(b)))
    acc0 = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("out"),
    )

    def step(acc, t):
        gate = (
            F.length(t).between(50, 600)
            & ~F.array_contains(acc["seen"], t)
            & (u_street(t).isNotNull() | u_postal(t).isNotNull())
        )
        return F.when(
            gate,
            F.struct(
                F.concat(acc["seen"], F.array(t)).alias("seen"),
                F.concat(acc["out"], F.array(t)).alias("out"),
            ),
        ).otherwise(acc)

    kept = F.aggregate(texts, acc0, step, lambda acc: acc["out"])
    rows = ps.select(
        "sourceUrl", F.explode(kept).alias("_t")
    )
    return _u_parse(rows, "dom_generic", F.col("_t")).drop("_t")


_JSONLD_REC_SCHEMA = T.StructType(
    [
        T.StructField("sourceUrl", T.StringType()),
        T.StructField("ord", T.IntegerType()),
        T.StructField("locationName", T.StringType()),
        T.StructField("street", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
)


def _jsonld_walk(obj, out):
    """Exact Python twin of parseJsonLdRecursive
    (universal-location-extractor.service.js:224-269): arrays recurse,
    an @graph key short-circuits its siblings, the @type gate is a
    SUBSTRING test on string types only, and every object-valued key
    except @context recurses depth-first in insertion order."""
    if not obj:
        return
    if isinstance(obj, list):
        for item in obj:
            _jsonld_walk(item, out)
        return
    if not isinstance(obj, dict):
        return
    if obj.get("@graph"):
        _jsonld_walk(obj["@graph"], out)
        return
    t = obj.get("@type")
    if isinstance(t, str) and (
        "Place" in t or "LocalBusiness" in t or "Organization" in t
    ):
        addr = obj.get("address")
        if addr:
            if not isinstance(addr, dict):
                addr = {}
            geo = obj.get("geo") or {}
            if not isinstance(geo, dict):
                geo = {}

            def num(v):
                return float(v) if isinstance(v, (int, float)) else None

            out.append(
                (
                    obj.get("name") or obj.get("legalName") or "",
                    addr.get("streetAddress") or "",
                    addr.get("addressLocality") or "",
                    addr.get("addressRegion") or "",
                    addr.get("postalCode") or "",
                    addr.get("addressCountry") or "",
                    obj.get("telephone") or obj.get("phone") or "",
                    obj.get("email") or "",
                    num(geo.get("latitude")),
                    num(geo.get("longitude")),
                )
            )
    for key, val in obj.items():
        if key != "@context" and isinstance(val, (dict, list)) and val:
            _jsonld_walk(val, out)


def extract_jsonld_recursive(pages: DataFrame) -> DataFrame:
    """X31 JSON-LD variant (universal-location-extractor.service.js:
    208-269, tagged jsonld_recursive): the full-tree recursive walk over
    every ld+json script. Arbitrary-depth JSON recursion has no fixed
    relational schema, so — like the sequential-h3 scan — this is the
    justified Arrow-batched seam: an exact Python twin of the reference
    walk inside mapInPandas; everything around it stays columnar."""
    import json

    scripts = _base(pages).select(
        "sourceUrl",
        F.explode(
            F.regexp_extract_all(
                "body",
                F.lit(
                    r'(?is)<script type="application/ld\+json">(.*?)</script>'
                ),
                1,
            )
        ).alias("blob"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for url, blob in zip(b["sourceUrl"], b["blob"]):
                found: list = []
                try:
                    _jsonld_walk(json.loads(blob), found)
                except (ValueError, TypeError):
                    continue
                rows.extend((url, i, *r) for i, r in enumerate(found))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _JSONLD_REC_SCHEMA.fields]
            )

    return scripts.mapInPandas(gen, _JSONLD_REC_SCHEMA)


def extract_structural(pages: DataFrame) -> DataFrame:
    """X31: the five DOM-structural strategies as one tagged union —
    sourceType ∈ {dom_card, dom_list, dom_table, dom_section, dom_grid}.
    Narrow column algebra throughout (regexp block explode → shared
    component batteries); no shuffle until a downstream aggregate."""
    ps = _base(pages)
    hdr_pat = r"(?s)<(?:h[1-6]|strong|b)[^>]*>(.*?)</(?:h[1-6]|strong|b)>"

    # lists (:274-299): ul/ol gated on office/location/address/contact,
    # li text ≥ 30 chars
    uls = _u_blocks(ps, r"(?s)<(?:ul|ol)[^>]*>.*?</(?:ul|ol)>")
    uls = uls.filter(F.lower(_u_strip(F.col("raw"))).rlike(
        "office|location|address|contact"))
    lis = uls.select(
        "sourceUrl",
        F.explode(F.regexp_extract_all("raw", F.lit(r"(?s)<li[^>]*>(.*?)</li>"), 1))
        .alias("item"),
    )
    li_text = _u_strip(F.col("item"))
    lists = _u_parse(
        lis.filter(F.length(li_text) >= 30).withColumn("_t", li_text),
        "dom_list", F.col("_t"),
    ).drop("_t")

    # tables (:305-325): per <tr>, cells trimmed and joined with ' ',
    # row text ≥ 30 chars
    trs = _u_blocks(ps, r"(?s)<table[^>]*>.*?</table>").select(
        "sourceUrl",
        F.explode(F.regexp_extract_all("raw", F.lit(r"(?s)<tr[^>]*>(.*?)</tr>"), 1))
        .alias("row"),
    )
    row_text = F.array_join(
        F.transform(
            F.regexp_extract_all("row", F.lit(r"(?s)<t[dh][^>]*>(.*?)</t[dh]>"), 1),
            lambda c: F.trim(F.regexp_replace(c, r"<[^>]+>", "")),
        ),
        " ",
    )
    tables = _u_parse(
        trs.filter(F.length(row_text) >= 30).withColumn("_t", row_text),
        "dom_table", F.col("_t"),
    ).drop("_t")

    # sections (:331-356, narrowed to literal <section> blocks): text in
    # [50, 1000], must contain address components; first heading becomes
    # the locationName when present
    secs = _u_blocks(ps, r"(?s)<section[^>]*>(.*?)</section>", 1)
    sec_text = _u_strip(F.col("raw"))
    sec_head = F.nullif(
        F.trim(F.regexp_extract("raw", hdr_pat, 1)), F.lit("")
    )
    sections = _u_parse(
        secs.filter(
            F.length(sec_text).between(50, 1000) & u_has_components(sec_text)
        ).withColumn("_t", sec_text).withColumn("_h", sec_head),
        "dom_section", F.col("_t"), name_override=F.col("_h"),
    ).drop("_t", "_h")

    # cards (:112-207): class*=card/location/office divs + <article>; page
    # headers set currentCountry (LAST country header wins — the .each
    # reassignment) and currentRegion; card city = first heading in card;
    # street falls back to the filtered-lines fullAddress; valid iff
    # (street|postal|state) and (city|country)
    hdrs = F.regexp_extract_all("body", F.lit(hdr_pat), 1)
    cur_country = _u_nth(
        F.filter(F.transform(hdrs, lambda h: u_country(h)),
                 lambda c: c.isNotNull()), -1)
    cur_region = _u_nth(
        F.filter(F.transform(hdrs, lambda h: F.upper(F.trim(h))),
                 lambda h: u_state(h).isNotNull()), -1)
    cards_src = ps.select(
        "sourceUrl",
        cur_country.alias("_cc"),
        cur_region.alias("_cr"),
        F.explode(
            F.regexp_extract_all(
                "body",
                F.lit(
                    r'(?s)<(?:div|article)[^>]*class="[^"]*'
                    r'(?:card|location|office)[^"]*"[^>]*>(.*?)</(?:div|article)>'
                ),
                1,
            )
        ).alias("raw"),
    )
    card_text = _u_strip(F.col("raw"))
    card_city = F.nullif(F.trim(F.regexp_extract("raw", hdr_pat, 1)), F.lit(""))
    # fullAddress (:175-180): text segments > 5 chars, not header-ish,
    # with components or any digit, joined with ', '
    card_segs = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.concat(F.lit(">"), F.col("raw"), F.lit("<")),
                F.lit(r">([^<>]+)<"), 1),
            lambda s: F.trim(s),
        ),
        lambda s: (F.length(s) > 5)
        & ~F.lower(s).rlike("click|learn more|view all")
        & ~F.lower(s).startswith("more")
        & (u_has_components(s) | s.rlike(r"\d")),
    )
    card_full = F.nullif(F.array_join(card_segs, ", "), F.lit(""))
    card_country = F.coalesce(F.col("_cc"), u_country(card_text))
    cards = (
        cards_src.filter(F.length(card_text) >= 30)
        .select(
            "sourceUrl",
            F.lit("dom_card").alias("sourceType"),
            F.coalesce(
                card_city, F.concat(card_country, F.lit(" Office"))
            ).alias("locationName"),
            F.coalesce(u_street(card_text), card_full).alias("street"),
            card_city.alias("city"),
            F.coalesce(u_state(card_text), F.col("_cr")).alias("state"),
            u_postal(card_text).alias("postcode"),
            card_country.alias("country"),
            u_phone(card_text).alias("phone"),
            u_email(card_text).alias("email"),
        )
        .filter(
            F.coalesce("street", "postcode", "state").isNotNull()
            & F.coalesce("city", "country").isNotNull()
        )
    )

    # grids (:362-384): children of class*=grid containers, child text in
    # [30, 800] with address components
    grid_kids = _u_blocks(
        ps, r'(?s)<div[^>]*class="[^"]*grid[^"]*"[^>]*>(.*?)</div>', 1
    ).select(
        "sourceUrl",
        F.explode(
            F.regexp_extract_all("raw", F.lit(r"(?s)<(\w+)[^>]*>.*?</\1>"), 0)
        ).alias("kid"),
    )
    kid_text = _u_strip(F.col("kid"))
    grids = _u_parse(
        grid_kids.filter(
            F.length(kid_text).between(30, 800) & u_has_components(kid_text)
        ).withColumn("_t", kid_text),
        "dom_grid", F.col("_t"),
    ).drop("_t")

    out = lists
    for part in (tables, sections, cards, grids):
        out = out.unionByName(part)
    return out.select(*_U_STRUCT_COLS)


# ----------------------------- X32 data-attributes / X33 contact page ------
# location-extractor.service.js — the last two DOM strategies:
# extractFromDataAttributes (:350-422, Google-careers data-slug elements +
# React/Vue inline-script city arrays) and extractFromContactPage
# (:423-450, contact-block scan over findAddressInText :451-475). Column
# algebra like X31; selector lists narrowed to the regex-expressible
# subset (attribute-carrying div/span/a/li blocks; double-quoted attrs).

_FA_US_PATTERN = (
    r"(?i)\d+\s+[\w\s]+?(?:Street|St|Avenue|Ave|Road|Rd|Boulevard|Blvd|Lane|Ln|"
    r"Drive|Dr|Court|Ct|Circle|Cir|Way|Parkway|Pkwy|Plaza|Plz|Terrace|Ter)[.,]?"
    r"\s*(?:Suite|Ste|Unit|#)?\s*[\w\d-]*[.,]?\s*[\w\s]+?[.,]?\s*[A-Z]{2}\s*"
    r"\d{5}(?:-\d{4})?"
)
_FA_INTL_PATTERN = r"(?i)[\w\s]+,\s*[\w\s]+,\s*[\w\s]+\s+\d{3,6}"
_CP_EMAIL_PATTERN = r"[a-zA-Z0-9._-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"


def find_address_in_text(text: Column) -> Column:
    """findAddressInText (:451-475): US composite pattern, else the
    international comma pattern, else the lenient fallback — any
    tag-stripped text with a comma and length in (20, 300)."""
    us = F.nullif(F.trim(F.regexp_extract(text, _FA_US_PATTERN, 0)), F.lit(""))
    intl = F.nullif(F.trim(F.regexp_extract(text, _FA_INTL_PATTERN, 0)), F.lit(""))
    cleaned = F.trim(F.regexp_replace(text, r"<[^>]*>", ""))
    lenient = F.when(
        text.contains(",") & F.length(text).between(21, 299)
        & cleaned.contains(","),
        cleaned,
    )
    return F.coalesce(us, intl, lenient)


def _js_title_case(slug: Column) -> Column:
    """``slug.replace(/-/g,' ').replace(/\\b\\w/g, c => c.toUpperCase())``:
    word-initial chars uppercased, REST OF WORD KEPT AS-IS (initcap would
    lowercase it — 'NYC-hq' must become 'NYC Hq', not 'Nyc Hq')."""
    return F.array_join(
        F.transform(
            F.split(F.regexp_replace(slug, "-", " "), " "),
            lambda w: F.concat(F.upper(F.left(w, F.lit(1))), F.substring(w, 2, 2147483647)),
        ),
        " ",
    )


def extract_data_attributes(pages: DataFrame) -> DataFrame:
    """X32 / strategy 8 (:350-422). 8a: elements with data-slug/
    data-location/data-city/data-office; name = display child (jsname
    K4r5Ff, then .location-name/.city-name/.office-name, then own text)
    || the attrs in order || title-cased slug; length gate (2, 100).
    8b: inline scripts mentioning location/office/address mined for
    ``[["City","slug",…`` array heads; first capitalized quoted token,
    gates: length (2, 100), no '<', no 'http'. address = name (cities
    geocode downstream); activity 'Office'."""
    ps = _base(pages)
    blocks = ps.select(
        "sourceUrl",
        F.explode(
            F.regexp_extract_all(
                "body",
                F.lit(
                    r'(?s)<(div|span|a|li)((?:[^>]*?)\bdata-'
                    r'(?:slug|location|city|office)="[^"]*"(?:[^>]*?))>(.*?)</\1>'
                ),
                0,
            )
        ).alias("raw"),
    )
    attrs = F.regexp_extract("raw", r"(?s)<(?:div|span|a|li)([^>]*)>", 1)

    def attr(name: str) -> Column:
        return F.nullif(
            F.regexp_extract(attrs, rf'\bdata-{name}="([^"]*)"', 1), F.lit("")
        )

    inner = F.regexp_extract("raw", r"(?s)<[^>]*>(.*)</[^>]*>$", 1)
    jsname_child = F.nullif(
        F.trim(_u_strip(F.regexp_extract(
            inner, r'(?s)<[^>]*jsname="K4r5Ff"[^>]*>(.*?)<', 1))),
        F.lit(""),
    )
    class_child = F.nullif(
        F.trim(_u_strip(F.regexp_extract(
            inner,
            r'(?s)<[^>]*class="[^"]*(?:location-name|city-name|office-name)'
            r'[^"]*"[^>]*>(.*?)<',
            1,
        ))),
        F.lit(""),
    )
    display = F.coalesce(jsname_child, class_child,
                         F.nullif(_u_strip(inner), F.lit("")))
    name = F.coalesce(
        display, attr("location"), attr("city"), attr("office"),
        _js_title_case(attr("slug")),
    )
    elems = blocks.select(
        "sourceUrl",
        F.lit("data_attr").alias("sourceType"),
        name.alias("locationName"),
        name.alias("street"),
        F.lit("Office").alias("activity"),
    ).filter(F.length("locationName").between(3, 99))

    # 8b: script arrays — [["City","slug",[lat,lng],…]
    scripts = ps.select(
        "sourceUrl",
        F.explode(
            F.regexp_extract_all(
                "body", F.lit(r"(?s)<script[^>]*>(.*?)</script>"), 1
            )
        ).alias("js"),
    ).filter(F.col("js").rlike("location|office|address"))
    heads = scripts.select(
        "sourceUrl",
        F.explode(
            F.regexp_extract_all(
                "js", F.lit("\\[\\s*\\[[\"'][^\"']+[\"'],\\s*[\"'][^\"']+[\"']"), 0
            )
        ).alias("head"),
    )
    city = F.regexp_extract("head", "[\"']([A-Z][a-zA-Z\\s&/\\-().]+)[\"']", 1)
    script_rows = heads.select(
        "sourceUrl",
        F.lit("data_attr").alias("sourceType"),
        city.alias("locationName"),
        city.alias("street"),
        F.lit("Office").alias("activity"),
    ).filter(
        F.length("locationName").between(3, 99)
        & ~F.col("locationName").contains("<")
        & ~F.col("locationName").contains("http")
    )
    return elems.unionByName(script_rows)


def extract_contact_page(pages: DataFrame) -> DataFrame:
    """X33 (:423-450): .contact-location/.contact-address/#contact-info/
    .branch-info blocks; address = findAddressInText, gated > 15 chars;
    name = first heading/strong/b || data-location attr || 'Contact
    Location {i+1}' with i the element's PER-PAGE match index (counted
    before the address gate, as jQuery .each does), truncated to 100;
    activity via the X11 keyword classifier; phone/email per element."""
    ps = _base(pages)
    blk_pat = (
        r'(?s)<(div|section)(?:[^>]*?)\b(?:class="[^"]*(?:contact-location|'
        r'contact-address|branch-info)[^"]*"|id="contact-info")(?:[^>]*?)>(.*?)</\1>'
    )
    blocks = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all("body", F.lit(blk_pat), 0)),
    ).withColumnsRenamed({"pos": "idx", "col": "raw"})
    text = _u_strip(F.col("raw"))
    address = find_address_in_text(text)
    head = F.nullif(
        F.trim(F.regexp_extract(
            "raw", r"(?s)<(?:h[1-6]|strong|b)[^>]*>(.*?)</(?:h[1-6]|strong|b)>", 1
        )),
        F.lit(""),
    )
    data_loc = F.nullif(
        F.regexp_extract("raw", r'(?s)<[^>]*\bdata-location="([^"]*)"[^>]*>', 1),
        F.lit(""),
    )
    from web_crawler_spark.functions.records import classify_activity

    name = F.left(
        F.coalesce(
            head, data_loc,
            F.concat(F.lit("Contact Location "), (F.col("idx") + 1).cast("string")),
        ),
        F.lit(100),
    )
    return (
        blocks.select(
            "sourceUrl",
            F.lit("contact_page").alias("sourceType"),
            name.alias("locationName"),
            address.alias("street"),
            classify_activity(text).alias("activity"),
            F.nullif(F.trim(F.regexp_extract(text, _U_PHONE_PATTERNS[0], 0)),
                     F.lit("")).alias("phone"),
            F.nullif(F.regexp_extract(text, _CP_EMAIL_PATTERN, 0),
                     F.lit("")).alias("email"),
        )
        .filter(F.length("street") > 15)
    )


# ------------------------------------------ X34 heuristic DOM battery ------
# heuristic-extractor.service.js — the four heuristic strategies
# (semantic elements :42-79, near-headings :80-117, text patterns
# :118-155, lists :156-188), the shared looksLikeAddress gate
# (:189-221), and deduplicateAddresses' normalized-key first-wins pass
# (:222-245). Column algebra; selector narrowings: semantic attr scan
# covers div/span/section/p with a matching double-quoted class/id (plus
# bare <address> tags); near-headings "siblings" are the p/div/address/
# section blocks between a matching heading and the next heading (JS
# walks element siblings; nested wrappers would differ).

_HX_STREET = (
    r"(?i)\b(Street|St|Avenue|Ave|Road|Rd|Drive|Dr|Lane|Ln|Boulevard|Blvd|Way|"
    r"Court|Ct|Place|Pl|Square|Sq|Parkway|Pkwy)\b"
)
_HX_SUITE = r"(?i)\b(Suite|Ste|Floor|Fl|Building|Bldg|Unit|Apt|#)\s*\d+"
_HX_POBOX = r"(?i)P\.?O\.?\s*Box\s+\d+"
_HX_LOOKS_PATTERNS = [
    _HX_STREET,
    _HX_SUITE,
    r"\b\d{5}(-\d{4})?\b",                 # US zip
    r"\b[A-Z]\d[A-Z]\s*\d[A-Z]\d\b",       # Canadian
    r"\b[A-Z]{1,2}\d{1,2}\s*\d[A-Z]{2}\b", # UK
    _HX_POBOX,
    r"(?i)\b(city|town|village|state|province|county|zip|postal|code)\b",
]
_HX_TEXT_PATTERNS = [
    r"(?i)\d{1,5}\s+\w+\s+(Street|St|Avenue|Ave|Road|Rd|Drive|Dr|Lane|Ln|"
    r"Boulevard|Blvd|Way|Court|Ct|Place|Pl|Square|Sq|Parkway|Pkwy)",
    _HX_SUITE,
    _HX_POBOX,
    r"\d{1,5}\s+[\w\s,]+\d{5}(-\d{4})?",
]


def hx_looks_like_address(text: Column) -> Column:
    """looksLikeAddress (:189-221): any indicator pattern AND a digit AND
    length in [20, 400]."""
    any_ind = None
    for p in _HX_LOOKS_PATTERNS:
        c = text.rlike(p)
        any_ind = c if any_ind is None else (any_ind | c)
    return any_ind & text.rlike(r"\d") & F.length(text).between(20, 400)


def _hx_collapse(raw: Column) -> Column:
    """$(el).text().trim().replace(/\\s{2,}/g, ' ')."""
    return F.regexp_replace(F.trim(F.regexp_replace(raw, r"<[^>]+>", "")),
                            r"\s{2,}", " ")


def _body_text(html: Column) -> Column:
    """$('body').text(): tag-stripped text of the <body> element only —
    head content (title, meta) must NOT leak into body-text scans.
    Falls back to the whole document when no <body> tag exists."""
    inner = F.regexp_extract(html, r"(?s)<body[^>]*>(.*?)</body>", 1)
    scope = F.when(inner != "", inner).otherwise(html)
    return F.regexp_replace(scope, r"<[^>]+>", "")


def _hx_dedup_key(street: Column) -> Column:
    """deduplicateAddresses (:222-245) key: lowercase, collapse runs of
    whitespace, strip non-word chars (in THAT order — a stripped comma
    can leave a double space), slice to 100."""
    return F.substring(
        F.regexp_replace(
            F.regexp_replace(F.lower(street), r"\s+", " "), r"[^\w\s]", ""
        ),
        1, 100,
    )


def extract_heuristic(pages: DataFrame) -> DataFrame:
    """X34: the four heuristic strategies as one deduplicated union —
    sourceType ∈ {heur_semantic, heur_heading, heur_text, heur_list},
    confidence 0.7 / 0.8 / 0.6 / 0.75 per strategy as in the reference.
    Dedup is per page with first-wins in strategy-push order (1→4) and
    the key-length > 10 gate."""
    ps = _base(pages)

    def rows(df: DataFrame, tag: str, strat: int, text: Column, conf: float,
             name: Column | None = None, pos: Column | None = None,
             extra_gate: Column | None = None) -> DataFrame:
        gate = F.lit(True) if extra_gate is None else extra_gate
        return df.filter(gate).select(
            "sourceUrl",
            F.lit(tag).alias("sourceType"),
            (name if name is not None else F.lit(None).cast("string"))
            .alias("locationName"),
            text.alias("street"),
            F.lit(conf).alias("confidence"),
            F.lit(strat).alias("_strat"),
            (pos if pos is not None else F.lit(0)).alias("_pos"),
        )

    # strategy 1 — semantic elements (:42-79)
    addr_tags = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all(
            "body", F.lit(r"(?s)<address[^>]*>(.*?)</address>"), 1)),
    )
    attr_blocks = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all(
            "body",
            F.lit(
                r'(?s)<(div|span|section|p)((?:[^>]*?)\b(?:class|id)="[^"]*'
                r'(?:address|contact|office|location)[^"]*"(?:[^>]*?))>'
                r"(.*?)</\1>"
            ),
            0,
        )),
    ).withColumn(
        "col", F.regexp_extract("col", r"(?s)^<[^>]*>(.*)</[^>]*>$", 1)
    )
    sem = None
    for i, src in enumerate((addr_tags, attr_blocks)):
        t = _hx_collapse(F.col("col"))
        part = rows(
            src.withColumn("_t", t), "heur_semantic", 1, F.col("_t"), 0.7,
            pos=F.lit(i) * 10000 + F.col("pos"),
            extra_gate=F.length(t).between(11, 499),
        ).drop("_t")
        sem = part if sem is None else sem.unionByName(part)

    # strategy 2 — near headings (:80-117)
    _HEAD_KW = ("contact|location|office|offices|find|our locations|"
                "addresses|headquarters|visit|reach|where")
    chunks = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all(
            "body",
            F.lit(r"(?s)<h([1-6])[^>]*>.*?</h\1>(?:(?!<h[1-6]).)*"), 0)),
    ).withColumnsRenamed({"pos": "hpos", "col": "chunk"})
    head_txt = F.lower(F.trim(_hx_collapse(F.regexp_extract(
        "chunk", r"(?s)^<h([1-6])[^>]*>(.*?)</h\1>", 2))))
    tail = F.regexp_replace(
        "chunk", r"(?s)^<h([1-6])[^>]*>.*?</h\1>", "")
    sibs = (
        chunks.filter(head_txt.rlike(_HEAD_KW))
        .withColumn("_h", head_txt)
        .select(
            "sourceUrl", "hpos", "_h",
            F.posexplode(F.regexp_extract_all(
                tail,
                F.lit(r"(?s)<(p|div|address|section)[^>]*>.*?</\1>"), 0)),
        )
        .filter(F.col("pos") < 8)
    )
    sib_txt = _hx_collapse(F.col("col"))
    near = rows(
        sibs.withColumn("_t", sib_txt), "heur_heading", 2, F.col("_t"), 0.8,
        name=F.col("_h"),
        pos=F.col("hpos") * 100 + F.col("pos"),
        extra_gate=F.length(sib_txt).between(16, 499)
        & hx_looks_like_address(sib_txt),
    ).drop("_t", "_h")

    # strategy 3 — body-text line patterns (:118-155); first 1000
    # non-empty trimmed lines, length [20, 300], any address pattern +
    # looksLikeAddress; street = line with ALL whitespace runs collapsed
    body_txt = _body_text(F.col("body"))
    lines = ps.select(
        "sourceUrl",
        F.posexplode(F.slice(
            F.filter(
                F.transform(F.split(body_txt, "\n"), lambda l: F.trim(l)),
                lambda l: l != "",
            ),
            1, 1000,
        )).alias("pos", "line"),
    )
    ltxt = F.col("line")
    any_pat = None
    for p in _HX_TEXT_PATTERNS:
        c = ltxt.rlike(p)
        any_pat = c if any_pat is None else (any_pat | c)
    txt = rows(
        lines.withColumn("_t", F.regexp_replace(ltxt, r"\s+", " ")),
        "heur_text", 3, F.col("_t"), 0.6,
        pos=F.col("pos"),
        extra_gate=F.length(ltxt).between(20, 300) & any_pat
        & hx_looks_like_address(ltxt),
    ).drop("_t")

    # strategy 4 — keyword-gated lists (:156-188)
    lsts = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all(
            "body", F.lit(r"(?s)<(ul|ol|dl)[^>]*>.*?</\1>"), 0)),
    ).withColumnsRenamed({"pos": "lpos", "col": "lst"})
    lst_gate = F.lower(_hx_collapse(F.col("lst"))).rlike(
        "office|location|address|contact")
    items = lsts.filter(lst_gate).select(
        "sourceUrl", "lpos",
        F.posexplode(F.regexp_extract_all(
            "lst", F.lit(r"(?s)<(li|dd)[^>]*>(.*?)</\1>"), 2)),
    )
    item_txt = _hx_collapse(F.col("col"))
    lst_rows = rows(
        items.withColumn("_t", item_txt), "heur_list", 4, F.col("_t"), 0.75,
        pos=F.col("lpos") * 1000 + F.col("pos"),
        extra_gate=F.length(item_txt).between(16, 399)
        & hx_looks_like_address(item_txt),
    ).drop("_t")

    allr = sem.unionByName(near).unionByName(txt).unionByName(lst_rows)
    key = _hx_dedup_key(F.col("street"))
    w = Window.partitionBy("sourceUrl", "_key").orderBy("_strat", "_pos")
    return (
        allr.withColumn("_key", key)
        .filter(F.length("_key") > 10)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("sourceUrl", "sourceType", "locationName", "street",
                "confidence")
    )


# ----------------------------------------------- X35 scraper pipeline ------
# scraper.service.js — the fallback scraper's strategy chain
# (extractLocations :5-48): pattern-selector blocks (:223-263), the
# global body-text US-address regex with Set dedupe and a 50-address cap
# (:265-289), the basic-info metadata fallback when nothing else hit
# (:50-94), and removeDuplicatesImproved's sequential similarity dedup
# (:115-191, longer-address-wins replacement). The scraper's JSON-LD
# strategy (:192-221) is a strict subset of X15's parser and is not
# re-ported; fixtures exercise the chain without JSON-LD blocks.
# The dedup loop is order-dependent by construction, so it runs as a
# per-page Arrow-batched applyInPandas (pages are the parallel unit).

_SC_ADDR_TIERS = [
    _FA_US_PATTERN,
    # greedy quantifiers as in the JS source — on multi-comma text the
    # tail binds the LAST comma pair, not the first
    r"(?i)\d+[\s\w,.-]+,\s*[\w\s]+,\s*[A-Za-z]{2}",
    r"(?i)\d+[\s\w,.-]+\d{5}",
]
_SC_KEYWORDS = ["address", "location", "visit us", "find us", "contact",
                "office"]
_SC_ACTIVITY = [
    ("retail", "Retail"), ("store", "Retail"),
    ("warehouse", "Warehouse"), ("distribution", "Warehouse"),
    ("manufacturing", "Manufacturing"), ("factory", "Manufacturing"),
    ("office", "Office"), ("corporate", "Office"),
    ("restaurant", "Restaurant"), ("food", "Restaurant"),
]


def sc_activity(text: Column) -> Column:
    """scraper.service.js:95-104 — its own (shorter) keyword chain; OR
    within a rule line, first line wins, default 'Office'."""
    t = F.lower(text)
    expr = None
    for i in range(0, len(_SC_ACTIVITY), 2):
        (k1, label), (k2, _) = _SC_ACTIVITY[i], _SC_ACTIVITY[i + 1]
        cond = t.contains(k1) | t.contains(k2)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    return expr.otherwise(F.lit("Office"))


def sc_address_from_text(text: Column) -> Column:
    """scraper extractAddressFromText (:290-309): three tiers (US
    composite, city-state, generic-with-zip), each gated on match length
    in (15, 200) — a too-long tier-1 match falls through to tier 2."""
    tiers = []
    for pat in _SC_ADDR_TIERS:
        m = F.trim(F.regexp_extract(text, pat, 0))
        tiers.append(F.when(F.length(m).between(16, 199), m))
    return F.coalesce(*tiers)


_SC_COLS = ["sourceUrl", "sourceType", "locationName", "street", "activity",
            "usageShare"]
_SC_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in _SC_COLS]
)


def _sc_improved_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
    """removeDuplicatesImproved (:115-155) + isSimilarAddress (:155-175)
    + calculateSimilarity (:177-191), mirrored exactly: sequential over
    strategy push order; a similar-but-longer address REPLACES the
    earlier survivor; the seen map keeps stale keys, as the JS does."""
    import re as _re

    pdf = pdf.sort_values("_seq")

    def norm(addr: str) -> str:
        return _re.sub(r"\s+", " ", _re.sub(r"[.,\-]", " ", addr.lower())).strip()

    def similarity(a: str, b: str) -> float:
        w1, w2 = a.split(" "), b.split(" ")
        common = sum(1 for w in w1 if w in w2)
        return common / len(set(w1) | set(w2))

    def similar(a: str, b: str) -> bool:
        n1, n2 = _re.findall(r"\d+", a), _re.findall(r"\d+", b)
        if len(n1) >= 2 and len(n2) >= 2:
            if n1[0] == n2[0] and n1[-1] == n2[-1]:
                return True
        return similarity(a, b) > 0.7

    seen: dict[str, dict] = {}
    unique: list[dict] = []
    for _, row in pdf.iterrows():
        loc = {c: row[c] for c in _SC_COLS}
        key = norm(loc["street"])
        dup = False
        for k, v in seen.items():
            if similar(key, k):
                dup = True
                if len(loc["street"]) > len(v["street"]):
                    for i, u in enumerate(unique):
                        if u["street"] == v["street"]:
                            unique[i] = loc
                            seen[key] = loc
                            break
                break
        if not dup:
            unique.append(loc)
            seen[key] = loc
    return pd.DataFrame(unique, columns=_SC_COLS)


def extract_scraper(pages: DataFrame) -> DataFrame:
    """X35: the scraper chain — tagged scraper_pattern / scraper_regex /
    scraper_basic rows, then the per-page improved dedup."""
    from web_crawler_spark.functions import urls as U

    ps = _base(pages)
    host = U.host_of(F.col("sourceUrl"))

    # strategy 2 — pattern-selector blocks (:223-263); selector list
    # narrowed to class/id containing its keyword stems + itemprop
    blocks = ps.select(
        "sourceUrl", host.alias("_host"),
        F.posexplode(F.regexp_extract_all(
            "body",
            F.lit(
                r'(?s)<(div|section|span|p|address)((?:[^>]*?)\b(?:'
                r'(?:class|id)="[^"]*(?:location|office|address|contact|'
                r'headquarters|branch|store-location)[^"]*"|'
                r'itemprop="address")(?:[^>]*?))>(.*?)</\1>'
            ),
            0,
        )),
    )
    blk_text = _u_strip(F.col("col"))
    blk_addr = sc_address_from_text(blk_text)
    blk_head = F.nullif(F.trim(F.regexp_extract(
        "col", r"(?s)<(?:h[1-6]|strong|b)[^>]*>(.*?)</(?:h[1-6]|strong|b)>", 1
    )), F.lit(""))
    patt = (
        blocks.withColumn("_t", blk_text)
        .withColumn("_a", blk_addr)
        .filter(F.col("_a").isNotNull() & (F.length("_a") > 15))
        .select(
            "sourceUrl",
            F.lit("scraper_pattern").alias("sourceType"),
            F.left(F.coalesce(blk_head, F.col("_host")), F.lit(100))
            .alias("locationName"),
            F.col("_a").alias("street"),
            sc_activity(F.col("_t")).alias("activity"),
            F.lit("Exclusive").alias("usageShare"),
            (F.lit(0) * 100000 + F.col("pos")).alias("_seq"),
        )
    )

    # strategy 3 — global regex sweep (:265-289): Set-dedupe raw matches
    # in first-occurrence order, cap 50, name carries the 1-based index
    body_txt = _body_text(F.col("body"))
    raw = ps.select(
        "sourceUrl", host.alias("_host"),
        F.posexplode(
            F.regexp_extract_all(body_txt, F.lit(_FA_US_PATTERN), 0)
        ),
    )
    w_first = Window.partitionBy("sourceUrl", "col").orderBy("pos")
    w_idx = Window.partitionBy("sourceUrl").orderBy("pos")
    rx = (
        raw.withColumn("_occ", F.row_number().over(w_first))
        .filter(F.col("_occ") == 1)
        .withColumn("_idx", F.row_number().over(w_idx))
        .filter(F.col("_idx") <= 50)
        .select(
            "sourceUrl",
            F.lit("scraper_regex").alias("sourceType"),
            F.concat(F.lit("Location "), F.col("_idx").cast("string"),
                     F.lit(" - "), F.col("_host")).alias("locationName"),
            F.trim("col").alias("street"),
            F.lit("Office").alias("activity"),
            F.lit("Exclusive").alias("usageShare"),
            (F.lit(100000) + F.col("_idx")).alias("_seq"),
        )
    )

    # lazy local checkpoint: `found` feeds both the output union and the
    # has-rows anti-join for the fallback gate — without it the whole
    # strategy-2/3 regex pass runs twice per action
    found = patt.unionByName(rx).localCheckpoint(eager=False)

    # strategy 4 — basic-info fallback (:50-94) on pages with no rows:
    # title cascade, keyword-section address search where the LAST
    # keyword with a hit wins (the JS forEach overwrites), else the
    # '<host> - See website for address' placeholder
    title = F.coalesce(
        F.nullif(F.trim(F.regexp_extract(
            "body", r"(?s)<title[^>]*>(.*?)</title>", 1)), F.lit("")),
        F.nullif(F.regexp_extract(
            "body", r'<meta[^>]*property="og:title"[^>]*content="([^"]*)"', 1),
            F.lit("")),
        F.nullif(F.trim(_u_strip(F.regexp_extract(
            "body", r"(?s)<h1[^>]*>(.*?)</h1>", 1))), F.lit("")),
        host,
    )
    desc = F.coalesce(
        F.nullif(F.regexp_extract(
            "body", r'<meta[^>]*name="description"[^>]*content="([^"]*)"', 1),
            F.lit("")),
        F.nullif(F.regexp_extract(
            "body", r'<meta[^>]*property="og:description"[^>]*content="([^"]*)"', 1),
            F.lit("")),
        F.lit(""),
    )
    # keyword-section search, one pass (narrowed to p/div/section/span
    # blocks; the jQuery `*:contains` would also count ancestors): a
    # running per-keyword count gives the reference's first-6-elements
    # window, then one aggregation takes the first eligible block per
    # keyword — no per-keyword join chain
    kw_blocks = ps.select(
        "sourceUrl",
        F.posexplode(F.regexp_extract_all(
            "body", F.lit(r"(?s)<(p|div|section|span)[^>]*>(.*?)</\1>"), 2)),
    )
    kb_text = _u_strip(F.col("col"))
    kb = kw_blocks.select(
        "sourceUrl", "pos",
        kb_text.alias("_t"),
        sc_address_from_text(kb_text).alias("_a"),
    )
    w_run = (
        Window.partitionBy("sourceUrl").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aggs = []
    for kw in _SC_KEYWORDS:
        col = f"_a_{kw.replace(' ', '_')}"
        has_kw = F.lower(F.col("_t")).contains(kw)
        kidx = F.sum(has_kw.cast("int")).over(w_run)
        eligible = (
            has_kw & (kidx <= 6)
            & F.length("_t").between(11, 499)
            & F.col("_a").isNotNull()
        )
        kb = kb.withColumn(col, F.when(eligible, F.struct("pos", "_a")))
        aggs.append(F.min(col)["_a"].alias(col))
    cands = kb.groupBy("sourceUrl").agg(*aggs)
    meta = ps.select("sourceUrl", host.alias("_host"),
                     title.alias("_title"), desc.alias("_desc")) \
             .join(cands, "sourceUrl", "left")
    # reverse keyword order: the LAST keyword's hit overwrites the rest
    addr_cols = [F.col(f"_a_{kw.replace(' ', '_')}")
                 for kw in reversed(_SC_KEYWORDS)]
    basic_addr = F.coalesce(
        *addr_cols,
        F.concat(F.col("_host"), F.lit(" - See website for address")),
    )
    had_rows = found.select("sourceUrl").distinct()
    basic = (
        meta.join(had_rows, "sourceUrl", "left_anti")
        .select(
            "sourceUrl",
            F.lit("scraper_basic").alias("sourceType"),
            F.left(F.col("_title"), F.lit(100)).alias("locationName"),
            basic_addr.alias("street"),
            sc_activity(F.concat(F.col("_title"), F.lit(" "), F.col("_desc")))
            .alias("activity"),
            F.lit("Own").alias("usageShare"),
            F.lit(200000).alias("_seq"),
        )
    )

    allr = found.unionByName(basic)
    return allr.groupBy("sourceUrl").applyInPandas(
        lambda pdf: _sc_improved_dedup(pdf), _SC_SCHEMA
    )


# --------------------------------------------------------- payload (img) ---
def extract_images(pages: DataFrame) -> DataFrame:
    """The graft payload link: <img> ids + alt-text captions per page."""
    imgs = _base(pages).select(
        "sourceUrl", "seed_host",
        F.explode(
            F.regexp_extract_all(
                "body", F.lit(r'<img src="/images/(img_\d+)\.png" alt="([^"]*)">'), 0
            )
        ).alias("tag"),
    )
    return imgs.select(
        "sourceUrl", "seed_host",
        F.regexp_extract("tag", r"(img_\d+)", 1).alias("image_id"),
        F.regexp_extract("tag", r'alt="([^"]*)"', 1).alias("caption"),
    )


# ------------------------------------------------------------ full stack ---
def extract_all(pages: DataFrame) -> DataFrame:
    """The 7-strategy union + the ``CONFIDENCE_FLOOR`` filter (F6). One
    narrow pass per strategy over the same scan; Spark shares the pages
    scan via plan reuse.
    """
    parts = [
        extract_jsonld(pages),
        extract_microdata(pages),
        extract_map(pages),
        extract_xhr(pages),
        extract_inline_script(pages),
        extract_text(pages),
        extract_h3_sequential(pages),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("confidence") >= CONFIDENCE_FLOOR)


# ---------------------------------------------------------------------------
# X38: location-extractor's own four DOM strategies (location-extractor.
# service.js:154-348) — strategies 3-6 of its extractAllLocations stack:
# location lists/grids (:154-231), individual sections (:233-274),
# location tables (:276-307), and the 5-pattern address-regex sweep
# (:309-348). Column algebra over block arrays, one narrow pass each.
#
# Selector narrowings (same doctrine as X31/X34): blocks are matched as
# tag-balanced non-greedy spans with double-quoted attributes, items
# nested inside a consumed block are not re-scanned, and the reference's
# per-selector iteration (which re-emits an element once per matching
# selector, later collapsed by its normalized-address dedup :505-528) is
# narrowed to one emission per matched element in document order; the
# `Location ${i+1}` fallback numbers that document-order scan.
# ---------------------------------------------------------------------------

_LOC_PHONE_RE = r"(?:\+?1[-.\s]?)?\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}"
_LOC_EMAIL_RE = r"[a-zA-Z0-9._-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"

# :314-329 — the five body-text address patterns, in sweep order
_LP_PATTERNS = [
    # US street + optional suite + city + state + zip
    r"(?i)\d+\s+[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+(?:Street|St|Avenue|Ave|Road|Rd|"
    r"Boulevard|Blvd|Lane|Ln|Drive|Dr|Court|Ct|Circle|Cir|Way|Parkway|Pkwy|Plaza|"
    r"Plz|Terrace|Ter|Highway|Hwy)[.,]?\s*(?:Suite|Ste|Unit|Apt|#)?\s*[\w\d-]*"
    r"[.,]?\s*[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*[.,]?\s*[A-Z]{2}\s*\d{5}(?:-\d{4})?",
    # UK simplified
    r"(?i)\d+\s+[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*[.,]?\s*[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*"
    r"[.,]?\s*[A-Z]{1,2}\d{1,2}\s*\d[A-Z]{2}",
    # NL postcode + city
    r"(?i)\d{4}\s*[A-Z]{2}\s+[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*",
    # NL street + postcode + city
    r"(?i)[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\s+\d+[a-z]?\s*,?\s*\d{4}\s*[A-Z]{2}\s+[A-Z][a-z]+",
    # flexible "n words, words, ST 12345"
    r"(?i)\d+\s+[\w\s]+,\s*[\w\s]+,\s*[A-Z]{2}\s+\d{5}",
]

_LOC_CAND_TYPE = (
    "struct<locationName:string,street:string,phone:string,email:string,"
    "activity:string,usageShare:string>"
)


def _loc_phone(text: Column) -> Column:
    """extractPhone (:477-482): first NANP-ish match, '' when none."""
    return F.trim(F.regexp_extract(text, _LOC_PHONE_RE, 0))


def _loc_email(text: Column) -> Column:
    """extractEmail (:484-489)."""
    return F.trim(F.regexp_extract(text, _LOC_EMAIL_RE, 0))


def _strip_tags(html: Column) -> Column:
    """cheerio .text(): text nodes concatenated with NO separator."""
    return F.regexp_replace(html, r"<[^>]+>", "")


def _loc_activity(text: Column) -> Column:
    from web_crawler_spark.functions.records import classify_activity

    return classify_activity(text)


def _loc_cand(name: Column, addr: Column, phone: Column, email: Column,
              activity: Column) -> Column:
    """The common record shape (:216-223 / :261-268 / :293-300): name
    clipped to 100 chars, usageShare pinned 'Exclusive'."""
    return F.struct(
        F.substring(name, 1, 100).alias("locationName"),
        addr.alias("street"),
        phone.alias("phone"),
        email.alias("email"),
        activity.alias("activity"),
        F.lit("Exclusive").alias("usageShare"),
    )


def _class_attr(tag: Column) -> Column:
    return F.coalesce(F.regexp_extract(tag, r'(?i)\bclass="([^"]*)"', 1), F.lit(""))


def _id_attr(tag: Column) -> Column:
    return F.coalesce(F.regexp_extract(tag, r'(?i)\bid="([^"]*)"', 1), F.lit(""))


def _class_token(tag: Column, token: str) -> Column:
    return _class_attr(tag).rlike(r"(?:^|\s)" + token + r"(?:\s|$)")


def extract_loc_patterns(pages: DataFrame) -> DataFrame:
    """X38 strategy 6 (:309-348): five regex sweeps over $('body').text();
    each match emits (hostname - Location idx+1, trimmed match, activity
    'Office', empty phone/email), idx counted per pattern."""
    ps = _base(pages)
    host = F.regexp_extract("sourceUrl", r"^https?://([^/:?#]+)", 1)
    body_txt = _body_text(F.col("body"))
    sweeps = [
        F.transform(
            F.regexp_extract_all(body_txt, F.lit(p), 0),
            lambda m, i: _loc_cand(
                F.concat(host, F.lit(" - Location "),
                         (i + 1).cast("string")),
                F.trim(m), F.lit(""), F.lit(""), F.lit("Office"),
            ),
        )
        for p in _LP_PATTERNS
    ]
    out = ps.select(
        "sourceUrl", "seed_host", F.posexplode(F.concat(*sweeps))
    )
    return out.select(
        "sourceUrl", "seed_host",
        F.col("pos").cast("long").alias("ord"),
        F.lit("loc_patterns").alias("sourceType"),
        "col.locationName", "col.street", "col.phone", "col.email",
        "col.activity", "col.usageShare",
    )


def extract_loc_tables(pages: DataFrame) -> DataFrame:
    """X38 strategy 5 (:276-307): tables whose text mentions
    address/location/office; per <tr>, findAddressInText over the row
    text gated at length > 15; the name is the first cell's text with a
    'Location ${row ordinal+1}' fallback."""
    ps = _base(pages)

    def row_cands(table):
        rows = F.regexp_extract_all(table, F.lit(r"(?is)<tr\b[^>]*>.*?</tr>"), 0)

        def one(row, j):
            row_text = _strip_tags(row)
            addr = find_address_in_text(row_text)
            first_cell = F.trim(
                _strip_tags(
                    F.regexp_extract(row, r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]>", 1)
                )
            )
            name = F.coalesce(
                F.nullif(first_cell, F.lit("")),
                F.concat(F.lit("Location "), (j + 1).cast("string")),
            )
            return F.when(
                addr.isNotNull() & (F.length(addr) > 15),
                _loc_cand(name, addr, _loc_phone(row_text),
                          _loc_email(row_text), _loc_activity(row_text)),
            )

        gate = F.lower(_strip_tags(table)).rlike("address|location|office")
        return F.when(gate, F.filter(F.transform(rows, one),
                                     lambda c: c.isNotNull())).otherwise(
            F.array().cast(f"array<{_LOC_CAND_TYPE}>")
        )

    tables = F.regexp_extract_all(
        "body", F.lit(r"(?is)<table\b[^>]*>.*?</table>"), 0
    )
    cands = F.flatten(F.transform(tables, row_cands))
    out = ps.select("sourceUrl", "seed_host", F.posexplode(cands))
    return out.select(
        "sourceUrl", "seed_host",
        F.col("pos").cast("long").alias("ord"),
        F.lit("loc_tables").alias("sourceType"),
        "col.locationName", "col.street", "col.phone", "col.email",
        "col.activity", "col.usageShare",
    )


# :237-241 — section selectors, narrowed to section/div blocks whose open
# tag carries a matching class token / class substring / id substring
def _loc_section_match(tag: Column) -> Column:
    cls = F.lower(_class_attr(tag))
    idv = F.lower(_id_attr(tag))
    tagname = F.lower(F.regexp_extract(tag, r"<([a-zA-Z0-9]+)", 1))
    is_sec_or_div = tagname.isin("section", "div")
    return (
        (is_sec_or_div & (
            _class_token(tag, "location") | _class_token(tag, "office")
            | cls.contains("location-") | cls.contains("office-")
            | idv.contains("location") | idv.contains("office")
        ))
        | _class_token(tag, "contact-info")
        | _class_token(tag, "contact-section")
        | idv.contains("contact")
    )


def extract_loc_sections(pages: DataFrame) -> DataFrame:
    """X38 strategy 4 (:233-274): location/office/contact-marked sections
    with text ≥ 50 chars; address from findAddressInText, else the inner
    address-classed elements; name from the first heading, else first
    strong/b/.title/.name, else 'Location ${ordinal+1}' (the reference's
    prev-sibling-heading fallback is outside the regex subset)."""
    ps = _base(pages)
    blocks = F.regexp_extract_all(
        "body",
        F.lit(r"(?is)<(section|div)\b[^>]*>.*?</\1>"),
        0,
    )

    def one(raw, i):
        open_tag = F.regexp_extract(raw, r"(?s)^(<[^>]*>)", 1)
        text = _strip_tags(raw)
        inner_addr = F.nullif(
            F.trim(
                _strip_tags(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.regexp_extract_all(
                                raw,
                                F.lit(
                                    r'(?is)<(\w+)\b[^>]*(?:class="[^"]*address'
                                    r'[^"]*"|itemprop="address")[^>]*>.*?</\1>'
                                ),
                                0,
                            ),
                            lambda b: _strip_tags(b),
                        ),
                    )
                )
            ),
            F.lit(""),
        )
        addr = F.coalesce(find_address_in_text(text), inner_addr)
        heading = F.nullif(
            F.trim(
                F.regexp_extract(raw, r"(?is)<h[1-6]\b[^>]*>(.*?)</h[1-6]>", 1)
            ),
            F.lit(""),
        )
        strong = F.nullif(
            F.trim(
                _strip_tags(
                    F.regexp_extract(
                        raw,
                        r'(?is)<(?:strong\b[^>]*|b\b[^>]*|\w+\b[^>]*class="'
                        r'[^"]*(?:title|name)[^"]*")>(.*?)</\w+>',
                        1,
                    )
                )
            ),
            F.lit(""),
        )
        name = F.coalesce(
            heading, strong,
            F.concat(F.lit("Location "), (i + 1).cast("string")),
        )
        return F.when(
            _loc_section_match(open_tag)
            & (F.length(text) >= 50)
            & addr.isNotNull() & (F.length(addr) > 15),
            _loc_cand(name, addr, _loc_phone(text), _loc_email(text),
                      _loc_activity(text)),
        )

    # ordinal i counts matched blocks only: index the matched subset
    matched = F.filter(
        blocks,
        lambda b: _loc_section_match(F.regexp_extract(b, r"(?s)^(<[^>]*>)", 1)),
    )
    cands = F.filter(F.transform(matched, one), lambda c: c.isNotNull())
    out = ps.select("sourceUrl", "seed_host", F.posexplode(cands))
    return out.select(
        "sourceUrl", "seed_host",
        F.col("pos").cast("long").alias("ord"),
        F.lit("loc_sections").alias("sourceType"),
        "col.locationName", "col.street", "col.phone", "col.email",
        "col.activity", "col.usageShare",
    )


# :158-169 — container selectors (22 entries) narrowed to one match-any
# predicate over the open tag
_LOC_LIST_CONTAINER_TOKENS = [
    "locations-list", "location-list", "office-list", "offices-list",
    "locations-grid", "location-grid", "offices-grid", "grid-contacts",
    "addresses-section", "addresses-col", "addresses-box", "addresses-2",
    "wp-block-group", "elementor-widget-container",
]


def _loc_container_match(tag: Column) -> Column:
    cls = F.lower(_class_attr(tag))
    idv = F.lower(_id_attr(tag))
    token_hit = F.lit(False)
    for t in _LOC_LIST_CONTAINER_TOKENS:
        token_hit = token_hit | _class_token(tag, t)
    return (
        token_hit
        | cls.contains("location-list") | cls.contains("office-list")
        | cls.contains("contact") | cls.contains("address")
        | idv.contains("locations") | idv.contains("offices")
        | idv.contains("map") | idv.contains("address")
    )


# :176-182 — item selectors (18 entries), same narrowing
_LOC_ITEM_TOKENS = [
    "location-item", "office-item", "location", "office", "contact-in-grid",
    "address-item", "address-box", "address-text", "address-map",
    "card", "box",
]


def _loc_item_match(tag: Column) -> Column:
    cls = F.lower(_class_attr(tag))
    tagname = F.lower(F.regexp_extract(tag, r"<([a-zA-Z0-9]+)", 1))
    token_hit = F.lit(False)
    for t in _LOC_ITEM_TOKENS:
        token_hit = token_hit | _class_token(tag, t)
    return (
        token_hit
        | cls.contains("location-") | cls.contains("office-")
        | cls.contains("contact-") | cls.contains("address-")
        | tagname.isin("li", "article", "address")
    )


def extract_loc_lists(pages: DataFrame) -> DataFrame:
    """X38 strategy 3 (:154-231): location-list/grid containers, items
    within; item text ≥ 20 chars; address from findAddressInText, else
    the concatenated text of inner address-classed/p elements (:197 — the
    last-<p> fallback :201-207 is dead code in the reference, since the
    second fallback's selector list already contains 'p'); gated at
    length > 15. Name cascade: first heading/strong/b, else first
    title/name-classed element, else the address's first comma segment."""
    ps = _base(pages)
    containers = F.regexp_extract_all(
        "body",
        F.lit(r"(?is)<(ul|ol|div|section|article)\b[^>]*>.*?</\1>"),
        0,
    )

    def item_cands(container):
        inner = F.regexp_replace(
            F.regexp_replace(container, r"(?s)^<[^>]*>", ""),
            r"(?s)</[a-zA-Z0-9]+>$", "",
        )
        items = F.filter(
            F.regexp_extract_all(
                inner,
                F.lit(r"(?is)<(li|article|address|div|span|p)\b[^>]*>.*?</\1>"),
                0,
            ),
            lambda b: _loc_item_match(
                F.regexp_extract(b, r"(?s)^(<[^>]*>)", 1)
            ),
        )

        def one(item):
            text = _strip_tags(item)
            inner_addr = F.nullif(
                F.trim(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.regexp_extract_all(
                                item,
                                F.lit(
                                    r'(?is)<(?:(\w+)\b[^>]*class="[^"]*address'
                                    r'[^"]*"[^>]*>.*?</\1>|p\b[^>]*>.*?</p>)'
                                ),
                                0,
                            ),
                            lambda b: _strip_tags(b),
                        ),
                    )
                ),
                F.lit(""),
            )
            addr = F.coalesce(find_address_in_text(text), inner_addr)
            heading = F.nullif(
                F.trim(
                    _strip_tags(
                        F.regexp_extract(
                            item,
                            r"(?is)<(?:h[1-6]|strong|b)\b[^>]*>(.*?)"
                            r"</(?:h[1-6]|strong|b)>",
                            1,
                        )
                    )
                ),
                F.lit(""),
            )
            titled = F.nullif(
                F.trim(
                    _strip_tags(
                        F.regexp_extract(
                            item,
                            r'(?is)<\w+\b[^>]*class="[^"]*(?:title|name)'
                            r'[^"]*"[^>]*>(.*?)</\w+>',
                            1,
                        )
                    )
                ),
                F.lit(""),
            )
            name = F.coalesce(
                heading, titled,
                F.nullif(F.trim(F.split(addr, ",")[0]), F.lit("")),
                F.lit("Location"),
            )
            return F.when(
                (F.length(text) >= 20)
                & addr.isNotNull() & (F.length(addr) > 15),
                _loc_cand(
                    name, addr, _loc_phone(text), _loc_email(text),
                    _loc_activity(F.concat(text, F.lit(" "), name)),
                ),
            )

        return F.filter(F.transform(items, one), lambda c: c.isNotNull())

    matched = F.filter(
        containers,
        lambda b: _loc_container_match(
            F.regexp_extract(b, r"(?s)^(<[^>]*>)", 1)
        ),
    )
    cands = F.flatten(F.transform(matched, item_cands))
    out = ps.select("sourceUrl", "seed_host", F.posexplode(cands))
    return out.select(
        "sourceUrl", "seed_host",
        F.col("pos").cast("long").alias("ord"),
        F.lit("loc_lists").alias("sourceType"),
        "col.locationName", "col.street", "col.phone", "col.email",
        "col.activity", "col.usageShare",
    )
