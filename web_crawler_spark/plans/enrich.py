"""Enrichment: geocoding dim join + canonical record projection + quality.

The reference's post-extraction chain (crawler.service.js:403-416):
confidence filter → fuzzy dedup → per-row geocode (Redis-cached
OpenCage/Google, geocoding.service.js:14-17) → canonical 14-field
projection (:449-464) → quality envelope (data-quality.service.js).

Spark restatement:
- geocoding = a **dimension-table equi-join** on the normalized address
  (J3). The Redis cache becomes the dim table itself; the network
  provider becomes this sandbox's deterministic coordinate synthesizer
  (same hash-derived contract as the rest of the synthetic web). Rows
  that already carry coordinates skip the join output via coalesce —
  the reference's "merge-back after geocoding" (J8,
  professional-crawler.service.js:262-266) expressed as a single
  left join + coalesce instead of split/union.
- the canonical projection and every envelope column (activity X11,
  height X12, footprint X13, quality X24-X26) are the records.py /
  geo.py column kernels — all whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_crawler_spark.functions import geo as G
from web_crawler_spark.functions import records as R
from web_crawler_spark.hashing import hash64_col


def geocode_dim_for(records: DataFrame) -> DataFrame:
    """Build the geocode dimension for the distinct normalized addresses
    present (cache-on-miss semantics): deterministic hash-derived
    coordinates, same contract as SyntheticWeb. In production this table
    IS the persisted geocode cache (30-day TTL in the reference →
    snapshot-expired Iceberg table here)."""
    addrs = records.select(
        F.lower(F.trim(F.concat_ws(", ", "street", "city"))).alias("address_norm")
    ).distinct()

    # hash64_col is the JVM-side md5 twin of Python hash64 — the dim build
    # stays whole-stage-codegen (no Python worker), and the derivation has
    # an exact DuckDB-SQL mirror (hash64_sql) for the oracle gate.
    lat = (
        F.pmod(hash64_col(F.lit("geo-lat"), F.col("address_norm")), F.lit(120_000_000))
        / 1_000_000
        - 60.0
    )
    lon = (
        F.pmod(hash64_col(F.lit("geo-lon"), F.col("address_norm")), F.lit(360_000_000))
        / 1_000_000
        - 180.0
    )
    return addrs.select(
        "address_norm", lat.alias("geo_lat"), lon.alias("geo_lon")
    )


def geocode_enrich(records: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """J3 + J8: fill missing coordinates from the dim; rows with coords
    pass through untouched (coalesce merge-back)."""
    dim = dim if dim is not None else geocode_dim_for(records)
    keyed = records.withColumn(
        "address_norm", F.lower(F.trim(F.concat_ws(", ", "street", "city")))
    )
    joined = keyed.join(F.broadcast(dim), "address_norm", "left")
    return joined.withColumns({
        "geocoded": F.col("latitude").isNull() & F.col("geo_lat").isNotNull(),
        "latitude": F.coalesce(F.col("latitude"), F.col("geo_lat")),
        "longitude": F.coalesce(F.col("longitude"), F.col("geo_lon")),
    }).drop("geo_lat", "geo_lon", "address_norm")


# Provider cascade (multi-geocoding.service.js:8-31): try Google Maps →
# Nominatim → MapQuest in order, first non-empty answer wins, provenance
# recorded. Coverage percentages model "this provider had an answer";
# coordinates are per-provider hash-derived (real providers disagree
# slightly, so the winning provider visibly determines the output).
GEO_PROVIDERS: list[tuple[str, int]] = [
    ("google", 70),
    ("nominatim", 80),
    ("mapquest", 60),
]


def multi_geocode_dim_for(
    records: DataFrame,
    providers: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Cascade dimension: one row per distinct normalized address carrying
    the FIRST answering provider's coordinates + its name. The whole
    cascade folds into a single when-chain over md5-derived coverage and
    coordinates — one broadcast join downstream, no per-provider passes.
    """
    providers = providers or GEO_PROVIDERS
    addrs = records.select(
        F.lower(F.trim(F.concat_ws(", ", "street", "city"))).alias("address_norm")
    ).distinct()
    a = F.col("address_norm")

    def hit(name: str, pct: int):
        return F.pmod(hash64_col(F.lit(f"geo-hit-{name}"), a), F.lit(100)) < pct

    def lat(name: str):
        return (
            F.pmod(hash64_col(F.lit(f"geo-lat-{name}"), a), F.lit(120_000_000))
            / 1_000_000 - 60.0
        )

    def lon(name: str):
        return (
            F.pmod(hash64_col(F.lit(f"geo-lon-{name}"), a), F.lit(360_000_000))
            / 1_000_000 - 180.0
        )

    prov_expr = lat_expr = lon_expr = None
    for name, pct in providers:
        cond = hit(name, pct)
        if prov_expr is None:
            prov_expr = F.when(cond, F.lit(name))
            lat_expr = F.when(cond, lat(name))
            lon_expr = F.when(cond, lon(name))
        else:
            prov_expr = prov_expr.when(cond, F.lit(name))
            lat_expr = lat_expr.when(cond, lat(name))
            lon_expr = lon_expr.when(cond, lon(name))
    return addrs.select(
        "address_norm",
        lat_expr.alias("geo_lat"),
        lon_expr.alias("geo_lon"),
        prov_expr.alias("geo_provider"),
    )


def multi_geocode_enrich(
    records: DataFrame,
    dim: DataFrame | None = None,
    providers: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """J3+J8 with provider-cascade provenance: rows with coordinates pass
    through (`geo_provider='source'`); rows the cascade answered get that
    provider's coordinates and name; unanswered rows stay NULL with
    `geo_provider='none'` (the reference's getEmptyResult)."""
    dim = dim if dim is not None else multi_geocode_dim_for(records, providers)
    keyed = records.withColumn(
        "address_norm", F.lower(F.trim(F.concat_ws(", ", "street", "city")))
    )
    joined = keyed.join(F.broadcast(dim), "address_norm", "left")
    had_coords = F.col("latitude").isNotNull()
    return joined.withColumns({
        "geo_provider": F.when(had_coords, F.lit("source")).otherwise(
            F.coalesce(F.col("geo_provider"), F.lit("none"))
        ),
        "latitude": F.coalesce(F.col("latitude"), F.col("geo_lat")),
        "longitude": F.coalesce(F.col("longitude"), F.col("geo_lon")),
    }).drop("geo_lat", "geo_lon", "address_norm")


def _canonical_projection(raw: DataFrame) -> DataFrame:
    """The canonical columns of enriched raw records, without the envelope:
    all the fuzzy merge reads."""
    return raw.select(
        "seed_host",
        F.col("locationName"),
        F.concat_ws(
            ", ",
            *[F.when(F.col(c).isNotNull() & (F.col(c) != ""), F.col(c)) for c in
              ("street", "city", "postcode", "country")],
        ).alias("locationAddress"),
        R.classify_activity(F.coalesce("locationName", F.lit(""))).alias("activityAtAsset"),
        F.col("latitude").cast("double").alias("latitude"),
        F.col("longitude").cast("double").alias("longitude"),
        F.col("country").alias("countryIso3"),
        F.col("postcode"),
        F.lit(None).cast("string").alias("state"),
        F.coalesce("city", "street").alias("streetOrCity"),
        F.lit("100%").alias("usageShare"),
        "sourceUrl",
        F.lit("web").alias("sourceType"),
        "confidence",
        "extractionMethod",
        "phone",
        "email",
    )


def _with_envelope(records: DataFrame) -> DataFrame:
    """The envelope over canonical columns, in one projection: footprint
    (X13), height (X12), qualityScore (X24), qualityLevel (X25) and
    missingFields (X26). A column already present is replaced in place;
    the others are appended in that order."""
    qmap = {k: k for k in R.QUALITY_WEIGHTS}
    score = R.quality_score(qmap)
    return records.withColumns({
        "footprint": G.footprint_wkt("latitude", "longitude"),
        "height": R.estimate_height(F.coalesce("activityAtAsset", F.lit(""))),
        "qualityScore": score,
        "qualityLevel": R.quality_level(score),
        "missingFields": R.missing_fields(qmap),
    })


CANONICAL_COLUMNS = [
    "seed_host", "locationName", "locationAddress", "activityAtAsset",
    "latitude", "longitude", "countryIso3", "postcode", "state",
    "streetOrCity", "footprint", "height", "usageShare", "sourceUrl",
    "sourceType", "confidence", "extractionMethod", "phone", "email",
    "qualityScore", "qualityLevel", "missingFields",
]


def to_canonical_records(raw: DataFrame) -> DataFrame:
    """F14: project enriched raw records into the canonical shape
    (crawler.service.js:449-464) with the full envelope."""
    return _with_envelope(_canonical_projection(raw)).select(*CANONICAL_COLUMNS)


def attach_payload(records: DataFrame, images: DataFrame) -> DataFrame:
    """Join the image+caption payload onto records: the image comes from one
    of the record's source pages and its caption starts with the record's
    name (the generator's contract "{name} — {city}, {country}").

    Merged records carry a comma-joined sourceUrl set (A4), so the record
    side explodes its URL set first, equi-joins on url (shuffle join
    partitioned by url — broadcast-able when the image side is a dim), and
    keeps exactly ONE deterministic image per record (min by image_id) so
    dedup never fans back out. The record key is a content hash, not
    monotonically_increasing_id, so the plan stays deterministic under
    recompute/retry — a correctness requirement at scale where stage retry
    is routine."""
    rec = records.withColumn(
        "_rid",
        hash64_col(
            F.coalesce(F.col("seed_host"), F.lit("")),
            F.coalesce(F.col("locationName"), F.lit("")),
            F.coalesce(F.col("locationAddress"), F.lit("")),
            F.coalesce(F.col("sourceUrl"), F.lit("")),
        ),
    )
    img = images.select(F.col("sourceUrl").alias("_iu"), "image_id", "caption")
    exploded = rec.select(
        "_rid",
        "locationName",
        F.explode(F.split(F.coalesce("sourceUrl", F.lit("")), ", ")).alias("_iu"),
    )
    matched = exploded.join(img, "_iu", "inner").filter(
        F.col("caption").startswith(F.concat(F.col("locationName"), F.lit(" — ")))
    )
    best = matched.groupBy("_rid").agg(
        F.min(F.struct("image_id", "caption")).alias("_img")
    )
    return rec.join(best, "_rid", "left").select(
        *records.columns,
        F.col("_img.image_id").alias("image_id"),
        F.col("_img.caption").alias("caption"),
    )


def records_pipeline(pages: DataFrame) -> DataFrame:
    """pages → 7-strategy extraction → confidence floor → geocode enrich
    → canonical projection → greedy fuzzy dedup per host → envelope →
    canonical records (+ payload).

    The envelope (footprint, height, quality score, level and missing
    fields) is built once, after the merge: the merge keeps none of it
    but the quality score, which the envelope recomputes anyway.

    Two lazy localCheckpoints cut the lineage where a plan is read twice:
    the extraction output, which the geocode dimension (its distinct
    addresses) and the enrich join both read, and the records after the
    fuzzy merge, which ``attach_payload`` reads twice (the URL explode and
    the final join). Without them the extraction and the fuzzy merge would
    each run twice, and everything downstream of extraction would
    re-analyze the full 7-strategy union tree on every DataFrame
    operation — driver-side plan work that grows with plan depth, not
    data. Under AQE a lazy localCheckpoint plans its input when it is
    built and runs that plan's shuffle stages then (the geocode
    dimension's distinct and the merge's repartition), so building this
    plan already runs the extraction. Extraction output is
    rows-per-location, far smaller than the page bodies it came from, so
    the materialization is cheap at any scale."""
    from web_crawler_spark.operators import extract as EX
    from web_crawler_spark.operators import fuzzy as FZ

    raw = EX.extract_all(pages).localCheckpoint(eager=False)
    deduped = FZ.fuzzy_dedup(
        _canonical_projection(geocode_enrich(raw)), "seed_host",
        order_cols=["sourceUrl", "locationName", "extractionMethod"],
    )
    recs = _with_envelope(deduped).localCheckpoint(eager=False)
    return attach_payload(recs, EX.extract_images(pages))


# Reverse geocoding (multi-geocoding.service.js:114-161): Google first,
# Nominatim fallback, null when both miss. Spark restatement: reverse
# geocoding at scale is an equi-join against a cell-keyed dimension (the
# provider response cache keyed on quantized coordinates); the network
# providers become the same md5-derived deterministic synthesizer as the
# forward cascade, with per-provider response formats so the winning
# provider is visible in the output.
RGEO_CITIES = [
    "Springfield", "Riverton", "Lakewood", "Fairview",
    "Georgetown", "Ashland", "Dover", "Milton",
]


def reverse_geocode_dim_for(points: DataFrame, precision: int = 3) -> DataFrame:
    """One row per distinct quantized cell (round(coord * 10^precision)
    as integer keys — integer keys so the hash derivation has an exact
    cross-engine string rendering)."""
    scale = 10 ** precision
    cells = (
        points.where(
            F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
        )
        .select(
            F.round(F.col("latitude") * scale).cast("long").alias("cell_lat_i"),
            F.round(F.col("longitude") * scale).cast("long").alias("cell_lon_i"),
        )
        .distinct()
    )
    la, lo = F.col("cell_lat_i"), F.col("cell_lon_i")

    def h(salt: str):
        return hash64_col(F.lit(salt), la, lo)

    g_hit = F.pmod(h("rgeo-google"), F.lit(100)) < 70
    n_hit = F.pmod(h("rgeo-nominatim"), F.lit(100)) < 80
    no = (F.pmod(h("rgeo-no"), F.lit(9899)) + 100).cast("string")
    city = F.element_at(
        F.array(*[F.lit(c) for c in RGEO_CITIES]),
        (F.pmod(h("rgeo-city"), F.lit(8)) + 1).cast("int"),
    )
    google_fmt = F.concat(no, F.lit(" Meridian Rd, "), city, F.lit(", USA"))
    nominatim_fmt = F.concat(no, F.lit(", Meridian Road, "), city)
    return cells.select(
        "cell_lat_i", "cell_lon_i",
        F.when(g_hit, google_fmt).when(n_hit, nominatim_fmt)
        .alias("formatted_address"),
        F.when(g_hit | n_hit, city).alias("rgeo_city"),
        F.when(g_hit, F.lit("google")).when(n_hit, F.lit("nominatim"))
        .otherwise(F.lit("none")).alias("rgeo_provider"),
    )


def reverse_geocode(
    points: DataFrame, dim: DataFrame | None = None, precision: int = 3
) -> DataFrame:
    """J3-shaped reverse lookup: broadcast-join the cell dimension onto
    the points; rows whose cell no provider answers keep NULL address and
    provider 'none' (the reference returns null)."""
    scale = 10 ** precision
    dim = dim if dim is not None else reverse_geocode_dim_for(points, precision)
    keyed = points.withColumns({
        "cell_lat_i": F.round(F.col("latitude") * scale).cast("long"),
        "cell_lon_i": F.round(F.col("longitude") * scale).cast("long"),
    })
    joined = keyed.join(F.broadcast(dim), ["cell_lat_i", "cell_lon_i"], "left")
    return joined.withColumn(
        "rgeo_provider", F.coalesce(F.col("rgeo_provider"), F.lit("none"))
    ).drop("cell_lat_i", "cell_lon_i")


# Place-details enrichment (multi-geocoding.service.js:166-203): phone /
# website / opening-hours / rating / types for a place id, empty-string
# defaults when the lookup misses (the reference's pre-filled `details`
# object). Spark restatement: a broadcast dim join keyed on place_id —
# the details cache — with the deterministic md5 synthesizer as the
# provider; weekday_text arrives joined with '; ' exactly as
# :193-195 does.
PLACE_TYPES = ["establishment", "point_of_interest", "store", "restaurant"]


def place_details_dim_for(places: DataFrame) -> DataFrame:
    ids = places.select("place_id").where(F.col("place_id").isNotNull()).distinct()
    pid = F.col("place_id")

    def h(salt: str):
        return hash64_col(F.lit(salt), pid)

    hit = F.pmod(h("place-hit"), F.lit(100)) < 85
    phone = F.concat(
        F.lit("("), (F.pmod(h("place-area"), F.lit(800)) + 200).cast("string"),
        F.lit(") 555-"),
        F.lpad((F.pmod(h("place-line"), F.lit(10000))).cast("string"), 4, "0"),
    )
    website = F.concat(
        F.lit("https://www.place"),
        F.pmod(h("place-web"), F.lit(100000)).cast("string"),
        F.lit(".example.com"),
    )
    hours = F.concat(
        F.lit("Monday: 9:00 AM - "),
        (F.pmod(h("place-close"), F.lit(4)) + 4).cast("string"),
        F.lit(":00 PM; Saturday: Closed"),
    )
    rating = (F.pmod(h("place-rate"), F.lit(21)) + 25) / 10.0
    types = F.concat(
        F.element_at(
            F.array(*[F.lit(t) for t in PLACE_TYPES]),
            (F.pmod(h("place-type"), F.lit(4)) + 1).cast("int"),
        ),
        F.lit(",establishment"),
    )
    blank = F.lit("")
    return ids.select(
        "place_id",
        F.when(hit, phone).otherwise(blank).alias("pd_phone"),
        F.when(hit, website).otherwise(blank).alias("pd_website"),
        F.when(hit, hours).otherwise(blank).alias("pd_hours"),
        F.when(hit, rating).alias("pd_rating"),
        F.when(hit, types).otherwise(blank).alias("pd_types"),
        hit.alias("pd_hit"),
    )


def place_details(places: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """Broadcast details join; rows without a place_id keep the empty
    defaults (the reference skips the API call entirely)."""
    dim = dim if dim is not None else place_details_dim_for(places)
    joined = places.join(F.broadcast(dim), "place_id", "left")
    blank = F.lit("")
    return joined.withColumns({
        **{c: F.coalesce(F.col(c), blank)
           for c in ("pd_phone", "pd_website", "pd_hours", "pd_types")},
        "pd_hit": F.coalesce(F.col("pd_hit"), F.lit(False)),
    })
