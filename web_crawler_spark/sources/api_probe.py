"""S6 + X18: JSON endpoint payload normalization.

Reference semantics (api-extractor.service.js:103-296 parseJsonLocations/
normalizeJsonLocation/normalizeGeoJsonFeature, restated): a JSON payload is
either a bare array, an object with the first present array under one of 8
container keys (locations/stores/offices/branches/data/results/items/
features), or a GeoJSON FeatureCollection; per item, fields come from
synonym key lists (name/title/storeName/…; lat: latitude/lat/y; lng:
longitude/lng/lon/x; …) with ISO2→ISO3 country normalization; keep only
items with a name or an address.

Spark restatement: everything is JVM-side JSON path expressions —
`get_json_object` / `from_json` with a permissive schema + `coalesce`
cascades over the synonym paths. No Python in the hot path, and every
expression here has a DuckDB twin (json_extract_string), so the operator
is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# api-extractor.service.js:113-117
CONTAINER_KEYS = [
    "locations", "stores", "offices", "branches",
    "data", "results", "items", "features",
]

# field synonym lists, api-extractor.service.js:143-170
NAME_KEYS = ["name", "title", "storeName", "locationName", "officeName",
             "branchName", "store_name"]
ADDRESS_KEYS = ["address", "fullAddress", "street_address", "streetAddress",
                "location", "addr"]
CITY_KEYS = ["city", "town", "locality", "street_city"]
STATE_KEYS = ["state", "region", "province", "stateProvince"]
POSTCODE_KEYS = ["postcode", "zipCode", "zip", "postalCode", "postal_code",
                 "zip_code"]
LAT_KEYS = ["latitude", "lat", "y"]
LON_KEYS = ["longitude", "lng", "lon", "x"]
PHONE_KEYS = ["phone", "telephone", "tel", "phoneNumber", "phone_number"]
EMAIL_KEYS = ["email", "mail", "emailAddress"]

# api-extractor.service.js:279-284 — 15-entry ISO2→ISO3 map
ISO2_TO_3 = {
    "US": "USA", "GB": "GBR", "DE": "DEU", "FR": "FRA", "IT": "ITA",
    "ES": "ESP", "NL": "NLD", "BE": "BEL", "CA": "CAN", "AU": "AUS",
    "JP": "JPN", "CN": "CHN", "IN": "IND", "BR": "BRA", "MX": "MEX",
}


def _synonym_str(item: Column, keys: list[str]) -> Column:
    """extractField: first present (non-null, non-empty) key wins."""
    cands = [F.get_json_object(item, f"$.{k}") for k in keys]
    return F.coalesce(
        *[F.when(c.isNotNull() & (c != ""), c) for c in cands], F.lit("")
    )


def _synonym_num(item: Column, keys: list[str]) -> Column:
    """extractCoordinate: first parseable number, as string ('' if none)."""
    cands = [F.get_json_object(item, f"$.{k}").cast("double") for k in keys]
    return F.coalesce(
        *[F.when(c.isNotNull(), c.cast("string")) for c in cands], F.lit("")
    )


def iso3_country(code: Column) -> Column:
    """normalizeCountryCode: 3-letter passthrough, ISO2 via the 15-entry map."""
    up = F.upper(F.trim(code))
    mapping = F.create_map(
        *[F.lit(x) for kv in ISO2_TO_3.items() for x in kv]
    )
    return (
        F.when(code.isNull() | (up == ""), F.lit(""))
        .when(F.length(up) == 3, up)
        .when(F.length(up) == 2, F.coalesce(mapping[up], up))
        .otherwise(F.lit(""))
    )


def explode_payload_items(df: DataFrame, json_col: str = "payload") -> DataFrame:
    """parseJsonLocations: bare array | first present container key |
    GeoJSON features. Adds an ``item`` JSON-string column (one row per
    located item) and ``container`` (which shape matched)."""
    j = F.ltrim(F.col(json_col))  # real endpoints pad JSON with whitespace
    bare = F.when(j.startswith("["), j)
    containers = [
        F.get_json_object(j, f"$.{k}") for k in CONTAINER_KEYS
    ]
    chosen = F.coalesce(
        bare,
        *[F.when(c.isNotNull() & c.startswith("["), c) for c in containers],
    )
    labels = F.coalesce(
        F.when(bare.isNotNull(), F.lit("array")),
        *[
            F.when(c.isNotNull() & c.startswith("["), F.lit(k))
            for k, c in zip(CONTAINER_KEYS, containers)
        ],
    )
    items = F.from_json(chosen, "array<string>")
    return (
        df.withColumn("container", labels)
        .withColumn("item", F.explode(items))
    )


def normalize_items(df: DataFrame, source_col: str = "endpoint") -> DataFrame:
    """normalizeJsonLocation/normalizeGeoJsonFeature over exploded items.

    GeoJSON items (container == 'features') read coordinates[1]/[0] and
    properties.*; plain items read the synonym keys. Items with neither a
    name nor an address are dropped (:176-178)."""
    it = F.col("item")
    props = F.get_json_object(it, "$.properties")
    is_geo = F.col("container") == "features"

    name = F.when(is_geo, _synonym_str(props, ["name", "title"])).otherwise(
        _synonym_str(it, NAME_KEYS)
    )
    address = F.when(
        is_geo, _synonym_str(props, ["address", "description"])
    ).otherwise(_synonym_str(it, ADDRESS_KEYS))
    # coordinates go through double→string on every path so the output is a
    # canonical numeric string regardless of how the JSON spelled the number
    lat = F.when(
        is_geo,
        F.coalesce(
            F.get_json_object(it, "$.geometry.coordinates[1]")
            .cast("double")
            .cast("string"),
            F.lit(""),
        ),
    ).otherwise(_synonym_num(it, LAT_KEYS))
    lon = F.when(
        is_geo,
        F.coalesce(
            F.get_json_object(it, "$.geometry.coordinates[0]")
            .cast("double")
            .cast("string"),
            F.lit(""),
        ),
    ).otherwise(_synonym_num(it, LON_KEYS))
    country_raw = F.when(
        is_geo, _synonym_str(props, ["country"])
    ).otherwise(_synonym_str(it, ["country", "countryCode", "country_code", "countryISO"]))

    out = df.select(
        "*",
        name.alias("locationName"),
        address.alias("locationAddress"),
        F.when(is_geo, _synonym_str(props, ["city", "locality"]))
        .otherwise(_synonym_str(it, CITY_KEYS))
        .alias("streetOrCity"),
        F.when(is_geo, _synonym_str(props, ["state", "region"]))
        .otherwise(_synonym_str(it, STATE_KEYS))
        .alias("state"),
        F.when(is_geo, _synonym_str(props, ["postcode", "zipCode"]))
        .otherwise(_synonym_str(it, POSTCODE_KEYS))
        .alias("postcode"),
        iso3_country(country_raw).alias("countryIso3"),
        lat.alias("latitude"),
        lon.alias("longitude"),
        F.when(is_geo, _synonym_str(props, ["phone", "telephone"]))
        .otherwise(_synonym_str(it, PHONE_KEYS))
        .alias("phone"),
        F.when(is_geo, _synonym_str(props, ["email"]))
        .otherwise(_synonym_str(it, EMAIL_KEYS))
        .alias("email"),
        F.col(source_col).alias("sourceUrl"),
        F.when(is_geo, F.lit("GeoJSON")).otherwise(F.lit("API/JSON")).alias("sourceType"),
    )
    return out.filter((F.col("locationName") != "") | (F.col("locationAddress") != ""))
