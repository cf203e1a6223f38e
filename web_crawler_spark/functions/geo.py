"""Geo kernels: haversine, footprint WKT, geohash-style blocking.

Re-expresses (not ports) the reference's coordinate math:
- haversine R=6371 km (enhanced-deduplication.service.js:227-246)
- MULTIPOLYGON footprint ±0.0001°, 6-decimal (crawler.service.js:508-540)
- proximity "same entity" < 0.1 km (enhanced-deduplication.service.js:62-74)

All pure column expressions (built-in trig) — vectorized JVM math, no UDFs,
and every formula has a verbatim SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0
FOOTPRINT_OFFSET = 0.0001
PROXIMITY_KM = 0.1


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance, km (X9). 2*R*asin(sqrt(...)) form — the
    algebraic twin of the reference's atan2 form, numerically identical
    within double precision for all non-antipodal inputs."""
    la1, lo1, la2, lo2 = (F.radians(_c(x)) for x in (lat1, lon1, lat2, lon2))
    dlat, dlon = la2 - la1, lo2 - lo1
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(la1) * F.cos(la2) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def footprint_wkt(lat, lon, offset: float = FOOTPRINT_OFFSET) -> Column:
    """X13: ~20 m MULTIPOLYGON square around a point, 6-dp coordinates
    (crawler.service.js:508-540). Pure format_string — no geometry lib;
    ``%.6f`` always prints six fixed decimals (never Java's shortest
    ``Double.toString`` form, which drops trailing zeros and switches
    to scientific notation near zero)."""
    la, lo = _c(lat), _c(lon)
    return F.format_string(
        "MULTIPOLYGON(((%.6f %.6f,%.6f %.6f,%.6f %.6f,%.6f %.6f,%.6f %.6f)))",
        lo - offset, la - offset,
        lo + offset, la - offset,
        lo + offset, la + offset,
        lo - offset, la + offset,
        lo - offset, la - offset,
    )


def geo_cell(lat, lon, cell_deg: float = 0.01) -> Column:
    """Integer grid cell id for proximity-join blocking (~1.1 km at
    0.01°). Two points within 0.1 km always fall in the same or adjacent
    cell, so a J5 proximity join over (cell, 8 neighbors) is exact."""
    la, lo = _c(lat), _c(lon)
    return F.concat_ws(
        ":",
        F.floor(la / cell_deg).cast("long"),
        F.floor(lo / cell_deg).cast("long"),
    )


def proximity_join(
    left: DataFrame,
    right: DataFrame,
    max_km: float = PROXIMITY_KM,
    cell_deg: float = 0.01,
    coords=("latitude", "longitude"),
) -> DataFrame:
    """J5: blocked range join — equi-join on grid cell (left expanded to
    its 3×3 neighborhood) then exact haversine post-filter. Scales as an
    equi-join (shuffle on cell id) instead of a cross join; cell_deg must
    be ≥ max_km/111 so the neighborhood is a superset of the ball.
    """
    la, lo = coords
    lcells = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(-1), F.lit(1)),
                lambda di: F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda dj: F.concat_ws(
                        ":",
                        (F.floor(F.col(f"l.{la}") / cell_deg) + di).cast("long"),
                        (F.floor(F.col(f"l.{lo}") / cell_deg) + dj).cast("long"),
                    ),
                ),
            )
        )
    )
    l = left.alias("l").withColumn("_cell", lcells)
    r = right.alias("r").withColumn(
        "_cell", geo_cell(F.col(f"r.{la}"), F.col(f"r.{lo}"), cell_deg)
    )
    joined = l.join(r, "_cell").drop("_cell")
    dist = haversine_km(
        F.col(f"l.{la}"), F.col(f"l.{lo}"), F.col(f"r.{la}"), F.col(f"r.{lo}")
    )
    return joined.withColumn("dist_km", dist).filter(F.col("dist_km") <= max_km)
