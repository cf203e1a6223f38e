"""The analytics/query surface: filter → sort → paginate → export.

Re-expresses the reference UI's data grid pipeline
(web-crawler-ui/src/components/CustomDataGrid.jsx): conjunctive
case-insensitive contains-filters (:44-52, F11), quality-range filter
(AdvancedFilter.jsx:37-44, F12), single-key sort with nulls last (:55-69,
W7), pagination (:72-77, W8) — as one declarative DataFrame chain that
Catalyst folds into a single scan with pushed filters. CSV export of the
filtered+sorted view (:168-190, S9) is ``sources/bulk.py:export_csv``.

Pagination note: ``paginate`` uses a global sort + offset/limit, which
is the correct semantics for a UI page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contains_filter(df: DataFrame, filters: dict[str, str]) -> DataFrame:
    """F11: per-column case-insensitive substring, AND-folded."""
    for col, needle in filters.items():
        if needle:
            df = df.filter(F.lower(F.col(col).cast("string")).contains(needle.lower()))
    return df


def range_filter(df: DataFrame, col: str, spec: str) -> DataFrame:
    """F12: '90-100'-style inclusive range."""
    lo, hi = (float(x) for x in spec.split("-", 1))
    return df.filter(F.col(col).between(lo, hi))


def sort_view(df: DataFrame, key: str, ascending: bool = True) -> DataFrame:
    """W7: single-key sort, nulls last either direction."""
    c = F.col(key)
    return df.orderBy(c.asc_nulls_last() if ascending else c.desc_nulls_last())


def paginate(df: DataFrame, page: int, size: int = 20) -> DataFrame:
    """W8: 1-based page slice of an already-sorted view."""
    return df.offset((page - 1) * size).limit(size)


def autocomplete(df: DataFrame, col: str, value: str, limit: int = 10) -> DataFrame:
    """Autocomplete suggestions (useAutocomplete.js:11-15): distinct values
    of ``col`` whose lowercase form contains lowercase(value); blank or
    whitespace-only input yields no suggestions (the hook's
    ``value.trim().length > 0`` gate). The reference filters a driver-side
    options array in its original order; the distributed restatement
    returns sorted distinct values (deterministic at any scale) capped at
    ``limit`` — the UI shows a bounded dropdown, so the cap is a top-N,
    not a truncation of semantics."""
    if not value or not value.strip():
        return df.select(F.col(col).cast("string").alias("suggestion")).limit(0)
    return (
        df.select(F.col(col).cast("string").alias("suggestion"))
        .where(F.lower(F.col("suggestion")).contains(value.lower()))
        .distinct()
        .orderBy("suggestion")
        .limit(limit)
    )
