"""A4/J4: greedy fuzzy cluster-merge — order-sensitive, reproduced exactly.

Reference semantics (enhanced-deduplication.service.js:7-42,100-164,
169-246, restated not copied):

- greedy pass in input order: record i (if unclaimed) becomes a cluster
  base; every later unclaimed j with similarity(base, j) ≥ threshold
  (default 0.85) joins ITS cluster (compared against the base, not the
  running merge);
- similarity = weighted mean over the *present* components:
  address 0.4 (levenshtein ratio over suffix-stripped normalization),
  coords 0.3 (1 if < 0.1 km else max(0, 1 - d/5)),
  name 0.2 (levenshtein ratio, lowercased),
  postcode 0.1 (normalized exact);
- merge: longest value per scalar field; array fields set-union in
  encounter order; sourceUrl = comma-joined set; max qualityScore;
  mergedFrom = cluster size.

Each record's similarity keys (normalized address, lowercased name,
normalized postcode, float coordinates, and which of them are present)
are derived once per record before the greedy pass, not once per pair
test: the pass runs O(n^2) pair tests per block, and the pair test only
compares keys (bracketing the Levenshtein components by length before
running any string DP).

The greedy order dependence means this cannot be a commutative aggregate:
the Spark operator is an ``applyInPandas`` per blocking key that feeds
each block to the *same pure-Python kernel* in an explicit deterministic
order. The kernel doubles as the test oracle.

Blocking and scale: the reference runs this within one crawl batch (one
site's records, crawler.service.js:187) — blocking by ``seed_host``
reproduces that scope exactly while making the pass embarrassingly
parallel across sites. For cross-site entity resolution, block by
(normalized postcode | geo cell) instead; blocks must be closed under the
similarity support, which postcode+cell blocking guarantees for the 0.85
threshold (an ≥0.85 match with weights present requires either postcode
equality or coords within ~0.75 km).
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterable
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCALAR_FIELDS = [
    "locationName", "locationAddress", "latitude", "longitude",
    "countryIso3", "postcode", "state", "streetOrCity",
    "activityAtAsset", "footprint", "height", "usageShare",
]
ARRAY_FIELDS = ["phone", "email", "hours", "fax", "website"]

_SUFFIX_RE = re.compile(r"\b(street|st|avenue|ave|road|rd|boulevard|blvd|drive|dr|lane|ln)\b")


# ------------------------------------------------------- pure-Python core --
def normalize_address(address: str) -> str:
    s = address.lower()
    s = re.sub(r"[^\w\s]", "", s)
    s = re.sub(r"\s+", " ", s)
    s = _SUFFIX_RE.sub("", s)
    return s.strip()


def normalize_postcode(postcode: str) -> str:
    return re.sub(r"[^\w]", "", postcode.upper()).strip()


def string_similarity(a: str, b: str) -> float:
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    la, lb = len(a), len(b)
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return 1.0 - prev[lb] / max(la, lb)


def haversine_km(lat1, lon1, lat2, lon2) -> float:
    r = math.pi / 180
    dlat, dlon = (lat2 - lat1) * r, (lon2 - lon1) * r
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(lat1 * r) * math.cos(lat2 * r) * math.sin(dlon / 2) ** 2
    )
    return 6371.0 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _present(v) -> bool:
    return v is not None and str(v) != "" and not (isinstance(v, float) and math.isnan(v))


def similarity(a: dict, b: dict) -> float:
    score, weight = 0.0, 0.0
    if _present(a.get("locationAddress")) and _present(b.get("locationAddress")):
        s = string_similarity(
            normalize_address(str(a["locationAddress"])),
            normalize_address(str(b["locationAddress"])),
        )
        score += s * 0.4
        weight += 0.4
    if all(_present(x.get(k)) for x in (a, b) for k in ("latitude", "longitude")):
        d = haversine_km(
            float(a["latitude"]), float(a["longitude"]),
            float(b["latitude"]), float(b["longitude"]),
        )
        s = 1.0 if d < 0.1 else max(0.0, 1 - d / 5)
        score += s * 0.3
        weight += 0.3
    if _present(a.get("locationName")) and _present(b.get("locationName")):
        s = string_similarity(str(a["locationName"]).lower(), str(b["locationName"]).lower())
        score += s * 0.2
        weight += 0.2
    if _present(a.get("postcode")) and _present(b.get("postcode")):
        s = 1.0 if normalize_postcode(str(a["postcode"])) == normalize_postcode(str(b["postcode"])) else 0.0
        score += s * 0.1
        weight += 0.1
    return score / weight if weight > 0 else 0.0


def merge_cluster(records: list[dict]) -> dict:
    if len(records) == 1:
        out = dict(records[0])
        out["mergedFrom"] = 1
        return out
    merged = dict(records[0])
    for field in SCALAR_FIELDS:
        values = [r.get(field) for r in records if _present(r.get(field))]
        if values:
            merged[field] = max(values, key=lambda v: len(str(v)))
    for field in ARRAY_FIELDS:
        seen: dict = {}
        for r in records:
            v = r.get(field)
            vals = v if isinstance(v, (list, tuple)) else ([v] if _present(v) else [])
            for x in vals:
                seen.setdefault(x, None)
        if seen:
            merged[field] = list(seen)
    urls: dict = {}
    for r in records:
        if _present(r.get("sourceUrl")):
            urls.setdefault(r["sourceUrl"], None)
    merged["sourceUrl"] = ", ".join(urls)
    scores = [r.get("qualityScore") for r in records if r.get("qualityScore") is not None]
    if scores:
        merged["qualityScore"] = max(scores)
    merged["mergedFrom"] = len(records)
    return merged


class _Keys(NamedTuple):
    """One record's similarity inputs, derived once per record: ``None``
    where ``similarity`` would skip the component for this record."""

    rec: dict
    addr: str | None  # normalized address
    coord: tuple[float, float] | None  # (lat, lon), both present
    name: str | None  # lowercased name
    postcode: str | None  # normalized postcode


def _keys(r: dict) -> _Keys:
    addr, name, pc = r.get("locationAddress"), r.get("locationName"), r.get("postcode")
    lat, lon = r.get("latitude"), r.get("longitude")
    return _Keys(
        r,
        normalize_address(str(addr)) if _present(addr) else None,
        (float(lat), float(lon)) if _present(lat) and _present(lon) else None,
        str(name).lower() if _present(name) else None,
        normalize_postcode(str(pc)) if _present(pc) else None,
    )


def _cap(x: str, y: str) -> float:
    """Optimistic string-similarity bound, never below the true value."""
    lx, ly = len(x), len(y)
    m = max(lx, ly)
    return 1.0 if m == 0 else 1.0 - abs(lx - ly) / m


def _similar(a: _Keys, b: _Keys, threshold: float) -> bool:
    """Decision-identical fast path for ``similarity(a,b) >= threshold``.

    Reads both records' precomputed keys, evaluates the cheap components
    (postcode, coords) first and brackets the two Levenshtein components
    with optimistic bounds (1 - |len diff| / max len ≥ true similarity),
    so most non-matching pairs resolve without any O(n*m) string DP.
    Early True/False only when provable WITH an epsilon margin (the fast
    path accumulates score*weight in a different float order than
    similarity()'s score/weight); anything inside the margin falls back to
    the literal ``similarity(a, b) >= threshold`` comparison, so the
    greedy clustering is bit-identical to the exact kernel even at
    exact-boundary pairs.
    """
    EPS = 1e-9
    has_addr = a.addr is not None and b.addr is not None
    has_coord = a.coord is not None and b.coord is not None
    has_name = a.name is not None and b.name is not None
    has_pc = a.postcode is not None and b.postcode is not None
    w_total = 0.0
    if has_addr:
        w_total += 0.4
    if has_coord:
        w_total += 0.3
    if has_name:
        w_total += 0.2
    if has_pc:
        w_total += 0.1
    if w_total == 0:
        return 0.0 >= threshold
    target = threshold * w_total

    score = 0.0
    # cheap exact components first
    if has_pc and a.postcode == b.postcode:
        score += 0.1
    if has_coord:
        d = haversine_km(*a.coord, *b.coord)
        score += (1.0 if d < 0.1 else max(0.0, 1 - d / 5)) * 0.3

    # optimistic caps for the string components
    rem = 0.0
    if has_addr:
        rem += _cap(a.addr, b.addr) * 0.4
    if has_name:
        rem += _cap(a.name, b.name) * 0.2
    if score >= target + EPS:
        return True
    if score + rem < target - EPS:
        return False
    # undecided: compute the string DPs exactly (address first — heavier
    # weight tightens the bracket faster)
    if has_addr:
        score += string_similarity(a.addr, b.addr) * 0.4
        rem -= _cap(a.addr, b.addr) * 0.4
        if score >= target + EPS:
            return True
        if score + rem < target - EPS:
            return False
    # within the epsilon bracket: decide with the reference formula's own
    # accumulation order (same adds, divide not multiply)
    return similarity(a.rec, b.rec) >= threshold


def fuzzy_cluster_merge(records: Iterable[dict], threshold: float = 0.85) -> list[dict]:
    """The greedy pass (deduplicateWithFuzzy) — also the test oracle."""
    keys = [_keys(r) for r in records]
    merged_out: list[dict] = []
    processed: set[int] = set()
    for i in range(len(keys)):
        if i in processed:
            continue
        base = keys[i]
        cluster = [i]
        for j in range(i + 1, len(keys)):
            if j in processed:
                continue
            if _similar(base, keys[j], threshold):
                cluster.append(j)
                processed.add(j)
        merged_out.append(merge_cluster([keys[k].rec for k in cluster]))
        processed.add(i)
    return merged_out


# ------------------------------------------------------------ Spark side ---
FUZZY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("seed_host", T.StringType(), True),
        T.StructField("locationName", T.StringType(), True),
        T.StructField("locationAddress", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("countryIso3", T.StringType(), True),
        T.StructField("postcode", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("streetOrCity", T.StringType(), True),
        T.StructField("activityAtAsset", T.StringType(), True),
        T.StructField("phone", T.ArrayType(T.StringType()), True),
        T.StructField("email", T.ArrayType(T.StringType()), True),
        T.StructField("sourceUrl", T.StringType(), True),
        T.StructField("qualityScore", T.IntegerType(), True),
        T.StructField("mergedFrom", T.IntegerType(), True),
    ]
)


def fuzzy_dedup(
    df: DataFrame,
    block_col: str = "seed_host",
    order_cols: list[str] | None = None,
    threshold: float = 0.85,
) -> DataFrame:
    """Blocked greedy fuzzy dedup. ``order_cols`` define the deterministic
    in-block feed order (the reference's array order); defaults to
    (sourceUrl, locationName)."""
    order_cols = order_cols or ["sourceUrl", "locationName"]
    out_fields = [f.name for f in FUZZY_OUT_SCHEMA.fields]

    def run_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        recs = pdf.to_dict("records")
        merged = fuzzy_cluster_merge(recs, threshold)
        rows = []
        for m in merged:
            row = {k: m.get(k) for k in out_fields}
            for k in ARRAY_FIELDS:
                if k in row and row[k] is not None and not isinstance(row[k], list):
                    # singleton clusters keep the original scalar; the
                    # output schema is ArrayType → wrap
                    row[k] = [row[k]] if _present(row[k]) else None
            rows.append(row)
        out = pd.DataFrame(rows, columns=out_fields)
        return out

    # keep order_cols in the input even when they aren't part of the output
    # schema (e.g. ordering by extractionMethod): the kernel needs them to
    # reproduce the deterministic feed order, run_block projects them away.
    keep = {*out_fields, *order_cols}
    cols = [c for c in df.columns if c in keep]
    missing = [c for c in order_cols if c not in df.columns]
    if missing:
        raise ValueError(f"order_cols not in input DataFrame: {missing}")
    # an explicit partition count, which AQE never coalesces: the blocks
    # spread over every core instead of merging in one task
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(*cols)
        .repartition(parallelism, block_col)
        .groupBy(block_col)
        .applyInPandas(
            lambda _key, pdf: run_block(pdf), FUZZY_OUT_SCHEMA
        )
    )
