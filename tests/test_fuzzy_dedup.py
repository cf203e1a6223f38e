"""A4 greedy fuzzy cluster-merge: Spark blocked operator must be
bit-identical to the pure-Python kernel (which restates the reference's
greedy order), including merge field selection."""

from __future__ import annotations

import math

from web_crawler_spark.operators import fuzzy as FZ


def _rec(host, name, addr, lat, lon, pc, url, phone=None, q=None):
    return {
        "seed_host": host, "locationName": name, "locationAddress": addr,
        "latitude": lat, "longitude": lon, "countryIso3": "USA",
        "postcode": pc, "state": None, "streetOrCity": None,
        "activityAtAsset": None, "phone": phone, "email": None,
        "sourceUrl": url, "qualityScore": q,
    }


def _fixture():
    rows = []
    # host A: base + near-dup (typo'd name, same coords/postcode) + distinct
    rows.append(_rec("a.com", "Springfield Office", "12 Main Street", 40.0, -75.0,
                     "19001", "https://a.com/contact", phone="+1 555-0100", q=80))
    rows.append(_rec("a.com", "Springfeld Office", "12 Main St.", 40.0001, -75.0001,
                     "19001", "https://a.com/locations", phone="+1 555-0199", q=90))
    rows.append(_rec("a.com", "Riverton Warehouse", "99 Dock Road", 41.5, -74.0,
                     "19977", "https://a.com/about", q=70))
    # host B: chain — b similar to a, c similar to a but not to b
    rows.append(_rec("b.com", "Lakewood Store", "5 Oak Avenue", 30.0, -90.0,
                     "70001", "https://b.com/1", q=50))
    rows.append(_rec("b.com", "Lakewood Store No2", "5 Oak Ave", 30.0002, -90.0002,
                     "70001", "https://b.com/2", q=60))
    rows.append(_rec("b.com", "Dover Cafe", "7 High Street", 10.0, 10.0,
                     "11111", "https://b.com/3", q=40))
    return rows


def test_python_kernel_greedy_semantics():
    rows = [r for r in _fixture() if r["seed_host"] == "a.com"]
    merged = FZ.fuzzy_cluster_merge(rows, 0.85)
    assert len(merged) == 2
    m = merged[0]
    assert m["mergedFrom"] == 2
    # longest-wins per field
    assert m["locationName"] == "Springfield Office"  # longer than typo? equal len → first in values order
    assert m["locationAddress"] == "12 Main Street"
    assert m["sourceUrl"] == "https://a.com/contact, https://a.com/locations"
    assert m["qualityScore"] == 90
    assert m["phone"] == ["+1 555-0100", "+1 555-0199"]


def test_similarity_components():
    a, b = _fixture()[0], _fixture()[1]
    s = FZ.similarity(a, b)
    assert s >= 0.85
    c = _fixture()[2]
    assert FZ.similarity(a, c) < 0.5
    # weight renormalization when components missing
    a2 = dict(a, latitude=None, longitude=None)
    b2 = dict(b, latitude=None, longitude=None)
    assert 0 < FZ.similarity(a2, b2) <= 1


def test_spark_matches_python_kernel(spark):
    rows = _fixture()
    df = spark.createDataFrame(
        [
            tuple(
                r[k] for k in [
                    "seed_host", "locationName", "locationAddress", "latitude",
                    "longitude", "countryIso3", "postcode", "state",
                    "streetOrCity", "activityAtAsset", "phone", "email",
                    "sourceUrl", "qualityScore",
                ]
            )
            for r in rows
        ],
        "seed_host string, locationName string, locationAddress string, "
        "latitude double, longitude double, countryIso3 string, postcode string, "
        "state string, streetOrCity string, activityAtAsset string, phone string, "
        "email string, sourceUrl string, qualityScore int",
    )
    got = FZ.fuzzy_dedup(df, "seed_host", order_cols=["sourceUrl"]).collect()
    by_host: dict[str, list] = {}
    for r in got:
        by_host.setdefault(r["seed_host"], []).append(r)

    for host in ("a.com", "b.com"):
        want = FZ.fuzzy_cluster_merge(
            sorted(
                (r for r in rows if r["seed_host"] == host),
                key=lambda r: r["sourceUrl"],
            ),
            0.85,
        )
        got_h = sorted(by_host[host], key=lambda r: r["sourceUrl"])
        want_h = sorted(want, key=lambda r: r["sourceUrl"])
        assert len(got_h) == len(want_h), host
        for g, w in zip(got_h, want_h):
            assert g["locationName"] == w["locationName"]
            assert g["sourceUrl"] == w["sourceUrl"]
            assert g["mergedFrom"] == w["mergedFrom"]
            assert g["qualityScore"] == w["qualityScore"]
            wp = w.get("phone")
            wp = wp if isinstance(wp, list) or wp is None else [wp]
            assert g["phone"] == wp


def test_haversine_against_known_value():
    # NYC → Philadelphia ≈ 129.6 km
    d = FZ.haversine_km(40.7128, -74.0060, 39.9526, -75.1652)
    assert math.isclose(d, 129.6, abs_tol=1.5)


def test_footprint_wkt_prints_six_fixed_decimals(spark):
    # X13: every coordinate prints with exactly six decimals — also within
    # 0.0001 of zero, where a shortest-form double prints as -5.0E-5
    from web_crawler_spark.functions.geo import footprint_wkt

    df = spark.createDataFrame([(0.0, 0.00005), (12.5, -80.25)], "lat double, lon double")
    got = [r[0] for r in df.select(footprint_wkt("lat", "lon")).collect()]
    assert got == [
        "MULTIPOLYGON(((-0.000050 -0.000100,0.000150 -0.000100,0.000150 0.000100,"
        "-0.000050 0.000100,-0.000050 -0.000100)))",
        "MULTIPOLYGON(((-80.250100 12.499900,-80.249900 12.499900,-80.249900 12.500100,"
        "-80.250100 12.500100,-80.250100 12.499900)))",
    ]


# ---------------------------------------------------------------------------
# Independent naive checker: a second, from-scratch restatement of the
# reference greedy dedup (enhanced-deduplication.service.js:7-42,100-164,
# 169-246) sharing NO code with web_crawler_spark.operators.fuzzy — full
# O(n^2) pair scan, full-matrix levenshtein, no fast paths. It lives in
# tools/naive_fuzzy.py so tools/pin_oracles.py can generate the
# fuzzy_dedup_greedy / records_pipeline_e2e golden pins from it (the pins
# are then a genuine cross-implementation oracle, not the engine grading
# its own homework). The production kernel doubles as the pytest oracle
# elsewhere; this checker is the genuine cross-implementation control.
# ---------------------------------------------------------------------------
from tools.naive_fuzzy import (  # noqa: E402
    naive_blocked_dedup,
    naive_greedy_clusters as _naive_greedy_clusters,
    naive_merge_cluster,
    naive_similarity as _naive_similarity,
)


def _kernel_clusters(rows, threshold=0.85):
    """Recover cluster membership from the production kernel by tagging
    each row with a unique marker riding an unused field."""
    tagged = []
    for i, r in enumerate(rows):
        t = dict(r)
        t["sourceUrl"] = f"tag://{i}"
        tagged.append(t)
    merged = FZ.fuzzy_cluster_merge(tagged, threshold)
    out = []
    for m in merged:
        out.append([int(u.split("//")[1]) for u in m["sourceUrl"].split(", ")])
    return out


def test_naive_checker_agrees_on_fixture():
    rows = _fixture()
    assert _kernel_clusters(rows) == _naive_greedy_clusters(rows)


def test_naive_merge_agrees_on_fixture():
    # full-row agreement, not just membership: the naive merge policy
    # (longest-wins scalars, ordered-set arrays, joined sourceUrl, max
    # quality) must reproduce the production kernel bit-for-bit
    for host in ("a.com", "b.com"):
        rows = sorted(
            (r for r in _fixture() if r["seed_host"] == host),
            key=lambda r: r["sourceUrl"],
        )
        want = FZ.fuzzy_cluster_merge(rows, 0.85)
        got = [
            naive_merge_cluster([rows[k] for k in members])
            for members in _naive_greedy_clusters(rows)
        ]
        assert got == want, host


def _random_rows(seed: int):
    import random

    streets = ["Main Street", "Oak Avenue", "High Road", "Dock Lane"]
    rng = random.Random(seed)
    rows = []
    for k in range(24):
        base_lat = 40.0 + rng.randrange(4)
        base_lon = -75.0 + rng.randrange(4)
        name = f"{rng.choice(['Acme','Apex','Ajax'])} Office {rng.randrange(6)}"
        addr = f"{rng.randrange(1, 99)} {rng.choice(streets)}"
        r = _rec(
            "h.com",
            name if rng.random() < 0.8 else name[:-1],
            addr,
            round(base_lat + rng.random() * 2e-4, 6),
            round(base_lon + rng.random() * 2e-4, 6),
            str(19000 + rng.randrange(3)),
            f"https://h.com/{seed}/{k}",
            q=rng.randrange(100),
        )
        if rng.random() < 0.15:
            r["locationAddress"] = None
        if rng.random() < 0.15:
            r["latitude"] = r["longitude"] = None
        rows.append(r)
    return rows


def test_naive_checker_agrees_on_randomized_sets():
    for seed in range(12):
        rows = _random_rows(seed)
        assert _kernel_clusters(rows) == _naive_greedy_clusters(rows), seed


def _pandas_shaped_rows(seed: int):
    """Rows the way ``fuzzy_dedup`` feeds them to the kernel: through
    ``pd.DataFrame(...).to_dict("records")``, so a missing double is NaN,
    not None. The sets plant NaN coordinates, rows with only one of
    latitude and longitude, ``""`` names, addresses and postcodes, and
    pairs that sit exactly on the 0.85 threshold: a 20-character name
    three edits from its twin (name the only shared component), and a
    16-character address three edits away with the same postcode."""
    import random

    import pandas as pd

    rng = random.Random(1000 + seed)
    rows = _random_rows(seed)[:14]
    for r in rows:
        roll = rng.random()
        if roll < 0.2:
            r["latitude"] = r["longitude"] = float("nan")
        elif roll < 0.3:
            r["latitude"] = None
        elif roll < 0.4:
            r["longitude"] = float("nan")
        for k in ("locationName", "locationAddress", "postcode"):
            if rng.random() < 0.15:
                r[k] = ""
    name = "Abcdefghij Klmnopqrs"  # 20 chars; 3 edits -> ratio 0.85
    addr = "Abcdefgh Ijklmno"  # 16 chars; 3 edits -> 0.8125, +postcode -> 0.85
    for k in range(3):
        rows.append(_rec("h.com", name, "", None, None, "",
                         f"https://h.com/{seed}/n{k}", q=k))
        rows.append(_rec("h.com", name[:-3] + "xyz", None, float("nan"), None, None,
                         f"https://h.com/{seed}/n{k}x", q=k))
        rows.append(_rec("h.com", "", addr, None, float("nan"), "19 001",
                         f"https://h.com/{seed}/a{k}", q=k))
        rows.append(_rec("h.com", None, addr[:-3] + "xyz", float("nan"), float("nan"),
                         "19001", f"https://h.com/{seed}/a{k}x", q=k))
    rng.shuffle(rows)
    return pd.DataFrame(rows).to_dict("records")


def test_naive_checker_agrees_on_pandas_shaped_rows():
    boundary = 0
    for seed in range(12):
        rows = _pandas_shaped_rows(seed)
        assert any(isinstance(r["latitude"], float) and math.isnan(r["latitude"])
                   for r in rows)
        boundary += sum(
            1 for a in rows for b in rows
            if a is not b and abs(_naive_similarity(a, b) - 0.85) < 1e-9
        )
        assert _kernel_clusters(rows) == _naive_greedy_clusters(rows), seed
        want = FZ.fuzzy_cluster_merge(rows, 0.85)
        got = [naive_merge_cluster([rows[k] for k in members])
               for members in _naive_greedy_clusters(rows)]
        assert repr(got) == repr(want), seed
    assert boundary > 0


def test_naive_blocked_dedup_matches_production_merge():
    # end-to-end: blocked + ordered + merged rows agree with the
    # production pure-Python kernel on randomized inputs
    for seed in range(6):
        rows = _random_rows(seed)
        got = naive_blocked_dedup(rows, order_cols=["sourceUrl"])
        want = FZ.fuzzy_cluster_merge(
            sorted(rows, key=lambda r: r["sourceUrl"]), 0.85
        )
        assert got == want, seed


def test_records_pipeline_is_partition_independent(spark):
    """records_pipeline gives the same records at any shuffle partition
    count: the fuzzy merge's blocks spread over the cores, each still fed
    in its deterministic order."""
    from web_crawler_spark.analytics.queries import _e2e_pages
    from web_crawler_spark.plans.enrich import records_pipeline

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            rows = records_pipeline(_e2e_pages(spark)).collect()
            got.append(sorted(repr(r) for r in rows))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got[0] == got[1]
    assert len(got[0]) > 0
