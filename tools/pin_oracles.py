"""Generate pinned VALUES-literal DuckDB oracles for the registry queries
whose semantics are not directly SQL-expressible (greedy/iterative/
media-synthesis operators).

Provenance, per query (recorded in the generated module docstring):

- ``crawl_bfs_frontier`` — generated from the INDEPENDENT single-threaded
  Python oracle (web_crawler_spark/oracle.py, a from-scratch restatement of
  site-crawler.service.js:129-196 that shares no code with the Spark wave
  loop). This is a genuine cross-implementation oracle.
- ``fuzzy_dedup_greedy`` — generated from the INDEPENDENT naive O(n^2)
  checker (tools/naive_fuzzy.py, a from-scratch second restatement of
  enhanced-deduplication.service.js sharing no code with
  operators/fuzzy.py). Only the input-record synthesis
  (queries._fuzzy_greedy_input, plain deterministic column algebra) runs
  through Spark; the dedup semantics under test are the naive checker's.
- ``records_pipeline_e2e`` — per-stage composition: extraction + geocode
  + canonical projection reuse the engine stages that other green queries
  independently oracle (extract_kernels, geocode_cascade,
  quality_score_records), the fuzzy stage runs the naive checker, and the
  quality envelope + image/caption payload election are restated in pure
  Python here. A shared-kernel bug in the fuzzy merge or the pipeline
  glue now diverges the pin.
- ``crawl_progress``, ``image_phash_dedup``, ``image_features``,
  ``audio_features`` — golden pins of the engine's own deterministic
  output at sf0.01 (the driver's correctness scale). These catch
  plumbing/order/regression drift, not independent-semantics bugs;
  kernel-level independence is covered by the pytest oracles
  (tests/test_images.py PSNR/Hamming invariants,
  tests/test_crawl_identity.py).

Usage: python tools/pin_oracles.py   (rewrites analytics/golden.py)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
PINNED = [
    "crawl_progress",
    "image_phash_dedup",
]

# quality envelope restated for the records_pipeline_e2e composition
# (functions/records.py semantics; weights from crawler.service.js)
QUALITY_WEIGHTS = {
    "locationName": 20, "locationAddress": 25, "latitude": 15,
    "longitude": 15, "countryIso3": 10, "postcode": 5, "state": 5,
    "streetOrCity": 5,
}


def _present(v) -> bool:
    return v is not None and str(v) != "" and v == v


def _quality(m: dict) -> tuple[int, str]:
    score = sum(w for f, w in QUALITY_WEIGHTS.items() if _present(m.get(f)))
    score = max(0, min(100, score))
    level = ("Excellent" if score >= 90 else "Good" if score >= 70
             else "Fair" if score >= 50 else "Poor")
    return score, level


def fuzzy_greedy_rows(spark) -> tuple[list[str], list[tuple]]:
    """fuzzy_dedup_greedy pin from the naive checker: Spark synthesizes the
    input records, tools/naive_fuzzy.py dedups them."""
    from tools.naive_fuzzy import naive_blocked_dedup
    from web_crawler_spark.analytics import queries as Q

    recs = [r.asDict() for r in Q._fuzzy_greedy_input(spark, SF_DIR).collect()]
    merged = naive_blocked_dedup(recs, order_cols=["sourceUrl"])
    rows = sorted(
        (
            (m["seed_host"], m["locationName"], m["sourceUrl"],
             m["mergedFrom"], m["qualityScore"])
            for m in merged
        ),
    )
    return ["seed_host", "locationName", "sourceUrl", "mergedFrom",
            "qualityScore"], rows


def records_e2e_rows(spark) -> tuple[list[str], list[tuple]]:
    """records_pipeline_e2e pin: per-stage composition with the fuzzy
    stage swapped for the naive checker and envelope + payload election
    restated in Python. Final lat/lon rounding runs through Spark's
    F.round so the pinned doubles carry the identical HALF_UP results."""
    from pyspark.sql import functions as F

    from tools.naive_fuzzy import naive_blocked_dedup
    from web_crawler_spark.analytics import queries as Q
    from web_crawler_spark.operators import extract as EX
    from web_crawler_spark.plans.enrich import geocode_enrich, to_canonical_records
    from web_crawler_spark.session import local_df

    pages = Q._e2e_pages(spark)
    canon = to_canonical_records(geocode_enrich(EX.extract_all(pages)))
    keep = [
        "seed_host", "locationName", "locationAddress", "latitude",
        "longitude", "countryIso3", "postcode", "state", "streetOrCity",
        "activityAtAsset", "phone", "email", "sourceUrl", "qualityScore",
        "extractionMethod",
    ]
    recs = [r.asDict() for r in canon.select(*keep).collect()]
    merged = naive_blocked_dedup(
        recs, order_cols=["sourceUrl", "locationName", "extractionMethod"]
    )
    imgs = [r.asDict() for r in EX.extract_images(pages).collect()]
    out = []
    for m in merged:
        score, level = _quality(m)
        urls = set((m.get("sourceUrl") or "").split(", "))
        name = m.get("locationName")
        cands = [
            (i["image_id"], i["caption"])
            for i in imgs
            if i["sourceUrl"] in urls and name is not None
            and i["caption"].startswith(name + " — ")
        ]
        image_id, caption = min(cands) if cands else (None, None)
        out.append(
            (m["seed_host"], name, m.get("locationAddress"),
             m.get("latitude"), m.get("longitude"), m.get("countryIso3"),
             m.get("postcode"), score, level, m["mergedFrom"],
             image_id, caption)
        )
    cols = ["seed_host", "locationName", "locationAddress", "latitude",
            "longitude", "countryIso3", "postcode", "qualityScore",
            "qualityLevel", "mergedFrom", "image_id", "caption"]
    df = local_df(
        spark, out,
        "seed_host string, locationName string, locationAddress string, "
        "latitude double, longitude double, countryIso3 string, "
        "postcode string, qualityScore int, qualityLevel string, "
        "mergedFrom int, image_id string, caption string",
    ).select(
        "seed_host", "locationName", "locationAddress",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        "countryIso3", "postcode", "qualityScore", "qualityLevel",
        "mergedFrom", "image_id", "caption",
    )
    return cols, [tuple(r) for r in df.collect()]


def sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr round-trips doubles exactly; ::DOUBLE stops DuckDB from
        # inferring DECIMAL (whose str() renders trailing zeros)
        return f"{repr(v)}::DOUBLE"
    if isinstance(v, int):
        return str(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_oracle(cols: list[str], rows: list[tuple]) -> str:
    body = ",\n".join("(" + ", ".join(sql_lit(v) for v in r) + ")" for r in rows)
    collist = ", ".join(cols)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({collist})"


def crawl_oracle_rows() -> tuple[list[str], list[tuple]]:
    """Rows for crawl_bfs_frontier from the independent Python oracle —
    same fixture as the query (n_hosts=3, pages_per_host=25, seed=42,
    max_pages=12, max_depth=3)."""
    from web_crawler_spark.oracle import crawl_all
    from web_crawler_spark.synthetic.web import SyntheticWeb

    web = SyntheticWeb(n_hosts=3, pages_per_host=25, seed=42)
    want = crawl_all(web, max_pages=12, max_depth=3)
    rows = []
    for seed, res in want.items():
        seed_host = seed.split("//", 1)[1].split("/", 1)[0]
        enq = {u: i for i, u in enumerate(res.discovered)}
        for url in res.visit_order:
            rows.append(
                (seed_host, url, res.visit_depth[url], enq[url], "visited")
            )
    return ["seed_host", "url", "depth", "visit_seq", "status"], rows


def main() -> None:
    from web_crawler_spark.analytics import queries as Q
    from web_crawler_spark.session import get_spark

    oracles: dict[str, str] = {}

    cols, rows = crawl_oracle_rows()
    oracles["crawl_bfs_frontier"] = values_oracle(cols, rows)
    print(f"crawl_bfs_frontier: {len(rows)} rows (from Python oracle)")

    spark = get_spark(
        "pin_oracles", cores=8, shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    cols, rows = fuzzy_greedy_rows(spark)
    oracles["fuzzy_dedup_greedy"] = values_oracle(cols, rows)
    print(f"fuzzy_dedup_greedy: {len(rows)} rows (from naive checker)")

    cols, rows = records_e2e_rows(spark)
    oracles["records_pipeline_e2e"] = values_oracle(cols, rows)
    print(f"records_pipeline_e2e: {len(rows)} rows (naive-fuzzy composition)")

    qs = Q.queries()
    for name in PINNED:
        df = qs[name](spark, SF_DIR)
        rows = [tuple(r) for r in df.collect()]
        oracles[name] = values_oracle(df.columns, rows)
        print(f"{name}: {len(rows)} rows (golden pin)")

    # audio_features retired as a standalone registry query (consolidated
    # into media_features); its golden pin stays the source literal the
    # merged oracle wraps, so keep regenerating it from the helper.
    df = Q._audio_features_rows(spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    oracles["audio_features"] = values_oracle(df.columns, rows)
    print(f"audio_features: {len(rows)} rows (golden pin, media_features source)")

    # image_features was likewise consolidated into a tagged union whose
    # curation arm is closed-form SQL; only the decode-stats arm needs a
    # pin, regenerated from its helper under a non-query key so the
    # composite oracle in queries.py stays authoritative.
    df = Q._image_feature_agg_rows(spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    oracles["image_features_agg"] = values_oracle(df.columns, rows)
    print(f"image_features_agg: {len(rows)} rows (golden pin, image_features source)")

    # per-row emission-invariant arm (north rule: decoded-pixel PSNR >= 40 dB
    # + caption equality), aggregated per format over the SF-independent
    # synthesized fixture — pinned under a non-query key like the above.
    df = Q._image_psnr_agg_rows(spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    oracles["image_psnr_agg"] = values_oracle(df.columns, rows)
    print(f"image_psnr_agg: {len(rows)} rows (golden pin, image_features source)")

    # Hasler–Süsstrunk colorfulness arm, aggregated per format over the
    # same SF-independent fixture — pinned under a non-query key.
    df = Q._image_color_agg_rows(spark, SF_DIR)
    rows = [tuple(r) for r in df.collect()]
    oracles["image_color_agg"] = values_oracle(df.columns, rows)
    print(f"image_color_agg: {len(rows)} rows (golden pin, image_features source)")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "web_crawler_spark", "analytics", "golden.py",
    )
    with open(out, "w") as f:
        f.write(
            '"""Pinned VALUES-literal DuckDB oracles (generated by '
            "tools/pin_oracles.py\n"
            "— regenerate there; do not hand-edit).\n\n"
            "Provenance: ``crawl_bfs_frontier`` is generated from the\n"
            "independent single-threaded Python oracle\n"
            "(web_crawler_spark/oracle.py); ``fuzzy_dedup_greedy`` and\n"
            "``records_pipeline_e2e`` are generated from the INDEPENDENT\n"
            "naive O(n^2) greedy checker (tools/naive_fuzzy.py — a second\n"
            "from-scratch restatement of the reference dedup sharing no\n"
            "code with operators/fuzzy.py), so they are genuine\n"
            "cross-implementation oracles; the rest are golden pins of the\n"
            "engine's deterministic output at sf0.01 (the driver's\n"
            "correctness scale) — those catch plumbing/order regressions;\n"
            "their kernel independence is covered by the pytest oracles.\n"
            '"""\n\n'
        )
        f.write("GOLDEN_ORACLES = {\n")
        for name, sql in oracles.items():
            f.write(f"    {name!r}: '''{sql}''',\n")
        f.write("}\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
