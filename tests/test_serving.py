"""S11 JSON envelope, S12 result cache."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark import serving as SV


def test_json_response_envelope(spark):
    df = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0)], "locationName string, latitude double"
    )
    resp = SV.json_response(df, ["https://a.com"], mode="single")
    assert resp["success"] is True
    assert resp["totalRecords"] == 2
    assert {r["locationName"] for r in resp["data"]} == {"A", "B"}
    assert resp["jobId"].startswith("job_") and resp["cached"] is False
    # deterministic id: same urls + run_ts -> same jobId
    resp2 = SV.json_response(df, ["https://a.com"], mode="single")
    assert resp2["jobId"] == resp["jobId"]


def test_result_cache_roundtrip(spark, tmp_path):
    cache = SV.ResultCache(str(tmp_path))
    urls = ["https://a.com", "https://b.com"]
    assert cache.get(spark, urls, "single") is None
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    cache.put(df, urls, "single")
    got = cache.get(spark, urls, "single")
    assert got is not None and got.collect() == df.collect()
    # different mode -> different key -> miss
    assert cache.get(spark, urls, "deep") is None
    # site-wide crawls bypass the cache entirely
    cache.put(df, urls, "site")
    assert cache.get(spark, urls, "site") is None
