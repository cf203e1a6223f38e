"""Partitioned Bloom and cuckoo filters: no false negatives, bounded false
positives, deletion."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.operators import seen_filter as SF


def _urls(spark, start, n, tag="a"):
    return spark.range(start, start + n).select(
        F.format_string(f"https://h%03d.example.com/{tag}/p%d", (F.col("id") % 50).cast("int"), F.col("id")).alias("url")
    )


def test_no_false_negatives_and_low_fpr(spark):
    members = _urls(spark, 0, 5000).cache()
    bloom = SF.build_bloom(members).cache()

    flagged = SF.prune(members, bloom)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # never lose a URL

    outsiders = _urls(spark, 1_000_000, 5000, tag="zz")
    fp = SF.prune(outsiders, bloom).filter(F.col("maybe_seen")).count()
    assert fp / 5000 < 0.02, f"false-positive rate too high: {fp}/5000"


# ------------------------------------------------ S4 robots.txt parsing ----
def test_parse_robots_txt_star_group_and_sitemaps(spark):
    from web_crawler_spark.operators import frontier as FR

    txt = ("# cached fixture\n"
           "User-agent: googlebot\nDisallow: /private\n"
           "Sitemap: https://h.example.com/sm/root.xml\n\n"
           "User-agent: bingbot\nUser-agent: *\n"
           "Crawl-delay: 2\nDisallow: /tmp7\nDisallow:\nAllow: /tmp7/ok\n\n"
           "User-agent: other\nDisallow: /x\n"
           "Sitemap: https://h.example.com/sm/extra.xml\n")
    df = spark.createDataFrame(
        [("h.example.com", txt), ("empty.example.com", None),
         # a second * group later in the file still contributes
         ("two.example.com",
          "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b\n"
          "Crawl-delay: 0.5\n")],
        "host string, robots_txt string",
    )
    got = {r["host"]: r for r in FR.parse_robots_txt(df).collect()}
    h = got["h.example.com"]
    # sitemaps are global; disallows/allows/delay come from the shared
    # bingbot+* header group; empty Disallow is dropped
    assert h["sitemaps"] == ["https://h.example.com/sm/root.xml",
                             "https://h.example.com/sm/extra.xml"]
    assert h["disallow_prefixes"] == ["/tmp7"]
    assert h["allow_prefixes"] == ["/tmp7/ok"]
    assert h["crawl_delay_s"] == 2.0
    e = got["empty.example.com"]
    assert (e["sitemaps"], e["disallow_prefixes"], e["crawl_delay_s"]) == ([], [], 0.0)
    assert e["allow_prefixes"] == []
    t = got["two.example.com"]
    assert t["disallow_prefixes"] == ["/a", "/b"]
    assert t["crawl_delay_s"] == 0.5


def test_parse_robots_txt_feeds_robots_gate(spark):
    """End-to-end: raw text -> parse -> the existing prefix gate."""
    from web_crawler_spark.operators import frontier as FR

    parsed = FR.parse_robots_txt(spark.createDataFrame(
        [("a.example.com", "User-agent: *\nDisallow: /blocked\n")],
        "host string, robots_txt string",
    )).withColumn("fetch_ok", F.lit(True))
    frontier = spark.createDataFrame(
        [("https://a.example.com/blocked/x", "a.example.com"),
         ("https://a.example.com/open/y", "a.example.com")],
        "url string, seed_host string",
    )
    allowed, blocked = FR.robots_gate(frontier, parsed)
    assert [r["url"] for r in allowed.collect()] == ["https://a.example.com/open/y"]
    assert [r["url"] for r in blocked.collect()] == ["https://a.example.com/blocked/x"]


def test_robots_decision_rfc9309_longest_match(spark):
    """operators/frontier.py:robots_decision — RFC 9309 §2.2.2: longest
    (most-octets) matching rule wins, equal-length ties go to Allow,
    no match means allowed; '*' wildcards and the trailing '$' anchor
    are the protocol's two metacharacters."""
    from web_crawler_spark.operators import frontier as FR

    cases = [
        # (path, allows, disallows, allowed, winning_rule)
        ("/page", ["/p"], ["/"], True, "/p"),
        ("/folder/page", ["/folder"], ["/folder"], True, "/folder"),
        ("/page", ["/$"], ["/"], False, "/"),
        ("/", ["/$"], ["/"], True, "/$"),
        ("/pub/doc.pdf", ["/pub"], ["/*.pdf$"], False, "/*.pdf$"),
        ("/pub/doc.pdfx", ["/pub"], ["/*.pdf$"], True, "/pub"),
        ("/free", [], ["/tmp"], True, None),
        ("/a.b/c", [], ["/a.b"], False, "/a.b"),   # '.' is a literal octet
        ("/axb/c", [], ["/a.b"], True, None),
    ]
    df = spark.createDataFrame(
        [(i, p, a, d) for i, (p, a, d, _, _) in enumerate(cases)],
        "i long, p string, a array<string>, d array<string>",
    )
    got = {
        r["i"]: r["g"]
        for r in df.select(
            "i", FR.robots_decision("p", "a", "d").alias("g")
        ).collect()
    }
    for i, (path, _a, _d, want_allowed, want_rule) in enumerate(cases):
        g = got[i]
        assert g["allowed"] == want_allowed, (path, dict(g.asDict()))
        assert g["rule"] == want_rule, (path, dict(g.asDict()))
        assert g["specificity"] == (len(want_rule) if want_rule else 0)
    # pure column algebra: no Python evaluation in the plan
    plan = df.select(
        FR.robots_decision("p", "a", "d").alias("g")
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_robots_gate_rfc9309_mode_and_prefix_default(spark):
    """mode='rfc9309' lets a longer Allow override a Disallow prefix the
    default gate would block on; the default stays the reference's
    prefix semantics (pinned crawl ordering depends on it)."""
    import pytest as _pytest

    from web_crawler_spark.operators import frontier as FR

    parsed = FR.parse_robots_txt(spark.createDataFrame(
        [("a.example.com",
          "User-agent: *\nDisallow: /blocked\nAllow: /blocked/except\n")],
        "host string, robots_txt string",
    )).withColumn("fetch_ok", F.lit(True))
    frontier = spark.createDataFrame(
        [("https://a.example.com/blocked/x", "a.example.com"),
         ("https://a.example.com/blocked/except/y", "a.example.com"),
         ("https://a.example.com/open", "a.example.com")],
        "url string, seed_host string",
    )
    allowed, blocked = FR.robots_gate(frontier, parsed, mode="rfc9309")
    assert sorted(r["url"] for r in allowed.collect()) == [
        "https://a.example.com/blocked/except/y",
        "https://a.example.com/open",
    ]
    assert [r["url"] for r in blocked.collect()] == [
        "https://a.example.com/blocked/x"
    ]
    # prefix default blocks BOTH /blocked paths (Allow ignored)
    allowed_p, blocked_p = FR.robots_gate(frontier, parsed)
    assert [r["url"] for r in allowed_p.collect()] == [
        "https://a.example.com/open"
    ]
    assert sorted(r["url"] for r in blocked_p.collect()) == [
        "https://a.example.com/blocked/except/y",
        "https://a.example.com/blocked/x",
    ]
    with _pytest.raises(ValueError):
        FR.robots_gate(frontier, parsed, mode="google")


# ------------------------------------------------------- cuckoo filter ----
def test_cuckoo_no_false_negatives_and_low_fpr(spark):
    members = _urls(spark, 0, 5000).cache()
    ck = SF.build_cuckoo(members).cache()

    flagged = SF.prune_cuckoo(members, ck)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0

    outsiders = _urls(spark, 1_000_000, 5000, tag="zz")
    fp = SF.prune_cuckoo(outsiders, ck).filter(F.col("maybe_seen")).count()
    # 16-bit fingerprints, 2 cells x 4 slots: FPR ~ 8/65535 ~ 0.012%
    assert fp / 5000 < 0.005, f"false-positive rate too high: {fp}/5000"


def test_cuckoo_delete_forgets_only_the_deleted(spark):
    members = _urls(spark, 0, 2000).cache()
    ck = SF.build_cuckoo(members)
    gone = _urls(spark, 0, 500)     # first 500 expire (TTL / re-crawl)
    kept = _urls(spark, 500, 1500)
    after = SF.delete_from_cuckoo(ck, gone).cache()
    assert SF.prune_cuckoo(gone, after).filter(F.col("maybe_seen")).count() == 0
    assert SF.prune_cuckoo(kept, after).filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_build_deterministic_across_input_order(spark):
    fwd = _urls(spark, 0, 3000)
    rev = fwd.orderBy(F.col("url").desc())
    t1 = {r["bucket"]: bytes(r["table"]) for r in SF.build_cuckoo(fwd).collect()}
    t2 = {r["bucket"]: bytes(r["table"]) for r in SF.build_cuckoo(rev).collect()}
    assert t1 == t2


def test_cuckoo_kicking_converges_at_high_load():
    # driver-side unit test of the bulk inserter at 0.8 load in ONE cell
    # page: forces real kicking rounds rather than first-try placement
    import numpy as np

    from web_crawler_spark.operators.seen_filter import (
        _ck_build_table, _ck_dedup, _ck_entries,
    )

    rng_h1 = np.arange(1, 6554, dtype=np.int64) * np.int64(2654435761)
    rng_h2 = np.arange(1, 6554, dtype=np.int64) * np.int64(40503)
    n_cells, n_slots = 2048, 4  # capacity 8192; 6553 entries = 0.80 load
    fp, canon = _ck_entries(rng_h1, rng_h2, n_cells)
    fp, canon = _ck_dedup(fp, canon)
    table = _ck_build_table(fp, canon, n_cells, n_slots)
    # every entry findable in one of its two cells
    from web_crawler_spark.operators.seen_filter import _ck_cellhash
    alt = canon ^ _ck_cellhash(fp, n_cells)
    found = (table[canon] == fp[:, None]).any(1) | (table[alt] == fp[:, None]).any(1)
    assert found.all()


def test_cuckoo_overflow_raises():
    import numpy as np
    import pytest

    from web_crawler_spark.operators.seen_filter import _ck_build_table

    n_cells, n_slots = 64, 4
    with pytest.raises(RuntimeError, match="capacity|converge"):
        fp = (np.arange(1, 250, dtype=np.uint16) % 0xFFFF) + 1
        canon = np.zeros(249, dtype=np.int64)  # everything into one cell pair
        _ck_build_table(fp, canon, n_cells, n_slots)


def test_prune_modes_agree(spark):
    import pyspark.sql.functions as F

    from web_crawler_spark.operators import seen_filter as SF

    urls = spark.range(0, 3000).select(
        F.concat(F.lit("https://m.example.com/p"), "id").alias("url")
    )
    seen = spark.range(0, 3000).filter("id % 7 = 0").select(
        F.concat(F.lit("https://m.example.com/p"), "id").alias("url")
    )
    bl, ck = SF.build_bloom(seen), SF.build_cuckoo(seen)
    for prune_fn, filt in ((SF.prune, bl), (SF.prune_cuckoo, ck)):
        got = {}
        for mode in ("broadcast", "cogroup"):
            rows = prune_fn(urls, filt, mode=mode).collect()
            got[mode] = sorted((r["url"], r["maybe_seen"]) for r in rows)
        assert got["broadcast"] == got["cogroup"]
        # no false negatives: every true member flagged
        flagged = {u for u, m in got["broadcast"] if m}
        for r in seen.collect():
            assert r["url"] in flagged


def test_auto_mode_selects_by_declared_size(spark):
    """mode='auto' (the default) must resolve from the DECLARED filter
    geometry: a filter past the broadcast threshold takes the cogroup
    path (plan shows the cogroup exchange — nothing collected to the
    driver), a small one broadcasts, and both agree byte-for-byte."""
    import pyspark.sql.functions as F

    from web_crawler_spark.operators import seen_filter as SF

    urls = spark.range(0, 500).select(
        F.concat(F.lit("https://auto.example.com/p"), "id").alias("url")
    )
    seen = spark.range(0, 500).filter("id % 5 = 0").select(
        F.concat(F.lit("https://auto.example.com/p"), "id").alias("url")
    )
    geom = dict(n_buckets=4, m_bits=1 << 17)  # 4 × 16 KiB = 64 KiB
    bl = SF.build_bloom(seen, **geom)

    # 64 KiB > 32 KiB threshold → auto must pick cogroup; the plan carries
    # the cogroup operator, and the broadcast-path operator is absent
    big = SF.prune(urls, bl, broadcast_bytes_max=32 << 10, **geom)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "MapInPandas" not in plan

    # 64 KiB <= 1 MiB threshold → auto picks broadcast (no cogroup shuffle)
    small = SF.prune(urls, bl, broadcast_bytes_max=1 << 20, **geom)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan_small

    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))

    # same resolution rule on the cuckoo side: declared bytes =
    # n_buckets × n_cells × n_slots × 2 = 4 × 1024 × 4 × 2 = 32 KiB
    ckg = dict(n_buckets=4, n_cells=1 << 10, n_slots=4)
    ck = SF.build_cuckoo(seen, **ckg)
    big_ck = SF.prune_cuckoo(urls, ck, broadcast_bytes_max=16 << 10, **ckg)
    assert "FlatMapCoGroupsInPandas" in (
        big_ck._jdf.queryExecution().executedPlan().toString()
    )
    small_ck = SF.prune_cuckoo(urls, ck, broadcast_bytes_max=1 << 20, **ckg)
    assert sorted(map(tuple, big_ck.collect())) == sorted(
        map(tuple, small_ck.collect())
    )

    import pytest

    with pytest.raises(ValueError, match="mode"):
        SF.prune(urls, bl, mode="bogus", **geom)
