"""North-rule gate: the Spark wave-loop crawl must be bit-identical to the
single-threaded reference-semantics oracle — same visit ordering, same final
URL-seen set — for the same seed list, maxPages, maxDepth, politeness budget.
"""

from __future__ import annotations

import pytest

from web_crawler_spark.oracle import crawl_all
from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
from web_crawler_spark.synthetic.web import SyntheticWeb

WEB = SyntheticWeb(n_hosts=3, pages_per_host=28, seed=42)


def _spark_results(driver):
    frontier = driver.frontier_tbl.read(driver.spark)
    rows = frontier.orderBy("seed_host", "enqueue_seq").collect()
    by_seed: dict[str, dict] = {}
    for r in rows:
        d = by_seed.setdefault(
            r["seed_host"], {"discovered": [], "visits": [], "blocked": []}
        )
        d["discovered"].append(r["url"])
        if r["status"] in ("visited", "error"):
            d["visits"].append((r["visit_seq"], r["url"]))
        elif r["status"] == "robots_blocked":
            d["blocked"].append(r["url"])
    for d in by_seed.values():
        d["visits"] = [u for _, u in sorted(d["visits"])]
        d["blocked"].sort()
    return by_seed


@pytest.mark.parametrize("host_budget", [None, 4])
def test_bit_identical_order_and_seen_set(spark, tmp_path, host_budget):
    cfg = CrawlConfig(max_pages=12, max_depth=3, host_wave_budget=host_budget)
    driver = CrawlDriver(spark, WEB, str(tmp_path / f"crawl_{host_budget}"), cfg)
    driver.run(max_waves=60)
    got = _spark_results(driver)

    want = crawl_all(WEB, max_pages=12, max_depth=3)
    for seed, res in want.items():
        seed_host = seed.split("//", 1)[1].split("/", 1)[0]
        g = got[seed_host]
        # final URL-seen set: bit-identical
        assert set(g["discovered"]) == res.seen_set, seed
        # discovery (enqueue) order: bit-identical
        assert g["discovered"] == res.discovered, seed
        # visit order: bit-identical (host budget only adds wave boundaries)
        assert g["visits"] == res.visit_order, seed


def test_priority_bucket_sort_matches_oracle(spark, tmp_path):
    cfg = CrawlConfig(max_pages=12, max_depth=2)
    driver = CrawlDriver(spark, WEB, str(tmp_path / "crawl_prio"), cfg)
    driver.run(max_waves=30)
    pr = driver.prioritized()
    rows = pr.orderBy("seed_host", "priority_rank").collect()
    got: dict[str, list[str]] = {}
    for r in rows:
        got.setdefault(r["seed_host"], []).append(r["url"])

    want = crawl_all(WEB, max_pages=12, max_depth=2)
    for seed, res in want.items():
        seed_host = seed.split("//", 1)[1].split("/", 1)[0]
        assert got[seed_host] == res.prioritized, seed


def test_resume_reproduces_uninterrupted_state(spark, tmp_path):
    cfg = CrawlConfig(max_pages=10, max_depth=3)
    full = CrawlDriver(spark, WEB, str(tmp_path / "full"), cfg)
    full.run(max_waves=60)

    part = CrawlDriver(spark, WEB, str(tmp_path / "part"), cfg)
    part.run(max_waves=2)  # "kill" after wave 2
    resumed = CrawlDriver(spark, WEB, str(tmp_path / "part"), cfg)
    resumed.run(resume=True, max_waves=60)

    a = _spark_results(full)
    b = _spark_results(resumed)
    assert a == b


@pytest.mark.parametrize("cap", [None, 10])
def test_robots_gate_blocks_disallowed(spark, tmp_path, cap):
    """S4/F5/J2: with robots checking on, queued URLs under a host's
    disallow prefixes end 'robots_blocked' (never fetched), permissive
    hosts are unaffected, and every blocked URL agrees with the
    single-threaded robots oracle (robots.service.js:44-71 semantics).
    Per seed the visit order, discovery order and blocked set equal the
    oracle's robots-on crawl, with and without the W5 location cap
    (blocked rows count toward maxPages and add no locations)."""
    # seed 6: hosts 1/7/11 have pages under their disallow prefixes
    web = SyntheticWeb(n_hosts=12, pages_per_host=20, seed=6)
    with_rules = [h for h in range(web.n_hosts) if web.robots(h)["disallow_prefixes"]]
    assert with_rules, "fixture must include at least one disallowing host"

    driver = CrawlDriver(
        spark, web, str(tmp_path / f"robots_crawl_{cap}"),
        CrawlConfig(max_pages=20, max_depth=3, check_robots=True,
                    max_locations=cap),
    )
    driver.run(max_waves=10)
    rows = driver.frontier_tbl.read(spark).collect()

    blocked = [(r["seed_host"], r["url"]) for r in rows if r["status"] == "robots_blocked"]
    visited = [(r["seed_host"], r["url"]) for r in rows if r["status"] == "visited"]
    assert blocked, "disallowed URLs must surface as robots_blocked"

    host_idx = {web.host(h): h for h in range(web.n_hosts)}
    for host, url in blocked:
        assert not web.robots_allows(host_idx[host], url), (host, url)
    for host, url in visited:
        assert web.robots_allows(host_idx[host], url), (host, url)

    got = _spark_results(driver)
    want = crawl_all(web, max_pages=20, max_depth=3, check_robots=True,
                     max_locations=cap)
    for seed, res in want.items():
        g = got[seed.split("//", 1)[1].split("/", 1)[0]]
        assert g["visits"] == res.visit_order, seed
        assert g["discovered"] == res.discovered, seed
        assert g["blocked"] == sorted(res.robots_blocked), seed


def test_snapshot_without_max_seq_raises(spark, tmp_path):
    """Budgets come from snapshot summaries only: a frontier snapshot that
    lacks ``max_seq`` was not written by this engine, and resuming from
    it raises with the table path instead of re-deriving by a scan."""
    wd = str(tmp_path / "legacy")
    driver = CrawlDriver(spark, WEB, wd, CrawlConfig())
    driver.run(max_waves=0)  # seeds the frontier, runs no wave
    driver.frontier_tbl.overwrite(
        driver._seed_frontier(), summary={"wave": 0, "op": "seed"}
    )
    resumed = CrawlDriver(spark, WEB, wd, CrawlConfig())
    with pytest.raises(ValueError, match="max_seq") as err:
        resumed.run(resume=True, max_waves=1)
    assert driver.frontier_tbl.path in str(err.value)


def test_crawl_delay_budget_preserves_order(spark, tmp_path):
    """Politeness via robots crawl-delay: the per-wave host budget
    (floor(wave_seconds / delay)) caps how many URLs a host fetches per
    wave, without changing the final visit order or seen set — budgets
    move wave boundaries, never reorder (plans/crawl.py invariant)."""
    web = SyntheticWeb(n_hosts=3, pages_per_host=20, seed=6)
    cfg_kw = dict(max_pages=12, max_depth=3)
    base = CrawlDriver(spark, web, str(tmp_path / "nodelay"), CrawlConfig(**cfg_kw))
    base.run(max_waves=30)
    delayed = CrawlDriver(
        spark, web, str(tmp_path / "delay"),
        CrawlConfig(**cfg_kw, wave_seconds=4.0),
    )
    delayed.run(max_waves=60)
    assert _spark_results(base) == _spark_results(delayed)

    # per-wave per-host visited counts must respect the delay budget
    rows = delayed.frontier_tbl.read(spark).collect()
    per = {}
    for r in rows:
        if r["status"] in ("visited", "error") and r["wave_visited"] is not None:
            per[(r["seed_host"], r["wave_visited"])] = (
                per.get((r["seed_host"], r["wave_visited"]), 0) + 1
            )
    host_idx = {web.host(h): h for h in range(web.n_hosts)}
    import math

    for (host, _wave), n in per.items():
        delay = max(web.robots(host_idx[host])["crawl_delay_s"], 1.0)
        assert n <= max(int(math.floor(4.0 / delay)), 1), (host, n, delay)


@pytest.mark.parametrize("cap,host_budget", [(10, None), (10, 3), (25, None)])
def test_locations_found_early_exit(spark, tmp_path, cap, host_budget):
    """W5: with a location cap the crawl must stop exactly where the
    single-threaded reference loop stops (professional-crawler.service.js
    :79-82) — same visit order, same visited set, rows past the stop point
    left queued — including when a politeness budget forces the stop to
    land mid-wave vs at a wave boundary."""
    cfg = CrawlConfig(max_pages=30, max_depth=3,
                      host_wave_budget=host_budget, max_locations=cap)
    driver = CrawlDriver(spark, WEB, str(tmp_path / f"cap_{cap}_{host_budget}"), cfg)
    driver.run(max_waves=60)
    got = _spark_results(driver)

    want = crawl_all(WEB, max_pages=30, max_depth=3, max_locations=cap)
    stopped_early = False
    for seed, res in want.items():
        seed_host = seed.split("//", 1)[1].split("/", 1)[0]
        g = got[seed_host]
        assert g["visits"] == res.visit_order, seed
        assert g["discovered"] == res.discovered, seed
        assert set(g["discovered"]) == res.seen_set, seed
        total = sum(WEB.n_locations(*WEB.page_index(u)) for u in res.visit_order)
        if total >= cap and len(res.visit_order) < 30:
            stopped_early = True
    assert stopped_early, "fixture must actually trigger the cap"


# ------------------------------------------- link-explorer discovery -------
# link-explorer.service.js:16-156 — semantics that distinguish the port
# from a naive "filter + sort": the Set first-insertion dedupe, the
# stable (priority, insertion-order) sort, the bare-path 999 quirk of
# pattern 1, the hostname gate, and the maxPages slice.
def test_discover_location_pages_reference_trace(spark):
    from web_crawler_spark.operators import frontier as FR

    body = (
        '<a href="/contact">Contact</a>'                      # dup of seeded path
        '<a href="/pricing">Plans</a>'                        # no keyword
        '<a href="https://b.ex.com/global/x">More</a>'        # href kw, prio 2
        '<a href="https://other.ex.net/contact">Them</a>'     # cross-host
        '<a href="/p9">Find Us Here</a>'                      # text kw, prio 999
    )
    pages = spark.createDataFrame(
        [("https://b.ex.com/home", body)], "url string, body string"
    )
    top10 = {r["rank"]: r for r in FR.discover_location_pages(pages).collect()}
    assert len(top10) == 10
    # stable sort: seeded priority-1 paths in list order, then priority 2
    # with the discovered anchor after the two seeded /global-* paths
    assert [top10[i]["url"].split(".com")[1] for i in range(1, 7)] == [
        "/contact", "/contact-us", "/contactus",
        "/global-offices", "/global-locations", "/global/x",
    ]
    assert all(r["priority"] in (1, 2, 3) for r in top10.values())

    # full set: the duplicate /contact collapsed; cross-host and
    # keyword-free anchors dropped; '/locations' (bare, no trailing
    # slash) scores 999 — pattern 1 needs '/' or '?' AFTER the word
    allr = FR.discover_location_pages(pages, max_pages=99).collect()
    assert len(allr) == 24  # 22 seeded + 2 surviving anchors - 1 dup
    by_url = {r["url"]: r for r in allr}
    assert by_url["https://b.ex.com/locations"]["priority"] == 999
    assert by_url["https://b.ex.com/p9"]["priority"] == 999
    assert "https://other.ex.net/contact" not in by_url
    assert "https://b.ex.com/pricing" not in by_url


def test_requeue_recrawls_only_the_expired(spark, tmp_path):
    cfg = CrawlConfig(max_pages=10, max_depth=3)
    driver = CrawlDriver(spark, WEB, str(tmp_path / "requeue"), cfg)
    driver.run()
    before = {
        r["url"]: (r["status"], r["visit_seq"], r["wave_visited"])
        for r in driver.frontier().collect()
    }
    visited = sorted(u for u, (s, _, _) in before.items() if s == "visited")
    expired = visited[:3]

    n = driver.requeue(spark.createDataFrame([(u,) for u in expired], "url string"))
    assert n == 3
    mid = {r["url"]: r["status"] for r in driver.frontier().collect()}
    assert all(mid[u] == "queued" for u in expired)

    # requeue of a url that was never visited is a no-op
    assert driver.requeue(spark.createDataFrame([("https://nope.example/x",)], "url string")) == 0

    driver.run(resume=True)
    after = {
        r["url"]: (r["status"], r["visit_seq"], r["wave_visited"])
        for r in driver.frontier().collect()
    }
    # the expired urls are visited again, at their original deterministic
    # position (visit_seq == enqueue_seq); everything else is unchanged
    for u in expired:
        assert after[u][0] == "visited"
        assert after[u][1] == before[u][1]
    unchanged = {u: v for u, v in after.items() if u not in expired}
    assert unchanged == {u: v for u, v in before.items() if u not in expired}


def test_fresh_rerun_on_dirty_workdir_matches_clean_run(spark, tmp_path):
    """run(resume=False) on a workdir holding a finished crawl must drop the
    stale delta/pages tables — otherwise the old run's visited counts
    shrink the new per-seed budgets. The seen set is the base table's
    discovery rows, so the crawl keeps no sketch table beside them."""
    cfg = CrawlConfig(max_pages=12, max_depth=3)
    wd = tmp_path / "dirty"
    d1 = CrawlDriver(spark, WEB, str(wd), cfg)
    d1.run(max_waves=60)
    clean = _spark_results(d1)

    d2 = CrawlDriver(spark, WEB, str(wd), cfg)  # same dir, fresh start
    d2.run(max_waves=60)
    assert _spark_results(d2) == clean
    assert not (wd / "seen_bloom").exists()


def test_anti_join_seen_is_one_exact_join_keyed_by_seed(spark):
    """J1 without a crawl: the seen set is keyed by (seed_host, url), so a
    URL one seed has seen stays new for a seed that has not; duplicate
    seen rows drop a candidate once, an empty seen set drops nothing, and
    the executed plan is a single JVM join with no Python node."""
    from web_crawler_spark.operators import frontier as FR

    cand = spark.createDataFrame(
        [("a.ex", "https://x.ex/p", 1), ("b.ex", "https://x.ex/p", 2),
         ("a.ex", "https://a.ex/q", 3), ("b.ex", "https://b.ex/r", 4)],
        "seed_host string, url string, link_idx int",
    )
    seen = spark.createDataFrame(
        [("https://x.ex/p", "a.ex", 1), ("https://x.ex/p", "a.ex", 2),
         ("https://b.ex/r", "b.ex", 1)],
        "url string, seed_host string, depth int",
    )
    new = FR.anti_join_seen(cand, seen)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert new.columns == cand.columns
    assert sorted(tuple(r) for r in new.collect()) == [
        ("a.ex", "https://a.ex/q", 3), ("b.ex", "https://x.ex/p", 2),
    ]
    none_seen = FR.anti_join_seen(cand, spark.createDataFrame([], seen.schema))
    assert sorted(none_seen.collect()) == sorted(cand.collect())

    assert sum("Join" in line for line in plan.splitlines()) == 1, plan
    for node in ("Python", "Pandas", "Arrow"):
        assert node not in plan, plan
