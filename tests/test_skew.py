"""§5.2.6 hot-host skew: one host with ~25x the URLs must neither change
crawl bit-identity nor serialize the fetch stage into one partition."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
from web_crawler_spark.sources.fetch import fetch_pages
from web_crawler_spark.synthetic.web import SyntheticWeb

HOT_WEB = SyntheticWeb(n_hosts=4, pages_per_host=8, seed=3, hot_host=0, hot_factor=25)


def _results(driver):
    f = driver.frontier_tbl.read(driver.spark)
    return sorted(
        (r["seed_host"], r["url"], r["status"], r["visit_seq"]) for r in f.collect()
    )


def test_salting_preserves_bit_identity(spark, tmp_path):
    base = CrawlDriver(
        spark, HOT_WEB, str(tmp_path / "nosalt"),
        CrawlConfig(max_pages=60, max_depth=2),
    )
    base.run(max_waves=20)
    salted = CrawlDriver(
        spark, HOT_WEB, str(tmp_path / "salt"),
        CrawlConfig(max_pages=60, max_depth=2, salt_partitions=8),
    )
    salted.run(max_waves=20)
    assert _results(base) == _results(salted)
    # the hot host actually dominates the workload (skew fixture is real)
    counts = {
        r["seed_host"]: r["n"]
        for r in base.frontier_tbl.read(spark)
        .groupBy("seed_host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot = counts[HOT_WEB.host(0)]
    assert hot > 3 * max(v for k, v in counts.items() if k != HOT_WEB.host(0))


def test_salted_fetch_spreads_hot_host(spark):
    """The salted repartition must spread one host's wave slice across
    executors instead of hashing it onto a single partition."""
    rows = [
        (HOT_WEB.url(0, p), HOT_WEB.host(0), 1, p, 1, p)
        for p in range(HOT_WEB.n_pages(0))
    ]
    take = spark.createDataFrame(
        rows,
        "url string, seed_host string, depth int, enqueue_seq long, "
        "wave int, visit_seq long",
    )
    # without salting, repartition by host -> all rows in ONE partition
    one = (
        take.repartition(8, "seed_host")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert one == 1

    salted = fetch_pages(take, HOT_WEB, salt_partitions=8)
    spread = salted.select(F.spark_partition_id().alias("pid")).groupBy("pid").count()
    parts = {r["pid"]: r["count"] for r in spread.collect()}
    # AQE coalesces tiny post-shuffle partitions (correct at this toy
    # size; at production row widths they exceed the coalesce target and
    # all 8 survive) — require a genuine spread plus balance, not the
    # pre-coalesce count
    assert len(parts) >= 4, parts
    mean = sum(parts.values()) / len(parts)
    assert max(parts.values()) <= 2 * mean, parts  # no straggler partition


def test_host_salted_fetch_splits_hot_host_keeps_cold_whole(spark):
    """CMS-driven host salting (north_rule 'salted repartition-by-host'):
    the hot host must split across shards; cold hosts must each stay in
    exactly one shard (host locality for a real fetcher's politeness /
    connection reuse)."""
    from web_crawler_spark.operators import sketch as SK

    rows = [
        (HOT_WEB.url(h, p), HOT_WEB.host(h), 1, h * 1000 + p, 1, h * 1000 + p)
        for h in range(HOT_WEB.n_hosts)
        for p in range(HOT_WEB.n_pages(h))
    ]
    take = spark.createDataFrame(
        rows,
        "url string, seed_host string, depth int, enqueue_seq long, "
        "wave int, visit_seq long",
    )
    salts = SK.hot_key_salts(
        SK.cms_build(take, "seed_host"),
        take.select("seed_host").distinct(),
        "seed_host",
        per_salt_budget=40,
    )
    fetched = fetch_pages(take, HOT_WEB, salt_partitions=16, host_salts=salts)
    per = (
        fetched.select("seed_host", F.spark_partition_id().alias("pid"))
        .groupBy("seed_host")
        .agg(F.countDistinct("pid").alias("shards"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_host = {r.seed_host: (r.shards, r.n) for r in per}
    hot_shards, hot_n = by_host[HOT_WEB.host(0)]
    assert hot_n == HOT_WEB.n_pages(0)
    assert hot_shards >= 3  # 200 rows / 40-budget => ~5 salts (AQE may fold)
    for h in range(1, HOT_WEB.n_hosts):
        assert by_host[HOT_WEB.host(h)][0] == 1  # cold host: one shard
    # same result set as the unsalted fetch
    plain = fetch_pages(take, HOT_WEB)
    assert sorted(r.url for r in fetched.select("url").collect()) == sorted(
        r.url for r in plain.select("url").collect()
    )


def test_host_salting_preserves_bit_identity(spark, tmp_path):
    base = CrawlDriver(
        spark, HOT_WEB, str(tmp_path / "plain2"),
        CrawlConfig(max_pages=60, max_depth=2),
    )
    base.run(max_waves=20)
    salted = CrawlDriver(
        spark, HOT_WEB, str(tmp_path / "hostsalt"),
        CrawlConfig(max_pages=60, max_depth=2,
                    salt_partitions=8, host_salt_budget=10),
    )
    salted.run(max_waves=20)
    assert _results(base) == _results(salted)


# ---------------------------------------------------------------------------
# Near-dup blocking defaults under adversarial skew: corpora built so the
# OLD defaults (first normalized token / signs of the first 8 dims) would
# put every row in ONE bucket and go quadratic. The shipped defaults
# (MinHash bands / corpus-sized multi-band hyperplane LSH) must keep the
# candidate volume ~linear AND still find every planted near-duplicate.
# ---------------------------------------------------------------------------
def test_ngram_default_blocking_survives_common_prefix_corpus(spark):
    from web_crawler_spark.operators import dedup as D

    n = 600
    rows = []
    for i in range(n):
        # every doc starts with "the" → first-token blocking = 1 block
        body = f"the report {i} covers sector {i % 7} with metric {i * 37 % 1000}"
        rows.append((2 * i, body))
        if i % 10 == 0:  # planted near-dup twin
            rows.append((2 * i + 1, body + " appendix"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cand = D.minhash_lsh_candidates(df, "doc_id", "text")
    n_cand = cand.count()
    total = df.count()
    # linear-ish candidate volume, nowhere near the ~180k all-pairs blow-up
    assert n_cand < 10 * total, n_cand

    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(0, n, 10)}
    assert planted <= got, planted - got


def test_embedding_default_blocking_survives_identical_sign_prefix(spark):
    import random

    from pyspark.sql import functions as F

    from web_crawler_spark.operators import dedup as D

    rng = random.Random(7)
    n = 500
    rows = []
    for i in range(n):
        # first 8 dims all positive → old fixed-8-dim-sign default = 1 bucket
        v = [abs(rng.gauss(0, 1)) + 0.1 for _ in range(8)] + [
            rng.gauss(0, 1) for _ in range(56)
        ]
        rows.append((2 * i, [float(x) for x in v]))
        if i % 10 == 0:  # planted twin: tiny perturbation, cosine ≈ 1
            tv = [float(x + 1e-4) for x in v]
            rows.append((2 * i + 1, tv))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # auto-sized n_bits from the corpus: buckets must actually split the
    # identical-sign-prefix corpus instead of one quadratic bucket
    pairs = D.embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.98)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(0, n, 10)}
    assert planted <= got, planted - got

    planes = D.hyperplane_weights(4, 4, 64)
    keys = D._band_keys_udf(planes, 64)(F.col("embedding"))
    ex = df.select("vec_id", F.explode(keys).alias("blk"))
    max_bucket = ex.groupBy("blk").count().agg(F.max("count")).collect()[0][0]
    assert max_bucket < df.count() // 2, max_bucket


def test_budget_by_ip_shares_one_budget_across_vhosts(spark):
    """Mercator server-level politeness: 20 vhosts resolved to one IP get
    ONE shared budget; an unresolved host falls back to a private
    per-host key; ranks are deterministic (FIFO by enqueue_seq)."""
    from web_crawler_spark.operators.frontier import budget_by_ip

    rows = [(f"v{h:02d}.example.com", f"https://v{h:02d}.example.com/p{i}",
             h * 100 + i)
            for h in range(20) for i in range(3)]
    rows += [("lone.example.com", f"https://lone.example.com/p{i}", 10_000 + i)
             for i in range(8)]
    cand = spark.createDataFrame(
        rows, "seed_host string, url string, enqueue_seq long")
    dim = spark.createDataFrame(
        [(f"v{h:02d}.example.com", "10.1.1.1") for h in range(20)],
        "host string, ip string")

    kept = budget_by_ip(cand, dim, ip_wave_budget=5).collect()
    by_key = {}
    for r in kept:
        by_key.setdefault(r["polite_key"], []).append(r)
    # the 60 vhost rows collapse to the shared server budget of 5
    assert len(by_key["10.1.1.1"]) == 5
    # FIFO: the kept five are the globally lowest enqueue_seq on that box
    assert sorted(r["enqueue_seq"] for r in by_key["10.1.1.1"]) == [0, 1, 2, 100, 101]
    # unresolved host budgets privately under its own name
    assert len(by_key["lone.example.com"]) == 5
    assert sorted(r["ip_rank"] for r in by_key["lone.example.com"]) == [1, 2, 3, 4, 5]
    # determinism under repartitioning
    again = budget_by_ip(cand.repartition(13), dim, ip_wave_budget=5).collect()
    assert sorted((r["url"], r["ip_rank"]) for r in again) == sorted(
        (r["url"], r["ip_rank"]) for r in kept)
