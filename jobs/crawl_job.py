"""The production entry point: spark-submit --py-files wcs.zip jobs/crawl_job.py

North-rule packaging: the whole engine ships as a --py-files zip; this
driver script runs the checkpointed wave-loop crawl and the extraction →
dedup → enrichment pipeline on a multi-executor cluster, then writes the
image+caption record table and prints one JSON metrics line.

Usage (sandbox smoke = local master; cluster = yarn/k8s master):
  python tools/package_pyfiles.py                 # builds dist/wcs.zip
  spark-submit --master local[8] --py-files dist/wcs.zip \
      jobs/crawl_job.py --workdir /tmp/crawl1 --hosts 8 --pages 30 \
      --max-pages 25 --max-depth 3 [--resume]
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--hosts", type=int, default=8)
    ap.add_argument("--pages", type=int, default=30)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--max-pages", type=int, default=50)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--wave-seconds", type=float, default=None)
    ap.add_argument("--check-robots", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--salt-partitions", type=int, default=None)
    args = ap.parse_args()

    from web_crawler_spark.session import ENGINE_CONF

    # spark-submit owns master/deploy config; we only set engine-level conf
    spark = (
        SparkSession.builder.appName("wcs_crawl_job")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
    from web_crawler_spark.plans.enrich import records_pipeline
    from web_crawler_spark.synthetic.web import SyntheticWeb

    web = SyntheticWeb(
        n_hosts=args.hosts, pages_per_host=args.pages, seed=args.seed
    )
    cfg = CrawlConfig(
        max_pages=args.max_pages,
        max_depth=args.max_depth,
        wave_seconds=args.wave_seconds,
        check_robots=args.check_robots,
        salt_partitions=args.salt_partitions,
    )
    driver = CrawlDriver(spark, web, args.workdir, cfg)

    t0 = time.time()
    driver.run(resume=args.resume)
    crawl_s = time.time() - t0

    pages = driver.pages_tbl.read(spark).dropDuplicates(["seed_host", "url"])
    t1 = time.time()
    records = records_pipeline(
        pages.selectExpr("url", "seed_host", "body", "xhr_json")
    ).persist()  # count + snapshot write share one evaluation
    from web_crawler_spark.lake import SnapshotTable

    out_tbl = SnapshotTable(f"{args.workdir}/records")
    n_records = records.count()
    out_tbl.overwrite(
        records,
        summary={"records": n_records, "crawl_seconds": round(crawl_s, 2)},
        lineage_key="seed_host",
    )
    records.unpersist()
    pipe_s = time.time() - t1

    # merge-on-read view: correct even if the run stopped at max_waves
    # before completion-compaction folded the status delta into base
    frontier = driver.frontier()
    visited = frontier.filter(frontier.status == "visited").count()
    total = frontier.count()
    print(
        json.dumps(
            {
                "visited": visited,
                "frontier_rows": total,
                "records": n_records,
                "crawl_sec": round(crawl_s, 2),
                "pipeline_sec": round(pipe_s, 2),
                "urls_per_sec": round(total / crawl_s, 1) if crawl_s else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
