"""Wave-cost-vs-frontier-size curve: evidence that a crawl wave's cost is
O(wave delta), not O(frontier).

Runs a budgeted crawl whose frontier grows every wave and reports, per
wave: wall seconds, cumulative frontier rows (base table), and the wave's
own delta (pages visited + new URLs). With the status-delta/merge-on-read
frontier the wave time should stay ~flat as the frontier grows; the old
full-overwrite design grew linearly with it.

Usage: python tools/bench_wave_cost.py [n_hosts] [pages_per_host] [budget]
Prints one JSON line: {"waves": [{"wave", "sec", "frontier_rows",
"visited", "new_urls"}...], "flatness": last3_avg / first3_avg}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver  # noqa: E402
from web_crawler_spark.session import get_spark  # noqa: E402
from web_crawler_spark.synthetic.web import SyntheticWeb  # noqa: E402


def main() -> None:
    n_hosts = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    pages = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 12

    spark = get_spark(
        "bench_wave_cost", cores=8, shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    web = SyntheticWeb(n_hosts=n_hosts, pages_per_host=pages, seed=11)
    cfg = CrawlConfig(
        max_pages=pages, max_depth=10, host_wave_budget=budget,
        compact_every=1_000_000,  # no compaction: pure delta cost
    )
    workdir = tempfile.mkdtemp(prefix="wcs_wavecost_")
    driver = CrawlDriver(spark, web, workdir, cfg)

    # seed exactly as run() does, then drive waves manually with timing
    driver.run(max_waves=0)
    waves = []
    for wave in range(1, 31):
        t0 = time.time()
        progressed = driver._run_wave(wave, None)
        sec = time.time() - t0
        if not progressed:
            break
        frontier_rows = driver.frontier_tbl.read(spark).count()
        ds = driver.delta_tbl.current()["summary"]
        waves.append(
            {
                "wave": wave,
                "sec": round(sec, 3),
                "frontier_rows": frontier_rows,
                "visited": ds.get("pages_fetched"),
                "new_urls": ds.get("new_urls"),
            }
        )
        print(f"# wave {wave}: {sec:.2f}s frontier={frontier_rows} "
              f"visited={ds.get('pages_fetched')} new={ds.get('new_urls')}",
              file=sys.stderr)
    first3 = [w["sec"] for w in waves[1:4]]
    last3 = [w["sec"] for w in waves[-3:]]
    flat = round(sum(last3) / len(last3) / (sum(first3) / len(first3)), 3) if first3 and last3 else None
    print(json.dumps({"waves": waves, "flatness_last3_over_first3": flat}))


if __name__ == "__main__":
    main()
