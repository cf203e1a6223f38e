"""The benchmark's workloads. Each drives the engine through its public API
only and sees nothing but the inputs generated here from the seed.

A workload has four phases, timed by the harness:

- ``setup``: generate the inputs;
- ``warmup``: untimed ops that compile every plan shape the timed ops run;
- ``op``: one timed operation, returning its output (``items`` and, in a
  traced run, ``layer_metrics`` read it afterwards, untimed);
- ``check``: compare every op's output with an expectation that does not
  come from the code under test.
"""

from __future__ import annotations

import hashlib
import os

from archive import build_archive

WARMUP_SEED_OFFSET = 7919


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class Workload:
    name = ""
    item = ""
    max_ops = 1_000_000  # timed ops per run at most, whatever --seconds says

    def __init__(self, spark, work: str, seed: int, smoke: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke


# ------------------------------------------------------------ crawl ------
class CrawlWaves(Workload):
    """One op = one more wave of a resumable crawl, through the public
    ``CrawlDriver.run(resume=True, max_waves=w + 1)``.

    32 sites of 150 pages with a politeness budget of 25 pages per host per
    wave: after three waves of ramp-up, wave 4 visits 800 pages, 25 per
    site, so the cross-parent discovery order matters. The warm-up is the
    crawl's own first three waves: the seed wave, the first wave with a
    status delta, and the first that merges several Bloom deltas on read.
    Between them they compile every plan shape the later waves run, so the
    timed wave is warm. They are the crawl's own waves rather than a
    different-seed crawl's because no wave re-reads pages an earlier one
    fetched, so they prime nothing the timed wave reads, and a second crawl
    would add a cold wave to every run's set-up.
    """

    name = "crawl_waves"
    item = "pages"
    warmup_waves = 3
    # wave 4 only: later waves can visit fewer pages as sites run short of
    # queued links, so timing them would change what a run measures
    max_ops = 1

    def _sizes(self):
        return (12, 20, 2) if self.smoke else (32, 150, 25)

    def setup(self) -> None:
        from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
        from web_crawler_spark.synthetic.web import SyntheticWeb

        hosts, pages, budget = self._sizes()
        web = SyntheticWeb(n_hosts=hosts, pages_per_host=pages, seed=self.seed)
        cfg = CrawlConfig(max_pages=pages, max_depth=8, host_wave_budget=budget)
        self.driver = CrawlDriver(self.spark, web, os.path.join(self.work, "crawl"), cfg)
        self.waves = 0

    def warmup(self) -> None:
        for _ in range(self.warmup_waves):
            self.op()

    def op(self):
        self.driver.run(resume=True, max_waves=self.waves + 1)
        self.waves += 1
        return self.waves

    def _wave_summary(self, wave: int) -> dict:
        for snap in reversed(self.driver.delta_tbl.snapshots()):
            s = snap.get("summary", {})
            if s.get("wave") == wave and "pages_fetched" in s:
                return s
        raise RuntimeError(f"no delta snapshot for wave {wave}")

    def items(self, result) -> int:
        return self._wave_summary(result)["pages_fetched"]

    def layer_metrics(self, result) -> dict[str, float]:
        s = self._wave_summary(result)
        return {
            "plans.crawl.waves": 1.0,
            "plans.crawl.pages_per_wave": float(s["pages_fetched"]),
            "plans.crawl.new_per_candidate": s["new_urls"] / max(s["candidates"], 1),
        }

    def check(self) -> list[str]:
        """Per site, the visit order and the discovery order equal the
        single-threaded reference crawl (``oracle.crawl_site``, the per-site
        half of ``crawl_all``) stopped after as many visits as the site has
        had, and no site has had more than its politeness budget allows."""
        from web_crawler_spark.oracle import crawl_site

        state = self.driver.load_state() or {}
        if state.get("wave") != self.waves or state.get("done"):
            return [f"crawl state {state} after {self.waves} waves"]
        got: dict[str, dict] = {}
        for r in self.driver.frontier().select(
            "seed_host", "url", "status", "enqueue_seq", "visit_seq"
        ).collect():
            d = got.setdefault(r["seed_host"], {"disc": [], "visits": []})
            d["disc"].append((r["enqueue_seq"], r["url"]))
            if r["status"] in ("visited", "error"):
                d["visits"].append((r["visit_seq"], r["url"]))
        cfg = self.driver.cfg
        most = 1 + cfg.host_wave_budget * (self.waves - 1)  # wave 1 visits the seed only
        problems = []
        seeds = self.driver.web.seed_urls()
        for seed_url in seeds:
            host = seed_url.split("//", 1)[1].split("/", 1)[0]
            g = got.get(host, {"disc": [], "visits": []})
            visits = [u for _, u in sorted(g["visits"])]
            want = crawl_site(self.driver.web, seed_url, max_pages=len(visits),
                              max_depth=cfg.max_depth)
            if not 1 <= len(visits) <= most:
                problems.append(f"{host}: {len(visits)} visits after {self.waves} waves")
            if visits != want.visit_order:
                problems.append(f"{host}: visit order differs from the reference crawl")
            if [u for _, u in sorted(g["disc"])] != want.discovered:
                problems.append(f"{host}: discovery order differs from the reference crawl")
        if len(got) != len(seeds):
            problems.append(f"{len(got)} sites in the frontier, expected {len(seeds)}")
        return problems[:10]


# ---------------------------------------------------------- records ------
class PageRecords(Workload):
    """One op = ``plans.enrich.records_pipeline`` over a 960-page table of
    SyntheticWeb bodies written once during setup, collected to the driver.
    """

    name = "page_records"
    item = "pages"

    def _web(self, seed: int, hosts: int):
        from web_crawler_spark.synthetic.web import SyntheticWeb

        return SyntheticWeb(n_hosts=hosts, pages_per_host=10 if self.smoke else 60, seed=seed)

    def _table(self, web, tag: str):
        """Write the pages with pyarrow (no Spark job in set-up), one file
        per core as Spark would, and return Spark's reader over them."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pages = [(h, p) for h in range(web.n_hosts) for p in range(web.n_pages(h))]
        table = pa.table({
            "url": [web.url(h, p) for h, p in pages],
            "seed_host": [web.host(h) for h, _ in pages],
            "body": [web.body(h, p) for h, p in pages],
            "xhr_json": [web.xhr_json(h, p) for h, p in pages],
        }, schema=pa.schema([("url", pa.string()), ("seed_host", pa.string()),
                             ("body", pa.string()), ("xhr_json", pa.string())]))
        path = os.path.join(self.work, tag)
        os.makedirs(path)
        n = self.spark.sparkContext.defaultParallelism
        step = -(-len(pages) // n)
        for i in range(n):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        return self.spark.read.parquet(path), len(pages)

    def setup(self) -> None:
        self.web = self._web(self.seed, 3 if self.smoke else 16)
        self.pages, self.n_pages = self._table(self.web, "pages")
        self.digests: list[str] = []

    def warmup(self) -> None:
        from web_crawler_spark.plans import enrich

        pages, _ = self._table(self._web(self.seed + WARMUP_SEED_OFFSET, 2),
                               "pages_warmup")
        enrich.records_pipeline(pages).collect()

    def op(self):
        from web_crawler_spark.plans import enrich

        return enrich.records_pipeline(self.pages).collect()

    def items(self, result) -> int:
        self.digests.append(_digest(r for r in result))
        self.last = result
        return self.n_pages

    def layer_metrics(self, result) -> dict[str, float]:
        return {"plans.enrich.records_per_page": len(result) / self.n_pages}

    def check(self) -> list[str]:
        """Records against the locations SyntheticWeb planted. A record
        matches a location on one of its source pages by name (the city for
        the h3 pattern, whose markup carries no name) and by postcode, or by
        coordinates when it has no postcode. Every planted location must be
        matched on its page, and an attached image must belong to a matching
        location."""
        web = self.web
        planted: dict[str, list[dict]] = {}
        for h in range(web.n_hosts):
            for p in range(web.n_pages(h)):
                planted[web.url(h, p)] = [
                    web.location(h, p, k) for k in range(web.n_locations(h, p))]
        problems = []
        covered = set()
        for r in self.last:
            urls = r["sourceUrl"].split(", ") if r["sourceUrl"] else []
            if not urls or any(u not in planted or not u.startswith(f"https://{r['seed_host']}/")
                               for u in urls):
                problems.append(f"record with unknown source pages {urls[:3]}")
                continue
            named = [loc for u in urls for loc in planted[u]
                     if r["locationName"] in (loc["name"], loc["city"])]
            if r["postcode"] is not None:
                ok = any(loc["postcode"] == r["postcode"] for loc in named)
            else:
                ok = any(abs(loc["lat"] - (r["latitude"] or 1e9)) < 1e-6
                         and abs(loc["lon"] - (r["longitude"] or 1e9)) < 1e-6 for loc in named)
            if not ok:
                problems.append(f"{r['locationName']!r} matches no location planted on {urls[:3]}")
            if r["image_id"] is not None and r["image_id"] not in {
                    loc["image_id"] for loc in named if loc["name"] == r["locationName"]}:
                problems.append(f"image {r['image_id']} does not belong to {r['locationName']!r}")
            covered.update((u, r["locationName"]) for u in urls)
        missing = [(u, loc["name"]) for u, locs in planted.items() for loc in locs
                   if (u, loc["name"]) not in covered and (u, loc["city"]) not in covered]
        if missing:
            problems.append(f"{len(missing)} planted locations not recovered, e.g. {missing[:2]}")
        if len(set(self.digests)) != 1:
            problems.append("ops over the same table returned different records")
        return problems[:10]


# ----------------------------------------------------------- pairs -------
class PairRelease(Workload):
    """One op = ``ingest_warc_job.ingest`` of the generated archive into a
    fresh pair lake, then ``plans.corpus.build_pair_corpus`` over the lake
    table, collected without the image bytes."""

    name = "pair_release"
    item = "archive records"

    def _sizes(self, warmup: bool):
        if self.smoke:
            return 2, 4
        return (2, 6) if warmup else (8, 20)

    def setup(self) -> None:
        import importlib.util

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "ingest_warc_job", os.path.join(root, "jobs", "ingest_warc_job.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)
        self.archive = build_archive(os.path.join(self.work, "archive"), self.seed,
                                     *self._sizes(False))
        self.n_ops = 0
        self.outputs: list[tuple[dict, list]] = []

    def _release(self, archive_dir: str, lake_dir: str):
        from web_crawler_spark.lake import SnapshotTable
        from web_crawler_spark.plans import corpus

        ingested = self.job.ingest(self.spark, archive_dir, lake_dir)
        release = corpus.build_pair_corpus(SnapshotTable(lake_dir).read(self.spark))
        return ingested, release.drop("bytes").collect()

    def warmup(self) -> None:
        arc = build_archive(os.path.join(self.work, "archive_warmup"),
                            self.seed + WARMUP_SEED_OFFSET, *self._sizes(True), verify=False)
        self._release(arc.path, os.path.join(self.work, "lake_warmup"))

    def op(self):
        self.n_ops += 1
        lake = os.path.join(self.work, f"lake_{self.n_ops}")
        return (*self._release(self.archive.path, lake), lake)

    def items(self, result) -> int:
        ingested, rows, _ = result
        self.outputs.append((ingested, sorted(r["image_id"] for r in rows)))
        return self.archive.n_records

    def layer_metrics(self, result) -> dict[str, float]:
        from pyspark.sql import functions as F

        from web_crawler_spark.lake import SnapshotTable

        ingested, rows, lake = result
        n, ok = SnapshotTable(lake).read(self.spark).agg(
            F.count(F.lit(1)), F.count("phash")).first()
        return {
            "images.decode_ok_ratio": ok / max(n, 1),
            "plans.corpus.kept_per_pair": len(rows) / max(ingested["pairs"], 1),
        }

    def check(self) -> list[str]:
        """Every op ingests exactly the generated records and captioned
        images, and releases exactly one image per generated group."""
        problems = []
        want = sorted(self.archive.release_ids)
        for ingested, ids in self.outputs:
            if ingested["records"] != self.archive.n_records:
                problems.append(f"ingested {ingested['records']} records, "
                                f"wrote {self.archive.n_records}")
            if ingested["pairs"] != self.archive.n_pairs:
                problems.append(f"ingested {ingested['pairs']} pairs, "
                                f"expected {self.archive.n_pairs}")
            if ids != want:
                extra = sorted(set(ids) - set(want))[:3]
                lost = sorted(set(want) - set(ids))[:3]
                problems.append(f"release has {len(ids)} images, expected {len(want)}; "
                                f"unexpected {extra}, missing {lost}")
        return problems[:10]


# ---------------------------------------------------------- corpus -------
class CorpusBuild(Workload):
    """One op = a ``PageRecords`` op, then a ``PairRelease`` op: location
    records from a page table and the image+caption release from an
    archive, the two corpus builds, timed together in one process. Each
    part keeps its own inputs, warm-up and output check."""

    name = "corpus_build"
    item = "documents (pages + archive records)"

    def __init__(self, spark, work: str, seed: int, smoke: bool) -> None:
        super().__init__(spark, work, seed, smoke)
        self.parts = [PageRecords(spark, work, seed, smoke), PairRelease(spark, work, seed, smoke)]

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def warmup(self) -> None:
        for part in self.parts:
            part.warmup()

    def op(self):
        return [part.op() for part in self.parts]

    def items(self, result) -> int:
        return sum(part.items(r) for part, r in zip(self.parts, result))

    def layer_metrics(self, result) -> dict[str, float]:
        out: dict[str, float] = {}
        for part, r in zip(self.parts, result):
            out.update(part.layer_metrics(r))
        return out

    def check(self) -> list[str]:
        return [f"{part.name}: {p}" for part in self.parts for p in part.check()]


WORKLOADS = {w.name: w for w in (CrawlWaves, CorpusBuild)}
