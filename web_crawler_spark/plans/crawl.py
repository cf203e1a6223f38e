"""The crawl plan: an iterative, checkpointed, wave-synchronous BFS driver.

Spark restatement of the reference's single-threaded FIFO loop
(site-crawler.service.js:142-178). Correctness argument for bit-identity
with that loop (tested against the Python oracle in tests/test_crawl_identity.py):

1. The FIFO queue with dedup-at-enqueue is level-ordered: every URL's
   queue position (``enqueue_seq``) is fixed at first discovery, and the
   single-threaded loop visits URLs in strictly increasing enqueue_seq.
2. A wave-synchronous loop that each iteration visits the lowest-seq
   queued rows (all of them, or any budget-capped prefix) therefore visits
   URLs in exactly the same global order — budgets only move wave
   boundaries, never reorder.
3. New discoveries are appended in (parent visit order, in-page link
   order); per-seed ``enqueue_seq`` = previous max + rank over
   (parent_seq, link_idx), which is the same append order.
4. depth > maxDepth rows are popped-and-skipped without consuming the
   maxPages budget (:145-147); they still exist in the discovered set.

Every wave checkpoints frontier state + fetched pages to SnapshotTables
with per-partition lineage (rows per seed_host) and fetch/dedup metrics in
the snapshot summary → a killed run resumes from the last complete wave
(north_rule resumability).

Scale design: all joins/windows partition by seed_host (embarrassingly
parallel across sites); the seen set is one exact anti-join against the
base's discovery rows; the fetch stage is salted across executors to
break hot-host skew.

Wave write cost is O(wave delta), not O(frontier): the frontier is a
merge-on-read pair of tables — an append-only BASE of discovery rows
(status 'queued' at birth, immutable) plus an append-only DELTA of status
transitions (url → visited/error/robots_blocked/depth_skipped, at most
one per url). Each wave appends only its new discoveries to base and its
transitions to delta; ``frontier()`` reconstructs current state with a
base⟕delta join, and every ``compact_every`` waves (and at completion)
the merged view is folded into base and the delta truncated. At 10^10
rows this turns the per-wave frontier cost from a full-table
read+join+rewrite into two delta-sized appends plus a column-pruned read.
Crash windows are safe by idempotence: transitions set absolute values
(re-applying is a no-op), re-running a half-committed wave re-discovers
the same URLs into an anti-join that now drops them, and duplicate page
appends are deduped on read (the delta append is the wave commit point).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_crawler_spark.lake import SnapshotTable
from web_crawler_spark.operators import frontier as FR
from web_crawler_spark.operators import sketch as SK
from web_crawler_spark.session import local_df
from web_crawler_spark.sources.fetch import fetch_pages
from web_crawler_spark.synthetic.web import SyntheticWeb

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seed_host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("enqueue_seq", T.LongType(), False),
        T.StructField("wave_discovered", T.IntegerType(), False),
        T.StructField("lineage", T.StringType(), True),  # parent url
        T.StructField("status", T.StringType(), False),  # queued|visited|depth_skipped|error|robots_blocked
        T.StructField("wave_visited", T.IntegerType(), True),
        T.StructField("visit_seq", T.LongType(), True),
    ]
)


DELTA_SCHEMA = T.StructType(
    [
        T.StructField("seed_host", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("wave_visited", T.IntegerType(), True),
        T.StructField("visit_seq", T.LongType(), True),
    ]
)


@dataclass
class CrawlConfig:
    max_pages: int = 50          # per seed (site-crawler.service.js:130)
    max_depth: int = 3           # :131
    host_wave_budget: int | None = None  # politeness cap per host per wave
    wave_seconds: float | None = None    # crawl-delay → per-wave host budget
    check_robots: bool = False   # reference checks robots in extract phase
    salt_partitions: int | None = None
    # host-aware skew control: estimated per-host wave rows per fetch shard.
    # When set, a count-min sketch of the wave's hosts (operators/sketch.py)
    # drives hot_key_salts, and the fetch repartitions by (host, shard) —
    # the north_rule's "salted repartition-by-host" with host locality kept
    # for cold hosts. CMS never undercounts, so no host is under-salted.
    host_salt_budget: int | None = None
    keep_snapshots: int = 3
    compact_every: int = 8       # fold delta into base every k waves
    # W5: stop visiting a seed once its cumulative extracted-location count
    # reaches this (professional-crawler.service.js:79-82, default 50 there)
    max_locations: int | None = None


class CrawlDriver:
    """Runs the wave loop over a SyntheticWeb, checkpointing to ``workdir``."""

    def __init__(self, spark: SparkSession, web: SyntheticWeb, workdir: str,
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.web = web
        self.cfg = config or CrawlConfig()
        self.workdir = workdir
        self.frontier_tbl = SnapshotTable(os.path.join(workdir, "frontier"))
        self.delta_tbl = SnapshotTable(os.path.join(workdir, "frontier_delta"))
        self.pages_tbl = SnapshotTable(os.path.join(workdir, "pages"))
        self.state_path = os.path.join(workdir, "crawl_state.json")

    # ------------------------------------------------------------ state ---
    def _save_state(self, wave: int, done: bool) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"wave": wave, "done": done}, fh)
        os.replace(tmp, self.state_path)

    def load_state(self) -> dict | None:
        if not os.path.exists(self.state_path):
            return None
        with open(self.state_path) as fh:
            return json.load(fh)

    # ---------------------------------------- running per-seed aggregates --
    # Stored in each snapshot's summary metadata (the Iceberg pattern the
    # north_rule asks for): every base append carries the running per-seed
    # max enqueue_seq, every delta append the running per-seed visit and
    # location counts. Each table's summary describes exactly its own
    # committed content, so budgets derived from them are crash-consistent
    # with the data a wave reads — no O(frontier) scan, no side state.
    def _base_agg(self) -> dict[str, int]:
        """Per-seed max enqueue_seq from the base snapshot's summary. Every
        frontier write (seed, discover, compact, requeue) records it, so a
        snapshot without ``max_seq`` was not written by this engine: it
        raises ValueError naming the table and snapshot instead of being
        re-derived by a scan."""
        cur = self.frontier_tbl.current() or {}
        agg = cur.get("summary", {}).get("max_seq")
        if agg is None:
            raise ValueError(
                f"frontier table {self.frontier_tbl.path} snapshot "
                f"{cur.get('snapshot_id')} has no max_seq in its summary"
            )
        return dict(agg)

    def _delta_agg(self) -> tuple[dict[str, int], dict[str, int]]:
        cur = self.delta_tbl.current() if self.delta_tbl.exists() else None
        s = (cur or {}).get("summary", {})
        return dict(s.get("visited_n", {})), dict(s.get("loc_found", {}))

    # ------------------------------------------------- merge-on-read view --
    def _delta(self) -> DataFrame | None:
        if not self.delta_tbl.exists():
            return None
        d = self.delta_tbl.read(self.spark)
        return d if d.columns else None

    def frontier(self) -> DataFrame:
        """Current frontier state: base ⟕ status-delta (merge-on-read)."""
        base = self.frontier_tbl.read(self.spark)
        delta = self._delta()
        if delta is None:
            return base
        d = delta.select(
            "seed_host", "url",
            F.col("status").alias("_dstatus"),
            F.col("wave_visited").alias("_dwave"),
            F.col("visit_seq").alias("_dseq"),
        )
        return (
            base.join(d, ["seed_host", "url"], "left")
            .withColumn("status", F.coalesce("_dstatus", "status"))
            .withColumn("wave_visited", F.coalesce("_dwave", "wave_visited"))
            .withColumn("visit_seq", F.coalesce("_dseq", "visit_seq"))
            .drop("_dstatus", "_dwave", "_dseq")
        )

    def _compact(self, wave: int) -> None:
        """Fold the delta into base (one O(frontier) rewrite per
        ``compact_every`` waves instead of per wave) and truncate it. The
        running aggregates are carried forward in both new snapshots'
        summaries, so they survive the fold and later snapshot expiry."""
        if self._delta() is None:
            return
        visited_n, loc_found = self._delta_agg()
        # safe to write lazily from the merged plan: overwrite writes a NEW
        # file set; the old base files it reads live until expire_snapshots
        merged = self.frontier()
        self.frontier_tbl.overwrite(
            merged,
            summary={"wave": wave, "op": "compact", "max_seq": self._base_agg()},
            lineage_key="seed_host",
        )
        empty = local_df(self.spark, [], DELTA_SCHEMA)
        self.delta_tbl.overwrite(
            empty,
            summary={
                "wave": wave, "op": "truncate",
                "visited_n": visited_n, "loc_found": loc_found,
            },
        )

    # ------------------------------------------------------------ seeds ---
    def _seed_frontier(self) -> DataFrame:
        rows = [
            (url, url.split("//", 1)[1].split("/", 1)[0], 0, 0, 0, None, "queued", None, None)
            for url in self.web.seed_urls()
        ]
        return local_df(self.spark, rows, FRONTIER_SCHEMA)

    # ---------------------------------------------------------- requeue ---
    def requeue(self, urls: DataFrame) -> int:
        """Re-queue previously visited (or errored) URLs for a fresh fetch —
        TTL expiry / forced re-crawl, the mutation a crawl ledger needs that
        the reference's in-memory ``visited`` Sets get from ``delete()``
        (site-crawler.service.js:134-136).

        Mechanics: fold the status delta into base (the existing replay-safe
        compact), then rewrite base flipping matching visited/error rows back
        to ``queued`` with their visit columns cleared, and re-publish the
        per-seed running visit counts decremented by the requeued rows so the
        page budget frees up. ``run(resume=True)`` then picks the rows up in
        the normal wave loop; re-visits reuse ``visit_seq = enqueue_seq``, so
        the crawl order stays deterministic.

        The seen set needs no surgery: it is the base's discovery rows, and
        requeued urls keep theirs, so re-discoveries still dedup against the
        frontier.

        ``urls`` is a DataFrame with a ``url`` column — typically a small TTL
        batch (joined broadcast). Location budgets (``loc_found``) stay
        consumed: harvested locations remain in the pages log, so a re-visit
        must not double-fund the W5 cap. Returns the number of rows requeued.
        """
        if not self.frontier_tbl.exists():
            return 0
        state = self.load_state() or {}
        wave = state.get("wave", 0)
        self._compact(wave)  # base becomes the single status authority

        base = self.frontier_tbl.read(self.spark)
        rq = urls.select(F.col("url").alias("_rq")).distinct()
        marked = base.join(F.broadcast(rq), base["url"] == F.col("_rq"), "left")
        hit = F.col("_rq").isNotNull() & F.col("status").isin("visited", "error")
        counts = {
            r["seed_host"]: r["n"]
            for r in marked.filter(hit)
            .groupBy("seed_host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n = sum(counts.values())
        if n == 0:
            return 0

        reset = (
            marked.withColumn(
                "status", F.when(hit, F.lit("queued")).otherwise(F.col("status"))
            )
            .withColumn(
                "wave_visited",
                F.when(hit, F.lit(None).cast("int")).otherwise(F.col("wave_visited")),
            )
            .withColumn(
                "visit_seq",
                F.when(hit, F.lit(None).cast("long")).otherwise(F.col("visit_seq")),
            )
            .drop("_rq")
        )
        # overwrite writes a NEW fileset; the old base files the lazy plan
        # reads live until expire_snapshots (same contract as _compact)
        self.frontier_tbl.overwrite(
            reset,
            summary={"wave": wave, "op": "requeue", "max_seq": self._base_agg()},
            lineage_key="seed_host",
        )
        visited_n, loc_found = self._delta_agg()
        for seed, c in counts.items():
            visited_n[seed] = max(0, visited_n.get(seed, 0) - c)
        self.delta_tbl.overwrite(
            local_df(self.spark, [], DELTA_SCHEMA),
            summary={
                "wave": wave, "op": "requeue",
                "visited_n": visited_n, "loc_found": loc_found,
            },
        )
        self._save_state(wave, done=False)
        return n

    # ------------------------------------------------------------- run ----
    def run(self, resume: bool = False, max_waves: int = 100) -> DataFrame:
        """Run (or resume) the crawl; returns the final frontier DataFrame."""
        spark = self.spark
        if resume and self.frontier_tbl.exists():
            state = self.load_state()
            wave = state["wave"] if state else 0
            if state and state.get("done"):
                return self.frontier()
        else:
            wave = 0
            # Fresh start on a dirty workdir: frontier is overwritten below,
            # but delta / pages tables from a previous run would otherwise
            # survive and poison the new run (stale visited counts shrink
            # per-seed budgets).
            for tbl in (self.delta_tbl, self.pages_tbl):
                tbl.drop()
            seeds = self._seed_frontier()
            self.frontier_tbl.overwrite(
                seeds,
                summary={
                    "wave": 0, "op": "seed",
                    "max_seq": {
                        url.split("//", 1)[1].split("/", 1)[0]: 0
                        for url in self.web.seed_urls()
                    },
                },
                lineage_key="seed_host",
            )
            self._save_state(0, done=False)

        robots_df = None
        if self.cfg.check_robots or self.cfg.wave_seconds:
            from web_crawler_spark.schemas import ROBOTS

            robots_df = local_df(
                spark,
                [self.web.robots(h) for h in range(self.web.n_hosts)], ROBOTS
            )

        while wave < max_waves:
            wave += 1
            progressed = self._run_wave(wave, robots_df)
            if not progressed:
                self._compact(wave)
                self._save_state(wave, done=True)
                break
            if self.cfg.compact_every and wave % self.cfg.compact_every == 0:
                self._compact(wave)
            self._save_state(wave, done=False)
        return self.frontier()

    def _run_wave(self, wave: int, robots_df) -> bool:
        """One wave: budgeted visit of lowest-seq queued rows → robots gate
        → fetch → W5 cutoff → link expansion → seen anti-join → append.
        Returns False when no work remains (all budgets exhausted or queue
        drained).

        After the robots gate the wave holds ONE persisted slice: the fetch
        output plus a ``status`` column (visited/error), with robots-blocked
        rows unioned in as ``robots_blocked`` (no body, ``fetch_ok`` false,
        ``n_locations`` 0). The W5 cutoff, the per-seed stats aggregate,
        the status transitions and the pages append (its non-blocked rows)
        all read that one frame.

        All writes are delta-sized appends (new discoveries → base table,
        status transitions → delta table); the only full-base work is a
        column-pruned read for candidate selection and the seen anti-join.
        Budgets come from the running per-seed aggregates in the snapshot
        summaries (O(#seeds) driver state; for seed sets beyond ~10^5 move
        them to a side table keyed like the frontier)."""
        cfg = self.cfg
        spark = self.spark

        base = self.frontier_tbl.read(spark)
        delta = self._delta()
        # after compaction base statuses are baked; before, an anti-join vs
        # the delta keys IS the merge for the queued slice (urls transition
        # at most once)
        queued = base.filter(F.col("status") == "queued")
        if delta is not None:
            queued = queued.join(
                delta.select("seed_host", "url"), ["seed_host", "url"], "left_anti"
            )
        # depth gate (W6): popped-and-skipped, no budget consumed
        too_deep = queued.filter(F.col("depth") > cfg.max_depth)
        visitable = queued.filter(F.col("depth") <= cfg.max_depth)

        max_seq_d = self._base_agg()
        visited_n, loc_found = self._delta_agg()

        def _remaining(seed: str) -> int:
            if (
                cfg.max_locations is not None
                and loc_found.get(seed, 0) >= cfg.max_locations
            ):
                return 0  # W5: location cap reached → seed takes no pages
            return max(0, cfg.max_pages - visited_n.get(seed, 0))

        remaining = local_df(
            spark,
            [(s, _remaining(s)) for s in max_seq_d],
            "seed_host string, remaining int",
        )

        take = FR.take_budgeted(
            visitable, remaining, cfg.host_wave_budget,
            robots=robots_df if cfg.wave_seconds else None,
            wave_seconds=cfg.wave_seconds,
        )
        take = take.withColumn("wave", F.lit(wave)).withColumn("visit_seq", F.col("enqueue_seq"))

        blocked = None
        if robots_df is not None and cfg.check_robots:
            take, blocked = FR.robots_gate(take, robots_df)

        host_salts = None
        if cfg.host_salt_budget:
            host_salts = SK.hot_key_salts(
                SK.cms_build(take, "seed_host"),
                take.select("seed_host").distinct(),
                "seed_host",
                per_salt_budget=cfg.host_salt_budget,
            )
        wave_rows = fetch_pages(
            take, self.web, cfg.salt_partitions, host_salts=host_salts
        ).withColumn(
            "status",
            F.when(F.col("fetch_ok"), F.lit("visited")).otherwise(F.lit("error")),
        )
        if blocked is not None:
            wave_rows = wave_rows.unionByName(
                blocked.select(
                    "url", "seed_host", "depth", "enqueue_seq", "wave", "visit_seq",
                    F.lit(None).cast("string").alias("body"),
                    F.lit(None).cast("string").alias("xhr_json"),
                    F.lit(False).alias("fetch_ok"),
                    F.lit(0).alias("n_locations"),
                    F.lit("robots_blocked").alias("status"),
                )
            )
        wave_rows = wave_rows.persist()

        # ---- W5 in-wave cutoff (professional-crawler.service.js:79-82) ----
        # the reference checks locationsFound before visiting EACH url, so
        # the visited set per seed is the maximal visit-order prefix where
        # every page's preceding cumulative count is below the cap. Pages
        # fetched speculatively beyond the cutoff stay queued (untransitioned)
        # and their links are not expanded.
        if cfg.max_locations is not None:
            carry = local_df(
                spark,
                [(s, loc_found.get(s, 0)) for s in max_seq_d],
                "seed_host string, _carry long",
            )
            wv = Window.partitionBy("seed_host").orderBy("visit_seq")
            keep_keys = (
                wave_rows.select("seed_host", "url", "visit_seq", "n_locations")
                .join(F.broadcast(carry), "seed_host", "left")
                .withColumn(
                    "_prev", F.sum("n_locations").over(wv) - F.col("n_locations")
                )
                .filter(
                    F.coalesce(F.col("_carry"), F.lit(0)) + F.col("_prev")
                    < cfg.max_locations
                )
                .select("seed_host", "url")
            )
            kept = wave_rows.join(keep_keys, ["seed_host", "url"], "left_semi").persist()
            wave_rows.unpersist()
            wave_rows = kept

        # ---- per-seed wave stats: ONE action yields page and transition
        # counts, location sums and the last visited position — the driver
        # loop stays O(#seeds) per wave, not O(actions x stages)
        stats = {
            r["seed_host"]: r
            for r in wave_rows.groupBy("seed_host").agg(
                F.count(F.when(F.col("status") != "robots_blocked", 1)).alias("_pages"),
                F.count(F.lit(1)).alias("_n"),
                F.sum(
                    F.when(F.col("fetch_ok"), F.col("n_locations")).otherwise(F.lit(0))
                ).alias("_nl"),
                F.max("visit_seq").alias("_vk"),
            ).collect()
        }
        n_fetched = sum(r["_pages"] for r in stats.values())
        n_transitions = sum(r["_n"] for r in stats.values())
        for seed, r in stats.items():
            visited_n[seed] = visited_n.get(seed, 0) + r["_n"]
            if cfg.max_locations is not None and r["_pages"]:
                loc_found[seed] = loc_found.get(seed, 0) + int(r["_nl"])

        # ---- depth-skip gate (W6 x W5 interaction) ------------------------
        # Without a location cap every queued too-deep row can be popped-and-
        # skipped this wave (the single-threaded loop eventually pops them
        # all). With a cap, the reference loop STOPS once locationsFound >=
        # cap, so a capped seed's deep rows after the last visited position
        # are never popped — they must stay queued, and a fully capped seed
        # must not keep the wave loop alive.
        if cfg.max_locations is None:
            deep_trans = too_deep
        else:
            capped_seeds = [
                s2 for s2, n in loc_found.items() if n >= cfg.max_locations
            ]
            vk_rows = local_df(
                spark,
                [(seed, r["_vk"]) for seed, r in stats.items()],
                "seed_host string, _vk long",
            )
            deep_trans = (
                too_deep.join(F.broadcast(vk_rows), "seed_host", "left")
                .filter(
                    (~F.col("seed_host").isin(capped_seeds) if capped_seeds else F.lit(True))
                    | (F.col("_vk").isNotNull() & (F.col("enqueue_seq") < F.col("_vk")))
                )
                .drop("_vk")
            )
        if n_transitions == 0 and deep_trans.isEmpty():
            wave_rows.unpersist()
            return False

        ok_pages = wave_rows.filter(F.col("fetch_ok"))

        # ---- link expansion on successfully fetched pages ----------------
        links = (
            FR.parse_links(ok_pages)
            .select(
                "seed_host",
                F.col("enqueue_seq").alias("parent_seq"),
                F.col("url").alias("parent_url"),
                F.col("depth").alias("parent_depth"),
                "link_idx",
                "href",
            )
        )
        # one window per (seed_host, url) keeps the smallest (parent_seq,
        # link_idx): the first discoverer, which is also that page's first
        # occurrence of the link, so no per-page dedup runs before it.
        # Persisted because the anti-join (feeding the base append) and the
        # `candidates` count both read it; an Observation on the anti-join
        # scan would save the count job, but CollectMetrics under a join
        # trips a JVM assertion in this PySpark build.
        cand = FR.dedup_first_discoverer(FR.clean_candidate_links(links)).persist()
        # seen set == base discovery rows (delta only changes status)
        new = FR.anti_join_seen(cand, base)

        max_seq = local_df(
            spark,
            [(s, m) for s, m in max_seq_d.items()],
            "seed_host string, max_seq long",
        )
        new = FR.assign_enqueue_seq(new, max_seq)

        new_frontier_rows = new.select(
            "url",
            "seed_host",
            (F.col("parent_depth") + 1).alias("depth"),
            "enqueue_seq",
            F.lit(wave).alias("wave_discovered"),
            F.col("parent_url").alias("lineage"),
            F.lit("queued").alias("status"),
            F.lit(None).cast("int").alias("wave_visited"),
            F.lit(None).cast("long").alias("visit_seq"),
        ).persist()

        # ---- status transitions (the wave's frontier delta) ---------------
        transitions = wave_rows.select(
            "seed_host", "url", "status",
            F.lit(wave).alias("wave_visited"), "visit_seq",
        ).unionByName(
            deep_trans.select(
                "seed_host", "url", F.lit("depth_skipped").alias("status"),
                F.lit(None).cast("int").alias("wave_visited"),
                F.lit(None).cast("long").alias("visit_seq"),
            )
        )

        # ---- new-discovery aggregates: one action gives count + max seq
        # (and doubles as the frontier append's per-partition lineage) ----
        n_new = 0
        new_lineage: dict[str, int] = {}
        for r in new_frontier_rows.groupBy("seed_host").agg(
            F.count(F.lit(1)).alias("_n"), F.max("enqueue_seq").alias("_m")
        ).collect():
            n_new += r["_n"]
            new_lineage[r["seed_host"]] = int(r["_n"])
            max_seq_d[r["seed_host"]] = max(
                max_seq_d.get(r["seed_host"], 0), r["_m"]
            )
        n_cand = cand.count()
        summary = {
            "wave": wave,
            "pages_fetched": n_fetched,
            "robots_blocked": n_transitions - n_fetched,
            "candidates": n_cand,
            "deduped_out": n_cand - n_new,
            "new_urls": n_new,
            "visited_n": visited_n,
            "loc_found": loc_found,
        }
        # Commit protocol: {pages, base append} are mutually independent
        # and each replay-safe in ANY completion order (duplicate page
        # appends dedup on read, and a re-run wave re-discovers the same
        # URLs into an anti-join that now drops them — the base never
        # double-appends and enqueue_seqs never collide), so they're
        # submitted CONCURRENTLY; the delta append stays strictly after the
        # barrier as the wave's single commit point. Spark job submission
        # is thread-safe and every write input is a persisted DataFrame, so
        # the two small write jobs overlap their fixed scheduling/IO cost
        # instead of paying it serially.
        # lineage passed from the aggregates already collected above — no
        # read-back job per append (the delta append below keeps the
        # read-back since deep-skip rows have no driver-side counts)
        def _write_pages() -> None:
            self.pages_tbl.append(
                wave_rows.filter(F.col("status") != "robots_blocked").drop("status"),
                summary={"wave": wave, "rows": n_fetched},
                lineage_key="seed_host",
                lineage={s: int(r["_pages"]) for s, r in stats.items() if r["_pages"]},
            )

        def _write_base() -> None:
            self.frontier_tbl.append(
                new_frontier_rows,
                summary={"wave": wave, "op": "discover", "max_seq": max_seq_d},
                lineage_key="seed_host",
                lineage=new_lineage,
            )

        if n_new == 0:
            _write_pages()
        else:
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [pool.submit(_write_pages), pool.submit(_write_base)]
            # pool __exit__ joined all threads; surface any failure before
            # the commit-point append below
            for fut in futures:
                fut.result()
        self.delta_tbl.append(transitions, summary=summary, lineage_key="seed_host")
        self.frontier_tbl.expire_snapshots(self.cfg.keep_snapshots)
        self.delta_tbl.expire_snapshots(self.cfg.keep_snapshots)
        self.pages_tbl.expire_snapshots(self.cfg.keep_snapshots)

        wave_rows.unpersist()
        cand.unpersist()
        new_frontier_rows.unpersist()
        # progress iff we visited, blocked, or retired deep rows
        return True

    # ------------------------------------------------------------ results -
    def visit_order(self) -> DataFrame:
        """Fetched pages in reference FIFO order, per seed (merge-on-read:
        correct mid-run too; after completion base is compacted)."""
        f = self.frontier()
        return f.filter(F.col("status").isin("visited", "error")).orderBy(
            "seed_host", "visit_seq"
        )

    def discovered(self) -> DataFrame:
        return self.frontier().orderBy("seed_host", "enqueue_seq")

    def prioritized(self) -> DataFrame:
        """Phase-2 prioritized URL list (W1 bucket sort)."""
        return FR.priority_rank(self.frontier()).orderBy(
            "seed_host", "priority_rank"
        )
