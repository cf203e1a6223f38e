"""Frontier operators: link expansion, seen-set anti-join, priority dispatch.

Spark-first restatement of the reference's in-memory BFS machinery
(site-crawler.service.js:129-196):

- ``visited.has(url)`` / ``allDiscoveredUrls.has(url)``  →  J1: one exact
  left_anti join against the frontier table on (seed_host, url).
- FIFO ordering  →  an explicit ``enqueue_seq`` column: the queue position
  a single-threaded run would assign. All order-sensitive steps sort on it
  (never on partition order) — this is the bit-identity contract.
- politeness / priority dispatch  →  W1/W3/W4: window ranking partitioned
  by seed_host (equivalently host: same-domain crawls have one host per
  seed), budget filters on the rank.

Scale notes (100 TB / 10^10 URLs): every window here partitions by
seed_host — no global windows. The per-seed sequential ordering is the
determinism the north_rule demands; across seeds everything is
embarrassingly parallel. Skew (one hot host) is handled by salting the
fetch stage (see plans/crawl.py) — ranking windows only ever see the
budget-capped candidate slice, not the whole frontier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_crawler_spark.functions import urls as U

LINK_HREF_RE = '<a href="([^"]+)">'


def parse_links(pages: DataFrame, body_col: str = "body") -> DataFrame:
    """Extract hrefs in document order from fetched HTML (JVM-side regex).

    Reference: page.evaluate over a[href] (site-crawler.service.js:14-18).
    Output: one row per (page, link_idx, href).
    """
    return pages.select(
        "*",
        F.posexplode_outer(
            F.expr(f"regexp_extract_all({body_col}, '{LINK_HREF_RE}', 1)")
        ).alias("link_idx", "href"),
    )


def clean_candidate_links(links: DataFrame) -> DataFrame:
    """Scheme filter → same-domain → canonicalize → exclusion (F1-F4).

    Expects columns: href, seed_host, link_idx. Adds ``url`` (canonical).
    All deterministic built-ins → Catalyst pushes them below the exchange,
    and none of it touches Python.
    """
    return (
        links.filter(F.col("href").isNotNull())
        .filter(~U.bad_scheme("href"))
        .filter(U.same_domain("href", "seed_host"))
        .withColumn("url", U.canonicalize("href"))
        .filter(F.col("url") != "")
        .filter(~U.is_excluded("url"))
    )


def dedup_first_discoverer(links: DataFrame) -> DataFrame:
    """Cross-page enqueue dedup: the first (parent_seq, link_idx) wins
    (site-crawler.service.js:163-168 checks Sets at enqueue time). The
    winner is also the first occurrence on its own page, so this subsumes
    the per-page Set (discoverAllLinks, site-crawler.service.js:15,35)."""
    w = Window.partitionBy("seed_host", "url").orderBy("parent_seq", "link_idx")
    return (
        links.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """J1: drop candidates whose (seed_host, url) is already in the seen set.

    One exact left_anti join, JVM-side. A Bloom pre-prune in front of it
    was measured not to pay on crawl traffic: almost every candidate link
    points at a URL the crawl has already seen, so nearly all of them fall
    through to this join anyway, and the sketch can only shrink the probe
    side, never the scan of the seen set.
    """
    seen_urls = seen.select("seed_host", "url")
    return candidates.join(seen_urls, on=["seed_host", "url"], how="left_anti")


def assign_enqueue_seq(new_links: DataFrame, max_seq: DataFrame) -> DataFrame:
    """Append-order sequence: prev per-seed max + rank by (parent_seq,
    link_idx) — exactly the order a single-threaded loop pushes them.

    ``max_seq``: small DF (seed_host, max_seq). Broadcast-joined.
    """
    w = Window.partitionBy("seed_host").orderBy("parent_seq", "link_idx")
    return (
        new_links.join(F.broadcast(max_seq), "seed_host", "left")
        .withColumn("enqueue_seq", F.coalesce(F.col("max_seq"), F.lit(0)) + F.row_number().over(w))
        .drop("max_seq")
    )


def priority_rank(frontier: DataFrame, order_cols: list[str] | None = None) -> DataFrame:
    """W1: 3-tier priority ranking within each seed's discovered set —
    stable bucket sort = orderBy(tier, enqueue_seq)."""
    order_cols = order_cols or ["enqueue_seq"]
    w = Window.partitionBy("seed_host").orderBy(
        U.priority_tier("url").asc(), *[F.col(c).asc() for c in order_cols]
    )
    return frontier.withColumn("priority_tier", U.priority_tier("url")).withColumn(
        "priority_rank", F.row_number().over(w)
    )


def take_budgeted(
    candidates: DataFrame,
    remaining: DataFrame,
    host_wave_budget: int | None = None,
    order_col: str = "enqueue_seq",
    robots: DataFrame | None = None,
    wave_seconds: float | None = None,
) -> DataFrame:
    """W4: per-seed page budget + per-host politeness budget in one rank.

    candidates: queued frontier rows (already depth-filtered).
    remaining: small DF (seed_host, remaining) — pages left in this seed's
    maxPages budget. Rank by FIFO position; keep rank <= min(remaining,
    host_wave_budget, crawl-delay budget).

    Politeness via robots crawl-delay (robots.service.js:79-87): with
    ``robots`` (host, crawl_delay_s) and ``wave_seconds``, a host's
    per-wave budget is floor(wave_seconds / max(delay, 1s inter-request
    default)) — the deterministic batch-count restatement of "sleep
    crawl-delay between requests". A 0-delay host falls back to the
    reference's 1000 ms default inter-request gap.
    """
    w = Window.partitionBy("seed_host").orderBy(order_col)
    out = (
        candidates.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(remaining), "seed_host", "inner")
        .filter(F.col("_rk") <= F.col("remaining"))
    )
    if host_wave_budget is not None:
        out = out.filter(F.col("_rk") <= F.lit(host_wave_budget))
    if robots is not None and wave_seconds is not None:
        # permissive-on-failure: a crawl-delay from a robots fetch that
        # FAILED was never served — such hosts get the 1s default gap
        # (robots.service.js:49-53), not the synthesized delay value
        effective_delay = F.when(
            F.col("fetch_ok"), F.col("crawl_delay_s")
        ).otherwise(F.lit(0.0))
        delay_budget = robots.select(
            F.col("host").alias("seed_host"),
            F.greatest(
                F.floor(
                    F.lit(float(wave_seconds))
                    / F.greatest(effective_delay, F.lit(1.0))
                ),
                F.lit(1),
            ).alias("_delay_budget"),
        )
        out = (
            out.join(F.broadcast(delay_budget), "seed_host", "left")
            .filter(F.col("_rk") <= F.coalesce(F.col("_delay_budget"), F.lit(2**31)))
            .drop("_delay_budget")
        )
    return out.drop("remaining")


def budget_by_ip(
    candidates: DataFrame,
    host_ip: DataFrame,
    ip_wave_budget: int,
    host_col: str = "seed_host",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Mercator-style SERVER-level politeness (Heydon & Najork 1999 §3.2):
    the politeness key is the resolved server address, not the hostname.
    A shared-hosting box serving 10^3 vhosts must get ONE budget across
    all of them — per-host budgets alone would hit it at 10^3× the
    intended rate. Mercator routes fetches through per-server back
    queues for exactly this reason; this is the batch-wave restatement
    (the complement of :func:`take_budgeted`, which enforces the per-seed
    and per-host tiers).

    ``host_ip`` is a (host, ip) resolution dim — DNS answers arrive AS
    DATA and broadcast onto the wave (at 10^10 URLs the dim is hosts-
    sized, ~10^7 rows, comfortably broadcastable). A host with no
    resolution row falls back to its own hostname as a private key:
    no answer → per-host budget, conservative, never a shared-bucket
    free-ride.

    Rank within the politeness key follows ``order_cols`` (default: the
    FIFO enqueue_seq then host) — deterministic, so the kept set is
    engine-exact. One window over one exchange keyed by the politeness
    key; the dim never shuffles.

    Returns candidates + (polite_key, ip_rank), filtered to
    ``ip_rank <= ip_wave_budget``.
    """
    order_cols = order_cols or ["enqueue_seq", host_col]
    dim = host_ip.select(
        F.col(host_ip.columns[0]).alias(host_col),
        F.col(host_ip.columns[1]).alias("_ip"),
    )
    keyed = candidates.join(F.broadcast(dim), host_col, "left").withColumn(
        "polite_key", F.coalesce(F.col("_ip"), F.col(host_col))
    )
    w = Window.partitionBy("polite_key").orderBy(*order_cols)
    return (
        keyed.withColumn("ip_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("ip_rank") <= F.lit(ip_wave_budget))
        .drop("_ip")
    )


def parse_robots_txt(
    robots: DataFrame, body_col: str = "robots_txt", host_col: str = "host"
) -> DataFrame:
    """S4: raw robots.txt text → the structured form the gate consumes
    (robots.service.js:17-61 fetchRobotsForHost + :79-87 getCrawlDelay +
    :94-104 getSitemaps, re-derived from the robots exclusion protocol).

    Parsed subset: ``Sitemap:`` directives are collected globally (they
    are group-independent per the protocol); ``Disallow:``/``Allow:``
    rules and ``Crawl-delay:`` come from the ``User-agent: *`` group(s),
    where consecutive User-agent lines share one group and a directive
    line closes the group header. Empty Disallow values (allow-all) are
    dropped; ``allow_prefixes`` feeds the RFC 9309 longest-match mode of
    robots_gate (the default prefix gate ignores it, matching the
    reference). Comments (#) and blank lines are stripped. One fold over
    the line array per row — no shuffle, no Python."""
    body = F.coalesce(F.col(body_col), F.lit(""))
    lines = F.filter(
        F.transform(
            F.split(body, "\n"),
            lambda ln: F.trim(F.regexp_replace(ln, r"#.*$", "")),
        ),
        lambda ln: F.length(ln) > 0,
    )
    sitemaps = F.filter(
        F.transform(
            lines,
            lambda ln: F.when(
                ln.rlike(r"(?i)^sitemap\s*:"),
                F.trim(F.regexp_extract(ln, r"(?i)^sitemap\s*:\s*(.*)$", 1)),
            ),
        ),
        lambda v: v.isNotNull() & (F.length(v) > 0),
    )
    # fold state: (star = current group includes *, in_header = still
    # reading consecutive User-agent lines, disallows, delay)
    acc0 = F.struct(
        F.lit(False).alias("star"),
        F.lit(False).alias("in_header"),
        F.array().cast("array<string>").alias("disallows"),
        F.array().cast("array<string>").alias("allows"),
        F.lit(None).cast("double").alias("delay"),
    )

    def step(acc, ln):
        is_ua = ln.rlike(r"(?i)^user-agent\s*:")
        ua_val = F.trim(F.regexp_extract(ln, r"(?i)^user-agent\s*:\s*(.*)$", 1))
        is_star = ua_val == "*"
        ua_step = F.struct(
            # a UA line after directives starts a fresh group; inside a
            # header run it widens the current group
            F.when(acc["in_header"], acc["star"] | is_star)
            .otherwise(is_star).alias("star"),
            F.lit(True).alias("in_header"),
            acc["disallows"].alias("disallows"),
            acc["allows"].alias("allows"),
            acc["delay"].alias("delay"),
        )
        dis_val = F.trim(F.regexp_extract(ln, r"(?i)^disallow\s*:\s*(.*)$", 1))
        add_dis = (
            acc["star"] & ln.rlike(r"(?i)^disallow\s*:")
            & (F.length(dis_val) > 0)
        )
        alw_val = F.trim(F.regexp_extract(ln, r"(?i)^allow\s*:\s*(.*)$", 1))
        add_alw = (
            acc["star"] & ln.rlike(r"(?i)^allow\s*:")
            & (F.length(alw_val) > 0)
        )
        delay_val = F.regexp_extract(
            ln, r"(?i)^crawl-delay\s*:\s*([0-9.]+)", 1
        )
        new_delay = F.when(
            acc["star"] & (delay_val != ""),
            F.nullif(delay_val, F.lit("")).cast("double"),
        ).otherwise(acc["delay"])
        dir_step = F.struct(
            acc["star"].alias("star"),
            F.lit(False).alias("in_header"),
            F.when(add_dis, F.concat(acc["disallows"], F.array(dis_val)))
            .otherwise(acc["disallows"]).alias("disallows"),
            F.when(add_alw, F.concat(acc["allows"], F.array(alw_val)))
            .otherwise(acc["allows"]).alias("allows"),
            new_delay.alias("delay"),
        )
        return F.when(is_ua, ua_step).otherwise(dir_step)

    star_group = F.aggregate(lines, acc0, step)
    return robots.select(
        F.col(host_col).alias("host"),
        sitemaps.alias("sitemaps"),
        star_group["disallows"].alias("disallow_prefixes"),
        star_group["allows"].alias("allow_prefixes"),
        F.coalesce(star_group["delay"], F.lit(0.0)).alias("crawl_delay_s"),
    )


def _robots_rule_regex(rule: Column) -> Column:
    """RFC 9309 §2.2.2 rule → anchored regex string, in column algebra:
    regex metacharacters escaped, ``*`` → ``.*``, a TRAILING ``$`` →
    end-of-path anchor (a ``$`` anywhere else is a literal octet)."""
    anchored = rule.endswith("$")
    body = F.when(
        anchored, rule.substr(F.lit(1), F.length(rule) - 1)
    ).otherwise(rule)
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), esc, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def robots_decision(
    path: Column | str, allows: Column | str, disallows: Column | str
) -> Column:
    """RFC 9309 longest-match robots evaluation (the Googlebot
    semantics), in-row: among ALL matching rules from both groups, the
    one with the most octets wins; an Allow and Disallow of equal length
    tie in favor of Allow; no matching rule means allowed. Rules support
    the protocol's two metacharacters (``*`` wildcard, trailing ``$``
    anchor); matching uses per-rule regexes built in column algebra, so
    the whole evaluation is one codegen projection over the broadcast
    rule arrays — no UDF, no shuffle.

    Returns struct(allowed BOOLEAN, rule STRING nullable — the winning
    rule, NULL when nothing matched, specificity INT — its octet
    length).
    """
    p = F.col(path) if isinstance(path, str) else path
    alw = F.coalesce(
        F.col(allows) if isinstance(allows, str) else allows, F.array()
    )
    dis = F.coalesce(
        F.col(disallows) if isinstance(disallows, str) else disallows,
        F.array(),
    )

    def entries(rules: Column, is_allow: int) -> Column:
        return F.transform(
            rules,
            lambda r: F.struct(
                F.length(r).alias("len"),
                F.lit(is_allow).alias("allow"),
                r.alias("rule"),
            ),
        )

    matched = F.filter(
        F.concat(entries(alw, 1), entries(dis, 0)),
        lambda e: F.rlike(p, _robots_rule_regex(e["rule"])),
    )
    # struct max orders by (len, allow, rule): longest rule wins, a
    # same-length Allow beats Disallow, lexicographic max as final tiebreak
    best = F.array_max(matched)
    return F.struct(
        (best.isNull() | (best["allow"] == 1)).alias("allowed"),
        best["rule"].alias("rule"),
        F.coalesce(best["len"], F.lit(0)).alias("specificity"),
    )


def robots_gate(
    frontier: DataFrame, robots: DataFrame, mode: str = "prefix"
) -> tuple[DataFrame, DataFrame]:
    """J2+F5: broadcast-join robots rules onto candidates; split
    allowed/blocked. Permissive when robots fetch failed
    (robots.service.js:44-53,63-71).

    ``mode='prefix'`` (default) is the reference's gate — any matching
    Disallow prefix blocks, Allow ignored — and is what the pinned crawl
    ordering uses. ``mode='rfc9309'`` evaluates longest-match
    Allow/Disallow precedence with wildcard rules via robots_decision;
    the robots side must then carry ``allow_prefixes`` (parse_robots_txt
    emits it)."""
    if mode not in ("prefix", "rfc9309"):
        raise ValueError(f"mode must be 'prefix' or 'rfc9309', got {mode!r}")
    cols = ["host", "fetch_ok", "disallow_prefixes"]
    if mode == "rfc9309":
        cols.append("allow_prefixes")
    r = robots.select(*cols)
    joined = frontier.join(F.broadcast(r), frontier.seed_host == r.host, "left").drop("host")
    path = U.path_of("url")
    if mode == "rfc9309":
        blocked_expr: Column = (
            F.col("fetch_ok").isNotNull()
            & F.col("fetch_ok")
            & ~robots_decision(
                path, "allow_prefixes", "disallow_prefixes"
            )["allowed"]
        )
        drop = ["fetch_ok", "disallow_prefixes", "allow_prefixes"]
    else:
        blocked_expr = (
            F.col("fetch_ok").isNotNull()
            & F.col("fetch_ok")
            & F.exists(
                F.coalesce(F.col("disallow_prefixes"), F.array()),
                lambda px: path.startswith(px),
            )
        )
        drop = ["fetch_ok", "disallow_prefixes"]
    allowed = joined.filter(~blocked_expr).drop(*drop)
    blocked = joined.filter(blocked_expr).drop(*drop)
    return allowed, blocked


# --------------------------------------------- link-explorer discovery -----
# link-explorer.service.js — discoverLocationPages(:16-62): seed the 22
# high-value paths, add same-host anchors whose href OR text carries a
# location keyword (:94-116), dedupe with first-insertion-wins Set
# semantics, stable-sort by the 6-pattern priority table (:121-151,
# first-match-wins; V8's Array.sort is stable so ties keep insertion
# order), and slice to maxPages (:153-156). All per-page column algebra:
# the only window partitions by the page URL over its <= 22+links
# candidates — no global sort, embarrassingly parallel across pages.

HIGH_VALUE_PATHS = [
    "/contact", "/contact-us", "/contactus", "/locations", "/offices",
    "/office", "/branches", "/stores", "/find-us", "/where-we-are",
    "/global-offices", "/global-locations", "/worldwide", "/about",
    "/about-us", "/company", "/who-we-are", "/careers/country",
    "/company/regions", "/investors", "/store-locator", "/map",
]
_LOCATION_KEYWORDS = [
    "contact", "location", "office", "branch", "store", "center",
    "find us", "where we are", "reach us", "get in touch",
    "global", "worldwide", "international", "country", "region",
    "about", "company", "who we are", "careers",
]
_KEYWORD_RE = "|".join(k.replace(" ", " ") for k in _LOCATION_KEYWORDS)
_DISCOVERY_PRIORITIES = [
    (r"(?i)/(locations?|offices?|stores?)[/?]", 1),
    (r"(?i)/contact", 1),
    (r"(?i)/global", 2),
    (r"(?i)/about", 3),
    (r"(?i)/company", 3),
    (r"(?i)/careers", 4),
]


def discovery_priority(url: Column | str) -> Column:
    """getUrlPriority (:141-151): first matching pattern wins, else 999.
    Note the reference quirk kept intact: pattern 1 requires a '/' or '?'
    AFTER the section word, so the bare high-value path '/locations'
    scores 999 while '/locations/' scores 1."""
    c = F.col(url) if isinstance(url, str) else url
    expr = None
    for pat, prio in _DISCOVERY_PRIORITIES:
        cond = c.rlike(pat)
        expr = F.when(cond, F.lit(prio)) if expr is None else expr.when(cond, F.lit(prio))
    return expr.otherwise(F.lit(999))


def discover_location_pages(pages: DataFrame, max_pages: int = 10) -> DataFrame:
    """discoverLocationPages (:16-62) per fetched page.

    Input: (url, body). Output: (sourceUrl, url, priority, rank) — the
    maxPages highest-priority candidate location pages in the order the
    reference's stable sort yields. Relative-href resolution covers the
    regex-expressible subset (absolute and root-relative hrefs resolve
    exactly; other relatives resolve against the base URL's directory,
    which assumes the base carries a path)."""
    origin = F.regexp_extract("url", r"^(https?://[^/]+)", 1)
    base = pages.select(
        F.col("url").alias("sourceUrl"), origin.alias("origin"), "body"
    )
    n_paths = len(HIGH_VALUE_PATHS)
    paths = base.select(
        "sourceUrl",
        F.posexplode(F.array(*[F.lit(p) for p in HIGH_VALUE_PATHS])),
    ).select(
        "sourceUrl",
        F.concat(F.regexp_extract("sourceUrl", r"^(https?://[^/]+)", 1),
                 F.col("col")).alias("url"),
        F.col("pos").alias("seq"),
    )
    anchors = base.select(
        "sourceUrl", "origin",
        F.posexplode(
            F.regexp_extract_all(
                "body", F.lit(r'(?s)<a href="[^"]*"[^>]*>.*?</a>'), 0
            )
        ).alias("pos", "a"),
    )
    href = F.regexp_extract("a", r'<a href="([^"]*)"', 1)
    text = F.lower(F.trim(F.regexp_replace("a", r"<[^>]+>", "")))
    kw_hit = F.lower(href).rlike(_KEYWORD_RE) | text.rlike(_KEYWORD_RE)
    resolved = (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("/"), F.concat(F.col("origin"), href))
        .otherwise(
            F.concat(
                F.regexp_replace("sourceUrl", r"/[^/]*$", ""), F.lit("/"), href
            )
        )
    )
    links = (
        anchors.filter(kw_hit)
        .select(
            "sourceUrl",
            resolved.alias("url"),
            (F.col("pos") + n_paths).alias("seq"),
        )
        .filter(U.host_of("url") == U.host_of("sourceUrl"))
    )
    cand = paths.unionByName(links)
    first = Window.partitionBy("sourceUrl", "url").orderBy("seq")
    order = Window.partitionBy("sourceUrl").orderBy("priority", "seq")
    return (
        cand.withColumn("_occ", F.row_number().over(first))
        .filter(F.col("_occ") == 1)
        .withColumn("priority", discovery_priority("url").cast("long"))
        .withColumn("rank", F.row_number().over(order).cast("long"))
        .filter(F.col("rank") <= max_pages)
        .select("sourceUrl", "url", "priority", "rank")
    )


# ------------------------------------------------- link-graph priority -----
def host_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 10**12,
    damping: tuple[int, int] = (85, 100),
    checkpoint: bool = False,
    trusted: DataFrame | None = None,
) -> DataFrame:
    """Link-graph PageRank over hosts, in integer fixed-point arithmetic.

    Scale extension of the reference's static 3-tier URL priority
    (site-crawler.service.js:84-124) and the link-explorer's 6-pattern
    sort (link-explorer.service.js): at 10^10-URL scale a frontier wants
    a *global* authority signal per host, not just per-URL path keywords.
    This is the classic crawl-ordering prior (Page et al. 1999; Cho &
    Garcia-Molina's crawl-ordering study uses exactly this signal).

    Engine-exact by construction: ranks are BIGINT fixed-point at
    ``scale`` (initial rank = scale // n_nodes) and every update is

        r[v] = base + SUM over in-edges (u,v) of
               (d_num * r[u]) div (d_den * outdeg(u))

    with ``base = (d_den - d_num) * scale // (d_den * n_nodes)`` — pure
    integer multiply/divide/sum, so the result is independent of
    partitioning, summation order, and engine (DuckDB's ``//`` and
    Spark's ``div`` agree on non-negative operands). Dangling hosts leak
    their mass (the open-system variant): total rank shrinks slightly
    per iteration instead of being redistributed, which keeps the update
    a single aggregation per iteration — the right trade at 10^10 edges,
    and mirrored exactly in the SQL oracle.

    Plan shape per iteration: the (small) rank table is broadcast onto
    the edge set — edges NEVER shuffle; the only exchange is the
    map-side-combinable SUM by ``dst``. By default the 5-iteration plan
    stays fully lazy (each iteration's broadcast materializes the one
    before it, so the nesting is linear, not exponential — A/B'd at 3-8x
    faster than eager checkpointing at small scale). ``checkpoint=True``
    localCheckpoints each iteration's rank table instead: use it at high
    ``iters`` or when the per-host table is large enough that re-deriving
    a lost broadcast would hurt. Callers with a persisted edge DataFrame
    amortize the per-iteration scan; this function does not take
    ownership of the edges' storage lifecycle.

    ``trusted`` (optional, a DataFrame whose first column is the seed
    node id) switches the uniform teleport to **TrustRank** (Gyöngyi,
    Garcia-Molina & Pedersen 2004, "Combating web spam with TrustRank"):
    initial rank and the per-iteration teleport base flow ONLY to the
    trusted seed set, so hosts reachable from the seeds accumulate trust
    while spam farms unreachable from any trusted host decay toward zero
    — the standard anti-spam crawl-budget prior, and the complement of
    detect_url_traps (traps flag bad structure; trust scores good
    provenance). Same integer fixed-point algebra and plan shape: the
    seed flag rides the node table, everything else is unchanged.

    Returns (node BIGINT, rank_int BIGINT).
    """
    d_num, d_den = damping
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=True)
    if trusted is not None:
        seeds = nodes.join(
            trusted.select(F.col(trusted.columns[0]).cast("long").alias("node")),
            "node", "left_semi",
        )
        nodes = nodes.join(
            seeds.withColumn("_seed", F.lit(True)), "node", "left"
        ).select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
        n = nodes.filter("_seed").count()
        if n == 0:
            raise ValueError("trusted seed set shares no node with the graph")
    else:
        nodes = nodes.withColumn("_seed", F.lit(True))
        n = nodes.count()
    if n == 0:
        return nodes.select("node").withColumn(
            "rank_int", F.lit(0).cast("long")
        )
    base = (d_den - d_num) * scale // (d_den * n)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    seed_base = F.when(F.col("_seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.select(
        "node",
        F.when(F.col("_seed"), F.lit(scale // n))
        .otherwise(F.lit(0)).cast("long").alias("rank_int"),
    )
    for _ in range(iters):
        contribs = (
            e.join(F.broadcast(outdeg), "src")
            .join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .select(
                "dst",
                F.expr(f"({d_num} * rank_int) div ({d_den} * od)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (seed_base + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("long")
                .alias("rank_int"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def aggregate_anchor_text(
    links: DataFrame,
    target_col: str = "url",
    anchor_col: str = "anchor",
    max_anchors: int = 16,
) -> DataFrame:
    """Per-target anchor-text rollup: the inbound-link description of a URL.

    Companion to the link-explorer's keyword gate
    (link-explorer.service.js: anchors whose TEXT matches the location
    keywords count as evidence about the TARGET) — aggregated corpus-wide
    it is the standard web-index / training-data signal ("what the web
    calls this page").

    Bounded-state formulation: anchors are normalized (trim+lower),
    made DISTINCT per target (map-side-combinable shuffle), capped to the
    ``max_anchors`` lexicographically-first survivors via a per-target
    window — so no unbounded collect_set ever materializes a hot target's
    million-anchor list — then joined back to the raw per-target link
    count. Two shuffles, both keyed by target, so AQE co-locates them.

    Returns (<target_col>, n_links BIGINT, anchors STRING) where
    ``anchors`` is the '|'-joined sorted capped distinct set.
    """
    t = F.col(target_col)
    norm = F.trim(F.lower(F.col(anchor_col)))
    d = links.select(t.alias("_t"), norm.alias("_a")).distinct()
    w = Window.partitionBy("_t").orderBy("_a")
    capped = d.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_anchors
    )
    agg = capped.groupBy("_t").agg(
        F.array_join(F.array_sort(F.collect_list("_a")), "|").alias("anchors")
    )
    counts = links.groupBy(t.alias("_t")).agg(
        F.count(F.lit(1)).alias("n_links")
    )
    return (
        counts.join(agg, "_t")
        .select(F.col("_t").alias(target_col), "n_links", "anchors")
    )


def recrawl_priority(
    visits: DataFrame,
    now: int,
    url_col: str = "url",
    ts_col: str = "ts",
    fp_col: str = "fp",
    scale: int = 10**6,
) -> DataFrame:
    """Freshness-driven re-crawl scheduling from a visit log.

    The reference crawls once and stops; a standing 10^10-URL frontier
    must decide WHICH visited URLs to fetch again. This is the classic
    change-rate formulation (Cho & Garcia-Molina, "Effective Page Refresh
    Policies for Web Crawlers", TODS 2003): estimate each URL's change
    frequency from observed content-fingerprint transitions, then rank by
    staleness relative to that frequency. Companion to the ledger's
    requeue path (plans/crawl.py): this operator produces the candidate
    ordering the requeue consumes.

    Input: (url, ts BIGINT epoch-micros, fp content fingerprint) — one
    row per historical visit. ``now`` is the caller's decision instant
    (epoch micros; a parameter, never wall clock — determinism contract).

    Engine-exact integer algebra throughout:

        changes   = fingerprint transitions in ts order (first visit ≠ change)
        span      = last_ts - first_ts
        next_due  = last_ts + span div max(changes, 1)
        priority  = (stale_s * scale * (changes + 1)) div (span_s + 1)

    with stale_s/span_s in whole seconds so the product stays inside
    BIGINT at decade-scale spans. Higher priority = more overdue relative
    to the URL's observed change cadence; never-changing URLs decay to
    ~stale/span, hot ones grow linearly with the change count.

    Plan shape: one exchange on url (the lag window), then the per-url
    aggregate rides the SAME partitioning (AQE reuses it); everything
    after is narrow integer arithmetic. No driver-side state.

    Returns (url, n_visits, n_changes, last_ts, next_due, priority, due).
    """
    u, ts, fp = F.col(url_col), F.col(ts_col), F.col(fp_col)
    w = Window.partitionBy(url_col).orderBy(ts_col)
    prev = F.lag(fp).over(w)
    marked = visits.select(
        u.alias("_u"), ts.alias("_ts"),
        (prev.isNotNull() & (fp != prev)).cast("long").alias("_chg"),
    )
    agg = marked.groupBy(F.col("_u").alias(url_col)).agg(
        F.count(F.lit(1)).alias("n_visits"),
        F.sum("_chg").alias("n_changes"),
        F.min("_ts").alias("_first"),
        F.max("_ts").alias("last_ts"),
    )
    next_due = F.col("last_ts") + F.expr(
        "(last_ts - _first) div greatest(n_changes, 1)"
    )
    return agg.select(
        F.col(url_col), "n_visits", "n_changes", "last_ts",
        next_due.alias("next_due"),
        F.expr(
            f"((({now} - last_ts) div 1000000) * {scale} * (n_changes + 1))"
            " div (((last_ts - _first) div 1000000) + 1)"
        ).alias("priority"),
        (F.lit(now) >= next_due).alias("due"),
    )


def detect_url_traps(
    urls: DataFrame,
    url_col: str = "url",
    min_urls: int = 20,
    ratio: tuple[int, int] = (5, 1),
) -> DataFrame:
    """Crawl-trap detection: flag hosts whose URL space explodes under a
    handful of path templates (calendar pages, session ids, faceted
    search) — the classic frontier-hygiene gate (Heydon & Najork's
    Mercator describes the failure mode) that a 10^10-URL crawl needs
    and the reference's per-URL exclusion regexes cannot express.

    A URL's template is its host + path + query with every digit run
    collapsed to 'N' and every query-param value to 'V' — regex-only, so
    the kernel is whole-stage codegen and engine-portable. A host is a
    trap candidate when it has at least ``min_urls`` distinct URLs AND
    distinct URLs exceed ``ratio`` (num/den, integer cross-multiplied —
    no float) times its distinct templates.

    Plan shape: one exchange on (host, template) for the per-template
    distinct counts, then a host-keyed rollup + window that both ride the
    same partitioning. A trap host with 10^8 URLs is 10^8 rows into the
    FIRST aggregate (map-side combined) and one row after it.

    Returns (host, n_urls, n_templates, top_template, top_template_urls,
    is_trap).
    """
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(u, r"^https?://([^/?#]+)", 1))
    path = F.regexp_extract(u, r"^https?://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    tpl = F.concat(
        host,
        F.regexp_replace(path, "[0-9]+", "N"),
        F.when(
            query != "",
            F.concat(F.lit("?"), F.regexp_replace(query, "=[^&#]*", "=V")),
        ).otherwise(F.lit("")),
    )
    per_tpl = (
        urls.select(host.alias("host"), tpl.alias("template"), u.alias("_u"))
        .groupBy("host", "template")
        .agg(F.countDistinct("_u").alias("n"))
    )
    w = Window.partitionBy("host").orderBy(F.col("n").desc(), "template")
    ranked = per_tpl.withColumn("_rk", F.row_number().over(w))
    rollup = per_tpl.groupBy("host").agg(
        F.sum("n").alias("n_urls"),
        F.count(F.lit(1)).alias("n_templates"),
    )
    top = ranked.filter(F.col("_rk") == 1).select(
        "host",
        F.col("template").alias("top_template"),
        F.col("n").alias("top_template_urls"),
    )
    num, den = ratio
    return rollup.join(top, "host").select(
        "host", "n_urls", "n_templates", "top_template", "top_template_urls",
        (
            (F.col("n_urls") >= min_urls)
            & (F.col("n_urls") * den > F.col("n_templates") * num)
        ).alias("is_trap"),
    )


def host_hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the host graph, in
    integer fixed-point arithmetic — the complement to :func:`host_pagerank`
    for frontier seeding: authorities are the pages worth fetching, hubs
    are the pages worth re-parsing for links.

    Update per iteration, all BIGINT (mirrored verbatim in the oracle):

        a_raw[v] = SUM over in-edges  (u,v) of h[u]
        a[v]     = (a_raw[v] * scale) div SUM(a_raw)       (L1 normalize)
        h_raw[u] = SUM over out-edges (u,v) of a[v]
        h[u]     = (h_raw[u] * scale) div SUM(h_raw)

    Overflow bound: values stay ≤ scale after each normalize, so the
    largest intermediate is max_degree * scale^2 — the default scale=10^6
    is safe up to degree ~9e6 inside BIGINT; drop scale for denser graphs.

    Plan shape: scores are broadcast onto the edges (edges never
    shuffle); each half-iteration is one map-side-combinable SUM keyed by
    dst resp. src, plus a 1-row total. Fully lazy like host_pagerank's
    default.

    Returns (node BIGINT, hub_int BIGINT, auth_int BIGINT).
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("s", F.lit(scale).cast("long"))
    auth = hub

    def _half(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        raw = (
            e.join(
                F.broadcast(scores.withColumnRenamed("node", key_in)), key_in
            )
            .groupBy(F.col(key_out).alias("node"))
            .agg(F.sum("s").alias("_raw"))
        )
        total = raw.agg(F.sum("_raw").alias("_t"))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(
                    f"coalesce((_raw * {scale}) div greatest(_t, 1), 0)"
                ).cast("long").alias("s"),
            )
        )

    for _ in range(iters):
        auth = _half(hub, "src", "dst")
        hub = _half(auth, "dst", "src")
    return (
        nodes.join(hub.withColumnRenamed("s", "hub_int"), "node", "left")
        .join(auth.withColumnRenamed("s", "auth_int"), "node", "left")
        .select(
            "node",
            F.coalesce("hub_int", F.lit(0)).cast("long").alias("hub_int"),
            F.coalesce("auth_int", F.lit(0)).cast("long").alias("auth_int"),
        )
    )


def host_opic(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 10**12,
    state: DataFrame | None = None,
) -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobena, WWW 2003) over the host graph, in integer fixed-point
    arithmetic: the crawl-time importance signal that needs NO converged
    offline pass. Every node starts with equal *cash*; a crawl round
    banks each node's cash into its *history* and forwards the cash in
    equal shares along its out-edges; importance after any number of
    rounds is ``history + cash``. Unlike :func:`host_pagerank` (a fixed
    damped power iteration) the estimate is usable after every round and
    improves monotonically — which is why OPIC is the classic frontier
    prioritizer for crawls that cannot wait for convergence.

    Synchronized-batch variant (the paper's §3.2 "crawl all pages each
    round" schedule, which is what a wave-structured Spark crawl does),
    all BIGINT and mirrored verbatim in the SQL oracle:

        hist'[u] = hist[u] + cash[u]
        cash'[v] = SUM over in-edges (u,v) of cash[u] div outdeg(u)
                   + vcash div n            -- virtual page's share
        vcash'   = SUM over dangling u of cash[u]

    The *virtual page* is the paper's strong-connectivity device: here it
    absorbs dangling (outdeg-0) cash each round and redistributes it
    uniformly the next — so mass recycles instead of leaking (the
    distinguishing behavior vs host_pagerank's open-system leak).
    Integer-division dust does leak (< 1 unit per edge per round at
    ``scale``=10^12), identically in both engines, so results are exact
    and independent of partitioning/summation order.

    Plan shape per iteration: the state table (one row per node) is
    broadcast onto the edge set — edges NEVER shuffle; each round is one
    map-side-combinable SUM keyed by ``dst`` plus a 1-row dangling
    aggregate cross-joined back (the same scalar-broadcast shape as
    host_hits' L1 totals). Fully lazy like host_pagerank's default.

    ``state`` makes the computation genuinely ON-LINE — the paper's
    actual contribution: pass a previous return value to continue
    accumulating across crawl waves instead of restarting, so the
    frontier re-prioritizes after every wave at one round's cost. The
    returned table carries the virtual page as node ``-1`` (cash = the
    vcash in flight, history 0) precisely so the state round-trips
    losslessly: ``host_opic(e, iters=a+b)`` ==
    ``host_opic(e, iters=b, state=host_opic(e, iters=a))`` bit-for-bit.
    Nodes absent from the state (pages discovered since) start at zero
    cash and are funded by their in-edges and the virtual share — the
    paper's new-page treatment.

    Returns (node BIGINT, cash_int BIGINT, hist_int BIGINT), including
    the node ``-1`` virtual-page row.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("cash_int"),
            F.lit(0).cast("long").alias("hist_int"),
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # dangling flag is static — compute once, ride the state table
    nodes = nodes.join(
        outdeg.select(F.col("src").alias("node"), F.lit(False).alias("_dang")),
        "node", "left",
    ).select("node", F.coalesce("_dang", F.lit(True)).alias("_dang"))
    if state is None:
        st = nodes.select(
            "node", "_dang",
            F.lit(scale // n).cast("long").alias("cash"),
            F.lit(0).cast("long").alias("hist"),
        )
        vc = st.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("vc")
        )
    else:
        st = nodes.join(
            state.filter(F.col("node") >= 0)
            .select("node", "cash_int", "hist_int"),
            "node", "left",
        ).select(
            "node", "_dang",
            F.coalesce("cash_int", F.lit(0)).cast("long").alias("cash"),
            F.coalesce("hist_int", F.lit(0)).cast("long").alias("hist"),
        )
        vc = state.filter(F.col("node") == -1).agg(
            F.coalesce(F.sum("cash_int"), F.lit(0)).cast("long").alias("vc")
        )
    for _ in range(iters):
        recv = (
            e.join(
                F.broadcast(
                    st.select(F.col("node").alias("src"), "cash")
                    .join(outdeg, "src")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("cash div od")).alias("_recv"))
        )
        new_vc = st.filter("_dang").agg(
            F.coalesce(F.sum("cash"), F.lit(0)).cast("long").alias("vc")
        )
        st = (
            st.join(recv, "node", "left")
            .crossJoin(F.broadcast(vc))
            .select(
                "node", "_dang",
                (F.coalesce("_recv", F.lit(0)) + F.expr(f"vc div {n}"))
                .cast("long").alias("cash"),
                (F.col("hist") + F.col("cash")).cast("long").alias("hist"),
            )
        )
        vc = new_vc
    return st.select(
        "node",
        F.col("cash").alias("cash_int"),
        F.col("hist").alias("hist_int"),
    ).unionByName(
        vc.select(
            F.lit(-1).cast("long").alias("node"),
            F.col("vc").alias("cash_int"),
            F.lit(0).cast("long").alias("hist_int"),
        )
    )


def resolve_redirects(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 32,
    checkpoint: str = "local",
) -> DataFrame:
    """Redirect-chain resolution: collapse every URL to the terminal
    destination of its 3xx chain, with loop detection — the fetch-side
    twin of URL canonicalization. The reference's axios client follows
    redirects silently inside one fetch (site-crawler.service.js fetch
    calls), so its frontier can enqueue N aliases of one page; at
    10^10-URL scale the chain must be resolved AS DATA so the seen-set
    and dedup operate on terminal URLs.

    ``edges`` is the observed redirect map (one row per 3xx response:
    source URL/id → Location target); ``nodes`` is the universe to
    resolve (targets that never redirected simply terminate a chain).
    A redirect map is functional — at most one outgoing edge per node —
    which admits pointer DOUBLING instead of hop-at-a-time walking:
    after round r each pointer spans up to 2^r hops, so
    ceil(log2(max_hops)) self-joins resolve every chain of length ≤
    ``max_hops``. Hop counts compose exactly along the way (d = d1+d2),
    so ``n_hops`` is the true chain length, not a round count.

    A node whose pointer still has an outgoing edge after the final
    round either sits on/feeds a redirect cycle or exceeds ``max_hops``
    — both are exactly what an HTTP client reports as
    ERR_TOO_MANY_REDIRECTS, so both surface as ``is_loop = true`` with
    NULL final/n_hops (never a silently wrong terminal).

    Plan shape: the pointer table is one row per REDIRECTING url (3xx
    responses are a sliver of a corpus), each round is one equi-join of
    the pointer table with itself on the pointed-to key plus a lineage
    cut; the universe joins in once at the end. No global window, no
    driver loop over rows. ``checkpoint`` follows
    :func:`~web_crawler_spark.operators.dedup.connected_min`: 'local'
    (default) truncates lineage with executor-local blocks; 'reliable'
    writes rounds to the SparkContext checkpoint dir so an executor
    loss mid-resolution replays from durable storage.

    Returns (node, final, n_hops BIGINT, is_loop BOOLEAN); final = the
    node itself with n_hops = 0 for non-redirecting nodes.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    if checkpoint == "reliable":
        sc = nodes.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise RuntimeError(
                "resolve_redirects(checkpoint='reliable') needs a durable "
                "checkpoint location: call spark.sparkContext."
                "setCheckpointDir('<hdfs-or-object-store-path>') first"
            )
    e = edges.select(F.col(src).alias("_n"), F.col(dst).alias("_nxt"))
    ptr = e.withColumn("_d", F.lit(1).cast("long"))
    rounds = max(1, (max_hops - 1).bit_length())  # ceil(log2(max_hops))
    for _ in range(rounds):
        b = ptr.select(
            F.col("_n").alias("_bn"),
            F.col("_nxt").alias("_bnxt"),
            F.col("_d").alias("_bd"),
        )
        ptr = ptr.join(b, ptr["_nxt"] == b["_bn"], "left").select(
            "_n",
            F.coalesce("_bnxt", "_nxt").alias("_nxt"),
            (F.col("_d") + F.coalesce("_bd", F.lit(0))).alias("_d"),
        )
        ptr = (
            ptr.checkpoint(eager=True)
            if checkpoint == "reliable"
            else ptr.localCheckpoint(eager=True)
        )
    srcs = e.select(F.col("_n").alias("_s")).distinct()
    resolved = ptr.join(srcs, ptr["_nxt"] == srcs["_s"], "left").select(
        F.col("_n").alias("node"),
        "_nxt",
        "_d",
        F.col("_s").isNotNull().alias("_loop"),
    )
    loop = F.coalesce("_loop", F.lit(False))
    return nodes.select(F.col(node_col).alias("node")).join(
        resolved, "node", "left"
    ).select(
        "node",
        F.when(loop, F.lit(None)).otherwise(
            F.coalesce("_nxt", F.col("node"))
        ).alias("final"),
        F.when(loop, F.lit(None).cast("long")).otherwise(
            F.coalesce("_d", F.lit(0)).cast("long")
        ).alias("n_hops"),
        loop.alias("is_loop"),
    )


def detect_mirror_hosts(
    pages: DataFrame,
    host_col: str = "host",
    fp_col: str = "fp",
    max_fp_hosts: int = 10,
    min_shared: int = 2,
    min_jaccard_micro: int = 500_000,
) -> DataFrame:
    """Mirror-host detection (Bharat & Broder 1999, "A technique for
    identifying mirrored hosts"): host pairs whose page-fingerprint sets
    overlap enough that crawling both wastes the fetch budget — at
    10^10-URL scale, de-mirroring the frontier is one of the largest
    single savings available (the paper measured ~10% of the 1998 web as
    mirrored).

    Formulation (module rule: never an O(n²) cross join): distinct
    (host, fp) → per-fp host-frequency cap BEFORE the self-join (a
    fingerprint served by more than ``max_fp_hosts`` hosts is shared
    chrome — an identical 404/parking page on 10^6 hosts would otherwise
    make one join key quadratic; real mirrors still pair through their
    rarer pages) → fp equi-join (host_a < host_b) → pair rollup. The cap
    is a count window over the same fp partitioning the join shuffles on,
    so the whole operator is ONE exchange plus the pair rollup — the
    substring_dup_pairs shape on (host, fp) keys.

    Jaccard is exact integer micro-units: shared * 10^6 DIV
    (|A| + |B| - shared), with |A|/|B| counted on the UNCAPPED distinct
    sets (so the cap can only under-report similarity, never inflate it).

    Returns (host_a, host_b, shared, jaccard_micro, is_mirror) for pairs
    with ``shared >= min_shared``; ``is_mirror`` applies the
    ``min_jaccard_micro`` decision threshold (default 0.5).
    """
    hf = pages.select(
        F.col(host_col).alias("_host"), F.col(fp_col).alias("_fp")
    ).distinct()
    sizes = hf.groupBy("_host").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("_fp")
    kept = (
        hf.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_fp_hosts)
        .drop("_df")
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, "_fp")
        .filter(F.col("a._host") < F.col("b._host"))
        .groupBy(
            F.col("a._host").alias("host_a"), F.col("b._host").alias("host_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    # host-count join: the size table is |hosts|-scale, broadcastable
    out = (
        pairs.join(
            F.broadcast(sizes.select(F.col("_host").alias("host_a"),
                                     F.col("_n").alias("_na"))), "host_a")
        .join(
            F.broadcast(sizes.select(F.col("_host").alias("host_b"),
                                     F.col("_n").alias("_nb"))), "host_b")
        .withColumn(
            "jaccard_micro",
            F.expr("CAST(shared * 1000000 AS BIGINT) DIV "
                   "CAST(_na + _nb - shared AS BIGINT)"),
        )
    )
    return out.select(
        "host_a", "host_b", "shared", "jaccard_micro",
        (F.col("jaccard_micro") >= min_jaccard_micro).alias("is_mirror"),
    )



def mine_param_rules(
    pages: DataFrame,
    url_col: str = "url",
    fp_col: str = "fp",
    min_support: int = 3,
) -> DataFrame:
    """DUST rule mining (Bar-Yossef, Keidar & Schonfeld 2009, "Do not
    crawl in the DUST: different URLs with similar text"), restricted to
    the workhorse rule family: query parameters that never change the
    page content (session ids, tracking refs). A crawler that learns
    these collapses whole families of aliases BEFORE fetching — at
    10^10-URL scale the alias families (one per session id ever minted)
    are often larger than the real URL space.

    Evidence join: for every URL carrying parameters, propose one
    candidate per parameter (the URL with that single parameter removed,
    order of the others preserved) and look the candidate up in the
    observed corpus. A hit with the SAME content fingerprint supports the
    rule (host, param); a hit with a DIFFERENT fingerprint is a
    counterexample (the parameter is load-bearing, e.g. ``page``). A rule
    is valid iff support >= ``min_support`` AND counterexamples == 0 —
    the paper's "no witness against" condition.

    Plan shape: posexplode of the parameter list (narrow) → ONE equi-join
    on the candidate URL string against the distinct (url, fp) corpus →
    one map-side-combinable rollup on (host, param). No similarity join,
    no pair explosion: alias families meet through the stripped string.

    Returns (host, param, support, counterexamples, is_rule).
    """
    u = F.col(url_col)
    base = F.substring_index(u, "?", 1)
    qs = F.when(u.contains("?"), F.expr(
        f"substring({url_col}, instr({url_col}, '?') + 1)"
    ))
    cand = (
        pages.select(
            u.alias("_url"), F.col(fp_col).alias("_fp"),
            base.alias("_base"), F.split(qs, "&").alias("_params"),
        )
        .filter(F.col("_params").isNotNull() & (F.size("_params") > 0))
        .select(
            "_url", "_fp", "_base", "_params",
            F.posexplode("_params").alias("_i", "_kv"),
        )
        .select(
            "_url", "_fp",
            U.host_of("_url").alias("host"),
            F.substring_index("_kv", "=", 1).alias("param"),
            F.concat(
                F.col("_base"),
                F.when(
                    F.size("_params") > 1,
                    F.concat(
                        F.lit("?"),
                        F.array_join(
                            F.filter(
                                "_params",
                                lambda x, j: j != F.col("_i"),
                            ),
                            "&",
                        ),
                    ),
                ).otherwise(F.lit("")),
            ).alias("_stripped"),
        )
    )
    corpus = pages.select(
        F.col(url_col).alias("_stripped"), F.col(fp_col).alias("_cfp")
    ).distinct()
    hits = cand.join(corpus, "_stripped")
    return (
        hits.groupBy("host", "param")
        .agg(
            F.sum(F.when(F.col("_fp") == F.col("_cfp"), 1).otherwise(0))
            .cast("long").alias("support"),
            F.sum(F.when(F.col("_fp") != F.col("_cfp"), 1).otherwise(0))
            .cast("long").alias("counterexamples"),
        )
        .select(
            "host", "param", "support", "counterexamples",
            ((F.col("support") >= min_support)
             & (F.col("counterexamples") == 0)).alias("is_rule"),
        )
    )


def apply_param_rules(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Rewrite URLs under learned DUST parameter rules: strip every query
    parameter whose (host, param) is a valid rule, preserving the order
    of surviving parameters; drop the '?' when none survive.

    The rule table is host-level metadata (tiny next to the frontier) —
    it folds to one array of params per host and broadcast-joins onto the
    URL stream, so the rewrite is a narrow map over the frontier with no
    shuffle. Returns the input plus ``canonical_url``.
    """
    per_host = (
        rules.filter(F.col("is_rule"))
        .groupBy(F.col("host"))
        .agg(F.array_sort(F.collect_set("param")).alias("_drop"))
    )
    u = F.col(url_col)
    base = F.substring_index(u, "?", 1)
    qs = F.when(u.contains("?"), F.expr(
        f"substring({url_col}, instr({url_col}, '?') + 1)"
    ))
    out = urls.withColumn("_host", U.host_of(url_col)).join(
        F.broadcast(per_host.withColumnRenamed("host", "_host")),
        "_host", "left",
    )
    survivors = F.filter(
        F.split(qs, "&"),
        lambda kv: ~F.coalesce(
            F.array_contains(F.col("_drop"), F.substring_index(kv, "=", 1)),
            F.lit(False),
        ),
    )
    rewritten = F.when(
        qs.isNull() | F.col("_drop").isNull(), u
    ).when(
        F.size(survivors) > 0,
        F.concat(base, F.lit("?"), F.array_join(survivors, "&")),
    ).otherwise(base)
    return out.withColumn("canonical_url", rewritten).drop("_host", "_drop")
