"""The engine's query registry: every operator from SURVEY.md §2 (plus the
training-data-pipeline extensions) as a (Spark DataFrame query, DuckDB
oracle SQL) pair over the driver's parquet tables.

Each Spark query is built from the library operators
(web_crawler_spark.functions / operators / analytics) — the registry is
the public API surface a reference user would call, exercised over neutral
tabular data. Each oracle is ANSI-ish SQL that DuckDB runs on the same
parquet; the driver hash-compares results (sorted by column name), so
every computed column is aliased identically on both sides and floats are
rounded at the output boundary (the compared artifact) only.

Cross-engine determinism rules used throughout (see functions/text.py):
- md5() is the only hash (bit-identical in Spark/DuckDB/Python).
- printf-style %.6f formatting for float→string (never engine default
  float rendering).
- DuckDB regexp_replace needs the 'g' flag to match Spark's
  replace-all default.
- Sums/avgs of doubles are rounded (2-6 dp) at the output boundary:
  parallel summation order differs legitimately between engines.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_crawler_spark.analytics import grid
from web_crawler_spark.functions import geo as G
from web_crawler_spark.functions import records as R
from web_crawler_spark.functions import text as TX
from web_crawler_spark.functions import urls as U
from web_crawler_spark.operators import dedup as D
from web_crawler_spark.operators import similarity as SIM
from web_crawler_spark.operators import sketch as SK
from web_crawler_spark.session import local_df

# --------------------------------------------------------------------------
# registry plumbing
# --------------------------------------------------------------------------
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _arm(
    df: DataFrame, schema: dict[str, str], tag: str | Column,
    **cols: str | Column,
) -> DataFrame:
    """One arm of a tagged-union composite. ``schema`` is the composite's
    ordered {column: Spark type}, tag column first; ``cols`` names only
    the arm's non-NULL columns (a column name or an expression). Returns
    the arm in schema order, every column cast to its schema type and
    typed NULLs in the columns the arm leaves out."""
    tag_name, *rest = schema
    unknown = set(cols) - set(rest)
    if unknown:
        raise ValueError(f"columns outside the composite schema: {sorted(unknown)}")

    def cell(name: str, c: str | Column | None) -> Column:
        c = F.lit(None) if c is None else F.col(c) if isinstance(c, str) else c
        return c.cast(schema[name]).alias(name)

    return df.select(
        cell(tag_name, tag if isinstance(tag, Column) else F.lit(tag)),
        *[cell(name, cols.get(name)) for name in rest],
    )


def _spread(pages: DataFrame) -> DataFrame:
    """Round-robin the synthesized fixture pages across the cluster.

    The small-SF parquet tables arrive as ONE file partition, so a
    regex-heavy extractor would otherwise grind through every page on a
    single core — the fixture must present the well-partitioned input a
    real page corpus would have. Cost: one tiny shuffle of the fixture
    rows; the extractors themselves stay shuffle-free."""
    return pages.repartition(pages.sparkSession.sparkContext.defaultParallelism)


# --------------------------------------------------------------------------
# Synthetic URL column shared by the crawl-kernel queries: a deterministic
# URL per part row, exercising hosts, paths, query strings, fragments,
# extensions, and priority keywords. Mirrored verbatim in oracle SQL.
# --------------------------------------------------------------------------
_SEGMENTS = [
    "contact", "products", "location", "blog", "office",
    "about", "news", "store", "company", "item",
]
_EXTS = ["", ".html", ".jpg", "", ".pdf", "", ".png", ""]


def _with_url(part: DataFrame) -> DataFrame:
    seg = F.element_at(
        F.array(*[F.lit(s) for s in _SEGMENTS]), (F.pmod("p_partkey", F.lit(10)) + 1).cast("int")
    )
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _EXTS]), (F.pmod("p_partkey", F.lit(8)) + 1).cast("int")
    )
    host = F.concat(
        F.when(F.pmod("p_partkey", 5) == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lower(F.regexp_replace("p_brand", "#", "")),
        F.lit(".com"),
    )
    tail = (
        F.when(F.pmod("p_partkey", 7) == 0, F.lit("?session=1"))
        .when(F.pmod("p_partkey", 7) == 1, F.lit("#frag"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/"), seg, F.lit("/"),
        F.regexp_replace(F.lower("p_name"), " ", "-"), ext, tail,
    )
    return part.withColumn("url", url)


_SEGMENTS_SQL = "['" + "','".join(_SEGMENTS) + "']"
_EXTS_SQL = "['" + "','".join(_EXTS) + "']"
_URL_SQL = f"""
  concat(
    'https://',
    case when p_partkey % 5 = 0 then 'www.' else '' end,
    lower(replace(p_brand, '#', '')), '.com',
    '/', list_extract({_SEGMENTS_SQL}, (p_partkey % 10) + 1),
    '/', replace(lower(p_name), ' ', '-'),
    list_extract({_EXTS_SQL}, (p_partkey % 8) + 1),
    case when p_partkey % 7 = 0 then '?session=1'
         when p_partkey % 7 = 1 then '#frag' else '' end
  )
"""


# --------------------------------------------------------------------------
# §2.2 filters / §2.7 URL kernels
# --------------------------------------------------------------------------


def _rfc3986_oracle_exprs() -> tuple[str, str]:
    """DuckDB mirror of functions/urls.py:rfc3986_normalize, generated
    from the SAME rule table (PCT_UNRESERVED / _SEG / DOTSEG_DEPTH) so the
    two engines can never drift rule-by-rule. Returns (decoded_expr over
    column ``messy``, dot-seg chain over column ``path0``)."""
    from web_crawler_spark.functions.urls import (
        DOTSEG_DEPTH, PCT_UNRESERVED, _SEG,
    )

    # step 0: the same WHATWG tab/CR/LF strip the kernel runs (the fixture
    # never carries them, but the mirrored battery stays rule-for-rule)
    dec = "regexp_replace(messy, '[\\t\\n\\r]', '', 'g')"
    for pct, ch in PCT_UNRESERVED:
        dec = f"replace({dec}, '{pct}', '{ch}')"
    path = "path0"
    for _ in range(DOTSEG_DEPTH):
        path = f"regexp_replace({path}, '/\\./', '/', 'g')"
    path = f"regexp_replace({path}, '/\\.$', '/')"
    for _ in range(DOTSEG_DEPTH):
        path = f"regexp_replace({path}, '/{_SEG}/\\.\\./', '/', 'g')"
    path = f"regexp_replace({path}, '/{_SEG}/\\.\\.$', '/')"
    path = f"regexp_replace({path}, '^(/\\.\\.)+/', '/')"
    path = f"regexp_replace({path}, '^(/\\.\\.)+$', '/')"
    return dec, path


_RFC_DEC_SQL, _RFC_PATH_SQL = _rfc3986_oracle_exprs()

# messy-URL fixture for the rfc arm: scheme case, default AND non-default
# ports, dot-segment families (internal/leading/trailing/over-popping),
# unreserved + reserved percent escapes, empty path, query escapes — every
# rule of the battery fires somewhere in the modulus grid
_RFC_MESSY_SQL = """
  concat(
    'HTTP', case when p_partkey % 2 = 0 then 'S' else '' end,
    '://Ex', (p_partkey % 7)::VARCHAR, '.COM',
    case when p_partkey % 4 = 0 then ':443'
         when p_partkey % 4 = 1 then ':80'
         when p_partkey % 4 = 2 then ':8080' else '' end,
    case when p_partkey % 5 = 0 then '/a/b/../c/./d'
         when p_partkey % 5 = 1 then '/%7Euser/%2Fkeep/%41bc'
         when p_partkey % 5 = 2 then '/../x'
         when p_partkey % 5 = 3 then ''
         else '/a/b/c/../../../d/..' end,
    case when p_partkey % 3 = 0 then '?q=%31&x=2' else '' end
  )
"""


@query(
    "url_canonicalize",
    oracle=f"""
    WITH u AS (SELECT p_partkey, {_URL_SQL} AS url FROM part),
    u2 AS (
      SELECT p_partkey, url,
             split_part(
               regexp_extract(url, '^(https?://[^?#]+)', 1)
               || CASE p_partkey % 3
                    WHEN 0 THEN '?b=2&a=1&session=s'
                    WHEN 1 THEN '?single=1#frag'
                    ELSE '' END,
               '#', 1) AS su
      FROM u
    ),
    rm AS (SELECT p_partkey, {_RFC_MESSY_SQL} AS messy FROM part),
    rd AS (SELECT p_partkey, {_RFC_DEC_SQL} AS dec FROM rm),
    rp AS (
      SELECT p_partkey,
             lower(regexp_extract(dec,
               '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS sch,
             lower(regexp_extract(dec,
               '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS hp,
             regexp_extract(dec,
               '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*(.*)$', 1) AS rest
      FROM rd
    ),
    rr AS (
      SELECT p_partkey, sch,
             CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
                  WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
                  ELSE hp END AS hst,
             CASE WHEN regexp_extract(rest, '^([^?#]*)', 1) = '' THEN '/'
                  ELSE regexp_extract(rest, '^([^?#]*)', 1) END AS path0,
             substr(rest,
                    length(regexp_extract(rest, '^([^?#]*)', 1)) + 1) AS tail
      FROM rp
    ),
    rfc AS (
      SELECT p_partkey,
             sch || '://' || hst || {_RFC_PATH_SQL} || tail AS rfc
      FROM rr
    )
    SELECT p_partkey, rfc,
           regexp_extract(url, '^(https?://[^?#]+)', 1) AS url_canon,
           lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
           regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
                          '^www\\.', '') AS host_norm,
           array_to_string(list_reverse(string_split(
             lower(regexp_extract(su, '^https?://([^/?#]+)', 1)), '.')), ',')
           || ')'
           || regexp_extract(su, '^https?://[^/?#]+([^?#]*)', 1)
           || CASE WHEN contains(su, '?')
                THEN '?' || array_to_string(list_sort(string_split(
                       substr(su, position('?' IN su) + 1), '&')), '&')
                ELSE '' END AS surt
    FROM u2 JOIN rfc USING (p_partkey)
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 canonicalization + host extraction + www-normalization (the
    URL-seen dedup key, site-crawler.service.js:28-30) — plus the SURT
    sort-friendly frontier key (functions/urls.py:surt_key) over a
    planted multi-param/fragment variant so host reversal, query-param
    sorting, and fragment dropping are all under the gate — plus the
    RFC 3986 §6.2.2 syntax normalizer (functions/urls.py:
    rfc3986_normalize) over a messy-URL fixture exercising scheme case,
    default/non-default ports, every dot-segment family, and
    unreserved vs reserved percent escapes; the oracle re-runs the SAME
    generated rule battery in DuckDB (RE2), so Java-regex/RE2 drift on
    any rule fails the hash."""
    part = _with_url(load(spark, sf_dir, "part"))
    k = F.col("p_partkey")
    u2 = F.concat(
        U.canonicalize("url"),
        F.when(k % 3 == 0, F.lit("?b=2&a=1&session=s"))
        .when(k % 3 == 1, F.lit("?single=1#frag"))
        .otherwise(F.lit("")),
    )
    messy = F.concat(
        F.lit("HTTP"), F.when(k % 2 == 0, F.lit("S")).otherwise(F.lit("")),
        F.lit("://Ex"), (k % 7).cast("string"), F.lit(".COM"),
        F.when(k % 4 == 0, F.lit(":443"))
        .when(k % 4 == 1, F.lit(":80"))
        .when(k % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(k % 5 == 0, F.lit("/a/b/../c/./d"))
        .when(k % 5 == 1, F.lit("/%7Euser/%2Fkeep/%41bc"))
        .when(k % 5 == 2, F.lit("/../x"))
        .when(k % 5 == 3, F.lit(""))
        .otherwise(F.lit("/a/b/c/../../../d/..")),
        F.when(k % 3 == 0, F.lit("?q=%31&x=2")).otherwise(F.lit("")),
    )
    return part.select(
        "p_partkey",
        U.rfc3986_normalize(messy).alias("rfc"),
        U.canonicalize("url").alias("url_canon"),
        U.host_of("url").alias("host"),
        U.normalize_host(U.host_of("url")).alias("host_norm"),
        U.surt_key(u2).alias("surt"),
    )


@query(
    "url_exclusion_filter",
    oracle=f"""
    WITH u AS (SELECT p_partkey, {_URL_SQL} AS url FROM part),
    c AS (SELECT p_partkey, regexp_extract(url, '^(https?://[^?#]+)', 1) AS url
          FROM u),
    f AS (
      SELECT * FROM c WHERE NOT (
        regexp_matches(lower(url),
          '(\\.jpg|\\.jpeg|\\.png|\\.gif|\\.svg|\\.webp|\\.ico|\\.pdf|\\.zip|\\.rar|\\.tar|\\.gz|\\.exe|\\.dmg|\\.mp4|\\.avi|\\.mov|\\.mp3|\\.wav|\\.css|\\.js|\\.json|\\.xml|\\.txt)$')
        OR contains(lower(url), '#')
        OR regexp_matches(lower(url),
          '(/login|/signin|/signup|/register|/cart|/checkout|/payment|/search|/filter|/admin|/wp-admin|/dashboard|/blog|/news|/article|/post|/product|/item|/category|/privacy|/terms|/cookie|/careers/job|/jobs/|/apply|/download|/upload|\\#)')
      )
    )
    SELECT p_partkey, url FROM f
    """,
)
def q_url_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the 25-extension/18-pattern exclusion filter, post-canonicalize."""
    part = _with_url(load(spark, sf_dir, "part"))
    return (
        part.withColumn("url", U.canonicalize("url"))
        .filter(~U.is_excluded("url"))
        .select("p_partkey", "url")
    )


@query(
    "url_priority_rank",
    oracle=f"""
    WITH u AS (SELECT p_partkey, {_URL_SQL} AS url FROM part),
    t AS (
      SELECT p_partkey,
             regexp_extract(url, '^(https?://[^?#]+)', 1) AS url,
             lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host
      FROM u
    ),
    p AS (
      SELECT *,
        CASE
          WHEN regexp_matches(lower(url),
            '(/contact|/location|/office|/store|/branch|/find|/where|/address|/about/us|/locations?$)')
            THEN 1
          WHEN regexp_matches(lower(url),
            '(/about|/company|/corporate|/headquarter|/facility|/site)')
            THEN 2
          ELSE 3 END AS priority_tier
      FROM t
    )
    SELECT p_partkey, url, host, priority_tier,
           row_number() OVER (PARTITION BY host
                              ORDER BY priority_tier, p_partkey) AS priority_rank
    FROM p
    """,
)
def q_url_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: 3-tier stable bucket sort per host (site-crawler.service.js:84-124)."""
    part = _with_url(load(spark, sf_dir, "part"))
    base = part.select(
        "p_partkey",
        U.canonicalize("url").alias("url"),
        U.host_of(U.canonicalize("url")).alias("host"),
    ).withColumn("priority_tier", U.priority_tier("url"))
    w = Window.partitionBy("host").orderBy("priority_tier", "p_partkey")
    return base.withColumn("priority_rank", F.row_number().over(w))


@query(
    "grid_slice",
    oracle="""
    SELECT 'filter_sort' AS variant, c_custkey, c_name, c_mktsegment,
           round(c_acctbal, 2) AS acctbal
    FROM (
      SELECT * FROM customer
      WHERE contains(lower(c_name), '00001')
        AND contains(lower(c_mktsegment), 'a')
      ORDER BY c_acctbal DESC NULLS LAST, c_custkey
      LIMIT 50
    )
    UNION ALL
    SELECT 'paginate', c_custkey, c_name, NULL, round(c_acctbal, 2)
    FROM (SELECT * FROM customer ORDER BY c_name LIMIT 20 OFFSET 40)
    UNION ALL
    SELECT 'range', c_custkey, c_name, NULL, round(c_acctbal, 2)
    FROM customer WHERE c_acctbal BETWEEN 1000 AND 5000
    UNION ALL
    SELECT 'autocomplete_a', NULL::BIGINT, NULL::VARCHAR, s, NULL::DOUBLE
    FROM (SELECT DISTINCT c_mktsegment AS s FROM customer
          WHERE contains(lower(c_mktsegment), 'a') ORDER BY s LIMIT 10)
    UNION ALL
    SELECT 'autocomplete_ld', NULL::BIGINT, NULL::VARCHAR, s, NULL::DOUBLE
    FROM (SELECT DISTINCT c_mktsegment AS s FROM customer
          WHERE contains(lower(c_mktsegment), 'ld') ORDER BY s LIMIT 10)
    """,
)
def q_grid_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11+F12+W7+W8 + autocomplete: the UI grid pipeline's slices
    (CustomDataGrid) — conjunctive contains-filter + sort + limit, page 3
    of the name-sorted grid, the '1000-5000' quality-range filter, and the
    autocomplete suggestion query (useAutocomplete.js:11-15: distinct
    values, case-insensitive CONTAINS — the 'ld' arm proves mid-word
    matching, e.g. BUILDING/HOUSEHOLD) — unioned under a variant tag so
    each slice keeps its independent oracle coverage."""
    cust = load(spark, sf_dir, "customer")
    S = {"variant": "string", "c_custkey": "bigint", "c_name": "string",
         "c_mktsegment": "string", "acctbal": "double"}
    row = dict(c_custkey="c_custkey", c_name="c_name", acctbal=F.round("c_acctbal", 2))
    fs = grid.contains_filter(cust, {"c_name": "00001", "c_mktsegment": "a"}).orderBy(
        F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey")
    ).limit(50)
    pg = grid.paginate(
        grid.sort_view(cust.select("c_custkey", "c_name", "c_acctbal"), "c_name"),
        page=3, size=20,
    )
    return reduce(DataFrame.unionByName, [
        _arm(fs, S, "filter_sort", c_mktsegment="c_mktsegment", **row),
        _arm(pg, S, "paginate", **row),
        _arm(grid.range_filter(cust, "c_acctbal", "1000-5000"), S, "range", **row),
        *[
            _arm(grid.autocomplete(cust, "c_mktsegment", needle, limit=10), S, tag,
                 c_mktsegment="suggestion")
            for tag, needle in [("autocomplete_a", "a"), ("autocomplete_ld", "LD")]
        ],
    ])


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------
@query(
    "dim_join_rollup",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
)
def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J6-shaped broadcast dim join + rollup (robots/ISO dim analogue)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@query(
    "anti_join_seen",
    oracle="""
    WITH base AS (
      SELECT o.o_orderstatus AS status, count(*) AS n_orders
      FROM orders o
      WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      GROUP BY o.o_orderstatus
    )
    SELECT 'exact' AS arm, status, n_orders FROM base
    UNION ALL SELECT 'bloom' AS arm, status, n_orders FROM base
    UNION ALL SELECT 'cuckoo' AS arm, status, n_orders FROM base
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left_anti against a 'seen' set (frontier vs visited analogue),
    three arms that must agree row-for-row:

    - ``exact``   — the plain hash-partitioned left_anti join;
    - ``bloom``   — partitioned-Bloom probe (seen_filter.build_bloom /
                    prune) + one exact anti-join that only maybe_seen
                    rows can match;
    - ``cuckoo``  — partitioned-cuckoo probe (seen_filter.build_cuckoo /
                    prune_cuckoo) + the same exact anti-join, the
                    deletable sketch.

    Both sketches admit false positives but never false negatives, so
    keying the exact anti-join on ``(key, maybe_seen = true)`` keeps
    every definite-new row and restores exactness for the rest, with
    the sketch probed once. Ref analogue: site-crawler.service.js:134-136
    visited Sets.
    """
    from web_crawler_spark.operators import seen_filter as SF

    o = load(spark, sf_dir, "orders")
    seen = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select("c_custkey")

    def agg(df: DataFrame, arm: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias("n_orders")
        ).select(F.lit(arm).alias("arm"), "status", "n_orders")

    exact = o.join(seen, o.o_custkey == seen.c_custkey, "left_anti")

    # sketch arms: keys rendered as URLs (the sketches key on strings).
    # Project to the two needed columns FIRST: mapInPandas blocks Catalyst
    # column pruning, so without this the probe hauls every orders column
    # (o_comment included) through Arrow both ways — measured 4.8 → 2.0 s
    # on the bloom arm at sf0.1.
    cand = o.select("o_custkey", "o_orderstatus").withColumn(
        "url", F.concat(F.lit("https://seen.example.com/c"), F.col("o_custkey"))
    )
    seen_urls = seen.select(
        F.concat(F.lit("https://seen.example.com/c"), F.col("c_custkey")).alias("url")
    )

    seen_keys = seen.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(True).alias("maybe_seen")
    )

    def sketch_arm(filt: DataFrame, prune_fn) -> DataFrame:
        probed = prune_fn(cand, filt)
        return probed.join(
            seen_keys, ["o_custkey", "maybe_seen"], "left_anti"
        ).drop("maybe_seen", "url")

    bloom = sketch_arm(SF.build_bloom(seen_urls), SF.prune)
    cuckoo = sketch_arm(SF.build_cuckoo(seen_urls), SF.prune_cuckoo)

    return (
        agg(exact, "exact")
        .unionByName(agg(bloom, "bloom"))
        .unionByName(agg(cuckoo, "cuckoo"))
    )


@query(
    "proximity_join",
    oracle="""
    WITH cu AS (
      SELECT c_custkey, ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
             ((c_custkey * 73) % 36000) / 100.0 - 180.0 AS lon
      FROM customer
    ),
    su AS (
      SELECT s_suppkey, ((s_suppkey * 37) % 16000) / 100.0 - 80.0 AS lat,
             ((s_suppkey * 73) % 36000) / 100.0 - 180.0 AS lon
      FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           round(2.0 * 6371.0 * asin(sqrt(
             pow(sin(radians(su.lat - cu.lat) / 2), 2)
             + cos(radians(cu.lat)) * cos(radians(su.lat))
               * pow(sin(radians(su.lon - cu.lon) / 2), 2)
           )), 3) AS dist_km
    FROM cu, su
    WHERE 2.0 * 6371.0 * asin(sqrt(
             pow(sin(radians(su.lat - cu.lat) / 2), 2)
             + cos(radians(cu.lat)) * cos(radians(su.lat))
               * pow(sin(radians(su.lon - cu.lon) / 2), 2)
           )) <= 50.0
    """,
)
def q_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: blocked haversine range join (grid-cell equi-join + exact
    post-filter) — same rows as the oracle's cross join, one shuffle."""
    cu = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 16000) / 100.0 - 80.0).alias("latitude"),
        ((F.col("c_custkey") * 73 % 36000) / 100.0 - 180.0).alias("longitude"),
    )
    su = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37 % 16000) / 100.0 - 80.0).alias("latitude"),
        ((F.col("s_suppkey") * 73 % 36000) / 100.0 - 180.0).alias("longitude"),
    )
    joined = G.proximity_join(cu, su, max_km=50.0, cell_deg=1.0)
    return joined.select(
        "c_custkey", "s_suppkey", F.round("dist_km", 3).alias("dist_km")
    )


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+agg: the engine's bulk map-side-combine path."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _c4_oracle_arm() -> str:
    """C4 three-sentence-span dedup (operators/dedup.py:c4_span_dedup)
    mirrored in DuckDB: the fixture sentence-izes each flat word stream
    into 6-word '.'-terminated sentences and plants one shared
    3-sentence passage (prefix on doc_id%5==0, suffix on doc_id%11==0,
    so %55 docs carry it twice); the global (doc,wpos)-first occurrence
    keeps, every other copy's sentences are deleted."""
    plant = "alpha beta gamma. delta epsilon zeta. eta theta iota."
    sents = f"""
      SELECT doc_id,
             list_filter(
               list_transform(regexp_extract_all(sx, '[^.!?]+[.!?]*'),
                              x -> trim(x)),
               x -> len(x) > 0) AS sents
      FROM (
        SELECT doc_id,
               concat_ws(' ',
                 CASE WHEN doc_id % 5 = 0 THEN '{plant}' ELSE '' END,
                 array_to_string(list_filter(list_transform(range(0, 10),
                   g -> CASE WHEN array_to_string(list_slice(
                               string_split(text, ' '), g*6+1, g*6+6), ' ')
                             <> ''
                        THEN array_to_string(list_slice(
                               string_split(text, ' '), g*6+1, g*6+6), ' ')
                             || '.'
                        END), x -> x IS NOT NULL), ' '),
                 CASE WHEN doc_id % 11 = 0 THEN '{plant}' ELSE '' END) AS sx
        FROM documents
      )"""
    return f"""
    UNION ALL
    -- C4 three-sentence-span dedup (Raffel et al. 2020 §2.2): drop all
    -- but the globally first occurrence of any duplicated 3-sentence run
    SELECT 'c4_span' AS policy, doc_id AS grp,
           cast(('0x' || substr(md5(clean), 1, 15)) as ubigint)::bigint
             AS chosen,
           n_dropped::DOUBLE AS val
    FROM (
      SELECT se.doc_id,
             coalesce(string_agg(se.s, ' ' ORDER BY se.pos)
                        FILTER (WHERE d.pos IS NULL), '') AS clean,
             count(*) FILTER (WHERE d.pos IS NOT NULL) AS n_dropped
      FROM (
        SELECT doc_id, generate_subscripts(sents, 1) - 1 AS pos,
               unnest(sents) AS s
        FROM ({sents})
      ) se
      LEFT JOIN (
        SELECT DISTINCT doc_id, wpos + k AS pos
        FROM (
          SELECT doc_id, wpos,
                 row_number() OVER (PARTITION BY wh
                                    ORDER BY doc_id, wpos) AS rn,
                 count(*) OVER (PARTITION BY wh) AS c
          FROM (
            SELECT doc_id, wpos,
                   md5(sents[wpos+1] || chr(31) || sents[wpos+2]
                       || chr(31) || sents[wpos+3]) AS wh
            FROM (
              SELECT doc_id, sents,
                     unnest(range(greatest(len(sents) - 2, 0))) AS wpos
              FROM ({sents})
            )
          )
        ), (SELECT unnest(range(0, 3)) AS k)
        WHERE c >= 2 AND rn > 1
      ) d ON se.doc_id = d.doc_id AND se.pos = d.pos
      GROUP BY se.doc_id
    )"""


_TEMP_ORACLE_ARM = """
    UNION ALL
    -- temperature mixing (mT5/XLM-R baseline, alpha = 1/2): weight =
    -- EXACT integer sqrt of the stratum size (floor(sqrt) guarded against
    -- float boundary error), alloc = budget * w // SUM(w), realized as
    -- per-doc copy counts via the same md5 bucket draw as UniMax
    SELECT 'sample_temp', doc_id, copies, alloc::DOUBLE
    FROM (
      WITH tsz AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      tb AS (SELECT count(*) * 4 // 5 AS budget FROM documents),
      tw AS (SELECT lang, n,
               CASE WHEN (CAST(floor(sqrt(n)) AS BIGINT) + 1)
                         * (CAST(floor(sqrt(n)) AS BIGINT) + 1) <= n
                    THEN CAST(floor(sqrt(n)) AS BIGINT) + 1
                    WHEN CAST(floor(sqrt(n)) AS BIGINT)
                         * CAST(floor(sqrt(n)) AS BIGINT) > n
                    THEN CAST(floor(sqrt(n)) AS BIGINT) - 1
                    ELSE CAST(floor(sqrt(n)) AS BIGINT) END AS wgt
             FROM tsz),
      tal AS (SELECT lang, n AS sz,
                     (SELECT budget FROM tb) * wgt
                       // (SELECT sum(wgt) FROM tw) AS alloc
              FROM tw)
      SELECT d.doc_id,
             (tal.alloc // tal.sz
              + CASE WHEN (CAST(('0x' || substr(md5('temp|' ||
                             CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                           % 10000)::BIGINT
                          < ((tal.alloc % tal.sz) * 10000) // tal.sz
                     THEN 1 ELSE 0 END)::BIGINT AS copies,
             tal.alloc AS alloc
      FROM documents d JOIN tal ON d.lang = tal.lang
    ) WHERE copies >= 1
"""

_CHUNK_ORACLE_ARM = """
    UNION ALL
    -- context-window chunking (operators/dedup.py:chunk_documents):
    -- 24-token windows at stride 8 (step 16) over the dedup-normalized
    -- token stream; n_chunks = 1 + ceil(max(0, n-24)/16), chunk k starts
    -- at token k*16. chosen = hash64('chunk'|idx|chunk_text) so both the
    -- window CONTENT and its order are value-checked; val packs start +
    -- short-window length (start + len/1000, identical IEEE ops)
    SELECT 'chunk' AS policy, doc_id AS grp,
           cast(('0x' || substr(md5(concat_ws('|', 'chunk', idx::VARCHAR,
                    array_to_string(ck, ' '))), 1, 15)) as ubigint)::bigint
             AS chosen,
           (idx * 16 + len(ck) / 1000.0)::DOUBLE AS val
    FROM (
      SELECT doc_id, idx, toks[idx*16+1 : idx*16+24] AS ck
      FROM (
        SELECT doc_id, toks,
               unnest(range(0, 1 + (greatest(0, len(toks) - 24) + 15) // 16))
                 AS idx
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                       '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents)
      )
    )
"""


def _unimax_oracle_arm(n_langs: int = 5, epochs: int = 1) -> str:
    """UniMax allocation (operators/dedup.py:unimax_allocation) unrolled
    over the documents table's fixed 5-language vocabulary: one CTE per
    ascending-size step, budget = 80% of the corpus, epoch cap = 1."""
    ctes = [
        "z AS (SELECT lang, count(*)::BIGINT AS sz,"
        " row_number() OVER (ORDER BY count(*), lang) AS rk"
        " FROM documents GROUP BY lang)",
        "tot AS (SELECT (sum(sz) * 4 // 5)::BIGINT AS b FROM z)",
    ]
    for i in range(1, n_langs + 1):
        rem = "tot.b" if i == 1 else f"a{i - 1}.rem"
        src = "z, tot" if i == 1 else f"z, a{i - 1}"
        take = f"least({epochs} * z.sz, {rem} // {n_langs - i + 1})"
        ctes.append(
            f"a{i} AS (SELECT z.lang, z.sz, {take} AS alloc,"
            f" {rem} - {take} AS rem FROM {src} WHERE z.rk = {i})"
        )
    unions = " UNION ALL ".join(
        f"SELECT lang, sz, alloc FROM a{i}" for i in range(1, n_langs + 1)
    )
    return f"""
    UNION ALL
    -- UniMax corpus mixing (Chung et al. 2023): ascending-size epoch-capped
    -- allocation, realized as per-doc copy counts via the md5 bucket draw
    SELECT 'sample_unimax', doc_id, copies, alloc::DOUBLE
    FROM (
      WITH {",".join(ctes)},
      al AS ({unions})
      SELECT d.doc_id,
             (al.alloc // al.sz
              + CASE WHEN (CAST(('0x' || substr(md5('unimax|' ||
                             CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                           % 10000)::BIGINT
                          < ((al.alloc % al.sz) * 10000) // al.sz
                     THEN 1 ELSE 0 END)::BIGINT AS copies,
             al.alloc AS alloc
      FROM documents d JOIN al ON d.lang = al.lang
    ) WHERE copies >= 1
    """


@query(
    "dedup_policies",
    oracle="""
    SELECT 'first_wins' AS policy, l_orderkey AS grp, l_partkey AS chosen,
           round(l_quantity, 2) AS val
    FROM (
      SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    UNION ALL
    SELECT 'best_wins', l_partkey, l_orderkey, round(l_extendedprice, 2)
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY l_partkey
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    UNION ALL
    -- substring (verbatim-passage) dedup: pairs sharing >= 2 exact
    -- 8-token spans, spans in > 100 docs df-capped before the self-join
    -- (normalization matches functions/text.py:normalize_text)
    SELECT 'substring', a.doc_id, b.doc_id, count(*)::DOUBLE
    FROM (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, greatest(len(toks) - 7, 1)),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS s
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(
                     lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                     '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents)
    ) a
    JOIN (SELECT s FROM (
            SELECT doc_id, unnest(list_distinct(
              list_transform(generate_series(1, greatest(len(toks) - 7, 1)),
                             i -> array_to_string(toks[i:i+7], ' ')))) AS s
            FROM (SELECT doc_id,
                         string_split(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' ') AS toks
                  FROM documents))
          GROUP BY s HAVING count(*) <= 100) f USING (s)
    JOIN (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, greatest(len(toks) - 7, 1)),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS s
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(
                     lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                     '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents)
    ) b USING (s)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
    UNION ALL
    -- benchmark decontamination: train docs (doc_id % 37 != 0) sharing
    -- any exact 4-token span with the eval stand-in (doc_id % 37 = 0)
    SELECT 'decontaminate', t.doc_id,
           min(e.doc_id), count(DISTINCT s)::DOUBLE
    FROM (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
                       i -> array_to_string(toks[i:i+3], ' ')))) AS s
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(
                     lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                     '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents WHERE doc_id % 37 != 0)
    ) t
    JOIN (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
                       i -> array_to_string(toks[i:i+3], ' ')))) AS s
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(
                     lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                     '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents WHERE doc_id % 37 = 0)
    ) e USING (s)
    GROUP BY t.doc_id
    UNION ALL
    -- deterministic stratified sampling: per-language hash-Bernoulli
    -- rates (md5 bucket in [0,10000), mirrors operators/dedup.py:
    -- stratified_sample — stable under corpus growth, never rand())
    SELECT 'sample_stratified', doc_id, bucket,
           rate FROM (
      SELECT doc_id,
             (CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)),
                                   1, 4)) AS INTEGER) % 10000)::BIGINT AS bucket,
             (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                        WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25
                        ELSE 0.1 END)::DOUBLE AS rate
      FROM documents
    ) WHERE bucket < rate * 10000
    UNION ALL
    -- paragraph-granularity dedup (CCNet/Dolma): fixture paragraphs are
    -- 8-word chunks; boilerplate policy drops every occurrence at corpus
    -- document-frequency >= 2, keep_first keeps the global (doc,pos)-min
    -- occurrence. chosen = 60-bit md5 of the reassembled clean text.
    SELECT 'para_boiler' AS policy, doc_id AS grp,
           cast(('0x' || substr(md5(clean), 1, 15)) as ubigint)::bigint
             AS chosen,
           n_dropped::DOUBLE AS val
    FROM (
      SELECT p.doc_id,
             coalesce(string_agg(para, chr(10) ORDER BY pos)
                        FILTER (WHERE df < 2), '') AS clean,
             count(*) FILTER (WHERE df >= 2) AS n_dropped
      FROM (SELECT doc_id, g AS pos,
                   array_to_string(list_slice(string_split(text, ' '),
                                              g*8+1, g*8+8), ' ') AS para
            FROM documents, (SELECT unnest(range(0,13)) AS g)
            WHERE array_to_string(list_slice(string_split(text, ' '),
                                             g*8+1, g*8+8), ' ') <> '') p
      JOIN (SELECT md5(para) AS h, count(DISTINCT doc_id) AS df,
                   min(doc_id * 100 + pos) AS first_key
            FROM (SELECT doc_id, g AS pos,
                         array_to_string(list_slice(string_split(text, ' '),
                                                    g*8+1, g*8+8), ' ') AS para
                  FROM documents, (SELECT unnest(range(0,13)) AS g)
                  WHERE array_to_string(list_slice(string_split(text, ' '),
                                                   g*8+1, g*8+8), ' ') <> '')
            GROUP BY md5(para)) s
        ON md5(p.para) = s.h
      GROUP BY p.doc_id)
    UNION ALL
    SELECT 'para_keepfirst', doc_id,
           cast(('0x' || substr(md5(clean), 1, 15)) as ubigint)::bigint,
           n_dropped::DOUBLE
    FROM (
      SELECT p.doc_id,
             coalesce(string_agg(para, chr(10) ORDER BY pos)
                        FILTER (WHERE df < 2
                                   OR p.doc_id * 100 + pos = first_key),
                      '') AS clean,
             count(*) FILTER (WHERE df >= 2
                                 AND p.doc_id * 100 + pos <> first_key)
               AS n_dropped
      FROM (SELECT doc_id, g AS pos,
                   array_to_string(list_slice(string_split(text, ' '),
                                              g*8+1, g*8+8), ' ') AS para
            FROM documents, (SELECT unnest(range(0,13)) AS g)
            WHERE array_to_string(list_slice(string_split(text, ' '),
                                             g*8+1, g*8+8), ' ') <> '') p
      JOIN (SELECT md5(para) AS h, count(DISTINCT doc_id) AS df,
                   min(doc_id * 100 + pos) AS first_key
            FROM (SELECT doc_id, g AS pos,
                         array_to_string(list_slice(string_split(text, ' '),
                                                    g*8+1, g*8+8), ' ') AS para
                  FROM documents, (SELECT unnest(range(0,13)) AS g)
                  WHERE array_to_string(list_slice(string_split(text, ' '),
                                                   g*8+1, g*8+8), ' ') <> '')
            GROUP BY md5(para)) s
        ON md5(p.para) = s.h
      GROUP BY p.doc_id)
    """ + _unimax_oracle_arm() + _TEMP_ORACLE_ARM + _c4_oracle_arm()
    + _CHUNK_ORACLE_ARM,
)
def q_dedup_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: the two exact-dedup survivor policies — first-wins via the
    explicit ingest-order window and best-wins (highest score,
    deterministic tiebreak) — plus the substring (verbatim-passage)
    dedup of the training-data literature: document pairs sharing ≥ 2
    exact 8-token spans, with spans above the df-cap dropped before the
    self-join (operators/dedup.py:substring_dup_pairs) — plus benchmark
    decontamination, deterministic stratified sampling
    (operators/dedup.py:stratified_sample — per-language hash-Bernoulli
    corpus mixing), UniMax epoch-capped mixing (operators/dedup.py:
    unimax_sample — ascending-size allocation realized as per-doc copy
    counts), and paragraph-granularity dedup in both survivor policies
    (operators/dedup.py:paragraph_dedup — CCNet/Dolma boilerplate drop
    and keep-first). All unioned under a policy tag."""
    li = load(spark, sf_dir, "lineitem")
    first = D.dedup_first_wins(
        li.withColumn("_ord", F.struct("l_linenumber", "l_partkey", "l_suppkey")),
        "l_orderkey", "_ord",
    ).select(
        F.lit("first_wins").alias("policy"),
        F.col("l_orderkey").alias("grp"),
        F.col("l_partkey").alias("chosen"),
        F.round("l_quantity", 2).alias("val"),
    )
    best = D.dedup_best_wins(
        li, "l_partkey", F.col("l_extendedprice"),
        F.struct("l_orderkey", "l_linenumber"),
    ).select(
        F.lit("best_wins").alias("policy"),
        F.col("l_partkey").alias("grp"),
        F.col("l_orderkey").alias("chosen"),
        F.round("l_extendedprice", 2).alias("val"),
    )
    d = load(spark, sf_dir, "documents")
    sub = D.substring_dup_pairs(
        d, "doc_id", "text", window=8, min_shared=2, max_df=100
    ).select(
        F.lit("substring").alias("policy"),
        F.col("a").alias("grp"),
        F.col("b").alias("chosen"),
        F.col("shared_spans").cast("double").alias("val"),
    )
    # benchmark decontamination: eval set = doc_id % 37 == 0 (the held-out
    # benchmark stand-in), train docs flagged on any shared 4-token span
    # (GPT-3 App. C n-gram rule; window rescaled to this corpus's doc
    # lengths). Eval spans broadcast — the corpus side never shuffles.
    decon = D.decontaminate(
        d.filter(F.col("doc_id") % 37 != 0),
        d.filter(F.col("doc_id") % 37 == 0),
        "doc_id", "text", window=4,
    ).select(
        F.lit("decontaminate").alias("policy"),
        F.col("doc_id").alias("grp"),
        F.col("first_eval_hit").alias("chosen"),
        F.col("shared_spans").cast("double").alias("val"),
    )
    # corpus mixing: deterministic per-language sampling (en halved,
    # de/fr/es quartered, everything else at 10%)
    samp = D.stratified_sample(
        d.select("doc_id", "lang"), "doc_id", "lang",
        rates={"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25},
        default_rate=0.1,
    ).select(
        F.lit("sample_stratified").alias("policy"),
        F.col("doc_id").alias("grp"),
        F.col("sample_bucket").alias("chosen"),
        F.col("sample_rate").alias("val"),
    )
    # paragraph-granularity dedup: the fixture makes paragraphs by cutting
    # each document into 8-word chunks joined with newlines (documents.text
    # is a flat word stream), then runs both survivor policies
    ws = F.split(F.col("text"), " ")
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(12)),
            lambda g: F.array_join(F.slice(ws, g * 8 + 1, 8), " "),
        ),
        lambda p: p != "",
    )
    pdocs = d.select("doc_id", F.array_join(chunks, "\n").alias("ptext"))
    from web_crawler_spark.hashing import hash64_col

    def para_arm(mode: str, tag: str) -> DataFrame:
        return D.paragraph_dedup(
            pdocs, "doc_id", "ptext", min_df=2, mode=mode
        ).select(
            F.lit(tag).alias("policy"),
            F.col("doc_id").alias("grp"),
            hash64_col(F.col("clean_text")).alias("chosen"),
            F.col("n_dropped").cast("double").alias("val"),
        )

    # UniMax mixing (Chung et al. 2023): 80%-of-corpus budget, 1-epoch cap
    # — small languages cap out, the dominant one absorbs the slack and is
    # hash-downsampled to the leftover allocation
    uni = D.unimax_sample(
        d.select("doc_id", "lang"), stratum="lang", key="doc_id",
        budget=d.count() * 4 // 5, max_epochs=1,
    ).select(
        F.lit("sample_unimax").alias("policy"),
        F.col("doc_id").alias("grp"),
        F.col("unimax_copies").alias("chosen"),
        F.col("unimax_alloc").cast("double").alias("val"),
    )
    # temperature mixing (mT5/XLM-R alpha=1/2 baseline): same budget, no
    # epoch cap — the head flattens smoothly instead of capping exactly
    tmp = D.temperature_sample(
        d.select("doc_id", "lang"), stratum="lang", key="doc_id",
        budget=d.count() * 4 // 5, alpha=(1, 2),
    ).select(
        F.lit("sample_temp").alias("policy"),
        F.col("doc_id").alias("grp"),
        F.col("temp_copies").alias("chosen"),
        F.col("temp_alloc").cast("double").alias("val"),
    )
    # C4 three-sentence-span dedup (operators/dedup.py:c4_span_dedup): the
    # fixture sentence-izes each flat word stream into 6-word
    # '.'-terminated sentences and plants one shared 3-sentence passage
    # (prefix on doc_id%5==0, suffix on doc_id%11==0, so %55 docs carry it
    # twice) — the global first occurrence keeps, every other copy's
    # sentences are deleted
    toks6 = F.split(F.col("text"), " ")
    sent_chunks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(9)),
            lambda g: F.when(
                F.array_join(F.slice(toks6, g * 6 + 1, 6), " ") != "",
                F.concat(
                    F.array_join(F.slice(toks6, g * 6 + 1, 6), " "), F.lit(".")
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    plant = "alpha beta gamma. delta epsilon zeta. eta theta iota."
    sx = F.concat_ws(
        " ",
        F.when(F.col("doc_id") % 5 == 0, F.lit(plant)).otherwise(F.lit("")),
        F.array_join(sent_chunks, " "),
        F.when(F.col("doc_id") % 11 == 0, F.lit(plant)).otherwise(F.lit("")),
    )
    c4 = D.c4_span_dedup(
        d.select("doc_id", sx.alias("sx")), "doc_id", "sx", window=3
    ).select(
        F.lit("c4_span").alias("policy"),
        F.col("doc_id").alias("grp"),
        hash64_col(F.col("clean_text")).alias("chosen"),
        F.col("n_dropped_sents").cast("double").alias("val"),
    )
    # context-window chunking (operators/dedup.py:chunk_documents):
    # 24-token windows at stride 8 — the stage between cleaning and
    # pack_bins for documents longer than the training context; chosen
    # hashes (idx, chunk_text) so window content and order are both
    # value-checked against the oracle's closed-form re-slicing
    ck = D.chunk_documents(
        d.select("doc_id", "text"), "doc_id", "text",
        max_tokens=24, stride=8,
    ).select(
        F.lit("chunk").alias("policy"),
        F.col("doc_id").alias("grp"),
        hash64_col(F.lit("chunk"), "chunk_idx", "chunk_text").alias("chosen"),
        (F.col("chunk_start") + F.col("n_chunk_tokens") / F.lit(1000.0))
        .cast("double").alias("val"),
    )
    return (
        first.unionByName(best).unionByName(sub).unionByName(decon)
        .unionByName(samp).unionByName(uni).unionByName(tmp)
        .unionByName(para_arm("boilerplate", "para_boiler"))
        .unionByName(para_arm("keep_first", "para_keepfirst"))
        .unionByName(c4).unionByName(ck)
    )


@query(
    "canonical_merge",
    oracle="""
    SELECT regexp_replace(lower(concat_ws('|', c_mktsegment, c_nationkey)),
                          '[^a-z0-9|]', '', 'g') AS canonical_key,
           min(c_custkey) AS first_custkey,
           arg_min(c_name, c_custkey) AS first_name,
           count(*) AS merged_from
    FROM customer
    GROUP BY 1
    """,
)
def q_canonical_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/X23: canonical-key merge — key from joined|lowered|stripped parts,
    first-seen values, merge count."""
    c = load(spark, sf_dir, "customer")
    key = R.canonical_key("c_mktsegment", "c_nationkey")
    return c.groupBy(key.alias("canonical_key")).agg(
        F.min("c_custkey").alias("first_custkey"),
        F.min_by("c_name", "c_custkey").alias("first_name"),
        F.count(F.lit(1)).alias("merged_from"),
    )


@query(
    "quality_report",
    oracle="""
    WITH src AS (
      SELECT (o_totalprice % 100) AS q,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE (o_totalprice % 100) / 100.0 END AS conf
      FROM orders
    ),
    qb AS (
      SELECT CASE WHEN q >= 90 THEN 'excellent' WHEN q >= 70 THEN 'good'
                  WHEN q >= 50 THEN 'fair' ELSE 'poor' END AS band,
             count(*) AS n
      FROM src GROUP BY 1
    ),
    cb AS (
      SELECT CASE WHEN conf IS NULL THEN 'unknown'
                  WHEN conf >= 0.90 THEN 'high'
                  WHEN conf >= 0.75 THEN 'medium_high'
                  WHEN conf >= 0.70 THEN 'medium'
                  ELSE 'low' END AS band,
             count(*) AS n
      FROM src GROUP BY 1
    )
    SELECT 'quality' AS report, band, n,
           round(100.0 * n / (SELECT count(*) FROM src), 4) AS pct
    FROM qb
    UNION ALL
    SELECT 'quality', 'avg_score', NULL::BIGINT, round(avg(q), 4) FROM src
    UNION ALL
    SELECT 'quality', 'total', count(*), 100.0 FROM src
    UNION ALL
    SELECT 'confidence', band, n,
           CASE WHEN band = 'unknown' THEN NULL
                ELSE round(100.0 * n / (SELECT count(*) FROM src), 0) END
    FROM cb
    """,
)
def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + the confidence-distribution histogram, as one banded report
    (report, band, n, pct):

    - 'quality' rows: the excellent/good/fair/poor count bands at the
      90/70/50 edges plus avg_score and total
      (data-quality.service.js:114-136).
    - 'confidence' rows: the UI's confidence histogram
      (ExtractionStats.jsx:22-47): HIGH >= 0.90, MED-HIGH >= 0.75,
      MEDIUM >= 0.70, LOW below, non-numeric -> unknown; pct is the
      whole-percent share of ALL rows (toFixed(0) = half-up for
      positives, matching round(x, 0) in both engines), with no percent
      shown for 'unknown' exactly as the component omits it.
    - 'funnel' rows: the corpus-release drop table
      (_corpus_funnel_rows) — documents in, cumulative survivors of the
      lang / C4-blocklist / quality / Gopher gates and exact dedup, and
      the train/val/test distribution of the surviving set.
    """
    w = Window.partitionBy()  # ≤6 rows post-agg — a global window is free
    src = load(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") % 100).alias("q"),
        F.when(F.col("o_orderkey") % 13 == 0, None)
        .otherwise((F.col("o_totalprice") % 100) / 100.0)
        .alias("conf"),
    )
    qb = (
        src.groupBy(
            F.when(F.col("q") >= 90, "excellent")
            .when(F.col("q") >= 70, "good")
            .when(F.col("q") >= 50, "fair")
            .otherwise("poor")
            .alias("band")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("quality").alias("report"), "band", "n",
            F.round(100.0 * F.col("n") / F.sum("n").over(w), 4).alias("pct"),
        )
    )
    extras = src.agg(
        F.count(F.lit(1)).alias("_t"), F.round(F.avg("q"), 4).alias("_avg")
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quality").alias("report"),
                    F.lit("avg_score").alias("band"),
                    F.lit(None).cast("long").alias("n"),
                    F.col("_avg").alias("pct"),
                ),
                F.struct(
                    F.lit("quality").alias("report"),
                    F.lit("total").alias("band"),
                    F.col("_t").alias("n"),
                    F.lit(100.0).alias("pct"),
                ),
            )
        ).alias("r")
    ).select("r.report", "r.band", "r.n", "r.pct")
    cb = (
        src.groupBy(
            F.when(F.col("conf").isNull(), "unknown")
            .when(F.col("conf") >= 0.90, "high")
            .when(F.col("conf") >= 0.75, "medium_high")
            .when(F.col("conf") >= 0.70, "medium")
            .otherwise("low")
            .alias("band")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("confidence").alias("report"), "band", "n",
            F.when(
                F.col("band") != "unknown",
                F.round(100.0 * F.col("n") / F.sum("n").over(w), 0),
            ).alias("pct"),
        )
    )
    return qb.unionByName(extras).unionByName(cb).unionByName(
        _corpus_funnel_rows(spark, sf_dir)
    ).unionByName(_token_quantile_rows(spark, sf_dir))


def _token_quantile_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-datasheet distribution rows: EXACT per-language token-count
    percentiles (p50/p90/p99) via operators/sketch.py:exact_quantiles —
    value histogram + histogram-sized running count, never a global sort.
    Shaped into the report's (report, band, n, pct) rows as
    ('tokens_quantiles', '<lang>:p<P>', value, P)."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(TX.normalize_text("text"), " ")).alias("_ntok"),
    )
    q = SK.exact_quantiles(d, "_ntok", [0.5, 0.9, 0.99], by="lang")
    return q.select(
        F.lit("tokens_quantiles").alias("report"),
        F.concat(
            F.col("lang"), F.lit(":p"),
            F.round(F.col("p") * 100).cast("int").cast("string"),
        ).alias("band"),
        F.col("value").cast("long").alias("n"),
        (F.col("p") * 100).alias("pct"),
    )


def _corpus_funnel_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'funnel' rows for quality_report: the per-gate survivor table a
    corpus release publishes — documents in, then cumulative survivors of
    the lang gate, the C4 blocklist gate, the quality gate, the Gopher
    top-2-gram gate, exact fingerprint dedup, and finally the
    train/val/test split distribution
    of the surviving set (all counts; pct = share of input, 4 dp). Every
    gate reuses the oracled operator it reports on (functions/text.py);
    the only shuffles are one aggregate and one fingerprint window."""
    d = load(spark, sf_dir, "documents")
    norm_len = F.length(TX.normalize_text("text"))
    r2 = TX.repetition_stats("text", 2)
    s1 = TX.lang_id("text") == "en"
    s1b = s1 & TX.blocklist_hits("text").getField("keep")
    s2 = s1b & (TX.quality_score_text("text") >= 70)
    top2 = (r2.getField("top_n") * r2.getField("top_len")).cast("double") / F.greatest(
        norm_len, F.lit(1)
    )
    s3 = s2 & (top2 <= 0.2)
    # full Gopher A1.1 rule battery (functions/text.py:gopher_quality) as
    # the next cumulative gate — on the single-line corpus docs the word-
    # count / word-length / symbol / alpha / stop rules do the filtering;
    # min_stop=1 because the synthetic vocabulary carries exactly one of
    # the paper's 8 English stop words (the documented domain knob)
    s4 = s3 & TX.gopher_quality("text", min_stop=1).getField("keep")
    staged = d.select(
        "doc_id", s1.alias("s1"), s1b.alias("s1b"), s2.alias("s2"),
        s3.alias("s3"), s4.alias("s4"), TX.fingerprint("text").alias("fp"),
    )
    base = staged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("s1"), 1).otherwise(0)).cast("long").alias("n_lang"),
        F.sum(F.when(F.col("s1b"), 1).otherwise(0)).cast("long").alias("n_blocklist"),
        F.sum(F.when(F.col("s2"), 1).otherwise(0)).cast("long").alias("n_quality"),
        F.sum(F.when(F.col("s3"), 1).otherwise(0)).cast("long").alias("n_gopher"),
        F.sum(F.when(F.col("s4"), 1).otherwise(0)).cast("long")
        .alias("n_gopher_rules"),
    )

    def row(band: str, n, pct):
        return F.struct(
            F.lit("funnel").alias("report"), F.lit(band).alias("band"),
            n.cast("long").alias("n"), pct.cast("double").alias("pct"),
        )

    def pct_of(n):
        return F.round(100.0 * n / F.col("n_input"), 4)

    gates = base.select(
        F.explode(
            F.array(
                row("input", F.col("n_input"), F.lit(100.0)),
                row("lang", F.col("n_lang"), pct_of(F.col("n_lang"))),
                row("blocklist", F.col("n_blocklist"),
                    pct_of(F.col("n_blocklist"))),
                row("quality", F.col("n_quality"), pct_of(F.col("n_quality"))),
                row("gopher", F.col("n_gopher"), pct_of(F.col("n_gopher"))),
                row("gopher_rules", F.col("n_gopher_rules"),
                    pct_of(F.col("n_gopher_rules"))),
            )
        ).alias("r")
    ).select("r.report", "r.band", "r.n", "r.pct")

    wfp = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        staged.filter("s4")
        .withColumn("_rn", F.row_number().over(wfp))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
    )
    tail = (
        surv.select(TX.hash_split("doc_id").alias("sp"))
        .groupBy("sp")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(base.select("n_input")))
        .select(
            F.lit("funnel").alias("report"),
            F.concat(F.lit("split_"), "sp").alias("band"),
            F.col("n"), pct_of(F.col("n")).alias("pct"),
        )
    )
    exact = (
        surv.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(base.select("n_input")))
        .select(
            F.lit("funnel").alias("report"),
            F.lit("exact_dedup").alias("band"),
            F.col("n"), pct_of(F.col("n")).alias("pct"),
        )
    )
    return gates.unionByName(exact).unionByName(tail)


def _crawl_stats_oracle() -> str:
    """Mirror of q_crawl_stats: method histogram + HLL cardinality (raw +
    small-range-corrected) + CMS hot-key/salt arm. The sketch fragments come
    from operators/sketch.py so Spark and DuckDB share one derivation."""
    hll = SK.hll_estimate_sql("events", "user_id")
    hllg = SK.hll_estimate_sql("events", "user_id", by="event_type")
    cms = SK.cms_estimate_sql("events", "user_id")
    corr = (
        "CASE WHEN est <= 2.5 * m AND zero_registers > 0"
        " THEN m::DOUBLE * ln(m::DOUBLE / zero_registers::DOUBLE)"
        " ELSE est END"
    )
    return f"""
    WITH hll AS ({hll}),
    tot AS (SELECT count(*)::BIGINT AS total FROM events),
    exact AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*)::BIGINT AS n
              FROM events GROUP BY 1)
    SELECT 'method' AS arm, event_type AS key, count(*)::BIGINT AS n1,
           (count(*) FILTER (WHERE value < 0.1))::BIGINT AS n2, 0::BIGINT AS n3,
           round(sum(value), 2) AS v
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'hll_raw', 'user_id', m, occupied, sum_scaled, round(est, 4)
    FROM hll
    UNION ALL
    SELECT 'hll', 'user_id', occupied, zero_registers, 0::BIGINT,
           round({corr}, 4)
    FROM hll
    UNION ALL
    SELECT 'cms_hot', c.key, exact.n, c.cms_est,
           least(greatest(ceil(c.cms_est::DOUBLE / 50.0), 1), 64)::BIGINT,
           round(c.cms_est::DOUBLE / exact.n::DOUBLE, 4)
    FROM {cms} c JOIN exact USING (key), hll, tot
    WHERE c.cms_est::DOUBLE >= 1.15 * tot.total::DOUBLE / ({corr})
    UNION ALL
    SELECT 'hll_by', event_type, occupied, zero_registers, 0::BIGINT,
           round({corr}, 4)
    FROM ({hllg})
    """


@query("crawl_stats", oracle=_crawl_stats_oracle())
def q_crawl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A8 per-method request/failure histogram, plus the sketches that
    replace the reference's exact in-memory crawl state at frontier scale
    (site-crawler.service.js:134-136 visited Set, crawler.service.js:207
    seen Map): HLL distinct-user cardinality (operators/sketch.py) and a
    count-min hot-key arm whose salt counts mirror hot_key_salts — the
    politeness-skew control for the salted fetch in plans/crawl.py."""
    e = load(spark, sf_dir, "events")
    method = e.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).alias("n1"),
        F.count(F.when(F.col("value") < 0.1, 1)).alias("n2"),
        F.lit(0).cast("long").alias("n3"),
        F.round(F.sum("value"), 2).alias("v"),
    ).select(F.lit("method").alias("arm"), "key", "n1", "n2", "n3", "v")

    est = SK.hll_estimate(SK.hll_registers(e, "user_id"))
    corr = F.when(
        (F.col("est") <= 2.5 * SK.HLL_M) & (F.col("zero_registers") > 0),
        F.lit(float(SK.HLL_M))
        * F.log(F.lit(float(SK.HLL_M)) / F.col("zero_registers").cast("double")),
    ).otherwise(F.col("est"))
    hll_raw = est.select(
        F.lit("hll_raw").alias("arm"), F.lit("user_id").alias("key"),
        F.col("m").alias("n1"), F.col("occupied").alias("n2"),
        F.col("sum_scaled").alias("n3"), F.round("est", 4).alias("v"),
    )
    hll_corr = est.select(
        F.lit("hll").alias("arm"), F.lit("user_id").alias("key"),
        F.col("occupied").alias("n1"), F.col("zero_registers").alias("n2"),
        F.lit(0).cast("long").alias("n3"), F.round(corr, 4).alias("v"),
    )

    cms = SK.cms_build(e, "user_id")
    exact = e.groupBy(F.col("user_id").cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    scalars = F.broadcast(
        est.select(corr.alias("hll_corr")).crossJoin(
            e.agg(F.count(F.lit(1)).cast("long").alias("total"))
        )
    )
    hot = (
        SK.cms_lookup(cms, exact, "key")
        .crossJoin(scalars)
        .filter(
            F.col("cms_est").cast("double")
            >= 1.15 * F.col("total").cast("double") / F.col("hll_corr")
        )
        .select(
            F.lit("cms_hot").alias("arm"), F.col("key"),
            F.col("exact_n").alias("n1"), F.col("cms_est").alias("n2"),
            F.least(
                F.greatest(F.ceil(F.col("cms_est").cast("double") / 50.0), F.lit(1)),
                F.lit(64),
            ).cast("long").alias("n3"),
            F.round(
                F.col("cms_est").cast("double") / F.col("exact_n").cast("double"), 4
            ).alias("v"),
        )
    )
    # per-group HLL: one independent sketch per event_type (the per-host
    # distinct-URL dashboard shape — operators/sketch.py hll_registers(by=)),
    # small-range correction applied per group like the global arm
    estg = SK.hll_estimate(
        SK.hll_registers(e, "user_id", by="event_type"), by="event_type"
    )
    # corr is an unbound Column over (est, zero_registers) — the same
    # expression applies per group here as globally above
    hll_by = estg.select(
        F.lit("hll_by").alias("arm"), F.col("event_type").alias("key"),
        F.col("occupied").alias("n1"), F.col("zero_registers").alias("n2"),
        F.lit(0).cast("long").alias("n3"), F.round(corr, 4).alias("v"),
    )
    return (
        method.unionByName(hll_raw).unionByName(hll_corr)
        .unionByName(hot).unionByName(hll_by)
    )


# --------------------------------------------------------------------------
# §2.5 windows
# --------------------------------------------------------------------------
# Shared oracle fragments. DuckDB regexp_replace needs 'g'; list slicing is
# 1-based inclusive (t[i:i+2] = 3 tokens); min over md5-hex == minhash.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
_SHINGLES_SQL = (
    "list_transform(generate_series(1, greatest(len({toks}) - 2, 1)),"
    " i -> array_to_string(({toks})[i:i+2], ' '))"
)

_BM25_QUERIES = [["table", "scan", "merge"], ["stream", "window", "batch"]]


def _bm25_arm_oracle(qi: int, terms: list[str]) -> str:
    """BM25 top-20 retrieval arm (operators/similarity.py:bm25_scores,
    raw-odds idf) — the score is IEEE +,-,*,/ in the operator's exact
    expression order, so the hash compare is bit-exact."""
    tf = [f"len(list_filter(toks, x -> x = '{t}'))::DOUBLE" for t in terms]
    dfc = [
        f"(SELECT sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        " FROM tk)"
        for t in terms
    ]
    contribs = [
        f"""(((nn - {dfc[i]}) + 0.5) / ({dfc[i]} + 0.5))
          * (({tf[i]} * (1.2 + 1.0))
             / ({tf[i]} + (1.2 * (1.0 - 0.75))
                + ((1.2 * 0.75) * ((l::DOUBLE * nn) / lss))))"""
        for i in range(len(terms))
    ]
    return f"""
    SELECT 'bm25:q{qi}' AS arm, {qi}::BIGINT AS grp, doc_id AS key,
           round(s, 6) AS score, rk
    FROM (
      SELECT doc_id, s,
             row_number() OVER (ORDER BY s DESC, doc_id) AS rk
      FROM (
        WITH tk AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks,
                           len({_TOKS_SQL.format(col='text')}) AS l
                    FROM documents),
        st AS (SELECT count(*)::BIGINT AS nn, sum(l)::BIGINT AS lss FROM tk)
        SELECT doc_id, ({' + '.join(contribs)}) AS s
        FROM tk, st)
    ) WHERE rk <= 20
    """


def _bm25x_arm_oracle(qi: int, terms: list[str]) -> str:
    """Index-served BM25 arm (operators/similarity.py:bm25_scores_indexed):
    identical score arithmetic, but the candidate set is exactly the docs
    containing >= 1 query term — what posting lists serve. The scan arm
    ranks 0-score docs too; this one cannot, by construction."""
    tf = [f"len(list_filter(toks, x -> x = '{t}'))::DOUBLE" for t in terms]
    dfc = [
        f"(SELECT sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        " FROM tk)"
        for t in terms
    ]
    contribs = [
        f"""(((nn - {dfc[i]}) + 0.5) / ({dfc[i]} + 0.5))
          * (({tf[i]} * (1.2 + 1.0))
             / ({tf[i]} + (1.2 * (1.0 - 0.75))
                + ((1.2 * 0.75) * ((l::DOUBLE * nn) / lss))))"""
        for i in range(len(terms))
    ]
    hit = " OR ".join(f"list_contains(toks, '{t}')" for t in terms)
    return f"""
    SELECT 'bm25x:q{qi}' AS arm, {qi}::BIGINT AS grp, doc_id AS key,
           round(s, 6) AS score, rk
    FROM (
      SELECT doc_id, s,
             row_number() OVER (ORDER BY s DESC, doc_id) AS rk
      FROM (
        WITH tk AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks,
                           len({_TOKS_SQL.format(col='text')}) AS l
                    FROM documents),
        st AS (SELECT count(*)::BIGINT AS nn, sum(l)::BIGINT AS lss FROM tk)
        SELECT doc_id, ({' + '.join(contribs)}) AS s
        FROM tk, st WHERE ({hit}))
    ) WHERE rk <= 20
    """


@query(
    "topk_per_group",
    oracle="""
    SELECT 'orders' AS arm, o_custkey AS grp, o_orderkey AS key,
           round(o_totalprice, 2) AS score, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """
    + "".join(
        "UNION ALL" + _bm25_arm_oracle(i, t) for i, t in enumerate(_BM25_QUERIES)
    )
    + "".join(
        "UNION ALL" + _bm25x_arm_oracle(i, t) for i, t in enumerate(_BM25_QUERIES)
    ),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: top-K exploration per group (link-explorer slice(0,K)), plus
    BM25 top-20 retrieval over the documents corpus for two fixed query
    term sets (operators/similarity.py:bm25_scores — the raw-odds idf
    variant whose ranking equals the textbook ln form; one global stats
    aggregate, then a narrow scoring projection). Tagged union
    (arm, grp, key, score, rk)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    orders = (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.lit("orders").alias("arm"),
            F.col("o_custkey").alias("grp"),
            F.col("o_orderkey").alias("key"),
            F.round("o_totalprice", 2).alias("score"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
    d = load(spark, sf_dir, "documents")
    # index-served twins (bm25x): same queries answered from posting lists
    # (build_inverted_index → bm25_scores_indexed); candidates are the
    # matching docs only, scores bit-identical to the scan arm's
    postings, tstats, cstats = SIM.build_inverted_index(d)
    cs = cstats.collect()[0]
    scorers = {
        "bm25": lambda terms: SIM.bm25_scores(d, terms),
        "bm25x": lambda terms: SIM.bm25_scores_indexed(
            postings, tstats, int(cs["n"]), int(cs["total_len"]), terms
        ),
    }
    out = orders
    for tag, score in scorers.items():
        for qi, terms in enumerate(_BM25_QUERIES):
            # global top-20: orderBy+limit plans as TakeOrderedAndProject
            # (per-partition top-k, driver merge of 20-row heads) — the
            # whole scored corpus never moves to one partition; the rank
            # window then runs over the ≤20 survivors only. The order is
            # total (score desc, doc_id), so ranks equal the old global
            # row_number ≤ 20 filter bit-for-bit.
            wq = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
            arm = (
                score(terms).orderBy(F.col("bm25").desc(), "doc_id").limit(20)
                .withColumn("rk", F.row_number().over(wq).cast("long"))
                .select(
                    F.lit(f"{tag}:q{qi}").alias("arm"),
                    F.lit(qi).cast("long").alias("grp"),
                    F.col("doc_id").alias("key"),
                    F.round("bm25", 6).alias("score"),
                    "rk",
                )
            )
            out = out.unionByName(arm)
    return out


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT cast(date_trunc('hour', ts) AS VARCHAR) AS hour_ts,
           event_type, count(*) AS n,
           floor((sum(CAST(value AS DECIMAL(28, 10)))::DOUBLE / count(*))
                 * 10000 + 0.5) / 10000 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped tumbling-window rollup (batch over event time).

    Cross-engine determinism, two layers: (1) the mean sums DECIMAL, not
    DOUBLE — decimal addition is exact and order-independent, so Spark's
    partial-aggregate fold order and DuckDB's sequential fold produce the
    identical sum (float sums disagreed on 3 of 3600 groups at sf0.1);
    (2) the 4-dp rounding is spelled floor(x*1e4 + 0.5)/1e4 in BOTH
    engines — the fixture's 2-decimal values make exact 4-dp ties common
    once the sum is exact, and the engines' native round() break ties
    differently. The same double goes in, the same double comes out."""
    e = load(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    dsum = F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
    return e.groupBy(
        F.date_trunc("hour", "ts").cast("string").alias("hour_ts"),
        "event_type",
    ).agg(
        n.alias("n"),
        (F.floor(dsum / n * 10000 + 0.5) / 10000).alias("avg_value"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17/X18-shaped JSON field extraction (XHR-blob analogue)."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.max(k).alias("max_k")
    )


@query(
    "sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag window — the batch twin of
    the streaming stateful operator.

    Session-timezone invariant by construction: ``ts`` is a parquet NTZ
    (wall-clock) column, and the gap is computed with ``timestampdiff`` on
    TIMESTAMP_NTZ values — never cast through TIMESTAMP_LTZ, whose
    wall→instant conversion depends on ``spark.sql.session.timeZone`` and
    shifts gaps across DST transitions. Matches DuckDB's tz-naive
    ``epoch_us`` arithmetic under ANY session timezone.
    """
    e = load(spark, sf_dir, "events").withColumn(
        "ts_ntz", F.col("ts").cast("timestamp_ntz")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    e = e.withColumn("prev_ts", F.lag("ts_ntz").over(w))
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts_ntz)")
    new_s = F.when(
        F.col("prev_ts").isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    return (
        e.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "sessionize_variants",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    gs AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT 'native' AS variant, user_id,
           sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    UNION ALL
    SELECT 'streaming', user_id,
           sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM gs GROUP BY user_id
    """,
)
def q_sessionize_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization by the two non-lag engines, tagged by variant:

    'native' — Spark's session_window operator ("let Catalyst do it").
    Boundary note: a session window spans [first, last + gap), so a gap of
    exactly 30 min starts a NEW session here, while the lag formulation
    splits only on gap > 30 min — that branch's oracle uses >= accordingly
    (no exact-boundary gaps exist in the dataset, verified at both SFs).
    The NTZ wall clock converts to an instant deterministically
    (timestamp_micros), never through the session timezone.

    'streaming' — the applyInPandasWithState stateful sessionizer run as a
    real Structured Streaming query (file source → stateful operator →
    memory sink, availableNow), aggregated per user against the same batch
    lag-window oracle as `sessionize` (> gap semantics): streaming and
    batch must agree on session counts."""
    e = load(spark, sf_dir, "events").withColumn(
        "ts_i",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', cast(ts as timestamp_ntz)))"
        ),
    )
    sessions = e.groupBy(
        "user_id", F.session_window("ts_i", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    native = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit("native").alias("variant"), "user_id", "n_sessions", "n_events")

    import os
    import shutil
    import tempfile

    from web_crawler_spark.streaming import events as SE

    # the memory sink holds every emitted row once run_to_memory returns,
    # so the copied source is removed before the result is even planned
    src = tempfile.mkdtemp(prefix="wcs_sess_stream_")
    try:
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src, "events.parquet"),
        )
        stream = SE.stream_events(spark, src, max_files=None)
        SE.run_to_memory(SE.sessionize_stream(stream), "wcs_sessionize_stream_q", "update")
    finally:
        shutil.rmtree(src, ignore_errors=True)
    emitted = spark.sql("SELECT * FROM wcs_sessionize_stream_q")
    # single-batch emissions: one row per session (closed) + one open per
    # user; aggregate to the oracle's per-user shape
    streaming = emitted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit("streaming").alias("variant"), "user_id", "n_sessions", "n_events")
    return native.unionByName(streaming)


# --------------------------------------------------------------------------
# §2.7 scalar kernels
# --------------------------------------------------------------------------
_FOOTPRINT_ORACLE = """
    WITH pt AS (
      SELECT s_suppkey, ((s_suppkey * 37) % 16000) / 100.0 - 80.0 AS lat,
             ((s_suppkey * 73) % 36000) / 100.0 - 180.0 AS lon
      FROM supplier
    )
    SELECT s_suppkey,
           printf('MULTIPOLYGON(((%.6f %.6f,%.6f %.6f,%.6f %.6f,%.6f %.6f,%.6f %.6f)))',
                  lon - 0.0001, lat - 0.0001,
                  lon + 0.0001, lat - 0.0001,
                  lon + 0.0001, lat + 0.0001,
                  lon - 0.0001, lat + 0.0001,
                  lon - 0.0001, lat - 0.0001) AS footprint
    FROM pt
    """


def _footprint_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: MULTIPOLYGON WKT builder (±0.0001°, printf-fixed 6 dp)."""
    su = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37 % 16000) / 100.0 - 80.0).alias("lat"),
        ((F.col("s_suppkey") * 73 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    return su.select("s_suppkey", G.footprint_wkt("lat", "lon").alias("footprint"))


_PHONE_POSTAL_ORACLE = """
    WITH d AS (
      SELECT o_orderkey,
             lpad(CAST(o_orderkey * 7 % 10000000000 AS VARCHAR), 10, '9') AS phone10,
             lpad(CAST(o_orderkey % 1000000000 AS VARCHAR), 9, '0') AS zip9
      FROM orders
    )
    SELECT o_orderkey,
           printf('(%s) %s-%s', substr(phone10,1,3), substr(phone10,4,3),
                  substr(phone10,7,4)) AS phone,
           printf('%s-%s', substr(zip9,1,5), substr(zip9,6,4)) AS postal
    FROM d
    """


def _phone_postal_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5+X7: phone/ZIP formatters over synthesized digit strings."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lpad((F.col("o_orderkey") * 7 % 10000000000).cast("string"), 10, "9").alias("phone10"),
        F.lpad((F.col("o_orderkey") % 1000000000).cast("string"), 9, "0").alias("zip9"),
    )
    return o.select(
        "o_orderkey",
        R.format_phone_us("phone10").alias("phone"),
        R.format_postal_us("zip9").alias("postal"),
    )


# --------------------------------------------------------------------------
# J7 + X27 + J6 + X5: state/country/postal normalization. The literal dim
# maps are reference data (address-normalizer.service.js:11-26,133-175;
# geocoding.service.js:126-145) shared by engine and oracle — the oracle
# re-derives the EXPECTED value by dim join + CASE, not by calling the
# engine's kernels.
# --------------------------------------------------------------------------
_STATE_NAMES = list(R.US_STATE_TO_ABBREV)
_STATE_DIM_SQL = ",".join(
    f"({i}, '{n}', '{a}')" for i, (n, a) in enumerate(R.US_STATE_TO_ABBREV.items())
)
_CNAMES = [k for k in R.COUNTRY_NAME_TO_ISO2 if k.isascii()]
_CNAME_DIM_SQL = ",".join(
    f"({i}, '{n.replace(chr(39), chr(39) * 2)}', '{R.COUNTRY_NAME_TO_ISO2[n]}')"
    for i, n in enumerate(_CNAMES)
)
_ISO_DIM_SQL = ",".join(
    f"('{k}', '{v}')" for k, v in R.ISO2_TO_ISO3.items()
)


@query(
    "state_country_normalize",
    oracle=f"""
    WITH sdim(i, name, abbr) AS (VALUES {_STATE_DIM_SQL}),
    cdim(i, name, iso2) AS (VALUES {_CNAME_DIM_SQL}),
    idim(iso2, iso3) AS (VALUES {_ISO_DIM_SQL}),
    rec AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 4 = 0 THEN lower(s.name)
                  WHEN c_custkey % 4 = 1 THEN s.name
                  WHEN c_custkey % 4 = 2 THEN s.abbr
                  ELSE concat('Far Region ', c_custkey % 7) END AS state_raw,
             CASE WHEN c_custkey % 4 = 3 THEN concat('far region ',
                                                     c_custkey % 7)
                  ELSE s.abbr END AS state_want,
             CASE WHEN c_custkey % 3 = 0 THEN c.name
                  WHEN c_custkey % 3 = 1 THEN upper(c.name)
                  ELSE lower(c.iso2) END AS country_raw,
             -- engine rule order: the 2-letter passthrough fires BEFORE the
             -- name map ('uk' -> 'UK', not 'GB'; normalizeCountry,
             -- address-normalizer.service.js:186-188)
             CASE WHEN regexp_matches(lower(trim(
                    CASE WHEN c_custkey % 3 = 0 THEN c.name
                         WHEN c_custkey % 3 = 1 THEN upper(c.name)
                         ELSE lower(c.iso2) END)), '^[a-z]{{2}}$')
                  THEN upper(trim(
                    CASE WHEN c_custkey % 3 = 0 THEN c.name
                         WHEN c_custkey % 3 = 1 THEN upper(c.name)
                         ELSE lower(c.iso2) END))
                  ELSE c.iso2 END AS c_iso2,
             CASE WHEN c_custkey % 3 = 0 THEN
                    printf('%09d', c_custkey % 1000000000)
                  WHEN c_custkey % 3 = 1 THEN
                    printf('t%dx - %db%d', c_custkey % 10,
                           (c_custkey // 10) % 10, c_custkey % 7)
                  ELSE printf('%05d', c_custkey % 100000) END AS postal_raw
      FROM customer
      JOIN sdim s ON s.i = c_custkey % 50
      -- name index decorrelated from the %3 variant selector (c_custkey//3
      -- cycles the full name list within every variant), so 2-letter names
      -- ARE exercised as raw full-name inputs
      JOIN cdim c ON c.i = (c_custkey // 3) % {len(_CNAMES)}
    )
    SELECT c_custkey, state_raw,
           upper(trim(state_want)) AS state,
           country_raw,
           c_iso2 AS country_iso2,
           coalesce(i.iso3, c_iso2) AS country_iso3,
           postal_raw,
           CASE WHEN c_custkey % 3 = 0 THEN
                  concat(substr(postal_raw, 1, 5), '-', substr(postal_raw, 6, 4))
                WHEN c_custkey % 3 = 1 THEN
                  upper(concat('t', c_custkey % 10, 'x ',
                               (c_custkey // 10) % 10, 'b', c_custkey % 7))
                ELSE postal_raw END AS postal
    FROM rec LEFT JOIN idim i ON i.iso2 = c_iso2
    """,
)
def q_state_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (50-state dim) + X27 (name→ISO2) + J6 (full 65-entry ISO2→ISO3)
    + X5 battery (US ZIP+4 / Canadian A1A 1A1 / passthrough) over
    synthesized raw inputs cycling case variants, unknown-state
    passthrough, and 2-letter-code passthrough. The DuckDB oracle joins
    the same reference dim tables as VALUES literals and re-derives the
    expected outputs independently of the engine kernels."""
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    snames = F.array(*[F.lit(n) for n in _STATE_NAMES])
    sabbrs = F.array(*[F.lit(a) for a in R.US_STATE_TO_ABBREV.values()])
    cnames = F.array(*[F.lit(n) for n in _CNAMES])
    cisos = F.array(*[F.lit(R.COUNTRY_NAME_TO_ISO2[n]) for n in _CNAMES])
    sname = F.element_at(snames, (k % 50 + 1).cast("int"))
    sabbr = F.element_at(sabbrs, (k % 50 + 1).cast("int"))
    # decorrelated from the %3 variant (see oracle note): c_custkey//3
    # cycles the name list inside each variant, exercising 2-letter names
    # ('uk', 'us', ...) as raw inputs where the passthrough rule fires
    cidx = (F.expr("c_custkey div 3") % len(_CNAMES) + 1).cast("int")
    cname = F.element_at(cnames, cidx)
    ciso = F.element_at(cisos, cidx)
    rec = c.select(
        "c_custkey",
        F.when(k % 4 == 0, F.lower(sname))
        .when(k % 4 == 1, sname)
        .when(k % 4 == 2, sabbr)
        .otherwise(F.concat(F.lit("Far Region "), (k % 7).cast("string")))
        .alias("state_raw"),
        F.when(k % 3 == 0, cname)
        .when(k % 3 == 1, F.upper(cname))
        .otherwise(F.lower(ciso))
        .alias("country_raw"),
        F.when(k % 3 == 0, F.format_string("%09d", (k % 1000000000).cast("int")))
        .when(
            k % 3 == 1,
            F.format_string(
                "t%dx - %db%d",
                (k % 10).cast("int"),
                ((k / 10).cast("long") % 10).cast("int"),
                (k % 7).cast("int"),
            ),
        )
        .otherwise(F.format_string("%05d", (k % 100000).cast("int")))
        .alias("postal_raw"),
    )
    iso2 = R.normalize_country("country_raw")
    return rec.select(
        "c_custkey",
        "state_raw",
        R.normalize_state("state_raw").alias("state"),
        "country_raw",
        iso2.alias("country_iso2"),
        R.iso2_to_iso3(iso2).alias("country_iso3"),
        "postal_raw",
        R.normalize_postal("postal_raw").alias("postal"),
    )


@query(
    "intl_phone_extract",
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             s_suppkey % 3 AS v,
             10000 + s_suppkey % 90000 AS in5,
             100 + s_suppkey % 900 AS us3,
             1000 + s_suppkey % 9000 AS us4,
             10 + s_suppkey % 90 AS uk2
      FROM supplier
    )
    SELECT s_suppkey,
           CASE WHEN v = 0 THEN concat('Reach our Mumbai desk at +91 98765 ',
                                       in5, ' for support')
                WHEN v = 1 THEN concat('Call the SF line (', us3, ') 555-',
                                       us4, ' anytime')
                ELSE concat('London office on +44 20', uk2, ' 123456 today')
           END AS text,
           CASE WHEN v = 0 THEN concat('+9198765', in5)
                WHEN v = 1 THEN concat('+', us3, '555', us4)
                ELSE concat('+4420', uk2, '123456')
           END AS phones
    FROM s
    """,
)
def q_intl_phone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 multi-country battery (advanced-extractor.service.js:14-19) +
    normalizePhone (:453-469): india/us/uk patterns over planted page
    text; each row plants one number, the battery must find exactly it and
    normalize to +<digits>. The oracle constructs the expected normalized
    number directly from the source digits."""
    from web_crawler_spark.functions import contact as CT

    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") % 3).alias("v"),
        (F.lit(10000) + F.col("s_suppkey") % 90000).alias("in5"),
        (F.lit(100) + F.col("s_suppkey") % 900).alias("us3"),
        (F.lit(1000) + F.col("s_suppkey") % 9000).alias("us4"),
        (F.lit(10) + F.col("s_suppkey") % 90).alias("uk2"),
    )
    text = (
        F.when(
            F.col("v") == 0,
            F.concat(
                F.lit("Reach our Mumbai desk at +91 98765 "), "in5",
                F.lit(" for support"),
            ),
        )
        .when(
            F.col("v") == 1,
            F.concat(
                F.lit("Call the SF line ("), "us3", F.lit(") 555-"), "us4",
                F.lit(" anytime"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("London office on +44 20"), "uk2", F.lit(" 123456 today")
            )
        )
    )
    rows = s.withColumn("text", text)
    return rows.select(
        "s_suppkey",
        "text",
        F.concat_ws("; ", CT.extract_phones_adv("text")).alias("phones"),
    )


_ACTIVITY_ORACLE = """
    WITH t AS (
      SELECT p_partkey,
             list_extract(['global headquarters campus','retail store front',
                           'regional warehouse hub','manufacturing plant line',
                           'main data center','corner restaurant',
                           'branch office suite','general purpose space'],
                          (p_partkey % 8) + 1) AS descr
      FROM part
    )
    SELECT p_partkey, descr,
      CASE
        WHEN contains(lower(descr), 'headquarters') THEN 'Headquarters'
        WHEN contains(lower(descr), 'hq') THEN 'Headquarters'
        WHEN contains(lower(descr), 'corporate') THEN 'Headquarters'
        WHEN contains(lower(descr), 'store') THEN 'Retail'
        WHEN contains(lower(descr), 'shop') THEN 'Retail'
        WHEN contains(lower(descr), 'retail') THEN 'Retail'
        WHEN contains(lower(descr), 'warehouse') THEN 'Warehouse'
        WHEN contains(lower(descr), 'distribution') THEN 'Warehouse'
        WHEN contains(lower(descr), 'factory') THEN 'Manufacturing'
        WHEN contains(lower(descr), 'plant') THEN 'Manufacturing'
        WHEN contains(lower(descr), 'manufacturing') THEN 'Manufacturing'
        WHEN contains(lower(descr), 'data center') THEN 'Data Center'
        WHEN contains(lower(descr), 'datacenter') THEN 'Data Center'
        WHEN contains(lower(descr), 'restaurant') THEN 'Restaurant'
        WHEN contains(lower(descr), 'cafe') THEN 'Restaurant'
        WHEN contains(lower(descr), 'branch') THEN 'Branch Office'
        ELSE 'Office' END AS activity,
      CASE
        WHEN contains(lower(descr), 'headquarters') THEN 50.0
        WHEN contains(lower(descr), 'hq') THEN 50.0
        WHEN contains(lower(descr), 'corporate') THEN 50.0
        WHEN contains(lower(descr), 'store') THEN 8.0
        WHEN contains(lower(descr), 'shop') THEN 8.0
        WHEN contains(lower(descr), 'retail') THEN 8.0
        WHEN contains(lower(descr), 'warehouse') THEN 12.0
        WHEN contains(lower(descr), 'distribution') THEN 12.0
        WHEN contains(lower(descr), 'factory') THEN 15.0
        WHEN contains(lower(descr), 'plant') THEN 15.0
        WHEN contains(lower(descr), 'manufacturing') THEN 15.0
        WHEN contains(lower(descr), 'data center') THEN 10.0
        WHEN contains(lower(descr), 'datacenter') THEN 10.0
        WHEN contains(lower(descr), 'restaurant') THEN 6.0
        WHEN contains(lower(descr), 'cafe') THEN 6.0
        WHEN contains(lower(descr), 'branch') THEN 20.0
        ELSE 25.0 END::DOUBLE AS height_m
    FROM t
    """


def _activity_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11+X12: keyword activity classifier + height estimator."""
    descrs = [
        "global headquarters campus", "retail store front",
        "regional warehouse hub", "manufacturing plant line",
        "main data center", "corner restaurant",
        "branch office suite", "general purpose space",
    ]
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.element_at(
            F.array(*[F.lit(d) for d in descrs]), (F.pmod("p_partkey", F.lit(8)) + 1).cast("int")
        ).alias("descr"),
    )
    return p.select(
        "p_partkey",
        "descr",
        R.classify_activity("descr").alias("activity"),
        R.estimate_height(R.classify_activity("descr")).alias("height_m"),
    )


@query(
    "quality_score_records",
    oracle="""
    WITH rec AS (
      SELECT c_custkey,
             c_name AS locationName,
             CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE concat(c_name, ' street') END
               AS locationAddress,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS latitude,
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS longitude,
             CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE 'USA' END AS countryIso3,
             CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE '12345' END AS postcode,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE 'CA' END AS state,
             c_mktsegment AS streetOrCity
      FROM customer
    ),
    scored AS (
      SELECT c_custkey,
        (CASE WHEN locationName IS NOT NULL AND len(CAST(locationName AS VARCHAR)) > 0 THEN 20 ELSE 0 END
         + CASE WHEN locationAddress IS NOT NULL AND len(CAST(locationAddress AS VARCHAR)) > 0 THEN 25 ELSE 0 END
         + CASE WHEN latitude IS NOT NULL AND len(CAST(latitude AS VARCHAR)) > 0 THEN 15 ELSE 0 END
         + CASE WHEN longitude IS NOT NULL AND len(CAST(longitude AS VARCHAR)) > 0 THEN 15 ELSE 0 END
         + CASE WHEN countryIso3 IS NOT NULL AND len(CAST(countryIso3 AS VARCHAR)) > 0 THEN 10 ELSE 0 END
         + CASE WHEN postcode IS NOT NULL AND len(CAST(postcode AS VARCHAR)) > 0 THEN 5 ELSE 0 END
         + CASE WHEN state IS NOT NULL AND len(CAST(state AS VARCHAR)) > 0 THEN 5 ELSE 0 END
         + CASE WHEN streetOrCity IS NOT NULL AND len(CAST(streetOrCity AS VARCHAR)) > 0 THEN 5 ELSE 0 END
        ) AS qualityScore
      FROM rec
    )
    SELECT c_custkey, qualityScore,
           CASE WHEN qualityScore >= 90 THEN 'Excellent'
                WHEN qualityScore >= 70 THEN 'Good'
                WHEN qualityScore >= 50 THEN 'Fair'
                ELSE 'Poor' END AS qualityLevel,
           CASE WHEN qualityScore >= 90 THEN '#10b981'
                WHEN qualityScore >= 70 THEN '#3b82f6'
                WHEN qualityScore >= 50 THEN '#f59e0b'
                ELSE '#ef4444' END AS qualityColor
    FROM scored
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24+X25: weighted field-presence quality score + level bands + the
    UI hex colors (data-quality.service.js:60-68)."""
    c = load(spark, sf_dir, "customer")
    rec = c.select(
        "c_custkey",
        F.col("c_name").alias("locationName"),
        F.when(F.col("c_custkey") % 4 == 0, None)
        .otherwise(F.concat("c_name", F.lit(" street")))
        .alias("locationAddress"),
        F.when(F.col("c_custkey") % 3 == 0, None).otherwise(F.col("c_acctbal")).alias("latitude"),
        F.when(F.col("c_custkey") % 3 == 0, None).otherwise(F.col("c_acctbal")).alias("longitude"),
        F.when(F.col("c_custkey") % 5 == 0, None).otherwise(F.lit("USA")).alias("countryIso3"),
        F.when(F.col("c_custkey") % 2 == 0, None).otherwise(F.lit("12345")).alias("postcode"),
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.lit("CA")).alias("state"),
        F.col("c_mktsegment").alias("streetOrCity"),
    )
    scored = rec.withColumn("qualityScore", R.quality_score())
    return scored.select(
        "c_custkey", "qualityScore",
        R.quality_level("qualityScore").alias("qualityLevel"),
        R.quality_color("qualityScore").alias("qualityColor"),
    )


# --------------------------------------------------------------------------
# Training-data corpus operators (documents table)
# --------------------------------------------------------------------------
# (the shared _NORM_SQL/_TOKS_SQL/_SHINGLES_SQL oracle fragments are defined
# above topk_per_group, their first point of use)
_STOPS_SQL = "['" + "','".join(TX.STOPWORDS) + "']"
_BL_WORDS_SQL = "['" + "','".join(sorted(TX.BLOCKLIST_WORDS)) + "']"
_BL_PHRASES_SQL = "['" + "','".join(sorted(TX.BLOCKLIST_PHRASES)) + "']"
_BNORM_SQL = _NORM_SQL.format(col="bx")


@query(
    "text_metrics",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, text, {_TOKS_SQL.format(col='text')} AS toks,
             length({_NORM_SQL.format(col='text')}) AS norm_len,
             len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe_tokens,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
             concat(text, CASE doc_id % 5
               WHEN 0 THEN concat(' Contact bob', doc_id,
                                  '@mail.example.com today')
               WHEN 1 THEN concat(' Call +1 (415) 555-0', 100 + doc_id % 100,
                                  ' now')
               WHEN 2 THEN concat(' Server 10.0.', doc_id % 256,
                                  '.7 responded')
               WHEN 3 THEN concat(' Email a', doc_id,
                                  '@x.io or call 020 7946 0958.')
               ELSE ''
             END) AS px,
             concat_ws(chr(10), text,
               CASE WHEN doc_id % 4 = 0 THEN 'OK'
                    ELSE 'three words minimum here' END,
               CASE WHEN doc_id % 3 = 0 THEN 'ALL CAPS NAV HEADER'
                    ELSE 'regular mixed case line' END,
               concat(doc_id % 1000, ' ', doc_id % 97, ' ', doc_id % 13),
               CASE WHEN doc_id % 5 < 2
                    THEN 'This site uses cookie consent banners.'
                    ELSE 'Please review our privacy policy today.' END) AS lx,
             concat(text, CASE doc_id % 7
               WHEN 0 THEN ' Win the JACKPOT today'
               WHEN 1 THEN ' cheap VIAGRA pills, xxx'
               WHEN 2 THEN ' claim your Free  Money now'
               WHEN 3 THEN ' this limited time offer ends'
               ELSE ''
             END) AS bx,
             concat_ws(chr(10), text,
               CASE WHEN doc_id % 3 = 0 THEN '• bullet item'
                    ELSE 'a plain continuation line' END,
               CASE WHEN doc_id % 4 = 0 THEN 'this sentence trails off...'
                    ELSE 'this sentence ends cleanly' END,
               CASE WHEN doc_id % 5 = 0 THEN '#### ### ## # ...'
                    ELSE 'mostly alphabetic words right here' END,
               CASE WHEN doc_id % 7 = 0 THEN '10 20 30 40 50 60 70 80 90 100'
                    ELSE 'that we have with them all' END,
               CASE WHEN doc_id % 4 = 0 THEN 'and it also trails away...'
                    ELSE 'and it also ends fine' END) AS gx
      FROM documents
    ),
    -- Gopher A1.1 mirror (functions/text.py:gopher_quality): integer
    -- cross-multiplied thresholds so every flag is engine-exact
    gq AS (
      SELECT doc_id,
             len(gtoks)::BIGINT AS gn,
             length(regexp_replace(gx, '\\s', '', 'g')) AS gsum,
             length(gx) - length(replace(gx, '#', '')) AS ghash,
             len(regexp_extract_all(gx, '\\.\\.\\.')) AS gell,
             len(glines) AS gnl,
             len(list_filter(glines, l ->
                 starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '- ')
                 OR starts_with(ltrim(l), '* '))) AS gbul,
             len(list_filter(glines, l -> ends_with(rtrim(l), '...'))) AS gelll,
             len(list_filter(gtoks, w -> regexp_matches(w, '[A-Za-z]'))) AS galpha,
             len(list_intersect(
               list_distinct(list_transform(gtoks, w -> lower(w))),
               ['the','be','to','of','and','that','have','with'])) AS gstop
      FROM (SELECT doc_id, gx, regexp_extract_all(gx, '\\S+') AS gtoks,
                   string_split(gx, chr(10)) AS glines FROM t)
    ),
    -- blocklist mirror (functions/text.py:blocklist_hits): whole-token
    -- word matches + space-padded phrase containment over normalized text
    bl AS (
      SELECT doc_id,
             list_sort(list_filter(
               list_distinct(string_split({_BNORM_SQL}, ' ')),
               x -> list_contains({_BL_WORDS_SQL}, x))) AS bw,
             list_sort(list_filter({_BL_PHRASES_SQL},
               p -> contains(' ' || {_BNORM_SQL} || ' ',
                             ' ' || p || ' '))) AS bp
      FROM t
    ),
    -- line-cleaning mirror (functions/text.py:clean_lines / line_rule):
    -- first-tripped-rule per line; ratio thresholds are integer
    -- cross-multiplications so the decisions are engine-exact
    clr AS (
      SELECT doc_id, lines,
             list_transform(lines, l ->
               CASE WHEN len(regexp_extract_all(l, '\\S+')) < 3 THEN 1
                    WHEN length(regexp_replace(l, '[^A-Za-z]', '', 'g')) > 0
                         AND 2 * length(regexp_replace(l, '[^A-Z]', '', 'g'))
                             > length(regexp_replace(l, '[^A-Za-z]', '', 'g')) THEN 2
                    WHEN length(regexp_replace(l, '\\s', '', 'g')) > 0
                         AND 2 * length(regexp_replace(l, '[^0-9]', '', 'g'))
                             > length(regexp_replace(l, '\\s', '', 'g')) THEN 3
                    WHEN contains(lower(l), 'cookie')
                         OR contains(lower(l), 'javascript')
                         OR contains(lower(l), 'lorem ipsum')
                         OR contains(lower(l), 'terms of use')
                         OR contains(lower(l), 'privacy policy')
                         OR contains(lower(l), 'all rights reserved') THEN 4
                    ELSE 0 END) AS rules
      FROM (SELECT doc_id, string_split(lx, chr(10)) AS lines FROM t)
    ),
    cln AS (
      SELECT doc_id,
             len(lines)::BIGINT AS n_lines,
             len(list_filter(rules, r -> r = 0))::BIGINT AS n_lines_kept,
             len(list_filter(rules, r -> r = 1))::BIGINT AS n_line_short,
             len(list_filter(rules, r -> r = 2))::BIGINT AS n_line_caps,
             len(list_filter(rules, r -> r = 3))::BIGINT AS n_line_numeric,
             len(list_filter(rules, r -> r = 4))::BIGINT AS n_line_boiler,
             md5(array_to_string(
               list_filter(lines, (l, i) -> rules[i] = 0), chr(10))) AS clean_fp
      FROM clr
    ),
    -- PII scrub cascade mirror (functions/text.py:redact_pii): counts are
    -- taken on the string each stage sees, fingerprint on the final mask
    pii1 AS (
      SELECT doc_id,
             len(regexp_extract_all(px, '{TX.PII_EMAIL_RE}')) AS n_pii_emails,
             regexp_replace(px, '{TX.PII_EMAIL_RE}', '<EMAIL>', 'g') AS p1
      FROM t
    ),
    pii2 AS (
      SELECT doc_id, n_pii_emails,
             len(regexp_extract_all(p1, '{TX.PII_IP_RE}')) AS n_pii_ips,
             regexp_replace(p1, '{TX.PII_IP_RE}', '<IP>', 'g') AS p2
      FROM pii1
    ),
    pii AS (
      SELECT doc_id, n_pii_emails, n_pii_ips,
             len(regexp_extract_all(p2, '{TX.PII_PHONE_RE}')) AS n_pii_phones,
             md5(regexp_replace(p2, '{TX.PII_PHONE_RE}', '<PHONE>', 'g'))
               AS pii_fp
      FROM pii2
    ),
    m AS (
      SELECT doc_id, n_chars, toks, norm_len, bpe_tokens, length(text) AS n,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE / len(toks)
             ELSE 0.0 END AS sw_ratio,
             CASE WHEN length(text) > 0 THEN n_punct::DOUBLE / length(text) ELSE 0.0 END AS p_ratio
      FROM t
    ),
    -- Gopher repetition signals (Rae et al. 2021 A1.1): 2-/3-gram
    -- multisets; shingle fragments mirror functions/text.py:shingles
    -- (docs shorter than k tokens yield one whole-doc shingle)
    g2 AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - 1, 1)),
        i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM t
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - 2, 1)),
        i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM t
    ),
    r2 AS (
      SELECT doc_id, n * l AS top_chars FROM (
        SELECT doc_id, count(*) AS n, length(g) AS l,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, g) AS rn
        FROM g2 GROUP BY doc_id, g
      ) WHERE rn = 1
    ),
    r3 AS (
      SELECT doc_id,
             sum(CASE WHEN n >= 2 THEN n * length(g) ELSE 0 END) AS dup_chars
      FROM (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT m.doc_id, n_chars, len(toks) AS n_tokens, bpe_tokens,
           len(list_distinct(toks)) AS n_unique,
           round(sw_ratio, 6) AS stopword_ratio,
           round(p_ratio, 6) AS punct_ratio,
           (CASE WHEN n BETWEEN 200 AND 5000 THEN 40 ELSE 0 END
            + CASE WHEN sw_ratio BETWEEN 0.05 AND 0.6 THEN 30 ELSE 0 END
            + CASE WHEN p_ratio < 0.2 THEN 30 ELSE 0 END) AS quality,
           round(top_chars::DOUBLE / greatest(norm_len, 1), 6) AS top2_char_frac,
           round(dup_chars::DOUBLE / greatest(norm_len, 1), 6) AS dup3_char_frac,
           round((norm_len - (len(toks) - 1))::DOUBLE / len(toks), 6) AS mean_word_len,
           CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(m.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'train'
                WHEN CAST(('0x' || substr(md5('split|' || CAST(m.doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 95 THEN 'val'
                ELSE 'test' END AS split,
           pack_bucket, (cum_before // 512)::BIGINT AS pack_bin,
           (cum_before % 512)::BIGINT AS pack_offset,
           n_pii_emails::BIGINT AS n_pii_emails,
           n_pii_ips::BIGINT AS n_pii_ips,
           n_pii_phones::BIGINT AS n_pii_phones, pii_fp,
           n_lines, n_lines_kept, n_line_short, n_line_caps,
           n_line_numeric, n_line_boiler, clean_fp,
           len(bw)::BIGINT AS n_blocked_words,
           len(bp)::BIGINT AS n_blocked_phrases,
           list_min(list_concat(bw, bp)) AS blocked_first,
           (len(bw) + len(bp) = 0) AS blocklist_keep,
           gn AS g_n_words,
           (gn >= 50 AND gn <= 100000) AS g_ok_words,
           (3 * gn <= gsum AND gsum <= 10 * gn) AS g_ok_wordlen,
           (10 * (ghash + gell) <= gn) AS g_ok_symbol,
           (10 * gbul <= gnl) AS g_ok_bullet,
           (10 * gelll <= 3 * gnl) AS g_ok_ellipsis,
           (5 * galpha >= 4 * gn) AS g_ok_alpha,
           (gstop >= 2) AS g_ok_stop,
           ((gn >= 50 AND gn <= 100000)
            AND (3 * gn <= gsum AND gsum <= 10 * gn)
            AND (10 * (ghash + gell) <= gn)
            AND (10 * gbul <= gnl)
            AND (10 * gelll <= 3 * gnl)
            AND (5 * galpha >= 4 * gn)
            AND (gstop >= 2)) AS gopher_keep
    FROM m JOIN r2 USING (doc_id) JOIN r3 USING (doc_id)
    JOIN pii USING (doc_id) JOIN cln USING (doc_id) JOIN bl USING (doc_id)
    JOIN gq USING (doc_id)
    JOIN (
      SELECT doc_id, pack_bucket,
             coalesce(sum(nt) OVER (PARTITION BY pack_bucket ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_before
      FROM (SELECT doc_id, len(toks) AS nt,
                   (CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8)::BIGINT AS pack_bucket
            FROM t)
    ) pk USING (doc_id)
    """,
)
def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics in one scan: token counting (whitespace +
    BPE-ish regex), distinct-token counts, the corpus quality score's
    length/stopword/punctuation components, and the Gopher repetition
    signals (top-2-gram char fraction, duplicated-3-gram char fraction,
    mean word length — functions/text.py:repetition_stats, a shuffle-free
    run-length scan over the sorted shingle array), plus the C4/Dolma-style
    PII scrub (functions/text.py:redact_pii: email → IP → phone mask
    cascade over planted-PII text; per-type counts and the md5 fingerprint
    of the redacted string, which the oracle re-derives — exact string
    equality without hauling the full text through the hash compare) —
    plus RefinedWeb/Dolma line-level cleaning (functions/text.py:
    clean_lines over a planted 5-line page: per-rule drop counts and the
    md5 of the rejoined surviving lines) — plus the C4 §2.2 blocklist gate
    (functions/text.py:blocklist_hits over planted spam terms: distinct
    whole-word + boundary-safe phrase hit counts, lexicographic first hit,
    and the drop/keep decision) — one row per document, a single narrow
    projection over the documents table."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(TX.normalize_text("text"), " ")
    norm_len = F.length(TX.normalize_text("text"))
    r2 = TX.repetition_stats("text", 2)
    r3 = TX.repetition_stats("text", 3)
    doc_id = F.col("doc_id")
    plant = (
        F.when(doc_id % 5 == 0,
               F.concat(F.lit(" Contact bob"), doc_id.cast("string"),
                        F.lit("@mail.example.com today")))
        .when(doc_id % 5 == 1,
              F.concat(F.lit(" Call +1 (415) 555-0"),
                       (doc_id % 100 + 100).cast("string"), F.lit(" now")))
        .when(doc_id % 5 == 2,
              F.concat(F.lit(" Server 10.0."), (doc_id % 256).cast("string"),
                       F.lit(".7 responded")))
        .when(doc_id % 5 == 3,
              F.concat(F.lit(" Email a"), doc_id.cast("string"),
                       F.lit("@x.io or call 020 7946 0958.")))
        .otherwise(F.lit(""))
    )
    pii = TX.redact_pii(F.concat(F.col("text"), plant))
    # line-cleaning fixture: the corpus text is single-line, so plant a
    # deterministic 5-line page around it (body + one line per rule class,
    # two of them doc_id-conditional so the counts vary) — the PII-planting
    # idiom applied to the RefinedWeb/Dolma line rules
    lx = F.concat_ws(
        "\n",
        F.col("text"),
        F.when(doc_id % 4 == 0, F.lit("OK"))
        .otherwise(F.lit("three words minimum here")),
        F.when(doc_id % 3 == 0, F.lit("ALL CAPS NAV HEADER"))
        .otherwise(F.lit("regular mixed case line")),
        F.concat(
            (doc_id % 1000).cast("string"), F.lit(" "),
            (doc_id % 97).cast("string"), F.lit(" "),
            (doc_id % 13).cast("string"),
        ),
        F.when(doc_id % 5 < 2, F.lit("This site uses cookie consent banners."))
        .otherwise(F.lit("Please review our privacy policy today.")),
    )
    cl = TX.clean_lines(lx)
    # blocklist fixture: plant blocklist words/phrases (with case and
    # punctuation noise the normalizer must absorb) on 4 of every 7 docs
    bx = F.concat(
        F.col("text"),
        F.when(doc_id % 7 == 0, F.lit(" Win the JACKPOT today"))
        .when(doc_id % 7 == 1, F.lit(" cheap VIAGRA pills, xxx"))
        .when(doc_id % 7 == 2, F.lit(" claim your Free  Money now"))
        .when(doc_id % 7 == 3, F.lit(" this limited time offer ends"))
        .otherwise(F.lit("")),
    )
    bl = TX.blocklist_hits(bx)
    # Gopher fixture: plant a deterministic 6-line page around the body so
    # every A1.1 rule sees both outcomes across doc_ids (the PII-planting
    # idiom); the corpus word counts straddle the 50-word floor on their own
    gx = F.concat_ws(
        "\n",
        F.col("text"),
        F.when(doc_id % 3 == 0, F.lit("• bullet item"))
        .otherwise(F.lit("a plain continuation line")),
        F.when(doc_id % 4 == 0, F.lit("this sentence trails off..."))
        .otherwise(F.lit("this sentence ends cleanly")),
        F.when(doc_id % 5 == 0, F.lit("#### ### ## # ..."))
        .otherwise(F.lit("mostly alphabetic words right here")),
        F.when(doc_id % 7 == 0, F.lit("10 20 30 40 50 60 70 80 90 100"))
        .otherwise(F.lit("that we have with them all")),
        F.when(doc_id % 4 == 0, F.lit("and it also trails away..."))
        .otherwise(F.lit("and it also ends fine")),
    )
    gq = TX.gopher_quality(gx)
    return d.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        TX.bpe_token_count("text").alias("bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        TX.quality_score_text("text").alias("quality"),
        F.round(
            (r2.top_n * r2.top_len).cast("double") / F.greatest(norm_len, F.lit(1)), 6
        ).alias("top2_char_frac"),
        F.round(
            r3.dup_chars.cast("double") / F.greatest(norm_len, F.lit(1)), 6
        ).alias("dup3_char_frac"),
        F.round(
            (norm_len - (F.size(toks) - 1)).cast("double") / F.size(toks), 6
        ).alias("mean_word_len"),
        TX.hash_split("doc_id").alias("split"),
        TX.pack_bins(F.size(toks), "doc_id").alias("_pk"),
        pii.alias("_pii"),
        cl.alias("_cl"),
        bl.alias("_bl"),
        gq.alias("_gq"),
    ).select(
        "*",
        F.col("_pk.bucket").cast("long").alias("pack_bucket"),
        F.col("_pk.bin").alias("pack_bin"),
        F.col("_pk.offset").alias("pack_offset"),
        F.col("_pii.n_emails").alias("n_pii_emails"),
        F.col("_pii.n_ips").alias("n_pii_ips"),
        F.col("_pii.n_phones").alias("n_pii_phones"),
        F.md5(F.col("_pii.redacted")).alias("pii_fp"),
        F.col("_cl.n_lines").alias("n_lines"),
        F.col("_cl.n_kept").alias("n_lines_kept"),
        F.col("_cl.n_short").alias("n_line_short"),
        F.col("_cl.n_caps").alias("n_line_caps"),
        F.col("_cl.n_numeric").alias("n_line_numeric"),
        F.col("_cl.n_boiler").alias("n_line_boiler"),
        F.md5(F.col("_cl.cleaned")).alias("clean_fp"),
        F.col("_bl.n_words").alias("n_blocked_words"),
        F.col("_bl.n_phrases").alias("n_blocked_phrases"),
        F.col("_bl.first_hit").alias("blocked_first"),
        F.col("_bl.keep").alias("blocklist_keep"),
        F.col("_gq.n_words").alias("g_n_words"),
        F.col("_gq.ok_words").alias("g_ok_words"),
        F.col("_gq.ok_wordlen").alias("g_ok_wordlen"),
        F.col("_gq.ok_symbol").alias("g_ok_symbol"),
        F.col("_gq.ok_bullet").alias("g_ok_bullet"),
        F.col("_gq.ok_ellipsis").alias("g_ok_ellipsis"),
        F.col("_gq.ok_alpha").alias("g_ok_alpha"),
        F.col("_gq.ok_stop").alias("g_ok_stop"),
        F.col("_gq.keep").alias("gopher_keep"),
    ).drop("_pk", "_pii", "_cl", "_bl", "_gq")


def _bpe_oracle_ctes(k: int = 6) -> str:
    """Unrolled BPE merge learning (operators/bpe.py:bpe_learn): word-freq
    table → per-round wrapped-pair counts → argmax (count desc, pair
    bytewise) → literal-replace merge application. chr(31) is the symbol
    sentinel; a merge's replace target/result are derived from the
    winning wrapped pair itself."""
    toks = _TOKS_SQL.format(col="text")
    ctes = [
        f"""bw AS (SELECT tok AS w, count(*)::BIGINT AS cnt
             FROM (SELECT unnest({toks}) AS tok FROM documents)
             WHERE tok <> '' GROUP BY tok)""",
        r"be0 AS (SELECT cnt, regexp_replace(w, '(.)',"
        r" chr(31)||'\1'||chr(31), 'g') AS e FROM bw)",
    ]
    for r in range(1, k + 1):
        ctes.append(f"""bp{r} AS (
          SELECT pw, sum(cnt)::BIGINT AS c FROM (
            SELECT cnt, unnest(list_transform(generate_series(1, len(s) - 1),
                   i -> chr(31)||s[i]||chr(31)||chr(31)||s[i+1]||chr(31))) AS pw
            FROM (SELECT cnt, string_split(substr(e, 2, length(e) - 2),
                                           chr(31)||chr(31)) AS s
                  FROM be{r - 1}))
          GROUP BY pw)""")
        ctes.append(
            f"bb{r} AS (SELECT pw, c FROM bp{r} ORDER BY c DESC, pw LIMIT 1)"
        )
        if r < k:
            ctes.append(
                f"be{r} AS (SELECT cnt, replace(e, (SELECT pw FROM bb{r}),"
                f" replace((SELECT pw FROM bb{r}), chr(31)||chr(31), ''))"
                f" AS e FROM be{r - 1})"
            )
    return ",\n".join(ctes)


def _bpe_oracle_select(k: int = 6) -> str:
    return "\n    UNION ALL\n".join(
        f"SELECT 'bpe', replace(substr(pw, 2, length(pw) - 2),"
        f" chr(31)||chr(31), ' '), {r}::BIGINT, c FROM bb{r}"
        for r in range(1, k + 1)
    )


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_SQL.format(col='text')} AS toks,
             length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1) AS ascii_ratio
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang,
        CASE WHEN (CASE WHEN len(toks) > 0 THEN
                    len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE / len(toks)
                  ELSE 0.0 END) >= 0.05
              AND ascii_ratio >= 0.9
        THEN 'en' ELSE 'unknown' END AS predicted
      FROM t
    ),
    -- DSIR arms (operators/dedup.py:dsir_importance, mode='fixed'):
    -- hashed-unigram buckets, fixed-point probability-difference weights
    -- (pure integer arithmetic — the cross-engine-exact restatement of the
    -- paper's log-likelihood ratio), target domain = labeled lang='en'
    db AS (
      SELECT doc_id, is_t,
             (CAST(('0x' || substr(md5('dsir|' || tok), 1, 4)) AS INTEGER) % 64)
               AS bucket
      FROM (SELECT doc_id, (lang = 'en') AS is_t,
                   unnest({_TOKS_SQL.format(col='text')}) AS tok
            FROM documents)
    ),
    dist AS (
      SELECT bucket,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS t_cnt,
             count(*)::BIGINT AS c_cnt
      FROM db GROUP BY bucket
    ),
    tot AS (SELECT sum(t_cnt)::BIGINT AS tt, sum(c_cnt)::BIGINT AS tc FROM dist),
    w AS (
      SELECT bucket,
             ((1000000 * t_cnt) // greatest(tt, 1)
              - (1000000 * c_cnt) // greatest(tc, 1))::BIGINT AS wgt
      FROM dist, tot
    ),
    ds AS (
      SELECT doc_id, sum(n * wgt)::BIGINT AS s
      FROM (SELECT doc_id, bucket, count(*)::BIGINT AS n
            FROM db GROUP BY doc_id, bucket) dc
      JOIN w USING (bucket) GROUP BY doc_id
    ),
    dsl AS (
      SELECT ds.doc_id, s,
             CASE WHEN s >= 0 THEN 'keep' ELSE 'drop' END AS lbl,
             (d.lang = 'en') AS is_t
      FROM ds JOIN documents d ON d.doc_id = ds.doc_id
    ),
    -- CCNet arms (operators/dedup.py:lm_quality_buckets): add-one-smoothed
    -- fixed-point hashed-unigram LM trained on lang='en', head/middle/tail
    -- score tertiles with (score desc, doc_id) tie-broken global rank
    lb AS (
      SELECT doc_id, is_t,
             (CAST(('0x' || substr(md5('lm|' || tok), 1, 4)) AS INTEGER) % 64)
               AS bucket
      FROM (SELECT doc_id, (lang = 'en') AS is_t,
                   unnest({_TOKS_SQL.format(col='text')}) AS tok
            FROM documents)
    ),
    lt AS (SELECT bucket, count(*)::BIGINT AS t FROM lb WHERE is_t
           GROUP BY bucket),
    ltot AS (SELECT coalesce(sum(t), 0)::BIGINT AS tt FROM lt),
    lp AS (
      SELECT b.bucket,
             (((coalesce(lt.t, 0) + 1) * 1000000) // (ltot.tt + 64))::BIGINT
               AS p
      FROM (SELECT unnest(range(64)) AS bucket) b
      LEFT JOIN lt USING (bucket), ltot
    ),
    lsc AS (
      SELECT doc_id, (sum(n * p) // sum(n))::BIGINT AS score
      FROM (SELECT doc_id, bucket, count(*)::BIGINT AS n
            FROM lb GROUP BY doc_id, bucket) dc
      JOIN lp USING (bucket) GROUP BY doc_id
    ),
    lcc AS (
      SELECT doc_id, score,
             CASE WHEN rn * 3 <= nd THEN 'head'
                  WHEN rn * 3 <= 2 * nd THEN 'middle'
                  ELSE 'tail' END AS tier
      FROM (SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
                   (SELECT count(*) FROM lsc) AS nd
            FROM lsc)
    ),
    {_bpe_oracle_ctes()}
    SELECT 'langid' AS variant, predicted, count(*)::BIGINT AS n,
           (count(*) FILTER (WHERE predicted = lang))::BIGINT AS agree
    FROM p GROUP BY predicted
    UNION ALL
    SELECT 'dsir', lbl, count(*)::BIGINT,
           sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT
    FROM dsl GROUP BY lbl
    UNION ALL
    SELECT 'dsir_doc', lbl, doc_id, s FROM dsl
    UNION ALL
    SELECT 'ccnet', tier, count(*)::BIGINT, sum(score)::BIGINT
    FROM lcc GROUP BY tier
    UNION ALL
    SELECT 'ccnet_doc', tier, doc_id, score FROM lcc
    UNION ALL
    {_bpe_oracle_select()}
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language/domain-model battery, tagged union
    (variant, predicted, n, agree):

    - ``langid``: the language-ID heuristic + agreement counts against
      the labeled lang column (predicted, n docs, n agreeing).
    - ``dsir``: DSIR importance resampling (Xie et al. 2023) with the
      labeled ``lang='en'`` rows as the target domain — keep/drop counts
      (n) and how many target docs landed in each decision (agree).
    - ``dsir_doc``: the per-document decisions — generic columns carry
      predicted=keep/drop, n=doc_id, agree=the integer fixed-point score
      (operators/dedup.py:dsir_importance mode='fixed'; the paper's
      log-ratio form is pytest-tier because libm isn't bit-portable).
    - ``ccnet`` / ``ccnet_doc``: CCNet head/middle/tail LM-quality
      tertiles (operators/dedup.py:lm_quality_buckets) — per-tier doc
      counts + score sums, and the per-doc (tier, doc_id, score) rows.
    - ``bpe``: the first 6 learned BPE merges over the corpus word-freq
      table (operators/bpe.py:bpe_learn) — predicted='left right',
      n=merge rank, agree=pair count.
    """
    d = load(spark, sf_dir, "documents")
    pred = d.select("doc_id", "lang", TX.lang_id("text").alias("predicted"))
    langid = pred.groupBy("predicted").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("predicted") == F.col("lang"), 1)).alias("agree"),
    ).select(F.lit("langid").alias("variant"), "predicted", "n", "agree")
    scored = D.dsir_importance(
        d, target=F.col("lang") == "en", n_buckets=64
    ).join(d.select("doc_id", (F.col("lang") == "en").alias("_is_t")), "doc_id")
    lbl = F.when(F.col("keep"), "keep").otherwise("drop")
    dsir = scored.groupBy(lbl.alias("predicted")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("agree"),
    ).select(F.lit("dsir").alias("variant"), "predicted", "n", "agree")
    dsir_doc = scored.select(
        F.lit("dsir_doc").alias("variant"),
        lbl.alias("predicted"),
        F.col("doc_id").alias("n"),
        F.col("score").alias("agree"),
    )
    ccb = D.lm_quality_buckets(d, target=F.col("lang") == "en", n_buckets=64)
    ccnet = ccb.groupBy(F.col("tier").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("score").alias("agree")
    ).select(F.lit("ccnet").alias("variant"), "predicted", "n", "agree")
    ccnet_doc = ccb.select(
        F.lit("ccnet_doc").alias("variant"),
        F.col("tier").alias("predicted"),
        F.col("doc_id").alias("n"),
        F.col("score").alias("agree"),
    )
    from web_crawler_spark.operators import bpe as BPE

    merges = BPE.bpe_learn(d, "text", n_merges=6)
    bpe = local_df(
        spark,
        [("bpe", f"{l} {r}", rank, cnt) for rank, l, r, cnt in merges],
        "variant string, predicted string, n long, agree long",
    )
    return (
        langid.unionByName(dsir).unionByName(dsir_doc)
        .unionByName(ccnet).unionByName(ccnet_doc).unionByName(bpe)
    )


_CHLOG_TABLES: dict[str, tuple] = {}


def _chlog_fixture_table(spark, sf_dir, corpus, increment):
    """The chlog arm's INPUT: a snapshot table with the corpus as the
    checkpoint append and the increment as the delta append. Memoized per
    sf_dir — in production this table pre-exists (the producer wrote it);
    only its synthesis is cached, the incremental scan + exact dedup
    still execute on every query evaluation."""
    from web_crawler_spark.lake import SnapshotTable

    hit = _CHLOG_TABLES.get(sf_dir)
    if hit is None:
        import atexit
        import shutil
        import tempfile

        # the memo outlives every query that reads it: removed at exit
        path = tempfile.mkdtemp(prefix="wcs_chlog_")
        atexit.register(shutil.rmtree, path, True)
        tbl = SnapshotTable(path)
        chk = tbl.append(corpus.select("doc_id", "text"))["snapshot_id"]
        tbl.append(increment)
        hit = _CHLOG_TABLES[sf_dir] = (tbl, chk)
    return hit



@query(
    "fingerprint_dedup",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, md5({_NORM_SQL.format(col='text')}) AS fp FROM documents
    ),
    -- incremental ingest fixture: docs % 3 = 0 re-crawled verbatim (must
    -- drop against the standing corpus), docs % 3 = 1 revised (new fp,
    -- must survive)
    inc AS (
      SELECT doc_id + 10000000 AS doc_id, md5({_NORM_SQL.format(col='text')}) AS fp
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 20000000 AS doc_id,
             md5({_NORM_SQL.format(col="concat(text, ' rev2')")}) AS fp
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT 'all' AS arm, fp AS fingerprint, min(doc_id) AS survivor,
           count(*) AS n_dups
    FROM f GROUP BY fp
    UNION ALL
    SELECT 'incr' AS arm, fp AS fingerprint, min(doc_id) AS survivor,
           count(*) AS n_dups
    FROM inc WHERE fp NOT IN (SELECT fp FROM f)
    GROUP BY fp
    UNION ALL
    -- chlog: identical semantics to incr, but the increment reaches the
    -- consumer through the snapshot table's incremental append scan
    -- (lake.SnapshotTable.read_changes) with the corpus pinned at the
    -- consumer's checkpoint snapshot — so the changelog read itself is
    -- under the gate, not just the dedup math
    SELECT 'chlog' AS arm, fp AS fingerprint, min(doc_id) AS survivor,
           count(*) AS n_dups
    FROM inc WHERE fp NOT IN (SELECT fp FROM f)
    GROUP BY fp
    """,
)
def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus dedup on the md5 fingerprint of normalized text,
    tagged union (arm, fingerprint, survivor, n_dups):

    - ``all``: whole-corpus dedup — one hash groupBy.
    - ``incr``: incremental-ingest dedup (operators/dedup.py:
      dedup_against_corpus) — a synthetic crawl increment (verbatim
      re-crawls of docs % 3 = 0, revised texts of docs % 3 = 1) lands
      against the standing corpus via one exact fingerprint anti-join;
      re-crawls drop, revisions survive.
    - ``chlog``: the same increment, but landed as a snapshot-table
      append and consumed via the Iceberg-style incremental scan
      (lake.read_changes + operators/dedup.py:dedup_table_changes) with
      the corpus pinned at the consumer's checkpoint snapshot — same
      oracle anti-join, so the changelog read is gated too.
    """
    d = load(spark, sf_dir, "documents")

    def groups(arm: str, fingerprinted: DataFrame) -> DataFrame:
        return (
            fingerprinted.groupBy("fingerprint")
            .agg(F.min("doc_id").alias("survivor"), F.count(F.lit(1)).alias("n_dups"))
            .select(F.lit(arm).alias("arm"), "fingerprint", "survivor", "n_dups")
        )

    recrawl = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text"
    )
    revised = d.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rev2")).alias("text"),
    )
    increment = recrawl.unionByName(revised)
    # chlog: the same increment landed as a snapshot-table append and
    # consumed through the Iceberg-style incremental scan — corpus append
    # = consumer checkpoint, increment append = the delta manifests;
    # dedup_table_changes scans ONLY the delta and dedups against the
    # corpus time-traveled to the checkpoint (operators/dedup.py:
    # dedup_table_changes, lake.py:read_changes)
    tbl, chk = _chlog_fixture_table(spark, sf_dir, d, increment)
    return reduce(DataFrame.unionByName, [
        groups("all", d.withColumn("fingerprint", TX.fingerprint("text"))),
        groups("incr", D.dedup_against_corpus(increment, d, text_col="text")),
        groups("chlog", D.dedup_table_changes(spark, tbl, chk, text_col="text")),
    ])


def _minhash_oracle(perms: int = 8, band: int = 2, thr: float = 0.7) -> str:
    mins = ",\n             ".join(
        f"min(md5(concat('{p}|', s))) AS m{p}" for p in range(perms)
    )
    bands = ", ".join(
        f"md5(concat('{b}|', m{2*b}, ',', m{2*b+1}))" for b in range(perms // band)
    )
    toks = _TOKS_SQL.format(col="text")
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({_SHINGLES_SQL.format(toks='toks')}) AS s FROM t
    ),
    sig AS (
      SELECT doc_id, {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, unnest([{bands}]) AS band FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b USING (band)
      WHERE a.doc_id < b.doc_id
    ),
    shs AS (
      SELECT doc_id,
             list_distinct({_SHINGLES_SQL.format(toks='toks')}) AS ss
      FROM t
    )
    SELECT cand.a, cand.b,
           round(len(list_intersect(x.ss, y.ss))::DOUBLE
                 / len(list_distinct(list_concat(x.ss, y.ss))), 6) AS jaccard
    FROM cand
    JOIN shs x ON x.doc_id = cand.a
    JOIN shs y ON y.doc_id = cand.b
    WHERE len(list_intersect(x.ss, y.ss))::DOUBLE
          / len(list_distinct(list_concat(x.ss, y.ss))) >= {thr}
    """


_MINHASH_SH_CACHE: list = []


@query("minhash_neardup", oracle=_minhash_oracle())
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → md5-minhash signature → band join →
    exact Jaccard verify ≥ 0.7. One shuffle on band key, no cross join."""
    d = load(spark, sf_dir, "documents")
    cand = D.minhash_lsh_candidates(d, "doc_id", "text", k=3, perms=8, band_size=2)
    sh = d.select(
        F.col("doc_id").alias("_sid"),
        F.array_distinct(TX.shingles("text", 3)).alias("_sh"),
    )
    # persist the shingle table: it feeds BOTH verify-join sides, and the
    # shingling (md5 per shingle) is the expensive part — never compute it
    # twice. The verify joins stay shuffle joins on doc id (correct at any
    # scale; broadcasting the shingle-carrying side would collect large
    # arrays to the driver). Long-lived sessions (bench/check runners)
    # invoke this repeatedly, so evict the previous invocation's cache —
    # at most one shingle table stays pinned.
    while _MINHASH_SH_CACHE:
        _MINHASH_SH_CACHE.pop().unpersist()
    sh = sh.persist()
    _MINHASH_SH_CACHE.append(sh)
    return (
        cand.join(sh.withColumnRenamed("_sid", "a").withColumnRenamed("_sh", "_sha"), "a")
        .join(sh.withColumnRenamed("_sid", "b").withColumnRenamed("_sh", "_shb"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb")).cast("double")
            / F.size(F.array_union("_sha", "_shb")),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL.format(col='text')} AS toks FROM documents
    ),
    shs AS (
      SELECT doc_id, source,
             list_distinct({_SHINGLES_SQL.format(toks='toks')}) AS ss
      FROM t
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.ss, b.ss))::DOUBLE
                 / len(list_distinct(list_concat(a.ss, b.ss))), 6) AS jaccard
    FROM shs a JOIN shs b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ss, b.ss))::DOUBLE
          / len(list_distinct(list_concat(a.ss, b.ss))) >= 0.5
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard self-join (block = source column)."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", block_col=F.col("source"), k=3, threshold=0.5
    )
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def _simhash_oracle() -> str:
    toks = _TOKS_SQL.format(col="text")
    # bit b of conv(substr(md5,1,15),16,10): hex char at position 15-b//4,
    # nibble bit b%4. strpos is 1-based → hexval = strpos-1.
    bit = (
        "((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) // {div}) % 2"
    )
    votes = ",\n             ".join(
        "sum(CASE WHEN "
        + bit.format(pos=15 - b // 4, div=1 << (b % 4))
        + f" = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    total = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)" for b in range(60)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL.format(toks='toks')})) AS s
      FROM t
    ),
    hx AS (SELECT doc_id, md5(s) AS h FROM sh),
    v AS (
      SELECT doc_id, {votes}
      FROM hx GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {total} AS simhash FROM v),
    blocks AS (
      SELECT doc_id, simhash,
             unnest(list_transform(generate_series(0, 3),
               i -> concat(i::VARCHAR, ':', ((simhash >> (i * 15)) & 32767)::VARCHAR))) AS block
      FROM sim
    )
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM blocks a JOIN blocks b USING (block)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("simhash_neardup", oracle=_simhash_oracle())
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit simhash (md5-derived feature hashes, no
    UDF) + pigeonhole 15-bit block join + Hamming ≤ 3."""
    d = load(spark, sf_dir, "documents")
    # persist the signature table (lazily): it feeds both sides of the
    # block self-join, and the broadcast join plan defeats ReuseExchange,
    # so without this the explode + 60-vote aggregate runs twice. One row
    # per doc (id, simhash) — small at any corpus size relative to input.
    simmed = D.simhash_table(d, "doc_id", "text", k=3).persist()
    pairs = D.simhash_candidates(simmed, "doc_id", "simhash", n_blocks=4)
    return pairs.filter(F.col("hamming") <= 3).select(
        "a", "b", F.col("hamming").cast("long").alias("hamming")
    )


# --------------------------------------------------------------------------
# Embedding similarity (embeddings table)
# --------------------------------------------------------------------------
_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64),"
    " i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE))"
)
_NORM2_SQL = "sqrt(list_sum(list_transform(generate_series(1, 64), i -> ({a})[i]::DOUBLE * ({a})[i]::DOUBLE)))"


_BUCKET_SQL = (
    "("
    + " + ".join(f"(CASE WHEN ({{v}})[{i+1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(8))
    + ")"
)


@query(
    "ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    brute AS (
      SELECT q.query_id, c.vec_id,
             round({_DOT_SQL.format(a='q.qe', b='c.embedding')}
               / ({_NORM2_SQL.format(a='q.qe')} * {_NORM2_SQL.format(a='c.embedding')}), 6)
               AS cosine
      FROM q, embeddings c
    ),
    c AS (
      SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket
      FROM embeddings
    ),
    q0 AS (
      SELECT vec_id AS query_id, embedding AS qe,
             {_BUCKET_SQL.format(v='embedding')} AS qb
      FROM embeddings WHERE vec_id < 10
    ),
    probes AS (
      SELECT query_id, qe, xor(qb, unnest([0,1,2,4,8,16,32,64,128])) AS bucket
      FROM q0
    ),
    lsh AS (
      SELECT query_id, vec_id,
             max(round({_DOT_SQL.format(a='qe', b='c.embedding')}
               / ({_NORM2_SQL.format(a='qe')} * {_NORM2_SQL.format(a='c.embedding')}), 6))
               AS cosine
      FROM probes JOIN c USING (bucket)
      GROUP BY query_id, vec_id
    ),
    cents AS (
      -- hash-spread codebook seeding (operators/similarity.py:ivf_codebook):
      -- the 8 corpus vectors with the smallest md5('cb|' || id), mirrored
      -- bit-identically (md5 hex sorts the same in both engines)
      SELECT embedding AS ce,
             row_number() OVER (ORDER BY md5('cb|' || vec_id::VARCHAR), vec_id) - 1 AS ci
      FROM (SELECT * FROM embeddings
            ORDER BY md5('cb|' || vec_id::VARCHAR), vec_id LIMIT 8)
    ),
    cscore AS (
      SELECT c.vec_id, c.embedding, cents.ci,
             round({_DOT_SQL.format(a='c.embedding', b='cents.ce')}
               / ({_NORM2_SQL.format(a='c.embedding')} * {_NORM2_SQL.format(a='cents.ce')}), 6)
               AS s
      FROM embeddings c CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, embedding, ci AS list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, ci) AS rn
        FROM cscore
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qe, ci AS list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, ci) AS rn
        FROM (
          SELECT q.query_id, q.qe, cents.ci, cents.ce,
                 round({_DOT_SQL.format(a='q.qe', b='cents.ce')}
                   / ({_NORM2_SQL.format(a='q.qe')} * {_NORM2_SQL.format(a='cents.ce')}), 6)
                   AS s
          FROM q CROSS JOIN cents
        )
      ) WHERE rn <= 2
    ),
    ivf AS (
      SELECT query_id, a.vec_id,
             round({_DOT_SQL.format(a='qe', b='a.embedding')}
               / ({_NORM2_SQL.format(a='qe')} * {_NORM2_SQL.format(a='a.embedding')}), 6)
               AS cosine
      FROM qprobe JOIN assign a USING (list_id)
    ),
    -- PQ-ADC tier (operators/similarity.py:pq_codebooks/pq_encode/pq_topk):
    -- 4 subspaces x 8 codes, per-subspace hash-spread seeding; distances
    -- quantized to integer micro-units (floor(d*1e6 + 0.5)) so argmins and
    -- the ADC sum are integer-exact across engines. Queries are corpus
    -- rows vec_id < 10, so their LUT rows ARE the cd rows.
    sub4 AS (SELECT unnest(generate_series(0, 3)) AS s),
    pseed AS (
      SELECT sub4.s, e.vec_id, e.embedding,
             row_number() OVER (PARTITION BY sub4.s
               ORDER BY md5('pq' || sub4.s::VARCHAR || '|' || e.vec_id::VARCHAR),
                        e.vec_id) AS rn
      FROM sub4 CROSS JOIN embeddings e
    ),
    pcb AS (
      SELECT s, rn - 1 AS j,
             list_transform(generate_series(s*16+1, s*16+16),
                            i -> embedding[i]::DOUBLE) AS ce
      FROM pseed WHERE rn <= 8
    ),
    csub AS (
      SELECT e.vec_id, sub4.s,
             list_transform(generate_series(sub4.s*16+1, sub4.s*16+16),
                            i -> e.embedding[i]::DOUBLE) AS sv
      FROM embeddings e CROSS JOIN sub4
    ),
    cd AS (
      SELECT csub.vec_id, csub.s, p.j,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
               i -> (csub.sv[i] - p.ce[i]) * (csub.sv[i] - p.ce[i])))
               * 1000000.0 + 0.5) AS BIGINT) AS dm
      FROM csub JOIN pcb p USING (s)
    ),
    pqcode AS (
      SELECT vec_id, s, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY dm, j) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT qd.vec_id AS query_id, pqcode.vec_id,
             -(sum(qd.dm)::DOUBLE / 1000000.0) AS cosine
      FROM pqcode JOIN (SELECT * FROM cd WHERE vec_id < 10) qd
        ON qd.s = pqcode.s AND qd.j = pqcode.j
      GROUP BY 1, 2
    ),
    -- IVFADC tier (operators/similarity.py:ivfadc_topk, Faiss IVFx,PQy):
    -- coarse assignment reuses the `assign`/`qprobe` CTEs above; PQ
    -- codebooks are re-seeded ('pqr' salt) ON THE RESIDUALS x - c(list);
    -- the ADC LUT is per-(query, probed list) because the query's
    -- residual differs per list. Same integer micro-unit quantization.
    res AS (
      SELECT a.vec_id, a.list_id,
             list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE - cents.ce[i]::DOUBLE) AS rv
      FROM assign a JOIN cents ON cents.ci = a.list_id
    ),
    rseed AS (
      SELECT sub4.s, r.vec_id, r.rv,
             row_number() OVER (PARTITION BY sub4.s
               ORDER BY md5('pqr' || sub4.s::VARCHAR || '|' || r.vec_id::VARCHAR),
                        r.vec_id) AS rn
      FROM sub4 CROSS JOIN res r
    ),
    rpcb AS (
      SELECT s, rn - 1 AS j,
             list_transform(generate_series(s*16+1, s*16+16), i -> rv[i]) AS ce
      FROM rseed WHERE rn <= 8
    ),
    rsub AS (
      SELECT r.vec_id, r.list_id, sub4.s,
             list_transform(generate_series(sub4.s*16+1, sub4.s*16+16),
                            i -> r.rv[i]) AS sv
      FROM res r CROSS JOIN sub4
    ),
    rd AS (
      SELECT rsub.vec_id, rsub.list_id, rsub.s, p.j,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
               i -> (rsub.sv[i] - p.ce[i]) * (rsub.sv[i] - p.ce[i])))
               * 1000000.0 + 0.5) AS BIGINT) AS dm
      FROM rsub JOIN rpcb p USING (s)
    ),
    rcode AS (
      SELECT vec_id, list_id, s, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY dm, j) AS rn
        FROM rd
      ) WHERE rn = 1
    ),
    qres AS (
      SELECT qp.query_id, qp.list_id,
             list_transform(generate_series(1, 64),
               i -> qp.qe[i]::DOUBLE - cents.ce[i]::DOUBLE) AS rv
      FROM qprobe qp JOIN cents ON cents.ci = qp.list_id
    ),
    qsub AS (
      SELECT q.query_id, q.list_id, sub4.s,
             list_transform(generate_series(sub4.s*16+1, sub4.s*16+16),
                            i -> q.rv[i]) AS sv
      FROM qres q CROSS JOIN sub4
    ),
    qrd AS (
      SELECT qsub.query_id, qsub.list_id, qsub.s, p.j,
             CAST(floor(list_sum(list_transform(generate_series(1, 16),
               i -> (qsub.sv[i] - p.ce[i]) * (qsub.sv[i] - p.ce[i])))
               * 1000000.0 + 0.5) AS BIGINT) AS dm
      FROM qsub JOIN rpcb p USING (s)
    ),
    ivfadc AS (
      SELECT qrd.query_id, rcode.vec_id,
             -(sum(qrd.dm)::DOUBLE / 1000000.0) AS cosine
      FROM rcode JOIN qrd
        ON qrd.list_id = rcode.list_id AND qrd.s = rcode.s
           AND qrd.j = rcode.j
      GROUP BY 1, 2
    )
    SELECT 'brute' AS variant, query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM brute
    ) WHERE rank <= 5
    UNION ALL
    SELECT 'lsh', query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM lsh
    ) WHERE rank <= 5
    UNION ALL
    SELECT 'ivf', query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM ivf
    ) WHERE rank <= 5
    UNION ALL
    -- CLIP-score-style pair gate (operators/similarity.py:
    -- pair_cosine_gate): even vec_id = image side, the following odd
    -- vec_id = its caption; keep pairs with rounded cosine >= 0.1
    SELECT 'pair_gate', query_id, vec_id, cosine, 1 AS rank FROM (
      SELECT i.vec_id AS query_id, c.vec_id,
             round({_DOT_SQL.format(a='i.embedding', b='c.embedding')}
               / ({_NORM2_SQL.format(a='i.embedding')}
                  * {_NORM2_SQL.format(a='c.embedding')}), 6) AS cosine
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0) i
      JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1) c
        ON c.vec_id = i.vec_id + 1
    ) WHERE cosine >= 0.1
    UNION ALL
    SELECT 'pq', query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM adc
    ) WHERE rank <= 5
    UNION ALL
    SELECT 'ivfadc', query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM ivfadc
    ) WHERE rank <= 5
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 under all three tiers, tagged by variant: 'brute' =
    exact cosine (broadcast queries × corpus, the right plan for small
    query sets), 'lsh' = sign-LSH with Hamming-1 multi-probe, 'ivf' =
    IVF-flat (8-centroid coarse codebook, hash-spread-seeded and carried
    as a broadcast one-row table → inverted lists → 2-list probe; at
    cluster scale the corpus partitions by list_id and each query's scan
    prunes to nprobe/n_centroids of the data), plus 'pair_gate' = the
    CLIP-score-style image↔caption alignment filter
    (operators/similarity.py:pair_cosine_gate — co-partitioned equi-join
    on the pair key, cosine ≥ 0.1 kept). The
    oracle mirrors each approximate operator's bucketing/assignment
    exactly, so the probe-set + rank semantics are checked, not an
    idealized exact search. Ranks use the 6-dp-rounded cosine with
    vec_id tiebreak (cross-engine determinism)."""
    e = load(spark, sf_dir, "embeddings")
    q10 = e.filter(F.col("vec_id") < 10)

    def ranked(topk: DataFrame, variant: str) -> DataFrame:
        # rank recomputed on the ROUNDED cosine for cross-engine determinism
        return SIM.topk_rank(
            topk.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine")), 5, "vec_id"
        ).select(F.lit(variant).alias("variant"), "query_id", "vec_id", "cosine", "rank")

    brute = ranked(SIM.brute_force_topk(e, q10, k=5, query_id_col="vec_id"), "brute")
    lsh = ranked(SIM.lsh_topk(
        e, q10, k=5, n_bits=8, probe_hamming=1, query_id_col="vec_id",
    ), "lsh")
    ivf = ranked(SIM.ivf_topk(
        e, q10, k=5, n_centroids=8, nprobe=2, query_id_col="vec_id",
    ), "ivf")
    # pair_gate: CLIP-score-style image↔caption alignment filter — even
    # vec_ids stand in for image embeddings, the following odd vec_id for
    # the paired caption; keep pairs with cosine ≥ 0.1
    img = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("pair_id"), "embedding"
    )
    cap = e.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") - 1).alias("pair_id"), "embedding"
    )
    gate = SIM.pair_cosine_gate(img, cap, threshold=0.1).select(
        F.lit("pair_gate").alias("variant"),
        F.col("pair_id").alias("query_id"),
        (F.col("pair_id") + 1).alias("vec_id"),
        "cosine", F.lit(1).alias("rank"),
    )
    # pq: PQ-ADC tier (operators/similarity.py:pq_topk) — 4 subspaces x
    # 8 codes, per-subspace hash-seeded codebooks; the 'cosine' column
    # carries the arm's score (negated approx L2^2, exact integer
    # micro-units under the hood), so rank direction matches the union
    pq = SIM.pq_topk(
        e, q10.withColumnRenamed("vec_id", "query_id"),
        k=5, m=4, n_centroids=8,
    ).select(
        F.lit("pq").alias("variant"), "query_id", "vec_id",
        F.col("score").alias("cosine"), F.col("rank").cast("int").alias("rank"),
    )
    # ivfadc: the Faiss IVFx,PQy composition (operators/similarity.py:
    # ivfadc_topk) — the ivf arm's coarse book prunes to 2 of 8 lists,
    # then PQ-ADC scores the candidates' RESIDUAL codes (4x8 books
    # re-seeded on the residual table, per-(query, list) LUT)
    ivfadc = SIM.ivfadc_topk(
        e, q10.withColumnRenamed("vec_id", "query_id"),
        k=5, n_centroids=8, nprobe=2, m=4, pq_k=8,
    ).select(
        F.lit("ivfadc").alias("variant"), "query_id", "vec_id",
        F.col("score").alias("cosine"), F.col("rank").cast("int").alias("rank"),
    )
    return (
        brute.unionByName(lsh).unionByName(ivf).unionByName(gate)
        .unionByName(pq).unionByName(ivfadc)
    )


@query(
    "embedding_neardup",
    oracle=None,  # registered below — built from the shared hyperplanes
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup battery, tagged union (variant, a, b, cosine):

    - ``lsh``: cosine pairs ≥ 0.3 via the multi-band quantized-hyperplane
      LSH default (4 bands × 8 bits pinned here so the oracle is stable;
      corpus-size-derived n_bits is the library default, exercised in
      tests/test_skew.py). The DuckDB oracle re-derives the same band
      keys with integer arithmetic.
    - ``semdedup``: cluster-scoped SemDeDup drops at the same threshold —
      IVF hash-seeded 8-centroid assignment, within-list self-join, one
      row per dropped vector with its best earlier witness (a=witness,
      b=dup, so a<b like the lsh arm). The oracle mirrors the codebook
      seeding and rounded argmax centroid assignment exactly as in
      ann_topk's cents/assign CTEs.
    """
    e = load(spark, sf_dir, "embeddings")
    pairs = D.embedding_neardup_pairs(
        e, "vec_id", "embedding", threshold=0.3, n_bands=4, n_bits=8, dim=64
    )
    lsh = pairs.select(
        F.lit("lsh").alias("variant"), "a", "b", F.round("cosine", 6).alias("cosine")
    )
    sem = D.semantic_dedup_pairs(
        e, "vec_id", "embedding", threshold=0.3, n_centroids=8
    ).select(
        F.lit("semdedup").alias("variant"),
        F.col("witness").alias("a"),
        F.col("dup").alias("b"),
        F.round("cosine", 6).alias("cosine"),
    )
    return lsh.unionByName(sem)


def _emb_neardup_oracle() -> str:
    planes = D.hyperplane_weights(4, 8, 64)
    band_exprs = []
    for band in range(4):
        bits = []
        for wrow in planes[band]:
            wl = "[" + ",".join(str(int(w)) for w in wrow) + "]"
            dot = (
                "list_sum(list_transform(generate_series(1, 64), i -> "
                f"trunc((embedding)[i]::DOUBLE * 1048576.0)::BIGINT * ({wl}[i])::BIGINT))"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        band_exprs.append(f"concat('{band}:', " + ", ".join(bits) + ")")
    buckets = ",\n        ".join(band_exprs)
    return f"""
    WITH c AS (
      SELECT vec_id, unnest([
        {buckets}
      ]) AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
      FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    lsh AS (
      SELECT cand.a, cand.b,
             round({_DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
               / ({_NORM2_SQL.format(a='ea.embedding')} * {_NORM2_SQL.format(a='eb.embedding')}), 6)
               AS cosine
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.a
      JOIN embeddings eb ON eb.vec_id = cand.b
      WHERE {_DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
            / ({_NORM2_SQL.format(a='ea.embedding')} * {_NORM2_SQL.format(a='eb.embedding')}) >= 0.3
    ),
    -- SemDeDup arm (operators/dedup.py:semantic_dedup_pairs): the cents /
    -- cscore / assign CTEs mirror the broadcast IVF codebook assignment
    -- bit-for-bit with ann_topk's oracle (hash-spread seeding, 6-dp-rounded
    -- argmax score, centroid-index tiebreak)
    cents AS (
      SELECT embedding AS ce,
             row_number() OVER (ORDER BY md5('cb|' || vec_id::VARCHAR), vec_id) - 1 AS ci
      FROM (SELECT * FROM embeddings
            ORDER BY md5('cb|' || vec_id::VARCHAR), vec_id LIMIT 8)
    ),
    cscore AS (
      SELECT c.vec_id, c.embedding, cents.ci,
             round({_DOT_SQL.format(a='c.embedding', b='cents.ce')}
               / ({_NORM2_SQL.format(a='c.embedding')} * {_NORM2_SQL.format(a='cents.ce')}), 6)
               AS s
      FROM embeddings c CROSS JOIN cents
    ),
    assign AS (
      SELECT vec_id, embedding, ci AS list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, ci) AS rn
        FROM cscore
      ) WHERE rn = 1
    ),
    sempairs AS (
      SELECT sa.vec_id AS a, sb.vec_id AS b,
             {_DOT_SQL.format(a='sa.embedding', b='sb.embedding')}
               / ({_NORM2_SQL.format(a='sa.embedding')} * {_NORM2_SQL.format(a='sb.embedding')})
               AS cos_raw
      FROM assign sa JOIN assign sb
        ON sa.list_id = sb.list_id AND sa.vec_id < sb.vec_id
      WHERE {_DOT_SQL.format(a='sa.embedding', b='sb.embedding')}
            / ({_NORM2_SQL.format(a='sa.embedding')} * {_NORM2_SQL.format(a='sb.embedding')}) >= 0.3
    ),
    sem AS (
      SELECT a, b, round(cos_raw, 6) AS cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY b
                                     ORDER BY round(cos_raw, 6) DESC, a) AS rn
        FROM sempairs
      ) WHERE rn = 1
    )
    SELECT 'lsh' AS variant, a, b, cosine FROM lsh
    UNION ALL
    SELECT 'semdedup' AS variant, a, b, cosine FROM sem
    """


_ORACLES["embedding_neardup"] = _emb_neardup_oracle()


# --------------------------------------------------------------------------
# Rows-only queries (no SQL oracle — non-SQL-expressible pipelines; the
# pytest suite checks them against the single-threaded Python oracle /
# codec invariants instead)
# --------------------------------------------------------------------------
@query("crawl_bfs_frontier")
def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl engine end-to-end on the deterministic synthetic web:
    wave-synchronous BFS with seen-set anti-join, politeness budget, and
    checkpointing; returns the visit order (bit-identical to the
    single-threaded reference semantics — tests/test_crawl_identity.py).
    Oracle: VALUES literal generated from the INDEPENDENT Python oracle
    (web_crawler_spark/oracle.py via tools/pin_oracles.py) — a genuine
    cross-implementation check of order, depth, and seen-set."""
    import shutil
    import tempfile

    from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
    from web_crawler_spark.synthetic.web import SyntheticWeb

    web = SyntheticWeb(n_hosts=3, pages_per_host=25, seed=42)
    cfg = CrawlConfig(max_pages=12, max_depth=3)
    workdir = tempfile.mkdtemp(prefix="wcs_q_")
    driver = CrawlDriver(spark, web, workdir, cfg)
    # workload-aware shuffle sizing: per-wave frontier state here is a few
    # hundred rows — 32 shuffle partitions is pure scheduling overhead.
    # (Production frontiers size this from the frontier table's bucket
    # count; AQE coalescing handles the in-between.)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        driver.run(max_waves=20)
        # the visit order is materialized before its crawl tables go
        order = driver.visit_order().select(
            "seed_host", "url", "depth", "visit_seq", "status")
        return local_df(spark, order.collect(), order.schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(workdir, ignore_errors=True)


@query("crawl_progress")
def q_crawl_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7 + §2.8 progress stream: the per-wave crawl metrics the engine
    writes into its snapshot summary metadata (pagesProcessed /
    locationsFound-style counters, progress-tracker.service.js:36-55;
    north_rule "fetch/dedup metrics into snapshot metadata") surfaced as a
    DataFrame — one row per wave with pages fetched, candidate links,
    dedup drops, and new URLs. Deterministic fixture; golden-pinned
    oracle (tools/pin_oracles.py)."""
    import shutil
    import tempfile

    from web_crawler_spark.plans.crawl import CrawlConfig, CrawlDriver
    from web_crawler_spark.synthetic.web import SyntheticWeb

    web = SyntheticWeb(n_hosts=3, pages_per_host=25, seed=42)
    cfg = CrawlConfig(max_pages=12, max_depth=3,
                      keep_snapshots=1000, compact_every=1000)
    workdir = tempfile.mkdtemp(prefix="wcs_prog_")
    driver = CrawlDriver(spark, web, workdir, cfg)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        driver.run(max_waves=20)
        rows = [
            (
                s["summary"]["wave"],
                s["summary"].get("pages_fetched", 0),
                s["summary"].get("candidates", 0),
                s["summary"].get("deduped_out", 0),
                s["summary"].get("new_urls", 0),
                sum(s["summary"].get("visited_n", {}).values()),
            )
            for s in driver.delta_tbl.snapshots()
            if "pages_fetched" in s.get("summary", {})
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(workdir, ignore_errors=True)
    return local_df(
        spark,
        rows,
        "wave int, pages_fetched long, candidates long, deduped_out long,"
        " new_urls long, total_visited long",
    )


@query("image_phash_dedup")
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup on the payload table: synthesize deterministic
    image+caption rows (input_hint schema), decode + phash + dhash + ahash
    via mapInPandas, collapse candidate pairs to the min-id survivor under
    the production tri-hash majority consensus: phash-Hamming ≤ 8 pairs
    (the banded candidate generator) collapse only when at least 2 of the
    3 hash families {phash (global low-frequency), dhash (local gradient,
    images.py:dhash64), ahash (mean threshold, images.py:ahash64)} agree
    at Hamming ≤ 8 — the families fail on DIFFERENT image classes, so the
    vote kills each family's false positives without letting any single
    family veto a true re-encode pair (re-encodes stay ≤ 4 on all three).
    The dhash/ahash lookups ride the candidate pairs, never a second
    self-join."""
    from web_crawler_spark.images import image_features, synthesize_images

    imgs = synthesize_images(spark, 120)
    # persist: the features feed the pair join, the hash consensus, and
    # the survivor join — without it the decode mapInPandas runs 4x
    feats = image_features(imgs).filter(F.col("decode_ok")).persist()
    cand = D.phash_neardup_pairs(feats, "image_id", "phash", max_hamming=8)
    hx = feats.select("image_id", "phash", "dhash", "ahash")
    sidea = hx.select(F.col("image_id").alias("a"), F.col("phash").alias("_pha"),
                      F.col("dhash").alias("_dha"), F.col("ahash").alias("_aha"))
    sideb = hx.select(F.col("image_id").alias("b"), F.col("phash").alias("_phb"),
                      F.col("dhash").alias("_dhb"), F.col("ahash").alias("_ahb"))

    def _vote(x, y):
        return (F.bit_count(F.col(x).bitwiseXOR(F.col(y))) <= 8).cast("int")

    pairs = (
        cand.join(sidea, "a").join(sideb, "b")
        .filter(
            _vote("_pha", "_phb") + _vote("_dha", "_dhb") + _vote("_aha", "_ahb")
            >= 2
        )
    )
    losers = pairs.groupBy(F.col("b").alias("image_id")).agg(F.min("a").alias("_rep"))
    survivors = feats.join(losers, "image_id", "left").filter(F.col("_rep").isNull())
    return survivors.select(
        "image_id", "w", "h", "fmt", "caption", "phash", "dhash", "ahash"
    )


def _image_feature_agg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over binary image columns (Arrow-batched
    mapInPandas): per-format decode success + mean luma stats. Golden-
    pinned source for the image_features composite (tools/pin_oracles.py
    key ``image_features_agg``)."""
    from web_crawler_spark.images import image_features, synthesize_images

    imgs = synthesize_images(spark, 120)
    feats = image_features(imgs)
    return feats.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("decode_ok"), 1)).alias("n_ok"),
        F.round(F.avg("mean_luma"), 2).alias("avg_luma"),
    )


def _image_color_agg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hasler–Süsstrunk colorfulness (images.colorfulness — exact pixel
    math, the cheap aesthetic-adjacent curation signal) aggregated per
    format over the synthesized fixture. Golden-pinned source for the
    image_features composite (tools/pin_oracles.py key
    ``image_color_agg``)."""
    from web_crawler_spark.images import image_features, synthesize_images

    feats = image_features(synthesize_images(spark, 120))
    return feats.filter(F.col("decode_ok")).groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("colorfulness"), 2).alias("avg_color"),
        F.round(F.min("colorfulness"), 2).alias("min_color"),
    )


def _image_psnr_agg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row emission invariant (images.verify_invariant:
    decoded pixels vs independently re-derived ground truth — exact for
    png, PSNR >= 40 dB for the lossy surrogate — plus caption round-trip
    equality), aggregated per format. Golden-pinned source for the
    image_features composite (tools/pin_oracles.py key
    ``image_psnr_agg``); the fixture is SF-independent so the pin holds
    at every scale factor."""
    from web_crawler_spark.images import synthesize_images, verify_invariant

    inv = verify_invariant(synthesize_images(spark, 120))
    return inv.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("pixels_ok") & F.col("caption_ok"), 1)).alias("n_ok"),
        F.round(F.min("psnr"), 2).alias("min_psnr"),
    )


# Curation fixture: deterministic image+caption metadata derived from the
# part table — every gate in images.curate_pairs is exercised by a planted
# modulus class. The gates read only metadata columns, so the fixture
# needs no bytes and the oracle re-derives every input in closed form.
_CURATION_CAPTION_SQL = """
    CASE p_partkey % 23
      WHEN 0 THEN concat('IMG_', p_partkey, '.JPG photo')
      WHEN 1 THEN concat('see https://cdn.example.com/p/', p_partkey, ' now')
      WHEN 2 THEN '   '
      WHEN 3 THEN concat(p_partkey, ' ', p_partkey * 31, ' x', p_partkey * 7)
      WHEN 4 THEN concat(repeat('very ', 40), p_name)
      ELSE concat('a photo of a ', p_name)
    END
"""

_CURATION_ORACLE = f"""
    WITH fx AS (
      SELECT printf('img_%06d', p_partkey) AS media_id,
             (16 + (p_partkey % 40) * 8)::BIGINT AS w,
             (16 + ((p_partkey // 7) % 40) * 8)::BIGINT AS h,
             CASE p_partkey % 7 WHEN 0 THEN 'gif' WHEN 1 THEN 'jpeg'
                                ELSE 'png' END AS fmt,
             {_CURATION_CAPTION_SQL} AS caption
      FROM part
    ),
    g AS (
      SELECT *,
             trim(regexp_replace(caption, '\\s+', ' ', 'g')) AS trimmed,
             greatest(w, h)::DOUBLE / least(w, h)::DOUBLE AS aspect,
             CASE WHEN length(caption) > 0 THEN
               length(regexp_replace(caption, '[^0-9]', '', 'g'))::DOUBLE
                 / length(caption)
             ELSE 0.0 END AS digit_ratio
      FROM fx
    ),
    r AS (
      SELECT *,
             CASE WHEN length(trimmed) = 0 THEN 0
                  ELSE len(string_split(trimmed, ' ')) END AS n_tokens,
             CASE
               WHEN fmt NOT IN ('png', 'jpeg') THEN 'bad_format'
               WHEN least(w, h) < 64 THEN 'too_small'
               WHEN aspect > 3.0 THEN 'bad_aspect'
               WHEN caption IS NULL OR length(trimmed) = 0 THEN 'no_caption'
               WHEN (CASE WHEN length(trimmed) = 0 THEN 0
                          ELSE len(string_split(trimmed, ' ')) END) < 2
                 OR (CASE WHEN length(trimmed) = 0 THEN 0
                          ELSE len(string_split(trimmed, ' ')) END) > 32
                 THEN 'caption_length'
               WHEN regexp_matches(caption,
                 '(?i)^(img|dsc|dcim|image|photo|untitled|screenshot)[-_ ]?[0-9]+')
                 THEN 'junk_caption'
               WHEN regexp_matches(caption, '(?i)https?://')
                 THEN 'url_in_caption'
               WHEN digit_ratio >= 0.3 THEN 'digit_heavy'
             END AS reject_reason
      FROM g
    )
    SELECT 'curation' AS kernel, media_id, fmt, w AS l1, h AS l2,
           n_tokens::BIGINT AS l3, round(aspect, 4) AS d1,
           (reject_reason IS NULL) AS b1, reject_reason AS s1
    FROM r
"""

# Shared re-derivation of the image-metadata fixture for the bucket/shard
# arms (same planted moduli as the curation fx CTE above).
_IMG_FX_SQL = f"""
      SELECT printf('img_%06d', p_partkey) AS media_id,
             (16 + (p_partkey % 40) * 8)::BIGINT AS w,
             (16 + ((p_partkey // 7) % 40) * 8)::BIGINT AS h,
             CASE p_partkey % 7 WHEN 0 THEN 'gif' WHEN 1 THEN 'jpeg'
                                ELSE 'png' END AS fmt,
             {_CURATION_CAPTION_SQL} AS caption
      FROM part
"""


def _bucket_oracle() -> str:
    from web_crawler_spark.images import SDXL_BUCKETS

    vals = ", ".join(f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(SDXL_BUCKETS))
    return f"""
    WITH fx AS ({_IMG_FX_SQL}),
    bk(i, bw, bh) AS (VALUES {vals}),
    d AS (
      SELECT fx.media_id, fx.fmt, bk.i, bk.bw, bk.bh,
             greatest(fx.w * bk.bh, fx.h * bk.bw)::DOUBLE
               / least(fx.w * bk.bh, fx.h * bk.bw)::DOUBLE AS r
      FROM fx CROSS JOIN bk
    ),
    p AS (
      SELECT *, row_number() OVER (PARTITION BY media_id ORDER BY r, i) AS rn
      FROM d
    ),
    b AS (SELECT * FROM p WHERE rn = 1)
    SELECT 'bucket' AS kernel, media_id, fmt, bw::BIGINT AS l1, bh::BIGINT AS l2,
           ((row_number() OVER (PARTITION BY bw, bh ORDER BY media_id) - 1)
             // 8)::BIGINT AS l3,
           round(r, 6) AS d1, CAST(NULL AS BOOLEAN) AS b1,
           concat(bw, 'x', bh) AS s1
    FROM b
    """


def _shard_oracle() -> str:
    return f"""
    WITH fx AS ({_IMG_FX_SQL}),
    sb AS (
      SELECT media_id, fmt,
             (CAST(('0x' || substr(md5('shard|' || media_id), 1, 4)) AS INTEGER)
               % 8)::BIGINT AS writer,
             (w * h * 3 + length(caption))::BIGINT AS eb
      FROM fx
    ),
    sc AS (
      SELECT media_id, fmt, writer,
             coalesce(sum(eb) OVER (PARTITION BY writer ORDER BY media_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum
      FROM sb
    )
    SELECT 'shard' AS kernel, media_id, fmt, writer AS l1,
           (cum // 4194304)::BIGINT AS l2, (cum % 4194304)::BIGINT AS l3,
           CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS BOOLEAN) AS b1,
           printf('w%d-s%05d', writer, (cum // 4194304)::BIGINT) AS s1
    FROM sc
    """


_IMAGE_FEATURES_SCHEMA = {
    "kernel": "string", "media_id": "string", "fmt": "string",
    "l1": "long", "l2": "long", "l3": "long",
    "d1": "double", "b1": "boolean", "s1": "string",
}


@query("image_features")
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-payload battery as a tagged union: ``features`` — decode +
    mean-luma stats per format over synthesized input_hint rows (golden-
    pinned); ``curation`` — the LAION/DataComp-style image+caption pair
    gates (images.curate_pairs: format / min-dim / aspect / caption
    length / filename-junk / URL / digit-ratio cascade) over a closed-form
    metadata fixture, fully re-derived by the DuckDB oracle; ``bucket`` —
    SDXL-style aspect-ratio bucketing + per-bucket batch assembly
    (images.aspect_bucket, shuffle-free argmin fold over the literal
    bucket list); ``shard`` — WebDataset-style byte-budget shard packing
    (images.shard_pack, md5 writer streams + per-writer cumsum); ``psnr``
    — the north rule's per-row emission invariant (images.verify_invariant:
    decoded pixels vs re-derived ground truth, exact for lossless /
    PSNR >= 40 dB for lossy, plus caption equality), golden-pinned."""
    from web_crawler_spark.images import (
        aspect_bucket, curate_pairs, elect_captions, header_audit,
        model_score_gate, shard_pack, synthesize_images,
    )

    S = _IMAGE_FEATURES_SCHEMA
    feats = _arm(_image_feature_agg_rows(spark, sf_dir), S, "features",
                 fmt="fmt", l1="n", l2="n_ok", d1="avg_luma")

    p = load(spark, sf_dir, "part")
    fixture = p.select(
        F.format_string("img_%06d", "p_partkey").alias("image_id"),
        (16 + (F.col("p_partkey") % 40) * 8).cast("int").alias("w"),
        (16 + ((F.col("p_partkey") / 7).cast("long") % 40) * 8)
            .cast("int").alias("h"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit("gif"))
        .when(F.col("p_partkey") % 7 == 1, F.lit("jpeg"))
        .otherwise(F.lit("png")).alias("fmt"),
        F.when(F.col("p_partkey") % 23 == 0,
               F.concat(F.lit("IMG_"), "p_partkey", F.lit(".JPG photo")))
        .when(F.col("p_partkey") % 23 == 1,
              F.concat(F.lit("see https://cdn.example.com/p/"),
                       "p_partkey", F.lit(" now")))
        .when(F.col("p_partkey") % 23 == 2, F.lit("   "))
        .when(F.col("p_partkey") % 23 == 3,
              F.concat(F.col("p_partkey").cast("string"), F.lit(" "),
                       (F.col("p_partkey") * 31).cast("string"),
                       F.lit(" x"), (F.col("p_partkey") * 7).cast("string")))
        .when(F.col("p_partkey") % 23 == 4,
              F.concat(F.repeat(F.lit("very "), 40), "p_name"))
        .otherwise(F.concat(F.lit("a photo of a "), "p_name"))
        .alias("caption"),
    )
    cur = _arm(curate_pairs(fixture), S, "curation",
               media_id="image_id", fmt="fmt", l1="w", l2="h",
               l3="n_caption_tokens", d1="aspect", b1="keep",
               s1="reject_reason")
    bk = _arm(aspect_bucket(fixture), S, "bucket",
              media_id="image_id", fmt="fmt", l1="bucket_w", l2="bucket_h",
              l3="batch_idx", d1="aspect_dist", s1="bucket_key")
    est_bytes = F.col("w").cast("long") * F.col("h") * 3 + F.length("caption")
    sh = _arm(shard_pack(fixture.withColumn("_eb", est_bytes), "_eb"), S,
              "shard", media_id="image_id", fmt="fmt", l1="writer",
              l2="shard_idx", l3="shard_offset", s1="shard_key")
    pv = _arm(_image_psnr_agg_rows(spark, sf_dir), S, "psnr",
              fmt="fmt", l1="n", l2="n_ok", d1="min_psnr",
              b1=F.col("n") == F.col("n_ok"))
    co = _arm(_image_color_agg_rows(spark, sf_dir), S, "colorfulness",
              fmt="fmt", l1="n", d1="avg_color", b1=F.col("min_color") > 0)
    # score_gate: model scores AS DATA (images.model_score_gate) — the
    # broadcast threshold cascade over a closed-form score fixture the
    # oracle re-derives exactly (integer-ratio doubles, engine-exact);
    # every p_partkey % 11 == 0 image is deliberately unscored to prove
    # unscored rows never silently pass
    pairs_fx = p.select(F.format_string("img_%06d", "p_partkey").alias("image_id"))
    scores_fx = p.filter(F.col("p_partkey") % 11 != 0).select(
        F.format_string("img_%06d", "p_partkey").alias("image_id"),
        ((F.col("p_partkey") % 7) / F.lit(40.0)).alias("nsfw_p"),
        (F.lit(3.0) + (F.col("p_partkey") % 13) / F.lit(4.0)).alias("aesthetic"),
        (((F.col("p_partkey") / 3).cast("long") % 5) / F.lit(7.0))
        .alias("watermark_p"),
    )
    sg = _arm(model_score_gate(pairs_fx, scores_fx), S, "score_gate",
              media_id="image_id", d1="aesthetic", b1="keep",
              s1="reject_reason")
    # caption_elect: per-near-dup-cluster caption election
    # (images.elect_captions) over a planted chain-cluster fixture —
    # consecutive ids k, k+1, k+2 for k % 5 == 0 form 3-chains (the
    # transitive case naive per-pair collapse gets wrong); captions vary
    # in length AND tie, so both electoral rules (longest, then
    # lexicographically smallest) decide somewhere
    el_range = p.filter(F.col("p_partkey").between(10, 160))
    el_pairs = el_range.select(
        F.format_string("img_%06d", "p_partkey").alias("image_id"),
        F.concat(
            F.lit("c"), (F.col("p_partkey") % 7).cast("string"),
            F.expr("repeat('!', cast(p_partkey % 4 as int))"),
        ).alias("caption"),
    )
    el_edges = (
        el_range.filter(
            (F.col("p_partkey") % 5 < 2) & (F.col("p_partkey") <= 159)
        )
        .select(
            F.format_string("img_%06d", "p_partkey").alias("a"),
            F.format_string("img_%06d", F.col("p_partkey") + 1).alias("b"),
        )
    )
    el = _arm(elect_captions(el_pairs, el_edges), S, "caption_elect",
              media_id="image_id", l1="n_members", l2="n_captions",
              b1="is_rep", s1="elected_caption")
    # header: the zero-decode binary payload audit (images.header_audit —
    # magic sniff + PNG IHDR / surrogate LQNT fixed-layout parse, pure
    # hex/substr/conv column algebra) over the synthesized payload table
    # with PLANTED corruption: every i % 10 == 3 row is truncated to 20
    # bytes (signature intact, IHDR unreadable) and every i % 10 == 7 row
    # gets its first byte zeroed (no magic matches). Both moduli are odd,
    # so they never land on the i % 4 == 0 lossy rows and the oracle
    # re-derives every expectation in closed form: clean rows parse dims
    # equal to metadata (deltas 0, png bit_depth*100+color_type = 802),
    # truncated rows sniff 'png' but fail dims, bad-magic rows sniff NULL.
    # A parser bug — wrong offset, wrong endianness, a length guard off by
    # one — shows up as a nonzero delta or a flipped flag, never hides.
    _i = F.regexp_extract("image_id", r"img_(\d+)", 1).cast("long")
    _nodup = ~F.col("image_id").endswith("_dup")
    hdr_fx = synthesize_images(spark, 120).withColumn(
        "bytes",
        F.when(_nodup & (_i % 10 == 3),
               F.substr(F.col("bytes"), F.lit(1), F.lit(20)))
        .when(_nodup & (_i % 10 == 7),
              F.concat(F.lit(b"\x00"),
                       F.substr(F.col("bytes"), F.lit(2), F.length("bytes"))))
        .otherwise(F.col("bytes")),
    )
    hd = _arm(header_audit(hdr_fx), S, "header",
              media_id="image_id", fmt="fmt",
              l1=F.col("hdr_w") - F.col("w"), l2=F.col("hdr_h") - F.col("h"),
              l3=F.col("hdr_bit_depth") * 100 + F.col("hdr_color_type"),
              b1="header_dims_ok", s1="sniffed")
    return reduce(DataFrame.unionByName,
                  [feats, cur, bk, sh, pv, co, sg, el, hd])


# --------------------------------------------------------------------------
# §2.1 sources/sinks: S5 sitemap, S6 API probe, S7 PDF, S8 bulk CSV
# --------------------------------------------------------------------------
_SM_XML = (
    "concat('<urlset>',"
    "'<url><loc>https://h', {k}, '.example.com/office</loc></url>',"
    "'<url><loc>https://h', {k}, '.example.com/logo.png</loc></url>',"
    "'<url><loc>https://h', {k}, '.example.com/login</loc></url>',"
    "'<url><loc>https://h', {k}, '.example.com/about</loc></url>',"
    "'</urlset>')"
)


_SM_IDX_XML = (
    "concat('<sitemapindex>',"
    "'<sitemap><loc>https://h', {k}, '.example.com/sm/0.xml</loc></sitemap>',"
    "'<sitemap><loc>https://h', {k}, '.example.com/sm/1.xml</loc></sitemap>',"
    "'</sitemapindex>')"
)
# a child sitemap's body, derived from (host key, child index): one good
# page and one excluded one — proving the F1 filter applies to round-2
# page locs but never to the round-1 child-sitemap locs
_SM_CHILD_XML = (
    "concat('<urlset>',"
    "'<url><loc>https://h', {k}, '.example.com/c', {c}, '/office</loc></url>',"
    "'<url><loc>https://h', {k}, '.example.com/c', {c}, '/login</loc></url>',"
    "'</urlset>')"
)


@query(
    "sitemap_scan",
    oracle="""
    SELECT p_partkey, 'page' AS kind, 0 AS loc_idx,
           concat('https://h', p_partkey, '.example.com/office') AS loc_url
    FROM part
    UNION ALL
    SELECT p_partkey, 'page', 3,
           concat('https://h', p_partkey, '.example.com/about')
    FROM part
    UNION ALL
    SELECT p_partkey, 'sitemap', c,
           concat('https://h', p_partkey, '.example.com/sm/', c, '.xml')
    FROM part, (VALUES (0), (1)) v(c)
    UNION ALL
    SELECT p_partkey, 'index_page', c * 10,
           concat('https://h', p_partkey, '.example.com/c', c, '/office')
    FROM part, (VALUES (0), (1)) v(c)
    """,
)
def q_sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: `<loc>` mining over synthesized sitemap XML + F1 exclusion
    (site-crawler.service.js:199-239) — the planted .png and /login
    entries must be excluded, document order (loc_idx) preserved — plus
    the sitemap-INDEX expansion the reference lacks (sources/sitemap.py:
    classify_sitemap/split_locs): round 1 routes an index document's locs
    to child sitemaps (never excluded), round 2 mines the fetched
    children's urlsets as pages (excluded as usual). Tagged
    (kind = page | sitemap | index_page)."""
    from web_crawler_spark.sources import sitemap as SM

    part = load(spark, sf_dir, "part")
    xml = F.expr(_SM_XML.format(k="p_partkey"))
    pages = (
        SM.extract_locs(part.select("p_partkey", xml.alias("xml")))
        .select("p_partkey", F.lit("page").alias("kind"), "loc_idx", "loc_url")
    )
    idx = part.select(
        "p_partkey", F.expr(_SM_IDX_XML.format(k="p_partkey")).alias("xml")
    )
    children = SM.split_locs(idx).filter(F.col("loc_kind") == "sitemap")
    child_rows = children.select(
        "p_partkey",
        F.lit("sitemap").alias("kind"),
        F.col("loc_idx"),
        "loc_url",
    )
    # round 2: "fetch" each child (body is a deterministic function of the
    # child URL, like every synthetic fetch here) and mine its urlset
    fetched = children.select(
        "p_partkey",
        F.regexp_extract("loc_url", r"/sm/(\d+)\.xml$", 1)
        .cast("int").alias("_c"),
    ).select(
        "p_partkey", "_c",
        F.expr(_SM_CHILD_XML.format(k="p_partkey", c="_c")).alias("xml"),
    )
    round2 = SM.split_locs(fetched).select(
        "p_partkey",
        F.lit("index_page").alias("kind"),
        (F.col("_c") * 10 + F.col("loc_idx")).alias("loc_idx"),
        "loc_url",
    )
    return pages.unionByName(child_rows).unionByName(round2)


@query(
    "api_json_normalize",
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             lower(replace(replace(s_name, '#', ''), ' ', '')) AS slug,
             s_suppkey % 3 AS shape,
             printf('%.1f', (s_suppkey % 1700) / 10.0 - 85.0) AS lat1,
             printf('%.1f', (s_suppkey % 3500) / 10.0 - 175.0) AS lon1,
             printf('%.2f', (s_suppkey % 17000) / 100.0 - 85.0) AS lat2,
             printf('%.2f', (s_suppkey % 35000) / 100.0 - 175.0) AS lon2,
             cast(10000 + s_suppkey % 80000 AS varchar) AS zip
      FROM supplier
    )
    SELECT concat('https://', slug, '.example.com/api/locations') AS sourceUrl,
           CASE shape WHEN 0 THEN concat('HQ ', slug)
                      WHEN 1 THEN concat('Store ', slug)
                      ELSE concat('Geo ', slug) END AS locationName,
           CASE shape WHEN 0 THEN '' WHEN 1 THEN concat('City', s_suppkey)
                      ELSE concat('Geo', s_suppkey) END AS streetOrCity,
           CASE shape WHEN 0 THEN zip ELSE '' END AS postcode,
           CASE shape WHEN 0 THEN 'USA' WHEN 1 THEN 'GBR' ELSE 'NLD' END
             AS countryIso3,
           CASE shape WHEN 0 THEN cast(cast(lat1 AS double) AS varchar)
                      WHEN 1 THEN ''
                      ELSE cast(cast(lat2 AS double) AS varchar) END AS latitude,
           CASE shape WHEN 0 THEN cast(cast(lon1 AS double) AS varchar)
                      WHEN 1 THEN ''
                      ELSE cast(cast(lon2 AS double) AS varchar) END AS longitude,
           CASE shape WHEN 2 THEN 'GeoJSON' ELSE 'API/JSON' END AS sourceType
    FROM s
    """,
)
def q_api_json_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+X18: the three payload shapes (bare array / container key /
    GeoJSON FeatureCollection) synthesized per supplier, pushed through the
    JVM-side JSON normalizer (api-extractor.service.js:103-296). The
    oracle computes the expected output directly from the source columns —
    an end-to-end check of the probe→parse→normalize chain."""
    from web_crawler_spark.sources import api_probe as AP

    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.lower(
            F.regexp_replace(F.regexp_replace("s_name", "#", ""), " ", "")
        ).alias("slug"),
        (F.col("s_suppkey") % 3).alias("shape"),
        F.format_string("%.1f", F.col("s_suppkey") % 1700 / 10.0 - 85.0).alias("lat1"),
        F.format_string("%.1f", F.col("s_suppkey") % 3500 / 10.0 - 175.0).alias("lon1"),
        F.format_string("%.2f", F.col("s_suppkey") % 17000 / 100.0 - 85.0).alias("lat2"),
        F.format_string("%.2f", F.col("s_suppkey") % 35000 / 100.0 - 175.0).alias("lon2"),
        (F.lit(10000) + F.col("s_suppkey") % 80000).cast("string").alias("zip"),
    )
    payload = (
        F.when(
            F.col("shape") == 0,
            F.format_string(
                '[{"name": "HQ %s", "lat": %s, "lng": %s, "zip": "%s", "country": "US"}]',
                "slug", "lat1", "lon1", "zip",
            ),
        )
        .when(
            F.col("shape") == 1,
            F.format_string(
                '{"stores": [{"storeName": "Store %s", "city": "City%s", "countryCode": "GB"}]}',
                "slug", F.col("s_suppkey").cast("string"),
            ),
        )
        .otherwise(
            F.format_string(
                '{"type": "FeatureCollection", "features": [{"geometry": '
                '{"coordinates": [%s, %s]}, "properties": {"name": "Geo %s", '
                '"city": "Geo%s", "country": "NL"}}]}',
                "lon2", "lat2", "slug", F.col("s_suppkey").cast("string"),
            )
        )
    )
    probes = s.select(
        "*",
        F.concat(
            F.lit("https://"), F.col("slug"), F.lit(".example.com/api/locations")
        ).alias("endpoint"),
        payload.alias("payload"),
    )
    items = AP.explode_payload_items(probes)
    return AP.normalize_items(items).select(
        "sourceUrl", "locationName", "streetOrCity", "postcode",
        "countryIso3", "latitude", "longitude", "sourceType",
    )


# X36 oracle fixtures: five PDF texts exercising the full pdf-extractor
# location battery; expected rows pinned from executing the reference's
# pure text functions (pdf-extractor.service.js:43-298, node) on these
# exact texts — see tests/test_sources.py for the per-strategy pins.
_PDF_LOC_FIXTURES = {
    "va": 'Main Office\nAcme Corp\n12 harbor ave\nSpringfield, IL 62704\nUSA\nTel: 555-0100\nBranch registry',
    "vb": 'Our Offices\nLeeds Hub\n4 mill lane\nLeeds, LS1 4AB\nAmsterdam Depot\nKeizersgracht 100\nAmsterdam, 1015 CJ',
    "vc": 'Visit us, office crew\nname, two\n12 st\nmore, lines\nhere, now\nunseen branch tail',
    "vd": 'office 5\n1\nb\nc',
    "ve": 'global presence\nBeta Annex\nDover\nDE 19901\nDover, DE 19901',
}

_PDF_LOC_VALUES = """
        ('va', 0, 'pdf_struct', 'Main Office', 'Acme Corp, 12 harbor ave, Springfield, IL 62704, USA', NULL, NULL, NULL, NULL),
        ('va', 1, 'pdf_us', 'Main Office', 'Springfield, IL 62704', 'Springfield', 'IL', '62704', 'USA'),
        ('va', 2, 'pdf_street', 'Main Office', 'Main Office
Acme Corp
12 harbor ave
Springfield, IL 62704
USA
Tel: 555-0100
Branch registry', NULL, NULL, NULL, NULL),
        ('vb', 0, 'pdf_struct', 'Our Offices', 'Leeds Hub, 4 mill lane, Leeds, LS1 4AB, Amsterdam Depot', NULL, NULL, NULL, NULL),
        ('vb', 1, 'pdf_uk', 'Our Offices', 'Leeds, LS1 4AB', NULL, NULL, 'LS1 4AB', 'GBR'),
        ('vb', 2, 'pdf_nl', 'Our Offices', 'Amsterdam, 1015 CJ', NULL, NULL, '1015 CJ', 'NLD'),
        ('vb', 3, 'pdf_street', 'Our Offices', 'Our Offices
Leeds Hub
4 mill lane
Leeds, LS1 4AB
Amsterdam Depot
Keizersgracht 100
Amsterdam, 1015 CJ', NULL, NULL, NULL, NULL),
        ('vb', 4, 'pdf_section', 'Leeds Hub', '4 mill lane, Leeds, LS1 4AB', NULL, NULL, NULL, NULL),
        ('vb', 5, 'pdf_section', 'Amsterdam Depot', 'Keizersgracht 100, Amsterdam, 1015 CJ', NULL, NULL, NULL, NULL),
        ('vc', 0, 'pdf_struct', 'Visit us, office crew', 'name, two, 12 st, more, lines, here, now', NULL, NULL, NULL, NULL),
        ('vc', 1, 'pdf_street', 'unseen branch tail', 'Visit us, office crew
name, two
12 st
more, lines
here, now
unseen branch tail', NULL, NULL, NULL, NULL),
        ('ve', 0, 'pdf_us', 'global presence', 'Dover, DE 19901', 'Dover', 'DE', '19901', 'USA')
"""

_PDF_EXTRACT_ORACLE = """
    SELECT 'envelope' AS kernel,
           concat('https://docs.example.com/', doc_id, '.pdf') AS sourceUrl,
           cast(1 + doc_id % 9 AS int) AS pages,
           true AS decode_ok,
           CAST(NULL AS BIGINT) AS ord, CAST(NULL AS VARCHAR) AS strategy,
           CAST(NULL AS VARCHAR) AS locationName,
           CAST(NULL AS VARCHAR) AS locationAddress,
           CAST(NULL AS VARCHAR) AS city, CAST(NULL AS VARCHAR) AS state,
           CAST(NULL AS VARCHAR) AS postcode,
           CAST(NULL AS VARCHAR) AS countryIso3
    FROM documents
    UNION ALL
    SELECT 'pdf_locations',
           concat('https://docs.example.com/', doc_id, '-', variant, '.pdf'),
           NULL, NULL, ord::BIGINT, strategy, locationName, locationAddress,
           city, state, postcode, countryIso3
    FROM documents
    CROSS JOIN (VALUES
""" + _PDF_LOC_VALUES + """
    ) AS v(variant, ord, strategy, locationName, locationAddress,
           city, state, postcode, countryIso3)
"""


@query("pdf_text_extract", oracle=_PDF_EXTRACT_ORACLE)
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 + X36 as one tagged union. 'envelope' rows round-trip every
    document through the binary column path (MINIPDF capsule → mapInPandas
    text extraction, pdf-extractor.service.js:9-38); 'pdf_locations' rows
    push five adversarial fixture texts per document through the SAME
    binary path and then the full location battery
    (pdf-extractor.service.js:43-298): structured keyword blocks, the
    US/UK/NL/street pattern sweeps with context-window naming, section
    strides, and the first-wins normalized-address dedup. Expected
    location rows are closed-form literals pinned from the reference's
    own text functions."""
    import pandas as pd

    from web_crawler_spark.sources import pdf as P

    docs = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://docs.example.com/"), "doc_id", F.lit(".pdf")).alias(
            "sourceUrl"
        ),
        "text",
        (F.lit(1) + F.col("doc_id") % 9).cast("int").alias("pages"),
    )

    def encode(batches):
        for pdf_b in batches:
            yield pd.DataFrame(
                {
                    "sourceUrl": pdf_b["sourceUrl"],
                    "bytes": [
                        P.encode_minipdf(t, pages=int(n))
                        for t, n in zip(pdf_b["text"], pdf_b["pages"])
                    ],
                }
            )

    pdfs = docs.mapInPandas(encode, "sourceUrl string, bytes binary")
    S = {"kernel": "string", "sourceUrl": "string", "pages": "int",
         "decode_ok": "boolean", "ord": "bigint", "strategy": "string",
         "locationName": "string", "locationAddress": "string", "city": "string",
         "state": "string", "postcode": "string", "countryIso3": "string"}
    env = _arm(P.extract_pdf_text(pdfs), S, "envelope",
               sourceUrl="sourceUrl", pages="pages", decode_ok="decode_ok")

    variants = F.array(*[
        F.struct(F.lit(v).alias("variant"), F.lit(t).alias("ftext"))
        for v, t in _PDF_LOC_FIXTURES.items()
    ])
    fdocs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(variants).alias("v"))
        .select(
            F.concat(
                F.lit("https://docs.example.com/"), "doc_id", F.lit("-"),
                F.col("v.variant"), F.lit(".pdf"),
            ).alias("sourceUrl"),
            F.col("v.ftext").alias("text"),
            F.lit(1).alias("pages"),
        )
    )
    fpdfs = fdocs.mapInPandas(encode, "sourceUrl string, bytes binary")
    ftexts = P.extract_pdf_text(fpdfs)
    loc = _arm(P.extract_pdf_locations(ftexts), S, "pdf_locations",
               **{c: c for c in S if c not in ("kernel", "pages", "decode_ok")})
    return env.unionByName(loc)


@query(
    "bulk_csv_synonyms",
    oracle="""
    WITH raw AS (
      SELECT CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END AS company_name,
             concat('fallback_', c_custkey) AS name,
             CASE WHEN c_custkey % 7 = 0
                  THEN concat('https://u', c_custkey, '.example') END AS url_upper,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE concat('  https://c', c_custkey, '.example.com ') END AS website
      FROM customer
    )
    SELECT coalesce(company_name, name, 'Unknown') AS companyName,
           trim(coalesce(url_upper, website)) AS url
    FROM raw
    WHERE coalesce(url_upper, website) IS NOT NULL
      AND trim(coalesce(url_upper, website)) <> ''
    """,
)
def q_bulk_csv_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: the bulk-upload header-synonym projection
    (bulk-processor.service.js:100-122): company from [Company Name,
    company, name] else 'Unknown'; url from [URL, url, Website, website],
    trimmed; url-less rows dropped."""
    from web_crawler_spark.sources import bulk as BK

    c = load(spark, sf_dir, "customer")
    frame = c.select(
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("c_name"))
        .alias("Company Name"),
        F.concat(F.lit("fallback_"), "c_custkey").alias("name"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.lit("https://u"), "c_custkey", F.lit(".example")),
        ).alias("URL"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(
            F.concat(F.lit("  https://c"), "c_custkey", F.lit(".example.com "))
        )
        .alias("Website"),
    )
    return BK.coalesce_synonyms(frame)


# hash64 inputs for the serving-envelope ids, mirrored as md5 literals in
# the oracle ('|'-joined, length-prefixed URLs — serving.py:28-34,54)
_JOBID_INPUT = "job|2|17:https://a.example|17:https://b.example|2024-01-01T00:00:00Z"
_REQKEY_INPUT = "crawl|1|21:https://cache.example|single"


@query(
    "sink_roundtrips",
    oracle=f"""
    WITH res AS (
      SELECT c_name AS companyName,
             concat('https://c', c_custkey, '.example.com') AS url,
             CASE WHEN c_custkey % 4 = 0 THEN 'failed' ELSE 'success' END AS status,
             c_custkey % 7 AS locationsCount,
             (c_custkey * 13) % 101 AS qualityScore
      FROM customer WHERE c_custkey <= 30
    ),
    loc AS (
      SELECT *,
             CASE WHEN qualityScore >= 90 THEN '#10b981'
                  WHEN qualityScore >= 70 THEN '#3b82f6'
                  WHEN qualityScore >= 50 THEN '#f59e0b'
                  ELSE '#ef4444' END AS qualityColor,
             row_number() OVER (ORDER BY companyName) - 1 AS rn
      FROM res
    ),
    summ AS (
      SELECT companyName, min(url) AS url, min(status) AS status,
             sum(locationsCount) AS locationsCount,
             row_number() OVER (ORDER BY companyName) - 1 AS rn
      FROM res GROUP BY companyName
    )
    SELECT 'csv' AS variant, 'export' AS sheet, c_custkey AS rn, 'note' AS col,
           concat(c_name, ', has "quoted, commas"') AS val
    FROM customer WHERE c_custkey < 100
    UNION ALL
    SELECT 'xlsx', 'Summary', rn, t.col, t.val
    FROM summ CROSS JOIN LATERAL (VALUES
      ('companyName', companyName), ('url', url), ('status', status),
      ('locationsCount', locationsCount::VARCHAR)) t(col, val)
    UNION ALL
    SELECT 'xlsx', 'All Locations', rn, t.col, t.val
    FROM loc CROSS JOIN LATERAL (VALUES
      ('companyName', companyName), ('url', url), ('status', status),
      ('locationsCount', locationsCount::VARCHAR),
      ('qualityScore', qualityScore::VARCHAR),
      ('qualityColor', qualityColor)) t(col, val)
    UNION ALL
    SELECT 'envelope', 'meta', 0::BIGINT, t.col, t.val FROM (VALUES
      ('success', 'true'),
      ('totalRecords', '5'),
      ('cached', 'false'),
      ('mode', 'single'),
      ('jobId', 'job_' || format('{{:015x}}',
        cast(('0x' || substr(md5('{_JOBID_INPUT}'), 1, 15)) as ubigint)::bigint)),
      ('crawledAt', '2024-01-01T00:00:00Z')) t(col, val)
    UNION ALL
    SELECT 'envelope', 'data', c_custkey - 1, t.col, t.val
    FROM customer CROSS JOIN LATERAL (VALUES
      ('c_custkey', c_custkey::VARCHAR), ('c_name', c_name)) t(col, val)
    WHERE c_custkey BETWEEN 1 AND 5
    UNION ALL
    SELECT 'cache', 'state', 0::BIGINT, 'hit_rows', count(*)::VARCHAR
    FROM customer WHERE c_custkey <= 25
    UNION ALL
    SELECT 'cache', 'state', 0::BIGINT, t.col, t.val FROM (VALUES
      ('first_lookup', 'miss'),
      ('second_lookup', 'hit'),
      ('site_mode_lookup', 'skip'),
      ('hit_equals_put', 'true'),
      ('request_key', 'req_' || format('{{:015x}}',
        cast(('0x' || substr(md5('{_REQKEY_INPUT}'), 1, 15)) as ubigint)::bigint))) t(col, val)
    UNION ALL
    SELECT 'wds', s.image_id, 0::BIGINT, t.col, t.val
    FROM (
      SELECT printf('img_%012d', i) AS image_id,
             'synthetic scene ' || i AS caption
      FROM generate_series(0, 39) g(i)
      UNION ALL
      SELECT printf('img_%012d', i) || '_dup', 'synthetic scene ' || i
      FROM generate_series(0, 39) g(i) WHERE i % 10 = 0
    ) s CROSS JOIN LATERAL (VALUES
      ('caption', s.caption), ('bytes_ok', 'true')) t(col, val)
    UNION ALL
    SELECT 'wds', 'meta', 0::BIGINT, 'total_samples', '44'
    UNION ALL
    SELECT 'wds', 'meta', 0::BIGINT, 'shards_nonempty', 'true'
    """,
)
def q_sink_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every sink/driver-side surface as one driver-checked roundtrip,
    melted to a (variant, sheet, rn, col, val) grid:

    - 'csv' (S9): rows with embedded commas and quotes go through the
      RFC-4180 CSV export sink (quoteAll + double-quote doubling,
      CustomDataGrid.jsx:168-190) and are read back by a strict CSV
      reader — any escaping defect breaks the value hash.
    - 'xlsx' (S10): the two-sheet quality-colored workbook is written by
      the stdlib zipfile+XML writer (bulk-processor.service.js:127-240)
      and re-read by parsing the sheet XML itself (read_xlsx_grid) — the
      oracle recomputes both sheets (Summary group-by + All Locations
      with X25 colors) from the source table, so cell placement, header
      mapping, and value rendering are all checked.
    - 'envelope' (S11 + X30): the JSON response envelope
      (crawl.controller.js:55-64) with deterministic jobId and pinned
      crawledAt (X29/X30 replacement) — the oracle re-derives the jobId
      from the same md5 construction.
    - 'cache' (S12): ResultCache miss → put → hit → site-mode skip
      (cache.service.js:47-69); the hit must equal the stored frame and
      the request key matches the oracle's md5 re-derivation.
    - 'wds': the WebDataset tar-shard sink (images.py:write_webdataset)
      writes real ustar archives per (writer, shard), read_webdataset
      streams them back through a binaryFile scan + Arrow tar parse, and
      the per-sample join against the source proves byte integrity and
      single placement — the oracle predicts every caption plus an
      all-true integrity column, so corruption, loss, or double-packing
      breaks the hash.
    """
    import shutil
    import tempfile

    from web_crawler_spark import serving as SV
    from web_crawler_spark.sources import bulk as BK

    scratch = tempfile.mkdtemp(prefix="wcs_sinkrt_")
    try:
        cust = load(spark, sf_dir, "customer")

        # ---- csv (S9) ----
        c = cust.filter(F.col("c_custkey") < 100).select(
            "c_custkey",
            F.concat("c_name", F.lit(', has "quoted, commas"')).alias("note"),
        )
        out = f"{scratch}/export"
        BK.export_csv(c, out, columns=["c_custkey", "note"])
        back = (
            spark.read.option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(out)
        )
        csv_arm = back.select(
            F.lit("csv").alias("variant"),
            F.lit("export").alias("sheet"),
            F.col("c_custkey").cast("long").alias("rn"),
            F.lit("note").alias("col"),
            F.col("note").alias("val"),
        )

        # ---- xlsx (S10) ----
        results = cust.filter(F.col("c_custkey") <= 30).select(
            F.col("c_name").alias("companyName"),
            F.concat(F.lit("https://c"), "c_custkey", F.lit(".example.com")).alias("url"),
            F.when(F.col("c_custkey") % 4 == 0, F.lit("failed"))
            .otherwise(F.lit("success"))
            .alias("status"),
            (F.col("c_custkey") % 7).alias("locationsCount"),
            ((F.col("c_custkey") * 13) % 101).alias("qualityScore"),
        )
        xlsx_path = f"{scratch}/report.xlsx"
        BK.write_excel_report(results, xlsx_path, force_stdlib=True)
        xlsx_arm = local_df(
            spark,
            [("xlsx", s, rn, col, val) for (s, rn, col, val) in BK.read_xlsx_grid(xlsx_path)],
            "variant string, sheet string, rn bigint, col string, val string",
        )

        # ---- envelope (S11 + X30) ----
        env_src = (
            cust.filter(F.col("c_custkey").between(1, 5))
            .select("c_custkey", "c_name")
            .orderBy("c_custkey")
        )
        env = SV.json_response(
            env_src,
            ["https://a.example", "https://b.example"],
            mode="single",
            cached=False,
            run_ts="2024-01-01T00:00:00Z",
        )
        env_rows = [
            ("envelope", "meta", 0, "success", str(env["success"]).lower()),
            ("envelope", "meta", 0, "totalRecords", str(env["totalRecords"])),
            ("envelope", "meta", 0, "cached", str(env["cached"]).lower()),
            ("envelope", "meta", 0, "mode", env["mode"]),
            ("envelope", "meta", 0, "jobId", env["jobId"]),
            ("envelope", "meta", 0, "crawledAt", env["crawledAt"]),
        ]
        for i, rec in enumerate(env["data"]):
            env_rows.append(("envelope", "data", i, "c_custkey", str(rec["c_custkey"])))
            env_rows.append(("envelope", "data", i, "c_name", rec["c_name"]))

        # ---- cache (S12) ----
        cache = SV.ResultCache(f"{scratch}/cache")
        curls = ["https://cache.example"]
        put_df = cust.filter(F.col("c_custkey") <= 25).select("c_custkey", "c_name")
        first = cache.get(spark, curls, "single")
        cache.put(put_df, curls, "single")
        hit = cache.get(spark, curls, "single")
        site = cache.get(spark, curls, "site")
        equal = (
            hit is not None
            and hit.exceptAll(put_df).count() == 0
            and put_df.exceptAll(hit).count() == 0
        )
        cache_rows = [
            ("cache", "state", 0, "first_lookup", "miss" if first is None else "stale"),
            ("cache", "state", 0, "second_lookup", "hit" if hit is not None else "miss"),
            ("cache", "state", 0, "site_mode_lookup", "skip" if site is None else "hit"),
            ("cache", "state", 0, "hit_rows", str(hit.count() if hit is not None else 0)),
            ("cache", "state", 0, "hit_equals_put", str(equal).lower()),
            ("cache", "state", 0, "request_key", SV.request_key(curls, "single")),
        ]
        driver_arm = local_df(
            spark,
            env_rows + cache_rows,
            "variant string, sheet string, rn bigint, col string, val string",
        )

        # ---- wds (WebDataset tar-shard sink, images.py:write_webdataset) ----
        # write real ustar shards, re-read them through the binaryFile scan +
        # tar parse, and prove sample identity + byte integrity: the oracle
        # predicts every caption and an all-true integrity column, so a
        # corrupted member, a dropped sample, or a double-packed id all break
        # the value hash.
        from web_crawler_spark import images as IM

        wds_pairs = IM.synthesize_images(spark, n=40)
        wds_dir = f"{scratch}/shards"
        manifest = IM.write_webdataset(
            wds_pairs, wds_dir, n_writers=4, shard_bytes=64 * 1024
        ).collect()  # eager: the read below must see the files
        back = IM.read_webdataset(spark, wds_dir)
        src = wds_pairs.select(
            "image_id",
            F.md5("bytes").alias("_src_md5"),
            F.col("caption").alias("_src_caption"),
        )
        per_sample = (
            back.join(src, "image_id", "full")
            .groupBy("image_id")
            .agg(
                F.count(F.lit(1)).alias("_copies"),
                F.min("caption").alias("_caption"),
                F.min(
                    (F.md5("img") == F.col("_src_md5"))
                    & (F.col("caption") == F.col("_src_caption"))
                ).alias("_ok"),
            )
        )
        wds_arm = per_sample.select(
            F.lit("wds").alias("variant"),
            F.col("image_id").alias("sheet"),
            F.lit(0).cast("long").alias("rn"),
            F.lit("caption").alias("col"),
            F.col("_caption").alias("val"),
        ).unionByName(
            per_sample.select(
                F.lit("wds").alias("variant"),
                F.col("image_id").alias("sheet"),
                F.lit(0).cast("long").alias("rn"),
                F.lit("bytes_ok").alias("col"),
                F.when(F.col("_ok") & (F.col("_copies") == 1), F.lit("true"))
                .otherwise(F.lit("false")).alias("val"),
            )
        )
        wds_meta = local_df(
            spark,
            [
                ("wds", "meta", 0, "total_samples",
                 str(sum(r["n_samples"] for r in manifest))),
                ("wds", "meta", 0, "shards_nonempty",
                 str(all(r["n_samples"] > 0 and r["tar_bytes"] > 0
                         for r in manifest)).lower()),
            ],
            "variant string, sheet string, rn bigint, col string, val string",
        )
        # the csv and wds arms read files under scratch: materialized first
        arms = (
            csv_arm.unionByName(xlsx_arm).unionByName(driver_arm)
            .unionByName(wds_arm).unionByName(wds_meta)
        )
        return local_df(spark, arms.collect(), arms.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# §2.3 J3/J8 geocode enrichment + A4/J4 greedy fuzzy dedup + pipeline
# --------------------------------------------------------------------------
_ADDR_NORM_SQL = "lower(trim(concat_ws(', ', street, city)))"
_H60 = "cast(('0x' || substr(md5({expr}), 1, 15)) as ubigint)::bigint"


def _multi_geo_oracle() -> str:
    h = lambda salt: _H60.format(  # noqa: E731
        expr=f"concat('{salt}|', address_norm)"
    )
    return f"""
    WITH recs AS (
      SELECT c_custkey,
             concat(1 + c_custkey % 999, ' Oak Avenue') AS street,
             c_mktsegment AS city,
             CASE WHEN c_custkey % 4 = 0
                  THEN (c_custkey % 1200000) / 10000.0 - 60.0 END AS latitude,
             CASE WHEN c_custkey % 4 = 0
                  THEN (c_custkey % 3600000) / 10000.0 - 180.0 END AS longitude
      FROM customer
    ), keyed AS (
      SELECT *, {_ADDR_NORM_SQL} AS address_norm FROM recs
    ), d AS (
      SELECT *,
             ({h('geo-hit-google')} % 100) < 70 AS h1,
             ({h('geo-hit-nominatim')} % 100) < 80 AS h2,
             ({h('geo-hit-mapquest')} % 100) < 60 AS h3
      FROM keyed
    )
    SELECT c_custkey,
           round(coalesce(latitude,
             CASE WHEN h1 THEN ({h('geo-lat-google')} % 120000000) / 1000000 - 60.0
                  WHEN h2 THEN ({h('geo-lat-nominatim')} % 120000000) / 1000000 - 60.0
                  WHEN h3 THEN ({h('geo-lat-mapquest')} % 120000000) / 1000000 - 60.0
             END), 6) AS latitude,
           round(coalesce(longitude,
             CASE WHEN h1 THEN ({h('geo-lon-google')} % 360000000) / 1000000 - 180.0
                  WHEN h2 THEN ({h('geo-lon-nominatim')} % 360000000) / 1000000 - 180.0
                  WHEN h3 THEN ({h('geo-lon-mapquest')} % 360000000) / 1000000 - 180.0
             END), 6) AS longitude,
           CASE WHEN latitude IS NOT NULL THEN 'source'
                WHEN h1 THEN 'google'
                WHEN h2 THEN 'nominatim'
                WHEN h3 THEN 'mapquest'
                ELSE 'none' END AS geo_provider
    FROM d
    """


def _geocode_cascade_oracle() -> str:
    single = f"""
    WITH recs AS (
      SELECT c_custkey,
             concat(1 + c_custkey % 999, ' Oak Avenue') AS street,
             c_mktsegment AS city,
             CASE WHEN c_custkey % 4 = 0
                  THEN (c_custkey % 1200000) / 10000.0 - 60.0 END AS latitude,
             CASE WHEN c_custkey % 4 = 0
                  THEN (c_custkey % 3600000) / 10000.0 - 180.0 END AS longitude
      FROM customer
    ), keyed AS (
      SELECT *, {_ADDR_NORM_SQL} AS address_norm FROM recs
    )
    SELECT c_custkey,
           round(coalesce(latitude,
             ({_H60.format(expr="concat('geo-lat|', address_norm)")} % 120000000)
               / 1000000 - 60.0), 6) AS latitude,
           round(coalesce(longitude,
             ({_H60.format(expr="concat('geo-lon|', address_norm)")} % 360000000)
               / 1000000 - 180.0), 6) AS longitude,
           CASE WHEN latitude IS NULL THEN 'dim' ELSE 'source' END AS provider
    FROM keyed
    """
    h = lambda salt: _H60.format(  # noqa: E731
        expr=f"concat('{salt}|', cell_lat_i, '|', cell_lon_i)"
    )
    cities = "['Springfield','Riverton','Lakewood','Fairview'," \
             "'Georgetown','Ashland','Dover','Milton']"
    reverse = f"""
    WITH pts AS (
      SELECT c_custkey,
             (c_custkey % 1100000) / 10000.0 - 55.0 AS latitude,
             (c_custkey % 3300000) / 10000.0 - 165.0 AS longitude
      FROM customer
    ), keyed AS (
      SELECT *,
             cast(round(latitude * 1000) AS BIGINT) AS cell_lat_i,
             cast(round(longitude * 1000) AS BIGINT) AS cell_lon_i
      FROM pts
    ), derived AS (
      SELECT *,
             {h('rgeo-google')} % 100 < 70 AS g_hit,
             {h('rgeo-nominatim')} % 100 < 80 AS n_hit,
             cast({h('rgeo-no')} % 9899 + 100 AS VARCHAR) AS no,
             {cities}[cast({h('rgeo-city')} % 8 AS int) + 1] AS city
      FROM keyed
    )
    SELECT c_custkey,
           round(latitude, 6) AS latitude,
           round(longitude, 6) AS longitude,
           CASE WHEN g_hit THEN 'google'
                WHEN n_hit THEN 'nominatim' ELSE 'none' END AS provider,
           CASE WHEN g_hit
                THEN concat(no, ' Meridian Rd, ', city, ', USA')
                WHEN n_hit
                THEN concat(no, ', Meridian Road, ', city) END AS formatted
    FROM derived
    """
    return f"""
    SELECT 'single' AS variant, c_custkey, latitude, longitude, provider,
           CAST(NULL AS VARCHAR) AS formatted
    FROM ({single})
    UNION ALL
    SELECT 'cascade', c_custkey, latitude, longitude, geo_provider, NULL
    FROM ({_multi_geo_oracle()})
    UNION ALL
    SELECT 'reverse', c_custkey, latitude, longitude, provider, formatted
    FROM ({reverse})
    """


_GEOCODE_CASCADE_SCHEMA = {
    "variant": "string", "c_custkey": "long", "latitude": "double",
    "longitude": "double", "provider": "string", "formatted": "string",
}


@query("geocode_cascade", oracle=_geocode_cascade_oracle())
def q_geocode_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+J8 under both provider topologies, tagged by variant:

    'single' — rows lacking coordinates get them from the one geocode
    dimension (the md5-derived deterministic provider, broadcast-joined on
    the normalized address); rows with coordinates pass through (coalesce
    merge-back, professional-crawler.service.js:262-266); provider records
    whether the dim filled the row.

    'reverse' — reverse geocoding (multi-geocoding.service.js:114-161):
    Google-first/Nominatim-fallback as a broadcast join against the
    quantized-cell dimension; 'none' + NULL address when both miss.

    'cascade' — provider-cascade geocoding (multi-geocoding.service.js:
    8-31): Google → Nominatim → MapQuest in order, first answer wins,
    provenance in provider ('source' for rows that already had
    coordinates, 'none' when every provider missed). One broadcast dim
    join each — the cascade folds into a when-chain; the oracle re-derives
    coverage and coordinates from the same md5 contract."""
    from web_crawler_spark.plans import enrich as EN

    c = load(spark, sf_dir, "customer")
    recs = c.select(
        "c_custkey",
        F.concat((F.lit(1) + F.col("c_custkey") % 999), F.lit(" Oak Avenue")).alias(
            "street"
        ),
        F.col("c_mktsegment").alias("city"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.col("c_custkey") % 1200000 / 10000.0 - 60.0,
        ).alias("latitude"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            F.col("c_custkey") % 3600000 / 10000.0 - 180.0,
        ).alias("longitude"),
    )
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 1100000) / 10000.0 - 55.0).alias("latitude"),
        ((F.col("c_custkey") % 3300000) / 10000.0 - 165.0).alias("longitude"),
    )
    S = _GEOCODE_CASCADE_SCHEMA
    lat, lon = F.round("latitude", 6), F.round("longitude", 6)
    return reduce(DataFrame.unionByName, [
        _arm(EN.geocode_enrich(recs), S, "single",
             c_custkey="c_custkey", latitude=lat, longitude=lon,
             provider=F.when(F.col("geocoded"), F.lit("dim"))
             .otherwise(F.lit("source"))),
        _arm(EN.multi_geocode_enrich(recs), S, "cascade",
             c_custkey="c_custkey", latitude=lat, longitude=lon,
             provider="geo_provider"),
        _arm(EN.reverse_geocode(pts), S, "reverse",
             c_custkey="c_custkey", latitude=lat, longitude=lon,
             provider="rgeo_provider", formatted="formatted_address"),
    ])


def _fuzzy_greedy_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input synthesis for `fuzzy_dedup_greedy`, shared with
    tools/pin_oracles.py so the pin generator can feed the SAME records
    through the independent naive O(n^2) checker instead of the engine's
    own kernel. Every derived column is key-arithmetic (never an
    SF-varying data column like c_mktsegment), so the fixture — and
    therefore the VALUES pin — is identical at every scale factor (the
    driver generates each SF independently; only key-derived columns are
    stable across them)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 600)
    base = c.select(
        F.concat(F.lit("seg-"), F.pmod(F.col("c_custkey"), F.lit(5)).cast("string")).alias("seed_host"),
        F.concat(F.lit("Office "), "c_name").alias("locationName"),
        F.concat(
            (F.lit(1) + F.col("c_custkey") % 999), F.lit(" Oak Avenue Suite "),
            "c_custkey",
        ).alias("locationAddress"),
        (F.col("c_custkey") % 1200000 / 10000.0 - 60.0).alias("latitude"),
        (F.col("c_custkey") % 3600000 / 10000.0 - 180.0).alias("longitude"),
        F.lit("USA").alias("countryIso3"),
        (F.lit(10000) + F.col("c_custkey") % 89999).cast("string").alias("postcode"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("string").alias("streetOrCity"),
        F.lit(None).cast("string").alias("activityAtAsset"),
        F.lit(None).cast("string").alias("phone"),
        F.lit(None).cast("string").alias("email"),
        F.concat(F.lit("https://a.example.com/c"), "c_custkey").alias("sourceUrl"),
        (F.lit(50) + F.col("c_custkey") % 50).cast("int").alias("qualityScore"),
    )
    twins = base.filter(F.pmod(F.xxhash64("sourceUrl"), F.lit(5)) == 0).select(
        "seed_host",
        # typo: drop the last character of the name (levenshtein-close)
        F.expr("substring(locationName, 1, length(locationName) - 1)").alias(
            "locationName"
        ),
        F.concat(F.col("locationAddress"), F.lit(" B")).alias("locationAddress"),
        (F.col("latitude") + 0.0001).alias("latitude"),
        (F.col("longitude") + 0.0001).alias("longitude"),
        "countryIso3", "postcode", "state", "streetOrCity", "activityAtAsset",
        "phone", "email",
        F.concat(F.col("sourceUrl"), F.lit("-twin")).alias("sourceUrl"),
        (F.col("qualityScore") + 10).cast("int").alias("qualityScore"),
    )
    return base.unionByName(twins)


@query("fuzzy_dedup_greedy")
def q_fuzzy_dedup_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J4: the order-sensitive greedy cluster-merge
    (enhanced-deduplication.service.js:7-42) over synthesized location
    records with planted near-duplicates — every 5th customer gets a
    typo'd twin that must merge (mergedFrom=2, longest-field wins,
    max quality). Not SQL-expressible (greedy order dependence) → the
    oracle is a pinned golden literal generated by the INDEPENDENT naive
    O(n^2) checker (tools/naive_fuzzy.py via tools/pin_oracles.py), a
    from-scratch second restatement of the reference greedy pass sharing
    no code with operators/fuzzy.py — a genuine cross-implementation
    oracle for the dedup semantics (input synthesis is shared via
    _fuzzy_greedy_input; it is plain deterministic column algebra)."""
    from web_crawler_spark.operators import fuzzy as FZ

    recs = _fuzzy_greedy_input(spark, sf_dir)
    out = FZ.fuzzy_dedup(recs, "seed_host", order_cols=["sourceUrl"])
    return out.select(
        "seed_host", "locationName", "sourceUrl", "mergedFrom", "qualityScore"
    ).orderBy("seed_host", "sourceUrl")


def _e2e_pages(spark: SparkSession) -> DataFrame:
    """Synthetic page fixture for `records_pipeline_e2e`, shared with
    tools/pin_oracles.py (pin composes per-stage outputs with the fuzzy
    stage swapped for the independent naive checker)."""
    from web_crawler_spark.synthetic.web import SyntheticWeb

    web = SyntheticWeb(n_hosts=3, pages_per_host=15, seed=13)
    rows = [
        (web.url(h, p), web.host(h), web.body(h, p), web.xhr_json(h, p))
        for h in range(web.n_hosts)
        for p in range(web.n_pages(h))
    ]
    return local_df(
        spark,
        rows, "url string, seed_host string, body string, xhr_json string"
    )


@query("records_pipeline_e2e")
def q_records_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M4 end-to-end: synthetic pages → 7-strategy extraction →
    confidence floor → greedy fuzzy dedup per host → geocode enrichment →
    canonical 14-field records + quality envelope + image/caption payload
    join (crawler.service.js:283-416 whole-path analogue). Oracle: pinned
    golden literal generated by tools/pin_oracles.py as a per-stage
    composition in which the fuzzy stage runs the INDEPENDENT naive
    O(n^2) checker (tools/naive_fuzzy.py) and the quality envelope +
    payload election are restated in pure Python — only stages that are
    independently oracled by other green queries (extraction, geocode,
    canonical projection) are reused from the engine."""
    from web_crawler_spark.plans.enrich import records_pipeline

    pages = _e2e_pages(spark)
    out = records_pipeline(pages)
    return out.select(
        "seed_host", "locationName", "locationAddress",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        "countryIso3", "postcode", "qualityScore", "qualityLevel",
        "mergedFrom", "image_id", "caption",
    ).orderBy("seed_host", "locationName", "locationAddress")


@query(
    "contact_extract",
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             200 + s_suppkey % 700 AS a,
             300 + s_suppkey % 600 AS b,
             1000 + s_suppkey % 9000 AS c,
             1000 + s_suppkey % 8000 AS fx
      FROM supplier
    )
    SELECT s_suppkey,
           concat('(', a, ') ', b, '-', c, '; 212 555 ', fx) AS phones,
           concat('office', s_suppkey, '@host', s_suppkey, '.com') AS emails,
           concat('212 555 ', fx) AS fax,
           'Jane Doe' AS people
    FROM s
    """,
)
def q_contact_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3/X28/F10: the contact batteries over synthesized page text with
    planted phone/email/fax/person tokens and an example.com false-positive
    that must be filtered. All JVM regexp — the oracle constructs the
    expected extraction directly from source columns."""
    from web_crawler_spark.functions import contact as CT

    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.lit(200) + F.col("s_suppkey") % 700).alias("a"),
        (F.lit(300) + F.col("s_suppkey") % 600).alias("b"),
        (F.lit(1000) + F.col("s_suppkey") % 9000).alias("c"),
        (F.lit(1000) + F.col("s_suppkey") % 8000).alias("fx"),
    )
    text = F.concat(
        F.lit("Call ("), "a", F.lit(") "), "b", F.lit("-"), "c",
        F.lit(" now. Email office"), "s_suppkey", F.lit("@host"), "s_suppkey",
        F.lit(".com or bad"), "s_suppkey", F.lit("@example.com. "),
        F.lit("Fax: 212 555 "), "fx", F.lit(" Contact: Jane Doe"),
    )
    rows = s.withColumn("text", text)
    return rows.select(
        "s_suppkey",
        F.concat_ws("; ", CT.extract_phones("text")).alias("phones"),
        F.concat_ws("; ", CT.extract_emails("text")).alias("emails"),
        F.concat_ws("; ", CT.extract_fax("text")).alias("fax"),
        F.concat_ws("; ", CT.extract_contact_person("text")).alias("people"),
    )


@query(
    "word_overlap_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_TOKS_SQL.format(col='text')}) AS toks
      FROM documents WHERE doc_id < 200
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6)
             AS overlap
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks))) > 0.7
    """,
)
def q_word_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: word-overlap similarity (|common|/|union| > 0.7,
    scraper.service.js:155-190) as a bounded self-join over a document
    slice — the reference applies it within one page's candidate list, so
    the quadratic pair scope is inherently small."""
    # tokenize ONCE per document before the pair join — inlining the
    # normalize+split expression into the pair comparison would evaluate
    # it O(pairs) times instead of O(docs)
    t = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_distinct(F.split(TX.normalize_text("text"), " ")).alias("toks"),
        )
    )
    a = t.select(F.col("doc_id").alias("a"), F.col("toks").alias("_ta"))
    b = t.select(F.col("doc_id").alias("b"), F.col("toks").alias("_tb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    overlap = F.size(F.array_intersect("_ta", "_tb")).cast("double") / F.size(
        F.array_union("_ta", "_tb")
    )
    return (
        pairs.withColumn("overlap", overlap)
        .filter(F.col("overlap") > 0.7)
        .select("a", "b", F.round("overlap", 6).alias("overlap"))
    )


@query(
    "connected_components",
    oracle="""
    SELECT c_custkey AS node,
           c_custkey - (c_custkey % 40) AS component
    FROM customer WHERE c_custkey < 1000
    """,
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hook+compress connected components (the dedup cluster-id assignment
    over a near-dup pair graph) on a deliberately DEEP chain graph: edge
    (n, n+1) unless n≡39 (mod 40), so every component is a path of
    diameter up to 39 — far past what bounded naive propagation (the
    round-1/2 max_iters=10 hazard) could label, but ~6 pointer-jumping
    rounds. Edges come from a self-join so both endpoints provably exist
    in the key range at every SF (customer keys are consecutive from 0);
    the oracle is the closed form 40*floor(n/40) while Spark runs the
    actual fixed-point loop with per-iteration convergence checks,
    raising on non-convergence."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 1000)
        .select(F.col("c_custkey").alias("k"))
    )
    edges = (
        c.alias("x")
        .join(c.alias("y"), F.col("x.k") + 1 == F.col("y.k"))
        .filter(F.col("x.k") % 40 != 39)
        .select(F.col("x.k").alias("a"), F.col("y.k").alias("b"))
    )
    return D.connected_min(edges).select("node", "component")


_IMAGE_RESIZE_ORACLE = """
    SELECT printf('img_%012d', i) AS image_id, 16 AS w, 16 AS h,
           'png' AS fmt, true AS decode_ok
    FROM generate_series(0, 119) t(i)
    UNION ALL
    SELECT printf('img_%012d_dup', i), 16, 16, 'png', true
    FROM generate_series(0, 119) t(i) WHERE i % 10 = 0
    """


def _image_resize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize: decode → nearest-neighbor 16x16 → PNG re-encode
    over Arrow batches; the deterministic id/shape envelope is the oracle
    (pixel correctness is unit-tested against the numpy kernel)."""
    from web_crawler_spark import media as M
    from web_crawler_spark.images import synthesize_images

    imgs = synthesize_images(spark, 120)
    return M.resize_images(imgs, 16, 16).select(
        "image_id", "w", "h", "fmt", "decode_ok"
    )


def _audio_features_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio: per-clip duration/RMS/zero-crossing features over
    synthesized PCM capsules (deterministic tones keyed by id)."""
    import pandas as pd

    from web_crawler_spark import media as M

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rate = 8000
                freq = 100 + (i % 10) * 50
                t = np.arange(rate // 2)
                tone = (np.sin(2 * np.pi * freq * t / rate) * 8000).astype(np.int16)
                rows.append((f"aud_{i:06d}", M.encode_audio(tone, rate)))
            yield pd.DataFrame(rows, columns=["audio_id", "bytes"])

    audios = spark.range(60).mapInPandas(gen, "audio_id string, bytes binary")
    return M.audio_features(audios).select(
        "audio_id", "duration_s", "rms", "zero_crossings", "decode_ok"
    )


# --------------------------------------------------------------------------
# Kernel-coverage batch: green-oracle queries for operators previously
# covered only by pytest (X6, X8, X12, X14, X21/X22, F2/F4, W9/W10).
# --------------------------------------------------------------------------
_LEV_ORACLE = """
    WITH p AS (
      SELECT c_custkey, c_name AS a,
             CASE WHEN c_custkey % 3 = 0 THEN substr(c_name, 1, len(c_name) - 1)
                  WHEN c_custkey % 3 = 1 THEN concat(c_name, 'x')
                  ELSE reverse(c_name) END AS b
      FROM customer
    )
    SELECT c_custkey, a, b,
           round(1.0 - levenshtein(a, b)::DOUBLE / greatest(len(a), len(b)), 6)
             AS sim
    FROM p
    """


def _levenshtein_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8: levenshtein similarity (1 - dist/maxLen,
    enhanced-deduplication.service.js:191-222) over planted typo /
    suffix / reversal variants — the JVM built-in, not the Python DP
    kernel (which tests/test_fuzzy_dedup.py covers)."""
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    b = (
        F.when(k % 3 == 0, F.expr("substring(c_name, 1, length(c_name) - 1)"))
        .when(k % 3 == 1, F.concat("c_name", F.lit("x")))
        .otherwise(F.reverse("c_name"))
    )
    p = c.select("c_custkey", F.col("c_name").alias("a"), b.alias("b"))
    sim = 1.0 - F.levenshtein("a", "b").cast("double") / F.greatest(
        F.length("a"), F.length("b")
    )
    return p.select("c_custkey", "a", "b", F.round(sim, 6).alias("sim"))


_HEIGHT_CASE = "CASE activity " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in R.HEIGHT_BY_ACTIVITY.items()
) + f" ELSE {R.DEFAULT_HEIGHT} END"
_ACT_LIST = "['" + "','".join(
    list(R.HEIGHT_BY_ACTIVITY) + ["Observatory"]
) + "']"


_HEIGHT_ORACLE = f"""
    WITH t AS (
      SELECT p_partkey,
             list_extract({_ACT_LIST}, (p_partkey % 9) + 1) AS activity
      FROM part
    )
    SELECT p_partkey, activity, ({_HEIGHT_CASE})::DOUBLE AS height
    FROM t
    """


def _height_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: activity → height-meters literal map with the 25 m default for
    unknown activities (crawler.service.js:491-506)."""
    p = load(spark, sf_dir, "part")
    acts = list(R.HEIGHT_BY_ACTIVITY) + ["Observatory"]
    act = F.element_at(
        F.array(*[F.lit(a) for a in acts]), (F.col("p_partkey") % 9 + 1).cast("int")
    )
    t = p.select("p_partkey", act.alias("activity"))
    return t.select(
        "p_partkey", "activity", R.estimate_height("activity").alias("height")
    )


_MAP_URL_ORACLE = r"""
    WITH u AS (
      SELECT p_partkey,
             (p_partkey % 1700) / 10.0 - 85.0 AS la,
             (p_partkey % 3500) / 10.0 - 175.0 AS lo,
             CASE p_partkey % 5
               WHEN 0 THEN concat('https://maps.test/@', (p_partkey % 1700) / 10.0 - 85.0, ',', (p_partkey % 3500) / 10.0 - 175.0, ',15z')
               WHEN 1 THEN concat('https://maps.test/place/!3d', (p_partkey % 1700) / 10.0 - 85.0, '!4d', (p_partkey % 3500) / 10.0 - 175.0)
               WHEN 2 THEN concat('https://maps.test/?q=', (p_partkey % 1700) / 10.0 - 85.0, ',', (p_partkey % 3500) / 10.0 - 175.0)
               WHEN 3 THEN concat('https://maps.test/?center=', (p_partkey % 1700) / 10.0 - 85.0, ',', (p_partkey % 3500) / 10.0 - 175.0)
               ELSE 'https://maps.test/place/nowhere'
             END AS map_url
      FROM part
    )
    SELECT p_partkey, map_url,
           CASE WHEN p_partkey % 5 = 4 THEN NULL
                ELSE round(la, 6) END AS lat,
           CASE WHEN p_partkey % 5 = 4 THEN NULL
                ELSE round(lo, 6) END AS lon
    FROM u
    """


def _map_url_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14: map-URL coordinate cascade (@lat,lon / !3d!4d / ?q= /
    ?center=, map-detector.service.js:71-129) over synthesized URLs in
    each pattern plus a no-coordinate URL that must yield NULLs. The
    oracle re-derives the expected coordinates from the source numbers
    rather than re-parsing."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    la = (k % 1700) / 10.0 - 85.0
    lo = (k % 3500) / 10.0 - 175.0
    url = (
        F.when(k % 5 == 0, F.concat(F.lit("https://maps.test/@"), la, F.lit(","), lo, F.lit(",15z")))
        .when(k % 5 == 1, F.concat(F.lit("https://maps.test/place/!3d"), la, F.lit("!4d"), lo))
        .when(k % 5 == 2, F.concat(F.lit("https://maps.test/?q="), la, F.lit(","), lo))
        .when(k % 5 == 3, F.concat(F.lit("https://maps.test/?center="), la, F.lit(","), lo))
        .otherwise(F.lit("https://maps.test/place/nowhere"))
    )
    u = p.select("p_partkey", url.alias("map_url"))
    return u.select(
        "p_partkey", "map_url",
        F.round(EX.map_coord_lat(F.col("map_url")), 6).alias("lat"),
        F.round(EX.map_coord_lon(F.col("map_url")), 6).alias("lon"),
    )


_ROBOTS_TXT_ORACLE = r"""
    SELECT p_partkey AS k, kind, value, ord
    FROM part
    CROSS JOIN LATERAL (VALUES
        ('sitemap', concat('https://h', p_partkey, '.example.com/sm/root.xml'), 0),
        ('sitemap', concat('https://h', p_partkey, '.example.com/sm/extra.xml'), 1),
        ('disallow', concat('/tmp', p_partkey), 0),
        ('disallow', '/*.pdf$', 1),
        ('allow', concat('/tmp', p_partkey, '/ok'), 0),
        ('allow', '/pub*', 1),
        ('crawl_delay', '2.0', 0),
        -- RFC 9309 longest-match decisions (closed-form: the fixture's
        -- rule lengths order the same way for every k)
        ('rfc', concat('/tmp', p_partkey, '/ok/page|true|/tmp',
                       p_partkey, '/ok'), 0),
        ('rfc', concat('/tmp', p_partkey, '/other|false|/tmp', p_partkey), 1),
        ('rfc', '/pub/doc.pdf|false|/*.pdf$', 2),
        ('rfc', '/pub/doc.pdfx|true|/pub*', 3),
        ('rfc', '/free|true|', 4)
    ) AS v(kind, value, ord)
    """


def _robots_txt_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 raw-text parse (robots.service.js:17-61,79-87,94-104): per part
    row a robots.txt with a googlebot group (ignored), a bingbot+* shared
    header (the * group), a comment, an empty Disallow (allow-all,
    dropped), Allow and wildcard/anchor rules, a trailing group, and two
    global Sitemap directives — then five RFC 9309 longest-match probe
    decisions over the parsed rules (operators/frontier.py:
    robots_decision)."""
    from web_crawler_spark.operators import frontier as FR

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    txt = F.concat(
        F.lit("# cached fixture\nUser-agent: googlebot\nDisallow: /private\n"
              "Sitemap: https://h"), ks,
        F.lit(".example.com/sm/root.xml\n\nUser-agent: bingbot\n"
              "User-agent: *\nCrawl-delay: 2\nDisallow: /tmp"), ks,
        F.lit("\nDisallow:\nAllow: /tmp"), ks,
        F.lit("/ok\nDisallow: /*.pdf$\nAllow: /pub*"
              "\n\nUser-agent: other\nDisallow: /x\n"
              "Sitemap: https://h"), ks,
        F.lit(".example.com/sm/extra.xml\n"),
    )
    parsed = FR.parse_robots_txt(
        p.select(F.concat(F.lit("h"), ks, F.lit(".example.com")).alias("host"),
                 txt.alias("robots_txt"))
    )
    key = F.regexp_extract("host", r"^h(\d+)\.", 1).cast("long")
    lists = [
        parsed.select(
            key.alias("k"), F.lit(kind).alias("kind"), F.posexplode(col),
        ).select("k", "kind", F.col("col").alias("value"),
                 F.col("pos").cast("long").alias("ord"))
        for kind, col in [("sitemap", "sitemaps"), ("disallow", "disallow_prefixes"),
                          ("allow", "allow_prefixes")]
    ]
    cd = parsed.select(
        key.alias("k"), F.lit("crawl_delay").alias("kind"),
        F.col("crawl_delay_s").cast("string").alias("value"),
        F.lit(0).cast("long").alias("ord"),
    )
    # RFC 9309 longest-match probes over the parsed rule arrays: value =
    # 'path|allowed|winning_rule' ('' when no rule matched)
    ktxt = F.regexp_extract("host", r"^h(\d+)\.", 1)
    probes = F.array(
        F.concat(F.lit("/tmp"), ktxt, F.lit("/ok/page")),
        F.concat(F.lit("/tmp"), ktxt, F.lit("/other")),
        F.lit("/pub/doc.pdf"),
        F.lit("/pub/doc.pdfx"),
        F.lit("/free"),
    )
    dec = FR.robots_decision(
        F.col("probe"), "allow_prefixes", "disallow_prefixes"
    )
    rfc = parsed.select(
        key.alias("k"), "allow_prefixes", "disallow_prefixes",
        F.posexplode(probes).alias("ord", "probe"),
    ).select(
        "k", F.lit("rfc").alias("kind"),
        F.concat_ws(
            "|", F.col("probe"), dec["allowed"].cast("string"),
            F.coalesce(dec["rule"], F.lit("")),
        ).alias("value"),
        F.col("ord").cast("long").alias("ord"),
    )
    return reduce(DataFrame.unionByName, lists + [cd, rfc])


_MAP_DETECT_ORACLE = r"""
    WITH m AS (
      SELECT p_partkey AS k,
             (p_partkey % 1700) / 10.0 - 85.0 AS la,
             (p_partkey % 3500) / 10.0 - 175.0 AS lo
      FROM part
    )
    SELECT k, ord, kind, src, coords_found, lat, lon, provider, label
    FROM m
    CROSS JOIN LATERAL (VALUES
        (0, 'iframe',
         concat('https://www.google.com/maps/@', la, ',', lo, ',15z'),
         true, round(la, 6), round(lo, 6), 'google', CAST(NULL AS VARCHAR)),
        (1, 'iframe',
         concat('https://m', k % 7, '.example.com/embed/mapbox/', k),
         false, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), 'mapbox', NULL),
        (2, 'link',
         concat('https://www.google.com/maps/place/!3d', la, '!4d', lo),
         true, round(la, 6), round(lo, 6), 'google',
         concat('Visit office ', k))
    ) AS v(ord, kind, src, coords_found, lat, lon, provider, label)
    """


def _map_detect_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 map detection (map-detector.service.js:11-64): per part row a
    page carrying a google @lat,lon iframe (coords + provider), a
    non-map iframe (gated out), a relative mapbox iframe (resolved
    against the base URL, emitted with no coords), a goo.gl anchor with
    no coordinates (links REQUIRE coords — gated out), a google !3d!4d
    anchor (emitted with its tag-stripped text), and a same-host
    /directions anchor that fails the provider gate."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    las = ((k % 1700) / 10.0 - 85.0).cast("string")
    los = ((k % 3500) / 10.0 - 175.0).cast("string")
    base = F.concat(F.lit("https://m"), (k % 7).cast("string"),
                    F.lit(".example.com/maps/page"), ks)
    body = F.concat(
        F.lit('<iframe src="https://www.google.com/maps/@'), las,
        F.lit(","), los, F.lit(',15z"></iframe>'),
        F.lit('<iframe src="https://other.example.com/notamap"></iframe>'),
        F.lit('<iframe src="/embed/mapbox/'), ks, F.lit('"></iframe>'),
        F.lit('<a href="https://maps.app.goo.gl/nc'), ks,
        F.lit('">Short</a>'),
        F.lit('<a href="https://www.google.com/maps/place/!3d'), las,
        F.lit("!4d"), los, F.lit('"><b>Visit</b> office '), ks,
        F.lit("</a>"),
        F.lit('<a href="/directions/x">Plain</a>'),
    )
    det = EX.detect_map_iframes(p.select(base.alias("url"), body.alias("body")))
    return det.select(
        F.regexp_extract("sourceUrl", r"page(\d+)$", 1)
        .cast("long").alias("k"),
        "ord", "kind", "src", "coords_found",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        "provider", F.col("text").alias("label"),
    )


_MAP_DATAATTR_ORACLE = r"""
    WITH m AS (
      SELECT p_partkey AS k,
             (p_partkey % 1700) / 10.0 - 85.0 AS la,
             (p_partkey % 3500) / 10.0 - 175.0 AS lo
      FROM part
    )
    SELECT k, ord, lat, lon, label
    FROM m
    CROSS JOIN LATERAL (VALUES
        (0, round(la, 6), round(lo, 6),
         concat('DIV#pin', k, '.loc')),
        (1, 1.5, 2.5, CAST(NULL AS VARCHAR)),
        (2, 3.5, 4.75, NULL)
    ) AS v(ord, lat, lon, label)
    """


def _map_dataattr_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 data-attribute coordinates (map-detector.service.js:136-175):
    a data-lat/data-lon pair with the element identity, a valid-JSON
    data-location, a "lat,lon" string fallback, a falsy-zero JSON that
    must drop, and a lat-only element that emits nothing."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    las = ((k % 1700) / 10.0 - 85.0).cast("string")
    los = ((k % 3500) / 10.0 - 175.0).cast("string")
    body = F.concat(
        F.lit('<div id="pin'), ks, F.lit('" class="loc" data-lat="'), las,
        F.lit('" data-lon="'), los, F.lit('">A</div>'),
        F.lit("<p data-location='{\"lat\":1.5,\"lon\":2.5}'>B</p>"),
        F.lit('<p data-location="3.5, 4.75">C</p>'),
        F.lit("<p data-location='{\"lat\":0,\"lon\":2.5}'>D</p>"),
        F.lit('<p data-lat="9.5">E</p>'),
    )
    base = F.concat(F.lit("https://m"), (k % 7).cast("string"),
                    F.lit(".example.com/attr/page"), ks)
    det = EX.detect_data_attributes(
        p.select(base.alias("url"), body.alias("body"))
    )
    return det.select(
        F.regexp_extract("sourceUrl", r"page(\d+)$", 1)
        .cast("long").alias("k"),
        "ord",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
        F.col("element").alias("label"),
    )


_LF_EXT_RE = U._EXT_RE.replace("'", "''")
_LF_PAT_RE = U._PAT_RE.replace("'", "''")


_LINK_FILTER_ORACLE = rf"""
    WITH h AS (
      SELECT p_partkey,
             CASE p_partkey % 7
               WHEN 0 THEN 'javascript:void(0)'
               WHEN 1 THEN concat('mailto:x', p_partkey, '@h.com')
               WHEN 2 THEN concat('https://other', p_partkey % 9, '.net/contact')
               WHEN 3 THEN concat('https://www.h', p_partkey % 9, '.example.com/office?x=1#frag')
               WHEN 4 THEN concat('https://h', p_partkey % 9, '.example.com/logo.png')
               WHEN 5 THEN concat('https://h', p_partkey % 9, '.example.com/blog/post')
               ELSE concat('https://h', p_partkey % 9, '.example.com/about')
             END AS href,
             concat('h', p_partkey % 9, '.example.com') AS base_host
      FROM part
    )
    SELECT p_partkey, href,
           regexp_matches(href, '^(javascript:|mailto:|tel:)') AS is_bad_scheme,
           regexp_replace(lower(regexp_extract(href, '^https?://([^/?#]+)', 1)),
                          '^www\.', '')
             = regexp_replace(lower(base_host), '^www\.', '') AS is_same_domain,
           regexp_extract(href, '^(https?://[^?#]+)', 1) AS canonical,
           (regexp_matches(lower(regexp_extract(href, '^(https?://[^?#]+)', 1)), '{_LF_EXT_RE}')
            OR contains(lower(regexp_extract(href, '^(https?://[^?#]+)', 1)), '#')
            OR regexp_matches(lower(regexp_extract(href, '^(https?://[^?#]+)', 1)), '{_LF_PAT_RE}'))
             AS is_excluded
    FROM h
    """


def _link_filter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F4 + F1 as one pipeline over adversarial hrefs: bad schemes,
    cross-domain, www-prefixed same-domain, query+fragment junk, excluded
    extensions and path patterns — each predicate surfaced as a column so
    the oracle checks every branch (site-crawler.service.js:17,28,30,
    52-79)."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    host9 = (k % 9).cast("string")
    href = (
        F.when(k % 7 == 0, F.lit("javascript:void(0)"))
        .when(k % 7 == 1, F.concat(F.lit("mailto:x"), k, F.lit("@h.com")))
        .when(k % 7 == 2, F.concat(F.lit("https://other"), host9, F.lit(".net/contact")))
        .when(k % 7 == 3, F.concat(F.lit("https://www.h"), host9, F.lit(".example.com/office?x=1#frag")))
        .when(k % 7 == 4, F.concat(F.lit("https://h"), host9, F.lit(".example.com/logo.png")))
        .when(k % 7 == 5, F.concat(F.lit("https://h"), host9, F.lit(".example.com/blog/post")))
        .otherwise(F.concat(F.lit("https://h"), host9, F.lit(".example.com/about")))
    )
    h = p.select(
        "p_partkey", href.alias("href"),
        F.concat(F.lit("h"), host9, F.lit(".example.com")).alias("base_host"),
    )
    canon = U.canonicalize("href")
    return h.select(
        "p_partkey", "href",
        U.bad_scheme("href").alias("is_bad_scheme"),
        U.same_domain("href", "base_host").alias("is_same_domain"),
        canon.alias("canonical"),
        U.is_excluded(canon).alias("is_excluded"),
    )


_LINE_CAPS_ORACLE = """
    WITH t AS (
      SELECT s_suppkey, 3 + s_suppkey % 90 AS n_lines FROM supplier
    ), lines AS (
      SELECT s_suppkey, n_lines,
             list_transform(generate_series(0, n_lines - 1),
                            i -> concat(i % 60, ' Main St Zone ', i % 8))
               AS all_lines
      FROM t
    )
    SELECT s_suppkey,
           least(n_lines, 50)::BIGINT AS lines_scanned,
           len(list_distinct(all_lines[1:least(n_lines, 50)]))::BIGINT
             AS distinct_matches
    FROM lines
    """


def _line_caps_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/W10: first-1000-lines text cap (here 50 to exercise the
    boundary, heuristic-extractor.service.js:135) + first-K distinct
    regex-match cap (scraper.service.js:274-284) via slice +
    array_distinct — pure array algebra, no explode needed."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", (F.lit(3) + F.col("s_suppkey") % 90).alias("n_lines")
    )
    lines = F.transform(
        F.sequence(F.lit(0), F.col("n_lines") - 1),
        lambda i: F.concat(
            (i % 60).cast("string"), F.lit(" Main St Zone "), (i % 8).cast("string")
        ),
    )
    capped = F.slice(lines, 1, 50)
    return s.select(
        "s_suppkey",
        F.least(F.col("n_lines"), F.lit(50)).cast("long").alias("lines_scanned"),
        F.size(F.array_distinct(capped)).cast("long").alias("distinct_matches"),
    )


def _addr_norm_oracle() -> str:
    expr = r"regexp_replace(trim(a), '\s+', ' ', 'g')"
    for full, abbr in R.STREET_ABBREV.items():
        pat = r"\b" + full.replace(".", r"\.") + r"\b"
        expr = f"regexp_replace({expr}, '{pat}', '{abbr}', 'gi')"
    expr = f"regexp_replace({expr}, '[,;]+$', '', 'g')"
    expr = f"regexp_replace({expr}, " + r"'(\d+)\s*-\s*(\d+)', '\1-\2', 'g')"
    return f"""
    WITH t AS (
      SELECT p_partkey,
             concat(1 + p_partkey % 999, ' ',
                    list_extract(['Main street', 'Oak avenue', 'High road',
                                  'Dock boulevard,', 'Elm drive;;',
                                  'PARKWAY  Plaza', 'Sunset   terrace'],
                                 (p_partkey % 7) + 1),
                    CASE WHEN p_partkey % 3 = 0
                         THEN concat(' Suite ', p_partkey % 50, ' - ',
                                     1 + p_partkey % 50)
                         ELSE '' END) AS a
      FROM part
    )
    SELECT p_partkey, a AS raw, {expr} AS normalized FROM t
    """


def _address_normalize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: canonical street-address formatter (normalizeAddress,
    address-normalizer.service.js:107-125) — whitespace collapse, street
    abbreviations (case-insensitive), trailing punctuation strip, range
    tightening — over mixed-case, comma/semicolon-trailed, range-bearing
    inputs. Oracle applies the same chain in DuckDB regex syntax."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    streets = F.array(*[F.lit(x) for x in [
        "Main street", "Oak avenue", "High road", "Dock boulevard,",
        "Elm drive;;", "PARKWAY  Plaza", "Sunset   terrace",
    ]])
    raw = F.concat(
        (F.lit(1) + k % 999).cast("string"), F.lit(" "),
        F.element_at(streets, (k % 7 + 1).cast("int")),
        F.when(
            k % 3 == 0,
            F.concat(F.lit(" Suite "), (k % 50).cast("string"), F.lit(" - "),
                     (F.lit(1) + k % 50).cast("string")),
        ).otherwise(F.lit("")),
    )
    t = p.select("p_partkey", raw.alias("a"))
    return t.select(
        "p_partkey", F.col("a").alias("raw"),
        R.normalize_address_canonical("a").alias("normalized"),
    )


_PAGE_CLASSIFY_ORACLE = r"""
    WITH t AS (
      SELECT p_partkey,
             concat('https://h', p_partkey % 9, '.example.com',
                    list_extract(['/contact', '/office/hq', '/about/us',
                                  '/company/team', '/facility/1',
                                  '/products/x'], (p_partkey % 6) + 1)) AS url,
             concat('<html><h2>',
                    list_extract(['Contact our Office', 'Our Locations',
                                  'Products', 'Address and Hours'],
                                 (p_partkey % 4) + 1),
                    '</h2><div id="root">',
                    CASE WHEN p_partkey % 2 = 0 THEN '' ELSE 'content body here' END,
                    '</div>',
                    repeat('<p>filler paragraph text</p>', p_partkey % 3 * 12),
                    '</html>') AS body
      FROM part
    ), scored AS (
      SELECT p_partkey, url, body,
             CASE WHEN regexp_matches(lower(url), '/(contact|locations?)($|/)') THEN 0.95
                  WHEN regexp_matches(lower(url), '/(office|store|branch|find|where|address)') THEN 0.90
                  WHEN regexp_matches(lower(url), '/about/us($|/)') THEN 0.85
                  WHEN regexp_matches(lower(url), '/(about|company|corporate)') THEN 0.70
                  WHEN regexp_matches(lower(url), '/(headquarter|facility|site)') THEN 0.65
                  ELSE 0.0 END AS url_conf,
             (CASE WHEN contains(lower(array_to_string(regexp_extract_all(body, '<h[1-3]>([^<]*)</h[1-3]>', 1), ' ')), 'contact') THEN 1 ELSE 0 END
              + CASE WHEN contains(lower(array_to_string(regexp_extract_all(body, '<h[1-3]>([^<]*)</h[1-3]>', 1), ' ')), 'location') THEN 1 ELSE 0 END
              + CASE WHEN contains(lower(array_to_string(regexp_extract_all(body, '<h[1-3]>([^<]*)</h[1-3]>', 1), ' ')), 'office') THEN 1 ELSE 0 END
              + CASE WHEN contains(lower(array_to_string(regexp_extract_all(body, '<h[1-3]>([^<]*)</h[1-3]>', 1), ' ')), 'address') THEN 1 ELSE 0 END) AS kw
      FROM t
    ), conf AS (
      SELECT p_partkey, url, body,
             greatest(url_conf,
                      CASE WHEN kw > 0 THEN least(0.60 + kw * 0.10, 0.85)
                           ELSE 0.0 END) AS confidence
      FROM scored
    )
    SELECT p_partkey, url,
           (regexp_matches(body, '<div id="(root|app)">\s*</div>')
            OR len(regexp_replace(body, '<[^>]*>', '', 'g')) < 200) AS needs_js,
           CASE WHEN confidence >= 0.85 THEN 'location_page'
                WHEN confidence >= 0.60 THEN 'company_page'
                ELSE 'other' END AS page_type,
           round(confidence, 4) AS confidence,
           CASE WHEN confidence >= 0.85 THEN 1
                WHEN confidence >= 0.7 THEN 2
                WHEN confidence >= 0.6 THEN 3
                ELSE 4 END AS priority
    FROM conf
    """


def _page_classify_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21+X22: SPA needs-JS heuristic (framework root div / tiny text,
    playwright-renderer.service.js:324-335) and the page classifier
    (URL-pattern table ⊕ heading-keyword score, max of the two,
    page-classifier.service.js:15-151) over synthesized URL+body
    combinations hitting every branch."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    paths = F.array(*[F.lit(x) for x in [
        "/contact", "/office/hq", "/about/us", "/company/team",
        "/facility/1", "/products/x",
    ]])
    heads = F.array(*[F.lit(x) for x in [
        "Contact our Office", "Our Locations", "Products", "Address and Hours",
    ]])
    url = F.concat(
        F.lit("https://h"), (k % 9).cast("string"), F.lit(".example.com"),
        F.element_at(paths, (k % 6 + 1).cast("int")),
    )
    body = F.concat(
        F.lit("<html><h2>"), F.element_at(heads, (k % 4 + 1).cast("int")),
        F.lit('</h2><div id="root">'),
        F.when(k % 2 == 0, F.lit("")).otherwise(F.lit("content body here")),
        F.lit("</div>"),
        F.repeat(F.lit("<p>filler paragraph text</p>"), (k % 3 * 12).cast("int")),
        F.lit("</html>"),
    )
    t = p.select("p_partkey", url.alias("url"), body.alias("body"))
    cls = EX.classify_page("url", "body")
    return t.select(
        "p_partkey", "url",
        EX.needs_js("body").alias("needs_js"),
        cls["page_type"].alias("page_type"),
        F.round(cls["confidence"], 4).alias("confidence"),
        cls["priority"].alias("priority"),
    )


_JSONLD_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey % 170) - 85 + 0.5 AS la,
             (s_suppkey % 350) - 175 + 0.25 AS lo
      FROM supplier
    )
    SELECT concat('https://h', s_suppkey % 9, '.example.com/contact') AS sourceUrl,
           concat('h', s_suppkey % 9, '.example.com') AS seed_host,
           0.95 AS confidence,
           concat('Acme Branch ', s_suppkey) AS locationName,
           concat(1 + s_suppkey % 999, ' Oak Ave') AS street,
           concat('City', s_suppkey % 40) AS city,
           printf('%05d', 10000 + s_suppkey % 89999) AS postcode,
           round(la, 2) AS latitude,
           round(lo, 2) AS longitude,
           concat('(212) 555-', 1000 + s_suppkey % 9000) AS phone
    FROM s
    """


def _jsonld_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: the JSON-LD extractor (from_json + @graph explode + location
    @type filter, structured-data-extractor.service.js:31-161) over
    synthesized page bodies. Each body carries a 2-item @graph — one
    LocalBusiness that must extract and one WebSite that must be filtered
    — so the type gate is exercised; the oracle reconstructs the expected
    record from the source numbers without parsing."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    la = F.format_string("%.2f", (k % 170) - 85 + 0.5)
    lo = F.format_string("%.2f", (k % 350) - 175 + 0.25)
    jsonld = F.concat(
        F.lit('{"@graph": [{"@type": "WebSite", "name": "ignore me"}, '
              '{"@type": "LocalBusiness", "name": "Acme Branch '),
        k.cast("string"),
        F.lit('", "address": {"streetAddress": "'),
        (F.lit(1) + k % 999).cast("string"), F.lit(" Oak Ave"),
        F.lit('", "addressLocality": "City'), (k % 40).cast("string"),
        F.lit('", "postalCode": "'),
        F.format_string("%05d", (F.lit(10000) + k % 89999).cast("int")),
        F.lit('"}, "geo": {"latitude": '), la, F.lit(', "longitude": '), lo,
        F.lit('}, "telephone": "(212) 555-'),
        (F.lit(1000) + k % 9000).cast("string"),
        F.lit('"}]}'),
    )
    body = F.concat(
        F.lit('<html><script type="application/ld+json">'), jsonld,
        F.lit("</script></html>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/contact")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    out = EX.extract_jsonld(pages)
    return out.select(
        "sourceUrl", "seed_host", "confidence", "locationName", "street",
        "city", "postcode",
        F.round("latitude", 2).alias("latitude"),
        F.round("longitude", 2).alias("longitude"),
        "phone",
    )


_MICRODATA_ORACLE = """
    SELECT concat('https://h', s_suppkey % 9, '.example.com/about') AS sourceUrl,
           0.9 AS confidence,
           concat('Depot ', s_suppkey) AS locationName,
           concat(1 + s_suppkey % 500, ' Dock Rd') AS street,
           concat('Port', s_suppkey % 25) AS city,
           printf('%05d', 20000 + s_suppkey % 79999) AS postcode
    FROM supplier
    """


def _microdata_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: the microdata extractor (itemscope block split + per-block
    itemprop pulls, structured-data-extractor.service.js:166-265) over
    synthesized single-line itemscope blocks."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    block = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/LocalBusiness">'
              '<span itemprop="name">'),
        F.lit("Depot "), k.cast("string"),
        F.lit('</span><span itemprop="streetAddress">'),
        (F.lit(1) + k % 500).cast("string"), F.lit(" Dock Rd"),
        F.lit('</span><span itemprop="addressLocality">Port'),
        (k % 25).cast("string"),
        F.lit('</span><span itemprop="postalCode">'),
        F.format_string("%05d", (F.lit(20000) + k % 79999).cast("int")),
        F.lit("</span></div>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/about")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        F.concat(F.lit("<html>"), block, F.lit("</html>")).alias("body"),
    )
    out = EX.extract_microdata(pages)
    return out.select(
        "sourceUrl", "confidence", "locationName", "street", "city", "postcode"
    )


_INLINE_SCRIPT_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey % 170) - 85 + 0.5 AS la,
             (s_suppkey % 350) - 175 + 0.25 AS lo
      FROM supplier
    )
    SELECT concat('https://h', s_suppkey % 9, '.example.com/stores') AS sourceUrl,
           0.85 AS confidence,
           concat('Outlet ', s_suppkey) AS locationName,
           concat(1 + s_suppkey % 300, ' Elm Ln') AS street,
           concat('Town', s_suppkey % 30) AS city,
           round(la, 2) AS latitude,
           round(lo, 2) AS longitude
    FROM s
    """


def _inline_script_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: the inline-script JSON miner (window.X = [...] regex →
    from_json → explode, location-extractor.service.js:561-597) over
    synthesized script blobs; street/city split out of the combined
    address string by the operator's own regexes."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    la = F.format_string("%.2f", (k % 170) - 85 + 0.5)
    lo = F.format_string("%.2f", (k % 350) - 175 + 0.25)
    blob = F.concat(
        F.lit('<script>window.storeData = [{"name": "Outlet '),
        k.cast("string"),
        F.lit('", "address": "'), (F.lit(1) + k % 300).cast("string"),
        F.lit(" Elm Ln, Town"), (k % 30).cast("string"),
        F.lit('", "lat": '), la, F.lit(', "lng": '), lo,
        F.lit("}];</script>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/stores")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        F.concat(F.lit("<html>"), blob, F.lit("</html>")).alias("body"),
    )
    out = EX.extract_inline_script(pages)
    return out.select(
        "sourceUrl", "confidence", "locationName", "street", "city",
        F.round("latitude", 2).alias("latitude"),
        F.round("longitude", 2).alias("longitude"),
    )


_ROBOTS_GATE_ORACLE = """
    WITH f AS (
      SELECT p_partkey,
             concat('h', p_partkey % 6, '.example.com') AS seed_host,
             p_partkey % 6 AS hid,
             list_extract(['/admin/panel', '/blog/post7', '/office',
                           '/contact', '/admin', '/about'],
                          (p_partkey % 6) + 1) AS path
      FROM part
    )
    SELECT p_partkey,
           concat('https://', seed_host, path) AS url,
           (hid % 2 = 0 AND hid % 5 != 0
            AND (starts_with(path, '/admin') OR starts_with(path, '/blog')))
             AS is_blocked
    FROM f
    """


def _robots_gate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F5+J2: the robots gate — broadcast-join per-host robots rules
    onto candidate URLs, disallow-prefix path matching, permissive when
    the robots fetch failed (robots.service.js:44-53,63-71). Even hosts
    disallow /admin and /blog; hosts divisible by 5 simulate a failed
    robots fetch and must pass everything."""
    from web_crawler_spark.operators import frontier as FR
    from web_crawler_spark.schemas import ROBOTS

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    paths = F.array(*[F.lit(x) for x in [
        "/admin/panel", "/blog/post7", "/office", "/contact", "/admin", "/about",
    ]])
    frontier = p.select(
        "p_partkey",
        F.concat(F.lit("h"), (k % 6).cast("string"), F.lit(".example.com")).alias("seed_host"),
        F.concat(
            F.lit("https://h"), (k % 6).cast("string"), F.lit(".example.com"),
            F.element_at(paths, (k % 6 + 1).cast("int")),
        ).alias("url"),
    )
    robots_rows = []
    for h in range(6):
        robots_rows.append(
            {
                "host": f"h{h}.example.com",
                "fetch_ok": h % 5 != 0,
                "crawl_delay_s": 0.0,
                "disallow_prefixes": ["/admin", "/blog"] if h % 2 == 0 else [],
            }
        )
    robots = local_df(spark, robots_rows, ROBOTS)
    allowed, blocked = FR.robots_gate(frontier, robots)
    out = allowed.withColumn("is_blocked", F.lit(False)).unionByName(
        blocked.withColumn("is_blocked", F.lit(True))
    )
    return out.select("p_partkey", "url", "is_blocked")


_TEXT_LINE_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             concat('Branch ', s_suppkey) AS nm,
             concat(1 + s_suppkey % 400, ' Pine Rd') AS st,
             concat('Ville', s_suppkey % 20) AS ct,
             printf('%05d', 30000 + s_suppkey % 69999) AS pc,
             concat('(415) 555-', 1000 + s_suppkey % 9000) AS ph,
             concat('branch', s_suppkey, '@corp.com') AS em
      FROM supplier
    )
    SELECT concat('https://h', s_suppkey % 9, '.example.com/p') AS sourceUrl,
           0.8 AS confidence,
           nm AS locationName, st AS street, ct AS city, pc AS postcode,
           'USA' AS country, ph AS phone, em AS email
    FROM s
    """


def _text_line_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/F9/F13: the plain-text contact-line battery over <p> blocks —
    the matching line extracts name/street/city/postcode/country/phone/
    email; a sub-20-char line and a non-address line in the same body
    must be dropped by the length window and the shape pattern
    (heuristic-extractor.service.js:189-215, length gates :64-135)."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    nm = F.concat(F.lit("Branch "), k.cast("string"))
    st = F.concat((F.lit(1) + k % 400).cast("string"), F.lit(" Pine Rd"))
    ct = F.concat(F.lit("Ville"), (k % 20).cast("string"))
    pc = F.format_string("%05d", (F.lit(30000) + k % 69999).cast("int"))
    ph = F.concat(F.lit("(415) 555-"), (F.lit(1000) + k % 9000).cast("string"))
    em = F.concat(F.lit("branch"), k.cast("string"), F.lit("@corp.com"))
    good = F.concat(
        nm, F.lit(": "), st, F.lit(", "), ct, F.lit(", "), pc,
        F.lit(" USA. Call "), ph, F.lit(" or email "), em, F.lit(" today"),
    )
    body = F.concat(
        F.lit("<html><p>tiny</p><p>"), good,
        F.lit("</p><p>This paragraph talks about products, not places, at all.</p></html>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/p")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    out = EX.extract_text(pages)
    return out.select(
        "sourceUrl", "confidence", "locationName", "street", "city",
        "postcode", "country", F.trim("phone").alias("phone"), "email",
    )


_HOURS_SOCIAL_ORACLE = """
    WITH s AS (
      SELECT s_suppkey, 6 + s_suppkey % 6 AS h1, 2 + s_suppkey % 8 AS h2
      FROM supplier
    )
    SELECT s_suppkey,
           concat('Hours: ', h1, 'am - ', h2, 'pm') AS hours,
           concat('https://partner', s_suppkey, '.com') AS websites,
           concat('https://www.facebook.com/acme', s_suppkey) AS facebook,
           concat('https://twitter.com/acme', s_suppkey) AS twitter,
           CAST(NULL AS VARCHAR) AS linkedin,
           CAST(NULL AS VARCHAR) AS instagram
    FROM s
    """


def _hours_social_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 (hours/websites/social): the opening-hours regex battery over
    page text, website origins minus social hosts, and last-seen social
    link per network (contact-extractor.service.js:93-231) — the
    mailto/tel hrefs and social hosts must not leak into websites."""
    from web_crawler_spark.functions import contact as CT

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    text = F.concat(
        F.lit("Open weekdays. Hours: "), (F.lit(6) + k % 6).cast("string"),
        F.lit("am - "), (F.lit(2) + k % 8).cast("string"),
        F.lit("pm every week."),
    )
    hrefs = F.array(
        F.concat(F.lit("https://facebook.com/legacy"), k.cast("string")),
        F.concat(F.lit("https://www.facebook.com/acme"), k.cast("string")),
        F.concat(F.lit("https://partner"), k.cast("string"), F.lit(".com/page?ref=1")),
        F.concat(F.lit("https://twitter.com/acme"), k.cast("string")),
        F.lit("mailto:info@acme.com"),
        F.lit("tel:+1-212-555-0000"),
    )
    rows = s.select("s_suppkey", text.alias("text"), hrefs.alias("hrefs"))
    social = CT.extract_social(F.col("hrefs"))
    return rows.select(
        "s_suppkey",
        F.concat_ws("; ", CT.extract_hours("text")).alias("hours"),
        F.concat_ws("; ", CT.extract_websites(F.col("hrefs"))).alias("websites"),
        social["facebook"].alias("facebook"),
        social["twitter"].alias("twitter"),
        social["linkedin"].alias("linkedin"),
        social["instagram"].alias("instagram"),
    )


_XHR_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             (s_suppkey % 170) - 85 + 0.5 AS la,
             (s_suppkey % 350) - 175 + 0.25 AS lo
      FROM supplier
    )
    SELECT concat('https://h', s_suppkey % 9, '.example.com/app') AS sourceUrl,
           0.85 AS confidence,
           concat('Kiosk ', s_suppkey) AS locationName,
           concat(1 + s_suppkey % 250, ' Bay St') AS street,
           concat('Cove', s_suppkey % 30) AS city,
           round(la, 2) AS latitude,
           round(lo, 2) AS longitude
    FROM s
    """


def _xhr_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17/S3: the captured-XHR JSON extractor (array-bearing 'locations'
    key → rows, playwright-renderer.service.js:220-317) over synthesized
    xhr_json payloads — the SPA path's structured data, fed from the
    fetch stage's xhr_json column."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    la = F.format_string("%.2f", (k % 170) - 85 + 0.5)
    lo = F.format_string("%.2f", (k % 350) - 175 + 0.25)
    xhr = F.concat(
        F.lit('{"locations": [{"name": "Kiosk '), k.cast("string"),
        F.lit('", "address": "'), (F.lit(1) + k % 250).cast("string"),
        F.lit(" Bay St, Cove"), (k % 30).cast("string"),
        F.lit('", "latitude": '), la, F.lit(', "longitude": '), lo,
        F.lit("}]}"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/app")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        F.lit("<html><div id=\"root\"></div></html>").alias("body"),
        xhr.alias("xhr_json"),
    )
    out = EX.extract_xhr(pages)
    return out.select(
        "sourceUrl", "confidence", "locationName", "street", "city",
        F.round("latitude", 2).alias("latitude"),
        F.round("longitude", 2).alias("longitude"),
    )


_H3_ORACLE = """
    WITH s AS (
      SELECT s_suppkey,
             concat('City', s_suppkey % 30) AS c1,
             concat(1 + s_suppkey % 400, ' Elm Rd') AS st1,
             printf('%05d', 30000 + s_suppkey % 69999) AS pc1,
             concat('Town', s_suppkey % 20) AS c2,
             concat(1 + s_suppkey % 250, ' Oak St') AS st2,
             printf('%05d', 40000 + s_suppkey % 59999) AS pc2
      FROM supplier WHERE s_suppkey <= 400
    )
    SELECT concat('https://h', s_suppkey % 9, '.example.com/global') AS sourceUrl,
           0.8 AS confidence, c1 AS locationName, st1 AS street, c1 AS city,
           pc1 AS postcode, 'USA' AS country
    FROM s
    UNION ALL
    SELECT concat('https://h', s_suppkey % 9, '.example.com/global'),
           0.8, c2, st2, c2, pc2, 'CANADA'
    FROM s
    """


def _h3_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20 "Nutanix pattern": sequential h3 scan — ALL-CAPS h3 = country,
    title-case h3 = city, following <p> = address (the one justified
    mapInPandas extractor; location-extractor.service.js:656-698). Each
    body carries two country sections plus an orphan <p> before any city
    that must NOT emit; the oracle reconstructs both expected rows.
    Fixture volume is SF-independent (keys ≤ 400 — the widest structural
    modulus cycles inside the cap; this arm crosses into Python per row
    via mapInPandas, so bounding the page count matters more here)."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 400)
    k = F.col("s_suppkey")
    body = F.concat(
        F.lit("<html><p>orphan paragraph, 11111</p><h3>USA</h3><h3>City"),
        (k % 30).cast("string"),
        F.lit("</h3><p>"), (F.lit(1) + k % 400).cast("string"),
        F.lit(" Elm Rd, "),
        F.format_string("%05d", (F.lit(30000) + k % 69999).cast("int")),
        F.lit("</p><h3>CANADA</h3><h3>Town"), (k % 20).cast("string"),
        F.lit("</h3><p>"), (F.lit(1) + k % 250).cast("string"),
        F.lit(" Oak St, "),
        F.format_string("%05d", (F.lit(40000) + k % 59999).cast("int")),
        F.lit("</p></html>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/global")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    out = EX.extract_h3_sequential(_spread(pages))
    return out.select(
        "sourceUrl", "confidence", "locationName", "street", "city",
        "postcode", "country",
    )


_DET_IDS_ORACLE = """
    SELECT o_orderkey,
           concat('loc_', lpad(format('{:x}',
             cast(('0x' || substr(md5(concat('loc|', concat('https://x.com/p', o_orderkey), '|', o_orderkey % 1000)), 1, 15)) as ubigint)::bigint), 15, '0')) AS row_id
    FROM orders
    """


def _det_ids_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29/X30: deterministic row ids — the reference's
    ``loc_{{Date.now()}}_{{urlhash}}_{{rand}}`` (address-normalizer.service.js
    :262-280) is nondeterministic by construction; the engine replaces it
    with the md5-60-bit hash of (url, seq) so reruns are bit-identical.
    The oracle recomputes the same hash in SQL."""
    from web_crawler_spark.hashing import stable_row_id

    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    url = F.concat(F.lit("https://x.com/p"), k.cast("string"))
    rid = F.concat(
        F.lit("loc_"),
        F.lpad(F.conv(stable_row_id(F.lit("loc"), url, k % 1000).cast("string"), 10, 16), 15, "0"),
    )
    return o.select("o_orderkey", F.lower(rid).alias("row_id"))


# --------------------------------------------------------------------------
# Consolidated kernel-coverage queries: the dedicated per-kernel fixtures
# above (helpers + oracle fragments) union under a `kernel` tag so every
# operator keeps an independent driver-checked oracle row while the
# registry stays inside the driver's 50-query correctness window. Each
# oracle is the UNION ALL of the per-kernel oracle fragments projected to
# the shared schema — numeric outputs cast ::DOUBLE / ::BIGINT at the
# union boundary so DuckDB decimal/hugeint inference can never leak into
# the driver's hash normalizer.
# --------------------------------------------------------------------------
_U_CITY_L = ["Riverton", "Lakewood", "Fairview", "Brookside", "Kingsport"]
_U_CITY_T = ["Georgetown", "Harlingen", "Waxahachie", "Rosenberg", "Pearland"]
_U_CITY_S = ["Springfield", "Brockton", "Plymouth", "Waltham", "Quincy"]
_U_CITY_C = ["Bayview", "Oakmont", "Hillcrest", "Seabrook", "Westfield"]
_U_CITY_G = ["Oakdale", "Ferndale", "Glenview", "Maplewood", "Crestline"]


def _duck_pick(arr: list[str]) -> str:
    return ("list_extract([" + ", ".join(f"'{c}'" for c in arr)
            + "], 1 + s_suppkey % 5)")


_STRUCTURAL_ORACLE = (
    """
    WITH s AS (
      SELECT s_suppkey AS k,
             concat('https://h', s_suppkey % 9, '.example.com/dir') AS sourceUrl,
             """ + _duck_pick(_U_CITY_L) + """ AS cl,
             """ + _duck_pick(_U_CITY_T) + """ AS ct,
             """ + _duck_pick(_U_CITY_S) + """ AS cs,
             """ + _duck_pick(_U_CITY_C) + """ AS cc,
             """ + _duck_pick(_U_CITY_G) + """ AS cg
      FROM supplier WHERE s_suppkey <= 100
    )
    SELECT sourceUrl, 'dom_list' AS sourceType, cl AS locationName,
           concat(1 + k % 300, ' Oak Street') AS street, cl AS city,
           CAST(NULL AS VARCHAR) AS state,
           printf('%05d', 10000 + k % 80000) AS postcode,
           'USA' AS country,
           concat('(415) 555-', 1000 + k % 9000) AS phone,
           CAST(NULL AS VARCHAR) AS email
    FROM s
    UNION ALL
    SELECT sourceUrl, 'dom_table', ct, concat(2 + k % 180, ' Maple Ave'), ct,
           'TX', printf('%05d', 70000 + k % 9999), NULL, NULL, NULL
    FROM s
    UNION ALL
    SELECT sourceUrl, 'dom_section', concat('Harbor Branch No', k, '.'),
           concat(3 + k % 220, ' River Road'), cs,
           'MA', printf('%05d', 20000 + k % 9999), 'Canada', NULL,
           concat('branch', k, '@corp.example.com')
    FROM s
    UNION ALL
    SELECT sourceUrl, 'dom_card', cc, concat(4 + k % 150, ' Hill Blvd'), cc,
           NULL, printf('%05d', 40000 + k % 9999), 'United States', NULL, NULL
    FROM s
    UNION ALL
    SELECT sourceUrl, 'dom_grid', cg, concat(5 + k % 260, ' Sunset Way'), cg,
           NULL, printf('%05d', 50000 + k % 9999), 'US', NULL, NULL
    FROM s
    """
)


def _structural_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 (DOM-structural battery): one page per supplier carrying all
    five layouts plus per-strategy decoys that the length windows and
    component gates must drop (universal-location-extractor.service.js:
    112-420). Expected values are closed-form; notable semantics under
    test: the ul office/location gate, cells-joined-with-space table
    rows, section heading override, the card path's page-level
    currentCountry from the LAST country header, and extractCountry's
    ordered-substring scan — the grid row says 'Reach us at … Canada'
    and the expected country is 'US' (bug-compatible with :511-521).

    Fixture volume is SF-independent (keys ≤ 100): the pages differ only
    in key-derived data, and every variant modulus (5, 9) cycles fully
    inside the cap, so coverage is identical while the heavy DOM regex
    battery runs on a bounded page count at any SF."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 100)
    k = F.col("s_suppkey")

    def pick(arr: list[str]) -> Column:
        return F.element_at(F.array(*[F.lit(c) for c in arr]), (k % 5 + 1).cast("int"))

    cl, ct, cs, cc, cg = (pick(a) for a in
                          (_U_CITY_L, _U_CITY_T, _U_CITY_S, _U_CITY_C, _U_CITY_G))
    zipf = lambda base: F.format_string("%05d", (F.lit(base) + k % 9999).cast("int"))  # noqa: E731
    body = F.concat(
        F.lit("<html><body><h1>Branch directory</h1>"),
        # list + short-item decoy
        F.lit("<ul><li>Office No"), k.cast("string"), F.lit(" Directory: "),
        (F.lit(1) + k % 300).cast("string"), F.lit(" Oak Street, "), cl,
        F.lit(", "), F.format_string("%05d", (F.lit(10000) + k % 80000).cast("int")),
        F.lit(" USA, call (415) 555-"), (F.lit(1000) + k % 9000).cast("string"),
        F.lit("</li><li>tiny</li></ul>"),
        # table + short-row decoy
        F.lit("<table><tr><td>Depot No"), k.cast("string"), F.lit("</td><td>"),
        (F.lit(2) + k % 180).cast("string"), F.lit(" Maple Ave,</td><td>"), ct,
        F.lit(", TX "), zipf(70000), F.lit("</td></tr><tr><td>n/a</td></tr></table>"),
        # section + component-free decoy
        F.lit("<section><h3>Harbor Branch No"), k.cast("string"), F.lit(".</h3>"),
        (F.lit(3) + k % 220).cast("string"), F.lit(" River Road, "), cs,
        F.lit(", MA "), zipf(20000), F.lit(", Canada. Contact branch"),
        k.cast("string"), F.lit("@corp.example.com for details.</section>"),
        F.lit("<section>We make fine products and offer excellent services to"
              " customers everywhere around.</section>"),
        # country header + card
        F.lit('<h2>United States</h2><div class="location-card"><h4>'), cc,
        F.lit("</h4>Visit our branch at "), (F.lit(4) + k % 150).cast("string"),
        F.lit(" Hill Blvd, "), zipf(40000), F.lit("</div>"),
        # grid + component-free decoy child
        F.lit('<div class="grid-list"><span>Reach us at '),
        (F.lit(5) + k % 260).cast("string"), F.lit(" Sunset Way, "), cg,
        F.lit(", "), zipf(50000), F.lit(" Canada</span>"
              "<span>General words about nothing in particular here</span>"
              "</div></body></html>"),
    )
    pages = s.select(
        F.concat(F.lit("https://h"), (k % 9).cast("string"),
                 F.lit(".example.com/dir")).alias("url"),
        F.concat(F.lit("h"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    return EX.extract_structural(_spread(pages))


_U_CITY_D = ["Riverside", "Lakeview", "Hillsboro", "Greenfield", "Stonewall"]
_U_CITY_P = ["Ashford", "Belmont", "Clayton", "Dunmore", "Eastvale"]

_DATAATTR_ORACLE = (
    """
    WITH s AS (
      SELECT s_suppkey AS k,
             concat('https://d', s_suppkey % 9, '.example.com/offices') AS sourceUrl,
             """ + _duck_pick(_U_CITY_D) + """ AS cd,
             """ + _duck_pick(_U_CITY_P) + """ AS cp
      FROM supplier WHERE s_suppkey <= 100
    )
    SELECT sourceUrl, 'data_attr' AS sourceType,
           concat(cd, ' Plaza NYC') AS locationName,
           concat(cd, ' Plaza NYC') AS street,
           CAST(NULL AS VARCHAR) AS phone, CAST(NULL AS VARCHAR) AS email
    FROM s
    UNION ALL
    SELECT sourceUrl, 'data_attr', concat(cd, ' Campus'),
           concat(cd, ' Campus'), NULL, NULL
    FROM s
    UNION ALL
    SELECT sourceUrl, 'data_attr', concat(cd, ' Office No', k),
           concat(cd, ' Office No', k), NULL, NULL
    FROM s
    UNION ALL
    SELECT sourceUrl, 'data_attr', concat(cd, ' Ridge'),
           concat(cd, ' Ridge'), NULL, NULL
    FROM s
    UNION ALL
    SELECT sourceUrl, 'contact_page', concat('Desk No', k, '.'),
           concat(1 + k % 90, ' Harbor Street, Suite 5, ', cp, ', IL ',
                  printf('%05d', 60000 + k % 9999)),
           concat('(415) 555-', 1000 + k % 9000),
           concat('d', k, '@corp.example.com')
    FROM s
    UNION ALL
    SELECT sourceUrl, 'contact_page', 'Contact Location 2',
           concat('Reach the annex at Plaza Mayor ', 1 + k % 90, ', ', cp,
                  ' East, Spain soon'),
           NULL, NULL
    FROM s
    """
)


def _dataattr_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32 (data-attribute strategy) + X33 (contact-page strategy): one
    page per supplier carrying the Google-careers data-slug element (empty
    body → title-cased slug, inner case preserved), a display-child
    element, a jsname child, the React/Vue inline-script city array, and
    two contact blocks — one hitting findAddressInText's US tier with
    heading/phone/email, one hitting the lenient comma tier with NO
    heading so the name falls back to 'Contact Location {i+1}' with i the
    per-page jQuery .each index (location-extractor.service.js:350-450).
    Decoys per gate: a 1-char data-city, an http script entry, and a
    16-char contact block. Fixture volume is SF-independent (keys ≤ 100,
    every variant modulus cycles inside the cap)."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 100)
    k = F.col("s_suppkey")

    def pick(arr: list[str]) -> Column:
        return F.element_at(F.array(*[F.lit(c) for c in arr]), (k % 5 + 1).cast("int"))

    cd, cp = pick(_U_CITY_D), pick(_U_CITY_P)
    n = (F.lit(1) + k % 90).cast("string")
    zipc = F.format_string("%05d", (F.lit(60000) + k % 9999).cast("int"))
    body = F.concat(
        F.lit('<html><body><a data-slug="'), F.lower(cd),
        F.lit('-plaza-NYC"></a>'),
        F.lit('<div data-city="ignored"><span class="location-name">'), cd,
        F.lit(" Campus</span> and other text</div>"),
        F.lit('<li data-office="O1"><span jsname="K4r5Ff">'), cd,
        F.lit(" Office No"), k.cast("string"),
        F.lit('</span><span class="city-name">Nope</span></li>'),
        F.lit('<span data-city="A"></span>'),
        F.lit("<script>var officeData = [[\""), cd,
        F.lit(' Ridge","ridge",[1,2],["Full"],"CA",3],[["http://x","y"]]];'
              "</script>"),
        F.lit('<div class="contact-location"><h4>Desk No'), k.cast("string"),
        F.lit(".</h4>"), n, F.lit(" Harbor Street, Suite 5, "), cp,
        F.lit(", IL "), zipc, F.lit(". Call (415) 555-"),
        (F.lit(1000) + k % 9000).cast("string"), F.lit(" or mail d"),
        k.cast("string"),
        F.lit("@corp.example.com. Our warehouse team is here.</div>"),
        F.lit('<div class="branch-info">Reach the annex at Plaza Mayor '), n,
        F.lit(", "), cp, F.lit(" East, Spain soon</div>"),
        F.lit('<div class="contact-address">short, text</div></body></html>'),
    )
    pages = s.select(
        F.concat(F.lit("https://d"), (k % 9).cast("string"),
                 F.lit(".example.com/offices")).alias("url"),
        F.concat(F.lit("d"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    pages = _spread(pages)
    return EX.extract_data_attributes(pages).drop("activity").unionByName(
        EX.extract_contact_page(pages).drop("activity"), allowMissingColumns=True
    )


_U_CITY_H = ["Ashford", "Bristow", "Calder", "Denton", "Elkhart"]

_HEURISTIC_ORACLE = (
    """
    WITH s AS (
      SELECT s_suppkey AS k,
             concat('https://s', s_suppkey % 9, '.example.com/loc-',
                    s_suppkey) AS sourceUrl,
             """ + _duck_pick(_U_CITY_H) + """ AS ch,
             1 + s_suppkey % 90 AS n,
             printf('%05d', 30000 + s_suppkey % 9999) AS z2,
             printf('%05d', 44000 + s_suppkey % 9999) AS z3,
             printf('%05d', 88000 + s_suppkey % 9999) AS z4
      FROM supplier WHERE s_suppkey <= 100
    )
    SELECT sourceUrl, 'heur_semantic' AS sourceType,
           CAST(NULL AS VARCHAR) AS locationName,
           concat('Contact our office at Keystone Plaza near the station in ',
                  ch) AS street,
           0.7::DOUBLE AS confidence
    FROM s
    UNION ALL
    SELECT sourceUrl, 'heur_semantic', NULL,
           concat('Registered at 9 Crown Square, ', ch), 0.7::DOUBLE
    FROM s
    UNION ALL
    SELECT sourceUrl, 'heur_heading', 'our locations',
           concat(n, ' Garner Road, ', ch, ' ', z2), 0.8::DOUBLE
    FROM s
    UNION ALL
    SELECT sourceUrl, 'heur_text', NULL,
           concat(n, ' Quarry Lane, ', ch, ', ', z3, 'tiny'), 0.6::DOUBLE
    FROM s
    UNION ALL
    SELECT sourceUrl, 'heur_text', NULL,
           concat('Shipping dock at 7 Mason Court, ', ch, ' ', z4),
           0.6::DOUBLE
    FROM s
    UNION ALL
    SELECT sourceUrl, 'heur_list', NULL,
           concat(n, ' Quarry Lane, ', ch, ', ', z3), 0.75::DOUBLE
    FROM s
    """
)


def _heuristic_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 (heuristic DOM battery): one page per supplier exercising all
    four strategies plus the dedup semantics that make the battery more
    than a filter union (heuristic-extractor.service.js:11-245):
    a semantic contact-info div and a bare <address> tag (0.7), a
    keyword heading whose first sibling paragraph passes looksLikeAddress
    (0.8) while a digit-free sibling fails, a keyword-gated list item
    (0.75), and two body-text lines (0.6) — one of which is the list
    item glued with its short-item decoy, so its key differs. The
    page-level dedup drops the S3 duplicates of the <address> line and
    the heading sibling (strategy push order wins), and the '(12) Oak
    5!!' decoy dies at the key-length > 10 gate. Fixture volume is
    SF-independent (keys ≤ 100, every variant modulus cycles inside the
    cap)."""
    from web_crawler_spark.operators import extract as EX

    s = load(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 100)
    k = F.col("s_suppkey")

    def pick(arr: list[str]) -> Column:
        return F.element_at(F.array(*[F.lit(c) for c in arr]), (k % 5 + 1).cast("int"))

    ch = pick(_U_CITY_H)
    n = (F.lit(1) + k % 90).cast("string")
    z = lambda base: F.format_string("%05d", (F.lit(base) + k % 9999).cast("int"))  # noqa: E731
    body = F.concat(
        F.lit('<html><body><div class="contact-info">'
              "Contact our office at Keystone Plaza near the station in "),
        ch,
        F.lit('</div>\n<span class="office-tag">(12) Oak 5!!</span>\n'
              "<address>Registered at 9 Crown Square, "),
        ch,
        F.lit("</address>\n<h2>Our Locations</h2>\n<p>"), n,
        F.lit(" Garner Road, "), ch, F.lit(" "), z(30000),
        F.lit("</p>\n<p>Timetable item without numerals here</p>\n"
              "<h6>Company history</h6>\n"
              "<ul><li>Branch office list</li>\n<li>"),
        n, F.lit(" Quarry Lane, "), ch, F.lit(", "), z(44000),
        F.lit("</li><li>tiny</li></ul>\nShipping dock at 7 Mason Court, "),
        ch, F.lit(" "), z(88000), F.lit("\n</body></html>"),
    )
    pages = s.select(
        F.concat(F.lit("https://s"), (k % 9).cast("string"),
                 F.lit(".example.com/loc-"), k.cast("string")).alias("url"),
        F.concat(F.lit("s"), (k % 9).cast("string"),
                 F.lit(".example.com")).alias("seed_host"),
        body.alias("body"),
    )
    return EX.extract_heuristic(_spread(pages))


_U_CITY_S2 = ["Norfolk", "Pembroke", "Quantico", "Radford", "Salem"]

_LOC_DOM_ORACLE = """
    WITH b AS (
      SELECT p_partkey AS k,
             concat('lp', p_partkey % 7, '.example.com') AS host
      FROM part WHERE p_partkey % 20 = 0 AND p_partkey <= 2000
    )
    SELECT sourceType,
           concat('https://', host, '/loc', k, '/', pg) AS sourceUrl,
           coalesce(nm, concat(host, ' - Location 1')) AS locationName,
           street, phone, email
    FROM b
    CROSS JOIN (VALUES
        ('pat', 'loc_patterns', CAST(NULL AS VARCHAR),
         '12 Harbor Street, Suite 9, Springfield, IL 62704', '', ''),
        ('pat', 'loc_patterns', NULL, '45 Mill Lane Leeds LS1 4AB', '', ''),
        ('pat', 'loc_patterns', NULL, '1015 CJ Amsterdam', '', ''),
        ('pat', 'loc_patterns', NULL,
         'Keizersgracht 100, 1015 CJ Amsterdam', '', ''),
        ('tbl', 'loc_tables', 'Springfield Office',
         '12 Harbor Street, Springfield, IL 62704', '217-555-0133',
         'x@acme.com'),
        ('tbl', 'loc_tables', 'Location 3',
         '34 Elm Street, Madison, WI 53703', '', ''),
        ('sec', 'loc_sections', 'Downtown Hub',
         '88 Pine Street, Portland, OR 97204', '503-555-0199', ''),
        ('sec', 'loc_sections', 'Location 2',
         '9 Elm Road, Salem, OR 97301', '', ''),
        ('lst', 'loc_lists', '14 Bay Street',
         '14 Bay Street, Oakland, CA 94607', '510-555-0142', 'a@b.io'),
        ('lst', 'loc_lists', 'Lake Office',
         '215 Lake Avenue, Duluth, MN 55802', '', ''),
        ('lst', 'loc_lists', 'Fifth floor west wing entrance',
         'Fifth floor west wing entrance', '', '')
    ) AS v(pg, sourceType, nm, street, phone, email)
    """

_LOC_PAT_BODY = (
    "<html><head><title>T9</title></head><body><p>45 Mill Lane Leeds"
    " LS1 4AB. Call 12 Harbor Street, Suite 9, Springfield, IL 62704 now."
    " Keizersgracht 100, 1015 CJ Amsterdam</p></body></html>"
)
_LOC_TBL_BODY = (
    "<body><table><tr><td>Springfield Office</td>"
    "<td>12 Harbor Street, Springfield, IL 62704</td>"
    "<td>Tel 217-555-0133 x@acme.com</td></tr>"
    "<tr><td>tiny</td><td>x</td></tr>"
    "<tr><td></td><td>34 Elm Street, Madison, WI 53703</td></tr></table>"
    "<table><tr><td>No keyword</td><td>77 Oak Road, Dover, DE 19901</td>"
    "</tr></table></body>"
)
_LOC_SEC_BODY = (
    '<body><section class="location"><h3>Downtown Hub</h3>'
    "<p>88 Pine Street, Portland, OR 97204</p>"
    "<p>Tel 503-555-0199 and open daily</p></section>"
    '<div id="contact-main">Our crew sits at 9 Elm Road, Salem, OR 97301'
    " every day of the year</div>"
    '<div class="location">tiny</div>'
    '<section class="office">no address here but definitely enough'
    " padding text to pass fifty</section></body>"
)
_LOC_LST_BODY = (
    '<body><ul class="locations-list">'
    "<li>Harbor Annex 14 Bay Street, Oakland, CA 94607 Tel 510-555-0142"
    " a@b.io</li>"
    "<li>too short</li>"
    "<article><h4>Lake Office</h4><p>irrelevant filler</p>"
    "<p>215 Lake Avenue, Duluth, MN 55802</p></article>"
    '<div class="office-item">Main office building'
    " <p>Fifth floor west wing entrance</p></div>"
    "</ul>"
    '<ul class="wp-block-group"><li>No address in this item but long'
    " enough text</li></ul></body>"
)


def _loc_dom_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38: location-extractor's own four DOM strategies over dedicated
    adversarial pages per part row. The pattern page exercises all five
    regex sweeps (four hits, flexible-pattern miss); the table page pins
    the table-text keyword gate (second table skipped), the row-length
    gate, and the 'Location ${'{'}row+1{'}'}' first-cell fallback; the
    section page pins the 50-char gate, the heading name, and the
    match-ordinal fallback; the list page pins the item-length gate, the
    findAddressInText path, the heading name, the address-first-segment
    name, and the inner-<p> address fallback (the reference's last-<p>
    branch is dead code — see extract_loc_lists)."""
    from web_crawler_spark.operators import extract as EX

    # fixture volume is decoupled from SF (the pages are constants): a
    # deterministic 1-in-20 subset plus an SF-independent key cap keeps
    # the same coverage per arm on a bounded page count at any SF
    p = load(spark, sf_dir, "part").where(
        (F.col("p_partkey") % 20 == 0) & (F.col("p_partkey") <= 2000)
    )
    k = F.col("p_partkey")
    host = F.concat(F.lit("lp"), (k % 7).cast("string"), F.lit(".example.com"))

    def pages_for(pg: str, body: str) -> DataFrame:
        return p.select(
            F.concat(F.lit("https://"), host, F.lit("/loc"),
                     k.cast("string"), F.lit("/"), F.lit(pg)).alias("url"),
            host.alias("seed_host"),
            F.lit(body).alias("body"),
        )

    parts = [
        EX.extract_loc_patterns(pages_for("pat", _LOC_PAT_BODY)),
        EX.extract_loc_tables(pages_for("tbl", _LOC_TBL_BODY)),
        EX.extract_loc_sections(pages_for("sec", _LOC_SEC_BODY)),
        EX.extract_loc_lists(pages_for("lst", _LOC_LST_BODY)),
    ]
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


_SCRAPER_ORACLE = (
    """
    WITH s AS (
      SELECT s_suppkey AS k,
             concat('t', s_suppkey % 9, '.example.com') AS host,
             """ + _duck_pick(_U_CITY_S2) + """ AS cs,
             printf('%05d', 23000 + s_suppkey % 899) AS z1,
             printf('%05d', 19000 + s_suppkey % 899) AS z2
      FROM supplier WHERE s_suppkey % 5 = 0 AND s_suppkey <= 250
    )
    SELECT concat('https://', host, '/a-', k) AS sourceUrl,
           'scraper_pattern' AS sourceType,
           'Westwing Hub' AS locationName,
           concat('12 Keel Street, Suite 3, ', cs, ', VA ', z1) AS street
    FROM s
    UNION ALL
    SELECT concat('https://', host, '/a-', k), 'scraper_regex',
           concat('Location 3 - ', host),
           concat('77 Marsh Avenue, Dover, DE ', z2, '-8899')
    FROM s
    UNION ALL
    SELECT concat('https://', host, '/b-', k), 'scraper_basic',
           concat('Acme ', k, ' Warehouse Group'),
           '8 Quay Yard, Juneau, AK'
    FROM s
    UNION ALL
    SELECT concat('https://', host, '/c-', k), 'scraper_basic',
           concat('Acme Agency ', k),
           concat(host, ' - See website for address')
    FROM s
    """
)


def _scraper_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35 (scraper pipeline): three pages per supplier. Page A has a
    pattern-selector card whose address also appears twice in body text
    (a duplicate that collapses and a ZIP+4-longer variant that REPLACES
    the shorter regex row but not the earlier pattern row — expected
    survivors are the pattern row and 'Location 3'). Page B has no
    strategy-2/3 hits so the basic-info fallback fires, with two keyword
    paragraphs where the LAST keyword ('office') wins over 'visit us',
    and a '.contact' block without an address that must not overwrite.
    Page C has neither title tag nor addresses: og:title names it, and
    the street is the '<host> - See website for address' placeholder
    (scraper.service.js:5-155,223-309)."""
    from web_crawler_spark.operators import extract as EX

    # constant fixture pages: a deterministic 1-in-5 subset plus an
    # SF-independent key cap decouples fixture volume from SF without
    # losing any per-arm coverage (page variants a/b/c exist per key)
    s = load(spark, sf_dir, "supplier").where(
        (F.col("s_suppkey") % 5 == 0) & (F.col("s_suppkey") <= 250)
    )
    k = F.col("s_suppkey")

    def pick(arr: list[str]) -> Column:
        return F.element_at(F.array(*[F.lit(c) for c in arr]), (k % 5 + 1).cast("int"))

    cs = pick(_U_CITY_S2)
    host = F.concat(F.lit("t"), (k % 9).cast("string"), F.lit(".example.com"))
    z1 = F.format_string("%05d", (F.lit(23000) + k % 899).cast("int"))
    z2 = F.format_string("%05d", (F.lit(19000) + k % 899).cast("int"))
    ks = k.cast("string")
    page_a = F.concat(
        F.lit("<html><head><title>Acme "), ks,
        F.lit(' Corp</title></head><body><div class="office-location">'
              "<h4>Westwing Hub</h4>12 Keel Street, Suite 3, "),
        cs, F.lit(", VA "), z1,
        F.lit("</div>Depots: 77 Marsh Avenue, Dover, DE "), z2,
        F.lit(" and later 77 Marsh Avenue, Dover, DE "), z2,
        F.lit("-8899.</body></html>"),
    )
    page_b = F.concat(
        F.lit("<html><head><title>Acme "), ks,
        F.lit(' Warehouse Group</title><meta name="description" '
              'content="Distribution and fulfillment"></head><body>'
              '<div class="contact">Reach our contact desk anytime</div>'
              "<p>Visit us at 14 Old Mill Hollow, Fairbanks, AK today</p>"
              "<p>Our office sits at 8 Quay Yard, Juneau, AK for now</p>"
              "</body></html>"),
    )
    page_c = F.concat(
        F.lit('<html><head><meta property="og:title" content="Acme Agency '),
        ks,
        F.lit('"></head><body><p>General information page with no physical'
              " sites listed anywhere.</p></body></html>"),
    )
    pages = None
    for tag, body in (("a", page_a), ("b", page_b), ("c", page_c)):
        part = s.select(
            F.concat(F.lit("https://"), host, F.lit(f"/{tag}-"), ks).alias("url"),
            host.alias("seed_host"),
            body.alias("body"),
        )
        pages = part if pages is None else pages.unionByName(part)
    return EX.extract_scraper(_spread(pages))


_GENERIC_ADDR_ORACLE = """
    SELECT concat('https://u', p_partkey % 7, '.example.com/gen',
                  p_partkey) AS sourceUrl,
           'Office' AS locationName, street, CAST(NULL AS VARCHAR) AS city,
           CAST(NULL AS VARCHAR) AS state, postcode,
           CAST(NULL AS VARCHAR) AS country, CAST(NULL AS VARCHAR) AS phone,
           CAST(NULL AS VARCHAR) AS email
    FROM part
    CROSS JOIN (VALUES
        ('12 Harbor Street', CAST(NULL AS VARCHAR)),
        (CAST(NULL AS VARCHAR), '94607')) AS v(street, postcode)
    WHERE p_partkey <= 2000
    """

_GEN_BODY = (
    "<body><div>Our main office sits at 12 Harbor Street, Springfield"
    " quite near the park</div>"
    "<div>Our main office sits at 12 Harbor Street, Springfield quite"
    " near the park</div>"
    "<p>short text 12345</p>"
    "<section>Mail drop with postal code 94607 only, no street but"
    " padding to fifty chars</section></body>"
)


def _generic_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 strategy 7 (dom_generic, :392-417): a duplicated street block
    (exact-text set keeps one), an under-window paragraph, and a
    postal-only section. Fixture volume is SF-independent (keys ≤ 2000;
    the page body is a constant)."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part").where(F.col("p_partkey") <= 2000)
    k = F.col("p_partkey")
    return EX.extract_generic_addresses(
        p.select(
            F.concat(F.lit("https://u"), (k % 7).cast("string"),
                     F.lit(".example.com/gen"), k.cast("string")).alias("url"),
            F.lit("u.example.com").alias("seed_host"),
            F.lit(_GEN_BODY).alias("body"),
        )
    )


_JSONLD_REC_ORACLE = """
    SELECT concat('https://u', p_partkey % 7, '.example.com/jl',
                  p_partkey) AS sourceUrl,
           locationName, street, city, state, postcode, country, phone,
           email, latitude, longitude
    FROM part
    CROSS JOIN (VALUES
        ('Graph HQ', '1 Way', 'Oslo', '', '0150', '', '', '',
         59.9::DOUBLE, 10.7::DOUBLE),
        ('Deep Biz', '', 'Bergen', '', '', '', '555', '',
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
    ) AS v(locationName, street, city, state, postcode, country, phone,
           email, latitude, longitude)
    WHERE p_partkey <= 2000
    """

_JL_BLOB = (
    '{"@context":"https://schema.org","@graph":[{"@type":"CorporatePlace",'
    '"name":"Graph HQ","address":{"streetAddress":"1 Way",'
    '"addressLocality":"Oslo","postalCode":"0150"},'
    '"geo":{"latitude":59.9,"longitude":10.7},"sibling_ignored":true},'
    '{"@type":"Thing","nested":{"@type":"LocalBusiness","name":"Deep Biz",'
    '"address":{"addressLocality":"Bergen"},"telephone":"555"}}]}'
)


def _jsonld_rec_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 recursive JSON-LD walk (jsonld_recursive, :208-269): an @graph
    whose sibling keys are short-circuited, a substring-gated
    'CorporatePlace' type, a nested LocalBusiness two levels deep, and a
    malformed second script that must be skipped. Fixture volume is
    SF-independent (keys ≤ 2000; the blob is a constant)."""
    from web_crawler_spark.operators import extract as EX

    p = load(spark, sf_dir, "part").where(F.col("p_partkey") <= 2000)
    k = F.col("p_partkey")
    body = F.concat(
        F.lit('<body><script type="application/ld+json">'),
        F.lit(_JL_BLOB),
        F.lit('</script><script type="application/ld+json">not json'
              "</script></body>"),
    )
    return EX.extract_jsonld_recursive(
        p.select(
            F.concat(F.lit("https://u"), (k % 7).cast("string"),
                     F.lit(".example.com/jl"), k.cast("string")).alias("url"),
            F.lit("u.example.com").alias("seed_host"),
            body.alias("body"),
        )
    )


_EXTRACT_KERNELS_ORACLE = (
    """
    SELECT 'jsonld' AS kernel, sourceUrl, locationName, street, city, postcode,
           CAST(NULL AS VARCHAR) AS country, phone, CAST(NULL AS VARCHAR) AS email,
           confidence::DOUBLE AS confidence, latitude::DOUBLE AS latitude,
           longitude::DOUBLE AS longitude, CAST(NULL AS VARCHAR) AS state
    FROM ("""
    + _JSONLD_ORACLE
    + """)
    UNION ALL
    SELECT 'microdata', sourceUrl, locationName, street, city, postcode,
           NULL, NULL, NULL, confidence::DOUBLE, NULL, NULL, NULL
    FROM ("""
    + _MICRODATA_ORACLE
    + """)
    UNION ALL
    SELECT 'inline_script', sourceUrl, locationName, street, city, NULL,
           NULL, NULL, NULL, confidence::DOUBLE, latitude::DOUBLE,
           longitude::DOUBLE, NULL
    FROM ("""
    + _INLINE_SCRIPT_ORACLE
    + """)
    UNION ALL
    SELECT 'xhr', sourceUrl, locationName, street, city, NULL,
           NULL, NULL, NULL, confidence::DOUBLE, latitude::DOUBLE,
           longitude::DOUBLE, NULL
    FROM ("""
    + _XHR_ORACLE
    + """)
    UNION ALL
    SELECT 'h3_sequential', sourceUrl, locationName, street, city, postcode,
           country, NULL, NULL, confidence::DOUBLE, NULL, NULL, NULL
    FROM ("""
    + _H3_ORACLE
    + """)
    UNION ALL
    SELECT 'text_line', sourceUrl, locationName, street, city, postcode,
           country, phone, email, confidence::DOUBLE, NULL, NULL, NULL
    FROM ("""
    + _TEXT_LINE_ORACLE
    + """)
    UNION ALL
    SELECT sourceType, sourceUrl, locationName, street, city, postcode,
           country, phone, email, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), state
    FROM ("""
    + _STRUCTURAL_ORACLE
    + """)
    UNION ALL
    SELECT sourceType, sourceUrl, locationName, street,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), phone, email, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM ("""
    + _DATAATTR_ORACLE
    + """)
    UNION ALL
    SELECT sourceType, sourceUrl, locationName, street,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), confidence::DOUBLE,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM ("""
    + _HEURISTIC_ORACLE
    + """)
    UNION ALL
    SELECT sourceType, sourceUrl, locationName, street,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM ("""
    + _SCRAPER_ORACLE
    + """)
    UNION ALL
    SELECT sourceType, sourceUrl, locationName, street,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), phone, email, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM ("""
    + _LOC_DOM_ORACLE
    + """)
    UNION ALL
    SELECT 'dom_generic', sourceUrl, locationName, street, city, postcode,
           country, phone, email, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), state
    FROM ("""
    + _GENERIC_ADDR_ORACLE
    + """)
    UNION ALL
    SELECT 'jsonld_recursive', sourceUrl, locationName, street, city,
           postcode, country, phone, email, CAST(NULL AS DOUBLE),
           latitude::DOUBLE, longitude::DOUBLE, state
    FROM ("""
    + _JSONLD_REC_ORACLE
    + """)
    """
)

_EXTRACT_SCHEMA = {
    "kernel": "string",
    **dict.fromkeys(
        ["sourceUrl", "locationName", "street", "city", "postcode",
         "country", "phone", "email", "state"], "string"),
    **dict.fromkeys(["confidence", "latitude", "longitude"], "double"),
}


def _align_extract(df: DataFrame, kernel: str | None = None) -> DataFrame:
    """One extract_kernels arm: the record columns ``df`` carries, tagged
    ``kernel`` — or, when None, by each row's sourceType (the structural
    batteries carry several strategies in one DataFrame)."""
    present = {c: c for c in _EXTRACT_SCHEMA if c != "kernel" and c in df.columns}
    tag = F.col("sourceType") if kernel is None else kernel
    return _arm(df, _EXTRACT_SCHEMA, tag, **present)


@query("extract_kernels", oracle=_EXTRACT_KERNELS_ORACLE)
def q_extract_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 (JSON-LD) + X16 (microdata) + X19 (inline-script miner) +
    X17/S3 (captured-XHR miner) + X20 (sequential-h3 scan) + X1/F9/F13
    (plain-text contact-line battery) + X31 (the five DOM-structural
    strategies of universal-location-extractor.service.js — card/list/
    table/section/grid, tagged dom_*): every page-extraction strategy
    over its dedicated adversarial fixture, unioned under a `kernel` tag
    into the canonical record schema. Each kernel's helper + oracle
    fragment is unchanged from its former standalone query — the union
    only aligns columns (typed NULLs for fields a strategy doesn't
    produce). Round-3 additions X32 (data-attribute strategy, tagged
    data_attr), X33 (contact-page scan over findAddressInText, tagged
    contact_page), X34 (the four heuristic strategies with the
    normalized-key first-wins dedup, tagged heur_*), and X35 (the
    scraper chain with the sequential longer-wins similarity dedup,
    tagged scraper_*) ride the same tagged-union path.

    The 13 arm plans are CONSTRUCTED concurrently: each arm is hundreds
    of py4j round-trips of eager per-op analysis, driver-side work that
    the JVM overlaps cleanly across threads (plan construction has no
    shared mutable state). Interleaved A/B at sf0.1: serial build+run
    27/52/14 s vs parallel 17/18/12 s — faster and far less sensitive
    to concurrent JIT storms. Execution is a single action either way."""
    from concurrent.futures import ThreadPoolExecutor

    builders = [
        lambda: _align_extract(_jsonld_rows(spark, sf_dir), "jsonld"),
        lambda: _align_extract(_microdata_rows(spark, sf_dir), "microdata"),
        lambda: _align_extract(
            _inline_script_rows(spark, sf_dir), "inline_script"
        ),
        lambda: _align_extract(_xhr_rows(spark, sf_dir), "xhr"),
        lambda: _align_extract(_h3_rows(spark, sf_dir), "h3_sequential"),
        lambda: _align_extract(_text_line_rows(spark, sf_dir), "text_line"),
        lambda: _align_extract(_structural_rows(spark, sf_dir)),
        lambda: _align_extract(_dataattr_rows(spark, sf_dir)),
        lambda: _align_extract(_heuristic_rows(spark, sf_dir)),
        lambda: _align_extract(
            _scraper_rows(spark, sf_dir).drop("activity", "usageShare")
        ),
        lambda: _align_extract(
            _loc_dom_rows(spark, sf_dir).drop("activity", "usageShare")
        ),
        lambda: _align_extract(_generic_rows(spark, sf_dir)),
        lambda: _align_extract(
            _jsonld_rec_rows(spark, sf_dir), "jsonld_recursive"
        ),
    ]
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        parts = [f.result() for f in [pool.submit(b) for b in builders]]
    return reduce(DataFrame.unionByName, parts)


_LINK_DISCOVERY_ORACLE = (
    """
    SELECT k,
           CASE WHEN suffix IS NULL THEN concat(origin, '/global/x', k)
                ELSE concat(origin, suffix) END AS url,
           prio::BIGINT AS priority, rnk::BIGINT AS rank
    FROM (SELECT p_partkey AS k,
                 concat('https://p', p_partkey % 7, '.example.com') AS origin
          FROM part)
    CROSS JOIN (VALUES
        (1, '/contact', 1), (2, '/contact-us', 1), (3, '/contactus', 1),
        (4, '/global-offices', 2), (5, '/global-locations', 2),
        (6, NULL, 2),
        (7, '/about', 3), (8, '/about-us', 3), (9, '/company', 3),
        (10, '/company/regions', 3)) AS v(rnk, suffix, prio)
    """
)


def _link_discovery_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-explorer discovery (link-explorer.service.js:16-156): one base
    page per part row carrying a duplicate of a seeded high-value path
    (Set first-insertion dedupe), a keyword-free anchor (gated out), an
    absolute same-host /global anchor (surfaces at rank 6 between the
    seeded priority-2 and priority-3 paths — the stable-sort contract), a
    cross-host /contact anchor (hostname gate), and a text-keyword-only
    anchor whose 999 priority falls outside the top-10 slice. The expected
    top-10 is closed-form: 3×/contact* (1), 2×/global-* + the anchor (2),
    /about, /about-us, /company, /company/regions (3)."""
    from web_crawler_spark.operators import frontier as FR

    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    origin = F.concat(F.lit("https://p"), (k % 7).cast("string"),
                      F.lit(".example.com"))
    body = F.concat(
        F.lit('<a href="/contact">Contact</a><a href="/pricing">Plans</a>'
              '<a href="'),
        origin, F.lit("/global/x"), k.cast("string"), F.lit('">More</a>'),
        F.lit('<a href="https://other.example.net/contact">Them</a>'
              '<a href="/p'),
        k.cast("string"), F.lit('">Find Us Here</a>'),
    )
    pages = p.select(
        F.concat(origin, F.lit("/home-"), k.cast("string")).alias("url"),
        body.alias("body"),
    )
    return FR.discover_location_pages(pages)


_DOC_ROUTE_ORACLE = (
    """
    SELECT p_partkey AS k,
           concat('https://r', p_partkey % 7, '.example.com', suffix) AS url,
           is_pdf, is_doc, is_home
    FROM part
    CROSS JOIN (VALUES
        ('/files/report.pdf', true, false, false),
        ('/pdf/annual', true, false, false),
        ('/dl.pdf?v=2', true, false, false),
        ('/investor/doc_financials/q.html', true, false, false),
        ('/notes.docx', false, true, false),
        ('/', false, false, true),
        ('/about', false, false, false)) AS v(suffix, is_pdf, is_doc, is_home)
    """
)

_DOC_ROUTE_SUFFIXES = [
    "/files/report.pdf", "/pdf/annual", "/dl.pdf?v=2",
    "/investor/doc_financials/q.html", "/notes.docx", "/", "/about",
]


def _doc_route_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-type URL routing (crawler.service.js:113-134 isPdfUrl /
    isDocumentUrl; professional-crawler.service.js:238-249 isHomepage):
    seven URL shapes per part row — .pdf suffix, /pdf/ path segment,
    '.pdf?' with query, the doc_financials investor quirk, a .docx, the
    bare homepage, and a plain page. Expected flags are literals in the
    oracle's VALUES table, not recomputed."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    rows = p.select(
        k,
        F.explode(F.array(*[F.lit(s) for s in _DOC_ROUTE_SUFFIXES])).alias("sfx"),
    ).select(
        k,
        F.concat(F.lit("https://r"), (k % 7).cast("string"),
                 F.lit(".example.com"), F.col("sfx")).alias("url"),
    )
    return rows.select(
        "p_partkey", "url",
        U.is_pdf_url("url").alias("is_pdf"),
        U.is_document_url("url").alias("is_doc"),
        U.is_homepage("url").alias("is_home"),
    )


# --- link-graph arms: integer-exact PageRank + anchor-text rollup ---------
# Edge fixture: one host-graph edge per part row. src spreads over 193
# hosts; every 4th edge points at one of 7 hub hosts (the authority skew
# PageRank exists to detect), the rest follow an affine spread. Mirrored
# verbatim in SQL.
_PAGERANK_N = 193
_PAGERANK_EDGE_SQL = """
      SELECT DISTINCT (p_partkey % 193) AS src,
             CASE WHEN p_partkey % 4 = 0 THEN p_partkey % 7
                  ELSE (p_partkey * 13 + 5) % 193 END AS dst
      FROM part
      WHERE (p_partkey % 193) <>
            (CASE WHEN p_partkey % 4 = 0 THEN p_partkey % 7
                  ELSE (p_partkey * 13 + 5) % 193 END)
"""


def _pagerank_oracle(iters: int = 5, scale: int = 10**12,
                     d_num: int = 85, d_den: int = 100) -> str:
    """Unrolled integer fixed-point PageRank (operators/frontier.py:
    host_pagerank) — one CTE per iteration; the integer div/sum algebra
    makes the result independent of summation order, so the hash compare
    is exact with no float rounding boundary."""
    ctes = [
        f"e AS ({_PAGERANK_EDGE_SQL})",
        "outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, {scale} // n AS r FROM nodes, nn)",
    ]
    base = f"({d_den - d_num} * {scale}) // ({d_den} * (SELECT n FROM nn))"
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS (
          SELECT n.node,
                 {base}
                 + coalesce(sum(({d_num} * p.r) // ({d_den} * p.od)), 0) AS r
          FROM nodes n
          LEFT JOIN (SELECT e.dst, r.r, o.od
                     FROM e
                     JOIN r{i - 1} r ON e.src = r.node
                     JOIN outdeg o ON e.src = o.src) p
            ON p.dst = n.node
          GROUP BY n.node)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT node AS k,
           concat('https://h', node, '.example.com') AS url,
           r::BIGINT AS priority,
           row_number() OVER (ORDER BY r DESC, node) AS rank
    FROM r{iters}""")


def _trustrank_oracle(iters: int = 5, scale: int = 10**12,
                      d_num: int = 85, d_den: int = 100) -> str:
    """Unrolled integer fixed-point TrustRank (host_pagerank with
    ``trusted=``): same edge fixture as PageRank, teleport confined to
    the ``node % 13 = 0`` seed hosts — one CTE per iteration."""
    ctes = [
        f"e AS ({_PAGERANK_EDGE_SQL})",
        "outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "ns AS (SELECT count(*) AS n FROM nodes WHERE node % 13 = 0)",
        f"""r0 AS (SELECT node,
              CASE WHEN node % 13 = 0 THEN {scale} // n ELSE 0 END AS r
            FROM nodes, ns)""",
    ]
    base = (
        f"CASE WHEN n.node % 13 = 0 THEN "
        f"({d_den - d_num} * {scale}) // ({d_den} * (SELECT n FROM ns)) "
        f"ELSE 0 END"
    )
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS (
          SELECT n.node,
                 {base}
                 + coalesce(sum(({d_num} * p.r) // ({d_den} * p.od)), 0) AS r
          FROM nodes n
          LEFT JOIN (SELECT e.dst, r.r, o.od
                     FROM e
                     JOIN r{i - 1} r ON e.src = r.node
                     JOIN outdeg o ON e.src = o.src) p
            ON p.dst = n.node
          GROUP BY n.node)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT node AS k,
           concat('https://h', node, '.example.com') AS url,
           r::BIGINT AS priority,
           row_number() OVER (ORDER BY r DESC, node) AS rank
    FROM r{iters}""")


def _pagerank_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_pagerank over the deterministic host-graph fixture; the rank
    position orders hosts by authority (193 rows — the global window is a
    report-side sort over the per-host rollup, not a corpus window)."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    dst = (
        F.when(F.pmod(k, F.lit(4)) == 0, F.pmod(k, F.lit(7)))
        .otherwise(F.pmod(k * 13 + 5, F.lit(_PAGERANK_N)))
    )
    edges = (
        load(spark, sf_dir, "part")
        .select(F.pmod(k, F.lit(_PAGERANK_N)).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pr = FR.host_pagerank(edges, iters=5)
    w = Window.orderBy(F.col("rank_int").desc(), "node")
    return pr.select(
        F.col("node").alias("k"),
        F.concat(F.lit("https://h"), F.col("node").cast("string"),
                 F.lit(".example.com")).alias("url"),
        F.col("rank_int").alias("priority"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _trustrank_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_pagerank(trusted=…) over the PageRank edge fixture with the
    ``node % 13 == 0`` hosts as the trusted seed set (operators/
    frontier.py:host_pagerank — TrustRank, Gyöngyi et al. 2004)."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    dst = (
        F.when(F.pmod(k, F.lit(4)) == 0, F.pmod(k, F.lit(7)))
        .otherwise(F.pmod(k * 13 + 5, F.lit(_PAGERANK_N)))
    )
    edges = (
        load(spark, sf_dir, "part")
        .select(F.pmod(k, F.lit(_PAGERANK_N)).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    trusted = spark.range(0, _PAGERANK_N, 13).select(F.col("id").alias("node"))
    tr = FR.host_pagerank(edges, iters=5, trusted=trusted)
    w = Window.orderBy(F.col("rank_int").desc(), "node")
    return tr.select(
        F.col("node").alias("k"),
        F.concat(F.lit("https://h"), F.col("node").cast("string"),
                 F.lit(".example.com")).alias("url"),
        F.col("rank_int").alias("priority"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _opic_oracle(iters: int = 5, scale: int = 10**12) -> str:
    """Unrolled integer fixed-point OPIC (operators/frontier.py:host_opic)
    — the PageRank edge fixture minus the out-edges of hosts ≡ 3 (mod 11),
    which manufactures a dangling set so the virtual page's
    absorb-and-redistribute cycle is actually exercised. One recv CTE +
    one dangling-sum CTE per round; pure BIGINT div/sum, so the hash
    compare is exact."""
    ctes = [
        f"e AS (SELECT * FROM ({_PAGERANK_EDGE_SQL}) WHERE src % 11 <> 3)",
        "outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"""s0 AS (SELECT node, {scale} // n AS cash, 0 AS hist
            FROM nodes, nn)""",
        "v0 AS (SELECT 0 AS vc)",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""recv{i} AS (
          SELECT e.dst AS node, sum(s.cash // o.od) AS r
          FROM e
          JOIN s{i - 1} s ON e.src = s.node
          JOIN outdeg o ON e.src = o.src
          GROUP BY e.dst)""")
        ctes.append(f"""v{i} AS (
          SELECT coalesce(sum(cash), 0) AS vc FROM s{i - 1}
          WHERE node NOT IN (SELECT src FROM e))""")
        ctes.append(f"""s{i} AS (
          SELECT n.node,
                 coalesce(r.r, 0)
                 + (SELECT vc FROM v{i - 1}) // (SELECT n FROM nn) AS cash,
                 s.hist + s.cash AS hist
          FROM nodes n
          JOIN s{i - 1} s ON n.node = s.node
          LEFT JOIN recv{i} r ON n.node = r.node)""")
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT node AS k,
           concat('https://h', node, '.example.com') AS url,
           (hist + cash)::BIGINT AS priority,
           row_number() OVER (ORDER BY (hist + cash) DESC, node) AS rank
    FROM s{iters}""")


def _opic_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_opic over the dangling-augmented PageRank edge fixture
    (operators/frontier.py:host_opic — Abiteboul, Preda & Cobena 2003);
    priority is the on-line importance estimate ``history + cash``."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    dst = (
        F.when(F.pmod(k, F.lit(4)) == 0, F.pmod(k, F.lit(7)))
        .otherwise(F.pmod(k * 13 + 5, F.lit(_PAGERANK_N)))
    )
    edges = (
        load(spark, sf_dir, "part")
        .select(F.pmod(k, F.lit(_PAGERANK_N)).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .filter(F.pmod(F.col("src"), F.lit(11)) != 3)
        .distinct()
    )
    op = FR.host_opic(edges, iters=5).filter(F.col("node") >= 0)
    imp = (F.col("hist_int") + F.col("cash_int")).cast("long")
    w = Window.orderBy(imp.desc(), "node")
    return op.select(
        F.col("node").alias("k"),
        F.concat(F.lit("https://h"), F.col("node").cast("string"),
                 F.lit(".example.com")).alias("url"),
        imp.alias("priority"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


_IP_BUDGET_ORACLE = """
    WITH cand AS (
      SELECT p_partkey AS k,
             'h' || (p_partkey % 37) AS seed_host,
             'https://h' || (p_partkey % 37) || '.example.com/p'
               || p_partkey AS url,
             p_partkey AS enqueue_seq
      FROM part
    ),
    dim AS (
      SELECT h AS seed_host, '10.0.0.' || srv AS ip
      FROM (SELECT DISTINCT seed_host AS h,
                   cast(('0x' || substr(md5(seed_host), 1, 4)) AS INT) % 7
                     AS srv
            FROM cand)
      WHERE srv <> 3
    ),
    ranked AS (
      SELECT c.k, c.url, c.seed_host,
             coalesce(d.ip, c.seed_host) AS polite_key,
             row_number() OVER (PARTITION BY coalesce(d.ip, c.seed_host)
                                ORDER BY c.enqueue_seq) AS ip_rank
      FROM cand c LEFT JOIN dim d USING (seed_host)
    )
    SELECT k, url, polite_key, seed_host, ip_rank::BIGINT AS ip_rank
    FROM ranked WHERE ip_rank <= 5
"""


def _ip_budget_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """budget_by_ip over a vhost-farm fixture: 37 hosts hash onto 7
    servers (md5-derived, AS DATA); the server-3 hosts are left out of
    the resolution dim to exercise the conservative per-host fallback;
    wave budget 5 per politeness key (operators/frontier.py:budget_by_ip
    — Mercator §3.2 server-level back queues)."""
    from web_crawler_spark.operators import frontier as FR

    host = F.concat(
        F.lit("h"), F.pmod(F.col("p_partkey"), F.lit(37)).cast("string")
    )
    cand = load(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("k"),
        host.alias("seed_host"),
        F.concat(
            F.lit("https://h"),
            F.pmod(F.col("p_partkey"), F.lit(37)).cast("string"),
            F.lit(".example.com/p"),
            F.col("p_partkey").cast("string"),
        ).alias("url"),
        F.col("p_partkey").cast("long").alias("enqueue_seq"),
    )
    srv = (
        F.conv(F.substring(F.md5("seed_host"), 1, 4), 16, 10).cast("int")
        % 7
    )
    dim = (
        cand.select("seed_host").distinct()
        .select("seed_host", srv.alias("_srv"))
        .filter(F.col("_srv") != 3)
        .select(
            "seed_host",
            F.concat(F.lit("10.0.0."), F.col("_srv").cast("string")).alias("ip"),
        )
    )
    return FR.budget_by_ip(cand, dim, ip_wave_budget=5).select(
        "k", "url", "polite_key", "seed_host", "ip_rank"
    )


def _hits_oracle(iters: int = 3, scale: int = 10**6) -> str:
    """Unrolled integer fixed-point HITS (operators/frontier.py:host_hits)
    over the same edge fixture as PageRank — two CTEs per half-iteration
    (raw sum, L1 normalize), all BIGINT."""
    ctes = [
        f"e AS ({_PAGERANK_EDGE_SQL})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"h0 AS (SELECT node, {scale}::BIGINT AS s FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""ar{i} AS (
          SELECT n.node, coalesce(sum(p.s), 0)::BIGINT AS raw
          FROM nodes n
          LEFT JOIN (SELECT e.dst, x.s FROM e JOIN {prev_h} x ON e.src = x.node) p
            ON p.dst = n.node
          GROUP BY n.node)"""
        )
        ctes.append(
            f"a{i} AS (SELECT node, ((raw * {scale})"
            f" // greatest((SELECT sum(raw)::BIGINT FROM ar{i}), 1))::BIGINT"
            f" AS s FROM ar{i})"
        )
        ctes.append(
            f"""hr{i} AS (
          SELECT n.node, coalesce(sum(p.s), 0)::BIGINT AS raw
          FROM nodes n
          LEFT JOIN (SELECT e.src, x.s FROM e JOIN a{i} x ON e.dst = x.node) p
            ON p.src = n.node
          GROUP BY n.node)"""
        )
        ctes.append(
            f"h{i} AS (SELECT node, ((raw * {scale})"
            f" // greatest((SELECT sum(raw)::BIGINT FROM hr{i}), 1))::BIGINT"
            f" AS s FROM hr{i})"
        )
        prev_h = f"h{i}"
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT h{iters}.node AS k,
           concat('https://h', h{iters}.node, '.example.com') AS url,
           a{iters}.s AS auth_int, h{iters}.s AS hub_int
    FROM h{iters} JOIN a{iters} ON h{iters}.node = a{iters}.node""")


def _hits_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_hits over the PageRank edge fixture."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    dst = (
        F.when(F.pmod(k, F.lit(4)) == 0, F.pmod(k, F.lit(7)))
        .otherwise(F.pmod(k * 13 + 5, F.lit(_PAGERANK_N)))
    )
    edges = (
        load(spark, sf_dir, "part")
        .select(F.pmod(k, F.lit(_PAGERANK_N)).alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    out = FR.host_hits(edges, iters=3)
    return out.select(
        F.col("node").alias("k"),
        F.concat(F.lit("https://h"), F.col("node").cast("string"),
                 F.lit(".example.com")).alias("url"),
        F.col("auth_int"), F.col("hub_int"),
    )


_ANCHOR_POOL = ["Contact Us", " contact us ", "Find Us Here", "Our Offices",
                "locations", "More Info", "Visit", "About"]
_ANCHOR_POOL_SQL = "['" + "','".join(a.replace("'", "''") for a in _ANCHOR_POOL) + "']"
# 97 and 8 are coprime, so every target sees (up to) all 8 raw anchors —
# 7 after trim+lower dedup — and the max_anchors=4 cap genuinely bites.
_ANCHOR_ORACLE = f"""
    WITH l AS (
      SELECT (p_partkey % 97) AS tgt,
             concat('https://t', p_partkey % 97, '.example.com/') AS target,
             trim(lower(list_extract({_ANCHOR_POOL_SQL},
                                     (p_partkey % 8) + 1))) AS anchor
      FROM part),
    d AS (SELECT DISTINCT target, anchor FROM l),
    c AS (SELECT target, anchor,
                 row_number() OVER (PARTITION BY target ORDER BY anchor) AS rn
          FROM d),
    a AS (SELECT target, string_agg(anchor, '|' ORDER BY anchor) AS anchors
          FROM c WHERE rn <= 4 GROUP BY target),
    n AS (SELECT tgt, target, count(*) AS n_links FROM l GROUP BY tgt, target)
    SELECT n.tgt AS k, n.target AS url, n.n_links AS priority,
           a.anchors AS label
    FROM n JOIN a ON n.target = a.target
"""


def _anchor_text_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_anchor_text over a deterministic inbound-link fixture:
    raw anchors with case/whitespace variety (two pool entries normalize
    to the same 'contact us', proving the distinct is post-normalization)
    rolled up per target with the cap at 4 of the 7 distinct survivors."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    pool = F.array(*[F.lit(a) for a in _ANCHOR_POOL])
    links = load(spark, sf_dir, "part").select(
        F.concat(F.lit("https://t"), F.pmod(k, F.lit(97)).cast("string"),
                 F.lit(".example.com/")).alias("target"),
        F.element_at(pool, (F.pmod(k, F.lit(8)) + 1).cast("int")).alias("anchor"),
    )
    agg = FR.aggregate_anchor_text(
        links, target_col="target", anchor_col="anchor", max_anchors=4
    )
    return agg.select(
        F.regexp_extract("target", r"^https://t(\d+)\.", 1)
        .cast("long").alias("k"),
        F.col("target").alias("url"),
        F.col("n_links").alias("priority"),
        F.col("anchors").alias("label"),
    )


# Re-crawl scheduling fixture: the events log doubles as a visit history —
# one URL per user, visit instants from ts (wall-clock micros, the NTZ
# trick both engines agree on), content fingerprint = event_type. The
# decision instant is pinned just past the corpus horizon.
_RECRAWL_NOW = 1706659200000000  # 2024-01-31T00:00:00Z in epoch micros

_RECRAWL_ORACLE = f"""
    WITH v AS (SELECT user_id, epoch_us(ts) AS ts, event_type AS fp
               FROM events),
    m AS (SELECT user_id, ts,
                 CASE WHEN lag(fp) OVER w IS NOT NULL
                           AND fp <> lag(fp) OVER w
                      THEN 1 ELSE 0 END AS chg
          FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    a AS (SELECT user_id, count(*)::BIGINT AS n_visits,
                 sum(chg)::BIGINT AS n_changes,
                 min(ts) AS first_ts, max(ts) AS last_ts
          FROM m GROUP BY user_id)
    SELECT user_id AS k,
           concat('https://u', user_id, '.example.com/') AS url,
           n_visits, n_changes,
           (last_ts + (last_ts - first_ts) // greatest(n_changes, 1))::BIGINT
             AS next_due,
           (((({_RECRAWL_NOW} - last_ts) // 1000000) * 1000000
             * (n_changes + 1))
            // (((last_ts - first_ts) // 1000000) + 1))::BIGINT AS priority,
           {_RECRAWL_NOW}
             >= last_ts + (last_ts - first_ts) // greatest(n_changes, 1)
             AS due
    FROM a
"""


def _recrawl_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recrawl_priority over the events-as-visit-log fixture (one URL per
    user_id, fingerprint = event_type)."""
    from web_crawler_spark.operators import frontier as FR

    visits = load(spark, sf_dir, "events").select(
        F.concat(F.lit("https://u"), F.col("user_id").cast("string"),
                 F.lit(".example.com/")).alias("url"),
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " cast(ts as timestamp_ntz))"
        ).alias("ts"),
        F.col("event_type").alias("fp"),
    )
    out = FR.recrawl_priority(visits, now=_RECRAWL_NOW)
    return out.select(
        F.regexp_extract("url", r"^https://u(\d+)\.", 1).cast("long").alias("k"),
        "url", "n_visits", "n_changes", "next_due", "priority", "due",
    )


# Crawl-trap fixture: five hosts; host 0 is a calendar trap (every URL a
# fresh digit path + session query under ONE template), hosts 1-4 are
# letter paths where URL variety == template variety.
_TRAP_URL_SQL = """
      SELECT concat('https://t', p_partkey % 5, '.example.com',
                    CASE WHEN p_partkey % 5 = 0
                         THEN concat('/cal/2024/', p_partkey,
                                     '?sid=', p_partkey)
                         ELSE concat('/', chr((97 + p_partkey % 17)::INTEGER))
                    END)
        AS url
      FROM part
"""

_TRAP_ORACLE = f"""
    WITH u AS ({_TRAP_URL_SQL}),
    t AS (
      SELECT lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
             concat(
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
               regexp_replace(
                 regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
                 '[0-9]+', 'N', 'g'),
               CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) <> ''
                    THEN concat('?', regexp_replace(
                           regexp_extract(url, '\\?([^#]*)', 1),
                           '=[^&#]*', '=V', 'g'))
                    ELSE '' END) AS template,
             url
      FROM u),
    pt AS (SELECT host, template, count(DISTINCT url)::BIGINT AS n
           FROM t GROUP BY 1, 2),
    r AS (SELECT host, template, n,
                 row_number() OVER (PARTITION BY host
                                    ORDER BY n DESC, template) AS rk
          FROM pt),
    ro AS (SELECT host, sum(n)::BIGINT AS n_urls,
                  count(*)::BIGINT AS n_templates
           FROM pt GROUP BY host)
    SELECT CAST(regexp_extract(ro.host, 't(\\d+)\\.', 1) AS BIGINT) AS k,
           ro.host AS url, ro.n_urls, ro.n_templates,
           r.template AS top_template, r.n AS top_template_urls,
           ro.n_urls >= 20 AND ro.n_urls > 5 * ro.n_templates AS is_trap
    FROM ro JOIN r ON ro.host = r.host AND r.rk = 1
"""


def _trap_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect_url_traps over the calendar-trap fixture."""
    from web_crawler_spark.operators import frontier as FR

    k = F.col("p_partkey")
    path = (
        F.when(
            F.pmod(k, F.lit(5)) == 0,
            F.concat(F.lit("/cal/2024/"), k.cast("string"),
                     F.lit("?sid="), k.cast("string")),
        )
        .otherwise(F.concat(F.lit("/"),
                            F.expr("char(97 + pmod(p_partkey, 17))")))
    )
    urls = load(spark, sf_dir, "part").select(
        F.concat(F.lit("https://t"), F.pmod(k, F.lit(5)).cast("string"),
                 F.lit(".example.com"), path).alias("url")
    )
    out = FR.detect_url_traps(urls, min_urls=20, ratio=(5, 1))
    return out.select(
        F.regexp_extract("host", r"t(\d+)\.", 1).cast("long").alias("k"),
        F.col("host").alias("url"),
        "n_urls", "n_templates", "top_template", "top_template_urls",
        "is_trap",
    )


# WET shard fixture: every 10th order renders a 3-record Common-Crawl-style
# WET chunk — a warcinfo record, a well-framed conversion record (body =
# o_comment, honest Content-Length), and a conversion record with a PLANTED
# Content-Length violation (the parser must flag len_ok=false, never shift
# fields). Mirrored record-for-record in the oracle.
_WET_CRLF = "\r\n"
_WET_SQL_CRLF = "chr(13)||chr(10)"

_WET_ORACLE = f"""
    WITH wsrc AS (
      SELECT o_orderkey AS k,
             concat('order ', o_orderkey, ' status ', o_orderstatus,
                    ' placed ', o_orderdate::VARCHAR) AS page_text
      FROM orders WHERE o_orderkey % 10 = 0),
    wf AS (
      SELECT k,
             concat(
               'WARC/1.0', {_WET_SQL_CRLF},
               'WARC-Type: warcinfo', {_WET_SQL_CRLF},
               'WARC-Date: 2024-01-15T00:00:00Z', {_WET_SQL_CRLF},
               'Content-Length: 9', {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               'wet-stats', {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               'WARC/1.0', {_WET_SQL_CRLF},
               'WARC-Type: conversion', {_WET_SQL_CRLF},
               'WARC-Target-URI: https://w', k, '.example.com/a',
               {_WET_SQL_CRLF},
               'WARC-Date: 2024-01-15T00:00:01Z', {_WET_SQL_CRLF},
               'Content-Length: ', length(page_text),
               {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               page_text, {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               'WARC/1.0', {_WET_SQL_CRLF},
               'WARC-Type: conversion', {_WET_SQL_CRLF},
               'WARC-Target-URI: https://w', k, '.example.com/b',
               {_WET_SQL_CRLF},
               'WARC-Date: 2024-01-15T00:00:02Z', {_WET_SQL_CRLF},
               'Content-Length: ', length(page_text),
               {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               'copy: ', page_text, {_WET_SQL_CRLF}, {_WET_SQL_CRLF}
             ) AS wet
      FROM wsrc),
    wx AS (
      SELECT k, u['ord'] AS record_ord, u['rec'] AS rec
      FROM (SELECT k,
                   unnest(list_transform(
                     generate_series(2, len(parts)),
                     i -> {{'ord': i - 2, 'rec': parts[i]}})) AS u
            FROM (SELECT k,
                         string_split_regex(wet,
                           'WARC/1\\.0' || {_WET_SQL_CRLF}) AS parts
                  FROM wf))),
    wp AS (
      SELECT k, record_ord,
             nullif(regexp_extract(hd, 'WARC-Type: ([^' || chr(13) || chr(10)
               || ']+)', 1), '') AS warc_type,
             nullif(regexp_extract(hd, 'WARC-Target-URI: ([^' || chr(13)
               || chr(10) || ']+)', 1), '') AS target_uri,
             nullif(regexp_extract(hd, 'WARC-Date: ([^' || chr(13) || chr(10)
               || ']+)', 1), '') AS warc_date,
             nullif(regexp_extract(hd, 'Content-Length: ([^' || chr(13)
               || chr(10) || ']+)', 1), '')::BIGINT AS content_length,
             body
      FROM (SELECT k, record_ord,
                   split_part(rec, {_WET_SQL_CRLF} || {_WET_SQL_CRLF}, 1)
                     AS hd,
                   regexp_replace(
                     substr(rec, length(split_part(rec,
                       {_WET_SQL_CRLF} || {_WET_SQL_CRLF}, 1)) + 5),
                     '(' || chr(13) || chr(10) || ')+$', '', 'g') AS body
            FROM wx))
    SELECT k, record_ord::BIGINT AS record_ord, warc_type, target_uri,
           warc_date, content_length, md5(body) AS body_md5,
           length(body) = content_length AS len_ok
    FROM wp
"""


def _warc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_wet_records over the synthesized 3-record WET shards."""
    from web_crawler_spark.sources import warc as W

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    k = F.col("o_orderkey")
    crlf = _WET_CRLF

    def rec(typ: str, path: str | None, date: str, cl, body) -> F.Column:
        uri = (
            F.concat(
                F.lit("WARC-Target-URI: https://w"), k.cast("string"),
                F.lit(f".example.com/{path}{crlf}"),
            )
            if path is not None
            else F.lit("")
        )
        return F.concat(
            F.lit(f"WARC/1.0{crlf}WARC-Type: {typ}{crlf}"), uri,
            F.lit(f"WARC-Date: {date}{crlf}Content-Length: "),
            cl.cast("string"), F.lit(crlf + crlf), body, F.lit(crlf + crlf),
        )

    page_text = F.concat(
        F.lit("order "), k.cast("string"),
        F.lit(" status "), F.col("o_orderstatus"),
        F.lit(" placed "), F.col("o_orderdate").cast("string"),
    )
    o = o.withColumn("_pt", page_text)
    clen = F.length("_pt")
    chunk = F.concat(
        rec("warcinfo", None, "2024-01-15T00:00:00Z", F.lit(9),
            F.lit("wet-stats")),
        rec("conversion", "a", "2024-01-15T00:00:01Z", clen, F.col("_pt")),
        # planted framing violation: body is 6 bytes longer than declared
        rec("conversion", "b", "2024-01-15T00:00:02Z", clen,
            F.concat(F.lit("copy: "), F.col("_pt"))),
    )
    return W.parse_wet_records(o.select(k.alias("k"), chunk.alias("wet")))


_WARC_HTTP_ORACLE = f"""
    WITH hsrc AS (
      SELECT o_orderkey AS k,
             concat('order ', o_orderkey, ' status ', o_orderstatus,
                    ' placed ', o_orderdate::VARCHAR) AS page_text,
             CASE WHEN o_orderkey % 3 = 0 THEN '200 OK'
                  WHEN o_orderkey % 3 = 1 THEN '404 Not Found'
                  ELSE '301 Moved Permanently' END AS status_line,
             CASE WHEN o_orderkey % 2 = 0 THEN 'text/html'
                  ELSE 'application/pdf' END AS ctype
      FROM orders WHERE o_orderkey % 10 = 0),
    hmsg AS (
      SELECT k, page_text,
             concat('HTTP/1.1 ', status_line, {_WET_SQL_CRLF},
                    'Content-Type: ', ctype, '; charset=utf-8',
                    {_WET_SQL_CRLF}, 'Server: synthetic',
                    {_WET_SQL_CRLF}, {_WET_SQL_CRLF}, page_text) AS http
      FROM hsrc),
    hf AS (
      SELECT k,
             concat(
               'WARC/1.0', {_WET_SQL_CRLF},
               'WARC-Type: response', {_WET_SQL_CRLF},
               'WARC-Target-URI: https://w', k, '.example.com/r',
               {_WET_SQL_CRLF},
               'WARC-Date: 2024-01-15T00:00:01Z', {_WET_SQL_CRLF},
               'Content-Length: ', length(http),
               {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               http, {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               'WARC/1.0', {_WET_SQL_CRLF},
               'WARC-Type: conversion', {_WET_SQL_CRLF},
               'WARC-Target-URI: https://w', k, '.example.com/t',
               {_WET_SQL_CRLF},
               'WARC-Date: 2024-01-15T00:00:02Z', {_WET_SQL_CRLF},
               'Content-Length: ', length(page_text),
               {_WET_SQL_CRLF}, {_WET_SQL_CRLF},
               page_text, {_WET_SQL_CRLF}, {_WET_SQL_CRLF}
             ) AS warc
      FROM hmsg),
    hx AS (
      SELECT k, u['ord'] AS record_ord, u['rec'] AS rec
      FROM (SELECT k,
                   unnest(list_transform(
                     generate_series(2, len(parts)),
                     i -> {{'ord': i - 2, 'rec': parts[i]}})) AS u
            FROM (SELECT k,
                         string_split_regex(warc,
                           'WARC/1\\.0' || {_WET_SQL_CRLF}) AS parts
                  FROM hf))),
    hw AS (
      SELECT k, record_ord,
             nullif(regexp_extract(hd, 'WARC-Type: ([^' || chr(13) || chr(10)
               || ']+)', 1), '') AS warc_type,
             nullif(regexp_extract(hd, 'WARC-Target-URI: ([^' || chr(13)
               || chr(10) || ']+)', 1), '') AS target_uri,
             nullif(regexp_extract(hd, 'Content-Length: ([^' || chr(13)
               || chr(10) || ']+)', 1), '')::BIGINT AS content_length,
             body
      FROM (SELECT k, record_ord,
                   split_part(rec, {_WET_SQL_CRLF} || {_WET_SQL_CRLF}, 1)
                     AS hd,
                   regexp_replace(
                     substr(rec, length(split_part(rec,
                       {_WET_SQL_CRLF} || {_WET_SQL_CRLF}, 1)) + 5),
                     '(' || chr(13) || chr(10) || ')+$', '', 'g') AS body
            FROM hx)),
    hr AS (
      SELECT *,
             regexp_matches(body, '^HTTP/1\\.[01] [0-9]{{3}}') AS is_http,
             split_part(body, {_WET_SQL_CRLF} || {_WET_SQL_CRLF}, 1) AS hd2
      FROM hw)
    SELECT k, record_ord::BIGINT AS record_ord, warc_type, target_uri,
           CASE WHEN is_http THEN
             regexp_extract(hd2, '^HTTP/1\\.[01] ([0-9]{{3}})', 1)::BIGINT
           END AS http_status,
           CASE WHEN is_http THEN
             nullif(regexp_extract(hd2, chr(13) || chr(10)
               || 'Content-Type: ([^' || chr(13) || chr(10) || ';]+)', 1), '')
           END AS http_content_type,
           CASE WHEN is_http THEN md5(substr(body, length(hd2) + 5)) END
             AS payload_md5,
           length(body) = content_length AS len_ok
    FROM hr
"""


_CAPTION_Q_ORACLE = f"""
    WITH caps AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN substr(text, 1, 80)
               WHEN 1 THEN concat('Visit http://spam', doc_id,
                                  '.example.com for more')
               WHEN 2 THEN 'ok'
               WHEN 3 THEN concat(repeat('#', 30), ' !!!')
               WHEN 4 THEN concat(substr(text, 1, 40), ' stock photo')
               ELSE ''
             END AS caption
      FROM documents
    ),
    m AS (
      SELECT doc_id, caption,
             length(caption) AS n_chars,
             CASE WHEN length(trim(caption)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(caption), '\\s+')) END
               AS n_toks,
             length(regexp_replace(caption, '[^A-Za-z0-9\\s]', '', 'g')) * 2
               >= length(caption) AS alpha_ok,
             regexp_matches(caption, '(https?://|www\\.)') AS has_url,
             CASE WHEN (CASE WHEN len({_TOKS_SQL.format(col='caption')}) > 0
                         THEN len(list_filter({_TOKS_SQL.format(col='caption')},
                                x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                              / len({_TOKS_SQL.format(col='caption')})
                         ELSE 0.0 END) >= 0.05
                   AND length(regexp_replace(caption, '[^A-Za-z0-9\\s]', '',
                                             'g'))::DOUBLE
                       / greatest(length(caption), 1) >= 0.9
             THEN 'en' ELSE 'unknown' END AS cap_lang
      FROM caps
    )
    SELECT doc_id, n_chars::BIGINT AS cap_n_chars,
           n_toks::BIGINT AS cap_n_tokens, alpha_ok AS cap_alpha_ok,
           has_url AS cap_has_url, cap_lang,
           (n_chars BETWEEN 10 AND 512) AND (n_toks BETWEEN 3 AND 77)
             AND alpha_ok AND NOT has_url AS cap_keep
    FROM m
"""


@query("caption_quality", oracle=_CAPTION_Q_ORACLE)
def q_caption_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style caption curation gate (images.py:caption_quality) over
    synthesized captions with planted junk — a URL caption, a too-short
    one, a symbol-soup one, and an empty one per 6-doc cycle — proving
    the length window, integer alpha cross-multiplication, URL predicate,
    ride-along lang-ID, and the conjunction all mirror engine-exactly."""
    from web_crawler_spark import images as IM

    d = load(spark, sf_dir, "documents")
    k = F.col("doc_id")
    caption = (
        F.when(k % 6 == 0, F.substring("text", 1, 80))
        .when(k % 6 == 1, F.concat(F.lit("Visit http://spam"),
                                   k.cast("string"),
                                   F.lit(".example.com for more")))
        .when(k % 6 == 2, F.lit("ok"))
        .when(k % 6 == 3, F.concat(F.repeat(F.lit("#"), 30), F.lit(" !!!")))
        .when(k % 6 == 4, F.concat(F.substring("text", 1, 40),
                                   F.lit(" stock photo")))
        .otherwise(F.lit(""))
    )
    pairs = d.select("doc_id", caption.alias("caption"))
    out = IM.caption_quality(pairs)
    return out.select(
        "doc_id", "cap_n_chars", "cap_n_tokens", "cap_alpha_ok",
        "cap_has_url", "cap_lang", "cap_keep",
    )


_CDX_ORACLE = """
    WITH caps AS (
      SELECT o_orderkey AS k,
             concat('https://w', o_orderkey % 40, '.example.com/p',
                    o_orderkey) AS url,
             lpad(((o_orderkey * 7) % 100)::VARCHAR, 2, '0') AS sec,
             CASE WHEN o_orderkey % 100 = 0 THEN 404 ELSE 200 END AS status,
             concat('d', o_orderkey // 40) AS digest,
             (500 + o_orderkey % 300)::BIGINT AS length,
             (o_orderkey * 1000)::BIGINT AS "offset",
             concat('shard', o_orderkey % 4, '.warc.gz') AS filename
      FROM orders WHERE o_orderkey % 20 = 0),
    t AS (
      SELECT *, concat('202401150000', sec) AS ts
      FROM caps WHERE status = 200),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY digest
                                ORDER BY ts, url, filename, "offset") AS rn,
             count(*) OVER (PARTITION BY digest) AS n_dups,
             (sum(length) OVER (PARTITION BY digest) - length) AS saved
      FROM t)
    SELECT filename, "offset", length, url, ts, digest,
           row_number() OVER (PARTITION BY filename ORDER BY "offset")::BIGINT
             AS shard_seq,
           n_dups::BIGINT AS n_dups, saved::BIGINT AS dup_bytes_saved
    FROM r WHERE rn = 1
"""


def _cdx_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture-index planning (sources/cdx.py) — the fourth Common
    Crawl artifact: the Spark side renders real CDXJ LINES (urlkey +
    timestamp + JSON with url/mime/status/digest/length/offset/filename),
    parses them back through parse_cdx (substring_index keys +
    get_json_object fields), and runs fetch_plan — 2xx filter, one
    elected capture per content digest (earliest ts), per-shard
    offset-ordered sequence numbers, and the duplicate-bytes-avoided
    metric. The oracle constructs the capture fields closed-form (never
    parses a line), so the CDXJ parse is independently checked; the
    election/rollup windows mirror in SQL."""
    from web_crawler_spark.sources import cdx as CX

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    k = F.col("o_orderkey")
    url = F.concat(F.lit("https://w"), (k % 40).cast("string"),
                   F.lit(".example.com/p"), k.cast("string"))
    ts = F.concat(F.lit("202401150000"),
                  F.lpad(((k * 7) % 100).cast("string"), 2, "0"))
    status = F.when(k % 100 == 0, F.lit(404)).otherwise(F.lit(200))
    js = F.concat(
        F.lit('{"url": "'), url,
        F.lit('", "mime": "text/html", "status": "'), status.cast("string"),
        F.lit('", "digest": "d'), F.floor(k / 40).cast("long").cast("string"),
        F.lit('", "length": "'), (F.lit(500) + k % 300).cast("string"),
        F.lit('", "offset": "'), (k * 1000).cast("string"),
        F.lit('", "filename": "shard'), (k % 4).cast("string"),
        F.lit('.warc.gz"}'),
    )
    urlkey = F.concat(F.lit("com,example,w"), (k % 40).cast("string"),
                      F.lit(")/p"), k.cast("string"))
    lines = o.select(
        F.concat(urlkey, F.lit(" "), ts, F.lit(" "), js).alias("line")
    )
    return CX.fetch_plan(CX.parse_cdx(lines))


_WAT_ORACLE = """
    WITH src AS (
      SELECT o_orderkey AS k,
             concat('https://w', o_orderkey % 40, '.example.com/p',
                    o_orderkey) AS page
      FROM orders WHERE o_orderkey % 25 = 0),
    links AS (
      SELECT k, page, i AS link_ord,
             CASE i WHEN 0 THEN concat('https://w', (k + 1) % 40,
                                       '.example.com/p', k + 1)
                    WHEN 1 THEN concat('/rel/p', k % 97)
                    ELSE concat('https://cdn', k % 5,
                                '.example.net/a', k) END AS url,
             CASE i WHEN 0 THEN 'A@/href' WHEN 1 THEN 'A@/href'
                    ELSE 'IMG@/src' END AS link_path
      FROM src CROSS JOIN (SELECT unnest(range(3)) AS i))
    SELECT page AS src, link_ord::BIGINT AS link_ord, link_path, url,
           count(*) OVER (PARTITION BY page)::BIGINT AS n_outlinks
    FROM links
"""


def _wat_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata ingestion (sources/warc.py:wat_outlinks): the third
    Common Crawl format — JSON metadata envelopes → the outlink edge
    list that bootstraps the host link graph (PageRank/HITS/OPIC priors)
    without fetching a page. The Spark side renders REAL WAT-style JSON
    bodies (the canonical Envelope → Payload-Metadata →
    HTTP-Response-Metadata → HTML-Metadata → Links[] path) and parses
    them back with the fixed-path from_json subset schema + posexplode;
    the oracle constructs the expected edges closed-form and never
    touches JSON — the whole parse path is independently checked."""
    from web_crawler_spark.sources import warc as W

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
    k = F.col("o_orderkey")
    page = F.concat(
        F.lit("https://w"), (k % 40).cast("string"),
        F.lit(".example.com/p"), k.cast("string"),
    )

    def link(i: int) -> Column:
        if i == 0:
            u = F.concat(F.lit("https://w"), ((k + 1) % 40).cast("string"),
                         F.lit(".example.com/p"), (k + 1).cast("string"))
            path = "A@/href"
        elif i == 1:
            u = F.concat(F.lit("/rel/p"), (k % 97).cast("string"))
            path = "A@/href"
        else:
            u = F.concat(F.lit("https://cdn"), (k % 5).cast("string"),
                         F.lit(".example.net/a"), k.cast("string"))
            path = "IMG@/src"
        return F.concat(
            F.lit('{"path": "' + path + '", "url": "'), u, F.lit('"}')
        )

    body = F.concat(
        F.lit('{"Envelope": {"Payload-Metadata": '
              '{"HTTP-Response-Metadata": {"HTML-Metadata": {"Links": ['),
        link(0), F.lit(", "), link(1), F.lit(", "), link(2),
        F.lit(']}}}}}'),
    )
    wat = o.select(page.alias("target_uri"), body.alias("body"))
    edges = W.wat_outlinks(wat)
    w = Window.partitionBy("src")
    return edges.select(
        "src", "link_ord", "link_path", "url",
        F.count(F.lit(1)).over(w).cast("long").alias("n_outlinks"),
    )


_WARC_GZ_ORACLE = """
    WITH src AS (
      SELECT o_orderkey AS k,
             o_orderkey % 8 AS shard,
             concat('order ', o_orderkey, ' status ', o_orderstatus,
                    ' placed ', o_orderdate::VARCHAR) AS page_text,
             row_number() OVER (PARTITION BY o_orderkey % 8
                                ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey % 50 = 0),
    recs AS (
      SELECT shard, pos * 3 AS record_ord, 'warcinfo' AS warc_type,
             CAST(NULL AS VARCHAR) AS target_uri,
             '2024-01-15T00:00:00Z' AS warc_date,
             9 AS content_length, 'wet-stats' AS body, TRUE AS len_ok
      FROM src
      UNION ALL
      SELECT shard, pos * 3 + 1, 'conversion',
             concat('https://w', k, '.example.com/a'),
             '2024-01-15T00:00:01Z', length(page_text),
             page_text, TRUE
      FROM src
      UNION ALL
      SELECT shard, pos * 3 + 2, 'conversion',
             concat('https://w', k, '.example.com/b'),
             '2024-01-15T00:00:02Z', length(page_text),
             concat('copy: ', page_text), FALSE
      FROM src)
    SELECT 'text' AS lane, concat('shard', shard) AS shard,
           record_ord::BIGINT AS record_ord, warc_type, target_uri,
           warc_date, content_length::BIGINT AS content_length,
           md5(body) AS body_md5, len_ok
    FROM recs
    UNION ALL
    -- the binary-body reader over the SAME shards: bodies are
    -- Content-Length-sliced BYTES; md5 over the ASCII payload is
    -- engine-identical, and the planted violation record keeps its
    -- declared-length prefix (first content_length bytes of the
    -- 'copy: '-prefixed body) with len_ok=false
    SELECT 'bin', concat('shard', shard), record_ord::BIGINT, warc_type,
           target_uri, warc_date, content_length::BIGINT,
           md5(CASE WHEN len_ok THEN body
                    ELSE substr(body, 1, content_length) END),
           len_ok
    FROM recs
"""


def _warc_gz_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw Common-Crawl archive leg end-to-end
    (sources/warc.py:read_warc_gz): 8 synthesized .warc.gz shards, each a
    gzip-MEMBER-per-record concatenation (ISO 28500 record-at-time
    compression), scanned via binaryFile → streaming per-member gunzip in
    an Arrow-batched mapInPandas (each record decodes to its own string;
    the whole-file decompressed form never exists) → the wet_record
    column kernel, with the per-order framing-violation record proving
    Content-Length validation survives the compressed path. The fixture
    write is a driver-side sink (like the other sink-roundtrip arms);
    the read path is the distributed surface under test. Two lanes over
    the SAME shards: ``text`` = read_warc_gz (decoded-string bodies),
    ``bin`` = read_warc_gz_binary (Content-Length-sliced BYTE bodies —
    the planted violation record surfaces its declared-length prefix
    with len_ok=false). The oracle is CLOSED-FORM — it constructs the
    expected records directly from the orders table and never
    re-parses, so gz splitting, gunzip, framing, byte slicing, and
    field extraction are all independently checked."""
    import shutil
    import tempfile
    from collections import defaultdict

    from web_crawler_spark.sources import warc as W

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    k = F.col("o_orderkey")
    page_text = F.concat(
        F.lit("order "), k.cast("string"),
        F.lit(" status "), F.col("o_orderstatus"),
        F.lit(" placed "), F.col("o_orderdate").cast("string"),
    )
    rows = o.select(
        F.pmod(k, F.lit(8)).alias("shard"), k.alias("k"),
        page_text.alias("pt"),
    ).collect()
    by_shard: dict[int, list] = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append((r["k"], r["pt"]))
    crlf = "\r\n"
    d = tempfile.mkdtemp(prefix="wcs_warcgz_")
    for shard, items in by_shard.items():
        recs = []
        for kk, pt in sorted(items):
            recs.append(
                f"WARC/1.0{crlf}WARC-Type: warcinfo{crlf}"
                f"WARC-Date: 2024-01-15T00:00:00Z{crlf}"
                f"Content-Length: 9{crlf}{crlf}wet-stats{crlf}{crlf}"
            )
            recs.append(
                f"WARC/1.0{crlf}WARC-Type: conversion{crlf}"
                f"WARC-Target-URI: https://w{kk}.example.com/a{crlf}"
                f"WARC-Date: 2024-01-15T00:00:01Z{crlf}"
                f"Content-Length: {len(pt)}{crlf}{crlf}{pt}{crlf}{crlf}"
            )
            # planted framing violation: 6 bytes longer than declared
            recs.append(
                f"WARC/1.0{crlf}WARC-Type: conversion{crlf}"
                f"WARC-Target-URI: https://w{kk}.example.com/b{crlf}"
                f"WARC-Date: 2024-01-15T00:00:02Z{crlf}"
                f"Content-Length: {len(pt)}{crlf}{crlf}copy: {pt}{crlf}{crlf}"
            )
        W.write_warc_gz(recs, f"{d}/shard{shard}.warc.gz")
    shard_col = F.regexp_extract("file", r"(shard\d+)\.warc\.gz", 1)
    text = W.read_warc_gz(spark, d).select(
        F.lit("text").alias("lane"), shard_col.alias("shard"),
        "record_ord", "warc_type", "target_uri", "warc_date",
        "content_length", F.md5("body").alias("body_md5"), "len_ok",
    )
    binary = W.read_warc_gz_binary(spark, d).select(
        F.lit("bin").alias("lane"), shard_col.alias("shard"),
        "record_ord", "warc_type", "target_uri", "warc_date",
        "content_length", F.md5("body").alias("body_md5"), "len_ok",
    )
    both = text.unionByName(binary)
    try:  # materialized before the shards go
        return local_df(spark, both.collect(), both.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


_ARCHIVE_INGEST_ORACLE = (
    """
    SELECT 'cdx' AS kind, CAST(NULL AS VARCHAR) AS lane,
           filename AS container, url, CAST(NULL AS VARCHAR) AS label,
           digest, ts, shard_seq AS seq, "offset", length,
           n_dups AS n, dup_bytes_saved AS saved,
           CAST(NULL AS BOOLEAN) AS len_ok
    FROM ("""
    + _CDX_ORACLE
    + """)
    UNION ALL
    SELECT 'wat', NULL, src, url, link_path, NULL, NULL, link_ord, NULL,
           NULL, n_outlinks, NULL, NULL
    FROM ("""
    + _WAT_ORACLE
    + """)
    UNION ALL
    SELECT 'warc_gz', lane, shard, target_uri, warc_type, body_md5,
           warc_date, record_ord, NULL, content_length, NULL, NULL, len_ok
    FROM ("""
    + _WARC_GZ_ORACLE
    + """)
    """
)

_ARCHIVE_INGEST_SCHEMA = {
    "kind": "string", "lane": "string", "container": "string",
    "url": "string", "label": "string", "digest": "string", "ts": "string",
    "seq": "long", "offset": "long", "length": "long", "n": "long",
    "saved": "long", "len_ok": "boolean",
}


@query("archive_ingest", oracle=_ARCHIVE_INGEST_ORACLE)
def q_archive_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three archive-side Common Crawl artifacts as one tagged union
    (``kind``): ``cdx`` — the CDXJ capture index → deduplicated fetch
    plan; ``wat`` — WAT metadata envelopes → outlink edge list;
    ``warc_gz`` — raw .warc.gz shards through the text and binary
    readers (``lane``). Shared columns: ``container`` (CDX filename / WAT
    source page / WARC shard), ``url`` (capture url / outlink / target
    URI), ``label`` (WAT link path / WARC type), ``digest`` (CDX content
    digest / WARC body md5), ``ts`` (CDX timestamp / WARC date), ``seq``
    (CDX shard sequence / WAT link ordinal / WARC record ordinal),
    ``offset``/``length`` (CDX member range; WARC Content-Length), ``n``
    (CDX duplicates / WAT outlinks per page), ``saved`` (CDX duplicate
    bytes avoided) and ``len_ok`` (WARC framing check). Each arm's
    fixture and oracle are described on its rows function."""
    S = _ARCHIVE_INGEST_SCHEMA
    return reduce(DataFrame.unionByName, [
        _arm(_cdx_rows(spark, sf_dir), S, "cdx",
             container="filename", url="url", digest="digest", ts="ts",
             seq="shard_seq", offset="offset", length="length",
             n="n_dups", saved="dup_bytes_saved"),
        _arm(_wat_rows(spark, sf_dir), S, "wat",
             container="src", url="url", label="link_path", seq="link_ord",
             n="n_outlinks"),
        _arm(_warc_gz_rows(spark, sf_dir), S, "warc_gz",
             lane="lane", container="shard", url="target_uri",
             label="warc_type", digest="body_md5", ts="warc_date",
             seq="record_ord", length="content_length", len_ok="len_ok"),
    ])


def _warc_http_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_warc_responses over synthesized full-WARC shards: one HTTP
    ``response`` record (status/media-type routing surface, parameters
    after ';' dropped) + one ``conversion`` record per shard proving
    non-HTTP bodies yield NULLs, never a misparse
    (sources/warc.py:http_response)."""
    from web_crawler_spark.sources import warc as W

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    k = F.col("o_orderkey")
    crlf = _WET_CRLF
    page_text = F.concat(
        F.lit("order "), k.cast("string"),
        F.lit(" status "), F.col("o_orderstatus"),
        F.lit(" placed "), F.col("o_orderdate").cast("string"),
    )
    status_line = (
        F.when(k % 3 == 0, F.lit("200 OK"))
        .when(k % 3 == 1, F.lit("404 Not Found"))
        .otherwise(F.lit("301 Moved Permanently"))
    )
    ctype = F.when(k % 2 == 0, F.lit("text/html")).otherwise(
        F.lit("application/pdf")
    )
    http_msg = F.concat(
        F.lit("HTTP/1.1 "), status_line, F.lit(crlf),
        F.lit("Content-Type: "), ctype, F.lit("; charset=utf-8" + crlf),
        F.lit("Server: synthetic" + crlf + crlf), page_text,
    )

    def rec(typ: str, path: str, date: str, body) -> Column:
        return F.concat(
            F.lit(f"WARC/1.0{crlf}WARC-Type: {typ}{crlf}"),
            F.lit("WARC-Target-URI: https://w"), k.cast("string"),
            F.lit(f".example.com/{path}{crlf}"),
            F.lit(f"WARC-Date: {date}{crlf}Content-Length: "),
            F.length(body).cast("string"), F.lit(crlf + crlf),
            body, F.lit(crlf + crlf),
        )

    shard = F.concat(
        rec("response", "r", "2024-01-15T00:00:01Z", http_msg),
        rec("conversion", "t", "2024-01-15T00:00:02Z", page_text),
    )
    return W.parse_warc_responses(
        o.select(k.alias("k"), shard.alias("warc"))
    ).select(
        "k", "record_ord", "warc_type", "target_uri",
        F.col("http_status").cast("long").alias("http_status"),
        "http_content_type",
        F.md5("payload").alias("payload_md5"),
        "len_ok",
    )


# Redirect-chain fixture: 400 URL nodes; the mod-101 overlay plants 2-cycles
# (20↔21, 121↔122, ...), every other non-multiple-of-5 node chains one step
# down (n → n-1, terminating at a multiple of 5 unless the walk falls into a
# cycle), multiples of 5 are terminals. Chains to a terminal are ≤ 4 hops, so
# the oracle's 8 unrolled steps and the engine's 3 doubling rounds both cover
# every resolvable chain; anything still pointing at a redirecting node after
# that is a loop.
_REDIRECT_N = 400

_REDIRECT_EDGE_SQL = f"""
      SELECT n AS src,
             CASE WHEN n % 101 = 20 THEN n + 1
                  WHEN n % 101 = 21 THEN n - 1
                  ELSE n - 1 END AS dst
      FROM (SELECT DISTINCT (p_partkey % {_REDIRECT_N})::BIGINT AS n FROM part)
      WHERE n % 101 = 20 OR n % 101 = 21 OR n % 5 <> 0
"""


def _redirect_oracle(steps: int = 8) -> str:
    ctes = [
        f"e AS ({_REDIRECT_EDGE_SQL})",
        f"n0 AS (SELECT DISTINCT (p_partkey % {_REDIRECT_N})::BIGINT AS n"
        " FROM part)",
        "s0 AS (SELECT n, n AS cur, 0::BIGINT AS hops FROM n0)",
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"""s{i} AS (
          SELECT s.n, coalesce(e.dst, s.cur) AS cur,
                 s.hops + CASE WHEN e.dst IS NOT NULL THEN 1 ELSE 0 END AS hops
          FROM s{i - 1} s LEFT JOIN e ON e.src = s.cur)"""
        )
    return ("WITH " + ",\n".join(ctes) + f"""
    SELECT n AS k, concat('https://r', n, '.example.com/') AS url,
           CASE WHEN isloop THEN NULL
                ELSE concat('https://r', cur, '.example.com/') END AS final_url,
           CASE WHEN isloop THEN NULL ELSE hops END::BIGINT AS n_hops,
           isloop AS is_loop
    FROM (SELECT s{steps}.*,
                 cur IN (SELECT src FROM e) AS isloop
          FROM s{steps})""")


def _redirect_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resolve_redirects over the deterministic redirect-map fixture."""
    from web_crawler_spark.operators import frontier as FR

    n = F.col("n")
    nodes = (
        load(spark, sf_dir, "part")
        .select(F.pmod("p_partkey", F.lit(_REDIRECT_N)).cast("long").alias("n"))
        .distinct()
    )
    edges = nodes.filter(
        (F.pmod(n, F.lit(101)) == 20) | (F.pmod(n, F.lit(101)) == 21)
        | (F.pmod(n, F.lit(5)) != 0)
    ).select(
        n.alias("src"),
        F.when(F.pmod(n, F.lit(101)) == 20, n + 1)
        .when(F.pmod(n, F.lit(101)) == 21, n - 1)
        .otherwise(n - 1)
        .alias("dst"),
    )
    out = FR.resolve_redirects(nodes, edges, node_col="n", max_hops=8)
    url = lambda c: F.concat(  # noqa: E731
        F.lit("https://r"), F.col(c).cast("string"), F.lit(".example.com/")
    )
    return out.select(
        F.col("node").alias("k"),
        url("node").alias("url"),
        F.when(F.col("is_loop"), F.lit(None)).otherwise(url("final"))
        .alias("final_url"),
        F.col("n_hops").alias("n_hops"),
        F.col("is_loop"),
    )


def _mirror_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host fixture: 20 hash-assigned hosts over the documents
    table, plus a planted exact mirror pair (mirror-a/mirror-b serving the
    same doc subset), a planted partial mirror (partial-c serving half of
    it), and a boilerplate parking fingerprint on EVERY host — which the
    operator's per-fp host cap must drop before the self-join."""
    d = load(spark, sf_dir, "documents")
    fp = TX.fingerprint("text")
    host20 = F.concat(
        F.lit("h"), F.lpad((F.col("doc_id") % 20).cast("string"), 2, "0")
    )
    pages = (
        d.select(host20.alias("host"), fp.alias("fp"))
        .unionAll(
            d.filter(F.col("doc_id") % 10 == 0)
            .select(F.lit("mirror-a").alias("host"), fp.alias("fp"))
        )
        .unionAll(
            d.filter(F.col("doc_id") % 10 == 0)
            .select(F.lit("mirror-b").alias("host"), fp.alias("fp"))
        )
        .unionAll(
            d.filter(F.col("doc_id") % 20 == 0)
            .select(F.lit("partial-c").alias("host"), fp.alias("fp"))
        )
    )
    boiler = pages.select("host").distinct().select(
        "host", F.md5(F.lit("boilerplate 404 page")).alias("fp")
    )
    return pages.unionAll(boiler)


_MIRROR_NORM = _NORM_SQL.format(col="text")
_MIRROR_ORACLE = f"""
    WITH mp AS (
      SELECT 'h' || lpad((doc_id % 20)::VARCHAR, 2, '0') AS host,
             md5({_MIRROR_NORM}) AS fp FROM documents
      UNION ALL
      SELECT 'mirror-a', md5({_MIRROR_NORM}) FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT 'mirror-b', md5({_MIRROR_NORM}) FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT 'partial-c', md5({_MIRROR_NORM}) FROM documents WHERE doc_id % 20 = 0
    ),
    mpb AS (
      SELECT host, fp FROM mp
      UNION ALL
      SELECT DISTINCT host, md5('boilerplate 404 page') FROM mp
    ),
    hf AS (SELECT DISTINCT host, fp FROM mpb),
    sizes AS (SELECT host, count(*) AS n FROM hf GROUP BY host),
    kept AS (
      SELECT host, fp FROM (
        SELECT host, fp, count(*) OVER (PARTITION BY fp) AS dfh FROM hf
      ) WHERE dfh <= 10
    ),
    prs AS (
      SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.host < b.host
      GROUP BY a.host, b.host
      HAVING count(*) >= 2
    )
    SELECT host_a, host_b, shared,
           (shared * 1000000 // (na.n + nb.n - shared))::BIGINT AS jaccard_micro,
           (shared * 1000000 // (na.n + nb.n - shared)) >= 500000 AS is_mirror
    FROM prs JOIN sizes na ON prs.host_a = na.host
             JOIN sizes nb ON prs.host_b = nb.host
"""


def _dust_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST fixture: a synthetic URL corpus where ``session`` and ``ref``
    never change the content fingerprint, ``page`` does, and hosts are
    independent — alias variants are planted per custkey (c % 7 picks the
    variant; 7 is coprime to the host/path periods so every (host, path)
    class sees every variant)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    site = (k % 4).cast("string")
    page = (k % 50).cast("string")
    base = F.concat(F.lit("https://site"), site,
                    F.lit(".example.com/p"), page)
    fp0 = F.md5(F.concat(F.lit("site"), site, F.lit("/p"), page))
    fpp = F.md5(F.concat(F.lit("site"), site, F.lit("/p"), page,
                         F.lit("#page2")))
    v = k % 7
    url = (
        F.when(v == 1, F.concat(base, F.lit("?session=s"), k.cast("string")))
        .when(v == 2,
              F.concat(base, F.lit("?ref=mail&session=s"), k.cast("string")))
        .when(v == 3, F.concat(base, F.lit("?ref=mail")))
        .when(v == 4, F.concat(base, F.lit("?page=2")))
        .otherwise(base)
    )
    return c.select(
        url.alias("url"), F.when(v == 4, fpp).otherwise(fp0).alias("fp")
    )


_DUST_PAGES_SQL = """
    dsrc AS (
      SELECT c_custkey AS k,
             'https://site' || (c_custkey % 4) || '.example.com/p'
               || (c_custkey % 50) AS base,
             md5('site' || (c_custkey % 4) || '/p' || (c_custkey % 50)) AS fp0,
             md5('site' || (c_custkey % 4) || '/p' || (c_custkey % 50)
                 || '#page2') AS fpp,
             c_custkey % 7 AS v
      FROM customer
    ),
    dpages AS (
      SELECT CASE v WHEN 1 THEN base || '?session=s' || k
                    WHEN 2 THEN base || '?ref=mail&session=s' || k
                    WHEN 3 THEN base || '?ref=mail'
                    WHEN 4 THEN base || '?page=2'
                    ELSE base END AS url,
             CASE WHEN v = 4 THEN fpp ELSE fp0 END AS fp
      FROM dsrc
    ),
    dqs AS (
      SELECT url, fp,
             lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
             split_part(url, '?', 1) AS base,
             CASE WHEN contains(url, '?')
                  THEN string_split(substr(url, position('?' IN url) + 1), '&')
             END AS ps
      FROM dpages
    ),
    dcand AS (
      SELECT url, fp, host, c['param'] AS param, c['stripped'] AS stripped
      FROM (
        SELECT url, fp, host,
               unnest(list_transform(generate_series(1, len(ps)), i ->
                 {'param': split_part(ps[i], '=', 1),
                  'stripped': base || CASE WHEN len(ps) > 1
                    THEN '?' || array_to_string(
                           list_filter(ps, (x, j) -> j != i), '&')
                    ELSE '' END})) AS c
        FROM dqs WHERE ps IS NOT NULL AND len(ps) > 0
      )
    ),
    dcorpus AS (SELECT DISTINCT url AS stripped, fp AS cfp FROM dpages),
    drollup AS (
      SELECT host, param,
             sum(CASE WHEN fp = cfp THEN 1 ELSE 0 END)::BIGINT AS support,
             sum(CASE WHEN fp <> cfp THEN 1 ELSE 0 END)::BIGINT
               AS counterexamples
      FROM dcand JOIN dcorpus USING (stripped)
      GROUP BY host, param
    )
"""

# Canonical-host election over the mirror graph: transitive closure by
# recursive CTE (clusters are host-count-scale, tiny next to the page
# corpus), component = min reachable host — mirrors connected_min's
# min-label fixpoint exactly (min over strings is lexicographic in both
# engines).
_MIRROR_CLUSTER_ORACLE = f"""
    WITH RECURSIVE mpairs AS ({_MIRROR_ORACLE}),
    medges AS (
      SELECT host_a AS a, host_b AS b FROM mpairs WHERE is_mirror
      UNION ALL
      SELECT host_b, host_a FROM mpairs WHERE is_mirror
    ),
    reach(a, b) AS (
      SELECT a, b FROM medges
      UNION
      SELECT r.a, e.b FROM reach r JOIN medges e ON r.b = e.a
    )
    SELECT a AS host, least(a, min(b)) AS canonical_host,
           (a = least(a, min(b))) AS is_canonical
    FROM reach GROUP BY a
"""


_DUST_RULE_ORACLE = f"""
    WITH {_DUST_PAGES_SQL}
    SELECT host, param, support, counterexamples,
           (support >= 3 AND counterexamples = 0) AS is_rule
    FROM drollup
"""

_DUST_APPLY_ORACLE = f"""
    WITH {_DUST_PAGES_SQL},
    dhostrules AS (
      SELECT host, list_sort(list(DISTINCT param)) AS dropl
      FROM drollup WHERE support >= 3 AND counterexamples = 0
      GROUP BY host
    )
    SELECT url,
           CASE WHEN ps IS NULL OR dropl IS NULL THEN url
                WHEN len(survivors) > 0
                  THEN base || '?' || array_to_string(survivors, '&')
                ELSE base END AS canonical_url
    FROM (
      SELECT u.url, u.ps, u.base, r.dropl,
             list_filter(u.ps, kv -> NOT coalesce(
               list_contains(r.dropl, split_part(kv, '=', 1)), false))
               AS survivors
      FROM (SELECT DISTINCT url, ps, base, host FROM dqs) u
      LEFT JOIN dhostrules r USING (host)
    )
"""


def _zorder_oracle() -> str:
    """Morton bit-interleave re-derived in closed-form SQL: bit i of the
    x rank lands at output bit 2i, of the y rank at 2i+1 — the same
    shift/mask/add algebra lake.zorder_value builds as Spark columns, so
    the frontier-layout clustering key is engine-exact."""

    def ileave(expr: str, offset: int) -> str:
        return " + ".join(
            f"((({expr}) >> {i}) & 1) * {1 << (2 * i + offset)}"
            for i in range(8)
        )

    return f"""
    SELECT p_partkey AS k,
           (({ileave('p_partkey % 256', 0)})
            + ({ileave('(p_partkey // 7) % 256', 1)}))::BIGINT AS zv
    FROM part
    """


_CRAWL_URL_ORACLE = (
    """
    SELECT 'link_filter' AS kernel, p_partkey AS key, href AS url, canonical,
           is_bad_scheme AS flag_a, is_same_domain AS flag_b,
           is_excluded AS flag_c,
           CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
           CAST(NULL AS BIGINT) AS priority, CAST(NULL AS BIGINT) AS rank,
           CAST(NULL AS VARCHAR) AS provider, CAST(NULL AS VARCHAR) AS label
    FROM ("""
    + _LINK_FILTER_ORACLE
    + """)
    UNION ALL
    SELECT 'robots_gate', p_partkey, url, NULL, is_blocked, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM ("""
    + _ROBOTS_GATE_ORACLE
    + """)
    UNION ALL
    SELECT 'map_url', p_partkey, map_url, NULL, NULL, NULL, NULL,
           lat::DOUBLE, lon::DOUBLE, NULL, NULL, NULL, NULL
    FROM ("""
    + _MAP_URL_ORACLE
    + """)
    UNION ALL
    SELECT CASE kind WHEN 'iframe' THEN 'map_iframe' ELSE 'map_link' END,
           k, src, NULL, coords_found, NULL, NULL,
           lat::DOUBLE, lon::DOUBLE, NULL, ord::BIGINT, provider, label
    FROM ("""
    + _MAP_DETECT_ORACLE
    + """)
    UNION ALL
    SELECT 'map_dataattr', k, NULL, NULL, NULL, NULL, NULL,
           lat::DOUBLE, lon::DOUBLE, NULL, ord::BIGINT, NULL, label
    FROM ("""
    + _MAP_DATAATTR_ORACLE
    + """)
    UNION ALL
    SELECT 'robots_txt', k, value, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, ord::BIGINT, NULL, kind
    FROM ("""
    + _ROBOTS_TXT_ORACLE
    + """)
    UNION ALL
    SELECT 'discover', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           priority, rank, NULL, NULL
    FROM ("""
    + _LINK_DISCOVERY_ORACLE
    + """)
    UNION ALL
    SELECT 'doc_route', k, url, NULL, is_pdf, is_doc, is_home, NULL, NULL,
           NULL, NULL, NULL, NULL
    FROM ("""
    + _DOC_ROUTE_ORACLE
    + """)
    UNION ALL
    SELECT 'pagerank', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           priority, rank, NULL, NULL
    FROM ("""
    + _pagerank_oracle()
    + """)
    UNION ALL
    SELECT 'trustrank', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           priority, rank, NULL, NULL
    FROM ("""
    + _trustrank_oracle()
    + """)
    UNION ALL
    SELECT 'opic', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           priority, rank, NULL, NULL
    FROM ("""
    + _opic_oracle()
    + """)
    UNION ALL
    SELECT 'ip_budget', k, url, polite_key, NULL, NULL, NULL, NULL, NULL,
           ip_rank, NULL, NULL, seed_host
    FROM ("""
    + _IP_BUDGET_ORACLE
    + """)
    UNION ALL
    SELECT 'anchor_text', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           priority, NULL, NULL, label
    FROM ("""
    + _ANCHOR_ORACLE
    + """)
    UNION ALL
    SELECT 'recrawl', k, url, NULL, due, NULL, NULL, NULL, NULL,
           priority, n_changes, CAST(n_visits AS VARCHAR),
           CAST(next_due AS VARCHAR)
    FROM ("""
    + _RECRAWL_ORACLE
    + """)
    UNION ALL
    SELECT 'trap', k, url, NULL, is_trap, NULL, NULL, NULL, NULL,
           n_urls, n_templates, CAST(top_template_urls AS VARCHAR),
           top_template
    FROM ("""
    + _TRAP_ORACLE
    + """)
    UNION ALL
    SELECT 'hits', k, url, NULL, NULL, NULL, NULL, NULL, NULL,
           auth_int, hub_int, NULL, NULL
    FROM ("""
    + _hits_oracle()
    + """)
    UNION ALL
    SELECT 'redirect', k, url, final_url, is_loop, NULL, NULL, NULL, NULL,
           n_hops, NULL, NULL, NULL
    FROM ("""
    + _redirect_oracle()
    + """)
    UNION ALL
    SELECT 'warc', k, target_uri, body_md5, len_ok,
           warc_type = 'conversion', NULL, NULL, NULL,
           content_length, record_ord, warc_type, warc_date
    FROM ("""
    + _WET_ORACLE
    + """)
    UNION ALL
    SELECT 'warc_http', k, target_uri, payload_md5, len_ok,
           http_status = 200, NULL, NULL, NULL,
           http_status, record_ord, http_content_type, warc_type
    FROM ("""
    + _WARC_HTTP_ORACLE
    + """)
    UNION ALL
    SELECT 'mirror', shared, host_a, host_b, is_mirror, NULL, NULL,
           NULL, NULL, jaccard_micro, NULL, NULL, NULL
    FROM ("""
    + _MIRROR_ORACLE
    + """)
    UNION ALL
    SELECT 'mirror_cluster', NULL, host, canonical_host, is_canonical,
           NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
    FROM ("""
    + _MIRROR_CLUSTER_ORACLE
    + """)
    UNION ALL
    SELECT 'dust_rule', NULL, host, param, is_rule, NULL, NULL,
           NULL, NULL, support, counterexamples, NULL, NULL
    FROM ("""
    + _DUST_RULE_ORACLE
    + """)
    UNION ALL
    SELECT 'dust_apply', NULL, url, canonical_url, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL, NULL
    FROM ("""
    + _DUST_APPLY_ORACLE
    + """)
    UNION ALL
    SELECT 'zorder', k, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, zv, (zv >> 12)::BIGINT, NULL, NULL
    FROM ("""
    + _zorder_oracle()
    + """)
    """
)


_CRAWL_URL_SCHEMA = {
    "kernel": "string", "key": "long", "url": "string", "canonical": "string",
    "flag_a": "boolean", "flag_b": "boolean", "flag_c": "boolean",
    "lat": "double", "lon": "double", "priority": "long", "rank": "long",
    "provider": "string", "label": "string",
}


@query("crawl_url_kernels", oracle=_CRAWL_URL_ORACLE)
def q_crawl_url_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5 + S4/J2 + X14 + the link-explorer discovery pipeline as one
    tagged union: the link-filter pipeline (bad schemes / same-domain /
    canonicalization / exclusion), the robots gate (broadcast per-host
    rules, permissive on failed fetch), the map-URL coordinate cascade,
    discoverLocationPages (high-value path seeding + keyword link gate +
    stable 6-pattern priority sort + top-10 slice), the document-type
    routing predicates (isPdfUrl / isDocumentUrl / isHomepage), the
    host-graph PageRank authority prior (integer fixed-point, 5
    iterations — the 10^10-URL scale extension of the static priority
    tiers), OPIC on-line importance (host_opic: cash/history with
    virtual-page dangling recycling over a dangling-augmented fixture),
    Mercator server-level politeness (budget_by_ip: vhosts sharing a
    resolved IP share ONE wave budget, unresolved hosts fall back to
    per-host keys), HITS hubs/authorities over the same edge fixture, the
    per-target anchor-text rollup (bounded distinct-cap
    formulation), Cho-style re-crawl scheduling (change-rate estimate
    from fingerprint transitions → integer freshness priority + due flag),
    crawl-trap detection (per-host URL-template explosion test),
    redirect-chain resolution (pointer-doubling to the terminal URL with
    ERR_TOO_MANY_REDIRECTS loop flagging), and WET crawl-archive record
    parsing (sources/warc.py — Content-Length framing validated as the
    len_ok flag) — plus Bharat–Broder mirror-host detection
    (operators/frontier.py:detect_mirror_hosts over a planted
    exact-mirror / partial-mirror / boilerplate-parking-page fixture) —
    each over its dedicated fixture."""
    from web_crawler_spark import lake as LK
    from web_crawler_spark.operators import frontier as FR

    S = _CRAWL_URL_SCHEMA
    mirror_pairs = FR.detect_mirror_hosts(
        _mirror_rows(spark, sf_dir), "host", "fp",
        max_fp_hosts=10, min_shared=2,
    )
    mirror_clusters = D.connected_min(
        mirror_pairs.filter(F.col("is_mirror")).select(
            F.col("host_a").alias("a"), F.col("host_b").alias("b"))
    )
    dust_pages = _dust_rows(spark, sf_dir)
    dust_rules = FR.mine_param_rules(dust_pages, "url", "fp", min_support=3)
    dust_applied = FR.apply_param_rules(
        dust_pages.select("url").distinct(), dust_rules
    )
    # frontier z-order layout key (lake.zorder_value — the clustering key
    # zorder compaction range-partitions by): Morton interleave of two
    # closed-form 8-bit ranks, plus the 16-way file bucket it implies
    # (zv >> 12); the oracle re-derives the identical bit algebra in SQL
    zsrc = load(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("key"),
        (F.col("p_partkey") % 256).cast("long").alias("_zx"),
        ((F.col("p_partkey") / 7).cast("long") % 256).alias("_zy"),
    )
    zv = LK.zorder_value([F.col("_zx"), F.col("_zy")], bits=8)
    return reduce(DataFrame.unionByName, [
        _arm(_link_filter_rows(spark, sf_dir), S, "link_filter",
             key="p_partkey", url="href", canonical="canonical",
             flag_a="is_bad_scheme", flag_b="is_same_domain",
             flag_c="is_excluded"),
        _arm(_robots_gate_rows(spark, sf_dir), S, "robots_gate",
             key="p_partkey", url="url", flag_a="is_blocked"),
        _arm(_map_url_rows(spark, sf_dir), S, "map_url",
             key="p_partkey", url="map_url", lat="lat", lon="lon"),
        _arm(_map_detect_rows(spark, sf_dir), S,
             F.when(F.col("kind") == "iframe", F.lit("map_iframe"))
             .otherwise(F.lit("map_link")),
             key="k", url="src", flag_a="coords_found", lat="lat",
             lon="lon", rank="ord", provider="provider", label="label"),
        _arm(_map_dataattr_rows(spark, sf_dir), S, "map_dataattr",
             key="k", lat="lat", lon="lon", rank="ord", label="label"),
        _arm(_robots_txt_rows(spark, sf_dir), S, "robots_txt",
             key="k", url="value", rank="ord", label="kind"),
        _arm(_link_discovery_rows(spark, sf_dir), S, "discover",
             key=F.regexp_extract("sourceUrl", r"home-(\d+)$", 1),
             url="url", priority="priority", rank="rank"),
        _arm(_doc_route_rows(spark, sf_dir), S, "doc_route",
             key="p_partkey", url="url", flag_a="is_pdf", flag_b="is_doc",
             flag_c="is_home"),
        _arm(_pagerank_rows(spark, sf_dir), S, "pagerank",
             key="k", url="url", priority="priority", rank="rank"),
        _arm(_anchor_text_rows(spark, sf_dir), S, "anchor_text",
             key="k", url="url", priority="priority", label="label"),
        _arm(_recrawl_rows(spark, sf_dir), S, "recrawl",
             key="k", url="url", flag_a="due", priority="priority",
             rank="n_changes", provider="n_visits", label="next_due"),
        _arm(_trap_rows(spark, sf_dir), S, "trap",
             key="k", url="url", flag_a="is_trap", priority="n_urls",
             rank="n_templates", provider="top_template_urls",
             label="top_template"),
        _arm(_hits_rows(spark, sf_dir), S, "hits",
             key="k", url="url", priority="auth_int", rank="hub_int"),
        _arm(_redirect_rows(spark, sf_dir), S, "redirect",
             key="k", url="url", canonical="final_url", flag_a="is_loop",
             priority="n_hops"),
        _arm(_warc_rows(spark, sf_dir), S, "warc",
             key="k", url="target_uri", canonical=F.md5("body"),
             flag_a="len_ok", flag_b=F.col("warc_type") == "conversion",
             priority="content_length", rank="record_ord",
             provider="warc_type", label="warc_date"),
        _arm(_warc_http_rows(spark, sf_dir), S, "warc_http",
             key="k", url="target_uri", canonical="payload_md5",
             flag_a="len_ok", flag_b=F.col("http_status") == 200,
             priority="http_status", rank="record_ord",
             provider="http_content_type", label="warc_type"),
        _arm(_trustrank_rows(spark, sf_dir), S, "trustrank",
             key="k", url="url", priority="priority", rank="rank"),
        _arm(_opic_rows(spark, sf_dir), S, "opic",
             key="k", url="url", priority="priority", rank="rank"),
        _arm(_ip_budget_rows(spark, sf_dir), S, "ip_budget",
             key="k", url="url", canonical="polite_key",
             priority="ip_rank", label="seed_host"),
        _arm(mirror_pairs, S, "mirror",
             key="shared", url="host_a", canonical="host_b",
             flag_a="is_mirror", priority="jaccard_micro"),
        _arm(mirror_clusters, S, "mirror_cluster",
             url="node", canonical="component",
             flag_a=F.col("node") == F.col("component")),
        _arm(dust_rules, S, "dust_rule",
             url="host", canonical="param", flag_a="is_rule",
             priority="support", rank="counterexamples"),
        _arm(dust_applied, S, "dust_apply",
             url="url", canonical="canonical_url"),
        _arm(zsrc, S, "zorder",
             key="key", priority=zv, rank=F.shiftright(zv, 12)),
    ])


_PINS_ORACLE = (
    """
    SELECT c_custkey AS key, code, country
    FROM (SELECT c_custkey,
                 printf('%06d', 100000 + c_custkey % 899999) AS pi,
                 printf('%05d', 10000 + c_custkey % 89999) AS pz4,
                 printf('%05d', 20000 + c_custkey % 9999) AS pz
          FROM customer)
    CROSS JOIN LATERAL (VALUES
        (pi, 'india'),
        (concat(pz4, '-1234'), 'us'), (pz, 'us'),
        ('SW1 2AA', 'uk'), ('K1A 0B1', 'canada')) AS v(code, country)
    """
)


def _pins_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged PIN battery (advanced-extractor.service.js:22-27,393-406):
    one text per customer carrying an Indian 6-digit PIN (6 consecutive
    digits, so the US 5-digit pattern's word boundary rejects it), a US
    ZIP+4 (one greedy match, not ZIP + trailing digits), a plain ZIP, a
    UK postcode, and a Canadian postcode (which the UK pattern must NOT
    also claim). Expected codes are closed-form per key."""
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    z = lambda w, base, mod: F.format_string(f"%0{w}d", (F.lit(base) + k % mod).cast("int"))  # noqa: E731
    text = F.concat(
        F.lit("Dispatch PIN "), z(6, 100000, 899999),
        F.lit(", ZIP "), z(5, 10000, 89999), F.lit("-1234 or "),
        z(5, 20000, 9999), F.lit(", UK SW1 2AA, CA K1A 0B1."),
    )
    return c.select(
        k.alias("key"),
        F.explode(R.extract_pins(text)).alias("pin"),
    ).select("key", F.col("pin.code").alias("code"),
             F.col("pin.country").alias("country"))


_PLACE_DETAILS_ORACLE = f"""
    WITH ids AS (
      SELECT o_orderkey, concat('plc', o_orderkey % 40000) AS place_id
      FROM orders
    ), derived AS (
      SELECT *,
             {_H60.format(expr="concat('place-hit|', place_id)")} % 100 < 85 AS hit,
             concat('(', {_H60.format(expr="concat('place-area|', place_id)")} % 800 + 200,
                    ') 555-',
                    lpad(cast({_H60.format(expr="concat('place-line|', place_id)")} % 10000 AS VARCHAR), 4, '0')) AS phone_v,
             concat('https://www.place',
                    {_H60.format(expr="concat('place-web|', place_id)")} % 100000,
                    '.example.com') AS website_v,
             concat('Monday: 9:00 AM - ',
                    {_H60.format(expr="concat('place-close|', place_id)")} % 4 + 4,
                    ':00 PM; Saturday: Closed') AS hours_v,
             ({_H60.format(expr="concat('place-rate|', place_id)")} % 21 + 25) / 10.0 AS rating_v,
             concat(['establishment','point_of_interest','store','restaurant']
                    [cast({_H60.format(expr="concat('place-type|', place_id)")} % 4 AS int) + 1],
                    ',establishment') AS types_v
      FROM ids
    )
    SELECT o_orderkey, place_id,
           CASE WHEN hit THEN phone_v ELSE '' END AS phone,
           CASE WHEN hit THEN website_v ELSE '' END AS website,
           CASE WHEN hit THEN hours_v ELSE '' END AS hours,
           CASE WHEN hit THEN rating_v END AS rating,
           CASE WHEN hit THEN types_v ELSE '' END AS types,
           hit
    FROM derived
    """


def _place_details_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Place-details enrichment (multi-geocoding.service.js:166-203) over
    one synthesized place id per order; ~15% of ids miss the details
    lookup and keep the reference's empty-string defaults."""
    from web_crawler_spark.plans import enrich as EN

    o = load(spark, sf_dir, "orders")
    places = o.select(
        "o_orderkey",
        F.concat(F.lit("plc"), (F.col("o_orderkey") % 40000).cast("string"))
        .alias("place_id"),
    )
    return EN.place_details(places)


_RECORDS_KERNELS_ORACLE = (
    """
    SELECT 'levenshtein' AS kernel, c_custkey AS key, a AS s1, b AS s2,
           CAST(NULL AS VARCHAR) AS s3, CAST(NULL AS VARCHAR) AS s4,
           CAST(NULL AS VARCHAR) AS s5, CAST(NULL AS VARCHAR) AS s6,
           sim::DOUBLE AS d1, CAST(NULL AS DOUBLE) AS d2,
           CAST(NULL AS BOOLEAN) AS b1
    FROM ("""
    + _LEV_ORACLE
    + """)
    UNION ALL
    SELECT 'height', p_partkey, activity, NULL, NULL, NULL, NULL, NULL,
           height::DOUBLE, NULL, NULL
    FROM ("""
    + _HEIGHT_ORACLE
    + """)
    UNION ALL
    SELECT 'address_normalize', p_partkey, raw, normalized, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL
    FROM ("""
    + _addr_norm_oracle()
    + """)
    UNION ALL
    SELECT 'deterministic_ids', o_orderkey, row_id, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL
    FROM ("""
    + _DET_IDS_ORACLE
    + """)
    UNION ALL
    SELECT 'page_classify', p_partkey, url, page_type, NULL, NULL, NULL, NULL,
           confidence::DOUBLE, priority::DOUBLE, needs_js
    FROM ("""
    + _PAGE_CLASSIFY_ORACLE
    + """)
    UNION ALL
    SELECT 'hours_web_social', s_suppkey, hours, websites, facebook, twitter,
           linkedin, instagram, NULL, NULL, NULL
    FROM ("""
    + _HOURS_SOCIAL_ORACLE
    + """)
    UNION ALL
    SELECT 'place_details', o_orderkey, place_id, phone, website, hours,
           types, NULL, rating::DOUBLE, NULL, hit
    FROM ("""
    + _PLACE_DETAILS_ORACLE
    + """)
    UNION ALL
    SELECT 'line_caps', s_suppkey, NULL, NULL, NULL, NULL, NULL, NULL,
           lines_scanned::DOUBLE, distinct_matches::DOUBLE, NULL
    FROM ("""
    + _LINE_CAPS_ORACLE
    + """)
    UNION ALL
    SELECT 'pins', key, code, country, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL
    FROM ("""
    + _PINS_ORACLE
    + """)
    UNION ALL
    SELECT 'footprint_wkt', s_suppkey, footprint, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL
    FROM ("""
    + _FOOTPRINT_ORACLE
    + """)
    UNION ALL
    SELECT 'phone_postal_format', o_orderkey, phone, postal, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL
    FROM ("""
    + _PHONE_POSTAL_ORACLE
    + """)
    UNION ALL
    SELECT 'activity_classify', p_partkey, descr, activity, NULL, NULL,
           NULL, NULL, height_m, NULL, NULL
    FROM ("""
    + _ACTIVITY_ORACLE
    + """)
    """
)


_RECORDS_KERNELS_SCHEMA = {
    "kernel": "string", "key": "long",
    "s1": "string", "s2": "string", "s3": "string",
    "s4": "string", "s5": "string", "s6": "string",
    "d1": "double", "d2": "double", "b1": "boolean",
}


@query("records_kernels", oracle=_RECORDS_KERNELS_ORACLE)
def q_records_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 (levenshtein similarity) + X12 (height estimator) + X6 (canonical
    address formatter) + X29/X30 (deterministic row ids) + X21/X22 (needs-JS
    heuristic + page classifier) + X28 (hours/websites/social batteries) +
    W9/W10 (line/match caps) + the tagged per-country PIN battery + X13
    (footprint WKT) + X5/X7 (phone/ZIP formatters) + X11/X12 (activity
    classifier + height) as one tagged union over their dedicated
    fixtures. Generic columns: s1-s6 strings, d1/d2 doubles, b1 boolean —
    every kernel output still flows into the driver's value hash."""
    S = _RECORDS_KERNELS_SCHEMA
    return reduce(DataFrame.unionByName, [
        _arm(_levenshtein_rows(spark, sf_dir), S, "levenshtein",
             key="c_custkey", s1="a", s2="b", d1="sim"),
        _arm(_height_rows(spark, sf_dir), S, "height",
             key="p_partkey", s1="activity", d1="height"),
        _arm(_address_normalize_rows(spark, sf_dir), S, "address_normalize",
             key="p_partkey", s1="raw", s2="normalized"),
        _arm(_det_ids_rows(spark, sf_dir), S, "deterministic_ids",
             key="o_orderkey", s1="row_id"),
        _arm(_page_classify_rows(spark, sf_dir), S, "page_classify",
             key="p_partkey", s1="url", s2="page_type", d1="confidence",
             d2="priority", b1="needs_js"),
        _arm(_hours_social_rows(spark, sf_dir), S, "hours_web_social",
             key="s_suppkey", s1="hours", s2="websites", s3="facebook",
             s4="twitter", s5="linkedin", s6="instagram"),
        _arm(_place_details_rows(spark, sf_dir), S, "place_details",
             key="o_orderkey", s1="place_id", s2="pd_phone",
             s3="pd_website", s4="pd_hours", s5="pd_types", d1="pd_rating",
             b1="pd_hit"),
        _arm(_line_caps_rows(spark, sf_dir), S, "line_caps",
             key="s_suppkey", d1="lines_scanned", d2="distinct_matches"),
        _arm(_pins_rows(spark, sf_dir), S, "pins",
             key="key", s1="code", s2="country"),
        _arm(_footprint_rows(spark, sf_dir), S, "footprint_wkt",
             key="s_suppkey", s1="footprint"),
        _arm(_phone_postal_rows(spark, sf_dir), S, "phone_postal_format",
             key="o_orderkey", s1="phone", s2="postal"),
        _arm(_activity_rows(spark, sf_dir), S, "activity_classify",
             key="p_partkey", s1="descr", s2="activity", d1="height_m"),
    ])


# ---- media: image resize + audio features + video frame sampling ---------
from web_crawler_spark.analytics.golden import GOLDEN_ORACLES as _GOLDEN  # noqa: E402

_VIDEO_FRAMES_ORACLE = """
    WITH v AS (
      SELECT i, 2 + i % 5 AS nf, 8 + (i % 3) * 4 AS fh, 6 + (i % 2) * 4 AS fw
      FROM generate_series(0, 39) t(i)
    )
    SELECT printf('vid_%06d', i) AS media_id,
           unnest(list_filter(generate_series(0, nf - 1), x -> x % 2 = 0))
             AS frame_idx,
           fw AS w, fh AS h, true AS decode_ok
    FROM v WHERE i % 9 <> 0
    UNION ALL
    SELECT printf('vid_%06d', i), NULL, NULL, NULL, false
    FROM v WHERE i % 9 = 0
    """

_MEDIA_FEATURES_ORACLE = (
    """
    SELECT 'image_resize' AS kernel, image_id AS media_id,
           CAST(NULL AS BIGINT) AS frame_idx, w::BIGINT AS w, h::BIGINT AS h,
           fmt, CAST(NULL AS DOUBLE) AS duration_s, CAST(NULL AS DOUBLE) AS rms,
           CAST(NULL AS BIGINT) AS zero_crossings, decode_ok
    FROM ("""
    + _IMAGE_RESIZE_ORACLE
    + """)
    UNION ALL
    SELECT 'audio', audio_id, NULL, NULL, NULL, NULL,
           duration_s::DOUBLE, rms::DOUBLE, zero_crossings::BIGINT, decode_ok
    FROM ("""
    + _GOLDEN["audio_features"]
    + """)
    UNION ALL
    SELECT 'video', media_id, frame_idx::BIGINT, w::BIGINT, h::BIGINT,
           CASE WHEN decode_ok THEN 'png' END,
           NULL, NULL, NULL, decode_ok
    FROM ("""
    + _VIDEO_FRAMES_ORACLE
    + """)
    """
)


def _video_frames_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: deterministic MINIVID capsules — 2+i%5 frames of
    (8+(i%3)*4) x (6+(i%2)*4) px, every 9th id poisoned with a non-video
    payload — through the frame-sampling UDTF (media.sample_frames,
    every_n=2). Frame dims/counts are closed-form, so the oracle derives
    the expected (id, frame_idx, w, h, decode_ok) envelope in SQL; pixel
    round-trip correctness is unit-tested in tests/test_media.py."""
    import pandas as pd

    from web_crawler_spark import media as M

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 9 == 0:
                    rows.append((f"vid_{i:06d}", b"NOTAVIDEO"))
                else:
                    nf = 2 + i % 5
                    fh = 8 + (i % 3) * 4
                    fw = 6 + (i % 2) * 4
                    frames = [
                        np.full((fh, fw, 3), (i * 13 + j * 7) % 256, np.uint8)
                        for j in range(nf)
                    ]
                    rows.append((f"vid_{i:06d}", M.encode_video(frames)))
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    videos = spark.range(40).mapInPandas(gen, "video_id string, bytes binary")
    return M.sample_frames(videos, every_n=2)


_MEDIA_FEATURES_SCHEMA = {
    "kernel": "string", "media_id": "string", "frame_idx": "long",
    "w": "long", "h": "long", "fmt": "string", "duration_s": "double",
    "rms": "double", "zero_crossings": "long", "decode_ok": "boolean",
}


@query("media_features", oracle=_MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal payload battery as one tagged union: image decode →
    16x16 nearest-neighbor resize → PNG re-encode envelope, per-clip audio
    features (duration/RMS/zero-crossings over PCM capsules; golden-pinned
    oracle — tools/pin_oracles.py), and video frame sampling (every 2nd
    frame of MINIVID capsules, poison rows yield decode_ok=false). All
    three run Arrow-batched mapInPandas over binary payload columns — the
    production plumbing shape for opaque media at scale."""
    S = _MEDIA_FEATURES_SCHEMA
    return reduce(DataFrame.unionByName, [
        _arm(_image_resize_rows(spark, sf_dir), S, "image_resize",
             media_id="image_id", w="w", h="h", fmt="fmt",
             decode_ok="decode_ok"),
        _arm(_audio_features_rows(spark, sf_dir), S, "audio",
             media_id="audio_id", duration_s="duration_s", rms="rms",
             zero_crossings="zero_crossings", decode_ok="decode_ok"),
        _arm(_video_frames_rows(spark, sf_dir), S, "video",
             media_id="video_id", frame_idx="frame_idx", w="w", h="h",
             fmt=F.when(F.col("decode_ok"), F.lit("png")),
             decode_ok="decode_ok"),
    ])


# --------------------------------------------------------------------------
# Pinned VALUES-literal oracles for the non-SQL-expressible queries
# (greedy/iterative/media ops). crawl_bfs_frontier's literal comes from the
# independent single-threaded Python oracle (web_crawler_spark/oracle.py);
# the rest are golden pins of deterministic output at sf0.01 — provenance
# documented in analytics/golden.py / tools/pin_oracles.py. Only keys with
# a live registry entry are installed (retired standalone queries keep
# their pins in golden.py as source literals for the consolidated oracles).
# --------------------------------------------------------------------------
_ORACLES.update({k: v for k, v in _GOLDEN.items() if k in _QUERIES})

# image_features composite: golden-pinned features arm (key
# ``image_features_agg``; the pre-rename key ``image_features`` is the
# bootstrap fallback so tools/pin_oracles.py can import this module to
# regenerate golden.py) + the closed-form curation arm.
_ORACLES["image_features"] = (
    """
    SELECT 'features' AS kernel, CAST(NULL AS VARCHAR) AS media_id, fmt,
           n::BIGINT AS l1, n_ok::BIGINT AS l2, CAST(NULL AS BIGINT) AS l3,
           avg_luma::DOUBLE AS d1, CAST(NULL AS BOOLEAN) AS b1,
           CAST(NULL AS VARCHAR) AS s1
    FROM ("""
    + _GOLDEN.get("image_features_agg", _GOLDEN.get("image_features", ""))
    + """)
    UNION ALL
    SELECT * FROM ("""
    + _CURATION_ORACLE
    + """)
    UNION ALL
    SELECT * FROM ("""
    + _bucket_oracle()
    + """)
    UNION ALL
    SELECT * FROM ("""
    + _shard_oracle()
    + """)
    UNION ALL
    SELECT 'psnr' AS kernel, CAST(NULL AS VARCHAR) AS media_id, fmt,
           n::BIGINT AS l1, n_ok::BIGINT AS l2, CAST(NULL AS BIGINT) AS l3,
           min_psnr::DOUBLE AS d1, (n = n_ok) AS b1,
           CAST(NULL AS VARCHAR) AS s1
    FROM ("""
    + _GOLDEN.get(
        "image_psnr_agg",
        # bootstrap fallback so tools/pin_oracles.py can import this module
        # before the pin exists; never executed with this placeholder
        "SELECT '' AS fmt, 0 AS n, 0 AS n_ok, 0.0 AS min_psnr WHERE 1 = 0",
    )
    + """)
    UNION ALL
    SELECT 'colorfulness' AS kernel, CAST(NULL AS VARCHAR) AS media_id, fmt,
           n::BIGINT AS l1, CAST(NULL AS BIGINT) AS l2,
           CAST(NULL AS BIGINT) AS l3, avg_color::DOUBLE AS d1,
           min_color > 0 AS b1, CAST(NULL AS VARCHAR) AS s1
    FROM ("""
    + _GOLDEN.get(
        "image_color_agg",
        "SELECT '' AS fmt, 0 AS n, 0.0 AS avg_color, 0.0 AS min_color "
        "WHERE 1 = 0",
    )
    + """)
    UNION ALL
    SELECT 'score_gate' AS kernel, printf('img_%06d', p_partkey) AS media_id,
           CAST(NULL AS VARCHAR) AS fmt, CAST(NULL AS BIGINT) AS l1,
           CAST(NULL AS BIGINT) AS l2, CAST(NULL AS BIGINT) AS l3,
           CASE WHEN p_partkey % 11 = 0 THEN NULL
                ELSE 3.0 + (p_partkey % 13) / 4.0 END AS d1,
           reason IS NULL AS b1, reason AS s1
    FROM (
      SELECT p_partkey,
             CASE
               WHEN p_partkey % 11 = 0 THEN 'missing_score'
               WHEN (p_partkey % 7) / 40.0 > 0.1 THEN 'nsfw'
               WHEN ((p_partkey // 3) % 5) / 7.0 > 0.5 THEN 'watermark'
               WHEN 3.0 + (p_partkey % 13) / 4.0 < 4.5 THEN 'low_aesthetic'
             END AS reason
      FROM part)
    UNION ALL
    SELECT 'caption_elect' AS kernel, media_id, CAST(NULL AS VARCHAR) AS fmt,
           n_members::BIGINT AS l1, n_captions::BIGINT AS l2,
           CAST(NULL AS BIGINT) AS l3, CAST(NULL AS DOUBLE) AS d1,
           is_rep AS b1, elected AS s1
    FROM (
      WITH m AS (
        SELECT p_partkey AS k,
               printf('img_%06d', p_partkey) AS media_id,
               CASE WHEN p_partkey % 5 <= 2 THEN p_partkey - (p_partkey % 5)
                    ELSE p_partkey END AS root,
               'c' || (p_partkey % 7) || repeat('!', p_partkey % 4) AS caption
        FROM part WHERE p_partkey BETWEEN 10 AND 160
      ),
      agg AS (
        SELECT root, count(*) AS n_members,
               count(DISTINCT caption) AS n_captions
        FROM m GROUP BY root
      ),
      el AS (
        SELECT root, caption AS elected,
               row_number() OVER (PARTITION BY root
                                  ORDER BY length(caption) DESC, caption)
                 AS rn
        FROM m
      )
      SELECT m.media_id, a.n_members, a.n_captions,
             m.k = m.root AS is_rep, e.elected
      FROM m
      JOIN agg a ON m.root = a.root
      JOIN el e ON e.root = m.root AND e.rn = 1
    )
    UNION ALL
    -- header: closed-form re-derivation of the planted-corruption payload
    -- audit (images.header_audit over synthesize_images(120)): row ids and
    -- formats from the synthesizer's moduli (jpeg iff i % 4 = 0, plus a
    -- jpeg '_dup' sibling per i % 10 = 0), corruption classes from the
    -- query's planted moduli (trunc i % 10 = 3, badmagic i % 10 = 7 —
    -- both odd, so they never hit a lossy row or a dup). Clean rows parse
    -- header dims equal to metadata (deltas 0; png IHDR bit_depth 8 /
    -- color_type 2 -> 802), truncated rows keep the signature (sniff
    -- 'png') but cannot prove dims, zeroed-magic rows sniff NULL.
    SELECT 'header' AS kernel, media_id, fmt,
           CASE WHEN cls = 'clean' THEN 0 END::BIGINT AS l1,
           CASE WHEN cls = 'clean' THEN 0 END::BIGINT AS l2,
           CASE WHEN cls = 'clean' AND fmt = 'png' THEN 802 END::BIGINT AS l3,
           CAST(NULL AS DOUBLE) AS d1,
           (cls = 'clean') AS b1,
           CASE WHEN cls = 'badmagic' THEN NULL
                WHEN fmt = 'png' THEN 'png' ELSE 'lossy' END AS s1
    FROM (
      SELECT media_id, is_dup,
             CASE WHEN is_dup OR i % 4 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
             CASE WHEN NOT is_dup AND i % 10 = 3 THEN 'trunc'
                  WHEN NOT is_dup AND i % 10 = 7 THEN 'badmagic'
                  ELSE 'clean' END AS cls
      FROM (
        SELECT i::BIGINT AS i, printf('img_%012d', i) AS media_id,
               FALSE AS is_dup
        FROM range(120) t(i)
        UNION ALL
        SELECT i::BIGINT, printf('img_%012d_dup', i), TRUE
        FROM range(120) t(i) WHERE i % 10 = 0
      )
    )
    """
)

# quality_report's 'funnel' arm is appended here because its SQL reuses the
# corpus fragments (_NORM_SQL/_TOKS_SQL/_STOPS_SQL) defined mid-module,
# after the @query decoration ran (same assembly pattern as image_features).
_BL_COND_SQL = (
    f"len(list_filter(list_distinct(toks), x -> "
    f"list_contains({_BL_WORDS_SQL}, x))) = 0"
    + "".join(
        f" AND NOT contains(' ' || nrm || ' ', ' {p} ')"
        for p in sorted(TX.BLOCKLIST_PHRASES)
    )
)

_ORACLES["quality_report"] = (
    _ORACLES["quality_report"]
    + f"""
    UNION ALL
    SELECT * FROM (
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks,
             {_NORM_SQL.format(col='text')} AS nrm,
             length({_NORM_SQL.format(col='text')}) AS nl,
             length(text) AS n,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1) AS ascii_ratio,
             md5({_NORM_SQL.format(col='text')}) AS fp,
             regexp_extract_all(text, '\\S+') AS gtoks,
             length(regexp_replace(text, '\\s', '', 'g')) AS gsum,
             length(text) - length(replace(text, '#', '')) AS ghash,
             len(regexp_extract_all(text, '\\.\\.\\.')) AS gell,
             string_split(text, chr(10)) AS glines
      FROM documents
    ),
    m AS (
      SELECT doc_id, nl, fp, n, ascii_ratio,
             (len(gtoks) >= 50 AND len(gtoks) <= 100000
              AND 3 * len(gtoks) <= gsum AND gsum <= 10 * len(gtoks)
              AND 10 * (ghash + gell) <= len(gtoks)
              AND 10 * len(list_filter(glines, l ->
                    starts_with(ltrim(l), '•') OR starts_with(ltrim(l), '- ')
                    OR starts_with(ltrim(l), '* '))) <= len(glines)
              AND 10 * len(list_filter(glines, l ->
                    ends_with(rtrim(l), '...'))) <= 3 * len(glines)
              AND 5 * len(list_filter(gtoks, w ->
                    regexp_matches(w, '[A-Za-z]'))) >= 4 * len(gtoks)
              AND len(list_intersect(
                    list_distinct(list_transform(gtoks, w -> lower(w))),
                    ['the','be','to','of','and','that','have','with'])) >= 1)
               AS gq_keep,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE / len(toks)
             ELSE 0.0 END AS sw_ratio,
             CASE WHEN n > 0 THEN n_punct::DOUBLE / n ELSE 0.0 END AS p_ratio,
             ({_BL_COND_SQL}) AS bl_keep,
             toks
      FROM t
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(toks) - 1, 1)),
        i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM t
    ),
    r2 AS (
      SELECT doc_id, n * l AS top_chars FROM (
        SELECT doc_id, count(*) AS n, length(g) AS l,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, g) AS rn
        FROM g2 GROUP BY doc_id, g
      ) WHERE rn = 1
    ),
    f AS (
      SELECT m.doc_id, m.fp,
             (m.sw_ratio >= 0.05 AND m.ascii_ratio >= 0.9) AS s1,
             (m.sw_ratio >= 0.05 AND m.ascii_ratio >= 0.9
              AND m.bl_keep) AS s1b,
             (m.sw_ratio >= 0.05 AND m.ascii_ratio >= 0.9 AND m.bl_keep
              AND (CASE WHEN m.n BETWEEN 200 AND 5000 THEN 40 ELSE 0 END
                   + CASE WHEN m.sw_ratio BETWEEN 0.05 AND 0.6 THEN 30 ELSE 0 END
                   + CASE WHEN m.p_ratio < 0.2 THEN 30 ELSE 0 END) >= 70) AS s2,
             (m.sw_ratio >= 0.05 AND m.ascii_ratio >= 0.9 AND m.bl_keep
              AND (CASE WHEN m.n BETWEEN 200 AND 5000 THEN 40 ELSE 0 END
                   + CASE WHEN m.sw_ratio BETWEEN 0.05 AND 0.6 THEN 30 ELSE 0 END
                   + CASE WHEN m.p_ratio < 0.2 THEN 30 ELSE 0 END) >= 70
              AND r2.top_chars::DOUBLE / greatest(m.nl, 1) <= 0.2) AS s3,
             (m.sw_ratio >= 0.05 AND m.ascii_ratio >= 0.9 AND m.bl_keep
              AND (CASE WHEN m.n BETWEEN 200 AND 5000 THEN 40 ELSE 0 END
                   + CASE WHEN m.sw_ratio BETWEEN 0.05 AND 0.6 THEN 30 ELSE 0 END
                   + CASE WHEN m.p_ratio < 0.2 THEN 30 ELSE 0 END) >= 70
              AND r2.top_chars::DOUBLE / greatest(m.nl, 1) <= 0.2
              AND m.gq_keep) AS s4
      FROM m JOIN r2 USING (doc_id)
    ),
    tot AS (
      SELECT count(*) AS n_input,
             count(*) FILTER (WHERE s1) AS n_lang,
             count(*) FILTER (WHERE s1b) AS n_blocklist,
             count(*) FILTER (WHERE s2) AS n_quality,
             count(*) FILTER (WHERE s3) AS n_gopher,
             count(*) FILTER (WHERE s4) AS n_gopher_rules
      FROM f
    ),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM f WHERE s4
      ) WHERE rn = 1
    ),
    spl AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS sp
      FROM surv
    )
    SELECT 'funnel' AS report, 'input' AS band, n_input AS n, 100.0 AS pct FROM tot
    UNION ALL
    SELECT 'funnel', 'lang', n_lang, round(100.0 * n_lang / n_input, 4) FROM tot
    UNION ALL
    SELECT 'funnel', 'blocklist', n_blocklist,
           round(100.0 * n_blocklist / n_input, 4) FROM tot
    UNION ALL
    SELECT 'funnel', 'quality', n_quality, round(100.0 * n_quality / n_input, 4) FROM tot
    UNION ALL
    SELECT 'funnel', 'gopher', n_gopher, round(100.0 * n_gopher / n_input, 4) FROM tot
    UNION ALL
    SELECT 'funnel', 'gopher_rules', n_gopher_rules,
           round(100.0 * n_gopher_rules / n_input, 4) FROM tot
    UNION ALL
    SELECT 'funnel', 'exact_dedup', count(*),
           round(100.0 * count(*) / (SELECT n_input FROM tot), 4) FROM surv
    UNION ALL
    SELECT 'funnel', 'split_' || sp, count(*),
           round(100.0 * count(*) / (SELECT n_input FROM tot), 4)
    FROM spl GROUP BY sp
    )
    UNION ALL
    -- tokens_quantiles: exact type-1 per-language token-count percentiles,
    -- same histogram + running-count construction as exact_quantiles
    -- (quantile p = element at 0-based index floor(p*(n-1)))
    SELECT 'tokens_quantiles' AS report,
           lang || ':p' || (round(p * 100))::INT::VARCHAR AS band,
           v::BIGINT AS n, (p * 100)::DOUBLE AS pct
    FROM (
      SELECT lang, p, v
      FROM (
        SELECT lang, v, c,
               sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY lang) AS nn
        FROM (
          SELECT lang, len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS v, count(*) AS c
          FROM documents GROUP BY 1, 2
        )
      ), (SELECT unnest([0.5, 0.9, 0.99]) AS p)
      WHERE floor(p * (nn - 1)) >= cum - c AND floor(p * (nn - 1)) < cum
    )
"""
)
