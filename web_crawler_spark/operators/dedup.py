"""Deduplication operators: exact, canonical-merge, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine, and phash near-dup.

The reference deduplicates three ways — exact-key first-wins Maps
(heuristic-extractor.service.js:222-240, A1), best-wins info-score Maps
(location-extractor.service.js:505-528, A2), canonical-key merge
(address-normalizer.service.js:235-335, A3), and a greedy O(n²) fuzzy pass
at threshold 0.85 (enhanced-deduplication.service.js:7-42, A4/J4). This
module re-expresses those as shuffle-efficient Spark plans and extends
them with the sketch-based near-dup family a 100 TB training-data corpus
needs (MinHash+LSH, SimHash, embedding cosine, image phash).

Scale design, uniformly: never an O(n²) cross join. Every near-dup
operator maps each row to a small set of *candidate keys* (LSH band,
simhash block, geo cell, phash band), shuffles once on the key, and
compares only within buckets. That keeps work ~linear in rows for
realistic duplicate densities and is exactly the set-similarity-join
literature's blocking construction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_crawler_spark.functions import text as TX
from web_crawler_spark.operators import similarity as SIM
from web_crawler_spark.session import local_df


# ------------------------------------------------------------- exact (A1/A2)
def dedup_first_wins(df: DataFrame, key: Column | str, order: Column | str) -> DataFrame:
    """A1: keep the first row per key in a deterministic ingest order.

    Spark's dropDuplicates keeps an *arbitrary* row; first-wins parity with
    the reference's Map requires the explicit ranking window.
    """
    k = F.col(key) if isinstance(key, str) else key
    o = F.col(order) if isinstance(order, str) else order
    w = Window.partitionBy(k).orderBy(o.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_best_wins(
    df: DataFrame, key: Column | str, score: Column | str, tiebreak: Column | str
) -> DataFrame:
    """A2: keep the highest-scoring row per key (ties → earliest ingest)."""
    k = F.col(key) if isinstance(key, str) else key
    s = F.col(score) if isinstance(score, str) else score
    t = F.col(tiebreak) if isinstance(tiebreak, str) else tiebreak
    w = Window.partitionBy(k).orderBy(s.desc(), t.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stratified_sample(
    df: DataFrame,
    key: Column | str,
    stratum: Column | str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
    flags_only: bool = False,
) -> DataFrame:
    """Deterministic stratified (per-stratum hash-Bernoulli) sampling —
    the corpus-mixing step of a training-data pipeline (upsample scarce
    languages/sources, downsample dominant ones).

    Each row draws a bucket in [0, 10000) from md5 of its key (so the
    draw is stable under corpus growth, re-partitioning, and reruns —
    never ``rand()``) and is kept iff bucket < rate(stratum) × 10000.
    Appends ``sample_bucket`` / ``sample_rate`` and filters to the kept
    rows (or returns all rows with a ``sample_keep`` flag when
    ``flags_only``). Pure codegen column algebra; rates ride the plan as
    a literal CASE — strata counts are small by construction (languages,
    sources), so no join is needed."""
    k = F.col(key) if isinstance(key, str) else key
    s = F.col(stratum) if isinstance(stratum, str) else stratum
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), k.cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("int") % 10000
    )
    rate: Column = F.lit(float(default_rate))
    for name, r in sorted(rates.items()):
        rate = F.when(s == name, F.lit(float(r))).otherwise(rate)
    out = df.select(
        "*",
        bucket.cast("long").alias("sample_bucket"),
        rate.cast("double").alias("sample_rate"),
    )
    keep = F.col("sample_bucket") < F.col("sample_rate") * 10000
    if flags_only:
        return out.withColumn("sample_keep", keep)
    return out.filter(keep)


def unimax_allocation(
    sizes: list[tuple[str, int]], budget: int, max_epochs: int
) -> dict[str, int]:
    """UniMax budget allocation (Chung et al. 2023): iterate strata
    ASCENDING by size, give each the remaining budget split evenly over
    the strata left, capped at ``max_epochs`` passes over the stratum —
    small languages never repeat past the epoch cap, large ones absorb
    the slack. Pure integer arithmetic (floor division), tie-broken by
    stratum name, so the allocation is engine- and platform-exact.
    Leftover budget (everything capped) simply goes unspent, as in the
    paper. Returns {stratum: allocated example count}."""
    order = sorted(sizes, key=lambda kv: (kv[1], kv[0]))
    n = len(order)
    remaining = int(budget)
    allocs: dict[str, int] = {}
    for i, (name, sz) in enumerate(order):
        alloc = min(int(max_epochs) * int(sz), remaining // (n - i))
        allocs[name] = alloc
        remaining -= alloc
    return allocs


def unimax_sample(
    df: DataFrame,
    stratum: str = "lang",
    key: str = "doc_id",
    budget: int = 0,
    max_epochs: int = 1,
    salt: str = "unimax",
    flags_only: bool = False,
) -> DataFrame:
    """UniMax corpus mixing (Chung et al. 2023) as a deterministic
    sampling operator: compute the per-stratum allocation with
    :func:`unimax_allocation`, then realize it per row as a COPY COUNT —
    ``alloc div size`` full epochs for every row plus one extra copy for
    the hash-selected fraction ``alloc mod size`` (the same md5-bucket
    draw as :func:`stratified_sample`, so membership is stable under
    corpus growth, re-partitioning, and reruns). Downsampling is
    copies ∈ {0,1}; upsampling epochs emerge naturally as copies ≥ 2.

    Plan shape: one map-side-combinable groupBy(stratum) count collected
    as #strata rows (languages — metadata, not corpus), the allocation
    loop runs on the driver, and the decision returns to the plan as a
    literal CASE — zero joins, pure codegen column algebra over the
    corpus. Appends ``unimax_bucket`` / ``unimax_alloc`` /
    ``unimax_copies`` and filters to copies ≥ 1 (or keeps every row when
    ``flags_only``)."""
    sizes = [
        (r["_s"], r["_n"])
        for r in df.groupBy(F.col(stratum).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    ]
    allocs = unimax_allocation(sizes, budget, max_epochs)
    szmap = dict(sizes)
    s = F.col(stratum)
    alloc_col: Column = F.lit(0).cast("long")
    sz_col: Column = F.lit(1).cast("long")
    for name in sorted(allocs):
        alloc_col = F.when(s == name, F.lit(allocs[name])).otherwise(alloc_col)
        sz_col = F.when(s == name, F.lit(szmap[name])).otherwise(sz_col)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col(key).cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("int") % 10000
    )
    out = df.select(
        "*",
        bucket.cast("long").alias("unimax_bucket"),
        alloc_col.alias("unimax_alloc"),
        sz_col.alias("_sz"),
    )
    copies = (
        F.expr("unimax_alloc div _sz")
        + F.when(
            F.col("unimax_bucket")
            < F.expr("((unimax_alloc % _sz) * 10000) div _sz"),
            1,
        ).otherwise(0)
    ).cast("long")
    out = out.withColumn("unimax_copies", copies).drop("_sz")
    if flags_only:
        return out
    return out.filter(F.col("unimax_copies") >= 1)


def _iroot(x: int, k: int) -> int:
    """Floor k-th root of a non-negative int, exact (Newton on Python
    ints — no float ever touches the value, so the result is platform-
    and engine-independent)."""
    if x < 0:
        raise ValueError("x must be non-negative")
    if x == 0 or k == 1:
        return x
    r = 1 << (x.bit_length() // k + 1)
    while True:
        nr = ((k - 1) * r + x // r ** (k - 1)) // k
        if nr >= r:
            return r
        r = nr


def temperature_allocation(
    sizes: list[tuple[str, int]], budget: int, alpha: tuple[int, int] = (1, 2)
) -> dict[str, int]:
    """Temperature-based mixing allocation (the mT5/XLM-R baseline:
    sample stratum i with probability ∝ n_i^α, α < 1 flattening the
    head): weight_i = floor(n_i^(p/q)) for α = p/q, computed EXACTLY as
    the integer q-th root of n_i^p — no float ever enters, so the
    allocation is engine- and platform-exact, and for α = 1/2 the weight
    is SQL-expressible (a guarded floor(sqrt)) so the whole arm oracles.
    alloc_i = budget * w_i // Σw; floor dust goes unspent, as in
    :func:`unimax_allocation`. The complement of UniMax: temperature
    flattens smoothly with no epoch cap, UniMax caps epochs exactly —
    the two standard answers to head-heavy corpus mixing."""
    p, q = alpha
    w = {name: _iroot(int(sz) ** p, q) for name, sz in sizes}
    total = sum(w.values())
    if total == 0:
        return {name: 0 for name, _ in sizes}
    return {name: int(budget) * w[name] // total for name, _ in sizes}


def temperature_sample(
    df: DataFrame,
    stratum: str = "lang",
    key: str = "doc_id",
    budget: int = 0,
    alpha: tuple[int, int] = (1, 2),
    salt: str = "temp",
    flags_only: bool = False,
) -> DataFrame:
    """Temperature corpus mixing as a deterministic sampling operator:
    :func:`temperature_allocation` picks per-stratum targets, realized
    per row as a COPY COUNT exactly like :func:`unimax_sample` —
    ``alloc div size`` full epochs plus the md5-bucket-selected fraction,
    stable under corpus growth, repartitioning, and reruns.

    Plan shape: identical to unimax_sample — one map-side-combinable
    count per stratum collected as metadata, the allocation returns as a
    literal CASE, zero corpus joins. Appends ``temp_bucket`` /
    ``temp_alloc`` / ``temp_copies``; filters to copies ≥ 1 unless
    ``flags_only``."""
    sizes = [
        (r["_s"], r["_n"])
        for r in df.groupBy(F.col(stratum).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    ]
    allocs = temperature_allocation(sizes, budget, alpha)
    szmap = dict(sizes)
    s = F.col(stratum)
    alloc_col: Column = F.lit(0).cast("long")
    sz_col: Column = F.lit(1).cast("long")
    for name in sorted(allocs):
        alloc_col = F.when(s == name, F.lit(allocs[name])).otherwise(alloc_col)
        sz_col = F.when(s == name, F.lit(szmap[name])).otherwise(sz_col)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), F.col(key).cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("int") % 10000
    )
    out = df.select(
        "*",
        bucket.cast("long").alias("temp_bucket"),
        alloc_col.alias("temp_alloc"),
        sz_col.alias("_sz"),
    )
    copies = (
        F.expr("temp_alloc div _sz")
        + F.when(
            F.col("temp_bucket")
            < F.expr("((temp_alloc % _sz) * 10000) div _sz"),
            1,
        ).otherwise(0)
    ).cast("long")
    out = out.withColumn("temp_copies", copies).drop("_sz")
    if flags_only:
        return out
    return out.filter(F.col("temp_copies") >= 1)


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    scale: int = 1_000_000,
    mode: str = "fixed",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style data selection with importance resampling (Xie et al.
    2023): score each document by how much its hashed-n-gram profile
    resembles a TARGET domain (the boolean ``target`` column — e.g.
    labeled in-domain rows) versus the raw corpus, then keep the
    over-threshold docs.

    Plan (both stages map-side combinable, no O(n²) anywhere):
      1. explode normalized word unigrams, hash each into one of
         ``n_buckets`` md5 buckets (the paper's hashed n-gram features —
         stable under growth/re-partitioning, never ``rand()``);
      2. ONE pass builds the bucket histogram twice — target counts and
         corpus counts — as a single 2-aggregate groupBy(bucket); the
         n_buckets-row table collects to the driver where the per-bucket
         weights are computed and rebroadcast as data (the codebook
         pattern: a distribution is index metadata, not corpus);
      3. per-doc bucket counts (groupBy id,bucket) broadcast-join the
         weight table and fold to the doc score.

    ``mode='fixed'`` (default, the oracled form) replaces the paper's
    log-likelihood-ratio with the fixed-point probability difference
    ``w_b = (scale·t_b) DIV T − (scale·c_b) DIV C`` — pure integer
    arithmetic end-to-end, so the score is bit-identical in any engine
    (transcendental libm outputs are NOT portable across Spark/DuckDB/
    Python, the reason the LLR form is pytest-tier). ``mode='log'`` is
    the paper's smoothed log-ratio ``ln((t_b+1)/(T+B)) − ln((c_b+1)/
    (C+B))`` with a DOUBLE score.

    Returns one row per document: (id, score, keep) where keep ⇔
    score ≥ 0 — resampling then composes as a plain filter (or feed
    ``score`` to :func:`stratified_sample`-style rate shaping).
    """
    if mode not in ("fixed", "log"):
        raise ValueError(f"unknown mode {mode!r}")
    tok = F.explode(F.split(TX.normalize_text(text_col), " ")).alias("_tok")
    base = df.select(F.col(id_col), target.alias("_is_t"), tok).select(
        id_col,
        "_is_t",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col("_tok"))), 1, 4),
                16, 10,
            ).cast("int") % n_buckets
        ).alias("_bucket"),
    )
    dist = (
        base.groupBy("_bucket")
        .agg(
            F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("t_cnt"),
            F.count(F.lit(1)).alias("c_cnt"),
        )
        .collect()
    )
    tot_t = sum(r["t_cnt"] for r in dist)
    tot_c = sum(r["c_cnt"] for r in dist)
    if mode == "fixed":
        weights = [
            (r["_bucket"], float((scale * r["t_cnt"]) // max(tot_t, 1)
                                 - (scale * r["c_cnt"]) // max(tot_c, 1)))
            for r in dist
        ]
    else:
        weights = [
            (
                r["_bucket"],
                math.log((r["t_cnt"] + 1) / (tot_t + n_buckets))
                - math.log((r["c_cnt"] + 1) / (tot_c + n_buckets)),
            )
            for r in dist
        ]
    wdf = local_df(df.sparkSession, weights, "_bucket int, _wgt double")
    scored = (
        base.groupBy(id_col, "_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(wdf), "_bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("_n") * F.col("_wgt")).alias("_s"))
    )
    score = (
        F.col("_s").cast("long") if mode == "fixed" else F.round(F.col("_s"), 6)
    )
    return scored.select(
        id_col, score.alias("score"), (F.col("_s") >= 0).alias("keep")
    )


def lm_quality_buckets(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    scale: int = 1_000_000,
    salt: str = "lm",
) -> DataFrame:
    """CCNet-style language-model quality tiers (Wenzek et al. 2020 §4.3):
    train a unigram LM on the TARGET domain (their Wikipedia; here the
    boolean ``target`` column), score every document by how likely the LM
    finds its tokens, and split the corpus into head / middle / tail
    TERTILES of that score — head feeds training as-is, middle gets a
    second look, tail is dropped. The companion to
    :func:`dsir_importance`: DSIR contrasts target vs corpus, CCNet ranks
    by target likelihood alone and keeps the decision relative (tertiles),
    so it needs no threshold tuning.

    Engine-exact restatement: tokens hash into ``n_buckets`` md5 buckets
    (the same feature space as DSIR); the LM is the add-one-smoothed
    fixed-point bucket probability ``p_b = ((t_b + 1)·scale) DIV
    (T + n_buckets)`` — pure integer, so scores are bit-identical across
    Spark/DuckDB/Python (the paper's log-perplexity needs libm, which is
    not bit-portable; the tertile CUTS land identically either way since
    avg-probability rank order is monotone in avg log-prob rank order
    only approximately — this IS a different statistic, documented as
    such, with the same head/middle/tail contract). Score = the
    token-weighted mean bucket probability, integer-divided.

    Tier assignment never sorts the corpus globally: the score HISTOGRAM
    (≤ scale+1 distinct integer values, in practice a few hundred rows)
    is aggregated, cumulated on the driver-side-sized table, and joined
    back, so a document's global rank = docs-with-higher-score +
    row_number within its own score partition (tie-broken by id — fully
    deterministic). Rank r of n gets head when 3r ≤ n, middle when
    3r ≤ 2n, else tail.

    Plan shape: one bucket-histogram aggregate over target tokens
    (map-side combinable) collected as ≤ n_buckets rows and rebroadcast
    as data; one (id, bucket) aggregate + broadcast join + id rollup for
    scores; one tiny histogram aggregate + per-score window for tiers.
    The corpus shuffles on (id, bucket) and score only — never on raw
    text. Returns (id, score BIGINT, n_toks BIGINT, tier) for every doc
    with ≥ 1 token.
    """
    tok = F.explode(F.split(TX.normalize_text(text_col), " ")).alias("_tok")
    base = df.select(F.col(id_col), target.alias("_is_t"), tok).select(
        id_col,
        "_is_t",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col("_tok"))), 1, 4),
                16, 10,
            ).cast("int") % n_buckets
        ).alias("_bucket"),
    )
    tcnt = {
        r["_bucket"]: r["t"]
        for r in base.filter("_is_t").groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("t")).collect()
    }
    total_t = sum(tcnt.values())
    probs = [
        (b, ((tcnt.get(b, 0) + 1) * scale) // (total_t + n_buckets))
        for b in range(n_buckets)
    ]
    pdf = local_df(df.sparkSession, probs, "_bucket int, _p long")
    scored = (
        base.groupBy(id_col, "_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(F.broadcast(pdf), "_bucket")
        .groupBy(id_col)
        .agg(
            F.expr("sum(_n * _p) div sum(_n)").cast("long").alias("score"),
            F.sum("_n").cast("long").alias("n_toks"),
        )
    )
    hist = scored.groupBy("score").agg(F.count(F.lit(1)).alias("_c"))
    hw = Window.orderBy(F.col("score").desc())
    cum = hist.select(
        "score",
        (F.sum("_c").over(hw) - F.col("_c")).alias("_before"),
    )
    n_total = scored.agg(F.count(F.lit(1)).alias("_n_docs"))
    rn = F.col("_before") + F.row_number().over(
        Window.partitionBy("score").orderBy(id_col)
    )
    return (
        scored.join(cum, "score")
        .crossJoin(F.broadcast(n_total))
        .select(
            id_col, "score", "n_toks",
            F.when(rn * 3 <= F.col("_n_docs"), F.lit("head"))
            .when(rn * 3 <= 2 * F.col("_n_docs"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("tier"),
        )
    )


def dedup_exact_text(df: DataFrame, text_col: str = "text", order: str | None = None) -> DataFrame:
    """Exact corpus dedup: hash-groupBy on the md5 fingerprint of
    normalized text; first-wins on ``order`` (or arbitrary if None)."""
    keyed = df.withColumn("_fp", TX.fingerprint(text_col))
    if order is None:
        out = keyed.dropDuplicates(["_fp"])
    else:
        out = dedup_first_wins(keyed, "_fp", order)
    return out.drop("_fp")


def dedup_against_corpus(
    increment: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental exact dedup: keep only the increment rows whose
    normalized-text fingerprint does NOT already exist in the (much
    larger) standing corpus — the recurring production shape where each
    new crawl snapshot lands against a standing corpus.

    Plan: one exact ``left_anti`` join of the fingerprinted increment
    against the corpus fingerprints. No sketch sits in front of it: a
    Bloom of the corpus costs a full corpus pass per call and cannot
    shrink the join's big side, so it only added work (2M-doc corpus,
    20k increment on 4 cores: 23.6-24.5 s with the Bloom, 13.1-14.1 s
    without).

    Returns the increment's surviving rows plus their ``fp_col``
    (intra-increment duplicates are NOT collapsed here — compose with
    :func:`dedup_exact_text` / a groupBy on ``fp_col`` for that).
    """
    inc = increment.withColumn(fp_col, TX.fingerprint(text_col))
    old = corpus.select(TX.fingerprint(text_col).alias(fp_col))
    return inc.join(old, fp_col, "left_anti").select(inc.columns)


def dedup_table_changes(
    spark,
    table,
    since_snapshot: int,
    text_col: str = "text",
    fp_col: str = "fingerprint",
    to_snapshot: int | None = None,
) -> DataFrame:
    """Catch-up ingest dedup over a snapshot table's changelog: read only
    the rows APPENDED after ``since_snapshot`` (lake.SnapshotTable.
    read_changes — the Iceberg incremental append scan) and dedup them
    against the corpus AS OF ``since_snapshot`` (time-travel read), via
    :func:`dedup_against_corpus`.

    This is the consumer half of the standing-corpus ingest contract at
    100 TB: the producer appends crawl snapshots to the table; a consumer
    checkpoints the last snapshot id it processed and, on each catch-up,
    scans exactly the delta manifests — never the table — while the
    dedup reference is pinned to the checkpointed snapshot, so a crashed
    catch-up replays the identical deterministic computation instead of
    racing concurrent appends.
    """
    inc = table.read_changes(spark, since_snapshot, to_snapshot)
    corpus = table.read(spark, since_snapshot)
    return dedup_against_corpus(inc, corpus, text_col, fp_col)


def substring_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Exact substring (verbatim-passage) dedup: document pairs sharing at
    least ``min_shared`` identical ``window``-token spans. The suffix-array
    criterion of the training-data dedup literature (find documents with a
    long verbatim overlap), restated for a fixed window length as a span
    equi-join — which Spark executes as ONE shuffle on the span hash,
    where a suffix-array build would be a global sort.

    Scale contract (module rule: never an O(n²) cross join): spans are
    de-duplicated per document, then any span occurring in more than
    ``max_df`` documents is dropped BEFORE the self-join — one boilerplate
    sentence shared by 10^6 docs would otherwise make a single join key
    quadratic. At that document frequency a span is boilerplate by
    definition (the literature's df-cap); genuinely duplicated passages
    still pair through their rarer neighboring spans. Spans ride as md5
    hashes so the shuffle key is fixed-width regardless of window length.

    Returns (a, b, shared_spans), a < b.

    One-exchange formulation (no persist, no checkpoint): the span stream
    shuffles by span hash ONCE; the df-cap is a count window over that
    partitioning (not a separate aggregate + join back, which would
    shuffle the stream twice); and the self-join's two sides are the
    identical subtree on the identical partitioning, so ReuseExchange
    serves both from the one shuffle. This replaced the earlier
    persist→checkpoint→unpersist lifecycle: nothing corpus-scale is ever
    cached (the round-3 verdict's hazard), and the A/B at sf0.1 is
    identical output at ~0.65x the wall time. Skew note: a boilerplate
    span in 10^6 docs lands on one reducer in either formulation (the
    join shuffles the raw stream by _h regardless); the df-cap drops it
    there before the pair explosion.
    """
    spans = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                F.array_distinct(TX.shingles(F.col(text_col), window)), F.md5
            )
        ).alias("_h"),
    )
    w = Window.partitionBy("_h")
    kept = (
        spans.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, "_h")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("a"), F.col("b._id").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared_spans"))
        .filter(F.col("shared_spans") >= min_shared)
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    min_df: int = 2,
    mode: str = "boilerplate",
) -> DataFrame:
    """Paragraph-granularity corpus dedup (CCNet §3.2 / Dolma / RefinedWeb):
    the standard pre-training cleanup that removes paragraphs duplicated
    ACROSS documents — headers, footers, cookie banners — which
    document-level dedup can never see.

    Two survivor policies:

    - ``mode='boilerplate'``: drop EVERY occurrence of any paragraph whose
      corpus document-frequency is ≥ ``min_df`` (the boilerplate reading:
      a paragraph repeated across documents is template chrome).
    - ``mode='keep_first'``: keep exactly the globally first occurrence —
      minimum (id, position) — of each duplicated paragraph and drop the
      rest (the CCNet reading: the content is fine, the copies are not).

    Engine-exact: paragraphs ride as md5 hashes (fixed-width shuffle key),
    the first-occurrence winner is an integer MIN, and reassembly sorts
    survivors by their original position — no float, no partition-order
    dependence.

    Plan shape: posexplode (narrow) → one groupBy on the paragraph hash
    (countDistinct docs + MIN first-occurrence, both map-side-combinable)
    → equi-join back on the hash (both sides arrive partitioned by it)
    → one groupBy on the doc id to reassemble. A boilerplate paragraph in
    10^6 documents is 10^6 rows joined against ONE stats row — linear,
    never a pair explosion.

    Returns (<id_col>, clean_text, n_paras, n_dropped) — one row per input
    document; ``clean_text`` is '' when every paragraph dropped.
    """
    if mode not in ("boilerplate", "keep_first"):
        raise ValueError(f"unknown mode: {mode!r}")
    paras = (
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), delim)).alias("_pos", "_p"),
        )
        .filter(F.col("_p") != "")
        .withColumn("_h", F.md5("_p"))
    )
    stats = paras.groupBy("_h").agg(
        F.countDistinct("_id").alias("_df"),
        F.min(F.struct("_id", "_pos")).alias("_first"),
    )
    keep = F.col("_df") < min_df
    if mode == "keep_first":
        keep = keep | (
            (F.col("_id") == F.col("_first._id"))
            & (F.col("_pos") == F.col("_first._pos"))
        )
    marked = paras.join(stats, "_h").withColumn("_keep", keep)
    survivors = F.array_sort(
        F.collect_list(F.when(F.col("_keep"), F.struct("_pos", "_p")))
    )
    return marked.groupBy(F.col("_id").alias(id_col)).agg(
        F.array_join(
            F.transform(survivors, lambda s: s["_p"]), delim
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_dropped"),
    )


def c4_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 3,
) -> DataFrame:
    """C4 three-sentence-span dedup (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more than
    once in the data set") — the span-granularity cleanup between
    paragraph_dedup (whole-paragraph boilerplate) and substring_dup_pairs
    (token-window PAIR detection): it REWRITES documents, deleting every
    duplicated ``window``-sentence run except its globally first
    occurrence.

    Sentences are the trimmed non-empty matches of ``[^.!?]+[.!?]*`` —
    no lookaround, so the split is identical under Java regex (Spark),
    RE2 (DuckDB), and Python ``re``; output text is re-joined with single
    spaces, the same whitespace-normalizing contract as paragraph_dedup.
    The first occurrence is the integer MIN over (id, span position);
    span hashes are md5 over the \\x1f-joined sentences (the BPE sentinel
    — cannot appear in real text), so every decision is engine-exact.

    Plan shape (paragraph_dedup's, at span granularity): sliding windows
    come from one in-row ``transform(sequence(...))`` over the sentence
    array — no self-join — then posexplode (narrow) → one groupBy on the
    span hash (count + MIN, map-side combinable) → equi-join back on the
    hash → one groupBy on the doc id collecting the (small) per-doc drop
    list → one co-keyed join onto the sentence arrays. A span duplicated
    across 10^6 documents is 10^6 rows against ONE stats row — linear,
    never a pair explosion; deleted sentence indices are resolved in-row
    with ``exists`` over the drop list.

    Returns (<id_col>, clean_text, n_sents, n_dropped_sents) — one row
    per input document, including documents with fewer than ``window``
    sentences (untouched by construction).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[^.!?]+[.!?]*"), 0),
            # explicit unary lambda: F.trim also takes an optional
            # trim-chars argument, and transform() would bind the element
            # INDEX to it, silently trimming nothing
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    base = df.select(F.col(id_col).alias("_id"), sents.alias("_sents"))
    n = F.size("_sents")
    whashes = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.md5(
                F.array_join(F.slice(F.col("_sents"), i + 1, window), "\x1f")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = base.select("_id", F.posexplode(whashes).alias("_wpos", "_wh"))
    stats = wins.groupBy("_wh").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("_id", "_wpos")).alias("_first"),
    )
    drops = (
        wins.join(stats, "_wh")
        .filter(
            (F.col("_c") >= 2)
            & ~(
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_wpos") == F.col("_first._wpos"))
            )
        )
        .groupBy("_id")
        .agg(F.collect_list("_wpos").alias("_dw"))
    )
    dw = F.coalesce(F.col("_dw"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: ~F.exists(dw, lambda w: (w <= i) & (i <= w + window - 1)),
    )
    return (
        base.join(drops, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.array_join(
                F.transform(kept_idx, lambda i: F.element_at("_sents", i + 1)),
                " ",
            ).alias("clean_text"),
            n.cast("long").alias("n_sents"),
            (n - F.size(kept_idx)).cast("long").alias("n_dropped_sents"),
        )
    )


# ------------------------------------------------- shared near-dup kernels -
def _candidate_pairs(keyed: DataFrame, key: str, *cols: Column) -> DataFrame:
    """The keyed candidate self-join of every near-dup operator: rows of
    ``keyed`` (an ``_id`` column plus ``key``) pair up within a key, each
    pair once per shared key as (a, b) with a < b. ``cols`` are extra
    projections over the ``a.``/``b.`` sides."""
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, key)
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("a"), F.col("b._id").alias("b"), *cols)
    )


def _hash_blocks(h: Column, n_blocks: int, width: int) -> Column:
    """Pigeonhole block keys of a 64-bit hash, ``'i:' || (h >>> i*width) &
    mask`` for i < n_blocks: two hashes within Hamming distance
    n_blocks-1 share at least one key."""
    return F.array(*[
        F.concat(
            F.lit(f"{i}:"),
            F.shiftrightunsigned(h, i * width).bitwiseAND(F.lit((1 << width) - 1)),
        )
        for i in range(n_blocks)
    ])


def _hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _hamming_pairs(
    df: DataFrame, id_col: str, hash_col: str, n_blocks: int, width: int
) -> DataFrame:
    """(a, b, hamming) for every distinct id pair whose 64-bit hashes share
    a ``width``-bit block (:func:`_hash_blocks`)."""
    blocks = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(_hash_blocks(F.col(hash_col), n_blocks, width)).alias("block"),
    )
    return _candidate_pairs(
        blocks, "block", _hamming(F.col("a._h"), F.col("b._h")).alias("hamming")
    ).distinct()


# ---------------------------------------------------------- MinHash LSH ----
def minhash_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    perms: int = 8,
) -> DataFrame:
    """(id, m0..m{perms-1}) minhash signature via explode → one groupBy
    with ``perms`` MIN aggregates (map-side combined): permutation p hashes
    shingle s as md5(p || '|' || s) and keeps the lexicographic MIN (hex
    compares like the number), so DuckDB re-runs the same SQL. Each
    shingle's md5 is computed exactly ``perms`` times in one pass."""
    sh = df.select(
        F.col(id_col),
        F.explode(TX.shingles(F.col(text_col), k)).alias("_s"),
    )
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("_s")))).alias(f"m{p}")
            for p in range(perms)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    perms: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding.

    shingle → md5-minhash signature (perms) → band keys → self-join on
    band key → distinct pairs (a<b). One shuffle on band key; no cross
    join. Returns (a, b) candidate id pairs.

    The signature table is persisted (lazily) before the self-join: both
    join sides read it, and a broadcast band-join plan defeats
    ReuseExchange, so lineage alone would run the explode + min-aggregate
    pass twice. Lazy persist keeps it to one compute without adding a
    serial materialization job — the broadcast-build side fills the cache
    and the probe side reads it. One row of ``perms`` longs per doc —
    tiny next to the shingle stream it replaces, at any corpus size.
    """
    sig = minhash_signature_table(df, id_col, text_col, k, perms).persist()
    band_cols = [
        F.md5(
            F.concat(
                F.lit(f"{b}|"),
                F.concat_ws(",", *[F.col(f"m{b * band_size + i}") for i in range(band_size)]),
            )
        )
        for b in range(perms // band_size)
    ]
    exploded = sig.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("band")
    )
    return _candidate_pairs(exploded, "band").distinct()


def connected_min(
    pairs: DataFrame, max_iters: int = 25, checkpoint: str = "local"
) -> DataFrame:
    """Connected components over an edge list (a,b) by alternating min-label
    propagation ("hook": pull the minimum label across each edge) with
    pointer jumping ("compress": relabel through the label table itself,
    component <- component[component]). Returns (node, component) with
    component = min node id of the component.

    Compression makes convergence O(log diameter) outer iterations instead
    of O(diameter): labels form a pointer forest (component <= node), and
    each compress halves chain depth while each hook extends reach by one
    edge — so chained duplicate families of diameter d (the 100 TB hazard
    for naive propagation, e.g. A~B~C~...~Z transitive near-dup chains)
    resolve in ~log2(d) rounds. max_iters=25 therefore covers diameters up
    to ~2^25 hops; if the fixpoint is still not reached the function FAILS
    LOUDLY (RuntimeError) rather than returning silently degraded labels.

    ``checkpoint`` picks the per-iteration lineage cut: ``'local'``
    (default) uses localCheckpoint — executor-local blocks, right for
    local mode and cheapest on a healthy cluster, but an executor loss
    mid-propagation is unrecoverable (lineage is truncated AND the blocks
    are gone). ``'reliable'`` writes each iteration's labels to the
    SparkContext checkpoint dir (HDFS/object store on a real cluster), so
    a lost executor replays from durable storage — the setting a 100 TB
    multi-hour run wants. Requires ``spark.sparkContext.setCheckpointDir``.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    if checkpoint == "reliable":
        sc = pairs.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise RuntimeError(
                "connected_min(checkpoint='reliable') needs a durable "
                "checkpoint location: call spark.sparkContext."
                "setCheckpointDir('<hdfs-or-object-store-path>') first"
            )
    edges = pairs.select("a", "b").unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iters):
        # hook: component <- min(component, min over neighbors' component)
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(edges.a.alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        hooked = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("nmin", F.col("component"))).alias(
                    "component"
                ),
            )
        )
        # compress (pointer jump): component <- component[component]. Every
        # label is itself a node id in the same component, so the lookup
        # stays within the component and labels only ever decrease.
        comp_map = hooked.select(
            F.col("node").alias("_cnode"), F.col("component").alias("_ccomp")
        )
        new_labels = (
            hooked.join(comp_map, hooked.component == comp_map._cnode, "left")
            .select(
                "node",
                F.coalesce("_ccomp", "component").alias("component"),
            )
        )
        new_labels = (
            new_labels.checkpoint(eager=True)
            if checkpoint == "reliable"
            else new_labels.localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_min did not converge in {max_iters} hook+compress "
            f"iterations (component diameter > ~2^{max_iters}); labels "
            "would be partial — refusing to return degraded components"
        )
    return labels


# ------------------------------------------------------------- SimHash -----
def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, simhash) via explode → one md5 per shingle → 60 partial-agg bit
    votes → recombine. A shingle's feature hash is the first 15 hex chars
    of its md5 (60 bits, zero-extended); bit b of the simhash is 1 iff
    Σ_shingles (bit_b ? +1 : -1) > 0. The hash is computed once per
    shingle and the votes aggregate with map-side combine — the shape
    that survives 100 TB.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(TX.shingles(F.col(text_col), k))).alias("_s"),
    ).withColumn("_h", F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("long"))
    votes = sh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("_h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(60)
        ]
    )
    out = None
    for b in range(60):
        piece = F.when(F.col(f"_v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = piece if out is None else out + piece
    return votes.select(F.col(id_col), out.alias("simhash"))


def simhash_candidates(
    df: DataFrame, id_col: str = "doc_id", sim_col: str = "simhash", n_blocks: int = 4
) -> DataFrame:
    """Near-dup candidates by the pigeonhole trick: split the 60-bit
    simhash into n_blocks 15-bit blocks; pairs within Hamming distance
    n_blocks-1 must agree on ≥1 block → equi-join per block."""
    return _hamming_pairs(df, id_col, sim_col, n_blocks, 15)


# ------------------------------------------------------- n-gram Jaccard ----
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: Column | None = None,
    k: int = 3,
    threshold: float = 0.5,
    perms: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """J4-style blocked similarity self-join with exact shingle Jaccard.

    With no ``block_col`` the candidate set comes from MinHash LSH banding
    (the module's own band machinery): skew-safe by construction — band
    keys hash the whole signature, so "the"-headed corpora don't pile
    into one block the way a naive first-token prefix key would. Pass an
    explicit ``block_col`` (source, language, length band) only when the
    domain guarantees similar docs share it. Only candidate pairs are
    exact-verified.
    """
    def jaccard(x: Column, y: Column) -> Column:
        return (
            F.size(F.array_intersect(x, y)).cast("double") / F.size(F.array_union(x, y))
        ).alias("jaccard")

    if block_col is None:
        cand = minhash_lsh_candidates(df, id_col, text_col, k, perms, band_size)
        sh = df.select(
            F.col(id_col).alias("_sid"),
            F.array_distinct(TX.shingles(text_col, k)).alias("_sh"),
        )
        pairs = (
            cand.join(sh.withColumnRenamed("_sid", "a").withColumnRenamed("_sh", "_sha"), "a")
            .join(sh.withColumnRenamed("_sid", "b").withColumnRenamed("_sh", "_shb"), "b")
            .select("a", "b", jaccard(F.col("_sha"), F.col("_shb")))
        )
    else:
        base = df.select(
            F.col(id_col).alias("_id"),
            block_col.alias("_blk"),
            F.array_distinct(TX.shingles(text_col, k)).alias("_sh"),
        )
        pairs = _candidate_pairs(base, "_blk", jaccard(F.col("a._sh"), F.col("b._sh")))
    return pairs.filter(F.col("jaccard") >= threshold)


# ------------------------------------------------- embedding cosine dedup --
_PLANE_SEED = 0x5EED


def hyperplane_weights(n_bands: int, n_bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic ±1 random-hyperplane weights: ``[band][bit][dim]``.
    Seeded by ``_PLANE_SEED`` — same (n_bands, n_bits, dim) always yields
    the same planes, so reruns and cross-engine oracles are reproducible."""
    import random

    out = []
    for band in range(n_bands):
        rng = random.Random(_PLANE_SEED * 1_000_003 + band)
        out.append(
            [[float(rng.choice((-1, 1))) for _ in range(dim)] for _ in range(n_bits)]
        )
    return out


_QUANT = 1 << 20  # hyperplane dot quantization (2^-20 granularity)


def _band_keys_udf(planes: list[list[list[float]]], dim: int):
    """Arrow-batched band-key computation: one numpy int64 matmul per
    batch instead of n_bands×n_bits interpreted HOF aggregates per row.

    Sign bits of ±1-hyperplane dots over 2^20-quantized elements — integer
    arithmetic end-to-end, so bucket assignment is exact,
    summation-order-free, and bit-identical across engines (a float sum's
    sign could flip in the last ulp between different reduction orders).
    np.trunc + int64 cast truncates toward zero, matching SQL
    trunc()::BIGINT and Spark's double→long cast."""
    import numpy as np
    import pandas as pd

    n_bands = len(planes)
    n_bits = len(planes[0])
    W = np.array(
        [[planes[band][j][i] for band in range(n_bands) for j in range(n_bits)]
         for i in range(dim)],
        dtype=np.int64,
    )  # (dim, n_bands*n_bits)

    def keys(vs):
        M = np.stack(vs.to_numpy())  # (n, dim)
        Q = np.trunc(M.astype(np.float64) * float(_QUANT)).astype(np.int64)
        B = (Q @ W) >= 0  # (n, n_bands*n_bits)
        out = []
        for row in B:
            out.append(
                [
                    f"{band}:"
                    + "".join("1" if row[band * n_bits + j] else "0" for j in range(n_bits))
                    for band in range(n_bands)
                ]
            )
        return pd.Series(out)

    # module uses `from __future__ import annotations`, which stringifies
    # inline hints — pandas_udf needs real type objects to infer SCALAR
    keys.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(keys, "array<string>")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 4,
    n_bits: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: multi-band random-hyperplane LSH
    candidates + exact cosine verify.

    Blocking is ``n_bands`` independent sign-LSH bands of ``n_bits``
    hyperplanes each — n_bits derived from the corpus size (avg bucket ≈
    64 rows) so buckets stay bounded at any scale, and multiple bands
    restore the recall a single projection loses. A naive fixed low-bit
    block (e.g. signs of the first 8 dims) is the scale trap: at 10^10
    rows every one of its 256 buckets holds ~4×10^7 rows and the
    intra-bucket self-join goes quadratic. Candidates are de-duplicated
    across bands before the exact cosine verify."""
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    if n_bits is None:
        n = df.count()
        n_bits = max(4, min(24, math.ceil(math.log2(max(n, 128) / 64.0))))
    planes = hyperplane_weights(n_bands, n_bits, dim)
    keys = _band_keys_udf(planes, dim)(F.col(vec_col))
    exploded = df.select(F.col(id_col).alias("_id"), F.explode(keys).alias("_blk"))
    # materialize once: the key UDF feeds both sides of the self-join —
    # an eager localCheckpoint computes the Arrow-batched matmul a
    # single time and truncates lineage, scoped to THIS invocation (no
    # process-global cache to evict, thread-safe across concurrent
    # jobs; the blocks are released when the DataFrame is GC'd)
    exploded = exploded.localCheckpoint(eager=True)
    cand = _candidate_pairs(exploded, "_blk").distinct()
    # per-vector norms computed once on the row side, not per pair —
    # the verify join then evaluates a single dot per candidate
    vecs = df.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        SIM._l2(F.col(vec_col)).alias("_n"),
    )
    return (
        cand.join(
            vecs.select(
                F.col("_vid").alias("a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
            ),
            "a",
        )
        .join(
            vecs.select(
                F.col("_vid").alias("b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
            ),
            "b",
        )
        .select("a", "b", SIM._cosine("_va", "_na", "_vb", "_nb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ------------------------------------------------- SemDeDup (cluster-based)
def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    codebook: DataFrame | None = None,
    seed_strategy: str = "hash",
) -> DataFrame:
    """SemDeDup: cluster-scoped semantic deduplication over an embedding
    column (Abbas et al. 2023, the LAION-style pipeline stage) — the
    cluster-then-compare member of the near-dup family, next to the LSH
    candidate generator in :func:`embedding_neardup_pairs`.

    Plan: (1) assign every vector to its nearest coarse centroid with the
    broadcast IVF codebook (:func:`~web_crawler_spark.operators.similarity.
    ivf_assign` — shuffle-free column algebra, hash-spread seeding so the
    inverted lists stay balanced); (2) one shuffle on ``list_id`` and a
    within-list self-join — pairwise cosine is confined to a cluster, so
    with ``n_centroids`` scaled to the corpus (the paper's regime: cluster
    size ≈ constant) total work stays ~linear, honoring this module's
    no-O(n²) contract; (3) a vector is a duplicate when some EARLIER-id
    vector in its cluster has cosine ≥ ``threshold`` (the deterministic
    first-wins form of the paper's keep-one-per-group policy).

    Returns one row per dropped vector: (dup, witness, cosine, list_id),
    where ``witness`` is the earlier in-cluster neighbor with the highest
    6-dp-rounded cosine (ties → smallest id), so the output is stable
    across engines and partitionings. Pass ``codebook`` (e.g. from
    ``ivf_train_codebook``) to cluster with trained centroids.

    With ``n_centroids=None`` and no ``codebook``, the centroid count is
    sized from the corpus by an eager ``df.count()`` that runs at call
    time, not when the result is acted on (one extra pass over ``df``'s
    lineage). Pass ``n_centroids`` or ``codebook`` to keep the call lazy.
    """
    if codebook is None and n_centroids is None:
        # the paper's regime — cluster size ~ constant — is the no-O(n^2)
        # contract: derive n_centroids from the corpus (avg list ~ 64
        # rows) exactly as embedding_neardup_pairs derives n_bits. A
        # FIXED centroid count at growing n is the scale trap: lists grow
        # as n/k and the within-list self-join goes quadratic.
        n = df.count()
        n_centroids = max(8, min(1 << 16, math.ceil(n / 64.0)))
    cb = (
        codebook
        if codebook is not None
        else SIM.ivf_codebook(df, n_centroids, id_col, vec_col, seed_strategy)
    )
    assigned = SIM.ivf_assign(df, cb, id_col, vec_col)
    a = assigned.select(
        F.col(id_col).alias("a"), F.col("_cv").alias("_va"),
        F.col("_cn").alias("_na"), "list_id",
    )
    b = assigned.select(
        F.col(id_col).alias("b"), F.col("_cv").alias("_vb"),
        F.col("_cn").alias("_nb"), "list_id",
    )
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("a") < F.col("b"))
        .select("list_id", "a", "b", SIM._cosine("_va", "_na", "_vb", "_nb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("b").orderBy(F.round("cosine", 6).desc(), F.col("a").asc())
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("b").alias("dup"), F.col("a").alias("witness"), "cosine", "list_id"
        )
    )


# ------------------------------------------------------------ phash --------
def phash_neardup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 4,
    n_blocks: int = 5,
) -> DataFrame:
    """Image near-dup on 64-bit perceptual hashes (north_rule: "phash-based
    near-dup on images"): pigeonhole banding — distance ≤ n_blocks-1
    guarantees one matching 13-bit block — then exact Hamming filter."""
    return _hamming_pairs(df, id_col, phash_col, n_blocks, 64 // n_blocks + 1).filter(
        F.col("hamming") <= max_hamming
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one exact ``window``-token span with any document in the eval /
    benchmark set — the GPT-3 appendix-C / PaLM n-gram decontamination
    rule (13-grams there; the window rescales to this corpus's document
    lengths).

    Plan shape for 100 TB: the eval side is a benchmark suite — tiny
    relative to the corpus — so its distinct span stream BROADCASTS onto
    the train side's span stream; the corpus side never shuffles. Spans
    ride as md5 hashes (fixed-width keys, and identical SQL exists in
    DuckDB for the oracle). The hit stream is benchmark-sized, so the
    per-document aggregate after the join is negligible.

    Returns ``(id_col, first_eval_hit, shared_spans)`` for contaminated
    training documents only: the lowest contaminating eval doc id and the
    number of distinct shared spans.
    """

    def spans(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out),
            F.explode(
                F.transform(
                    F.array_distinct(TX.shingles(F.col(text_col), window)),
                    F.md5,
                )
            ).alias("_h"),
        )

    hits = spans(train, "_id").join(F.broadcast(spans(eval_set, "_eid")), "_h")
    return hits.groupBy(F.col("_id").alias(id_col)).agg(
        F.min("_eid").alias("first_eval_hit"),
        F.countDistinct("_h").alias("shared_spans"),
    )


def phash_crossdup_ids(
    cand: DataFrame,
    seen: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 4,
    n_blocks: int = 5,
) -> DataFrame:
    """Candidate ids whose phash is within ``max_hamming`` of ANY seen
    phash — the cross-set form of phash_neardup_pairs (the pair corpus
    build probes its training pairs against the eval set). Same
    pigeonhole banding: both sides explode into n_blocks block keys, the
    equi-join touches only same-block pairs, an exact Hamming filter
    restores precision. The seen side is typically the big one — the
    join shuffles on block keys, never all-pairs."""
    def blocks(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"_{tag}_id"),
            F.col(phash_col).alias(f"_{tag}_ph"),
            F.explode(
                _hash_blocks(F.col(phash_col), n_blocks, 64 // n_blocks + 1)
            ).alias("block"),
        )

    return (
        blocks(cand, "c")
        .join(blocks(seen, "s"), "block")
        .filter(_hamming(F.col("_c_ph"), F.col("_s_ph")) <= max_hamming)
        .select(F.col("_c_id").alias(id_col))
        .distinct()
    )


# ------------------------------ context-window chunking (corpus layout) ----
def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
    stride: int = 16,
    normalize: bool = True,
) -> DataFrame:
    """Split over-long documents into training context windows: chunks of
    at most ``max_tokens`` whitespace tokens (over the dedup-normalized
    text, or — ``normalize=False`` — the whitespace-collapsed verbatim
    text, the corpus-release mode where case/punctuation/redaction markers
    must survive), consecutive chunks overlapping by ``stride`` tokens —
    the standard sliding-window chunking every LLM pipeline runs between
    cleaning and packing. ``pack_bins`` (functions/text.py) deliberately
    lets a document straddle bin boundaries; this is the complementary
    operator for documents longer than the context itself, where the
    trainer needs N overlapping windows, not one straddle.

    Semantics (engine-exact, mirrored in the DuckDB oracle): with
    ``step = max_tokens - stride`` and n normalized tokens,
    ``n_chunks = 1 + ceil(max(0, n - max_tokens) / step)`` — every token
    appears in at least one chunk, chunk k starts at token ``k * step``,
    and only the last chunk may be short. A document at or under
    ``max_tokens`` yields exactly itself as chunk 0.

    Scale shape: one narrow ``posexplode`` over a per-row start list —
    no shuffle, no UDF; output size is corpus tokens x (1 + stride/step)
    and chunks inherit the input partitioning for the downstream
    (dedup/pack) stages.

    Returns (id, chunk_idx, chunk_start, n_chunk_tokens, chunk_text).
    """
    if not 0 <= stride < max_tokens:
        raise ValueError(f"need 0 <= stride < max_tokens, got {stride}, {max_tokens}")
    step = max_tokens - stride
    # NULL text is coalesced to '' so the row yields one empty chunk 0
    # instead of vanishing (size(NULL) would propagate NULL into the
    # sequence and posexplode would emit zero rows for the document)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    if normalize:
        toks = F.split(TX.normalize_text(txt), " ")
    else:
        toks = F.split(F.trim(F.regexp_replace(txt, r"\s+", " ")), " ")
    n = F.size(toks)
    # extra >= 0 keeps the ceil division in truncating-== -floor territory,
    # so Spark's floor(double) and DuckDB's integer // agree exactly
    extra = F.greatest(F.lit(0), n - F.lit(max_tokens))
    n_chunks = (
        F.lit(1) + F.floor((extra + F.lit(step - 1)) / F.lit(step))
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda k: k * F.lit(step)
    )
    out = df.select(
        F.col(id_col), toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_start") + 1, max_tokens)
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
