"""Approximate-nearest-neighbor search over embedding columns.

Three tiers, as a 100 TB training-data pipeline needs:

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the full corpus, one shuffle for the per-query rank. The
  correctness baseline; also the right plan whenever |queries| is small,
  because the corpus is scanned once with zero index build.
- ``lsh_topk``: random-hyperplane-style LSH bucketing (sign pattern of
  selected dimensions → deterministic, seedless) with multi-probe
  (Hamming-1 neighbors of the query's bucket). Probes a small fraction of
  the corpus; recall/cost tuned by n_bits/probes. At cluster scale the
  corpus is bucketed once (write-time partitioning) and each query touches
  only its probe buckets — the scan prunes instead of reading 100 TB.

All math is higher-order-function column algebra (zip_with/aggregate) —
JVM-side, Arrow-free, no UDF. ``_dot``/``_l2`` are the engine's one
cosine fold (the near-dup operators in operators/dedup.py use them too).
Each side's L2 norm is projected ONCE before the pair join (``_l2``), so
per-pair work is a single dot fold (``_cosine``) instead of three array
passes — numerically bit-identical to the inline form (same IEEE op
order), 3× less per-pair compute and a ~3× smaller expression tree for
Catalyst to analyze/compile. Every top-k tier ends in ``topk_rank``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from web_crawler_spark.functions import text as TX
from web_crawler_spark.session import local_df


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array columns (JVM HOFs).

    Elements cast to double BEFORE the multiply: the DuckDB oracle
    computes ``a[i]::DOUBLE * b[i]::DOUBLE``, and a float32 product
    loses the ulp that flips a 6-dp rounding on boundary values
    (observed once at sf0.1 pair volume)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _l2(a: Column) -> Column:
    """Sequential-fold L2 norm — same op order and element precision as
    the inline cosine (cast before multiply, see _dot)."""
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda s, v: s + v.cast("double") * v.cast("double"),
        )
    )


def _cosine(av: Column | str, an: Column | str, bv: Column | str, bn: Column | str) -> Column:
    """Cosine of two vectors from their :func:`_l2` norms, projected once
    per row before the pair join: one :func:`_dot` fold per pair."""
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    return _dot(c(av), c(bv)) / (c(an) * c(bn))


def topk_rank(scored: DataFrame, k: int, id_col: str, score_col: str = "cosine") -> DataFrame:
    """The per-query top-k every ANN tier ends with: ``rank`` =
    row_number over (score desc, id asc) within ``query_id``, kept ≤ k."""
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus → window rank.

    Returns (query_id, vec_id, cosine, rank). Ties broken by vec_id for
    determinism.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _l2(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias("_cv"),
        _l2(F.col(vec_col)).alias("_cn"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id", id_col, _cosine("_qv", "_qn", "_cv", "_cn").alias("cosine")
    )
    return topk_rank(scored, k, id_col)


def pair_cosine_gate(
    left: DataFrame,
    right: DataFrame,
    pair_col: str = "pair_id",
    vec_col: str = "embedding",
    threshold: float = 0.1,
    keep_all: bool = False,
) -> DataFrame:
    """CLIP-score-style pair gate: cosine between two embedding columns
    joined on a shared pair key, keep pairs scoring ≥ ``threshold`` —
    the image↔caption alignment filter of the LAION/DataComp recipe
    (there the embeddings come from a CLIP tower; here they are data).

    Returns (pair_id, cosine[, pair_keep when keep_all]). The join is a
    plain equi-join on the pair key — both sides shuffle-partition by
    the same key, so at 100 TB the pairs co-locate and no broadcast or
    all-pairs structure exists. Each side's norm is projected once
    before the join (same IEEE fold order as the inline cosine)."""
    a = left.select(
        F.col(pair_col).alias("pair_id"),
        F.col(vec_col).alias("_av"),
        _l2(F.col(vec_col)).alias("_an"),
    )
    b = right.select(
        F.col(pair_col).alias("pair_id"),
        F.col(vec_col).alias("_bv"),
        _l2(F.col(vec_col)).alias("_bn"),
    )
    scored = a.join(b, "pair_id").select(
        "pair_id",
        F.round(_cosine("_av", "_an", "_bv", "_bn"), 6).alias("cosine"),
    )
    if keep_all:
        return scored.withColumn("pair_keep", F.col("cosine") >= threshold)
    return scored.filter(F.col("cosine") >= threshold)


def sign_bucket(vec_col: str, n_bits: int = 8) -> F.Column:
    """Deterministic LSH bucket: sign bits of the first n_bits dimensions.

    The hyperplanes are the coordinate axes — seedless and identical in
    any engine (the SQL oracle mirrors it verbatim). For anisotropic data
    swap in fixed literal hyperplanes; the plan shape is unchanged.
    """
    v = F.col(vec_col)
    out = F.lit(0)
    for i in range(n_bits):
        out = out + F.when(v[i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int | None = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: bucket corpus by sign-LSH; each query probes its own
    bucket plus all Hamming-``probe_hamming`` neighbors; exact cosine +
    rank inside the probed set only.

    ``n_bits=None`` derives the bucket width from the corpus size (avg
    bucket ≈ 64 rows) — a fixed low bit-count is the scale trap: at 10^10
    rows each of 2^8 buckets would hold ~4×10^7 vectors and the probe
    join goes quadratic."""
    if n_bits is None:
        import math

        n = corpus.count()
        n_bits = max(4, min(24, math.ceil(math.log2(max(n, 128) / 64.0))))
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        _l2(F.col(vec_col)).alias("_cn"),
        sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    # all XOR masks of weight 1..probe_hamming (weight 0 = own bucket).
    # The probe count is sum_d C(n_bits, d) — combinatorial in
    # probe_hamming, so widening the probe radius trades plan size and
    # join fan-out for recall explicitly (measured in tools/ann_recall.py)
    import itertools

    masks = [0]
    for d in range(1, probe_hamming + 1):
        for combo in itertools.combinations(range(n_bits), d):
            masks.append(sum(1 << b for b in combo))
    probes = [F.lit(m) for m in masks]
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _l2(F.col(vec_col)).alias("_qn"),
        F.explode(
            F.transform(F.array(*probes), lambda m: sign_bucket(vec_col, n_bits).bitwiseXOR(m))
        ).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", id_col, _cosine("_qv", "_qn", "_cv", "_cn").alias("cosine")
    )
    # a corpus vector can match several probe buckets of one query → dedup
    scored = scored.groupBy("query_id", id_col).agg(F.max("cosine").alias("cosine"))
    return topk_rank(scored, k, id_col)


def ivf_codebook(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_strategy: str = "hash",
) -> DataFrame:
    """Build the IVF coarse codebook as DATA: a one-row DataFrame whose
    single ``_cb`` column is array<struct<i, ce, cn>> (centroid index,
    vector, L2 norm). Broadcast-joined to corpus/queries, the whole
    codebook rides as one column value — the expression tree and compiled
    plan are O(1) in ``n_centroids`` (the literal-array form grew linearly
    and stopped compiling around realistic 4k–65k codebooks), and a
    Lloyd-trained codebook drops in as a different DataFrame, not code.

    ``seed_strategy='hash'`` (default) picks the ``n_centroids`` corpus
    vectors with the smallest ``md5('cb|' || id)`` — a deterministic,
    cross-engine-reproducible spread over the WHOLE corpus, so inverted
    lists stay balanced even when ids are clustered (first-N ids from one
    tight cluster would funnel most of the corpus into a handful of
    lists). ``'first'`` keeps the old smallest-id seeding for comparison.

    Centroid norms are folded driver-side: Python's left-to-right float
    sum and math.sqrt replay the exact IEEE op sequence of the JVM fold
    over the same doubles, so the 6-dp-rounded scores cannot move between
    engines.
    """
    if seed_strategy == "hash":
        order = [F.md5(F.concat(F.lit("cb|"), F.col(id_col).cast("string"))), F.col(id_col)]
    elif seed_strategy == "first":
        order = [F.col(id_col)]
    else:
        raise ValueError(f"unknown seed_strategy {seed_strategy!r}")
    rows = corpus.select(id_col, vec_col).orderBy(*order).limit(n_centroids).collect()
    entries = []
    for i, r in enumerate(rows):
        vec = [float(x) for x in r[vec_col]]
        entries.append((i, vec, math.sqrt(sum(x * x for x in vec))))
    return local_df(
        corpus.sparkSession,
        [(entries,)], "_cb array<struct<i:int, ce:array<double>, cn:double>>"
    )


def _cb_scored(vcol: Column, norm_col: Column) -> Column:
    """(-round(cosine,6), i) structs for every codebook entry — one
    transform over the ``_cb`` column, O(1) plan size in n_centroids.
    argmax cosine == array_min over the structs; ties break toward the
    lower centroid index (struct field order d, i)."""
    return F.transform(
        F.col("_cb"),
        lambda ent: F.struct(
            (-F.round(_cosine(vcol, norm_col, ent["ce"], ent["cn"]), 6)).alias("d"),
            ent["i"].alias("i"),
        ),
    )


def ivf_train_codebook(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_strategy: str = "hash",
) -> DataFrame:
    """Lloyd (k-means) refinement of the IVF codebook, entirely as
    DataFrame ops — the trained-codebook path that :func:`ivf_topk`
    accepts via ``codebook=``.

    Each iteration: (1) assign every corpus vector to its nearest
    centroid with :func:`ivf_assign` (broadcast join, shuffle-free);
    (2) recompute centroids as per-list means via posexplode →
    groupBy(list_id, pos) — the row expansion is dim×, but the aggregate
    is map-side combined, so the shuffle carries at most
    n_centroids × dim × n_partitions pre-combined rows, not the corpus;
    (3) collect the n_centroids × dim means (the codebook itself, which
    must fit on the driver by definition — it broadcasts) and rebuild the
    one-row codebook table. Lists that go empty keep their previous
    centroid. Deterministic given the seed strategy and input; float-mean
    reduction order is engine-internal, so a trained codebook is INPUT
    DATA to the oracled query, not itself oracle-mirrored.
    """
    cb = ivf_codebook(corpus, n_centroids, id_col, vec_col, seed_strategy)
    entries = {e["i"]: (list(e["ce"]), float(e["cn"])) for e in cb.first()["_cb"]}
    for _ in range(iters):
        assigned = ivf_assign(corpus, cb, id_col, vec_col)
        means = (
            assigned.select("list_id", F.posexplode("_cv").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg((F.sum("x") / F.count(F.lit(1))).alias("m"))
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("ce")
            )
        )
        for r in means.collect():
            vec = [float(x) for x in r["ce"]]
            nrm = math.sqrt(sum(x * x for x in vec))
            if nrm > 0:  # degenerate all-zero mean keeps the old centroid
                entries[r["list_id"]] = (vec, nrm)
        cb = local_df(
            corpus.sparkSession,
            [([(i, vec, nrm) for i, (vec, nrm) in sorted(entries.items())],)],
            "_cb array<struct<i:int, ce:array<double>, cn:double>>",
        )
    return cb


def ivf_distortion(corpus: DataFrame, codebook: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> float:
    """Mean (1 - cosine) of each vector to its assigned centroid — the
    quantity Lloyd iterations minimize; exposed for training diagnostics."""
    assigned = ivf_assign(corpus, codebook, id_col, vec_col)
    scored = assigned.join(F.broadcast(codebook)).select(
        (
            1
            + F.array_min(_cb_scored(F.col("_cv"), F.col("_cn")))["d"]
        ).alias("dist")
    )
    return scored.agg(F.avg("dist")).first()[0]


def ivf_assign(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each corpus vector to its inverted list: (id, _cv, _cn,
    list_id). Shuffle-free — a broadcast single-row join carries the
    codebook to every partition, and the argmin is per-row column algebra.
    At cluster scale this is the projection you write partitioned by
    ``list_id`` to build the IVF index."""
    return (
        corpus.select(
            F.col(id_col), F.col(vec_col).alias("_cv"), _l2(F.col(vec_col)).alias("_cn")
        )
        .join(F.broadcast(codebook))
        .select(
            F.col(id_col),
            "_cv",
            "_cn",
            F.array_min(_cb_scored(F.col("_cv"), F.col("_cn")))["i"].alias("list_id"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed_strategy: str = "hash",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: coarse codebook → inverted lists → probe ``nprobe``.

    The third tier next to brute force and LSH: corpus vectors are
    assigned to their nearest codebook centroid (the inverted list), and
    each query scores only the vectors in its ``nprobe`` nearest lists.
    At cluster scale the corpus is written partitioned by ``list_id``
    once, so a query's scan prunes to nprobe/n_centroids of the data —
    the IVF index structure of Faiss/Milvus, expressed as partition
    pruning.

    The codebook is a broadcast one-row table (see :func:`ivf_codebook`),
    hash-spread-seeded by default; pass ``codebook`` to use a trained one.
    Assignment scores round to 6 dp before the argmax so Spark and a SQL
    oracle agree at ulp boundaries; ties break toward the lower centroid
    index. Assignment stays shuffle-free column algebra: a broadcast
    single-row join (no repartition) plus array_min over per-entry
    (score, index) structs — no per-centroid expression growth, no UDF.
    """
    cb = (
        codebook
        if codebook is not None
        else ivf_codebook(corpus, n_centroids, id_col, vec_col, seed_strategy)
    )
    c = ivf_assign(corpus, cb, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _l2(F.col(vec_col)).alias("_qn"),
    ).join(F.broadcast(cb)).select(
        "query_id",
        "_qv",
        "_qn",
        F.explode(
            F.transform(
                F.slice(F.array_sort(_cb_scored(F.col("_qv"), F.col("_qn"))), 1, nprobe),
                lambda s: s["i"],
            )
        ).alias("list_id"),
    )
    # each corpus vector lives in exactly one list → no per-pair dedup
    scored = c.join(F.broadcast(q), "list_id").select(
        "query_id", id_col, _cosine("_qv", "_qn", "_cv", "_cn").alias("cosine")
    )
    return topk_rank(scored, k, id_col)


# ------------------------------------------------------ text relevance -----
def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = False,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query term set
    (Robertson & Zaragoza 2009) — the retrieval/data-selection scorer a
    corpus engine serves search and curriculum-mining queries with.

    Two-pass, zero-shuffle shape: pass 1 is ONE map-side-combined global
    aggregate producing (N, total_len, df per term) — a single row
    collected to the driver and re-embedded as literals, the codebook
    pattern; pass 2 is a narrow whole-stage-codegen projection computing
    per-term tf via array HOFs and the score in fixed expression order.
    At 100 TB that is two corpus scans and no exchange; callers scoring
    many query sets amortize pass 1 by passing the same ``docs`` (the
    stats depend only on the corpus and the term list).

    Engine-exactness: with ``log_idf=False`` (default) the idf is the raw
    odds ``(N - df + 0.5) / (df + 0.5)`` — monotone in the classic
    ``ln(1 + odds)``, so rankings are identical — and every operation in
    the score is IEEE +,-,*,/ on identically-parsed literals in a fixed
    syntactic order, hence bit-identical across Spark / DuckDB / Python.
    ``log_idf=True`` applies the textbook ``ln`` (libm — NOT bit-portable
    across engines; pytest-tier only).

    Returns (<id_col>, bm25 DOUBLE).
    """
    toks = F.split(TX.normalize_text(F.col(text_col)), " ")
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_len")
    )
    aggs = [F.count(F.lit(1)).alias("_n"), F.sum("_len").alias("_ls")]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains("_toks", t).cast("long")).alias(f"_df{i}")
        )
    st = base.agg(*aggs).collect()[0]
    n, ls = st["_n"], st["_ls"]
    ld = F.col("_len").cast("double")
    score = None
    for i, t in enumerate(terms):
        df_t = st[f"_df{i}"]
        idf = F.lit(float(n - df_t) + 0.5) / F.lit(float(df_t) + 0.5)
        if log_idf:
            idf = F.log(F.lit(1.0) + idf)
        tf = F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("double")
        contrib = idf * (
            (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1 * (1.0 - b))
               + F.lit(k1 * b) * (ld * F.lit(float(n)) / F.lit(float(ls))))
        )
        score = contrib if score is None else score + contrib
    return base.select(F.col(id_col), score.alias("bm25"))


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the classic inverted index over a text corpus: the
    build-once / serve-many physical layout that makes retrieval cost
    proportional to the query's posting lists instead of the corpus.

    Returns three DataFrames:

    - ``postings``: one row per (term, doc) — ``(term, doc_id, tf LONG,
      dl LONG)``. The doc length rides IN the posting row (the
      impact-ordered-index trick), so scoring never joins back to the
      corpus. One exchange on (term, doc_id, dl) with map-side combine —
      token repeats collapse before the shuffle.
    - ``term_stats``: ``(term, df LONG)`` — document frequency per term,
      derived from the postings (no second corpus scan).
    - ``corpus_stats``: one row ``(n LONG, total_len LONG)``.

    At 100 TB the postings table is written partitioned/bucketed by a
    term hash so a query's ``term IN (...)`` filter is a partition prune;
    in-plan, Catalyst pushes the same filter through the build aggregate
    (term is a grouping key), so even build-and-serve-in-one-plan only
    shuffles the query terms' postings (verified in
    tests/test_similarity_grid.py).
    """
    toks = F.split(TX.normalize_text(F.col(text_col)), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        F.size(toks).cast("long").alias("dl"),
    )
    postings = (
        base.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    corpus_stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_len")
    )
    return postings, term_stats, corpus_stats


def bm25_scores_indexed(
    postings: DataFrame,
    term_stats: DataFrame,
    n: int,
    total_len: int,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    log_idf: bool = False,
) -> DataFrame:
    """BM25 served FROM the inverted index: candidates are exactly the
    docs containing >= 1 query term, fetched by a ``term IN (...)``
    posting-list prune — the corpus itself is never touched. Scores are
    bit-identical to :func:`bm25_scores` on the candidate set: per-term
    tf arrives as a LONG slot sum over disjoint posting rows (adding
    exact zeros, so fold order cannot change the value), and the score
    expression is the same literals in the same syntactic order.

    ``term_stats`` rows for the query terms collect to the driver and
    re-embed as literals (the codebook pattern): df is per-term metadata,
    never a per-row join. Docs containing none of the terms score 0.0 in
    the scan variant and are absent here — the index serves "top-k of
    matching docs", which is what an index CAN serve and what retrieval
    means at 100 TB.

    Returns (doc_id, bm25 DOUBLE).
    """
    dfs = {
        r["term"]: int(r["df"])
        for r in term_stats.filter(F.col("term").isin(list(terms))).collect()
    }
    cand = postings.filter(F.col("term").isin(list(terms)))
    slots = [
        F.sum(
            F.when(F.col("term") == F.lit(t), F.col("tf")).otherwise(F.lit(0))
        ).alias(f"_tf{i}")
        for i, t in enumerate(terms)
    ]
    g = cand.groupBy("doc_id", "dl").agg(*slots)
    ld = F.col("dl").cast("double")
    score = None
    for i, t in enumerate(terms):
        df_t = dfs.get(t, 0)
        idf = F.lit(float(n - df_t) + 0.5) / F.lit(float(df_t) + 0.5)
        if log_idf:
            idf = F.log(F.lit(1.0) + idf)
        tf = F.col(f"_tf{i}").cast("double")
        contrib = idf * (
            (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1 * (1.0 - b))
               + F.lit(k1 * b) * (ld * F.lit(float(n)) / F.lit(float(total_len))))
        )
        score = contrib if score is None else score + contrib
    return g.select("doc_id", score.alias("bm25"))


# ------------------------------------------------- product quantization ----
def _l2sq_micro(a: Column, b: Column) -> Column:
    """Squared L2 distance of two array slices in integer MICRO-UNITS:
    floor(dist * 1e6 + 0.5) as LONG. Elements cast to double before the
    subtract (see _dot); the fold is sequential so Spark, DuckDB list_sum,
    and Python's left-to-right sum replay the same IEEE op sequence, and
    the micro-unit quantization makes every downstream comparison and SUM
    integer-exact — argmins and ADC totals cannot move between engines."""
    d = F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    return F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def _sub_l2sq(v: Column, s: Column, ent: Column) -> Column:
    """Micro-unit L2² from subspace ``s`` of ``v`` to codebook entry ``ent``."""
    n = F.size(ent["ce"])
    return _l2sq_micro(F.slice(v, s * n + 1, n), ent["ce"])


def _pq_nearest(v: Column, field: str) -> Column:
    """Per subspace, ``field`` ('j' index or 'd' distance) of the nearest
    ``_pcb`` entry to ``v`` (ties to the lower index)."""
    return F.transform(
        F.col("_pcb"),
        lambda cbs, s: F.array_min(
            F.transform(
                cbs, lambda ent: F.struct(_sub_l2sq(v, s, ent).alias("d"), ent["j"].alias("j"))
            )
        )[field],
    )


def _adc_lut(v: Column) -> Column:
    """The [m][k] ADC lookup table of ``v``: micro-unit L2² from each of
    its subvectors to every entry of its subspace's codebook."""
    return F.transform(
        F.col("_pcb"), lambda cbs, s: F.transform(cbs, lambda ent: _sub_l2sq(v, s, ent))
    )


def _adc_score(m: int) -> Column:
    """score = −(Σ_s LUT[s][code[s]]) / 1e6: m table lookups summed in
    fixed subspace order — an exact integer before the scale."""
    adist = None
    for s in range(m):
        term = F.element_at(
            F.element_at(F.col("_lut"), s + 1),
            F.element_at(F.col("pq_code"), s + 1) + 1,
        )
        adist = term if adist is None else adist + term
    return (-(adist.cast("double") / F.lit(1000000.0))).alias("score")


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
) -> DataFrame:
    """Product-quantization codebooks as DATA (Jégou et al. 2011): the
    vector space splits into ``m`` contiguous subspaces; each gets its own
    ``k``-entry codebook. Returned as a one-row DataFrame whose ``_pcb``
    column is array<array<struct<j, ce>>> [m][k] — the same
    broadcast-codebook pattern as :func:`ivf_codebook`, so plan size is
    O(1) in m·k and a Lloyd-trained codebook drops in as data.

    Seeding is hash-spread PER SUBSPACE: subspace ``s`` takes the k corpus
    vectors with the smallest ``md5('pq{s}|' || id)`` and slices out its
    own dims — deterministic, cross-engine-reproducible, and decorrelated
    across subspaces (each subspace sees a different k-sample of the
    corpus, the PQ analogue of independent per-subspace k-means inits).
    """
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        rows = (
            corpus.select(id_col, vec_col)
            .orderBy(
                F.md5(F.concat(F.lit(f"{salt}{s}|"), F.col(id_col).cast("string"))),
                F.col(id_col),
            )
            .limit(k)
            .collect()
        )
        books.append(
            [
                (j, [float(x) for x in r[vec_col]][s * sub:(s + 1) * sub])
                for j, r in enumerate(rows)
            ]
        )
    return local_df(
        corpus.sparkSession,
        [(books,)], "_pcb array<array<struct<j:int, ce:array<double>>>>"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its ``m``-byte PQ code: per subspace, the
    index of the nearest codebook entry (micro-unit L2², ties to the
    lower index). Shuffle-free — a broadcast one-row join plus nested
    array HOFs; at cluster scale this is the projection that turns a
    100 TB float corpus into an m-bytes-per-vector code table (16x-64x
    smaller), written once and served forever. Returns
    (id, pq_code array<int>)."""
    return _pq_assign(corpus, codebooks, id_col, vec_col).select(
        F.col(id_col), "pq_code"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC top-k (asymmetric distance computation): queries stay
    full-precision, the corpus is its PQ codes, and each pair costs m
    TABLE LOOKUPS instead of a dim-length dot product. The query side
    projects its lookup table ONCE (micro-unit L2² from each query
    subvector to every codebook entry — an [m][k] array column), then the
    broadcast pair join sums m element_at's in fixed subspace order; the
    total is an exact integer, so ranking is deterministic across
    engines.

    score = -(adc_micro / 1e6): higher is better (matches the rank
    direction of the cosine tiers); the magnitude is the approximate
    squared L2 distance. At 100 TB this composes with
    :func:`ivf_assign` into IVFADC — codes partitioned by coarse list,
    each query probing nprobe lists and paying m lookups per candidate —
    and the code table is the only thing the hot path reads.

    Returns (query_id, <id_col>, score DOUBLE, rank).
    """
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(corpus, m, n_centroids, id_col, vec_col)
    )
    enc = pq_encode(corpus, cb, id_col, vec_col)
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
        .join(F.broadcast(cb))
        .select("query_id", _adc_lut(F.col("_qv")).alias("_lut"))
    )
    scored = enc.join(F.broadcast(q)).select("query_id", id_col, _adc_score(m))
    return topk_rank(scored, k, id_col, "score")


def _pq_assign(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep, _v, pq_code) — the encode projection keeping the
    vector, for the training/distortion/IVFADC paths. ``keep`` columns
    (e.g. the coarse list_id) ride through untouched."""
    return (
        corpus.select(
            F.col(id_col), *[F.col(c) for c in keep], F.col(vec_col).alias("_v")
        )
        .join(F.broadcast(codebooks))
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            "_v",
            _pq_nearest(F.col("_v"), "j").alias("pq_code"),
        )
    )


def pq_distortion(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean total quantization error (micro-unit L2² summed over
    subspaces) of encoding the corpus with these codebooks — the
    training objective, measurable per iteration like ivf_distortion."""
    per_row = (
        corpus.select(F.col(vec_col).alias("_v"))
        .join(F.broadcast(codebooks))
        .select(
            F.aggregate(
                _pq_nearest(F.col("_v"), "d"),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("_tot")
        )
    )
    return float(per_row.agg(F.avg("_tot")).first()[0])


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
) -> DataFrame:
    """Lloyd refinement of the PQ codebooks — per-subspace k-means run
    for ALL subspaces in one pass per iteration, entirely as DataFrame
    ops (the PQ twin of :func:`ivf_train_codebook`).

    Each iteration: (1) encode the corpus against the current codebooks
    (broadcast join, shuffle-free); (2) recompute every (subspace, code)
    cell's centroid as the mean of its assigned subvectors via ONE
    posexplode over the full vector — dim position ``pos`` maps to
    subspace ``pos div sub`` and cell ``pq_code[s]`` — with a map-side
    combined groupBy(s, j, ipos), so the shuffle carries at most
    m·k·sub × n_partitions pre-combined rows, never the corpus; (3)
    collect the m·k·sub means (the codebook — driver-sized by
    definition) and rebuild the one-row table. Cells that go empty keep
    their previous centroid. Deterministic given the seeding; float-mean
    reduction order is engine-internal, so a trained codebook is INPUT
    DATA to the oracled query, not itself oracle-mirrored.
    """
    cb = pq_codebooks(corpus, m, k, id_col, vec_col, salt)
    first = cb.first()["_pcb"]
    books = {
        (s, e["j"]): [float(x) for x in e["ce"]]
        for s, cbs in enumerate(first)
        for e in cbs
    }
    sub = len(books[(0, 0)])
    for _ in range(iters):
        assigned = _pq_assign(corpus, cb, id_col, vec_col)
        scol = F.floor(F.col("pos") / sub).cast("int")
        ex = assigned.select(
            F.posexplode("_v").alias("pos", "x"), "pq_code"
        ).select(
            scol.alias("s"),
            F.element_at(F.col("pq_code"), scol + 1).alias("j"),
            F.pmod(F.col("pos"), F.lit(sub)).alias("ipos"),
            F.col("x").cast("double").alias("x"),
        )
        means = ex.groupBy("s", "j", "ipos").agg(F.avg("x").alias("mu"))
        for r in means.collect():
            books[(r["s"], r["j"])][r["ipos"]] = float(r["mu"])
        cb = local_df(
            corpus.sparkSession,
            [(
                [
                    [(j, books[(s, j)]) for j in range(k)]
                    for s in range(m)
                ],
            )],
            "_pcb array<array<struct<j:int, ce:array<double>>>>",
        )
    return cb


# ------------------------------------------------------------- IVFADC ------
def _list_centroid(list_col: Column) -> Column:
    """The ``ce`` vector of the codebook entry whose index equals
    ``list_col`` — an O(n_centroids) array filter on the broadcast
    ``_cb`` column, no join fan-out."""
    return F.element_at(
        F.filter(F.col("_cb"), lambda e: e["i"] == list_col), 1
    )["ce"]


def ivfadc_residuals(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, _rv) — each vector's coarse list and its RESIDUAL
    against that list's centroid (x − c, element-wise double subtract:
    one IEEE op per element, so Spark / DuckDB / Python produce
    bit-identical residuals from the same inputs). Shuffle-free: the
    coarse assignment is :func:`ivf_assign` column algebra and the
    centroid lookup is an array filter on the broadcast codebook."""
    return (
        ivf_assign(corpus, codebook, id_col, vec_col)
        .join(F.broadcast(codebook))
        .select(
            F.col(id_col),
            "list_id",
            F.zip_with(
                F.col("_cv"),
                _list_centroid(F.col("list_id")),
                lambda x, c: x.cast("double") - c,
            ).alias("_rv"),
        )
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 4,
    pq_k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011, the Faiss `IVFx,PQy` index): coarse
    IVF pruning COMPOSED with PQ-ADC scoring of residuals — the
    canonical billion-scale ANN shape, here as pure DataFrame algebra.

    Index side (write-once at cluster scale): every corpus vector is
    assigned to its nearest coarse centroid (:func:`ivf_assign`), its
    RESIDUAL against that centroid is PQ-encoded (m bytes), and the
    (list_id, pq_code) table — 16-64x smaller than the floats — is
    written partitioned by ``list_id``. Query side: each query probes
    its ``nprobe`` nearest lists; per probed list it builds the ADC
    lookup table from its OWN residual against that list's centroid
    (the LUT is per-(query, list), which is exactly why IVFADC beats
    plain PQ: residuals are small and the codebook spends its k codes
    on a tighter distribution). Scoring a candidate costs m integer
    table lookups; candidates outside probed lists are never read —
    partition pruning does the index's job.

    Determinism: micro-unit integer distances end-to-end (see
    :func:`_l2sq_micro`), hash-spread seeding for both codebooks, ties
    to the lower code/centroid index, rank ties to the lower id — the
    whole pipeline is mirrored row-for-row by the DuckDB oracle. Pass
    ``codebook``/``codebooks`` to use Lloyd-trained ones
    (:func:`ivf_train_codebook` / :func:`pq_train_codebooks` on the
    residual table); trained books are input DATA, same plan.

    Returns (query_id, <id_col>, score DOUBLE = −adc/1e6, rank).
    """
    cb = (
        codebook
        if codebook is not None
        else ivf_codebook(corpus, n_centroids, id_col, vec_col)
    )
    res = ivfadc_residuals(corpus, cb, id_col, vec_col)
    pcb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(res, m, pq_k, id_col, "_rv", salt="pqr")
    )
    enc = _pq_assign(res, pcb, id_col, "_rv", keep=("list_id",)).select(
        F.col(id_col), "list_id", "pq_code"
    )
    # query side: nprobe nearest lists, then a per-(query, list) residual
    # LUT — [m][pq_k] micro-unit distances from the query's residual
    # subvectors to every code entry.
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _l2(F.col(vec_col)).alias("_qn"),
        )
        .join(F.broadcast(cb))
        .select(
            "query_id",
            "_qv",
            "_cb",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(_cb_scored(F.col("_qv"), F.col("_qn"))),
                        1,
                        nprobe,
                    ),
                    lambda s: s["i"],
                )
            ).alias("list_id"),
        )
        .select(
            "query_id",
            "list_id",
            F.zip_with(
                F.col("_qv"),
                _list_centroid(F.col("list_id")),
                lambda x, c: x.cast("double") - c,
            ).alias("_qr"),
        )
        .join(F.broadcast(pcb))
        .select("query_id", "list_id", _adc_lut(F.col("_qr")).alias("_lut"))
    )
    # a corpus vector lives in exactly one list → the equi-join IS the
    # candidate pruning, and no per-pair dedup is needed.
    scored = enc.join(F.broadcast(q), "list_id").select("query_id", id_col, _adc_score(m))
    return topk_rank(scored, k, id_col, "score")
