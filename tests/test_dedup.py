"""Dedup operator tests: exact first/best-wins parity with the reference's
Map semantics, MinHash/SimHash near-dup on planted duplicates, phash
banding exactness, connected components."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_crawler_spark.operators import dedup as D


def test_first_wins_keeps_ingest_order(spark):
    df = spark.createDataFrame(
        [("k1", 2, "second"), ("k1", 1, "first"), ("k2", 5, "only")],
        "key string, seq int, val string",
    )
    got = {r["key"]: r["val"] for r in D.dedup_first_wins(df, "key", "seq").collect()}
    assert got == {"k1": "first", "k2": "only"}


def test_best_wins_score_then_tiebreak(spark):
    df = spark.createDataFrame(
        [("k", 1, 10.0, "low-early"), ("k", 2, 20.0, "high"), ("k", 3, 20.0, "high-late")],
        "key string, seq int, score double, val string",
    )
    got = D.dedup_best_wins(df, "key", "score", "seq").collect()
    assert len(got) == 1 and got[0]["val"] == "high"


_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun near the garden wall"
)


def _corpus(spark):
    rows = []
    for i in range(20):
        # mostly-distinct vocabulary per doc (w{i}_{j}) over a small shared base
        distinct = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append((i, f"document number {i} " + _BASE + " " + distinct))
    # planted near-dup of doc 0: one word changed
    rows.append((100, rows[0][1].replace("afternoon", "morning")))
    # exact dup of doc 1 (different id)
    rows.append((101, rows[1][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_neardups(spark):
    df = _corpus(spark)
    cand = D.minhash_lsh_candidates(df, "doc_id", "text", k=3, perms=8, band_size=2)
    pairs = {(r["a"], r["b"]) for r in cand.collect()}
    # the one-word variant and the exact copy both band with their original
    assert (0, 100) in pairs and (1, 101) in pairs


def test_simhash_table_matches_column_impl(spark):
    """simhash_table against a per-document Python restatement of the
    same rule: 60-bit md5 feature hash per distinct shingle, bit b set
    iff the shingles voting 1 outnumber those voting 0."""
    import hashlib

    from web_crawler_spark.functions.text import normalize_text

    df = _corpus(spark).limit(5)
    a = {r["doc_id"]: r["simhash"] for r in D.simhash_table(df, "doc_id", "text", 3).collect()}
    b = {}
    for r in df.select("doc_id", normalize_text("text").alias("t")).collect():
        toks = r["t"].split(" ")
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
        b[r["doc_id"]] = sum(
            1 << bit for bit in range(60)
            if sum(1 if h >> bit & 1 else -1 for h in hs) > 0
        )
    assert a == b


def test_simhash_neardup_pairs(spark):
    df = _corpus(spark)
    sims = D.simhash_table(df, "doc_id", "text", 3)
    pairs = D.simhash_candidates(sims, "doc_id", "simhash", 4)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 101)] == 0  # exact dup → hamming 0
    # near-dup (one word changed) lands far closer than unrelated docs
    sim_map = {r["doc_id"]: r["simhash"] for r in sims.collect()}

    def ham(x, y):
        return bin((x ^ y) & (2 ** 64 - 1)).count("1")

    near = ham(sim_map[0], sim_map[100])
    unrelated = min(ham(sim_map[0], sim_map[j]) for j in range(2, 20))
    assert near < unrelated


def test_phash_banding_is_exact_for_small_distance(spark):
    # pairs within hamming <= 4 must always share one of 5 13-bit blocks
    rows = [("a", 0b1111), ("b", 0b0111), ("c", 1 << 40), ("d", (1 << 40) | 0b11)]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    pairs = D.phash_neardup_pairs(df, max_hamming=4)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got[("a", "b")] == 1
    assert got[("c", "d")] == 2
    assert ("a", "c") not in got


def test_connected_min(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    comp = {r["node"]: r["component"] for r in D.connected_min(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_min_deep_chain(spark):
    # a single diameter-99 path: bounded naive propagation (the old
    # max_iters=10 behavior) could only label 10 hops; hook+compress must
    # converge to the exact min label in O(log d) rounds
    edges = [(i, i + 1) for i in range(1, 100)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    comp = {r["node"]: r["component"] for r in D.connected_min(pairs).collect()}
    assert comp == {n: 1 for n in range(1, 101)}


def test_connected_min_reliable_checkpoint(spark):
    """checkpoint='reliable' writes each iteration's labels to the durable
    checkpoint dir (cluster survivability: a lost executor replays from
    storage instead of killing the lineage-truncated job) and must produce
    exactly the local-mode labels. Without a checkpoint dir it fails fast
    with a clear message instead of Spark's deep-stack error."""
    import tempfile

    import pytest

    edges = [(i, i + 1) for i in range(1, 40)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "a long, b long")

    import glob
    import os

    sc = spark.sparkContext
    had_dir = not sc._jsc.sc().getCheckpointDir().isEmpty()
    if not had_dir:
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            D.connected_min(pairs, checkpoint="reliable")
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="wcs_ckpt_"))
    ckdir = sc._jsc.sc().getCheckpointDir().get()
    ckdir = ckdir.removeprefix("file:")
    local = {r["node"]: r["component"] for r in D.connected_min(pairs).collect()}
    out = D.connected_min(pairs, checkpoint="reliable")

    # the checkpoint is the operator's reason to exist: every iteration's
    # labels must actually LAND as durable rdd-* part files...
    rdd_parts = glob.glob(os.path.join(ckdir, "**", "rdd-*", "part-*"),
                          recursive=True)
    assert rdd_parts, f"no checkpoint part files under {ckdir}"

    # ...and the returned frame's lineage must be CUT to a scan of the
    # checkpointed data — no joins/aggregates left to replay from the
    # original edges (that replay chain is exactly what an executor loss
    # must NOT need)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "LogicalRDD" in plan, plan

    reliable = {r["node"]: r["component"] for r in out.collect()}
    assert reliable == local
    assert reliable[40] == 1 and reliable[101] == 100

    # simulate the mid-job storage loss localCheckpoint could not survive:
    # drop every cached/local block, then recompute from the durable files
    spark.catalog.clearCache()
    assert {r["node"]: r["component"] for r in out.collect()} == local

    with pytest.raises(ValueError):
        D.connected_min(pairs, checkpoint="bogus")


def test_elect_captions_reliable_checkpoint_passthrough(spark):
    """The elect_captions caller must forward checkpoint='reliable' to
    connected_min (the flag existing on the operator is useless if the
    production callers cannot reach it)."""
    import tempfile

    from web_crawler_spark import images as IM

    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="wcs_ckpt_"))
    pairs = spark.createDataFrame(
        [("i1", "short"), ("i2", "a longer caption"), ("i3", "zzz"),
         ("i4", "solo")],
        "image_id string, caption string",
    )
    dups = spark.createDataFrame(
        [("i1", "i2"), ("i2", "i3")], "a string, b string"
    )
    for ck in ("local", "reliable"):
        got = {
            r["image_id"]: (r["cluster_id"], r["elected_caption"])
            for r in IM.elect_captions(pairs, dups, checkpoint=ck).collect()
        }
        assert got["i1"] == ("i1", "a longer caption")
        assert got["i2"] == ("i1", "a longer caption")
        assert got["i3"] == ("i1", "a longer caption")
        assert got["i4"] == ("i4", "solo")


def test_embedding_neardup_and_cosine(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # close to 1
        (3, [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = D.embedding_neardup_pairs(df, threshold=0.9)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_dsir_importance_selects_target_like_docs(spark):
    """DSIR: docs written in the target domain's vocabulary score ≥ 0 and
    are kept; distractor-vocabulary docs score < 0; the integer fixed-point
    mode and the paper's log-ratio mode agree on the clean split."""
    vocab_a = "aardvark bumblebee cactus dromedary"
    vocab_b = "zephyr quartz fjord glyph"
    rows = (
        [(i, f"{vocab_a} {vocab_a} aardvark", True) for i in range(10)]
        + [(100 + i, f"{vocab_b} {vocab_b} zephyr", False) for i in range(10)]
        # an UNLABELED probe per side: target membership comes from the
        # flag, but the score must follow the vocabulary
        + [(500, vocab_a, False), (501, vocab_b, False)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    for mode in ("fixed", "log"):
        got = {
            r["doc_id"]: r["keep"]
            for r in D.dsir_importance(
                df, target=F.col("is_t"), mode=mode, n_buckets=256
            ).collect()
        }
        assert len(got) == 22
        for i in range(10):
            assert got[i] is True and got[100 + i] is False, (mode, i)
        assert got[500] is True and got[501] is False, mode

    import pytest

    with pytest.raises(ValueError):
        D.dsir_importance(df, target=F.col("is_t"), mode="bogus")


def test_semantic_dedup_pairs_and_anti_join(spark):
    """SemDeDup: with an explicit 2-centroid codebook the cluster split is
    by construction, so the drop set is exact — each later in-cluster
    vector over threshold is dropped with its best earlier witness, and
    cross-cluster pairs are never even scored."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.98, 0.2, 0.0, 0.0]),   # cos(1,2) ~ 0.980
        (3, [0.95, -0.3, 0.0, 0.0]),  # cos(1,3) ~ 0.954, cos(2,3) ~ 0.874
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.1, 0.99, 0.0, 0.0]),   # cos(4,5) ~ 0.995
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = spark.createDataFrame(
        [([(0, [1.0, 0.0, 0.0, 0.0], 1.0), (1, [0.0, 1.0, 0.0, 0.0], 1.0)],)],
        "_cb array<struct<i:int, ce:array<double>, cn:double>>",
    )
    pairs = D.semantic_dedup_pairs(df, threshold=0.9, codebook=cb)
    got = {(r["dup"], r["witness"]) for r in pairs.collect()}
    # 3's witness is 1, not 2: cos(2,3) < 0.9 so 2 never pairs with 3
    assert got == {(2, 1), (3, 1), (5, 4)}

    kept = {r["vec_id"] for r in df.join(
        pairs.select(F.col("dup").alias("vec_id")), "vec_id", "left_anti"
    ).collect()}
    assert kept == {1, 4}

    # hash-seeded path: whatever the 2 seeds, every over-threshold pair is
    # within one of the two true clusters, so drops can only come from the
    # non-minimal members {2, 3, 5} and the witness is always the earlier id
    seeded = D.semantic_dedup_pairs(df, threshold=0.9, n_centroids=2).collect()
    assert all(r["witness"] < r["dup"] for r in seeded)
    assert {r["dup"] for r in seeded} <= {2, 3, 5}


def test_substring_dup_pairs_semantics(spark):
    """Verbatim 8-token passages pair; boilerplate above the df-cap does
    not; min_shared gates single-span coincidences."""
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    boiler = "this site uses cookies to improve your browsing experience ok"
    rows = [
        # docs 1 and 2 share the 10-token passage verbatim -> >= 3 shared
        # 8-token windows -> a pair
        (1, f"unique one text {passage} trailing words here"),
        (2, f"other doc opening {passage} different ending tokens"),
        # doc 3 shares only ONE 8-token window with doc 1 (prefix of the
        # passage cut short) -> below min_shared=2 -> no pair
        (3, "padding start alpha beta gamma delta epsilon zeta eta theta stop pad"),
    ]
    # 12 docs whose ONLY common text is the boilerplate sentence; with
    # max_df=10 its spans are dropped, so they pair with nothing
    rows += [(10 + i, f"doc{i} body {boiler} filler{i} tail{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["a"], r["b"]): r["shared_spans"]
        for r in D.substring_dup_pairs(
            df, "doc_id", "text", window=8, min_shared=2, max_df=10
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 3  # 10-token passage -> 3 windows
    assert all(a == 1 and b == 2 for (a, b) in pairs), pairs

    # min_shared=1 admits the single-window overlap with doc 3
    pairs1 = {
        (r["a"], r["b"])
        for r in D.substring_dup_pairs(
            df, "doc_id", "text", window=8, min_shared=1, max_df=10
        ).collect()
    }
    # the passage prefix window lives in docs 1 AND 2, so doc 3 pairs
    # with both under min_shared=1
    assert (1, 3) in pairs1 and (2, 3) in pairs1

    # raising the df-cap above 12 lets the boilerplate docs pair
    pairs_nocap = D.substring_dup_pairs(
        df, "doc_id", "text", window=8, min_shared=2, max_df=100
    ).count()
    assert pairs_nocap > len(pairs)


def test_substring_dup_pairs_frees_span_persists(spark):
    """The corpus-token-scale span persists are scoped to the call: after
    substring_dup_pairs returns, only the pair-scale materialized result
    may remain in the block store — the span stream and its df-capped
    projection are unpersisted (the 100 TB hazard: a persist with no owner
    pins ~the whole corpus for the SparkContext lifetime)."""
    rows = [(i, f"shared passage alpha beta gamma delta epsilon doc{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = D.substring_dup_pairs(df, "doc_id", "text", window=4, min_shared=1, max_df=100)
    out.count()  # consume after return — must NOT need the freed inputs
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # at most the lineage-truncated pair result itself remains persisted;
    # both corpus-scale intermediates are gone (unpersist was blocking)
    assert after <= before + 1, (before, after)
    assert out.count() > 0  # result is still fully readable post-unpersist


def test_decontaminate_flags_only_span_sharers(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox appears verbatim"),
            (2, "completely unrelated content about spark shuffles"),
            (3, "fox jumps over the lazy dog said the benchmark"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["first_eval_hit"], r["shared_spans"])
        for r in decontaminate(train, bench, window=4).collect()
    }
    # doc 1 shares "the quick brown fox"; doc 3 shares "fox jumps over the",
    # "jumps over the lazy", "over the lazy dog"; doc 2 is clean
    assert set(got) == {1, 3}
    assert got[1] == (100, 1)
    assert got[3] == (100, 3)


def test_stratified_sample_deterministic_and_rate_accurate(spark):
    import pyspark.sql.functions as F

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("zh").alias("lang"),
    )
    rates = {"en": 0.5, "zh": 0.1}
    a = D.stratified_sample(df, "doc_id", "lang", rates)
    b = D.stratified_sample(df, "doc_id", "lang", rates)
    ra = sorted(r["doc_id"] for r in a.collect())
    rb = sorted(r["doc_id"] for r in b.collect())
    assert ra == rb  # stable under re-execution

    kept = a.groupBy("lang").count().collect()
    n = {r["lang"]: r["count"] for r in kept}
    # 1000 en at 50%, 3000 zh at 10% — md5 buckets are uniform enough
    # for a ±20% band at this n
    assert 400 <= n["en"] <= 600 and 240 <= n["zh"] <= 360

    # subset invariance: sampling a filtered corpus keeps exactly the
    # intersection (the property rand() sampling lacks)
    sub = D.stratified_sample(
        df.filter(F.col("doc_id") < 2000), "doc_id", "lang", rates
    )
    assert sorted(r["doc_id"] for r in sub.collect()) == [
        d for d in ra if d < 2000
    ]

    # flags_only returns every row with the keep verdict
    fl = D.stratified_sample(df, "doc_id", "lang", rates, flags_only=True)
    assert fl.count() == 4000
    assert fl.filter("sample_keep").count() == len(ra)


def test_paragraph_dedup_boilerplate_drops_every_occurrence(spark):
    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nCOOKIE BANNER\nunique beta"),
            (2, "COOKIE BANNER\nunique gamma"),
            (3, "only original content here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(docs, min_df=2, mode="boilerplate").collect()
    }
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert out[1]["n_dropped"] == 1 and out[1]["n_paras"] == 3
    assert out[2]["clean_text"] == "unique gamma"
    assert out[3]["clean_text"] == "only original content here"
    assert out[3]["n_dropped"] == 0


def test_paragraph_dedup_keep_first_keeps_global_min_occurrence(spark):
    # the duplicated paragraph appears at (1, 1), (2, 0), and twice in
    # doc 2 — only the globally first (doc 1, pos 1) survives
    docs = spark.createDataFrame(
        [
            (1, "a\nDUP\nb"),
            (2, "DUP\nc\nDUP"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.paragraph_dedup(docs, min_df=2, mode="keep_first").collect()
    }
    assert out[1]["clean_text"] == "a\nDUP\nb" and out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == "c" and out[2]["n_dropped"] == 2


def test_paragraph_dedup_fully_boilerplate_doc_becomes_empty(spark):
    docs = spark.createDataFrame(
        [(1, "SAME"), (2, "SAME"), (3, "SAME")],
        "doc_id long, text string",
    )
    out = D.paragraph_dedup(docs, min_df=2, mode="boilerplate").collect()
    assert all(r["clean_text"] == "" and r["n_dropped"] == 1 for r in out)
    assert len(out) == 3  # every input doc still yields a row


def test_paragraph_dedup_partitioning_invariant(spark):
    rows = [(i, f"shared header\nbody {i % 5}\ntail {i}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = D.paragraph_dedup(docs, min_df=3, mode="keep_first").collect()
    b = D.paragraph_dedup(
        docs.repartition(16), min_df=3, mode="keep_first"
    ).collect()
    key = lambda r: (r["doc_id"], r["clean_text"], r["n_paras"], r["n_dropped"])
    assert sorted(map(key, a)) == sorted(map(key, b))


# ---------------------------------------------------------------------------
# lm_quality_buckets (CCNet head/middle/tail LM-quality tertiles)
# ---------------------------------------------------------------------------


def _lm_docs(spark):
    # target docs define the LM vocabulary; "good" docs reuse it, "junk"
    # docs are token soup the LM has never seen
    rows = [(i, "the quick brown fox jumps over the lazy dog", True)
            for i in range(6)]
    rows += [(10 + i, "the quick brown fox", False) for i in range(3)]
    rows += [(20 + i, f"zzq{i} xxv{i} qqj{i} vvk{i}", False) for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


def test_lm_quality_buckets_ranks_target_like_docs_head(spark):
    from pyspark.sql import functions as F

    docs = _lm_docs(spark)
    out = {r["doc_id"]: r for r in
           D.lm_quality_buckets(docs, target=F.col("is_t")).collect()}
    assert len(out) == 12
    # every in-vocabulary doc outscores every junk doc
    lo = max(out[20 + i]["score"] for i in range(3))
    hi = min(out[10 + i]["score"] for i in range(3))
    assert hi > lo
    # junk-token docs land in the tail tertile; 12 docs → exactly 4 per tier
    assert all(out[20 + i]["tier"] == "tail" for i in range(3))
    from collections import Counter

    tiers = Counter(r["tier"] for r in out.values())
    assert tiers == {"head": 4, "middle": 4, "tail": 4}


def test_lm_quality_buckets_deterministic_under_repartition(spark):
    from pyspark.sql import functions as F

    docs = _lm_docs(spark)
    key = lambda r: (r["doc_id"], r["score"], r["n_toks"], r["tier"])
    a = sorted(map(key, D.lm_quality_buckets(docs, F.col("is_t")).collect()))
    b = sorted(map(key, D.lm_quality_buckets(
        docs.repartition(16), F.col("is_t")).collect()))
    assert a == b


def test_lm_quality_buckets_tie_break_by_doc_id(spark):
    from pyspark.sql import functions as F

    # six identical docs: all tie on score, tiers split purely by doc_id
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma", i < 2) for i in range(6)],
        "doc_id long, text string, is_t boolean",
    )
    out = {r["doc_id"]: r["tier"] for r in
           D.lm_quality_buckets(docs, F.col("is_t")).collect()}
    assert out == {0: "head", 1: "head", 2: "middle",
                   3: "middle", 4: "tail", 5: "tail"}


# ---------------------------------------------------------------------------
# unimax_allocation / unimax_sample (Chung et al. 2023)
# ---------------------------------------------------------------------------


def test_unimax_allocation_caps_small_strata_and_spills_to_large():
    sizes = [("en", 218), ("de", 70), ("fr", 64), ("es", 73), ("zh", 75)]
    # budget 400, 1 epoch: every small lang caps at its size, en soaks up
    # the remainder
    got = D.unimax_allocation(sizes, budget=400, max_epochs=1)
    assert got == {"fr": 64, "de": 70, "es": 73, "zh": 75, "en": 118}
    assert sum(got.values()) == 400
    # epoch cap 2 with a huge budget: everything caps at 2 epochs, the
    # leftover budget goes unspent
    got2 = D.unimax_allocation(sizes, budget=10_000, max_epochs=2)
    assert got2 == {k: 2 * v for k, v in dict(sizes).items()}


def test_unimax_allocation_deterministic_tie_break_by_name():
    got = D.unimax_allocation([("b", 50), ("a", 50), ("c", 50)], 100, 1)
    # equal sizes: processed a, b, c — integer split 33/33/34
    assert got == {"a": 33, "b": 33, "c": 34}


def test_unimax_sample_upsamples_with_copies(spark):
    rows = [(i, "small") for i in range(10)] + [
        (100 + i, "big") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = D.unimax_sample(df, budget=80, max_epochs=3, flags_only=True)
    got = {r["doc_id"]: r for r in out.collect()}
    # small: alloc = min(3*10, 80//2=40) = 30 → every small doc 3 copies
    assert all(got[i]["unimax_copies"] == 3 for i in range(10))
    assert all(got[i]["unimax_alloc"] == 30 for i in range(10))
    # big: alloc = 50 of 100 → copies ∈ {0,1}, deterministic per doc
    big = [got[100 + i]["unimax_copies"] for i in range(100)]
    assert set(big) <= {0, 1}
    assert all(got[100 + i]["unimax_alloc"] == 50 for i in range(100))


def test_unimax_sample_deterministic_under_repartition(spark):
    rows = [(i, ["x", "y", "z"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    key = lambda r: (r["doc_id"], r["unimax_copies"])
    a = sorted(map(key, D.unimax_sample(df, budget=60, max_epochs=2).collect()))
    b = sorted(map(key, D.unimax_sample(
        df.repartition(16), budget=60, max_epochs=2).collect()))
    assert a == b and len(a) > 0


def test_dedup_against_corpus_equals_exact_anti_join(spark):
    corpus = spark.createDataFrame(
        [(i, f"standing doc number {i} body") for i in range(200)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        # 0-49: verbatim re-crawls (drop); 50-79: genuinely new (keep);
        # 80-81: near-miss revisions (keep — exact dedup only)
        [(1000 + i, f"standing doc number {i} body") for i in range(50)]
        + [(2000 + i, f"fresh increment doc {i}") for i in range(30)]
        + [(3000, "standing doc number 7 body extra"), (3001, "Standing doc number 7 body!")],
        "doc_id long, text string",
    )
    got = D.dedup_against_corpus(inc, corpus)
    ids = sorted(r["doc_id"] for r in got.collect())
    # 3001 normalizes to doc 7's text (case/punct) → exact dup, drops
    assert ids == sorted(list(range(2000, 2030)) + [3000])
    # the increment's columns, fingerprint last
    assert got.columns == ["doc_id", "text", "fingerprint"]


def test_c4_span_dedup_keeps_first_occurrence_deletes_rest(spark):
    """C4 §2.2 (operators/dedup.py:c4_span_dedup): a duplicated
    three-sentence span survives only at its globally first (doc, pos);
    every other copy's sentences are deleted — including a second copy
    inside the doc that owns the first occurrence."""
    P = "alpha beta gamma. delta epsilon zeta. eta theta iota."
    docs = spark.createDataFrame(
        [
            (0, P + " body zero one two. more words here."),
            (1, P + " entirely different body sentence."),
            (2, "unique doc with no duplicated spans at all. tail."),
            (3, P + " middle filler text. " + P),
            (4, "short."),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.c4_span_dedup(docs, window=3).collect()}
    assert len(out) == 6  # one row per input doc, empties included
    # first occurrence (doc 0, wpos 0) keeps the span verbatim
    assert out[0]["clean_text"].startswith("alpha beta gamma. delta")
    assert out[0]["n_dropped_sents"] == 0 and out[0]["n_sents"] == 5
    # later doc loses exactly the three planted sentences
    assert out[1]["clean_text"] == "entirely different body sentence."
    assert out[1]["n_dropped_sents"] == 3
    # doc 3 carries the span twice — BOTH copies drop (first is doc 0's)
    assert out[3]["clean_text"] == "middle filler text."
    assert out[3]["n_dropped_sents"] == 6 and out[3]["n_sents"] == 7
    # unique / sub-window / empty docs pass through untouched
    assert out[2]["n_dropped_sents"] == 0
    assert out[4]["clean_text"] == "short." and out[4]["n_sents"] == 1
    assert out[5]["clean_text"] == "" and out[5]["n_sents"] == 0


def test_c4_span_dedup_window_knob_and_overlap_union(spark):
    # window=2: doc 1 repeats (a. b.) at positions 0 and 2 → the second
    # copy drops; overlapping duplicated windows union their deletions,
    # never double-count
    docs = spark.createDataFrame(
        [(1, "a. b. a. b. c."), (2, "x. a. b. y.")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.c4_span_dedup(docs, window=2).collect()}
    # doc 1: windows (a,b)@0 dup-first keeps; (b,a)@1 unique... (a,b)@2
    # drops sentences 2-3; (b,c)@3 unique but sentence 3 already deleted
    assert out[1]["clean_text"] == "a. b. c."
    assert out[1]["n_dropped_sents"] == 2
    # doc 2's (a,b) copy drops too
    assert out[2]["clean_text"] == "x. y."
    assert out[2]["n_dropped_sents"] == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.c4_span_dedup(docs, window=0)


def test_c4_span_dedup_matches_python_reference(spark):
    """Bit-exact vs a straight single-threaded reference over a corpus
    with organic (unplanted) sentence repeats, independent of
    partitioning."""
    import hashlib
    import re

    rows = []
    for i in range(60):
        body = f"doc {i} opening line. " + (
            "shared chorus one. shared chorus two. shared chorus three. "
            if i % 4 == 0
            else f"solo verse {i} a. solo verse {i} b. "
        ) + f"closing {i % 7}."
        rows.append((i, body))

    def ref(docs, window=3):
        sents = {
            i: [s.strip() for s in re.findall(r"[^.!?]+[.!?]*", t) if s.strip()]
            for i, t in docs
        }
        occ = {}
        for i in sorted(sents):
            ss = sents[i]
            for w in range(max(len(ss) - window + 1, 0)):
                h = hashlib.md5("\x1f".join(ss[w:w + window]).encode()).hexdigest()
                occ.setdefault(h, []).append((i, w))
        out = {}
        for i in sorted(sents):
            ss = sents[i]
            dead = set()
            for w in range(max(len(ss) - window + 1, 0)):
                h = hashlib.md5("\x1f".join(ss[w:w + window]).encode()).hexdigest()
                if len(occ[h]) >= 2 and occ[h][0] != (i, w):
                    dead.update(range(w, w + window))
            kept = [s for j, s in enumerate(ss) if j not in dead]
            out[i] = (" ".join(kept), len(ss), len(ss) - len(kept))
        return out

    want = ref(rows)
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_sents"], r["n_dropped_sents"])
        for r in D.c4_span_dedup(df, window=3).collect()
    }
    assert got == want
    # something actually deduped (the % 4 chorus docs minus the first)
    assert sum(1 for v in want.values() if v[2] > 0) == 14


def test_temperature_allocation_exact_integer_roots():
    from web_crawler_spark.operators.dedup import (
        _iroot,
        temperature_allocation,
    )

    # _iroot is exact at perfect powers and their neighbours — the float
    # sqrt boundary cases the SQL guard exists for
    for k in (2, 3, 5):
        for base in (1, 7, 10**6, 2**31):
            x = base ** k
            assert _iroot(x, k) == base
            assert _iroot(x - 1, k) == base - 1
            assert _iroot(x + 1, k) == base

    # alpha=1/2 flattens the head: the small stratum's share of the
    # allocation exceeds its share of the corpus
    sizes = [("big", 90_000), ("small", 900)]
    al = temperature_allocation(sizes, budget=10_000, alpha=(1, 2))
    assert al["big"] + al["small"] <= 10_000
    assert al["small"] / 10_000 > 900 / 90_900
    # exact expected values: w = isqrt -> 300 and 30
    assert al == {"big": 10_000 * 300 // 330, "small": 10_000 * 30 // 330}
    # alpha=1 degenerates to proportional
    al1 = temperature_allocation(sizes, budget=10_000, alpha=(1, 1))
    assert al1["big"] == 10_000 * 90_000 // 90_900


def test_temperature_sample_copy_counts_and_growth_stability(spark):
    from web_crawler_spark.operators.dedup import temperature_sample

    rows = [(f"d{i:05d}", "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = temperature_sample(df, budget=800, alpha=(1, 2)).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r)
    # flattening: small (10% of corpus) gets > 10% of the realized sample
    n_small = sum(r["temp_copies"] for r in by.get("small", []))
    n_big = sum(r["temp_copies"] for r in by.get("big", []))
    assert n_small / max(n_small + n_big, 1) > 0.15
    # realized counts track the allocation (the md5 draw is a fixed
    # deterministic sample, so the deviation is a few sigma of the
    # binomial, not a tight quantum)
    for lang, rs in by.items():
        alloc = rs[0]["temp_alloc"]
        realized = sum(r["temp_copies"] for r in rs)
        assert abs(realized - alloc) <= max(5, alloc // 10)
    # membership is stable under corpus growth: the kept set of the
    # original strata is unchanged when a NEW stratum appears (its rows
    # hash independently; existing buckets don't move)
    kept1 = {r["doc_id"] for r in out}
    grown = spark.createDataFrame(
        rows + [(f"x{i}", "newlang") for i in range(50)],
        "doc_id string, lang string",
    )
    out2 = temperature_sample(grown, budget=800, alpha=(1, 2)).collect()
    # buckets are per-doc md5 draws, so a doc's bucket never moves; only
    # the per-stratum thresholds shift with the new allocation
    b1 = {r["doc_id"]: r["temp_bucket"] for r in out}
    b2 = {r["doc_id"]: r["temp_bucket"] for r in out2 if not r["doc_id"].startswith("x")}
    assert all(b2[d] == b1[d] for d in b2 if d in b1)
    assert kept1  # non-degenerate


# ------------------------------ context-window chunking ---------------------
def test_chunk_documents_short_doc_is_one_whole_chunk(spark):
    from web_crawler_spark.operators.dedup import chunk_documents

    df = spark.createDataFrame(
        [(1, "Alpha, beta GAMMA delta")], "doc_id long, text string"
    )
    out = chunk_documents(df, max_tokens=8, stride=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["chunk_idx"], r["chunk_start"]) == (0, 0)
    assert r["chunk_text"] == "alpha beta gamma delta"
    assert r["n_chunk_tokens"] == 4


def test_chunk_documents_windows_cover_and_overlap(spark):
    from web_crawler_spark.operators.dedup import chunk_documents

    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(7, " ".join(words))], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(df, max_tokens=8, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    step = 8 - 3
    # n_chunks = 1 + ceil((25 - 8) / 5) = 1 + 4 = 5
    assert len(out) == 5
    for k, r in enumerate(out):
        assert r["chunk_start"] == k * step
        toks = r["chunk_text"].split(" ")
        assert toks == words[k * step: k * step + 8]
        assert r["n_chunk_tokens"] == len(toks) <= 8
    # every token is covered and consecutive chunks overlap by stride
    covered = set()
    for r in out:
        covered.update(r["chunk_text"].split(" "))
    assert covered == set(words)
    a, b = out[0]["chunk_text"].split(" "), out[1]["chunk_text"].split(" ")
    assert a[-3:] == b[:3]


def test_chunk_documents_exact_boundary_no_empty_tail(spark):
    from web_crawler_spark.operators.dedup import chunk_documents

    # n == max_tokens: exactly one chunk; n == max_tokens + 1: two
    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(8))),
         (2, " ".join(f"b{i}" for i in range(9)))],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=8, stride=4).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    assert len(by[1]) == 1
    assert len(by[2]) == 2
    last = max(by[2], key=lambda r: r["chunk_idx"])
    assert last["chunk_start"] == 4 and last["n_chunk_tokens"] == 5


def test_chunk_documents_rejects_bad_stride():
    import pytest

    from web_crawler_spark.operators.dedup import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(None, max_tokens=8, stride=8)
    with pytest.raises(ValueError):
        chunk_documents(None, max_tokens=8, stride=-1)


def test_chunk_documents_plan_is_narrow(spark):
    from web_crawler_spark.operators.dedup import chunk_documents

    df = spark.createDataFrame(
        [(1, "x " * 100)], "doc_id long, text string"
    )
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # posexplode only — no shuffle
