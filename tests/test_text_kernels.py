"""Unit tests for the text-analysis column kernels (functions/text.py)
against literal expected values computed by hand / pure Python."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from web_crawler_spark.functions import text as TX


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _docs(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")


def test_token_counts(spark):
    df = _docs(spark, ["the cat sat", "  a  b ", "", "one"])
    got = df.select("doc_id", TX.token_count("text").alias("n")).collect()
    assert {r["doc_id"]: r["n"] for r in got} == {0: 3, 1: 2, 2: 0, 3: 1}


def test_bpe_token_count(spark):
    df = _docs(spark, ["Hello, world! x2"])
    # tokens: hello , world ! x2  → alnum runs: hello, world, x2; punct: , !
    assert df.select(TX.bpe_token_count("text").alias("n")).collect()[0]["n"] == 5


def test_normalize_and_fingerprint(spark):
    df = _docs(spark, ["  Hello,   WORLD!! ", "hello world"])
    rows = df.select(TX.normalize_text("text").alias("n"), TX.fingerprint("text").alias("f")).collect()
    assert rows[0]["n"] == "hello world" == rows[1]["n"]
    expect = hashlib.md5(b"hello world").hexdigest()
    assert rows[0]["f"] == expect == rows[1]["f"]


def test_shingles(spark):
    df = _docs(spark, ["a b c d", "a b"])
    rows = df.orderBy("doc_id").select(TX.shingles("text", 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == ["a b"]  # shorter than k → single shingle


def test_stopword_and_punct_ratio(spark):
    df = _docs(spark, ["the cat and dog", "!!!!"])
    r = df.orderBy(F.length("text").desc()).select(
        TX.stopword_ratio("text").alias("sw"), TX.punct_ratio("text").alias("p")
    ).collect()
    assert abs(r[0]["sw"] - 0.5) < 1e-9  # the, and of 4 tokens
    assert abs(r[1]["p"] - 1.0) < 1e-9


def test_minhash_signature_matches_python(spark):
    from web_crawler_spark.operators.dedup import minhash_signature_table

    text = "the quick brown fox jumps over the lazy dog"
    df = _docs(spark, [text])
    sig = minhash_signature_table(df, "doc_id", "text", k=3, perms=4).collect()[0]
    toks = text.split(" ")
    sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    for p in range(4):
        want = min(hashlib.md5(f"{p}|{s}".encode()).hexdigest() for s in sh)
        assert sig[f"m{p}"] == want


def test_word_overlap_similarity(spark, sf_dir):
    """X10 as the registry computes it: |common| / |union| over each
    document's distinct normalized tokens, pairs above 0.7."""
    from web_crawler_spark.analytics.queries import q_word_overlap_pairs

    got = {(r["a"], r["b"]): r["overlap"]
           for r in q_word_overlap_pairs(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", TX.normalize_text("text").alias("t"))
        .collect()
    )
    toks = {r["doc_id"]: set(r["t"].split(" ")) for r in docs}
    want = {}
    for a in toks:
        for b in toks:
            if a < b:
                j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
                if j > 0.7:
                    want[(a, b)] = round(j, 6)
    assert got == want and got


def test_lang_id(spark):
    df = _docs(spark, ["the cat is on the mat", "zzz qqq xxx", "日本語のテキストです"])
    got = [r["l"] for r in df.orderBy("doc_id").select(TX.lang_id("text").alias("l")).collect()]
    assert got == ["en", "unknown", "unknown"]


def test_extract_pins_tagged_battery(spark):
    # advanced-extractor.service.js:22-27,393-406 — every match per
    # country pattern, tagged, in insertion order (india, us, uk, canada)
    from web_crawler_spark.functions.records import extract_pins
    from pyspark.sql import functions as F

    text = ("Dispatch PIN 600001, ZIP 90210-1234 or 12345, "
            "UK SW1 2AA or SW1A 1AA, CA K1A 0B1.")
    df = spark.createDataFrame([(text,)], "t string")
    pins = df.select(F.explode(extract_pins("t")).alias("p")) \
             .select("p.code", "p.country").collect()
    got = [(r["code"], r["country"]) for r in pins]
    assert got == [
        ("600001", "india"),        # 6 digits: US \b rejects it
        ("90210-1234", "us"),       # greedy ZIP+4, one match
        ("12345", "us"),
        ("SW1 2AA", "uk"),          # 'SW1A 1AA' does NOT match the
                                    # reference's UK pattern (letter
                                    # after the district digits)
        ("K1A 0B1", "canada"),      # UK pattern must not claim it
    ]


def test_repetition_stats_run_length_semantics(spark):
    # Gopher signals computed by hand: "a b a b a b c" →
    # 2-grams: [a b, b a, a b, b a, a b, b c] → mode "a b" x3 (len 3),
    # dup grams: "a b" x3 + "b a" x2 → dup_chars = 3*3 + 2*3 = 15
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.text import repetition_stats

    df = spark.createDataFrame([("a b a b a b c",), ("x y z",)], "t string")
    got = {
        r["t"]: (r["s"]["top_n"], r["s"]["top_len"], r["s"]["dup_chars"])
        for r in df.select("t", repetition_stats("t", 2).alias("s")).collect()
    }
    assert got["a b a b a b c"] == (3, 3, 15)
    assert got["x y z"] == (1, 3, 0)  # all 2-grams distinct → no dups


def test_repetition_stats_short_doc_whole_shingle(spark):
    # fewer tokens than k → one whole-doc shingle, never a crash
    from web_crawler_spark.functions.text import repetition_stats

    df = spark.createDataFrame([("hello",), ("",)], "t string")
    rows = {r["t"]: r["s"] for r in df.select("t", repetition_stats("t", 3).alias("s")).collect()}
    assert rows["hello"]["top_n"] == 1 and rows["hello"]["dup_chars"] == 0
    assert rows[""]["dup_chars"] == 0


def test_hash_split_is_deterministic_and_roughly_proportioned(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.text import hash_split

    df = spark.range(0, 10_000).select(hash_split("id").alias("split"))
    counts = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.87 < counts["train"] / 10_000 < 0.93
    # stable: same key → same split regardless of what else is in the table
    one = spark.range(42, 43).select(hash_split("id").alias("s")).first()["s"]
    again = spark.range(0, 100).filter(F.col("id") == 42).select(hash_split("id").alias("s")).first()["s"]
    assert one == again


def test_pack_bins_greedy_fill_within_bucket(spark):
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.text import pack_bins

    # one bucket (n_buckets=1) → pure greedy fill in key order
    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 300), (4, 50)], "doc_id long, nt int"
    )
    got = {
        r["doc_id"]: (r["p"]["bin"], r["p"]["offset"])
        for r in df.select(
            "doc_id", pack_bins("nt", "doc_id", n_buckets=1, capacity=512).alias("p")
        ).collect()
    }
    # cum_before: 0, 300, 600, 900 → bins 0,0,1,1; offsets 0,300,88,388
    assert got == {1: (0, 0), 2: (0, 300), 3: (1, 88), 4: (1, 388)}


def test_pack_bins_no_global_sort(spark):
    # the plan must window per bucket, never a single global partition
    from web_crawler_spark.functions.text import pack_bins

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id").withColumn(
        "nt", (F.col("doc_id") % 90 + 10).cast("int")
    )
    plan = df.select(
        pack_bins("nt", "doc_id", n_buckets=8).alias("p")
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_redact_pii_cascade_and_counts(spark):
    from web_crawler_spark.functions.text import redact_pii

    rows = [
        ("mail bob.smith+x@mail.example.com now",
         "mail <EMAIL> now", 1, 0, 0),
        ("server 10.0.3.7 and 192.168.1.1 up",
         "server <IP> and <IP> up", 0, 2, 0),
        ("call +1 (415) 555-0137 or 020 7946 0958 now",
         "call <PHONE> or <PHONE> now", 0, 0, 2),
        # order is load-bearing: the IP must be masked before the phone
        # pattern can eat it
        ("a3@x.io then 10.1.2.3 then 555 0101 99",
         "<EMAIL> then <IP> then <PHONE>", 1, 1, 1),
        ("nothing to scrub", "nothing to scrub", 0, 0, 0),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], "text string")
    got = df.select("text", redact_pii("text").alias("p")).collect()
    by_text = {r["text"]: r["p"] for r in got}
    for text, red, ne, ni, np_ in rows:
        p = by_text[text]
        assert p["redacted"] == red, text
        assert (p["n_emails"], p["n_ips"], p["n_phones"]) == (ne, ni, np_)


def test_redact_pii_is_codegen_only(spark):
    # the scrub is regexp column algebra — no python UDF in the plan
    from web_crawler_spark.functions.text import redact_pii

    df = spark.range(10).select(
        F.concat(F.lit("u"), "id", F.lit("@x.io")).alias("text")
    )
    plan = df.select(redact_pii("text").alias("p"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_clean_lines_rules_and_rejoin(spark):
    """Line cleaning: first-tripped-rule counts, survivors rejoined in
    order, and the whole thing stays codegen column algebra."""
    from web_crawler_spark.functions.text import clean_lines

    page = "\n".join([
        "a perfectly normal first sentence",   # keep
        "OK",                                  # short (words < 3)
        "ALL CAPS NAV HEADER",                 # caps
        "1234 567 89",                         # numeric
        "We use cookie banners.",              # boiler
        "BIG SALE cookie",                     # caps wins: first tripped rule
        "closing normal line here",            # keep
    ])
    df = spark.createDataFrame([(page,)], "text string")
    r = df.select(clean_lines("text").alias("c")).first()["c"]
    assert (r["n_lines"], r["n_kept"]) == (7, 2)
    assert (r["n_short"], r["n_caps"], r["n_numeric"], r["n_boiler"]) == (1, 2, 1, 1)
    assert r["cleaned"] == "a perfectly normal first sentence\nclosing normal line here"

    plan = df.select(clean_lines("text").alias("c"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_blocklist_hits_words_phrases_and_boundaries(spark):
    from web_crawler_spark.functions.text import blocklist_hits

    rows = [
        # case + punctuation absorbed by normalization; distinct words
        ("Win the JACKPOT, casino casino fun!", 2, 0, "casino", False),
        # whole-word only: 'casinos' must NOT match 'casino'
        ("casinos are lovely", 0, 0, None, True),
        # phrase with collapsible whitespace
        ("claim your Free   Money today", 0, 1, "free money", False),
        # phrase boundary: 'freedom money' must not match 'free money'
        ("freedom money is different", 0, 0, None, True),
        # word + phrase together; first_hit is the lexicographic min
        ("xxx and free money", 1, 1, "free money", False),
        ("a clean document", 0, 0, None, True),
        (None, 0, 0, None, True),
    ]
    df = spark.createDataFrame(
        [(i, r[0]) for i, r in enumerate(rows)], "i long, text string"
    )
    got = {r["i"]: r["b"] for r in
           df.select("i", blocklist_hits("text").alias("b")).collect()}
    for i, (_, nw, np_, first, keep) in enumerate(rows):
        b = got[i]
        assert (b["n_words"], b["n_phrases"], b["first_hit"], b["keep"]) == (
            nw, np_, first, keep), rows[i]


def test_blocklist_hits_custom_lists_and_codegen(spark):
    from web_crawler_spark.functions.text import blocklist_hits

    df = spark.createDataFrame(
        [("buy zzyzx now",), ("totally fine",)], "text string"
    )
    got = df.select(
        blocklist_hits("text", words=["zzyzx"], phrases=[]).alias("b")
    ).collect()
    assert [r["b"]["keep"] for r in got] == [False, True]
    # pure column algebra — no BatchEvalPython / ArrowEvalPython in the plan
    plan = df.select(blocklist_hits("text").alias("b"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "EvalPython" not in plan


def test_gopher_quality_rule_battery(spark):
    """Each A1.1 rule trips independently on a doc built to violate only
    it (functions/text.py:gopher_quality; Rae et al. 2021 Appendix A1.1)."""
    from web_crawler_spark.functions.text import gopher_quality

    good = "the quick brown fox jumps over that lazy dog with style " * 6
    rows = [
        # (text, violated_flag or None)
        (good.strip(), None),
        ("the cat sat with that", "ok_words"),            # 5 words < 50
        ((good + "# # # # # # # # # # ").strip(), "ok_symbol"),  # 10#, 76 wds
        (good.strip() + "\n• bullet line", "ok_bullet"),   # 1/2 lines bullet
        (good.strip() + "\ntrails...\nmore...", "ok_ellipsis"),
        (" ".join(["12"] * 20) + " " + good.strip(), "ok_alpha"),
        (("zebra quagga lion tiger " * 15).strip(), "ok_stop"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(rows)], "i long, text string"
    )
    got = {r["i"]: r["g"] for r in
           df.select("i", gopher_quality("text", min_words=40).alias("g")).collect()}
    flags = ["ok_words", "ok_wordlen", "ok_symbol", "ok_bullet",
             "ok_ellipsis", "ok_alpha", "ok_stop"]
    for i, (text, bad) in enumerate(rows):
        g = got[i]
        for fl in flags:
            want = fl != bad
            assert g[fl] == want, (i, fl, dict(g.asDict()))
        assert g["keep"] == (bad is None), (i, dict(g.asDict()))
    # symbol rule also counts non-overlapping '...' runs
    r = df.limit(0)
    ell = spark.createDataFrame(
        [(("word " * 30).strip() + " .... and more...",)], "text string"
    ).select(gopher_quality("text", min_words=5).alias("g")).collect()[0]["g"]
    assert ell["ok_symbol"]  # 2 runs, 33 words: 20 <= 33
    del r


def test_gopher_quality_thresholds_and_codegen(spark):
    from web_crawler_spark.functions.text import gopher_quality

    df = spark.createDataFrame(
        [("the cat sat with that mat be here",), ("",)], "text string"
    )
    got = df.select(gopher_quality("text", min_words=3).alias("g")).collect()
    assert got[0]["g"]["keep"]          # window override admits short docs
    assert not got[1]["g"]["keep"]      # blank text is never kept
    assert not got[1]["g"]["ok_wordlen"]
    # mean-word-length boundaries are integer cross-multiplications:
    # 10 two-char words -> mean 2 < 3 fails; 10 three-char words passes
    b = spark.createDataFrame(
        [("aa " * 10,), ("aaa " * 10,)], "text string"
    ).select(gopher_quality("text", min_words=3).alias("g")).collect()
    assert not b[0]["g"]["ok_wordlen"] and b[1]["g"]["ok_wordlen"]
    plan = df.select(gopher_quality("text").alias("g"))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "EvalPython" not in plan
