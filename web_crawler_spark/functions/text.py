"""Text-analysis kernels for the training-data pipeline, as pure Spark
column expressions (JVM-side, whole-stage-codegen friendly — no Python in
the hot path).

These generalize the reference's text heuristics — length-window
predicates (heuristic-extractor.service.js:64,95,136), exact-key
normalization (enhanced-deduplication.service.js:169-176) — into the operations a
large-scale corpus pipeline needs: tokenization, language ID, quality
scoring, shingling, and fingerprinting.

Design note on hashing: every hash used for dedup/minhash is ``md5`` of a
string. md5 is bit-identical across Spark, DuckDB, and Python, which is
what lets every operator here carry an exact SQL oracle. Hex strings
compare lexicographically == numerically, so MIN over md5-hex is a valid
minhash; we never need engine-specific hash functions in comparable
output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list (public knowledge; deliberately tiny and
# fixed so the oracle SQL can inline it verbatim).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "from",
]

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/number/punct splitter: letters+digits runs or single punct
BPE_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text (array<string>)."""
    return F.split(F.trim(_c(text)), TOKEN_SPLIT_RE)


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE)))


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks.

    A cheap, deterministic stand-in for a real BPE tokenizer's length
    signal (used for token budgeting in training-data pipelines).
    """
    return F.size(F.regexp_extract_all(F.lower(_c(text)), F.lit(BPE_RE), 0))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are stopwords (0.0 if no tokens)."""
    toks = tokens(text)
    sw = F.array([F.lit(s) for s in STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    n = F.size(toks)
    return F.when(n > 0, n_sw.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    t = _c(text)
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t)).otherwise(F.lit(0.0))


def quality_score_text(text: Column | str) -> Column:
    """Document quality score in [0,100]: length window + stopword band +
    low punctuation. The corpus analogue of the reference's weighted
    field-presence score (data-quality.service.js:7-48): additive
    weighted components, clamped.

    Components (sum 100):
      40 * length in [200, 5000] chars (reference length-window style)
      30 * stopword_ratio in [0.05, 0.6] (natural-language band)
      30 * punct_ratio < 0.2
    """
    t = _c(text)
    ln = F.length(t)
    c_len = F.when((ln >= 200) & (ln <= 5000), F.lit(40)).otherwise(F.lit(0))
    sw = stopword_ratio(text)
    c_sw = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(30)).otherwise(F.lit(0))
    c_p = F.when(punct_ratio(text) < 0.2, F.lit(30)).otherwise(F.lit(0))
    return (c_len + c_sw + c_p).cast("int")


def lang_id(text: Column | str) -> Column:
    """Tiny language-ID heuristic: 'en' if stopword ratio ≥ 0.05 and text
    is mostly ASCII letters, 'unknown' otherwise. (N-gram-profile LID
    reduced to its cheapest deterministic core so the oracle can mirror it.)
    """
    ascii_ratio = (
        F.length(F.regexp_replace(_c(text), r"[^A-Za-z0-9\s]", "")).cast("double")
        / F.greatest(F.length(_c(text)), F.lit(1))
    )
    return F.when(
        (stopword_ratio(text) >= 0.05) & (ascii_ratio >= 0.9), F.lit("en")
    ).otherwise(F.lit("unknown"))


def normalize_text(text: Column | str) -> Column:
    """Dedup normalization: lowercase, strip non-alnum, collapse whitespace
    (the corpus analogue of enhanced-deduplication.service.js:169-176)."""
    t = F.lower(_c(text))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    Same value in Spark / DuckDB / Python — the exact-dedup key.
    """
    return F.md5(normalize_text(text))


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles (array<string>) over normalized whitespace tokens.

    Used by MinHash and n-gram-Jaccard dedup. Implemented with
    higher-order functions (transform over index range + slice) — no UDF.
    Documents shorter than k tokens yield a single shingle of all tokens.
    """
    toks = F.split(normalize_text(text), " ")

    # let-bind the token array through a 1-element-array transform: HOF
    # arguments get no common-subexpression elimination, so referencing
    # `toks` directly in the k slices + size + fallback would re-run the
    # regex normalization k+3 times per row (measured: the shingle build
    # alone cost 6 s over 5k docs at sf0.1; binding it once is ~4x)
    def over(t: Column) -> Column:
        n = F.size(t)
        n_sh = n - F.lit(k - 1)
        # zip_with over k shifted slices: O(n) array ops instead of the
        # per-index transform+slice form, which is O(n*k) with interpreted
        # expression eval per element (measured 5-6x slower at corpus scale)
        shifted = [F.slice(t, i + 1, n_sh) for i in range(k)]
        joined = shifted[0]
        for nxt in shifted[1:]:
            joined = F.zip_with(
                joined, nxt, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        return F.when(n <= F.lit(k), F.array(F.array_join(t, " "))).otherwise(joined)

    return F.transform(F.array(toks), over)[0]


def repetition_stats(text: Column | str, k: int) -> Column:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1) over the
    k-token shingle multiset, as one struct column:

    - ``top_n``     — multiplicity of the most frequent k-gram;
    - ``top_len``   — its character length (ties resolve to the first
                      gram in sort order, so the value is deterministic);
    - ``dup_chars`` — total characters across all k-grams occurring more
                      than once (count x gram length).

    Implemented as a single ``aggregate`` pass over the SORTED shingle
    array — a run-length scan entirely inside the row, so the metric
    costs zero shuffle at any corpus size (the naive form is
    explode -> groupBy(doc, gram) -> re-agg: two corpus-scale shuffles).
    """
    s = F.array_sort(shingles(text, k))
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top_n"),
        F.lit(0).cast("long").alias("top_len"),
        F.lit(0).cast("long").alias("dup_chars"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc.prev == x
        run2 = F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long"))
        # a run closes when the gram changes; duplicated runs bank chars
        dup2 = acc.dup_chars + F.when(
            ~same & (acc.run >= 2), acc.run * F.length(acc.prev)
        ).otherwise(F.lit(0).cast("long"))
        top_n2 = F.greatest(acc.top_n, run2)
        top_len2 = F.when(run2 > acc.top_n, F.length(x)).otherwise(acc.top_len)
        return F.struct(
            x.alias("prev"), run2.alias("run"), top_n2.alias("top_n"),
            top_len2.alias("top_len"), dup2.alias("dup_chars"),
        )

    def fin(acc: Column) -> Column:
        dup = acc.dup_chars + F.when(
            acc.run >= 2, acc.run * F.length(acc.prev)
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            acc.top_n.alias("top_n"), acc.top_len.alias("top_len"),
            dup.alias("dup_chars"),
        )

    return F.aggregate(s, init, step, fin)


def hash_split(key: Column | str, train_pct: int = 90, val_pct: int = 5) -> Column:
    """Deterministic train/val/test assignment: md5 of the row key, first
    16 bits mod 100 against the split boundaries. Properties that make
    this the training-data-pipeline standard over ``rand()`` splits:
    stable under corpus growth and re-partitioning (a document's split
    never depends on other rows or on execution order), reproducible
    across engines (md5 is md5 everywhere — the DuckDB oracle computes
    the identical label), and leakage-safe when keyed on the dedup
    cluster id instead of the raw doc id."""
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), _c(key).cast("string"))), 1, 4
            ),
            16, 10,
        ).cast("int")
        % 100
    )
    return (
        F.when(h < train_pct, F.lit("train"))
        .when(h < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def pack_bins(
    n_tokens: Column | str,
    order_key: Column | str,
    n_buckets: int = 8,
    capacity: int = 512,
) -> Column:
    """Sequence packing for training: assign each document a deterministic
    position in a fixed-capacity token stream — struct(bucket, bin, offset).

    Documents shard into ``n_buckets`` by md5 of the order key, then pack
    greedily in key order within the bucket: a running token count gives
    each doc its bin (``cum_before // capacity``) and offset
    (``cum_before % capacity``). A document may straddle a bin boundary —
    the trainer splits at ``capacity`` like a separator-less GPT-style
    pack; offset says where the doc starts.

    Scale shape: the only wide operation is a PER-BUCKET window cumsum —
    buckets are independent, so parallelism is n_buckets (size it to the
    cluster; the default 8 is fixture-scale). No global sort exists
    anywhere: a single global packing order would serialize the corpus
    through one partition, which is exactly the 100 TB trap this avoids.
    The md5 bucketing is engine-portable, so the assignment is
    reproducible in the DuckDB oracle and across reruns.
    """
    key = _c(order_key)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pack|"), key.cast("string"))), 1, 4), 16, 10)
        .cast("int") % n_buckets
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(bucket)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(_c(n_tokens)).over(w), F.lit(0).cast("long"))
    return F.struct(
        bucket.alias("bucket"),
        F.floor(cum_before / capacity).cast("long").alias("bin"),
        (cum_before % capacity).cast("long").alias("offset"),
    )


# ------------------------------------------------------- PII redaction -----
# The C4/Dolma-style scrub pass a training corpus runs before release:
# emails, IPv4 addresses, and phone numbers masked with typed tokens.
# Patterns are deliberately RE2-safe (no lookaround, no backreferences)
# so the DuckDB oracle evaluates the identical regex; replacement order
# is load-bearing (IPs would otherwise be eaten by the phone pattern).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9().\- ]{6,}[0-9]"


LINE_BOILER = (
    "cookie", "javascript", "lorem ipsum", "terms of use",
    "privacy policy", "all rights reserved",
)


def line_rule(line: Column) -> Column:
    """Classify one line for corpus cleaning (RefinedWeb/Dolma line rules):
    0 keep, else the FIRST tripped rule — 1 too few words (< 3), 2 mostly
    uppercase (> half the letters), 3 mostly digits (> half the non-space
    chars), 4 boilerplate phrase (cookie/javascript/legal notices).
    Ratio thresholds are integer cross-multiplications (2·upper > letters),
    so the decision is exact in any engine — no float compare."""
    words = F.size(F.regexp_extract_all(line, F.lit(r"\S+"), F.lit(0)))
    letters = F.length(F.regexp_replace(line, "[^A-Za-z]", ""))
    uppers = F.length(F.regexp_replace(line, "[^A-Z]", ""))
    digits = F.length(F.regexp_replace(line, "[^0-9]", ""))
    nonspace = F.length(F.regexp_replace(line, r"\s", ""))
    low = F.lower(line)
    boiler = F.lit(False)
    for p in LINE_BOILER:
        boiler = boiler | low.contains(p)
    return (
        F.when(words < 3, F.lit(1))
        .when((letters > 0) & (uppers * 2 > letters), F.lit(2))
        .when((nonspace > 0) & (digits * 2 > nonspace), F.lit(3))
        .when(boiler, F.lit(4))
        .otherwise(F.lit(0))
    )


def clean_lines(text: Column | str) -> Column:
    """Line-level corpus cleaning (the RefinedWeb/Dolma stage between raw
    extraction and document-level filters): split on newlines, drop lines
    per :func:`line_rule`, rejoin the survivors. Returns struct(cleaned,
    n_lines, n_kept, n_short, n_caps, n_numeric, n_boiler) — counts are by
    first-tripped rule, so they sum with n_kept to n_lines.

    Pure codegen column algebra. The per-line rule vector is let-bound via
    the 1-element-array transform trick (HOF args get no common-subexpr
    elimination, so naming it once avoids re-running the five per-line
    regexes for every count)."""
    lines = F.split(_c(text), "\n")

    def build(rules: Column) -> Column:
        def cnt(code: int) -> Column:
            return F.size(F.filter(rules, lambda r: r == code)).cast("long")

        kept = F.filter(
            F.zip_with(lines, rules, lambda l, r: F.when(r == 0, l)),
            lambda l: l.isNotNull(),
        )
        return F.struct(
            F.array_join(kept, "\n").alias("cleaned"),
            F.size(lines).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            cnt(1).alias("n_short"),
            cnt(2).alias("n_caps"),
            cnt(3).alias("n_numeric"),
            cnt(4).alias("n_boiler"),
        )

    return F.transform(F.array(F.transform(lines, line_rule)), build)[0]


def redact_pii(text: Column | str) -> Column:
    """Mask PII in ``text``: struct(redacted, n_emails, n_ips, n_phones).

    Cascade: emails → ``<EMAIL>``, then IPv4 → ``<IP>``, then phone-like
    digit runs → ``<PHONE>``. Each count is taken on the string the stage
    actually sees (post-prior-redaction), so counts sum to the number of
    mask tokens in the output. Pure codegen column algebra — no UDF."""
    t0 = _c(text)
    n_e = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL_RE), F.lit(0)))
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    n_i = F.size(F.regexp_extract_all(t1, F.lit(PII_IP_RE), F.lit(0)))
    t2 = F.regexp_replace(t1, PII_IP_RE, "<IP>")
    n_p = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), F.lit(0)))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return F.struct(
        t3.alias("redacted"),
        n_e.cast("long").alias("n_emails"),
        n_i.cast("long").alias("n_ips"),
        n_p.cast("long").alias("n_phones"),
    )


# C4-style blocklist (Raffel et al. 2020 §2.2: drop any page containing a
# word from a fixed public blocklist; Dolma's taggers keep the doc and
# record the hits instead — we expose both readings). The real lists are
# thousands of entries; the DEFAULTS below are a tiny neutral spam-term
# stand-in with the same matching semantics (whole normalized words, plus
# multi-word phrases), fixed so the SQL oracle can inline them verbatim.
# A production list drops in as the ``words``/``phrases`` parameters.
BLOCKLIST_WORDS = ["casino", "jackpot", "lottery", "viagra", "xxx"]
# phrases must already be in normalized form (lowercase, single spaces)
BLOCKLIST_PHRASES = ["free money", "limited time offer"]


def blocklist_hits(
    text: Column | str,
    words: list[str] | None = None,
    phrases: list[str] | None = None,
) -> Column:
    """Blocklist gate over normalized text: struct(n_words, n_phrases,
    first_hit, keep).

    - ``n_words``: DISTINCT blocklist words present as whole tokens of
      ``normalize_text(text)`` (so "Casino!" matches, "casinos" does not
      — C4 matches whole words, not substrings).
    - ``n_phrases``: blocklist phrases present with word boundaries
      (space-padded containment over the normalized string).
    - ``first_hit``: lexicographically smallest matched entry (NULL when
      clean) — deterministic, engine-exact, and enough to audit WHY a doc
      was dropped without hauling the full match set around.
    - ``keep``: the C4 reading (no hits at all).

    Pure codegen column algebra: the lists ride as literal arrays (a
    production-sized list would broadcast-join a terms table instead —
    the codebook-as-data pattern from operators/similarity.py — but at
    blocklist sizes the literal array stays well under plan limits).
    """
    ws = sorted(BLOCKLIST_WORDS if words is None else words)
    ps = sorted(BLOCKLIST_PHRASES if phrases is None else phrases)
    # total function: NULL text reads as clean (counts 0, keep true) —
    # emptiness gates live elsewhere in the pipeline
    norm = F.coalesce(normalize_text(text), F.lit(""))
    toks = F.array_distinct(F.split(norm, " "))
    whits = F.array_sort(
        F.array_intersect(toks, F.array([F.lit(w) for w in ws]))
    )
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    phits = F.array_sort(
        F.filter(
            F.array([F.lit(p) for p in ps]),
            lambda p: padded.contains(F.concat(F.lit(" "), p, F.lit(" "))),
        )
    )
    n_w = F.size(whits)
    n_p = F.size(phits)
    return F.struct(
        n_w.cast("long").alias("n_words"),
        n_p.cast("long").alias("n_phrases"),
        F.array_min(F.concat(whits, phits)).alias("first_hit"),
        ((n_w + n_p) == 0).alias("keep"),
    )


# Gopher / MassiveText document-level quality rules (Rae et al. 2021,
# Appendix A1.1). The paper's required-stop-word list is fixed at these 8.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: list[str] | None = None,
    min_stop: int = 2,
) -> Column:
    """Gopher/MassiveText document-quality rule battery (Rae et al. 2021,
    Appendix A1.1) as one struct column — the full document-level filter
    (the repetition signals A1.1 also specifies live in
    ``repetition_stats``; composed, the two are the complete Gopher gate).

    Rules, each a boolean flag (``keep`` = all seven):

    - ``ok_words``    — whitespace word count in [min_words, max_words];
    - ``ok_wordlen``  — mean word length in [3, 10] characters;
    - ``ok_symbol``   — symbol-to-word ratio ('#' chars + non-overlapping
                        '...' runs) ≤ 0.1;
    - ``ok_bullet``   — ≥ 90% of lines do NOT start with a bullet
                        ('•', '- ', '* ' after left-trim);
    - ``ok_ellipsis`` — ≤ 30% of lines end with '...' (after right-trim);
    - ``ok_alpha``    — ≥ 80% of words contain ≥ 1 alphabetic character;
    - ``ok_stop``     — ≥ ``min_stop`` distinct words from the stop list
                        appear (default: the paper's 8-word list; the
                        knob exists because that list assumes English
                        prose — a domain corpus passes its own).

    Engine-exact by construction: every ratio threshold is an integer
    cross-multiplication (``10 * symbols <= n_words``, never a float
    division), so the flags are bit-identical in Spark, DuckDB, and
    Python — the same discipline as ``line_rule``. Everything is a
    single-row column expression (split + HOF filter/size), zero shuffle,
    whole-stage codegen; at corpus scale the gate costs one narrow
    projection, exactly what a 100 TB pre-filter pass wants.

    Blank text degenerates to one empty token (n_words = 1, sum_chars =
    0) and fails ``ok_wordlen``, so it is never kept.

    Returns struct(n_words LONG, ok_words, ok_wordlen, ok_symbol,
    ok_bullet, ok_ellipsis, ok_alpha, ok_stop, keep BOOLEAN).
    """
    t = _c(text)
    ws = tokens(t)
    n = F.size(ws).cast("long")
    sum_chars = F.length(F.regexp_replace(t, r"\s", "")).cast("long")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    n_ell = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0)).cast("long")
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.startswith(F.ltrim(l), F.lit("•"))
            | F.startswith(F.ltrim(l), F.lit("- "))
            | F.startswith(F.ltrim(l), F.lit("* ")),
        )
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(lines, lambda l: F.endswith(F.rtrim(l), F.lit("...")))
    ).cast("long")
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    stops = F.array([F.lit(s) for s in (stopwords or GOPHER_STOPWORDS)])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(F.transform(ws, F.lower)), stops)
    ).cast("long")
    ok_words = (n >= min_words) & (n <= max_words)
    ok_wordlen = (3 * n <= sum_chars) & (sum_chars <= 10 * n)
    ok_symbol = 10 * (n_hash + n_ell) <= n
    ok_bullet = 10 * n_bullet <= n_lines
    ok_ellipsis = 10 * n_ell_lines <= 3 * n_lines
    ok_alpha = 5 * n_alpha >= 4 * n
    ok_stop = n_stop >= min_stop
    return F.struct(
        n.alias("n_words"),
        ok_words.alias("ok_words"),
        ok_wordlen.alias("ok_wordlen"),
        ok_symbol.alias("ok_symbol"),
        ok_bullet.alias("ok_bullet"),
        ok_ellipsis.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (
            ok_words & ok_wordlen & ok_symbol & ok_bullet
            & ok_ellipsis & ok_alpha & ok_stop
        ).alias("keep"),
    )
