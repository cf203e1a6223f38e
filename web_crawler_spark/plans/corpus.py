"""The end-to-end training-corpus build: every training-data operator in
this engine, composed in the order a production pipeline runs them.

This is the "what the crawl is FOR" plan — the reference crawls pages and
emits image+caption / document rows (north_star: "emitting image+caption
rows"); a training pipeline then turns that raw corpus into a release.
Stage order follows the public recipes (C4/Gopher/Dolma for text,
LAION/DataComp for pairs):

  text:   cross-doc paragraph dedup (optional, CCNet-first) →
          line-level cleaning → lang-ID gate → quality gate →
          Gopher repetition gate → PII scrub → exact dedup →
          substring/near-dup drop → benchmark decontamination →
          DSIR target-domain selection → CCNet LM-quality tiers →
          stratified or UniMax mixing → train/val/test split →
          sequence packing → optional BPE vocabulary training +
          tokenized lengths
  pairs:  metadata curation gates → exact caption dedup →
          phash near-dup collapse → CLIP-score-style alignment gate →
          aspect-ratio bucketing → WebDataset shard layout

Shuffle audit (the 100 TB shape): line cleaning, the per-document gates
and the scrub are narrow (zero shuffles, whole-stage codegen); each
dedup/decon stage shuffles once on its key; DSIR adds two map-side-
combinable bucket aggregations (its distribution table is n_buckets
rows, rebroadcast as data); the CCNet LM stage is the same shape plus a
histogram-sized cumulation (never a global corpus sort); mixing/split
are narrow again (UniMax collects only the #languages size table);
packing windows per md5 bucket (parallelism = n_buckets); BPE training
folds the corpus to the vocabulary ONCE, then each merge round is
vocab-sized. Nothing corpus-sized collects to the driver and no stage
is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_crawler_spark.functions import text as TX
from web_crawler_spark.operators import dedup as D

# Stage settings no caller varies, fixed at the values every release used.
MAX_TOP2_FRAC = 0.2  # Gopher: top duplicate 2-gram's share of the characters
PACK_BUCKETS = 8  # sequence-packing parallelism (md5 buckets)
PARA_MODE = "boilerplate"  # paragraph_dedup survivor policy
LM_KEEP_TIERS = ("head", "middle")  # CCNet keeps head + middle tertiles
MAX_HAMMING = 8  # phash near-dup / decontamination radius
BATCH_SIZE = 8  # aspect-bucket batch size
N_WRITERS = 8  # WebDataset shard writers
LANG_MIX_ALPHA = (1, 2)  # temperature-sampling exponent alpha = 1/2 (n^alpha)

def build_text_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: int = 70,
    mix_rates: dict[str, float] | None = None,
    default_mix_rate: float = 1.0,
    pack_capacity: int = 512,
    line_clean: bool = True,
    dsir_target=None,
    para_min_df: int | None = None,
    gopher_min_words: int | None = None,
    gopher_min_stop: int = 2,
    c4_span_window: int | None = None,
    lm_target=None,
    unimax_budget: int | None = None,
    unimax_epochs: int = 1,
    learn_bpe: int | None = None,
    chunk_max: int | None = None,
    chunk_stride: int = 0,
) -> DataFrame:
    """Raw documents (doc_id, text, lang, …) → release-ready corpus with
    (doc_id, lang, text_redacted, n_tokens, split, pack_bucket/bin/offset).

    Every stage is one of this engine's oracled operators; this function
    only sequences them. Returns the kept rows; each drop stage is a
    filter or anti-join so lineage stays explainable.

    ``line_clean`` runs the RefinedWeb/Dolma line rules first (drop
    short/caps/numeric/boilerplate lines, rejoin; docs cleaned to empty
    are dropped). ``dsir_target`` (a boolean Column over the input
    schema, e.g. ``F.col("lang") == "en"``) enables DSIR importance
    resampling after decontamination: only docs scoring ≥ 0 against the
    target-vs-raw hashed-unigram contrast survive to mixing.

    ``lm_target`` (a boolean Column, e.g. the labeled in-domain rows)
    enables the CCNet LM-quality stage: documents are scored by the
    target-trained fixed-point unigram LM and only the
    ``LM_KEEP_TIERS`` tertiles survive (CCNet keeps head+middle). ``unimax_budget``
    switches mixing from per-stratum rates to UniMax epoch-capped
    allocation over ``lang`` (docs with ≥ 1 copy survive; the copy count
    rides along as ``unimax_copies``). ``learn_bpe`` = n merges: train a
    BPE vocabulary on the RELEASED text and append ``n_bpe_tokens`` (the
    post-merge token count a loader would see).

    ``para_min_df`` (CCNet ordering: cross-document paragraph dedup runs
    FIRST, before any per-document gate) rewrites each doc's text through
    operators/dedup.py:paragraph_dedup at that document-frequency
    threshold with the ``PARA_MODE`` survivor policy; docs whose every
    paragraph was boilerplate drop here. The reassembled text joins back
    on doc_id to recover the metadata columns (one co-keyed join)."""
    if para_min_df is not None:
        cleaned = (
            D.paragraph_dedup(
                docs, "doc_id", "text", min_df=para_min_df, mode=PARA_MODE
            )
            .filter(F.col("clean_text") != "")
            .select("doc_id", "clean_text")
        )
        docs = (
            docs.drop("text")
            .join(cleaned, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )
    if c4_span_window is not None:
        # C4 sentence-span dedup (Raffel et al. 2020 §2.2) — the second
        # corpus-wide rewrite, right after paragraph dedup and for the
        # same reason (both must see the WHOLE corpus before any per-doc
        # gate drops an occurrence that should have counted); docs whose
        # every sentence was a duplicated span drop here
        spanned = (
            D.c4_span_dedup(docs, "doc_id", "text", window=c4_span_window)
            .filter(F.col("clean_text") != "")
            .select("doc_id", "clean_text")
        )
        docs = (
            docs.drop("text")
            .join(spanned, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )
    if line_clean:
        docs = (
            docs.withColumn("_lc", TX.clean_lines("text"))
            .filter(F.col("_lc.n_kept") > 0)
            .withColumn("text", F.col("_lc.cleaned"))
            .drop("_lc")
        )
    toks = F.split(TX.normalize_text("text"), " ")
    norm_len = F.length(TX.normalize_text("text"))
    r2 = TX.repetition_stats("text", 2)

    gated = (
        docs.withColumn("_pred_lang", TX.lang_id("text"))
        .filter(F.col("_pred_lang").isin(*allowed_langs))
        # C4 §2.2 position: blocklist right after language ID, before the
        # statistical quality gates (functions/text.py:blocklist_hits)
        .filter(TX.blocklist_hits("text").getField("keep"))
        .withColumn("_q", TX.quality_score_text("text"))
        .filter(F.col("_q") >= min_quality)
        .withColumn(
            "_top2",
            (r2.getField("top_n") * r2.getField("top_len")).cast("double")
            / F.greatest(norm_len, F.lit(1)),
        )
        .filter(F.col("_top2") <= MAX_TOP2_FRAC)
    )

    if gopher_min_words is not None:
        # full Gopher A1.1 document-rule battery (functions/text.py:
        # gopher_quality) — MassiveText position: after language ID, with
        # the other statistical quality gates; min_words / min_stop are
        # knobs because the paper's 50-word floor and 8-word English stop
        # list assume page-length English prose
        gated = gated.filter(
            TX.gopher_quality(
                "text", min_words=gopher_min_words, min_stop=gopher_min_stop
            ).getField("keep")
        )

    scrubbed = gated.withColumn("_pii", TX.redact_pii("text")).withColumn(
        "text_redacted", F.col("_pii.redacted")
    )

    deduped = D.dedup_exact_text(
        scrubbed, text_col="text_redacted", order="doc_id"
    )

    near = D.substring_dup_pairs(
        deduped, "doc_id", "text_redacted", window=8, min_shared=2
    ).select(F.col("b").alias("doc_id")).distinct()
    deduped = deduped.join(near, "doc_id", "left_anti")

    if eval_docs is not None:
        ev = eval_docs.select("doc_id", F.col("text").alias("text_redacted"))
        dirty = D.decontaminate(
            deduped, ev, "doc_id", "text_redacted", window=4
        ).select("doc_id").distinct()
        deduped = deduped.join(dirty, "doc_id", "left_anti")

    if dsir_target is not None:
        sel = D.dsir_importance(
            deduped, target=dsir_target, text_col="text_redacted"
        )
        deduped = deduped.join(
            sel.filter("keep").select("doc_id"), "doc_id", "left_semi"
        )

    if lm_target is not None:
        tiers = D.lm_quality_buckets(
            deduped, target=lm_target, text_col="text_redacted"
        )
        deduped = deduped.join(
            tiers.filter(F.col("tier").isin(*LM_KEEP_TIERS)).select("doc_id"),
            "doc_id", "left_semi",
        )

    if unimax_budget is not None:
        mixed = D.unimax_sample(
            deduped, stratum="lang", key="doc_id",
            budget=unimax_budget, max_epochs=unimax_epochs,
        ).drop("unimax_bucket", "unimax_alloc")
    elif mix_rates:
        mixed = D.stratified_sample(
            deduped, "doc_id", "lang", mix_rates, default_rate=default_mix_rate
        )
    else:
        mixed = deduped

    # context-window chunking (operators/dedup.py:chunk_documents): docs
    # longer than chunk_max VERBATIM-WHITESPACE tokens split into
    # overlapping windows before token counting and packing. Only the
    # over-long docs are rewritten (re-joining windows collapses their
    # internal whitespace runs to single spaces — unavoidable and
    # documented; case/punctuation and the [EMAIL]-style redaction
    # markers survive); short docs pass through byte-identical with
    # chunk_idx 0. n_tokens stays the engine-wide normalized measure, so
    # a chunk's n_tokens can differ from its verbatim window size. The
    # train/val/test split keys on doc_id, never chunk id: all windows of
    # one document land in the SAME split, so overlapping chunk text can
    # never leak across the split boundary.
    if chunk_max is not None:
        n_verbatim = F.size(F.split(
            F.trim(F.regexp_replace("text_redacted", r"\s+", " ")), " "
        ))
        short = mixed.filter(n_verbatim <= chunk_max).withColumn(
            "chunk_idx", F.lit(0).cast("long")
        )
        long_docs = mixed.filter(n_verbatim > chunk_max)
        ck = D.chunk_documents(
            long_docs.select("doc_id", F.col("text_redacted").alias("_ct")),
            "doc_id", "_ct",
            max_tokens=chunk_max, stride=chunk_stride, normalize=False,
        )
        mixed = short.unionByName(
            long_docs.drop("text_redacted")
            .join(ck, "doc_id")
            .withColumnRenamed("chunk_text", "text_redacted")
            .drop("n_chunk_tokens", "chunk_start")
        )
        # deterministic total order is all packing needs; chunk_idx is
        # zero-padded so a doc's windows pack in window order
        pack_key = F.concat_ws(
            "#", F.col("doc_id").cast("string"),
            F.format_string("%06d", F.col("chunk_idx").cast("int")),
        )
    else:
        # unchanged pre-chunking path: pack_bins orders numerically on the
        # raw doc_id, bit-identical with earlier releases
        pack_key = F.col("doc_id")

    n_tokens = F.size(F.split(TX.normalize_text("text_redacted"), " "))
    out = (
        mixed.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("split", TX.hash_split("doc_id"))
        .withColumn(
            "_pk",
            TX.pack_bins(
                F.col("n_tokens"), pack_key,
                n_buckets=PACK_BUCKETS, capacity=pack_capacity,
            ),
        )
        .select(
            "doc_id", "lang", "text_redacted", "n_tokens", "split",
            F.col("_pk.bucket").alias("pack_bucket"),
            F.col("_pk.bin").alias("pack_bin"),
            F.col("_pk.offset").alias("pack_offset"),
            *(["unimax_copies"] if unimax_budget is not None else []),
            *(["chunk_idx"] if chunk_max is not None else []),
        )
    )
    if learn_bpe:
        from web_crawler_spark.operators import bpe as BPE

        merges = BPE.bpe_learn(out, "text_redacted", n_merges=learn_bpe)
        out = out.withColumn(
            "n_bpe_tokens",
            F.size(BPE.bpe_apply("text_redacted", merges)).cast("long"),
        )
    return out


def build_pair_corpus(
    pairs: DataFrame,
    caption_emb: DataFrame | None = None,
    image_emb: DataFrame | None = None,
    eval_pairs: DataFrame | None = None,
    model_scores: DataFrame | None = None,
    caption_lang: str | None = None,
    align_threshold: float = 0.1,
    shard_bytes: int = 4 * 1024 * 1024,
    elect_caption: bool = False,
    lang_mix_budget: int | None = None,
) -> DataFrame:
    """Image+caption pairs (input_hint schema) → training-ready release.

    Metadata gates first (images.curate_pairs — rejected rows never
    decode), then the optional caption language gate (``caption_lang``:
    keep pairs whose caption language-IDs to the target, the LAION-2B-en
    split move) — or, for multilingual releases, ``lang_mix_budget``:
    caption lang-ID becomes the mixing stratum and temperature sampling
    (n^alpha, dedup.temperature_sample) flattens head-language skew to
    the budget, appending ``cap_lang`` + ``temp_copies`` as loader-side
    replay provenance — then the optional model-score gate (``model_scores``
    table of NSFW/aesthetic/watermark scores as data —
    images.model_score_gate; unscored pairs drop), then exact caption
    dedup (the LAION-style collapse of the boilerplate captions
    stock-photo sites stamp on thousands of images — min-id survivor per
    distinct caption), then phash near-dup collapse to the min-id
    survivor (``elect_caption=True`` swaps in images.elect_captions: the
    survivor set is identical, but each survivor carries its cluster's
    elected caption — longest, ties lexicographic — plus an
    ``n_cluster_captions`` provenance column), then image-side benchmark
    decontamination when
    ``eval_pairs`` is given (drop any training image phash-near an eval
    image), then (when both embedding tables are given, keyed by
    image_id) the CLIP-score-style alignment gate, then the training
    layout: each survivor gets its SDXL-style aspect bucket + batch index
    (images.aspect_bucket) and its WebDataset shard address
    (images.shard_pack over the estimated row bytes) — the columns a
    loader needs to stream same-shaped batches straight off the shards."""
    from web_crawler_spark.images import aspect_bucket, curate_pairs, shard_pack
    from web_crawler_spark.operators.dedup import (
        phash_crossdup_ids,
        phash_neardup_pairs,
    )
    from web_crawler_spark.operators.similarity import pair_cosine_gate

    kept = curate_pairs(pairs).filter(F.col("keep")).drop(
        "keep", "reject_reason", "aspect", "n_caption_tokens"
    )
    if caption_lang is not None:
        from web_crawler_spark.functions.text import lang_id

        kept = kept.filter(lang_id(F.col("caption")) == caption_lang)
    elif lang_mix_budget is not None:
        # the multilingual alternative to the hard language gate: caption
        # lang-ID (images.caption_quality's cap_lang) becomes the mixing
        # stratum and temperature sampling (n^alpha) flattens the
        # head-language skew to the budget — deterministic copy counts,
        # O(#languages) driver metadata, zero corpus joins
        from web_crawler_spark.images import caption_quality
        from web_crawler_spark.operators.dedup import temperature_sample

        annotated = caption_quality(kept)
        kept = temperature_sample(
            annotated, stratum="cap_lang", key="image_id",
            budget=lang_mix_budget, alpha=LANG_MIX_ALPHA, salt="pairmix",
        ).drop(
            "cap_n_chars", "cap_n_tokens", "cap_alpha_ok", "cap_has_url",
            "cap_keep", "temp_bucket", "temp_alloc",
        )
    if model_scores is not None:
        from web_crawler_spark.images import model_score_gate

        kept = (
            model_score_gate(kept, model_scores)
            .filter(F.col("keep"))
            .drop("keep", "reject_reason", "nsfw_p", "aesthetic", "watermark_p")
        )
    kept = D.dedup_exact_text(kept, text_col="caption", order="image_id")
    dup = phash_neardup_pairs(kept, "image_id", "phash", max_hamming=MAX_HAMMING)
    if elect_caption:
        # near-dup collapse WITH caption election (images.elect_captions):
        # the survivor keeps the cluster's best caption (longest, ties
        # lexicographic) instead of whatever its own row happened to carry.
        # phash pairs are emitted a < b, so the cluster min is never a
        # loser — the elected-rep set IS the anti-join survivor set, and
        # the inner join below selects exactly it. n_cluster_captions
        # rides along as provenance (how contested the election was).
        from web_crawler_spark.images import elect_captions

        reps = (
            elect_captions(kept.select("image_id", "caption"),
                           dup.select("a", "b"))
            .filter(F.col("is_rep"))
            .select("image_id", F.col("elected_caption").alias("_cap"),
                    F.col("n_captions").alias("n_cluster_captions"))
        )
        kept = (
            kept.join(reps, "image_id")
            .withColumn("caption", F.col("_cap"))
            .drop("_cap")
        )
    else:
        losers = dup.select(F.col("b").alias("image_id")).distinct()
        kept = kept.join(losers, "image_id", "left_anti")

    if eval_pairs is not None:
        # image-side benchmark decontamination: any training image whose
        # phash sits within the near-dup radius of an eval image leaks the
        # benchmark — drop it (cross-set pigeonhole probe, never all-pairs)
        dirty = phash_crossdup_ids(
            kept, eval_pairs.select("image_id", "phash"), max_hamming=MAX_HAMMING
        )
        kept = kept.join(dirty, "image_id", "left_anti")

    if caption_emb is not None and image_emb is not None:
        aligned = pair_cosine_gate(
            image_emb.withColumnRenamed("image_id", "pair_id"),
            caption_emb.withColumnRenamed("image_id", "pair_id"),
            threshold=align_threshold,
        ).select(F.col("pair_id").alias("image_id"))
        kept = kept.join(aligned, "image_id")

    kept = aspect_bucket(kept, batch_size=BATCH_SIZE)
    size_guess = (  # metadata-only inputs carry no payload column
        F.length("bytes") if "bytes" in kept.columns
        else F.col("w").cast("long") * F.col("h") * 3
    )
    est = F.coalesce(size_guess.cast("long"), F.col("w").cast("long") * F.col("h") * 3) \
        + F.coalesce(F.length("caption"), F.lit(0))
    return shard_pack(
        kept.withColumn("_eb", est.cast("long")), "_eb",
        n_writers=N_WRITERS, shard_bytes=shard_bytes,
    ).drop("_eb")
