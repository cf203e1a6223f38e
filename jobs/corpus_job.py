"""Corpus-release entry point: spark-submit --py-files wcs.zip jobs/corpus_job.py

The "what the crawl is FOR" job (plans/corpus.py), packaged the same way
as the crawl driver (north rule: spark-submit --py-files on a
multi-executor cluster). Two modes:

- ``--mode text``  — documents parquet → gated / scrubbed / deduped /
  decontaminated / split / packed corpus parquet.
- ``--mode pairs`` — image+caption pairs (synthesized input_hint rows
  here; the crawl's emitted table in production) → curated pairs with
  aspect buckets and WebDataset shard addresses.

Prints one JSON metrics line (rows in/out, per-stage drops, seconds).

Usage:
  python tools/package_pyfiles.py
  spark-submit --master local[8] --py-files dist/wcs.zip \
      jobs/corpus_job.py --mode text --sf-dir /root/testdata/sf0.01 \
      --out /tmp/corpus_text
  spark-submit --master local[8] --py-files dist/wcs.zip \
      jobs/corpus_job.py --mode pairs --n-pairs 200 --out /tmp/corpus_pairs
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["text", "pairs"], required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--n-pairs", type=int, default=200)
    ap.add_argument("--min-quality", type=int, default=70)
    ap.add_argument("--pack-capacity", type=int, default=512)
    ap.add_argument("--no-line-clean", action="store_true",
                    help="skip the RefinedWeb/Dolma line-cleaning stage")
    ap.add_argument("--dsir-target-lang", default=None,
                    help="enable DSIR selection with this labeled lang "
                         "as the target domain (e.g. 'en')")
    ap.add_argument("--lm-target-lang", default=None,
                    help="enable the CCNet LM-quality stage with this "
                         "labeled lang as the LM training domain; keeps "
                         "the head+middle tertiles")
    ap.add_argument("--unimax-budget", type=int, default=None,
                    help="switch mixing to UniMax with this doc budget")
    ap.add_argument("--unimax-epochs", type=int, default=1)
    ap.add_argument("--learn-bpe", type=int, default=None,
                    help="train this many BPE merges on the released "
                         "corpus and append n_bpe_tokens")
    ap.add_argument("--shard-bytes", type=int, default=4 * 1024 * 1024)
    ap.add_argument("--elect-caption", action="store_true",
                    help="pairs mode: collapse phash clusters with caption "
                         "election (longest, ties lexicographic) instead of "
                         "keeping the min-id row's own caption")
    ap.add_argument("--wds-dir", default=None,
                    help="pairs mode: additionally materialize the release "
                         "as real WebDataset ustar shards in this directory "
                         "(same writer/byte-budget addressing as the "
                         "shard_key column)")
    args = ap.parse_args()

    from web_crawler_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName(f"wcs_corpus_{args.mode}")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    from web_crawler_spark.plans import corpus as C

    t0 = time.time()
    if args.mode == "text":
        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        n_in = docs.count()
        from pyspark.sql import functions as F

        out = C.build_text_corpus(
            docs,
            min_quality=args.min_quality,
            pack_capacity=args.pack_capacity,
            line_clean=not args.no_line_clean,
            dsir_target=(
                F.col("lang") == args.dsir_target_lang
                if args.dsir_target_lang else None
            ),
            lm_target=(
                F.col("lang") == args.lm_target_lang
                if args.lm_target_lang else None
            ),
            unimax_budget=args.unimax_budget,
            unimax_epochs=args.unimax_epochs,
            learn_bpe=args.learn_bpe,
        ).persist()
        n_out = out.count()
        out.write.mode("overwrite").parquet(args.out)
        n_tokens = out.agg({"n_tokens": "sum"}).collect()[0][0]
        extra = {"total_tokens": int(n_tokens or 0)}
    else:
        from web_crawler_spark.images import synthesize_images

        pairs = synthesize_images(spark, args.n_pairs)
        n_in = pairs.count()
        out = C.build_pair_corpus(
            pairs, shard_bytes=args.shard_bytes,
            elect_caption=args.elect_caption,
        ).persist()
        n_out = out.count()
        out.write.mode("overwrite").parquet(args.out)
        n_shards = out.select("shard_key").distinct().count()
        extra = {"shards": int(n_shards)}
        if args.wds_dir:
            from web_crawler_spark.images import write_webdataset

            manifest = write_webdataset(
                out.select("image_id", "bytes", "caption"), args.wds_dir,
                shard_bytes=args.shard_bytes,
            ).collect()
            extra["wds_shards"] = len(manifest)
            extra["wds_bytes"] = int(sum(r["tar_bytes"] for r in manifest))

    out.unpersist()
    print(
        json.dumps(
            {
                "mode": args.mode,
                "rows_in": int(n_in),
                "rows_out": int(n_out),
                "seconds": round(time.time() - t0, 2),
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
