"""Archive-ingestion entry point: spark-submit --py-files wcs.zip
jobs/ingest_warc_job.py

Replays a Common-Crawl-style .warc.gz archive into the pair lake — the
"crawl already happened" twin of jobs/crawl_job.py. One binaryFile +
per-member-gunzip scan (sources/warc.py:read_warc_gz_binary), persisted
once, fans out by media type, so both lanes read the cached members and
the archive is gunzipped once:

- text/html 2xx responses: the binary-safe HTTP parse
  (http_response_binary) yields the entity, which decodes to HTML and
  flows through the <img> caption extraction (operators/extract.py:
  extract_images) — captions live in the page markup, not the image
  record;
- image/* 2xx responses keep BYTE bodies end-to-end: the zero-decode
  header audit columns (images.sniff_format/png_ihdr) supply fmt/w/h at
  scan speed.

The join on the image URL marries markup captions to image bytes; one
pass-through decode + phash mapInPandas (images.with_phash) then appends
each pair's phash, so each host's row keeps the hash of its own bytes.
The pair table is persisted once, counted per host (the snapshot's
lineage) in the one action that also counts the archive records, and
appended from the cache: input_hint-shaped rows
(image_id, bytes, w, h, fmt, caption, phash) in a SnapshotTable
partitioned by host, with per-host lineage and ingest metrics in the
snapshot summary.

``--synthesize N`` writes a deterministic N-host fixture archive first
(SyntheticWeb HTML + real PNG payloads, gzip member per record, mtime
0), so the job runs end-to-end anywhere.

Usage:
  python tools/package_pyfiles.py
  spark-submit --master local[8] --py-files dist/wcs.zip \
      jobs/ingest_warc_job.py --archive /tmp/arc --out /tmp/pairs \
      --synthesize 3
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def synthesize_archive(archive_dir: str, n_hosts: int, pages: int) -> int:
    """Deterministic fixture archive: one .warc.gz shard per host, html
    response records for every page plus one image/png response per
    distinct <img> the host's markup references. Returns record count."""
    import os
    import re

    from web_crawler_spark.images import encode_png, synth_pixels
    from web_crawler_spark.sources.warc import write_warc_gz
    from web_crawler_spark.synthetic.web import SyntheticWeb

    os.makedirs(archive_dir, exist_ok=True)
    web = SyntheticWeb(n_hosts=n_hosts, pages_per_host=pages, seed=13)
    total = 0
    for h in range(web.n_hosts):
        host = web.host(h)
        recs: list[bytes] = []
        seen_imgs: dict[str, None] = {}
        for p in range(web.n_pages(h)):
            body = web.body(h, p)
            for img in re.findall(r'<img src="/images/(img_\d+)\.png"', body):
                seen_imgs.setdefault(img, None)
            msg = (
                "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
                "\r\n\r\n" + body
            ).encode("utf-8")
            recs.append(
                (
                    f"WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: {web.url(h, p)}\r\n"
                    f"WARC-Date: 2024-01-15T00:00:00Z\r\n"
                    f"Content-Length: {len(msg)}\r\n\r\n"
                ).encode("ascii") + msg + b"\r\n\r\n"
            )
        for img in seen_imgs:
            png = encode_png(synth_pixels(img, 48, 32))
            msg = (
                b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n" + png
            )
            recs.append(
                (
                    f"WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: https://{host}/images/{img}.png\r\n"
                    f"WARC-Date: 2024-01-15T00:00:01Z\r\n"
                    f"Content-Length: {len(msg)}\r\n\r\n"
                ).encode("ascii") + msg + b"\r\n\r\n"
            )
        write_warc_gz(recs, os.path.join(archive_dir, f"{host}.warc.gz"))
        total += len(recs)
    return total


def ingest(spark: SparkSession, archive_dir: str, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from web_crawler_spark import images as IM
    from web_crawler_spark.lake import SnapshotTable
    from web_crawler_spark.operators.extract import extract_images
    from web_crawler_spark.sources import warc as W

    t0 = time.time()
    recs = W.read_warc_gz_binary(spark, archive_dir)
    h = W.http_response_binary(F.col("body"))
    routed = recs.select(
        "file", "record_ord", "target_uri", "len_ok",
        h["http_status"].alias("http_status"),
        h["http_content_type"].alias("http_content_type"),
        h["payload"].alias("payload"),
    ).filter(F.col("len_ok") & (F.col("http_status") == 200))

    # html lane: markup captions. seed_host from the record URI.
    html = routed.filter(F.col("http_content_type") == "text/html").select(
        F.col("target_uri").alias("url"),
        F.regexp_extract("target_uri", r"https?://([^/]+)", 1).alias("seed_host"),
        F.decode("payload", "UTF-8").alias("body"),
    )
    # one caption per image URL, whichever page it came from: the
    # elect_captions rule (longest caption, ties to the lexicographically
    # smallest) as one map-side-combinable aggregate — a single shuffle,
    # and the same pair table at any partition count
    captions = (
        extract_images(html)
        .groupBy(
            F.concat(
                F.lit("https://"), "seed_host", F.lit("/images/"),
                "image_id", F.lit(".png"),
            ).alias("img_url")
        )
        .agg(F.min(F.struct(
            (-F.length("caption")).alias("nl"), "caption", "seed_host",
            "image_id",
        )).alias("_e"))
        .select("img_url", "_e.seed_host", "_e.image_id", "_e.caption")
    )

    # image lane: BYTES + zero-decode header fields
    imgs = routed.filter(
        F.col("http_content_type").startswith("image/")
    ).select(F.col("target_uri").alias("img_url"), F.col("payload").alias("bytes"))
    ih = IM.png_ihdr(F.col("bytes"))
    audited = imgs.select(
        "img_url", "bytes",
        IM.sniff_format(F.col("bytes")).alias("fmt"),
        ih["w"].alias("w"), ih["h"].alias("h"), ih["ihdr_ok"].alias("_ok"),
    ).filter(F.col("_ok")).drop("_ok")

    # captions (one short row per image URL) are the broadcast side: the
    # image lane carries the bytes, and streaming it keeps the archive
    # scan's partitioning, so each task writes files only for the hosts
    # of the shards it read
    pairs = audited.join(F.broadcast(captions), "img_url", "inner").select(
        "image_id", "bytes",
        F.col("w").cast("int"), F.col("h").cast("int"),
        "fmt", "caption", "seed_host",
    )
    out = IM.with_phash(pairs).select(
        "image_id", "bytes", "w", "h", "fmt", "caption",
        "phash", "seed_host",
    )

    # each Python-worker pass runs once: gunzip fills the member scan's
    # cache, which both lanes and the record count read; decode + phash
    # fill the pair table's cache, which the per-host count and the append
    # read. The pair table is persisted after the member scan, so its
    # cached plan reads that cache. The per-host count is the append's
    # lineage, so the append reads nothing back from its files
    tbl = SnapshotTable(out_dir)
    recs = recs.persist()
    out = out.persist()
    try:
        # one action counts both: the pairs per host, and the archive
        # records under a NULL host, which no pair has (seed_host is a
        # regexp_extract, never NULL)
        counts = out.groupBy("seed_host").count().unionByName(
            recs.agg(F.lit(None).cast("string").alias("seed_host"),
                     F.count(F.lit(1)).alias("count"))
        ).collect()
        n_records = next(r["count"] for r in counts if r["seed_host"] is None)
        lineage = {
            str(r["seed_host"]): r["count"]
            for r in counts if r["seed_host"] is not None
        }
        n_pairs = sum(lineage.values())
        tbl.append(
            out, partition_by=["seed_host"], lineage=lineage,
            summary={
                "job": "ingest_warc", "n_archive_records": n_records,
                "n_pairs": n_pairs,
            },
        )
    finally:
        out.unpersist()
        recs.unpersist()
    return {
        "records": n_records,
        "pairs": n_pairs,
        "hosts": len(lineage),
        "seconds": round(time.time() - t0, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--archive", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--synthesize", type=int, default=0,
                    help="write an N-host fixture archive first")
    ap.add_argument("--pages", type=int, default=8)
    args = ap.parse_args()

    from web_crawler_spark.session import ENGINE_CONF

    spark = SparkSession.builder.config(map=ENGINE_CONF).getOrCreate()
    metrics: dict = {}
    if args.synthesize:
        metrics["synthesized_records"] = synthesize_archive(
            args.archive, args.synthesize, args.pages
        )
    metrics.update(ingest(spark, args.archive, args.out))
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
