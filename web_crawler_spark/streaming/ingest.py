"""Streaming image+caption ingest — the north star's "fetch batches flow
through" half over the image payload (BASELINE.json graft cell:
pyspark × image): micro-batches of input_hint rows stream through the
curation gates and phash near-dup collapse into an append-only lake
directory, exactly-once under replay.

Reference analogue: the reference crawls pages and emits rows as it goes
(site-crawler.service.js's incremental result push); at 10^10-URL scale
that emission is a stream, not a batch job.

Design (scale shape first):

- **Source**: any Structured Streaming DataFrame in the input_hint schema
  (file source over landed parquet here; Kafka/Kinesis in production —
  only ``readStream`` changes).
- **Per-batch work** (inside ``foreachBatch``): metadata curation gates
  (narrow, no decode for rejected rows) → in-batch phash collapse (banded
  self-join, batch-sized) → exact id anti-join + banded phash probe
  against the ACCUMULATED seen set (cross-set pigeonhole join — never
  all-pairs; the seen side shuffles on 13-bit block keys).
- **Exactly-once**: every batch writes under its epoch id
  (``accepted/batch=<epoch>/``, ``seen/batch=<epoch>/``) with overwrite —
  a replayed epoch (crash between write and checkpoint commit) rewrites
  the same directories byte-for-byte instead of appending duplicates.
  This is the same idempotent-append contract the crawl's wave writes
  use (plans/crawl.py), restated for streaming epochs.
- **Seen-set growth**: the accumulated (image_id, phash) table is
  partitioned by arrival epoch; at 10^10 rows the exact-id anti-join
  becomes the partitioned Bloom/cuckoo pre-prune from
  operators/seen_filter (same contract: sketch prunes, exact join on the
  survivors stays authoritative).

Epoch discovery uses driver-local directory listing — correct for this
container's local lake; a cluster deployment swaps it for the table
format's manifest list (lake.SnapshotTable or Iceberg metadata), which
is the same one-function seam the codec stubs document.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_crawler_spark.session import local_df


def stream_pair_files(
    spark: SparkSession, path: str, max_files: int | None = 1
) -> DataFrame:
    """File-source stream over landed input_hint parquet; ``max_files``
    bounds per-micro-batch work (1 file per trigger ≈ one fetch wave)."""
    from web_crawler_spark.schemas import IMAGES

    r = spark.readStream.schema(IMAGES)
    if max_files is not None:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.parquet(path)


def _ingest_one_batch(
    batch: DataFrame, epoch_id: int, workdir: str, max_hamming: int
) -> None:
    from web_crawler_spark.images import curate_pairs
    from web_crawler_spark.operators.dedup import (
        phash_crossdup_ids,
        phash_neardup_pairs,
    )

    spark = batch.sparkSession
    kept = (
        curate_pairs(batch)
        .filter(F.col("keep"))
        .drop("keep", "reject_reason", "aspect", "n_caption_tokens")
    )

    # in-batch collapse to the min-id survivor
    dup = phash_neardup_pairs(kept, "image_id", "phash", max_hamming=max_hamming)
    kept = kept.join(
        dup.select(F.col("b").alias("image_id")).distinct(), "image_id", "left_anti"
    )

    # cross-batch: exact id anti-join + banded phash probe vs accumulated seen
    seen_dir = os.path.join(workdir, "seen")
    prior = [
        d for d in (os.listdir(seen_dir) if os.path.isdir(seen_dir) else [])
        if d.startswith("batch=") and int(d.split("=", 1)[1]) != epoch_id
    ]
    if prior:
        seen = spark.read.parquet(*[os.path.join(seen_dir, d) for d in prior])
        kept = kept.join(seen.select("image_id"), "image_id", "left_anti")
        near = phash_crossdup_ids(kept, seen, max_hamming=max_hamming)
        kept = kept.join(near, "image_id", "left_anti")

    # epoch-addressed overwrite: replaying this epoch rewrites, never appends
    kept = kept.localCheckpoint(eager=True)  # compute once, write twice
    kept.write.mode("overwrite").parquet(
        os.path.join(workdir, "accepted", f"batch={epoch_id}")
    )
    kept.select("image_id", "phash").write.mode("overwrite").parquet(
        os.path.join(seen_dir, f"batch={epoch_id}")
    )


def ingest_pairs(
    stream: DataFrame,
    workdir: str,
    max_hamming: int = 8,
    checkpoint: str | None = None,
):
    """Run the curation + dedup ingest over a stream of input_hint rows.

    Returns the started StreamingQuery (availableNow trigger — drains
    everything currently available, then stops; production would use a
    continuous trigger instead)."""
    ckpt = checkpoint or os.path.join(workdir, "_checkpoint")
    return (
        stream.writeStream.foreachBatch(
            lambda b, e: _ingest_one_batch(b, e, workdir, max_hamming)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def read_accepted(spark: SparkSession, workdir: str) -> DataFrame:
    """All accepted rows across epochs (empty-safe)."""
    acc = os.path.join(workdir, "accepted")
    dirs = [
        os.path.join(acc, d)
        for d in (os.listdir(acc) if os.path.isdir(acc) else [])
        if d.startswith("batch=")
    ]
    if not dirs:
        from web_crawler_spark.schemas import IMAGES

        return local_df(spark, [], IMAGES)
    return spark.read.parquet(*dirs)
