"""CDX(J) capture-index ingestion — the FOURTH Common Crawl artifact
(after WARC/WET/WAT): the index consumers query BEFORE touching any
archive bytes.

A CDXJ line is ``<urlkey> <timestamp> <json>`` where the JSON carries
the capture's url, mime, HTTP status, content digest, and the exact
``(filename, offset, length)`` of its gzip member inside the .warc.gz
shard. Production pipelines never scan 100 TB of WARC blind: they read
the (comparatively tiny) CDX, pick captures, and fetch exactly those
member byte ranges.

This module gives that planning step Spark shape:

- :func:`parse_cdx` — lines → typed capture rows. Pure column algebra
  (``substring_index`` for the two space-delimited keys — the JSON tail
  may itself contain spaces — then ``get_json_object`` per field);
  malformed JSON or a malformed timestamp yields NULL fields, never a
  misparse.
- :func:`fetch_plan` — captures → the deduplicated fetch plan: keep
  2xx captures, elect ONE capture per content digest (Common Crawl
  stores revisits/duplicates under the same digest — fetching them all
  is pure waste), deterministic election (earliest timestamp, ties by
  url then filename/offset, NULLs last). Captures without a digest are
  never merged. Emits per-shard plan rows sorted by offset (sequential
  reads within a shard) plus the bytes each duplicate skip saved — the
  fetch-avoidance metric a 100 TB replay reports.

Reference analogue: none (the reference crawls live pages); this is the
archive-side entry point the north rule's scale story starts from,
beside read_warc_gz.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CDX_FIELDS = {
    "url": "string",
    "mime": "string",
    "status": "int",
    "digest": "string",
    "length": "long",
    "offset": "long",
    "filename": "string",
}


def parse_cdx(df: DataFrame, col: str = "line") -> DataFrame:
    """CDXJ lines → (urlkey, ts, url, mime, status, digest, length,
    offset, filename). Keeps any other columns of ``df``. ``ts`` is NULL
    unless the second key is a 4-14 digit CDX timestamp."""
    c = F.col(col)
    keep = [x for x in df.columns if x != col]
    json = F.expr(
        f"substring({col}, length(substring_index({col}, ' ', 2)) + 2)"
    )
    ts = F.substring_index(F.substring_index(c, " ", 2), " ", -1)
    out = df.select(
        *keep,
        F.substring_index(c, " ", 1).alias("urlkey"),
        F.when(ts.rlike(r"^[0-9]{4,14}$"), ts).alias("ts"),
        json.alias("_json"),
    )
    for name, typ in CDX_FIELDS.items():
        out = out.withColumn(
            name, F.get_json_object("_json", f"$.{name}").cast(typ)
        )
    return out.drop("_json")


def fetch_plan(
    captures: DataFrame,
    statuses: tuple[int, ...] = (200,),
) -> DataFrame:
    """Captures → deduplicated fetch plan.

    Keeps captures whose status is in ``statuses``, elects one capture
    per ``digest`` (earliest ts, then url, then filename, then offset —
    fully deterministic), and returns the plan rows

        (filename, offset, length, url, ts, digest,
         shard_seq, n_dups, dup_bytes_saved)

    where ``shard_seq`` orders the elected captures by offset WITHIN
    their shard (sequential member reads), ``n_dups`` counts the
    captures collapsed into this digest, and ``dup_bytes_saved`` is the
    total member bytes the election avoided fetching. One shuffle on
    digest + one on filename — never a scan of the archive itself.

    NULL policy: a NULL value in any election key (an unparseable ``ts``
    included) sorts LAST, so a malformed capture never beats a
    well-formed one. A capture with a NULL ``digest`` has no content
    identity to share: it is never merged with another capture and is
    planned on its own (``n_dups`` 1, ``dup_bytes_saved`` 0).
    """
    ok = captures.filter(F.col("status").isin(*statuses))
    # NULL digests get a per-row key so no two of them share a partition
    by = Window.partitionBy(
        "digest",
        F.when(F.col("digest").isNull(), F.monotonically_increasing_id()),
    )
    w = by.orderBy(*[
        F.col(c).asc_nulls_last() for c in ("ts", "url", "filename", "offset")
    ])
    ranked = ok.select(
        "url", "ts", "digest", "filename", "offset", "length",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(by).alias("n_dups"),
        (F.sum("length").over(by) - F.col("length")).alias("_saved"),
    )
    elected = ranked.filter(F.col("_rn") == 1).drop("_rn")
    ws = Window.partitionBy("filename").orderBy("offset")
    return elected.select(
        "filename", "offset", "length", "url", "ts", "digest",
        F.row_number().over(ws).cast("long").alias("shard_seq"),
        F.col("n_dups").cast("long").alias("n_dups"),
        F.col("_saved").cast("long").alias("dup_bytes_saved"),
    )
