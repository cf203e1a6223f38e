"""WET/WARC crawl-archive ingestion — the format a 100 TB text pipeline
actually reads (Common Crawl ships WARC/WET/WAT; every public corpus
recipe starts from WET shards).

The reference crawler fetches live pages and never replays archives; a
Spark pipeline at corpus scale ingests the archived crawl instead, so
this source is a first-class extension (like the corpus-build operators).

Format (ISO 28500): a shard is concatenated records, each

    WARC/1.0\\r\\n
    <Header-Name>: <value>\\r\\n ...          (header block)
    \\r\\n                                    (blank line)
    <Content-Length bytes of body>\\r\\n\\r\\n  (record separator)

Two layers, split so each runs where it belongs:

- ``read_wet`` — the SCALE path for decompressed shards:
  ``spark.read.text`` with ``lineSep='WARC/1.0\\r\\n'`` streams one
  record per row straight off the files — no whole-file strings, no
  explode, records parallelize across executors at file-split
  granularity.
- ``read_warc_gz`` — the raw-archive path: Common Crawl ships
  .warc.gz/.wet.gz as gzip-PER-RECORD member concatenations (the WARC
  spec's record-at-time compression), so a shard is scanned with the
  binaryFile source (one blob per file — parallelism is across shard
  files, which is how the archive is laid out: ~1 GB × tens of
  thousands of shards) and each member is gunzipped INDEPENDENTLY in a
  streaming Arrow-batched pass — one decoded string per record, never a
  whole-file decompressed string — then hits the same ``wet_record``
  column kernel.
- ``parse_wet_records`` — the engine-portable column kernel: split a
  shard string on the record delimiter, posexplode, and parse each
  record with ``wet_record`` (pure regexp/substring column algebra —
  whole-stage codegen, mirrored verbatim in the DuckDB oracle).

``wet_record`` keeps the framing honest: it extracts ``Content-Length``
from the header block and flags ``len_ok`` when the parsed body's length
matches — a malformed or truncated record surfaces as data instead of
silently shifting every later field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

RECORD_DELIM = "WARC/1.0\r\n"

_FIELDS = (
    "warc_type string, target_uri string, warc_date string, "
    "content_length long, body string, len_ok boolean"
)


def wet_record(rec: Column) -> Column:
    """Parse one record (sans the ``WARC/1.0`` magic): struct(warc_type,
    target_uri, warc_date, content_length, body, len_ok)."""
    headers = F.substring_index(rec, "\r\n\r\n", 1)
    body = F.regexp_replace(
        F.substr(rec, F.length(headers) + F.lit(5), F.length(rec)),
        r"(\r\n)+$", "",
    )
    h = lambda name: F.regexp_extract(headers, name + r": ([^\r\n]+)", 1)  # noqa: E731
    clen = F.nullif(h("Content-Length"), F.lit("")).cast("long")
    return F.struct(
        F.nullif(h("WARC-Type"), F.lit("")).alias("warc_type"),
        F.nullif(h("WARC-Target-URI"), F.lit("")).alias("target_uri"),
        F.nullif(h("WARC-Date"), F.lit("")).alias("warc_date"),
        clen.alias("content_length"),
        body.alias("body"),
        (F.length(body) == clen).alias("len_ok"),
    )


def parse_wet_records(
    df: DataFrame, col: str = "wet", keep: list[str] | None = None
) -> DataFrame:
    """Shard strings → one row per record: the carried ``keep`` columns +
    (record_ord, warc_type, target_uri, warc_date, content_length, body,
    len_ok). The leading split element (before the first magic) is
    dropped; record_ord counts records in shard order."""
    keep = keep if keep is not None else [c for c in df.columns if c != col]
    # regex-split on the record magic (dot escaped); element 1 is whatever
    # precedes the first record (normally empty) — dropped by the slice
    recs = F.slice(F.split(F.col(col), "WARC/1\\.0\r\n", -1), 2, 2**30)
    exploded = df.select(
        *keep, F.posexplode(recs).alias("record_ord", "_rec")
    )
    parsed = exploded.withColumn("_p", wet_record(F.col("_rec")))
    return parsed.select(
        *keep, "record_ord",
        *[F.col(f"_p.{f.split(' ')[0]}") for f in _FIELDS.split(", ")],
    )


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """The scale path: stream records straight off WET shard files —
    ``lineSep`` makes Spark's text source emit ONE ROW PER RECORD at
    file-split granularity, so a 100 TB archive never materializes a
    whole shard as one string. Returns (file, record_ord, <record
    fields>) with record_ord assigned per file in archive order."""
    from pyspark.sql import Window

    raw = (
        spark.read.option("lineSep", RECORD_DELIM)
        .text(path)
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("_seq"),
            F.col("value").alias("_rec"),
        )
        .filter(F.col("_rec") != "")
    )
    w = Window.partitionBy("file").orderBy("_seq")
    return (
        raw.withColumn("record_ord", F.row_number().over(w) - 1)
        .withColumn("_p", wet_record(F.col("_rec")))
        .select(
            "file", "record_ord",
            *[F.col(f"_p.{f.split(' ')[0]}") for f in _FIELDS.split(", ")],
        )
    )


def gzip_members(blob) -> "Iterator[bytes]":
    """Split a gzip-member concatenation (the .warc.gz layout: one member
    per WARC record) and yield each member's decompressed bytes.

    Linear in the blob: input is fed to zlib in bounded chunks through a
    memoryview (no quadratic re-slicing), and each member's output is
    joined only when that member completes — members never concatenate
    into one whole-file string. A blob that ends mid-member raises
    (truncation surfaces loudly, not as a silently short shard).
    """
    import zlib

    mv = memoryview(blob)
    n = len(mv)
    if n == 0:
        return
    chunk_size = 1 << 20
    pos = 0
    d = zlib.decompressobj(wbits=31)
    parts: list[bytes] = []
    fed_any = False
    while True:
        if not d.eof:
            if pos >= n:
                if fed_any:
                    raise ValueError(
                        "truncated gzip member at end of .warc.gz blob"
                    )
                return
            chunk = mv[pos:pos + chunk_size]
            pos += len(chunk)
            parts.append(d.decompress(chunk))
            fed_any = True
        while d.eof:
            leftover = d.unused_data
            yield b"".join(parts)
            parts = []
            d = zlib.decompressobj(wbits=31)
            fed_any = False
            if leftover:
                parts.append(d.decompress(leftover))
                fed_any = True
            elif pos >= n:
                return


def _scan_gz_members(
    spark: SparkSession, path: str, row_builder, schema: str
) -> DataFrame:
    """Shared .warc.gz member scan: binaryFile blobs → per-member gunzip →
    ``row_builder(file, ord, member_bytes_sans_magic) -> tuple`` rows in
    256-row Arrow batches. Both gz readers ride this one scaffold so the
    batching/magic/truncation policy cannot silently diverge between the
    text and binary lanes."""
    import pandas as pd

    raw = (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias("file"), "content")
    )
    magic = RECORD_DELIM.encode("ascii")
    cols = [c.strip().split(" ")[0] for c in schema.split(",")]

    def gunzip(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            out: list[tuple] = []
            for file, blob in zip(pdf["file"], pdf["content"]):
                for ord_, member in enumerate(gzip_members(blob)):
                    if member.startswith(magic):
                        member = member[len(magic):]
                    out.append(row_builder(file, ord_, member))
                    if len(out) >= 256:
                        yield pd.DataFrame(out, columns=cols)
                        out = []
            if out:
                yield pd.DataFrame(out, columns=cols)

    return raw.mapInPandas(gunzip, schema=schema)


def read_warc_gz(
    spark: SparkSession, path: str, encoding: str = "utf-8"
) -> DataFrame:
    """Raw .warc.gz/.wet.gz shards → one row per record, same output shape
    as :func:`read_wet`: (file, record_ord, warc_type, target_uri,
    warc_date, content_length, body, len_ok).

    binaryFile scan (one compressed blob per shard file; parallelism =
    shard files, the archive's natural layout) → streaming per-member
    gunzip in an Arrow-batched ``mapInPandas`` (each record decodes to
    its own string; the whole-file DEcompressed form never exists) → the
    existing ``wet_record`` column kernel. record_ord is the member's
    position in its shard. Bodies decode with ``errors='replace'`` —
    binary payloads (image records in full WARC) belong on
    :func:`read_warc_gz_binary`, not this text kernel.
    """

    def build(file, ord_, member):
        return (file, ord_, member.decode(encoding, errors="replace"))

    rows = _scan_gz_members(
        spark, path, build, "file string, record_ord long, _rec string"
    )
    return rows.withColumn("_p", wet_record(F.col("_rec"))).select(
        "file", "record_ord",
        *[F.col(f"_p.{f.split(' ')[0]}") for f in _FIELDS.split(", ")],
    )


def read_warc_gz_binary(spark: SparkSession, path: str) -> DataFrame:
    """Raw .warc.gz for the MEDIA lanes: bodies stay BYTES end-to-end
    (an image/* response decoded through a text codec is corrupted — the
    graft cell's payload column is ``binary``). Same member-gunzip scan
    as :func:`read_warc_gz`; each member splits at the first CRLFCRLF
    into an ASCII header block (parsed to the usual WARC fields by
    column regexps) and a raw body:

    - header declares a parseable Content-Length and the member carries
      at least that many body bytes → ``body`` = exactly those bytes,
      ``len_ok`` = whether the remainder is only the record separator
      (trailing CRLFs);
    - otherwise → the whole remainder minus at most one trailing
      record separator (CRLFCRLF), ``len_ok`` = false (framing
      violations surface as data, bytes preserved VERBATIM for the
      audit lane — never a CR/LF strip that could eat payload bytes).

    Returns (file, record_ord, warc_type, target_uri, warc_date,
    content_length, body BINARY, len_ok). Compose with
    ``images.header_audit`` / ``decode_image`` for the pair pipeline.
    """
    import re

    clen_re = re.compile(rb"Content-Length: (\d+)")

    def build(file, ord_, member):
        sep = member.find(b"\r\n\r\n")
        if sep < 0:
            hdr, rest = member, b""
        else:
            hdr, rest = member[:sep], member[sep + 4:]
        m = clen_re.search(hdr)
        clen = int(m.group(1)) if m else None
        if clen is not None and len(rest) >= clen:
            body = rest[:clen]
            tail = rest[clen:]
            ok = tail in (b"", b"\r\n", b"\r\n\r\n")
        else:
            # strip AT MOST the record separator — never payload bytes
            # that legitimately end in CR/LF
            body = rest.removesuffix(b"\r\n\r\n")
            ok = False
        return (file, ord_, hdr.decode("utf-8", errors="replace"), body, ok)

    rows = _scan_gz_members(
        spark, path, build,
        "file string, record_ord long, _hdr string, "
        "body binary, len_ok boolean",
    )
    h = lambda name: F.regexp_extract("_hdr", name + r": ([^\r\n]+)", 1)  # noqa: E731
    return rows.select(
        "file", "record_ord",
        F.nullif(h("WARC-Type"), F.lit("")).alias("warc_type"),
        F.nullif(h("WARC-Target-URI"), F.lit("")).alias("target_uri"),
        F.nullif(h("WARC-Date"), F.lit("")).alias("warc_date"),
        F.nullif(h("Content-Length"), F.lit("")).cast("long").alias("content_length"),
        "body", "len_ok",
    )


def write_warc_gz(
    records: "list[str | bytes]", path: str
) -> list[tuple[int, int]]:
    """Serialize records (full record including the ``WARC/1.0`` magic;
    str for text records, bytes for binary-body records) as a
    gzip-member-per-record shard — the fixture/writer twin of
    :func:`read_warc_gz` / :func:`read_warc_gz_binary`. Deterministic
    bytes: mtime pinned to 0. Returns each member's ``(offset, length)``
    — the CDX fields an indexer records for :func:`read_members_at`."""
    import gzip

    spans: list[tuple[int, int]] = []
    with open(path, "wb") as f:
        for rec in records:
            data = rec.encode("utf-8") if isinstance(rec, str) else rec
            member = gzip.compress(data, mtime=0)
            spans.append((f.tell(), len(member)))
            f.write(member)
    return spans


def read_members_at(
    spark: SparkSession, plan: DataFrame, base_dir: str
) -> DataFrame:
    """The CDX-driven SELECTIVE replay: fetch exactly the planned gzip
    members — one seek + ranged read per ``(filename, offset, length)``
    row of a :func:`~web_crawler_spark.sources.cdx.fetch_plan` — and
    gunzip each independently. The archive is never scanned; cost is
    proportional to the PLAN, which is how a 100 TB corpus replays a
    0.1% slice.

    Plan rows group by filename (one open file handle per shard task)
    and read in offset order (sequential within the shard). Local /
    NFS / fuse paths seek directly; an object-store deployment swaps the
    ``open``/``seek`` pair for ranged GETs at this exact seam.

    Returns the plan's (filename, offset, url, digest) + ``record``
    (the decompressed member BYTES, magic included — feed
    ``wet_record``/:func:`http_response_binary` downstream). A range
    that does not decompress to a complete member raises (a wrong
    offset/length must never pass silently).
    """
    import os

    import pandas as pd

    def fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("offset")
        path = os.path.join(base_dir, str(pdf["filename"].iloc[0]))
        rows = []
        with open(path, "rb") as f:
            for _, r in pdf.iterrows():
                f.seek(int(r["offset"]))
                blob = f.read(int(r["length"]))
                members = list(gzip_members(blob))
                if len(members) != 1:
                    raise ValueError(
                        f"range ({r['filename']}, {r['offset']}, "
                        f"{r['length']}) holds {len(members)} members, "
                        "expected exactly 1"
                    )
                rows.append(
                    (r["filename"], int(r["offset"]), r["url"],
                     r["digest"], members[0])
                )
        return pd.DataFrame(
            rows, columns=["filename", "offset", "url", "digest", "record"]
        )

    return (
        plan.select("filename", "offset", "length", "url", "digest")
        .groupBy("filename")
        .applyInPandas(
            lambda _k, pdf: fetch(pdf),
            schema="filename string, offset long, url string, "
                   "digest string, record binary",
        )
    )


def http_response(body: Column) -> Column:
    """Parse the HTTP/1.x message inside a WARC ``response`` record's
    body (ISO 28500 §6.3: the block is the full protocol response, status
    line + headers + entity): struct(http_status int, http_content_type,
    payload). A body that is not an HTTP message (warcinfo, conversion,
    request records) comes back all-NULL — type confusion surfaces as
    data, never as a misparse. Pure regexp/substring column algebra,
    whole-stage codegen, mirrored verbatim in the DuckDB oracle.

    ``http_content_type`` is the media type alone (parameters after ';'
    dropped) — the routing key a corpus build fans out on (text/html →
    extraction, application/pdf → the PDF battery, image/* → the pair
    pipeline).
    """
    is_http = body.rlike(r"^HTTP/1\.[01] \d{3}")
    hd = F.substring_index(body, "\r\n\r\n", 1)
    payload = F.substr(body, F.length(hd) + F.lit(5), F.length(body))
    status = F.regexp_extract(hd, r"^HTTP/1\.[01] (\d{3})", 1).cast("int")
    ctype = F.nullif(
        F.regexp_extract(hd, r"\r\nContent-Type: ([^\r\n;]+)", 1), F.lit("")
    )
    return F.struct(
        F.when(is_http, status).alias("http_status"),
        F.when(is_http, ctype).alias("http_content_type"),
        F.when(is_http, payload).alias("payload"),
    )


def wat_outlinks(
    df: DataFrame, body_col: str = "body", uri_col: str = "target_uri"
) -> DataFrame:
    """WAT metadata records → the outlink edge list (src, link_ord,
    link_path, url).

    WAT is the third Common Crawl format (WARC envelope, JSON body): the
    canonical outlink path is ``Envelope → Payload-Metadata →
    HTTP-Response-Metadata → HTML-Metadata → Links[] → {path, url}``.
    This is how a link graph (host PageRank / HITS / OPIC priors in
    operators/frontier.py) bootstraps from the PUBLIC archive without
    fetching a page: one ``from_json`` against the fixed-path subset
    schema + one explode — column algebra, no whole-body Python, records
    with no links (or malformed JSON) simply yield no rows.
    """
    schema = (
        "struct<`Envelope` struct<`Payload-Metadata` struct<"
        "`HTTP-Response-Metadata` struct<`HTML-Metadata` struct<"
        "`Links` array<struct<`path` string, `url` string>>>>>>>"
    )
    links = (
        F.from_json(F.col(body_col), schema)
        ["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]
        ["HTML-Metadata"]["Links"]
    )
    return df.select(
        F.col(uri_col).alias("src"),
        F.posexplode(links).alias("link_ord", "_l"),
    ).select(
        "src",
        F.col("link_ord").cast("long").alias("link_ord"),
        F.col("_l.path").alias("link_path"),
        F.col("_l.url").alias("url"),
    )


def http_response_binary(body: Column, max_header: int = 2048) -> Column:
    """Binary-safe twin of :func:`http_response` for the MEDIA lanes: the
    HTTP/1.x message arrives as BYTES (an image entity must never pass a
    text codec), so the header block is located through an ISO-8859-1
    view of the first ``max_header`` bytes — latin-1 maps bytes to code
    points 1:1, so string offsets ARE byte offsets and the decode can
    never fail — and the entity is sliced out of the original binary
    column. Pure column algebra (decode/locate/substr), no Python.

    Returns struct(http_status int, http_content_type string,
    payload binary). Non-HTTP bodies come back all-NULL, like the text
    twin. A header block longer than ``max_header`` bytes parses as
    non-HTTP (raise the bound for exotic servers).
    """
    view = F.decode(F.substr(body, F.lit(1), F.lit(max_header)), "ISO-8859-1")
    is_http = view.rlike(r"^HTTP/1\.[01] \d{3}")
    sep = F.locate("\r\n\r\n", view)  # 1-based; 0 = not found
    hd = F.substring_index(view, "\r\n\r\n", 1)
    status = F.regexp_extract(hd, r"^HTTP/1\.[01] (\d{3})", 1).cast("int")
    ctype = F.nullif(
        F.regexp_extract(hd, r"\r\nContent-Type: ([^\r\n;]+)", 1), F.lit("")
    )
    ok = is_http & (sep > 0)
    payload = F.substr(
        body, sep + F.lit(4), F.length(body)
    )
    return F.struct(
        F.when(ok, status).alias("http_status"),
        F.when(ok, ctype).alias("http_content_type"),
        F.when(ok, payload).alias("payload"),
    )


def parse_warc_responses(
    df: DataFrame, col: str = "warc", keep: list[str] | None = None
) -> DataFrame:
    """Full-WARC layer over :func:`parse_wet_records`: every record is
    framed and parsed exactly as WET (same magic, same Content-Length
    validation), then ``response`` record bodies additionally yield the
    HTTP status, media type, and entity payload. One projection on top of
    the record rows — no extra exchange, no second pass over the shard.
    """
    recs = parse_wet_records(df, col=col, keep=keep)
    h = http_response(F.col("body"))
    return recs.select(
        "*",
        h["http_status"].alias("http_status"),
        h["http_content_type"].alias("http_content_type"),
        h["payload"].alias("payload"),
    )
