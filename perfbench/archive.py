"""The archive ``corpus_build`` releases: a deterministic ``.warc.gz``
archive whose expected release is known by construction.

Each host shard holds HTML gallery pages (captions live in their ``<img>``
alt text, one caption per image) and one ``image/png`` response per image.
Images come in *groups*: a base image plus 0-2 re-encodes of it:

- variant 1: the same pixels, PNG filter Sub at zlib level 9;
- variant 2: pixels brightened by a few levels, PNG filter Up at level 1.

Re-encodes carry their own captions, so the exact-caption dedup cannot
remove them and phash near-dup collapse has to. One variant-2 caption per
host copies the previous group's base caption, so the exact-caption dedup
also drops rows. Every image of a group sorts after its base, so the
release keeps exactly one image per group: the base.

Each host also plants rows that must not reach the release: four images
the curation gates reject (too small, bad aspect, junk caption, one-word
caption), an image nobody captions, a caption whose image is missing, and
a 404 page. The encoder and pixel source are the benchmark's own. The
engine's phash is used only to assert the construction: re-encodes within
Hamming 4 of their base, every image more than 8 from every other group's.
A violation raises; it never adjusts the expected set.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

ADJ = ["quiet", "golden", "misty", "crowded", "empty", "sunlit", "rainy", "frozen"]
NOUN = ["harbour", "market", "bridge", "orchard", "station", "library", "garden", "pier"]
PLACE = ["river", "old town", "hills", "coast", "square", "canal", "forest", "valley"]
DIMS = [64, 80, 96, 112, 128]
IMGS_PER_PAGE = 6
REJECTS = [  # (w, h, caption) per host; the gate named in the comment rejects it
    (48, 40, None),                # too_small
    (200, 64, None),               # bad_aspect (3.125 > 3)
    (96, 96, "IMG_4821"),          # junk_caption
    (96, 96, "Harbour"),           # caption_length (one token)
]


@dataclass
class Archive:
    path: str
    n_records: int = 0            # WARC records written
    n_pairs: int = 0              # image records with a caption (ingest's joined rows)
    release_ids: set = field(default_factory=set)
    n_groups: int = 0
    n_variants: int = 0


def _h(*parts) -> int:
    key = "|".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def pixels(key: str, w: int, h: int) -> np.ndarray:
    """Coarse 8x8 colour blocks (distinct low-frequency structure per key)
    plus fine texture, uint8 RGB."""
    rng = np.random.default_rng(_h("px", key))
    blocks = rng.integers(0, 256, size=(8, 8, 3))
    base = blocks[(np.arange(h) * 8 // h)][:, (np.arange(w) * 8 // w)]
    texture = rng.integers(-12, 13, size=(h, w, 3))
    return np.clip(base + texture, 0, 255).astype(np.uint8)


def encode_png(px: np.ndarray, filter_type: int = 0, level: int = 6) -> bytes:
    """RGB8 PNG with one filter type (0 None, 1 Sub, 2 Up) on every row."""
    h, w, _ = px.shape
    rows = px.reshape(h, w * 3).astype(np.int16)
    filt = rows.copy()
    if filter_type == 1:
        filt[:, 3:] -= rows[:, :-3]
    elif filter_type == 2:
        filt[1:] -= rows[:-1]
    elif filter_type != 0:
        raise ValueError(f"unsupported filter {filter_type}")
    raw = np.hstack([np.full((h, 1), filter_type, np.uint8), (filt % 256).astype(np.uint8)])

    def chunk(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw.tobytes(), level))
            + chunk(b"IEND", b""))


def _record(uri: str, status: str, ctype: str, body: bytes) -> bytes:
    msg = f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n\r\n".encode() + body
    head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"WARC-Date: 2024-01-15T00:00:00Z\r\nContent-Length: {len(msg)}\r\n\r\n")
    return head.encode("ascii") + msg + b"\r\n\r\n"


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2 ** 64 - 1)).count("1")


def build_archive(out_dir: str, seed: int, n_hosts: int, groups_per_host: int,
                  verify: bool = True) -> Archive:
    """Write one shard per host under ``out_dir`` and return what the
    ingest and the release must produce from it. ``verify=False`` skips the
    phash assertions, for a warm-up archive whose release nobody checks."""
    from web_crawler_spark.images import phash64

    os.makedirs(out_dir, exist_ok=True)
    arc = Archive(path=out_dir)
    tag = f"{seed % 10000:04d}"
    seen_hashes: list[tuple[int, int]] = []  # (group, phash) of every group image
    serial = 0
    for host_i in range(n_hosts):
        host = f"gallery{host_i:02d}-s{tag}.example.org"
        images: list[tuple[str, bytes, str | None]] = []  # (id, png, caption)
        prev_base_caption = None
        for g in range(groups_per_host):
            gid = host_i * groups_per_host + g
            # sizes and group shapes do not depend on the seed, so the
            # engine's size-driven plan choices (and so its job and task
            # counts) repeat across seeds; pixels and captions do
            w = DIMS[gid % len(DIMS)]
            hgt = DIMS[(gid // len(DIMS)) % len(DIMS)]
            px = pixels(f"{seed}/{gid}", w, hgt)
            n_var = gid % 3

            def caption():
                nonlocal serial
                serial += 1
                return (f"{ADJ[_h(seed, serial, 'a') % 8]} {NOUN[_h(seed, serial, 'n') % 8]} "
                        f"by the {PLACE[_h(seed, serial, 'p') % 8]}, view {serial}")

            base_id = f"img_{tag}{gid:06d}0"
            base_cap = caption()
            images.append((base_id, encode_png(px, 0, 6), base_cap))
            arc.release_ids.add(base_id)
            arc.n_groups += 1
            variants = [px, np.clip(px.astype(np.int16) + 5, 0, 255).astype(np.uint8)]
            for v in range(1, n_var + 1):
                vpx = variants[v - 1]
                cap = caption()
                if v == 2 and prev_base_caption is not None and g % 4 == 1:
                    cap = prev_base_caption
                png = encode_png(vpx, v, 9 if v == 1 else 1)
                images.append((f"img_{tag}{gid:06d}{v}", png, cap))
                arc.n_variants += 1
            if verify:
                group = [phash64(p) for p in [px, *variants[:n_var]]]
                if any(_hamming(group[0], ph) > 4 for ph in group[1:]):
                    raise RuntimeError(f"a re-encode of {base_id} is over 4 bits from it")
                for ph in group:
                    if any(_hamming(ph, o) <= 8 for _, o in seen_hashes):
                        raise RuntimeError(f"group {base_id} is phash-near another group")
                seen_hashes.extend((gid, ph) for ph in group)
            prev_base_caption = base_cap
        for r, (w, hgt, cap) in enumerate(REJECTS):
            rid = f"img_{tag}{900000 + host_i * 10 + r:06d}0"
            images.append((rid, encode_png(pixels(f"{seed}/rej/{host_i}/{r}", w, hgt)),
                           cap if cap is not None else caption()))

        recs: list[bytes] = []
        pages = [images[i:i + IMGS_PER_PAGE] for i in range(0, len(images), IMGS_PER_PAGE)]
        missing = f"img_{tag}{990000 + host_i:06d}0"
        for p, page in enumerate(pages):
            tags = "".join(f'<img src="/images/{iid}.png" alt="{cap}">\n' for iid, _, cap in page)
            if p == 0:
                tags += (f'<img src="/images/{missing}.png" '
                         'alt="a picture that was never archived">\n')
            body = (f"<html><head><title>Gallery {p} of {host}</title></head><body>\n"
                    f"<h1>Gallery {p}</h1>\n<p>Photographs from around {host}.</p>\n"
                    f"{tags}</body></html>").encode()
            recs.append(_record(f"https://{host}/gallery/{p}", "200 OK",
                                "text/html; charset=utf-8", body))
        for iid, png, _ in images:
            recs.append(_record(f"https://{host}/images/{iid}.png", "200 OK", "image/png", png))
        orphan = f"img_{tag}{980000 + host_i:06d}0"
        recs.append(_record(f"https://{host}/images/{orphan}.png", "200 OK", "image/png",
                            encode_png(pixels(f"{seed}/orphan/{host_i}", 64, 64))))
        recs.append(_record(f"https://{host}/gallery/missing", "404 Not Found",
                            "text/html; charset=utf-8", b"<html>gone</html>"))
        with open(os.path.join(out_dir, f"{host}.warc.gz"), "wb") as fh:
            for rec in recs:
                fh.write(gzip.compress(rec, mtime=0))
        arc.n_records += len(recs)
        arc.n_pairs += len(images)
    return arc
