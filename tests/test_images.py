"""Image payload invariants (BASELINE.json input_hint): lossless PNG
round-trip, PSNR ≥ 40 dB on the lossy path, caption equality through the
pipeline, phash near-dup behavior, Arrow-batched Spark plumbing."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from web_crawler_spark import images as IM
from web_crawler_spark.operators import dedup as D


def test_png_roundtrip_exact():
    px = IM.synth_pixels("img_000000000007", 48, 32)
    assert (IM.decode_png(IM.encode_png(px)) == px).all()


def test_lossy_psnr_at_least_40db():
    for i in range(10):
        px = IM.synth_pixels(f"img_{i:012d}", 64, 64)
        dec = IM.decode_lossy(IM.encode_lossy(px, 90))
        assert IM.psnr(px, dec) >= 40.0


def test_jpeg_real_seam_raises():
    # decode_image's jpeg branch reads only the lossy surrogate: real JPEG
    # bytes fail loudly at that seam instead of decoding to garbage
    import pytest

    with pytest.raises(ValueError, match="lossy-surrogate"):
        IM.decode_image(b"\xff\xd8\xff\xe0" + bytes(16), "jpeg")


def test_phash_properties():
    a = IM.synth_pixels("img_000000000001", 64, 48)
    b = IM.synth_pixels("img_000000000002", 64, 48)
    ha, hb = IM.phash64(a), IM.phash64(b)

    def ham(x, y):
        return bin((x ^ y) & (2 ** 64 - 1)).count("1")

    assert ham(ha, hb) > 10  # distinct content far apart
    re85 = IM.decode_lossy(IM.encode_lossy(a, 85))
    assert ham(ha, IM.phash64(re85)) <= 4  # re-encode stays close
    assert IM.phash64(a) == ha  # deterministic


def test_spark_pipeline_caption_equality_and_dedup(spark):
    imgs = IM.synthesize_images(spark, 60)
    feats = IM.image_features(imgs)
    joined = imgs.select("image_id", F.col("caption").alias("cap_in")).join(
        feats, "image_id"
    )
    rows = joined.collect()
    assert rows and all(r["decode_ok"] for r in rows)
    assert all(r["cap_in"] == r["caption"] for r in rows)  # caption equality invariant

    # stored phash (generator) == recomputed phash (pipeline)
    both = imgs.select("image_id", F.col("phash").alias("ph_in")).join(feats, "image_id")
    assert all(r["ph_in"] == r["phash"] for r in both.collect())

    # planted _dup siblings collapse onto their original
    pairs = D.phash_neardup_pairs(feats, max_hamming=8)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    for i in range(0, 60, 10):
        iid = f"img_{i:012d}"
        assert (iid, f"{iid}_dup") in got


def test_with_phash_keeps_rows_and_nulls_undecodable_bytes(spark):
    # one batch mixes decodable and undecodable bytes: each row keeps its
    # own columns, a failed decode reads NULL, and the other hashes stay
    # exact 64-bit values rather than floats
    pngs = [IM.encode_png(IM.synth_pixels(f"img_{i}", 32, 32)) for i in range(3)]
    rows = [(f"img_{i}", png, "png") for i, png in enumerate(pngs)]
    rows.append(("img_bad", pngs[0][:40], "png"))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r for r in IM.with_phash(df.coalesce(1)).collect()}
    assert IM.with_phash(df).columns == ["image_id", "bytes", "fmt", "phash"]
    assert got["img_bad"]["phash"] is None
    for i, png in enumerate(pngs):
        assert bytes(got[f"img_{i}"]["bytes"]) == png
        assert got[f"img_{i}"]["phash"] == IM.phash64(IM.decode_png(png))


def test_synthesize_is_deterministic(spark):
    a = IM.synthesize_images(spark, 20).select("image_id", "phash").collect()
    b = IM.synthesize_images(spark, 20).select("image_id", "phash").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_curate_pairs_gate_cascade(spark):
    rows = [
        # (image_id, w, h, fmt, caption, expected_reason)
        ("ok", 128, 128, "png", "a photo of a red bicycle", None),
        ("fmt", 128, 128, "gif", "a photo of a red bicycle", "bad_format"),
        ("small", 32, 128, "png", "a photo of a red bicycle", "too_small"),
        ("aspect", 64, 400, "jpeg", "a photo of a red bicycle", "bad_aspect"),
        ("nocap", 128, 128, "png", "   ", "no_caption"),
        ("nullcap", 128, 128, "png", None, "no_caption"),
        ("short", 128, 128, "png", "photo", "caption_length"),
        ("long", 128, 128, "png", " ".join(["word"] * 33), "caption_length"),
        ("junk", 128, 128, "png", "IMG_4321.JPG photo", "junk_caption"),
        ("junk2", 128, 128, "png", "dsc 0042 from camera", "junk_caption"),
        ("url", 128, 128, "png", "buy at https://shop.example.com now",
         "url_in_caption"),
        ("digits", 128, 128, "png", "1234 5678 90", "digit_heavy"),
        # cascade order: bad_format wins over every later gate
        ("multi", 8, 999, "bmp", "IMG_1.JPG https://x.test 12345",
         "bad_format"),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "image_id string, w int, h int, fmt string, caption string",
    )
    got = {r["image_id"]: r for r in IM.curate_pairs(df).collect()}
    for image_id, _, _, _, _, want in rows:
        assert got[image_id]["reject_reason"] == want, image_id
        assert got[image_id]["keep"] == (want is None)
    assert got["ok"]["n_caption_tokens"] == 6
    assert abs(got["aspect"]["aspect"] - 6.25) < 1e-9


def test_curate_pairs_composes_with_input_hint_schema(spark):
    # gates run over the real synthesized payload table: metadata-only
    # projection, no decode required
    imgs = IM.synthesize_images(spark, 30)
    out = IM.curate_pairs(imgs)
    rows = out.collect()
    assert len(rows) == len(imgs.collect())
    # synthesized dims are 16..96 => every row fails a dim gate or passes
    for r in rows:
        if r["keep"]:
            assert min(r["w"], r["h"]) >= 64 and r["aspect"] <= 3.0


def test_aspect_bucket_nearest_and_batching(spark):
    df = spark.createDataFrame(
        [
            ("a1", 1024, 1024),  # exact square -> 1024x1024
            ("a2", 100, 400),    # 1:4 -> squashes to widest portrait 512x2048
            ("a3", 400, 100),    # 4:1 -> 2048x512
            ("a4", 1000, 1100),  # near-square, slightly tall -> 960x1088
        ],
        "image_id string, w int, h int",
    )
    got = {r["image_id"]: r for r in IM.aspect_bucket(df).collect()}
    assert (got["a1"]["bucket_w"], got["a1"]["bucket_h"]) == (1024, 1024)
    assert got["a1"]["aspect_dist"] == 1.0
    assert (got["a2"]["bucket_w"], got["a2"]["bucket_h"]) == (512, 2048)
    assert (got["a3"]["bucket_w"], got["a3"]["bucket_h"]) == (2048, 512)
    assert (got["a4"]["bucket_w"], got["a4"]["bucket_h"]) == (960, 1088)

    # batching: fill one bucket past batch_size and check the split point
    many = spark.createDataFrame(
        [(f"b{i:02d}", 640, 640) for i in range(10)], "image_id string, w int, h int"
    )
    rows = IM.aspect_bucket(many, batch_size=8).collect()
    by_id = {r["image_id"]: r["batch_idx"] for r in rows}
    assert all(by_id[f"b{i:02d}"] == 0 for i in range(8))
    assert all(by_id[f"b{i:02d}"] == 1 for i in range(8, 10))


def test_aspect_bucket_tie_breaks_to_lowest_index(spark):
    # aspect exactly between two buckets' ratios: 1088x1024 sits strictly
    # between 1024x1024 (r=1.0625) and 1088x960 (r=1.0625*...) — construct a
    # genuine tie instead: buckets (2,1) and (1,2) are equidistant from 1:1.
    df = spark.createDataFrame([("t", 100, 100)], "image_id string, w int, h int")
    got = IM.aspect_bucket(df, buckets=[(200, 100), (100, 200)]).collect()[0]
    assert (got["bucket_w"], got["bucket_h"]) == (200, 100)  # first wins


def test_shard_pack_cumulative_offsets(spark):
    df = spark.createDataFrame(
        [(f"img_{i:04d}", 1000) for i in range(64)], "image_id string, eb int"
    )
    rows = IM.shard_pack(df, "eb", n_writers=2, shard_bytes=4000).collect()
    assert {r["writer"] for r in rows} <= {0, 1}
    for wtr in (0, 1):
        grp = sorted(
            (r for r in rows if r["writer"] == wtr), key=lambda r: r["image_id"]
        )
        cum = 0
        for r in grp:
            assert r["shard_idx"] == cum // 4000
            assert r["shard_offset"] == cum % 4000
            assert r["shard_key"] == f"w{wtr}-s{r['shard_idx']:05d}"
            cum += 1000

    # assignment is subset-stable: dropping rows never moves later rows
    # to a different writer (md5 keying), though offsets re-pack
    sub = IM.shard_pack(df.limit(32), "eb", n_writers=2, shard_bytes=4000)
    w_full = {r["image_id"]: r["writer"] for r in rows}
    for r in sub.collect():
        assert r["writer"] == w_full[r["image_id"]]


def test_verify_invariant_detects_corruption(spark):
    imgs = IM.synthesize_images(spark, 24)
    inv = {r["image_id"]: r for r in IM.verify_invariant(imgs).collect()}
    assert inv and all(r["pixels_ok"] and r["caption_ok"] for r in inv.values())
    for r in inv.values():
        if r["fmt"] == "png":
            assert r["psnr"] is None  # exact lossless match
        else:
            assert r["psnr"] >= 40.0

    # corrupt one stored payload (decodes cleanly but to the WRONG pixels —
    # a valid png of a different image's content) and one caption
    import zlib as _z

    vic = "img_000000000001"
    w = 16 + (_z.crc32(f"{vic}|w".encode()) % 6) * 16
    h = 16 + (_z.crc32(f"{vic}|h".encode()) % 6) * 16
    wrong = IM.encode_png(IM.synth_pixels("img_999999999999", w, h))
    bad = imgs.withColumn(
        "bytes",
        F.when(F.col("image_id") == vic, F.lit(bytearray(wrong)))
        .otherwise(F.col("bytes")),
    )
    got = {r["image_id"]: r for r in IM.verify_invariant(bad).collect()}
    assert not got[vic]["pixels_ok"]
    assert all(r["pixels_ok"] for k, r in got.items() if k != vic)
    got2 = {
        r["image_id"]: r
        for r in IM.verify_invariant(
            imgs.withColumn(
                "caption",
                F.when(F.col("image_id") == "img_000000000002", F.lit("tampered"))
                .otherwise(F.col("caption")),
            )
        ).collect()
    }
    assert not got2["img_000000000002"]["caption_ok"]
    assert all(r["caption_ok"] for k, r in got2.items() if k != "img_000000000002")


def test_aspect_bucket_matches_naive_argmin_on_random_dims(spark):
    """Cross-validate the fold against a plain-Python argmin over ~200
    pseudo-random (w, h) pairs (deterministic LCG — no RNG in tests)."""
    dims, x = [], 1234567
    for i in range(200):
        x = (x * 1103515245 + 12345) % (1 << 31)
        w = 16 + x % 4096
        x = (x * 1103515245 + 12345) % (1 << 31)
        h = 16 + x % 4096
        dims.append((f"r{i:03d}", w, h))
    df = spark.createDataFrame(dims, "image_id string, w int, h int")
    got = {r["image_id"]: (r["bucket_w"], r["bucket_h"])
           for r in IM.aspect_bucket(df).collect()}

    def naive(w, h):
        best, best_r = None, None
        for bw, bh in IM.SDXL_BUCKETS:
            r = max(w * bh, h * bw) / min(w * bh, h * bw)
            if best_r is None or r < best_r:
                best, best_r = (bw, bh), r
        return best

    for iid, w, h in dims:
        assert got[iid] == naive(w, h), (iid, w, h)


def test_dhash_separates_reencodes_from_distinct_images(spark):
    """The two-hash consensus contract: jpeg re-encodes stay dhash-close
    (<= 8) while distinct synthetic ids stay far (>= 16), so dhash
    confirmation never breaks a true phash pair and would veto a false
    one."""
    import numpy as np

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for i in range(12):
        px = IM.synth_pixels(f"img{i:05d}", 64 + (i % 5) * 16, 48 + (i % 3) * 16)
        rec = IM.decode_lossy(IM.encode_lossy(px, 85))
        assert ham(IM.dhash64(px), IM.dhash64(rec)) <= 8
        if i:
            other = IM.synth_pixels(f"img{i - 1:05d}", 64, 48)
            assert ham(IM.dhash64(px), IM.dhash64(other)) >= 16
    # dhash IS invariant under an actual resize of the same pixels (the
    # index-sampling grid sees the same gradients) — note synth_pixels at
    # a different size is a different image, not a resize
    px = IM.synth_pixels("img00001", 64, 48)
    up = np.kron(px, np.ones((3, 3, 1))).astype(np.uint8)  # 192x144 blowup
    assert ham(IM.dhash64(px), IM.dhash64(up)) <= 8


def test_ahash_independent_recompute_and_separation():
    """aHash (tri-hash third family): (1) bit-for-bit match against a
    from-scratch naive recompute (mean threshold over the same 8x8 index
    sample) — catches bit-order/sign bugs independently of the engine
    code path; (2) the consensus margins: re-encodes stay <= 8, distinct
    synthetic ids >= 16; (3) resize invariance like dhash."""
    import numpy as np

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    def naive(px):
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        h, w = gray.shape
        s = [[gray[min(y * h // 8, h - 1)][min(x * w // 8, w - 1)]
              for x in range(8)] for y in range(8)]
        mean = sum(sum(r) for r in s) / 64.0
        val = 0
        i = 0
        for row in s:
            for v in row:
                if v > mean:
                    val |= 1 << i
                i += 1
        return val - (1 << 64) if val >= 1 << 63 else val

    for i in range(12):
        px = IM.synth_pixels(f"img{i:05d}", 64 + (i % 5) * 16, 48 + (i % 3) * 16)
        assert IM.ahash64(px) == naive(px), i
        rec = IM.decode_lossy(IM.encode_lossy(px, 85))
        assert ham(IM.ahash64(px), IM.ahash64(rec)) <= 8
        if i:
            other = IM.synth_pixels(f"img{i - 1:05d}", 64, 48)
            assert ham(IM.ahash64(px), IM.ahash64(other)) >= 16
    px = IM.synth_pixels("img00001", 64, 48)
    up = np.kron(px, np.ones((3, 3, 1))).astype(np.uint8)
    assert ham(IM.ahash64(px), IM.ahash64(up)) <= 8


def test_colorfulness_metric_properties():
    """Hasler–Süsstrunk colorfulness: exact naive recompute match, zero
    on pure grayscale, large on saturated opponent colors, deterministic."""
    import numpy as np

    def naive(px):
        px = px.astype(np.float64)
        rg = px[..., 0] - px[..., 1]
        yb = 0.5 * (px[..., 0] + px[..., 1]) - px[..., 2]
        return float(np.sqrt(rg.std() ** 2 + yb.std() ** 2)
                     + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2))

    for i in range(6):
        px = IM.synth_pixels(f"img{i:05d}", 64, 48)
        assert abs(IM.colorfulness(px) - naive(px)) < 1e-9
    gray = np.tile(np.arange(48, dtype=np.uint8)[:, None, None], (1, 64, 3))
    assert IM.colorfulness(gray) == 0.0
    sat = np.zeros((16, 16, 3), np.uint8)
    sat[:8, :, 0] = 255   # half pure red
    sat[8:, :, 2] = 255   # half pure blue
    assert IM.colorfulness(sat) > 100.0


def test_model_score_gate_cascade_and_broadcast(spark):
    """Scores-as-data gate: per-reason cascade order, unscored rows fail
    as missing_score (never silently pass), and the plan is a broadcast
    join — no shuffle rides the pair table."""
    pairs = spark.createDataFrame(
        [(f"i{k}",) for k in range(6)], "image_id string")
    scores = spark.createDataFrame(
        [
            ("i0", 0.0, 6.0, 0.0),    # clean -> keep
            ("i1", 0.9, 6.0, 0.0),    # nsfw
            ("i2", 0.9, 6.0, 0.9),    # nsfw beats watermark (cascade order)
            ("i3", 0.0, 6.0, 0.9),    # watermark
            ("i4", 0.0, 1.0, 0.0),    # low_aesthetic
        ],
        "image_id string, nsfw_p double, aesthetic double, watermark_p double",
    )
    got = {r["image_id"]: (r["keep"], r["reject_reason"])
           for r in IM.model_score_gate(pairs, scores).collect()}
    assert got == {
        "i0": (True, None), "i1": (False, "nsfw"), "i2": (False, "nsfw"),
        "i3": (False, "watermark"), "i4": (False, "low_aesthetic"),
        "i5": (False, "missing_score"),
    }
    plan = IM.model_score_gate(pairs, scores)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_webdataset_write_read_roundtrip_exact(spark, tmp_path):
    """write_webdataset emits real ustar shards; read_webdataset's
    binaryFile+tar scan must reproduce every (id, bytes, caption) exactly,
    and shard bytes must be deterministic across runs (pinned tar
    metadata) so content-hash dedup of re-uploads works."""
    import hashlib

    pairs = IM.synthesize_images(spark, n=30)
    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    m1 = IM.write_webdataset(pairs, d1, n_writers=4, shard_bytes=64 * 1024).collect()
    assert sum(r["n_samples"] for r in m1) == pairs.count()
    assert all(r["tar_bytes"] > 0 for r in m1)

    back = IM.read_webdataset(spark, d1)
    src = {
        (r["image_id"], hashlib.md5(bytes(r["bytes"])).hexdigest(), r["caption"])
        for r in pairs.collect()
    }
    got = {
        (r["image_id"], hashlib.md5(bytes(r["img"])).hexdigest(), r["caption"])
        for r in back.collect()
    }
    assert got == src

    # determinism: same input -> bit-identical shard archives
    m2 = IM.write_webdataset(pairs, d2, n_writers=4, shard_bytes=64 * 1024).collect()
    assert {r["shard_key"]: r["tar_md5"] for r in m1} == {
        r["shard_key"]: r["tar_md5"] for r in m2
    }

    # shard membership matches the shard_pack addressing contract:
    # every sample sits in exactly the shard its (writer, shard_idx) says
    sized = pairs.select(
        "image_id", "bytes", "caption",
        (F.length("bytes") + F.length("caption")).cast("long").alias("n_bytes"),
    )
    addressed = {
        r["image_id"]: f"w{r['writer']}-s{r['shard_idx']:05d}"
        for r in IM.shard_pack(
            sized, "n_bytes", n_writers=4, shard_bytes=64 * 1024
        ).collect()
    }
    placed = {r["image_id"]: r["shard_key"] for r in back.collect()}
    assert placed == addressed


def test_webdataset_orphan_member_surfaces_as_null_caption(spark, tmp_path):
    """A .img with no .txt twin must come back as a NULL-caption row, not
    disappear — loss stays observable downstream."""
    import io
    import tarfile

    d = tmp_path / "orphan"
    d.mkdir()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        info = tarfile.TarInfo(name="lone.img")
        payload = b"\x89payload"
        info.size = len(payload)
        info.mtime = 0
        tf.addfile(info, io.BytesIO(payload))
    (d / "w0-s00000.tar").write_bytes(buf.getvalue())
    rows = IM.read_webdataset(spark, str(d)).collect()
    assert len(rows) == 1
    assert rows[0]["image_id"] == "lone"
    assert rows[0]["caption"] is None
    assert bytes(rows[0]["img"]) == b"\x89payload"


def test_elect_captions_transitive_cluster_and_tiebreak(spark):
    """Caption election: longest caption wins across the WHOLE transitive
    cluster (A~B, B~C must pool A, B, C), ties break to the
    lexicographically smallest, singletons keep their own caption."""
    pairs = spark.createDataFrame(
        [
            ("i1", "short"),
            ("i2", "the much longer caption"),
            ("i3", "tie caption B"),
            ("i4", "solo caption"),
            ("i5", "tie caption A"),
            ("i6", "tie caption A"),
        ],
        "image_id string, caption string",
    )
    # chain i1~i2~i3 (transitive), pair i5~i6 (equal-length tie via i3? no:
    # i5/i6 tie with each other), i4 singleton
    dup = spark.createDataFrame(
        [("i1", "i2"), ("i2", "i3"), ("i5", "i6")], "a string, b string"
    )
    out = {r["image_id"]: r for r in IM.elect_captions(pairs, dup).collect()}
    assert len(out) == 6
    # chain cluster pools all three captions; longest wins everywhere
    for i in ("i1", "i2", "i3"):
        assert out[i]["cluster_id"] == "i1"
        assert out[i]["elected_caption"] == "the much longer caption"
        assert out[i]["n_members"] == 3 and out[i]["n_captions"] == 3
    assert out["i1"]["is_rep"] and not out["i2"]["is_rep"]
    # i5/i6 share one caption text -> one distinct caption, elected as-is
    assert out["i5"]["elected_caption"] == "tie caption A"
    assert out["i5"]["n_captions"] == 1
    # cross-cluster tie-break check rides the oracled arm (equal-length
    # captions inside the chain cluster order lexicographically there)
    # singleton passes through untouched
    assert out["i4"]["elected_caption"] == "solo caption"
    assert out["i4"]["n_members"] == 1 and out["i4"]["is_rep"]
    # the collapsed corpus = is_rep filter, one row per cluster
    reps = [r for r in out.values() if r["is_rep"]]
    assert sorted(r["cluster_id"] for r in reps) == ["i1", "i4", "i5"]


def test_elect_captions_rep_can_lose_the_election(spark):
    """The representative id (min of cluster) and the elected caption are
    independent: the rep keeps the cluster's identity, the caption comes
    from whichever member had the best one."""
    pairs = spark.createDataFrame(
        [("a1", "tiny"), ("a2", "a very descriptive alt text")],
        "image_id string, caption string",
    )
    dup = spark.createDataFrame([("a1", "a2")], "a string, b string")
    out = {r["image_id"]: r for r in IM.elect_captions(pairs, dup).collect()}
    assert out["a1"]["is_rep"]
    assert out["a1"]["elected_caption"] == "a very descriptive alt text"


# --------------------------- binary header audit (zero-decode column) ------
def test_sniff_format_magics(spark):
    rows = [
        ("png", IM.encode_png(IM.synth_pixels("img_000000000001", 16, 16))),
        ("lossy", IM.encode_lossy(IM.synth_pixels("img_000000000002", 16, 16))),
        ("jpeg", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00rest"),
        ("gif", b"GIF89a\x10\x00\x10\x00rest"),
        ("gif", b"GIF87a\x10\x00\x10\x00rest"),
        ("webp", b"RIFF\x00\x00\x00\x00WEBPVP8 rest"),
        (None, b"RIFF\x00\x00\x00\x00WAVEfmt "),  # RIFF but not WEBP
        (None, b"\x00PNG\r\n\x1a\n"),
        (None, b""),
        (None, b"\x89P"),  # shorter than any magic
    ]
    df = spark.createDataFrame(
        [(i, exp, data) for i, (exp, data) in enumerate(rows)],
        "i int, expected string, bytes binary",
    )
    got = df.select("expected", IM.sniff_format("bytes").alias("s")).collect()
    for r in got:
        assert r["s"] == r["expected"], (r["expected"], r["s"])


def test_png_ihdr_parses_real_encoder_output(spark):
    px = IM.synth_pixels("img_000000000042", 80, 48)
    df = spark.createDataFrame([(IM.encode_png(px),)], "bytes binary")
    r = df.select(IM.png_ihdr("bytes").alias("p")).collect()[0]["p"]
    assert r["ihdr_ok"] and (r["w"], r["h"]) == (80, 48)
    assert (r["bit_depth"], r["color_type"]) == (8, 2)


def test_png_ihdr_rejects_truncation_and_bad_chunk(spark):
    data = IM.encode_png(IM.synth_pixels("img_000000000042", 32, 32))
    bad_len = data[:8] + b"\x00\x00\x00\x0c" + data[12:]  # chunk len 12 != 13
    df = spark.createDataFrame(
        [(1, data[:20]), (2, bad_len), (3, data[:33])],
        "i int, bytes binary",
    )
    got = {r["i"]: r["p"] for r in
           df.select("i", IM.png_ihdr("bytes").alias("p")).collect()}
    assert not got[1]["ihdr_ok"] and got[1]["w"] is None
    assert not got[2]["ihdr_ok"]
    assert got[3]["ihdr_ok"] and got[3]["w"] == 32  # exactly the minimum


def test_header_audit_clean_fixture_all_pass(spark):
    aud = IM.header_audit(IM.synthesize_images(spark, 40))
    rows = aud.collect()
    assert rows and all(r["header_dims_ok"] for r in rows)
    for r in rows:
        assert (r["hdr_w"], r["hdr_h"]) == (r["w"], r["h"])
        assert r["sniffed"] == ("png" if r["fmt"] == "png" else "lossy")
        if r["fmt"] == "png":
            assert (r["hdr_bit_depth"], r["hdr_color_type"]) == (8, 2)


def test_header_audit_metadata_mismatch_fails_row(spark):
    # header parses fine but catalog metadata lies about the width
    imgs = IM.synthesize_images(spark, 8).withColumn(
        "w", (F.col("w") + 1).cast("int")
    )
    assert IM.header_audit(imgs).filter(F.col("header_dims_ok")).count() == 0


def test_header_audit_is_codegen_column_algebra(spark):
    # the audit must stay whole-stage-codegen scan algebra: no exchange,
    # no Python evaluation in the plan
    plan = IM.header_audit(
        IM.synthesize_images(spark, 8)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan.replace("MapInPandas", "")


def test_gif_header_dims_little_endian(spark):
    import struct as _st

    def gif(w, h, magic=b"GIF89a"):
        return magic + _st.pack("<HH", w, h) + b"\x00" * 6

    rows = [
        (1, gif(320, 200), 320, 200, True),
        (2, gif(1, 65535, b"GIF87a"), 1, 65535, True),
        (3, gif(320, 200)[:9], None, None, False),   # truncated descriptor
        (4, b"GIX89a" + _st.pack("<HH", 9, 9), None, None, False),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b, *_ in rows], "i int, bytes binary"
    )
    got = {r["i"]: r["g"] for r in
           df.select("i", IM.gif_header("bytes").alias("g")).collect()}
    for i, _, w, h, ok in rows:
        assert got[i]["hdr_ok"] == ok, i
        assert (got[i]["w"], got[i]["h"]) == (w, h), i


def test_header_audit_gif_rows_validate_against_metadata(spark):
    import struct as _st

    data = b"GIF89a" + _st.pack("<HH", 64, 48) + b"\x00" * 6
    df = spark.createDataFrame(
        [("g1", data, 64, 48, "gif", "cap", 0),
         ("g2", data, 64, 99, "gif", "cap", 0)],  # metadata lies on h
        "image_id string, bytes binary, w int, h int, fmt string,"
        " caption string, phash long",
    )
    got = {r["image_id"]: r for r in IM.header_audit(df).collect()}
    assert got["g1"]["sniffed"] == "gif" and got["g1"]["header_dims_ok"]
    assert got["g1"]["hdr_w"] == 64 and got["g1"]["hdr_h"] == 48
    assert not got["g2"]["header_dims_ok"]


# ------------------------------------------------- full-filter PNG decode --
def _png_bytes(px: "np.ndarray", ctype: int, row_filters: list) -> bytes:
    """Hand-build a PNG with a CHOSEN filter per scanline (the encode-side
    inverse of each spec predictor), so the decoder's filter coverage is
    tested against independently constructed streams."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape
    flat = px.reshape(h, w * ch).astype(np.int16)
    bpp = ch
    raw = b""
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        line = flat[y]
        f = row_filters[y % len(row_filters)]
        out = np.zeros(w * ch, dtype=np.int16)
        for x in range(w * ch):
            a = int(line[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(line[x]) - pred) & 0xFF
        raw += bytes([f]) + out.astype(np.uint8).tobytes()
        prev = line

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def test_decode_png_all_filters_rgb():
    import numpy as np

    from web_crawler_spark.images import decode_png

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (10, 7, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _png_bytes(px, 2, filters)
        got = decode_png(data)
        assert np.array_equal(got, px), filters


def test_decode_png_color_types():
    import numpy as np

    from web_crawler_spark.images import decode_png

    rng = np.random.default_rng(4)
    # grayscale → replicated channels
    g = rng.integers(0, 256, (6, 5, 1), dtype=np.uint8)
    got = decode_png(_png_bytes(g, 0, [0, 4]))
    assert np.array_equal(got, np.repeat(g, 3, axis=2))
    # gray+alpha → alpha dropped, gray replicated
    ga = rng.integers(0, 256, (6, 5, 2), dtype=np.uint8)
    got = decode_png(_png_bytes(ga, 4, [2, 3]))
    assert np.array_equal(got, np.repeat(ga[:, :, :1], 3, axis=2))
    # RGBA → alpha dropped
    rgba = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    got = decode_png(_png_bytes(rgba, 6, [1, 4]))
    assert np.array_equal(got, rgba[:, :, :3])


def test_decode_png_rejects_out_of_scope_streams():
    import numpy as np
    import pytest

    from web_crawler_spark.images import decode_png

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _png_bytes(px, 2, [0])
    # palette color type → the real-codec seam, loud
    bad = bytearray(good)
    bad[8 + 4 + 4 + 9] = 3  # IHDR color type byte
    with pytest.raises(NotImplementedError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(b"JUNK" + good[4:])
