"""SnapshotTable incremental scans and the changelog-dedup composition.

The table's append/overwrite/time-travel/lineage surface is exercised
end-to-end by the crawl identity tests (the frontier IS a SnapshotTable);
this file covers the Iceberg-incremental-scan semantics directly:
read_changes returns exactly the appended delta, refuses to cross an
overwrite, and composes with dedup_against_corpus into the catch-up
ingest shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.lake import SnapshotTable
from web_crawler_spark.operators import dedup as D


def _tbl(spark, tmp_path, name):
    return SnapshotTable(str(tmp_path / name))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_read_changes_returns_exactly_the_appended_delta(spark, tmp_path):
    t = _tbl(spark, tmp_path, "t1")
    s0 = t.append(_docs(spark, [(1, "alpha"), (2, "beta")]))["snapshot_id"]
    s1 = t.append(_docs(spark, [(3, "gamma")]))["snapshot_id"]
    s2 = t.append(_docs(spark, [(4, "delta"), (5, "epsilon")]))["snapshot_id"]

    got = sorted(r["doc_id"] for r in t.read_changes(spark, s0).collect())
    assert got == [3, 4, 5]
    got01 = sorted(r["doc_id"] for r in t.read_changes(spark, s0, s1).collect())
    assert got01 == [3]
    got12 = sorted(r["doc_id"] for r in t.read_changes(spark, s1, s2).collect())
    assert got12 == [4, 5]
    # empty range → empty frame, schema intact
    empty = t.read_changes(spark, s2)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "text"]
    # full-table read still sees everything
    assert t.read(spark).count() == 5


def test_read_changes_refuses_overwrite_and_unknown_snapshots(spark, tmp_path):
    t = _tbl(spark, tmp_path, "t2")
    s0 = t.append(_docs(spark, [(1, "a")]))["snapshot_id"]
    t.overwrite(_docs(spark, [(9, "z")]))
    s2 = t.append(_docs(spark, [(10, "y")]))["snapshot_id"]

    with pytest.raises(ValueError, match="non-append"):
        t.read_changes(spark, s0)
    with pytest.raises(ValueError, match="unknown from_snapshot"):
        t.read_changes(spark, 99)
    with pytest.raises(ValueError, match="unknown to_snapshot"):
        t.read_changes(spark, s0, 99)
    # a window that starts after the overwrite is fine
    assert [r["doc_id"] for r in t.read_changes(spark, s2 - 1, s2).collect()] == [10]


def test_dedup_table_changes_catches_up_against_pinned_corpus(spark, tmp_path):
    t = _tbl(spark, tmp_path, "t3")
    # standing corpus: two documents
    chk = t.append(_docs(spark, [(1, "the quick fox"), (2, "lazy dog")]))[
        "snapshot_id"
    ]
    # producer appends a crawl snapshot: one re-crawl (dup of doc 1, new
    # id) and two genuinely new docs
    t.append(
        _docs(
            spark,
            [(3, "the quick fox"), (4, "jumped over"), (5, "the moon")],
        )
    )
    got = D.dedup_table_changes(spark, t, chk, text_col="text")
    ids = sorted(r["doc_id"] for r in got.collect())
    assert ids == [4, 5]  # the re-crawl is dropped, both new docs survive
    assert "fingerprint" in got.columns
    # result equals the exact anti-join over the same windows (the
    # dedup_against_corpus contract, restated through the table reads)
    inc = t.read_changes(spark, chk)
    corpus = t.read(spark, chk).select(F.col("text").alias("t0"))
    from web_crawler_spark.functions import text as TX

    exact = (
        inc.withColumn("fingerprint", TX.fingerprint("text"))
        .join(
            corpus.select(TX.fingerprint("t0").alias("fingerprint")).distinct(),
            "fingerprint",
            "left_anti",
        )
    )
    assert sorted(r["doc_id"] for r in exact.collect()) == ids


def test_compact_rewrites_layout_preserves_content_and_changelog(spark, tmp_path):
    import glob

    t = _tbl(spark, tmp_path, "t4")
    chk = t.append(_docs(spark, [(1, "a"), (2, "b")]))["snapshot_id"]
    t.append(_docs(spark, [(3, "c")]))
    t.append(_docs(spark, [(4, "d")]))
    before = sorted(r["doc_id"] for r in t.read(spark).collect())
    n_files_before = len(glob.glob(str(tmp_path / "t4" / "data" / "*" / "*.parquet")))

    snap = t.compact(spark)
    assert snap["operation"] == "compact"
    # logical content identical, physical file set folded to one dir
    assert sorted(r["doc_id"] for r in t.read(spark).collect()) == before
    assert len(snap["files"]) == 1
    # incremental scan SKIPS the compaction: catching up from the
    # checkpoint still yields exactly the appended delta, not the rewrite
    got = sorted(r["doc_id"] for r in t.read_changes(spark, chk).collect())
    assert got == [3, 4]
    # a compact-only window is an empty (schema-stable) delta
    post = t.append(_docs(spark, [(5, "e")]))["snapshot_id"]
    only_new = t.read_changes(spark, snap["snapshot_id"], post)
    assert [r["doc_id"] for r in only_new.collect()] == [5]
    # pinned time-travel read at the checkpoint still works post-compact
    assert sorted(r["doc_id"] for r in t.read(spark, chk).collect()) == [1, 2]
    # overwrite still refuses
    t.overwrite(_docs(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="non-append"):
        t.read_changes(spark, chk)
    assert n_files_before >= 3


def test_compact_zorder_clusters_files_for_multidim_skipping(spark, tmp_path):
    """ZORDER compaction: (1) logical content unchanged; (2) parquet
    per-file min/max stats actually prune a 2-D box predicate — the file
    count whose [min,max] box overlaps x∈[0,7] ∧ y∈[0,7] drops from
    "every file" under hash layout to a corner's worth under z-layout.
    Stats read straight from the parquet footers (pyarrow), i.e. the
    exact evidence a scan planner uses."""
    import glob

    import pyarrow.parquet as pq

    t = _tbl(spark, tmp_path, "tz")
    # two decorrelated 0..63 dims; hash layout scatters both everywhere
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("long").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t.append(df.repartition(16))
    before = sorted(tuple(r) for r in t.read(spark).collect())

    def overlapping_files(rels):
        n = 0
        for rel in rels:
            for f in glob.glob(str(tmp_path / "tz" / "data" / rel / "*.parquet")):
                md = pq.ParquetFile(f).metadata
                box = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        col = md.row_group(rg).column(ci)
                        name = col.path_in_schema
                        if name in ("x", "y") and col.statistics is not None:
                            lo, hi = col.statistics.min, col.statistics.max
                            cur = box.get(name, (lo, hi))
                            box[name] = (min(cur[0], lo), max(cur[1], hi))
                if box["x"][0] <= 7 and box["y"][0] <= 7:
                    n += 1
        return n

    files_before = overlapping_files(t.current()["files"])

    snap = t.compact(spark, target_files=16, zorder_by=["x", "y"], zorder_bits=6)
    assert snap["summary"]["zorder_by"] == ["x", "y"]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before

    files_after = overlapping_files(snap["files"])
    # hash layout: essentially every file overlaps the corner box;
    # z-layout: the corner lives in a handful of contiguous z-ranges
    assert files_before >= 12
    assert files_after <= files_before // 3


def test_zorder_value_matches_naive_interleave(spark):
    """Engine z-value == from-scratch Python Morton interleave, bit for
    bit, over the full 2-D rank grid — the closed-form column expression
    has no bit-order or offset bug."""
    from web_crawler_spark.lake import zorder_value

    def naive(x, y, bits):
        v = 0
        for i in range(bits):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    got = df.select(
        "x", "y", zorder_value([F.col("x"), F.col("y")], bits=4).alias("zv")
    ).collect()
    for r in got:
        assert r["zv"] == naive(r["x"], r["y"], 4), (r["x"], r["y"])


def test_manifest_stats_prune_scan_without_opening_files(spark, tmp_path):
    """Iceberg-manifest-style scan planning: snapshot JSON carries
    per-file column min/max lifted from the parquet footers at commit
    time; plan_scan prunes from the manifest alone, and read_where over
    the pruned file set returns exactly read().filter(...). After a
    zorder compact, a 2-D box predicate opens a corner's worth of the
    files."""
    t = _tbl(spark, tmp_path, "tp")
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("long").alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    t.append(df.repartition(16))

    # stats landed in the manifest for every data file
    snap = t.current()
    assert len(snap["file_stats"]) == 16
    assert all({"x", "y", "payload"} <= set(b) for b in snap["file_stats"].values())

    # pruned read == full read + filter, on the unclustered layout too
    want = sorted(
        tuple(r) for r in t.read(spark)
        .filter((F.col("x") <= 7) & (F.col("y") <= 7)).collect()
    )
    got = sorted(
        tuple(r) for r in t.read_where(spark, {"x": (None, 7), "y": (None, 7)})
        .collect()
    )
    assert got == want and len(want) > 0

    # zorder compact -> the same box predicate now PLANS a small scan
    t.compact(spark, target_files=16, zorder_by=["x", "y"], zorder_bits=6)
    kept, total = t.plan_scan({"x": (0, 7), "y": (0, 7)})
    assert total == 16 and len(kept) <= total // 3
    got2 = sorted(
        tuple(r) for r in t.read_where(spark, {"x": (0, 7), "y": (0, 7)})
        .collect()
    )
    assert got2 == want

    # unknown column bounds never prune (conservative)
    kept_unknown, total2 = t.plan_scan({"nonexistent": (0, 1)})
    assert len(kept_unknown) == total2

    # point lookup on a string column after an equality-clustered rewrite
    t2 = _tbl(spark, tmp_path, "tps")
    sdf = spark.range(0, 2000).select(
        F.concat(F.lit("h"), (F.col("id") % 40).cast("string")).alias("host"),
        F.col("id").alias("payload"),
    )
    t2.append(sdf.repartition(8))
    t2.compact(spark, target_files=8, zorder_by=["host"], zorder_bits=6)
    kept_h, total_h = t2.plan_scan({"host": ("h7", "h7")})
    # crc32 bucketing clusters EQUAL hosts but is not lexicographically
    # order-preserving, so [min,max] boxes overlap more than a sorted
    # layout's would — still a halving, not a full scan
    assert total_h == 8 and len(kept_h) <= total_h // 2
    got_h = sorted(
        tuple(r) for r in t2.read_where(spark, {"host": ("h7", "h7")}).collect()
    )
    want_h = sorted(
        tuple(r) for r in t2.read(spark).filter(F.col("host") == "h7").collect()
    )
    assert got_h == want_h and len(want_h) == 50


def test_rollback_restores_content_without_deleting_history(spark, tmp_path):
    """Iceberg rollback: a bad overwrite is undone by a NEW snapshot that
    copies the target's file set — history intact (time travel still
    reads the bad commit), incremental scans refuse to cross it, appends
    resume on the restored content, and expiry reclaims the bad files
    once the window passes."""
    import pytest

    t = _tbl(spark, tmp_path, "rb")
    t.append(spark.range(0, 10).select(F.col("id").alias("v")))        # snap 0
    good = t.append(spark.range(10, 15).select(F.col("id").alias("v")))  # snap 1
    bad = t.overwrite(spark.range(100, 102).select(F.col("id").alias("v")))  # snap 2

    rb = t.rollback(good["snapshot_id"])                                # snap 3
    assert rb["operation"] == "rollback" and rb["snapshot_id"] == 3
    assert rb["schema"] == good["schema"] is not None
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(15))
    # the bad commit is still time-travelable until expiry
    assert sorted(r["v"] for r in t.read(spark, bad["snapshot_id"]).collect()) \
        == [100, 101]
    # incremental scans refuse to cross the rollback, like an overwrite
    with pytest.raises(ValueError, match="non-append"):
        t.read_changes(spark, 0)
    # appends resume on the restored content, and the changelog works
    # strictly after the rollback
    t.append(spark.range(15, 18).select(F.col("id").alias("v")))       # snap 4
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(18))
    assert sorted(
        r["v"] for r in t.read_changes(spark, rb["snapshot_id"]).collect()
    ) == [15, 16, 17]
    # the copied file stats still drive manifest pruning on the new tip
    kept, total = t.plan_scan({"v": (0, 4)})
    assert total >= 2 and len(kept) < total
    # expiry keeps the rolled-back-to files alive (the tip references
    # them) while the bad overwrite's files become reclaimable
    t.expire_snapshots(keep_last=2)
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(18))
    with pytest.raises(Exception):
        t.read(spark, bad["snapshot_id"]).collect()


def _jobs_run_by(spark, fn):
    """Spark job ids ``fn`` starts, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _nested_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("depth", T.IntegerType(), False),
            T.StructField("tags", T.ArrayType(T.StringType(), False), True),
        ]), True),
    ])
    rows = [
        (f"https://h{i % 3}.example/p{i}", f"h{i % 3}.example", i,
         (i % 4, [f"t{i}"] if i % 2 else None))
        for i in range(12)
    ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("partition_by", [None, ["host"]])
def test_snapshot_schema_reads_like_inference_without_a_job(
    spark, tmp_path, partition_by
):
    """Each snapshot records its schema and every read hands it to the
    reader, so planning a read starts no Spark job; the recorded schema
    is exactly what footer inference gives (nullability, nesting and the
    partition column's position included), for read, read_changes and
    read_where alike."""
    import os

    t = _tbl(spark, tmp_path, "sch")
    df = _nested_df(spark)
    first = t.append(df.filter("n < 6"), partition_by=partition_by)
    snap = t.append(df.filter("n >= 6"), partition_by=partition_by)
    assert first["schema"] is not None and snap["schema"] == first["schema"]

    def inferred(rel):
        return spark.read.parquet(os.path.join(t.data_dir, rel))

    reads = {}
    jobs = _jobs_run_by(spark, lambda: reads.update(
        first=t.read(spark, first["snapshot_id"]),
        changes=t.read_changes(spark, first["snapshot_id"]),
        where=t.read_where(spark, {"n": (3, 8)}),
    ))
    assert jobs == []

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    for got, rel in ((reads["first"], first["added_files"][0]),
                     (reads["changes"], snap["added_files"][0])):
        assert got.schema == inferred(rel).schema
        assert rows(got) == rows(inferred(rel))
    # read_where is read() filtered, partition column included
    whole = t.read(spark)
    assert reads["where"].schema == whole.schema
    assert rows(reads["where"]) == rows(whole.filter("n >= 3 AND n <= 8"))


def test_partitioned_table_reads_every_file_set(spark, tmp_path):
    """Two partitioned appends leave two data-file sets holding the same
    ``seed_host=...`` directories. read, read_where on the partition
    column and read_changes see every set's rows with their partition
    values, and planning them starts no Spark job."""
    t = _tbl(spark, tmp_path, "parts")
    df = spark.createDataFrame(
        [(i, f"h{i % 3}.example") for i in range(12)], "n long, seed_host string")
    first = t.append(df.filter("n < 6"), partition_by=["seed_host"])
    t.append(df.filter("n >= 6"), partition_by=["seed_host"])

    reads = {}
    jobs = _jobs_run_by(spark, lambda: reads.update(
        all=t.read(spark),
        host=t.read_where(spark, {"seed_host": ("h1.example", "h1.example")}),
        changes=t.read_changes(spark, first["snapshot_id"]),
    ))
    assert jobs == []

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    assert reads["all"].columns == ["n", "seed_host"]
    assert rows(reads["all"]) == rows(df)
    assert rows(reads["host"]) == [(i, "h1.example") for i in (1, 4, 7, 10)]
    assert rows(reads["changes"]) == rows(df.filter("n >= 6"))


def test_snapshot_without_schema_reads_by_inference(spark, tmp_path):
    """A snapshot written before schemas were recorded has no ``schema``
    key: its files are still read, with the inference job that costs."""
    import json
    import os

    t = _tbl(spark, tmp_path, "old")
    snap = t.append(_docs(spark, [(1, "alpha"), (2, "beta")]))
    path = os.path.join(t.meta_dir, f"snap-{snap['snapshot_id']:06d}.json")
    with open(path) as fh:
        old = json.load(fh)
    del old["schema"]
    with open(path, "w") as fh:
        json.dump(old, fh)

    got = {}
    jobs = _jobs_run_by(spark, lambda: got.update(df=t.read(spark)))
    assert len(jobs) >= 1  # inference ran, and the probe can see it
    assert got["df"].columns == ["doc_id", "text"]
    assert sorted(tuple(r) for r in got["df"].collect()) == [(1, "alpha"), (2, "beta")]
