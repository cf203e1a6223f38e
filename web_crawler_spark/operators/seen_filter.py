"""Partitioned Bloom and cuckoo filters: build, probe, delete.

north_rule: "a 10^10-URL frontier held in Iceberg tables with a partitioned
Bloom/cuckoo-filter URL-seen set". Spark 4.1 does not SQL-register
``bloom_filter_agg`` (it is an internal expression used only by runtime
join filters), so this module implements the sketch as library code:

- the URL space is partitioned into ``n_buckets`` by ``xxhash64(url)``;
  each bucket owns an ``m_bits`` bitmap → the whole filter is a small
  DataFrame ``(bucket int, bitmap binary)``;
- bit positions use double hashing ``(h1 + i*h2) mod m`` for i in [0,k)
  — h1/h2 are computed JVM-side (``xxhash64``), the bit twiddling is
  vectorized numpy over Arrow batches (no per-row Python);
- false positives only cost an extra exact anti-join probe; false
  negatives are impossible → exactness is preserved by construction
  (the anti-join downstream stays authoritative).

Users: the registry's ``anti_join_seen`` bloom/cuckoo arms (certified
against its exact arm) and ``dedup``'s corpus-fingerprint sketch. The
crawl wave itself runs the exact anti-join only
(``frontier.anti_join_seen``): on crawl traffic almost every candidate is
already seen, so a pre-prune there saves nothing.

Reference analogue: the in-memory ``visited``/``allDiscoveredUrls`` Sets
(site-crawler.service.js:134-136) — which cannot exist at 10^10 URLs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64
DEFAULT_M_BITS = 1 << 20  # 128 KiB per bucket
DEFAULT_K = 6

# auto-mode crossover: filters at or under this many bytes (derived from
# the declared geometry, never from data) broadcast; bigger ones cogroup.
# Measured (tools/bench_seen_filter.py, 2M-candidate probe, local[8]):
# the cogroup path is FLAT in filter size (0.8-1.5 s from 2 MiB to
# 512 MiB) while broadcast degrades superlinearly past ~64 MiB (bloom
# 512 MiB: 16.8 s vs 1.5 s) — and local mode flatters broadcast (the
# "broadcast" is an intra-process copy; a real cluster adds per-executor
# network fan-out and driver memory pressure), so the cluster crossover
# is earlier still. 64 MiB keeps broadcast for the filters it actually
# wins (small filters probed by small per-wave candidate batches, where
# the executor-local numpy lookup avoids reshuffling the candidates)
# and routes everything bigger — including the 10^10-URL shape (~15 GB
# at 12 bits/key) — through the shuffle that stays flat.
BROADCAST_BYTES_MAX = 64 << 20


def _with_hashes(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    return (
        df.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.xxhash64(F.col(url_col), F.lit(0x9E3779B9)))
        .withColumn("_bucket", F.pmod(F.col("_h1"), F.lit(n_buckets)).cast("int"))
    )


def _bit_positions(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) array of bit indices via double hashing; numpy-vectorized."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64) | np.uint64(1)  # odd step → full cycle
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1u[:, None] + i * h2u[:, None]) % np.uint64(m_bits)).astype(np.int64)


def build_bloom(
    df: DataFrame,
    url_col: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Aggregate a DataFrame of URLs into the partitioned bloom table."""

    def agg_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        pos = _bit_positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), m_bits, k)
        flat = pos.reshape(-1)
        np.bitwise_or.at(bitmap, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [int(pdf["_bucket"].iloc[0])], "bitmap": [bitmap.tobytes()]}
        )

    hashed = _with_hashes(df.select(url_col), url_col, n_buckets)
    return hashed.groupBy("_bucket").applyInPandas(
        agg_bucket, schema="bucket int, bitmap binary"
    )


def _probe(
    candidates: DataFrame,
    filt: DataFrame,
    blob_col: str,
    hits,
    filter_bytes: int,
    url_col: str,
    n_buckets: int,
    mode: str,
    broadcast_bytes_max: int,
) -> DataFrame:
    """Adds boolean ``maybe_seen``: False ⇒ definitely NOT in the seen set.

    The one probe behind :func:`prune` and :func:`prune_cuckoo`. A sketch
    supplies its declared byte size, its blob column and a kernel
    ``hits(h1, h2, blobs) -> bool array`` testing hashed keys against the
    non-NULL blobs of their bucket (a bucket with several rows is the
    union of its blobs).

    ``mode="auto"`` (default) selects ``broadcast`` when ``filter_bytes``
    (derived from the declared geometry, never from data) is at or under
    ``broadcast_bytes_max``, ``cogroup`` above it — a filter too big to
    collect on the driver picks the safe path automatically.

    ``mode="broadcast"``: the whole filter ships to each executor ONCE as
    a Spark broadcast variable and the membership check is a local numpy
    lookup per Arrow batch. No join, no shuffle, and crucially no per-row
    blob: the earlier broadcast-JOIN formulation attached the bucket's
    128 KiB bitmap to every candidate row, so a 150k-row prune pushed
    ~19 GB through the Arrow boundary (measured 41 s at sf0.1 — the fix
    is >40×).

    ``mode="cogroup"``: for filters too big to broadcast (≳ executor
    memory; a 10^10-URL seen set at 12 bits/key is ~15 GB): candidates
    shuffle by bucket and cogroup with the filter rows, so each bucket's
    blobs cross the boundary once per bucket. Parallelism = n_buckets —
    size n_buckets to the cluster at that scale.
    """
    if mode == "auto":
        mode = "broadcast" if filter_bytes <= broadcast_bytes_max else "cogroup"
    elif mode not in ("broadcast", "cogroup"):
        raise ValueError(
            f"mode must be 'auto', 'broadcast' or 'cogroup', got {mode!r}"
        )
    hashed = _with_hashes(candidates, url_col, n_buckets)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ) + ", maybe_seen boolean"
    in_cols = candidates.columns

    def flagged(pdf: pd.DataFrame, res: np.ndarray) -> pd.DataFrame:
        out = pdf[in_cols].copy()
        out["maybe_seen"] = res
        return out

    if mode == "broadcast":
        tbl: dict[int, list] = {}
        for r in filt.select("bucket", blob_col).collect():
            if r[blob_col] is not None:
                tbl.setdefault(int(r["bucket"]), []).append(r[blob_col])
        bc = candidates.sparkSession.sparkContext.broadcast(tbl)

        def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tblv = bc.value
            for pdf in batches:
                res = np.zeros(len(pdf), dtype=bool)
                h1, h2 = pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy()
                for bkt, idx in pdf.groupby("_bucket").indices.items():
                    blobs = tblv.get(int(bkt))
                    if blobs:
                        res[idx] = hits(h1[idx], h2[idx], blobs)
                yield flagged(pdf, res)

        return hashed.mapInPandas(check, schema=schema)

    def check_cg(key, cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        res = np.zeros(len(cand_pdf), dtype=bool)
        blobs = [b for b in filt_pdf[blob_col] if b is not None]
        if len(cand_pdf) and blobs:
            res = hits(cand_pdf["_h1"].to_numpy(), cand_pdf["_h2"].to_numpy(), blobs)
        return flagged(cand_pdf, res)

    return (
        hashed.groupBy("_bucket")
        .cogroup(filt.select("bucket", blob_col).groupBy("bucket"))
        .applyInPandas(check_cg, schema=schema)
    )


def prune(
    candidates: DataFrame,
    bloom: DataFrame,
    url_col: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    mode: str = "auto",
    broadcast_bytes_max: int = BROADCAST_BYTES_MAX,
) -> DataFrame:
    """Bloom probe: adds ``maybe_seen`` (modes and contract: :func:`_probe`).
    The declared size is n_buckets × m_bits/8 (8 MiB at the defaults); a
    bucket's bitmaps are ORed and a key hits when all k bits are set."""

    def hits(h1: np.ndarray, h2: np.ndarray, blobs: list) -> np.ndarray:
        bitmap = np.frombuffer(blobs[0], dtype=np.uint8)
        for blob in blobs[1:]:
            bitmap = bitmap | np.frombuffer(blob, dtype=np.uint8)
        pos = _bit_positions(h1, h2, m_bits, k)
        return ((bitmap[pos >> 3] >> (pos & 7)) & 1).all(axis=1)

    return _probe(
        candidates, bloom, "bitmap", hits, n_buckets * (m_bits // 8),
        url_col, n_buckets, mode, broadcast_bytes_max,
    )


# ===========================================================================
# Partitioned cuckoo filter — the deletable half of the north rule's
# "bloom/cuckoo URL-seen set".
# ===========================================================================
#
# Why a second sketch: the Bloom half above cannot forget — a URL scheduled
# for re-crawl (TTL expiry, robots change) stays "seen" until a full
# rebuild. The cuckoo filter stores 16-bit fingerprints in a 2-choice,
# 4-slot-per-cell table, so membership AND deletion are both per-bucket
# local operations.
#
# Layout mirrors the bloom table: the URL space shards into ``n_buckets``
# by ``xxhash64(url)``; each bucket owns an independent (n_cells × n_slots)
# uint16 table serialized as one binary cell — the whole filter is a small
# ``(bucket int, table binary)`` DataFrame.
# Scale-out at 10^10 URLs is horizontal (more buckets), never bigger rows.
#
# Determinism: an item IS its canonical entry
# ``(fp, min(i, i ^ cellhash(fp)))``. build and delete both reduce to
# "rebuild this bucket from a sorted, deduped entry set", so identical seen
# sets produce byte-identical tables, whatever the input order.
#
# Reference analogue: site-crawler.service.js:134-136 — visited Sets, which
# support delete() but cannot exist at 10^10 URLs.

DEFAULT_CK_CELLS = 1 << 13  # per bucket; power of 2 (XOR-alternate cells)
DEFAULT_CK_SLOTS = 4
_CK_MAX_ROUNDS = 500


def _ck_cellhash(fp: np.ndarray, n_cells: int) -> np.ndarray:
    """splitmix64-style mix of the fingerprint → XOR step for the alternate
    cell (partial-key cuckoo hashing, Fan et al. 2014)."""
    x = fp.astype(np.uint64)
    x = (x * np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(29)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(32)
    return (x & np.uint64(n_cells - 1)).astype(np.int64)


def _ck_entries(h1: np.ndarray, h2: np.ndarray, n_cells: int):
    """(fp uint16 in [1, 0xFFFF], canonical cell) for each key. h1 also
    picked the bucket (low bits via pmod), so the cell comes from h1's
    upper bits to stay decorrelated."""
    fp = ((h2.astype(np.uint64) % np.uint64(0xFFFF)) + np.uint64(1)).astype(np.uint16)
    i1 = ((h1.astype(np.uint64) >> np.uint64(16)) & np.uint64(n_cells - 1)).astype(np.int64)
    canon = np.minimum(i1, i1 ^ _ck_cellhash(fp, n_cells))
    return fp, canon


def _ck_dedup(fp: np.ndarray, canon: np.ndarray):
    """Sort + dedup entries on (canon, fp): one stored copy per item, and a
    deterministic insertion order regardless of input order."""
    key = (canon.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
    uniq = np.unique(key)
    return (uniq & np.uint64(0xFFFF)).astype(np.uint16), (uniq >> np.uint64(16)).astype(np.int64)


def _ck_build_table(
    fp: np.ndarray, canon: np.ndarray, n_cells: int, n_slots: int
) -> np.ndarray:
    """Bulk cuckoo insertion, fully vectorized: round-based two-choice
    placement with bounded kicking. Raises RuntimeError instead of silently
    overflowing (same failure contract as connected_min)."""
    if len(fp) > int(0.84 * n_cells * n_slots):
        raise RuntimeError(
            f"cuckoo bucket over capacity: {len(fp)} entries into "
            f"{n_cells}x{n_slots} slots (load > 0.84); raise n_buckets or n_cells"
        )
    table = np.zeros((n_cells, n_slots), dtype=np.uint16)
    occ = np.zeros(n_cells, dtype=np.int64)
    t = canon.copy()
    step = _ck_cellhash(fp, n_cells)
    pend = np.arange(len(fp), dtype=np.int64)
    rnd = 0
    while len(pend):
        if rnd >= _CK_MAX_ROUNDS:
            raise RuntimeError(
                f"cuckoo insertion did not converge after {_CK_MAX_ROUNDS} "
                f"rounds ({len(pend)} keys pending); table too full"
            )
        order = np.argsort(t[pend], kind="stable")
        ps = pend[order]
        tcs = t[ps]
        # rank of each key within its target cell this round
        first = np.r_[True, tcs[1:] != tcs[:-1]]
        grp_start = np.maximum.accumulate(
            np.where(first, np.arange(len(tcs)), 0)
        )
        rank = np.arange(len(tcs)) - grp_start
        free = n_slots - occ[tcs]
        place = rank < free
        if place.any():
            cells = tcs[place]
            table[cells, occ[cells] + rank[place]] = fp[ps[place]]
            np.add.at(occ, cells, 1)
        rem = ps[~place]
        trem = tcs[~place]
        if len(rem) and rnd >= 2:
            # kick: the first overflow key of each (now full) cell evicts
            # the slot at rnd % n_slots; the displaced fingerprint re-enters
            # the pending set aimed at its own alternate cell.
            fmask = np.r_[True, trem[1:] != trem[:-1]]
            ev = fmask & (occ[trem] == n_slots)
            if ev.any():
                evk, evc = rem[ev], trem[ev]
                v = rnd % n_slots
                displaced = table[evc, v].copy()
                table[evc, v] = fp[evk]
                dstep = _ck_cellhash(displaced, n_cells)
                base = len(fp)
                fp = np.concatenate([fp, displaced])
                t = np.concatenate([t, evc ^ dstep])
                step = np.concatenate([step, dstep])
                others = rem[~ev]
                t[others] ^= step[others]
                pend = np.concatenate(
                    [others, np.arange(base, len(fp), dtype=np.int64)]
                )
                rnd += 1
                continue
        if len(rem):
            t[rem] ^= step[rem]  # retry the alternate cell next round
        pend = rem
        rnd += 1
    return table


def _ck_extract_entries(table: np.ndarray, n_cells: int):
    """Back from a packed table to the canonical entry set."""
    cells, slots = np.nonzero(table)
    fp = table[cells, slots]
    canon = np.minimum(cells, cells ^ _ck_cellhash(fp, n_cells))
    return fp, canon.astype(np.int64)


def build_cuckoo(
    df: DataFrame,
    url_col: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    n_cells: int = DEFAULT_CK_CELLS,
    n_slots: int = DEFAULT_CK_SLOTS,
) -> DataFrame:
    """Aggregate a DataFrame of URLs into the partitioned cuckoo table."""

    def agg_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        fp, canon = _ck_entries(
            pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), n_cells
        )
        fp, canon = _ck_dedup(fp, canon)
        table = _ck_build_table(fp, canon, n_cells, n_slots)
        return pd.DataFrame(
            {"bucket": [int(pdf["_bucket"].iloc[0])], "table": [table.tobytes()]}
        )

    hashed = _with_hashes(df.select(url_col), url_col, n_buckets)
    return hashed.groupBy("_bucket").applyInPandas(
        agg_bucket, schema="bucket int, table binary"
    )


def delete_from_cuckoo(
    filt: DataFrame,
    urls: DataFrame,
    url_col: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    n_cells: int = DEFAULT_CK_CELLS,
    n_slots: int = DEFAULT_CK_SLOTS,
) -> DataFrame:
    """Remove the given URLs' fingerprints (the operation the Bloom half
    cannot do — TTL expiry / forced re-crawl). Per-bucket cogroup: entry
    set minus the deleted canonical entries, rebuilt. Deleting a URL that
    was never inserted is a no-op unless it fingerprint-collides with a
    stored item — the documented cuckoo-filter caveat (delete only what
    you inserted)."""

    def del_group(key, filt_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(filt_pdf) == 0:
            return pd.DataFrame({"bucket": [], "table": []})
        tab = np.frombuffer(filt_pdf["table"].iloc[0], dtype=np.uint16).reshape(
            n_cells, n_slots
        )
        fp, canon = _ck_extract_entries(tab, n_cells)
        if len(del_pdf):
            dfp, dcanon = _ck_entries(
                del_pdf["_h1"].to_numpy(), del_pdf["_h2"].to_numpy(), n_cells
            )
            key_have = (canon.astype(np.uint64) << np.uint64(16)) | fp.astype(np.uint64)
            key_del = (dcanon.astype(np.uint64) << np.uint64(16)) | dfp.astype(np.uint64)
            keep = ~np.isin(key_have, key_del)
            fp, canon = _ck_dedup(fp[keep], canon[keep])
        table = _ck_build_table(fp, canon, n_cells, n_slots)
        return pd.DataFrame({"bucket": [int(key[0])], "table": [table.tobytes()]})

    hashed = _with_hashes(urls.select(url_col), url_col, n_buckets)
    return (
        filt.select("bucket", "table")
        .groupBy("bucket")
        .cogroup(hashed.groupBy("_bucket"))
        .applyInPandas(del_group, schema="bucket int, table binary")
    )


def prune_cuckoo(
    candidates: DataFrame,
    filt: DataFrame,
    url_col: str = "url",
    n_buckets: int = DEFAULT_BUCKETS,
    n_cells: int = DEFAULT_CK_CELLS,
    n_slots: int = DEFAULT_CK_SLOTS,
    mode: str = "auto",
    broadcast_bytes_max: int = BROADCAST_BYTES_MAX,
) -> DataFrame:
    """Cuckoo probe: adds ``maybe_seen`` (modes and contract: :func:`_probe`).
    The declared size is n_buckets × n_cells × n_slots × 2 bytes; a key
    hits when any of its bucket's tables holds its fingerprint in either
    candidate cell. FPR ≈ 2·n_slots/2^16 ≈ 0.012%."""

    def hits(h1: np.ndarray, h2: np.ndarray, blobs: list) -> np.ndarray:
        fp, canon = _ck_entries(h1, h2, n_cells)
        alt = canon ^ _ck_cellhash(fp, n_cells)
        f_i = fp[:, None]
        res = np.zeros(len(fp), dtype=bool)
        for blob in blobs:
            tab = np.frombuffer(blob, dtype=np.uint16).reshape(n_cells, n_slots)
            res |= (tab[canon] == f_i).any(axis=1) | (tab[alt] == f_i).any(axis=1)
        return res

    return _probe(
        candidates, filt, "table", hits, n_buckets * n_cells * n_slots * 2,
        url_col, n_buckets, mode, broadcast_bytes_max,
    )
