"""Snapshot-based lake tables: Iceberg-shaped checkpointing on parquet.

The north_rule requires "resumable checkpoints carrying per-partition
lineage and fetch/dedup metrics into Iceberg snapshot metadata". This
container has no Iceberg runtime jar, so this module implements the same
contract on plain parquet + JSON snapshot manifests:

- every commit creates ``snap-{n}.json`` with: parent snapshot id, the
  data files added, per-partition lineage (row counts per partition key),
  the table schema, and an arbitrary ``summary`` metrics dict — exactly
  what Iceberg's snapshot ``summary`` carries;
- reads resolve the latest (or any historical) snapshot's file list —
  time travel — and hand the reader the snapshot's schema, so no Spark
  job runs to infer it from the parquet footers (a snapshot written
  before schemas were recorded is still read with inference);
- appends are atomic at the manifest level (data written first, manifest
  renamed into place last).

When a real Iceberg catalog is configured (``spark.sql.catalog.*``), the
same call sites can be pointed at ``df.writeTo(...)`` — the interface is
deliberately Iceberg-like (append / overwrite / snapshots / summary).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _pq():
    import pyarrow.parquet as pq

    return pq


def zorder_value(ranks: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of per-column ranks: bit i of rank j
    lands at output bit ``i * n_cols + j``, so rows close in EVERY ranked
    dimension get close z-values — the multi-dimensional clustering key
    behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    Inputs must already be integer ranks in ``[0, 2**bits)`` (see
    :func:`uniform_rank`). Pure closed-form column algebra — ``bits *
    n_cols`` shift/mask/add terms, whole-stage codegen, no UDF — so the
    same expression is engine-exact in Spark and any SQL oracle.
    """
    n = len(ranks)
    if not 1 <= n * bits <= 62:
        raise ValueError(f"{n} cols x {bits} bits won't fit a signed long")
    out = F.lit(0).cast("long")
    for j, r in enumerate(ranks):
        r = r.cast("long")
        for i in range(bits):
            out = out + F.shiftleft(
                F.shiftright(r, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return out


def uniform_rank(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Order-preserving rank of a numeric column into ``[0, 2**bits)``
    by uniform [lo, hi] scaling — integer cross-multiplication only, so
    the rank is bit-identical across engines. Values outside [lo, hi]
    clamp to the edge ranks. A skew-robust variant would rank by
    approxQuantile boundaries instead (Delta's range-id approach); at
    compaction time either works because the rank only steers LAYOUT —
    query results never depend on it."""
    span = max(1, hi - lo)
    top = (1 << bits) - 1
    r = ((col.cast("long") - F.lit(lo)) * F.lit(top)) / F.lit(span)
    return F.greatest(F.lit(0), F.least(F.lit(top), r.cast("long")))


class SnapshotTable:
    """An append/overwrite table with Iceberg-style snapshot metadata."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------ snapshots
    def snapshots(self) -> list[dict]:
        snaps = []
        for f in sorted(os.listdir(self.meta_dir)):
            if f.startswith("snap-") and f.endswith(".json"):
                with open(os.path.join(self.meta_dir, f)) as fh:
                    snaps.append(json.load(fh))
        return sorted(snaps, key=lambda s: s["snapshot_id"])

    def current(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # ------------------------------------------------------------ write ---
    def _write_files(self, df: DataFrame, partition_by: list[str] | None) -> str:
        rel = f"files-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.data_dir, rel)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        return rel

    def _collect_file_stats(self, rels: list[str]) -> dict:
        """Per-data-file column min/max, lifted from the parquet footers
        the writers already produced, into the snapshot manifest — the
        Iceberg manifest-entry stats (lower_bounds/upper_bounds) that let
        a scan planner prune files WITHOUT opening any of them. Footer
        reads are metadata-only (no row groups are decoded); a real
        Iceberg writer collects the same stats during the write itself.
        Numeric and string bounds only; other types are skipped (never
        pruned on)."""
        stats: dict[str, dict] = {}
        for rel in rels:
            base = os.path.join(self.data_dir, rel)
            for dirpath, _, names in os.walk(base):
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    fpath = os.path.join(dirpath, name)
                    frel = os.path.relpath(fpath, self.data_dir)
                    md = _pq().ParquetFile(fpath).metadata
                    box: dict[str, list] = {}
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        for ci in range(rg.num_columns):
                            col = rg.column(ci)
                            st = col.statistics
                            if st is None or not st.has_min_max:
                                continue
                            lo, hi = st.min, st.max
                            if isinstance(lo, bytes):
                                try:
                                    lo, hi = lo.decode(), hi.decode()
                                except UnicodeDecodeError:
                                    continue
                            if not isinstance(lo, (int, float, str)):
                                continue
                            cur = box.get(col.path_in_schema)
                            box[col.path_in_schema] = (
                                [min(cur[0], lo), max(cur[1], hi)]
                                if cur else [lo, hi]
                            )
                    stats[frel] = box
        return stats

    def _lineage(self, df: DataFrame, lineage_key: str | None, rel: str) -> dict:
        """Per-partition lineage: row counts keyed by the partition column.

        Computed from the files just written, NOT from ``df``: re-evaluating
        ``df`` would recompute its whole upstream chain a second time (it is
        usually an unpersisted join/union plan), while the read-back is a
        column-pruned scan of freshly written local parquet."""
        if lineage_key is None or lineage_key not in df.columns:
            return {}
        written = df.sparkSession.read.schema(df.schema).parquet(
            os.path.join(self.data_dir, rel)
        )
        rows = written.groupBy(lineage_key).count().collect()
        return {str(r[lineage_key]): r["count"] for r in rows}

    def _commit(
        self,
        mode: str,
        added: list[str],
        summary: dict,
        lineage: dict,
        schema: T.StructType,
    ) -> dict:
        cur = self.current()
        if mode == "append" and cur:
            files = cur["files"] + added
            file_stats = dict(cur.get("file_stats") or {})
        else:
            files = added
            file_stats = {}
        file_stats.update(self._collect_file_stats(added))
        snap = {
            "snapshot_id": (cur["snapshot_id"] + 1) if cur else 0,
            "parent_id": cur["snapshot_id"] if cur else None,
            "operation": mode,
            "files": files,
            "added_files": added,
            "partition_lineage": lineage,
            "file_stats": file_stats,
            "schema": schema.jsonValue(),
            "summary": summary,
        }
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(snap, fh, indent=1)
        os.replace(tmp, os.path.join(self.meta_dir, f"snap-{snap['snapshot_id']:06d}.json"))
        return snap

    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        partition_by: list[str] | None = None,
        lineage_key: str | None = None,
        lineage: dict | None = None,
    ) -> dict:
        """``lineage`` lets a caller that already holds the per-partition
        row counts (e.g. from an aggregate it ran anyway) skip the
        read-back job — the same move Iceberg writers make by collecting
        per-file stats during the write instead of rescanning."""
        rel = self._write_files(df, partition_by)
        if lineage is None:
            lineage = self._lineage(df, lineage_key, rel)
        return self._commit("append", [rel], summary or {}, lineage, df.schema)

    def overwrite(
        self,
        df: DataFrame,
        summary: dict | None = None,
        partition_by: list[str] | None = None,
        lineage_key: str | None = None,
        lineage: dict | None = None,
    ) -> dict:
        rel = self._write_files(df, partition_by)
        if lineage is None:
            lineage = self._lineage(df, lineage_key, rel)
        return self._commit("overwrite", [rel], summary or {}, lineage, df.schema)

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        summary: dict | None = None,
        partition_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> dict:
        """Small-files compaction (Iceberg's ``rewriteDataFiles``
        maintenance action): rewrite the table's current content into
        ``target_files`` files and commit it as a ``compact`` snapshot.

        A long-lived append-only table (a crawl frontier fed one delta
        per wave, a corpus fed one snapshot per crawl) accretes one file
        set per append; at 10^10 rows the scan cost becomes
        open-file-count-bound, not byte-bound. Compaction rewrites the
        PHYSICAL layout while the LOGICAL content is unchanged — which is
        exactly why :meth:`read_changes` SKIPS compact snapshots (their
        logical delta is empty) instead of refusing the range the way it
        refuses overwrites: a consumer checkpointed before a compaction
        catches up across it losslessly, and its pinned time-travel reads
        keep working until :meth:`expire_snapshots` reclaims the old
        files.

        ``zorder_by`` additionally CLUSTERS the rewrite (Delta/Iceberg
        ``OPTIMIZE ... ZORDER BY``): each named column is ranked into
        ``2**zorder_bits`` buckets (numeric: order-preserving uniform
        min/max rank; string: crc32 bucket — equality-clustering only),
        the ranks are Morton-interleaved (:func:`zorder_value`), and the
        rewrite is range-partitioned + sorted by that z-value. Rows close
        in EVERY zorder dimension land in the SAME files, so parquet
        per-file min/max stats prune multi-dimension predicates — the
        reason a 10^10-row frontier scan for one host × depth band opens
        a handful of files instead of all of them. Layout-only: the
        logical content is unchanged, so incremental scans still skip the
        snapshot."""
        cur = self.current()
        if cur is None or not cur["files"]:
            raise ValueError(f"table {self.path} has no snapshot/data")
        df = self.read(spark)
        if zorder_by:
            from pyspark.sql import types as T

            ranks = []
            numeric = [
                c for c in zorder_by
                if isinstance(df.schema[c].dataType, T.NumericType)
            ]
            if numeric:
                bounds = df.agg(
                    *[F.min(c).alias(f"_lo_{c}") for c in numeric],
                    *[F.max(c).alias(f"_hi_{c}") for c in numeric],
                ).collect()[0]
            for c in zorder_by:
                if c in numeric:
                    lo = int(bounds[f"_lo_{c}"] or 0)
                    hi = int(bounds[f"_hi_{c}"] or 0)
                    ranks.append(uniform_rank(F.col(c), lo, hi, zorder_bits))
                else:
                    ranks.append(
                        F.pmod(F.crc32(F.col(c).cast("string")),
                               F.lit(1 << zorder_bits))
                    )
            df = (
                df.withColumn("_zv", zorder_value(ranks, zorder_bits))
                .repartitionByRange(target_files, "_zv")
                .sortWithinPartitions("_zv")
                .drop("_zv")
            )
            summary = dict(summary or {},
                           zorder_by=list(zorder_by), zorder_bits=zorder_bits)
        else:
            df = df.repartition(target_files)
        rel = self._write_files(df, partition_by)
        return self._commit("compact", [rel], summary or {}, {}, df.schema)

    # ------------------------------------------------------------ read ----
    def _snapshot(self, snapshot_id: int | None) -> dict:
        snap = (self.current() if snapshot_id is None
                else next(s for s in self.snapshots()
                          if s["snapshot_id"] == snapshot_id))
        if snap is None or not snap["files"]:
            raise ValueError(f"table {self.path} has no snapshot/data")
        return snap

    def _scan(self, spark: SparkSession, snap: dict, rels: list[str]) -> DataFrame:
        """Parquet scan of ``rels`` (data-file sets, or data files in them,
        relative to the data directory) with ``snap``'s recorded schema, so
        the reader plans without an inference job. A snapshot written
        before schemas were recorded has none; its files are read with
        inference.

        A partitioned table's partition columns live in ``key=value``
        directory names, and partition discovery takes one base directory
        per scan: each data-file set is scanned under its own ``basePath``
        and the scans are unioned. An unpartitioned table is one scan."""
        schema = T.StructType.fromJson(snap["schema"]) if snap.get("schema") else None
        by_set: dict[str, list[str]] = {}
        for rel in rels:
            by_set.setdefault(rel.split(os.sep, 1)[0], []).append(
                os.path.join(self.data_dir, rel))

        def reader():
            r = spark.read.option("mergeSchema", "false")
            return r if schema is None else r.schema(schema)

        partitioned = any(
            "=" in name for s in by_set
            for name in os.listdir(os.path.join(self.data_dir, s))
        )
        if not partitioned:
            return reader().parquet(*(p for ps in by_set.values() for p in ps))
        scans = [
            reader().option("basePath", os.path.join(self.data_dir, s)).parquet(*ps)
            for s, ps in by_set.items()
        ]
        return functools.reduce(DataFrame.unionByName, scans)

    def plan_scan(
        self,
        predicates: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-level file pruning (Iceberg's scan planning): given
        ``{column: (lo, hi)}`` inclusive ranges (either end may be None),
        return ``(data file paths whose stats box overlaps EVERY range,
        total files in the snapshot)`` — decided entirely from the
        snapshot manifest's per-file min/max, with ZERO file opens. Files
        with no recorded bounds for a predicate column are kept
        (conservative, never wrong). Composes with zorder compaction:
        after ``compact(zorder_by=[x, y])`` a box predicate on (x, y)
        selects a corner's worth of files instead of all of them."""
        snap = self._snapshot(snapshot_id)
        stats = snap.get("file_stats") or {}
        # every data file under the snapshot's rel dirs, stats or not
        all_files: list[str] = []
        for rel in snap["files"]:
            base = os.path.join(self.data_dir, rel)
            for dirpath, _, names in os.walk(base):
                all_files.extend(
                    os.path.relpath(os.path.join(dirpath, n), self.data_dir)
                    for n in sorted(names) if n.endswith(".parquet")
                )
        kept = []
        for frel in all_files:
            box = stats.get(frel)
            ok = True
            for col, (lo, hi) in predicates.items():
                b = (box or {}).get(col)
                if b is None:
                    continue  # unknown bounds -> cannot prune
                if (hi is not None and b[0] > hi) or (
                    lo is not None and b[1] < lo
                ):
                    ok = False
                    break
            if ok:
                kept.append(os.path.join(self.data_dir, frel))
        return kept, len(all_files)

    def read_where(
        self,
        spark: SparkSession,
        predicates: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Pruned read: scan only the files :meth:`plan_scan` keeps, then
        apply the same ranges as a residual row filter — result identical
        to ``read().filter(...)``, cost proportional to the files the
        predicate actually touches."""
        paths, _ = self.plan_scan(predicates, snapshot_id)
        if not paths:
            df = self.read(spark, snapshot_id).limit(0)
        else:
            df = self._scan(
                spark, self._snapshot(snapshot_id),
                [os.path.relpath(p, self.data_dir) for p in paths],
            )
        for col, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        snap = self._snapshot(snapshot_id)
        return self._scan(spark, snap, snap["files"])

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg's ``incremental append scan``): the
        rows in data files ADDED by snapshots in ``(from_snapshot,
        to_snapshot]`` — the changelog a downstream consumer processes to
        catch up from its last checkpoint without rereading the table.

        Valid across appends and compactions: an ``append`` contributes
        its added files; a ``compact`` (physical rewrite, identical
        logical content) contributes NOTHING and is skipped — exactly how
        Iceberg's incremental append scan treats replace snapshots
        produced by rewriteDataFiles. An ``overwrite`` replaces content
        wholesale, so "what changed" is not expressible as added files —
        this raises, mirroring Iceberg's refusal. An empty range (nothing
        new) returns an empty DataFrame with the table's current
        schema."""
        snaps = self.snapshots()
        ids = {s["snapshot_id"] for s in snaps}
        if from_snapshot not in ids:
            raise ValueError(f"unknown from_snapshot {from_snapshot}")
        hi = to_snapshot if to_snapshot is not None else snaps[-1]["snapshot_id"]
        if hi not in ids:
            raise ValueError(f"unknown to_snapshot {to_snapshot}")
        window = [s for s in snaps if from_snapshot < s["snapshot_id"] <= hi]
        bad = [s["snapshot_id"] for s in window
               if s["operation"] not in ("append", "compact")]
        if bad:
            raise ValueError(
                f"incremental scan crosses non-append snapshots {bad}; "
                "read() the target snapshot instead"
            )
        added = [rel for s in window if s["operation"] == "append"
                 for rel in s["added_files"]]
        if not added:
            return self.read(spark, hi).limit(0)
        return self._scan(spark, next(s for s in snaps if s["snapshot_id"] == hi), added)

    def rollback(self, snapshot_id: int) -> dict:
        """Iceberg rollback semantics (manageSnapshots().rollbackTo): a
        NEW snapshot whose logical content is exactly the target's. Bad
        commits stay in history — time-travel reads keep working until
        ``expire_snapshots`` reclaims them — and the current pointer
        moves by APPENDING metadata, never by deleting it, so readers
        pinned to any snapshot are unaffected and the rollback itself is
        crash-safe (the same single atomic ``os.replace`` as every
        commit). ``added_files`` is empty (nothing was written); the
        ``files`` list and per-file stats are copied from the target, so
        expiry keeps those files alive while this snapshot lives.
        ``read_changes`` refuses to cross a rollback, exactly like an
        overwrite: the logical delta is not expressible as added files."""
        snaps = {s["snapshot_id"]: s for s in self.snapshots()}
        if snapshot_id not in snaps:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        target = snaps[snapshot_id]
        cur = self.current()
        snap = {
            "snapshot_id": cur["snapshot_id"] + 1,
            "parent_id": cur["snapshot_id"],
            "operation": "rollback",
            "files": list(target["files"]),
            "added_files": [],
            "partition_lineage": target.get("partition_lineage") or {},
            "file_stats": dict(target.get("file_stats") or {}),
            "schema": target.get("schema"),
            "summary": {"rolled_back_to": snapshot_id},
        }
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(snap, fh, indent=1)
        os.replace(
            tmp,
            os.path.join(self.meta_dir, f"snap-{snap['snapshot_id']:06d}.json"),
        )
        return snap

    def exists(self) -> bool:
        return self.current() is not None

    def expire_snapshots(self, keep_last: int = 3) -> int:
        """Iceberg-style snapshot expiry (reference: job cleanup watermark,
        progress-tracker.service.js:172-187)."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return 0
        live: set[str] = set()
        keep = snaps[-keep_last:]
        for s in keep:
            live.update(s["files"])
        dropped = 0
        for s in snaps[:-keep_last]:
            os.remove(os.path.join(self.meta_dir, f"snap-{s['snapshot_id']:06d}.json"))
            dropped += 1
            for rel in s["files"]:
                if rel not in live:
                    shutil.rmtree(os.path.join(self.data_dir, rel), ignore_errors=True)
        return dropped

    def drop(self) -> None:
        """Remove all snapshots and data files (Iceberg DROP TABLE PURGE).

        Used by fresh (non-resume) crawl starts so tables from a previous
        run in the same workdir can't leak stale state into the new run.
        """
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
