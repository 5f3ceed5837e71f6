"""Iceberg-shaped table catalog with snapshot isolation — local backend.

The crawl engine needs four table properties the reference's JSON-file
dataflow lacks (and races on, see SURVEY.md §3.1): immutable snapshots,
atomic replace, partition pruning, and per-snapshot lineage metadata for
deterministic resume.  This module provides them over partitioned parquet +
JSON manifests.  On a real cluster the same call surface binds to
``format("iceberg")`` (``spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-...``); no Iceberg jar ships in
this sandbox, so the local backend is authoritative for tests.

Layout::

    <root>/<table>/v{N}/part-*.parquet     immutable snapshot data
    <root>/<table>/_snapshots/v{N}.json    manifest: rows, lineage, parent

Writers produce v{N+1} then atomically publish the manifest; readers resolve
the latest published manifest — a killed writer leaves no torn state, which
is what makes wave-checkpoint resume deterministic (north_rule).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType


def _footer_row_count(data_dir: str) -> int:
    """Sum of row counts from the parquet footers under ``data_dir``
    (recursive, so partitioned layouts count too).  Metadata-only reads on
    the driver — exact and job-free for the local backend; the Iceberg
    binding gets this from the snapshot summary instead."""
    import glob

    total = 0
    for f in glob.glob(
        os.path.join(data_dir, "**", "*.parquet"), recursive=True
    ):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


@dataclass
class Snapshot:
    version: int
    rows: int
    meta: dict
    path: str
    # the written schema as StructType JSON; None for partitioned writes
    # and manifests that predate it
    schema: dict | None = None


_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(t):
    """Spark's ``DataType.asNullable`` on a schema's JSON form: the
    schema a parquet read yields, so snapshots written from frames that
    differ only in nullability record the same schema."""
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    if isinstance(t, dict):
        return {
            k: True if k in _NULLABLE_KEYS else _as_nullable(v)
            for k, v in t.items()
        }
    return t


def _scan(spark: SparkSession, snaps: list[Snapshot]) -> DataFrame:
    """The parquet read of ``snaps``.  When every snapshot recorded the
    same schema it is passed to the reader, and Spark runs no
    schema-inference job (a 1-task footer read per ``spark.read``);
    otherwise the schema is inferred, as for catalogs written before
    manifests recorded it."""
    reader = spark.read
    schema = snaps[0].schema
    if schema is not None and all(s.schema == schema for s in snaps):
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(*[s.path for s in snaps])


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapdir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_snapshots")

    # -- snapshot resolution ----------------------------------------------
    def snapshots(self, name: str) -> list[Snapshot]:
        sdir = self._snapdir(name)
        if not os.path.isdir(sdir):
            return []
        out = []
        for f in sorted(os.listdir(sdir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(sdir, f)) as fp:
                m = json.load(fp)
            out.append(
                Snapshot(
                    version=m["version"],
                    rows=m["rows"],
                    meta=m.get("meta", {}),
                    path=os.path.join(self._tdir(name), f"v{m['version']}"),
                    schema=m.get("schema"),
                )
            )
        return sorted(out, key=lambda s: s.version)

    def latest(self, name: str) -> Snapshot | None:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def exists(self, name: str) -> bool:
        return self.latest(name) is not None

    # -- IO ----------------------------------------------------------------
    def write(
        self,
        df: DataFrame | pa.Table,
        name: str,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        """Write a new immutable snapshot of ``name`` and publish it.

        ``df`` is a Spark DataFrame or a driver-side ``pyarrow.Table``.
        A table is written by pyarrow as one parquet file, with no Spark
        job: the path for the crawl's few-row bookkeeping tables (lineage
        rows, filter blobs), where a job's fixed cost is the whole cost."""
        prev = self.latest(name)
        version = 0 if prev is None else prev.version + 1
        data_dir = os.path.join(self._tdir(name), f"v{version}")
        if isinstance(df, pa.Table):
            if partition_by:
                raise ValueError("an arrow table is written unpartitioned")
            # a writer killed before its publish leaves an unpublished
            # v{N}; replace it, as the Spark writer's overwrite mode does
            shutil.rmtree(data_dir, ignore_errors=True)
            os.makedirs(data_dir)
            # zstd, the session's parquet codec (session.py): bloom bits
            # are mostly zeros and shrink ~2x against pyarrow's snappy
            pq.write_table(
                df, os.path.join(data_dir, "part-00000.parquet"),
                compression="zstd",
            )
            rows = df.num_rows
            schema = from_arrow_schema(df.schema)
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(data_dir)
            # exact manifest row count from the committed files' parquet
            # footers, read driver-side — no Spark job, and (unlike an
            # Observation on the write) immune to task-retry over-counting
            rows = _footer_row_count(data_dir)
            # a partitioned read puts the partition columns last, typed
            # from the directory names: let Spark infer that schema
            schema = None if partition_by else df.schema
        manifest = {
            "version": version,
            "rows": rows,
            "partition_by": partition_by or [],
            "parent": None if prev is None else prev.version,
            "meta": meta or {},
        }
        if schema is not None:
            manifest["schema"] = _as_nullable(schema.jsonValue())
        os.makedirs(self._snapdir(name), exist_ok=True)
        tmp = os.path.join(self._snapdir(name), f".v{version}.json.tmp")
        final = os.path.join(self._snapdir(name), f"v{version}.json")
        with open(tmp, "w") as fp:
            json.dump(manifest, fp, indent=2, sort_keys=True)
        os.replace(tmp, final)  # atomic publish
        return Snapshot(
            version=version, rows=rows, meta=meta or {}, path=data_dir,
            schema=manifest.get("schema"),
        )

    def read(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no published snapshot")
        snap = snaps[-1] if version is None else next(
            s for s in snaps if s.version == version
        )
        return _scan(spark, [snap])

    def read_union(self, spark: SparkSession, name: str) -> DataFrame:
        """Union of ALL published snapshots — the append-log read path.

        Used for per-wave delta tables (``extracted``, lineage) where each
        snapshot holds only that wave's rows; mirrors an Iceberg append
        table, while ``read`` mirrors a replace table."""
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no published snapshot")
        return _scan(spark, snaps)

    def _log_snapshots(self, name: str) -> list[Snapshot]:
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no published snapshot")
        base = 0
        for i, s in enumerate(snaps):
            if s.meta.get("kind") in ("base", "compact"):
                base = i
        return snaps[base:]

    def read_log(self, spark: SparkSession, name: str) -> DataFrame:
        """Append-log read honoring compaction markers.

        Like ``read_union``, but a snapshot published with
        ``meta={"kind": "base"}`` (or ``"compact"``) starts the log over:
        only it and later snapshots are read.  This is what lets a
        replace-the-world maintenance op (recrawl invalidation, log
        compaction) stay a single atomic manifest publish while normal
        writers keep appending O(delta) snapshots — the local stand-in for
        an Iceberg REPLACE commit on an append table."""
        return _scan(spark, self._log_snapshots(name))

    def log_rows(self, name: str) -> int:
        """Rows ``read_log`` reads, summed from the manifests — no Spark
        job; 0 for a table with no published snapshot."""
        if not self.exists(name):
            return 0
        return sum(s.rows for s in self._log_snapshots(name))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)

    def unpublish(self, name: str, version: int) -> None:
        """Atomically retract one published snapshot.

        Removing the manifest is the publish in reverse — readers resolve
        snapshots through manifests only (``snapshots()``), so the removal
        is atomic from their view; the data directory is deleted
        best-effort afterwards.  The local stand-in for an Iceberg
        snapshot-expire/rollback commit."""
        m = os.path.join(self._snapdir(name), f"v{version}.json")
        if os.path.exists(m):
            os.remove(m)
        shutil.rmtree(
            os.path.join(self._tdir(name), f"v{version}"), ignore_errors=True
        )

    def prune_waves(self, name: str, min_wave: int) -> list[int]:
        """Unpublish every snapshot whose manifest carries ``meta.wave >=
        min_wave`` — resume's orphan cleanup.

        A crawl wave publishes its delta snapshots (extracted, seen,
        lineage, blobs) and its next-frontier snapshot as separate commits;
        a crash between them leaves orphans from the torn wave.  Replaying
        that wave after resume would re-publish the same rows, so the
        append-log readers (``read_union``/``read_log``) would double-count
        them.  Pruning by wave id restores the invariant "the log holds
        exactly the waves before the resume point".  Snapshots without a
        wave in their meta (ad-hoc writes) are never touched; base/compact
        markers carry ``start_wave - 1`` and survive by construction."""
        removed = []
        for s in self.snapshots(name):
            w = s.meta.get("wave")
            if w is not None and int(w) >= min_wave:
                self.unpublish(name, s.version)
                removed.append(s.version)
        return removed

    def merge(
        self,
        df: DataFrame,
        name: str,
        key: str | list[str],
        new_wins: bool = True,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        """MERGE-INTO semantics on the snapshot store (O11/O14).

        Upserts ``df`` into the latest snapshot of ``name`` keyed on
        ``key``: matching keys are replaced (``new_wins=True``, the
        reference's ``old.update(new)``) or kept (``new_wins=False``, the
        reference's ``new | old`` where old wins, FaselSeriesScraper.py:217)
        and the result is published as a new immutable snapshot — the local
        stand-in for Iceberg ``MERGE INTO`` with snapshot isolation.  One
        window shuffle on ``key``; readers of the previous snapshot are
        unaffected (version pinning)."""
        from ..operators.merge import union_with_precedence

        if not self.exists(name):
            return self.write(df, name, partition_by=partition_by, meta=meta)
        old = self.read(df.sparkSession, name)
        merged = union_with_precedence(old, df, key, old_wins=not new_wins)
        return self.write(merged, name, partition_by=partition_by, meta=meta)
