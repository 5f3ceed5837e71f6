"""Iceberg runtime binding for the crawl catalog (same surface, real jars).

``sources/catalog.py`` gives the engine snapshot isolation, atomic
publish, append-log reads and MERGE semantics over partitioned parquet +
JSON manifests — authoritative in this sandbox, where no Iceberg runtime
jar exists (SURVEY.md §7.0).  This module is the other half of that
design note: the snapshot methods listed below bound to a real Iceberg
catalog, on a cluster launched with::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
      --conf spark.sql.catalog.iceberg=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.iceberg.type=hadoop \\
      --conf spark.sql.catalog.iceberg.warehouse=<path>

Semantics mapping (local backend → Iceberg, one-to-one):

- ``write``      → table ``append`` commit; the local JSON manifest's meta
  dict rides in the snapshot summary via ``snapshot-property.*`` write
  options, and the atomic-manifest-publish property is Iceberg's own
  commit protocol.
- ``read``       → incremental scan of ONLY the latest snapshot
  (``start-snapshot-id`` = parent, ``end-snapshot-id`` = latest): the
  local backend's "latest version directory".
- ``read_union`` → plain table read (every append).
- ``read_log``   → incremental scan from the newest snapshot whose
  summary carries ``nfs-kind`` base/compact (the compaction markers
  ``Catalog.read_log`` honors) through current.
- ``merge``      → ``MERGE INTO``; ``new_wins`` maps to
  ``WHEN MATCHED THEN UPDATE`` + insert, old-wins to insert-only — the
  exact precedence pair of ``operators/merge.union_with_precedence``.
- ``snapshots``  → the ``<table>.snapshots`` metadata table, ordered by
  the parent-id lineage chain (commit timestamps have millisecond
  resolution and snapshot ids are random longs — wall-clock order is
  not commit order).

Not covered: the crawl loop.  ``run_crawl`` / ``resume_crawl`` call
``log_rows`` and ``prune_waves``, which this class lacks; publish each
wave's lineage row and filter blobs as a ``pyarrow.Table``, which its
``write`` cannot take; and read blob and seen snapshot paths as parquet
files with pyarrow, where its ``Snapshot.path`` is a table identifier.

Documented divergence: Iceberg's incremental scan (what ``read`` and
``read_log`` compile to) only supports APPEND snapshots, so a table that
has received a ``merge`` commit must be read with ``read_union`` (the
current state — which is also what the local backend's post-merge
``read`` returns); ``read``/``read_log`` raise a descriptive error if
their scan range contains a non-append commit rather than letting
Iceberg fail deep in planning.  The crawl plans never mix the two styles
on one table (``merge`` is the derived-jobs API; the wave tables are
pure appends).

Everything statement-shaped is built by PURE functions below so the
binding's logic is unit-tested jar-free (tests/test_iceberg_binding.py);
the live end-to-end path is pytest-gated on ``iceberg_available`` and
skips in this sandbox — the one seam that genuinely cannot run here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import Snapshot

_MARKER_PROP = "nfs-kind"  # snapshot-summary key for base/compact markers
_META_PREFIX = "nfs-meta-"  # snapshot-summary prefix for write(meta=...)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime classes are on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# pure statement builders (unit-tested without a jar)
# ---------------------------------------------------------------------------

def quote_ident(*parts: str) -> str:
    """Backtick-quote a dotted identifier part-wise (`cat`.`db`.`tbl`)."""
    out = []
    for p in parts:
        for seg in p.split("."):
            if not seg:
                raise ValueError(f"empty identifier segment in {parts!r}")
            out.append("`" + seg.replace("`", "``") + "`")
    return ".".join(out)


def snapshot_props(meta: dict | None, kind: str | None = None) -> dict[str, str]:
    """writeTo() option dict carrying the local manifest's meta dict as
    Iceberg snapshot-summary properties."""
    props: dict[str, str] = {}
    if kind is not None:
        props[f"snapshot-property.{_MARKER_PROP}"] = kind
    for k, v in (meta or {}).items():
        if k == "kind":
            props[f"snapshot-property.{_MARKER_PROP}"] = str(v)
        else:
            props[f"snapshot-property.{_META_PREFIX}{k}"] = str(v)
    return props


def snapshots_sql(ident: str) -> str:
    """Snapshot listing from the metadata table; lineage order is
    reconstructed by ``lineage_order`` from parent ids (committed_at is
    millisecond-resolution and snapshot ids are random — neither is a
    reliable commit order on its own)."""
    return (
        "SELECT snapshot_id, parent_id, committed_at, operation, summary "
        f"FROM {ident}.snapshots ORDER BY committed_at, snapshot_id"
    )


def lineage_order(pairs: list[tuple[int, int | None]]) -> list[int]:
    """Order snapshot ids oldest-first by walking the parent-id chain.

    ``pairs`` is (snapshot_id, parent_id) in any order.  Falls back to
    the input order when the history is not a single linear chain (a
    rollback/branch left orphaned snapshots — at that point commit
    timestamps are the only signal, and the caller's SQL already sorted
    by them)."""
    ids = {sid for sid, _ in pairs}
    child_of: dict[int | None, int] = {}
    for sid, parent in pairs:
        key = parent if parent in ids else None
        if key in child_of:  # two roots or a branch: not linear
            return [sid for sid, _ in pairs]
        child_of[key] = sid
    out: list[int] = []
    cur = child_of.get(None)
    while cur is not None:
        out.append(cur)
        cur = child_of.get(cur)
    if len(out) != len(pairs):  # cycle or disconnected chain
        return [sid for sid, _ in pairs]
    return out


def merge_sql(
    ident: str, source_view: str, key: str | list[str], new_wins: bool
) -> str:
    """MERGE INTO statement with union_with_precedence's two precedences:
    new_wins=True updates matches (reference ``old.update(new)``),
    new_wins=False leaves matches untouched (``new | old``,
    FaselSeriesScraper.py:217 old-wins)."""
    keys = [key] if isinstance(key, str) else list(key)
    on = " AND ".join(f"t.{quote_ident(k)} = s.{quote_ident(k)}" for k in keys)
    matched = "WHEN MATCHED THEN UPDATE SET * " if new_wins else ""
    return (
        f"MERGE INTO {ident} t USING {quote_ident(source_view)} s ON {on} "
        f"{matched}WHEN NOT MATCHED THEN INSERT *"
    )


def marker_base_index(snaps: list[Snapshot]) -> int:
    """Index of the newest base/compact marker in an oldest-first
    snapshot list — read_log's restart point; 0 when unmarked.  Same
    'last marker wins' scan as ``Catalog.read_log`` (catalog.py:168),
    over the same decoded ``Snapshot.meta`` representation."""
    base = 0
    for i, s in enumerate(snaps):
        if s.meta.get("kind") in ("base", "compact"):
            base = i
    return base


def summary_meta(summary: dict) -> dict:
    """Recover write(meta=...) from a snapshot summary (inverse of
    snapshot_props, values as strings)."""
    out = {}
    for k, v in (summary or {}).items():
        if k == _MARKER_PROP:
            out["kind"] = v
        elif k.startswith(_META_PREFIX):
            out[k[len(_META_PREFIX):]] = v
    return out


# ---------------------------------------------------------------------------
# the binding
# ---------------------------------------------------------------------------

class IcebergCatalog:
    """``Catalog``'s DataFrame snapshot methods (not the crawl loop's
    surface, see above) over a configured Iceberg Spark catalog.

    ``namespace`` is the ``catalog.database`` prefix tables live under;
    each method here takes the same arguments as the local backend's and
    returns the same ``Snapshot`` record (version = Iceberg snapshot id,
    rows from the summary's added-records, path = the table identifier)."""

    def __init__(self, spark: SparkSession, namespace: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the classpath — launch via "
                "spark-submit --packages org.apache.iceberg:iceberg-spark-"
                "runtime-... (in this sandbox use sources.catalog.Catalog, "
                "the authoritative local backend)"
            )
        self.spark = spark
        self.namespace = namespace

    def _ident(self, name: str) -> str:
        return quote_ident(self.namespace, name)

    # -- snapshot resolution ----------------------------------------------
    def snapshots(self, name: str) -> list[Snapshot]:
        rows = self.spark.sql(snapshots_sql(self._ident(name))).collect()
        by_id = {}
        for r in rows:
            summary = dict(r.summary or {})
            meta = summary_meta(summary)
            # reserved key so read()/read_log() can guard their
            # incremental scans against non-append commits
            meta["iceberg-operation"] = r.operation
            by_id[r.snapshot_id] = Snapshot(
                version=r.snapshot_id,
                # per-commit delta, matching the local manifest's rows
                # (total-records is the cumulative table size)
                rows=int(summary.get("added-records", -1)),
                meta=meta,
                path=self._ident(name),
            )
        order = lineage_order([(r.snapshot_id, r.parent_id) for r in rows])
        return [by_id[sid] for sid in order]

    def latest(self, name: str) -> Snapshot | None:
        snaps = self.snapshots(name)
        return snaps[-1] if snaps else None

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(name))

    # -- IO ------------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        from pyspark.sql import functions as F

        ident = self._ident(name)
        writer = df.writeTo(ident).using("iceberg")
        for k, v in snapshot_props(meta).items():
            writer = writer.option(k, v)
        if not self.exists(name):
            if partition_by:
                writer = writer.partitionedBy(
                    *[F.col(c) for c in partition_by]
                )
            writer.create()
        else:
            writer.append()
        snap = self.latest(name)
        assert snap is not None
        return snap

    def read(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> DataFrame:
        """ONLY the requested (default latest) snapshot's appended rows —
        the Iceberg incremental scan standing in for the local backend's
        single version directory.  The FIRST snapshot time-travels
        instead (its delta is the whole table as of it, and Iceberg
        rejects an incremental scan with only end-snapshot-id)."""
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no snapshot")
        snap = snaps[-1] if version is None else next(
            s for s in snaps if s.version == version
        )
        idx = snaps.index(snap)
        if idx == 0:
            return (
                spark.read.format("iceberg")
                .option("snapshot-id", snap.version)
                .load(self._ident(name))
            )
        if snap.meta.get("iceberg-operation") != "append":
            raise ValueError(
                f"snapshot {snap.version} of {name!r} is a "
                f"{snap.meta.get('iceberg-operation')} commit; Iceberg "
                "incremental scans only support appends — read the "
                "current state with read_union instead"
            )
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", snaps[idx - 1].version)
            .option("end-snapshot-id", snap.version)
            .load(self._ident(name))
        )

    def read_union(self, spark: SparkSession, name: str) -> DataFrame:
        if not self.exists(name):
            raise FileNotFoundError(f"table {name!r} has no snapshot")
        return spark.read.table(self._ident(name))

    def read_log(self, spark: SparkSession, name: str) -> DataFrame:
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name!r} has no snapshot")
        idx = marker_base_index(snaps)
        if idx == 0:
            # no marker, or the marker is the very first snapshot: the log
            # is the whole table
            return spark.read.table(self._ident(name))
        bad = [
            s.version for s in snaps[idx:]
            if s.meta.get("iceberg-operation") != "append"
        ]
        if bad:
            raise ValueError(
                f"log range of {name!r} contains non-append commits "
                f"{bad}; Iceberg incremental scans only support appends "
                "— read the current state with read_union instead"
            )
        # incremental scan is EXCLUSIVE of start: pass the marker's parent
        # so the marker snapshot itself is included, matching
        # Catalog.read_log's snaps[base:] slice
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", snaps[idx - 1].version)
            .option("end-snapshot-id", snaps[-1].version)
            .load(self._ident(name))
        )

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")

    def merge(
        self,
        df: DataFrame,
        name: str,
        key: str | list[str],
        new_wins: bool = True,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> Snapshot:
        if not self.exists(name):
            return self.write(df, name, partition_by=partition_by, meta=meta)
        view = f"nfs_merge_src_{name}"
        df.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                merge_sql(self._ident(name), view, key, new_wins)
            )
        finally:
            self.spark.catalog.dropTempView(view)
        snap = self.latest(name)
        assert snap is not None
        return snap
