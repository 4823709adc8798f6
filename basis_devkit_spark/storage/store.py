"""Versioned table store: parquet version directories + JSON manifest.

Implements the reference's Table/TableVersion storage semantics
(`/root/reference/patterns/node/node.py:84-114, 299-414`): a Table has many
TableVersions, at most one active; ``reset()`` points at a fresh empty
version without deleting data; writes go to the active version.

Layout::

    <root>/<table>/
        _manifest.json          # atomic pointer + schema + counts + roles
        v=1/part-*.parquet      # one snapshot per version
        v=2/...

Commit protocol (crash-safe, scale-safe):
  1. write data files into a NEW version directory (Spark distributed
     write) — committed version directories are never mutated
  2. write manifest to a temp file, ``os.replace`` over _manifest.json
     (atomic on POSIX) — the pointer flip is the commit.

A mutation either flips the pointer or leaves the handle at its last
committed manifest: every mutating method runs under one guard
(``_mutation``) that, when the method raises, puts back the manifest this
handle last loaded or committed — no allocated version entry, config
change, monotonic-id advance or stream batch id of the failed call
survives to be persisted by a later commit. Every data write commits
through one helper (``_write_version``); a failed write's version number
is reused by the next one, which overwrites the orphan directory.

A version is a *lineage*: an ordered list of immutable directories
(manifest ``dirs``). ``append`` writes only the incoming batch into a new
directory and commits a new version whose lineage = previous dirs + the
new one — O(batch) I/O, not O(table), and time-travel reads of any prior
version stay byte-stable because no committed directory is ever written
again. A crash mid-append leaves an orphan directory the manifest never
references (invisible to readers; reclaimed by vacuum). ``compact()``
rewrites a long lineage into one directory.

Each version's schema lives in the manifest (``schema_json``, recorded at
commit). ``version_schema`` puts it in read form — partition columns
last, every field nullable — and that is exactly the schema a read of
the version returns. Reads open every lineage
directory with it through one reader (``_read_lineage``) and never infer
a schema from parquet footers — no footer-inference Spark job per
directory, partition values keep their written types, and a directory an
empty partitioned write left without files still reads. Only a version
committed without a record (the public ``create_new_version`` → write
files → ``set_active_version`` path, or a manifest that predates schema
records) falls back to inference, in ``_infer_schema``.

At 100 TB the data write is the expensive distributed part; the manifest is
O(1) driver-side metadata, so this protocol has no scale bottleneck. Row
counts are captured with ``df.observe`` during the write job itself —
never by re-reading written output (which would double I/O per commit).
Upsert is a join-based merge into a *new* version (full rewrite of
matching partitions) — the same cost profile as Delta MERGE without
Delta's deps.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from basis_devkit_spark.session import local_relation
from pyspark.sql import types as T
from pyspark.sql.window import Window

MANIFEST = "_manifest.json"
_TS_TYPE_KEY = "spark.sql.parquet.outputTimestampType"


class SchemaMismatchError(ValueError):
    """Raised under ``strict_schema`` when a write's columns don't match
    the table's declared schema exactly."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this store since this handle loaded its
    manifest — committing would silently drop their version (lost
    update). Raised when a version is allocated or at the pointer flip;
    either way the handle keeps its last committed manifest and stays
    stale, so every later commit raises too, until ``refresh()``.
    Then re-derive the write, or serialize writers (the engine does: one
    cached handle per store)."""


def _mutation(fn):
    """Run a mutating ``TableStore`` method under its handle's guard
    (``TableStore._guard``)."""

    @functools.wraps(fn)
    def guarded(self, *args, **kwargs):
        with self._guard():
            return fn(self, *args, **kwargs)

    return guarded


# CommonModel-ish type names → Spark types (SURVEY §1.2 mapping).
FIELD_TYPE_MAP: dict[str, T.DataType] = {
    "Text": T.StringType(),
    "Integer": T.LongType(),
    "Float": T.DoubleType(),
    "Boolean": T.BooleanType(),
    "Date": T.DateType(),
    "DateTime": T.TimestampType(),
    "Decimal": T.DecimalType(38, 9),
    "Json": T.StringType(),
}

_BASE32_ALPHABET = "0123456789ABCDEFGHIJKLMNOPQRSTUV"  # sorts lexicographically


def encode_base32(n: int, width: int = 13) -> str:
    """Fixed-width base32 so lexicographic order == numeric order.

    13 digits of base32 cover 2**64; per the reference a monotonic id is
    "a unique, strictly monotonically increasing base32 string"
    (`node.py:291-294`).
    """
    if n < 0:
        raise ValueError("monotonic id must be non-negative")
    digits = []
    while n:
        digits.append(_BASE32_ALPHABET[n % 32])
        n //= 32
    s = "".join(reversed(digits)) or "0"
    if len(s) > width:
        raise ValueError("monotonic id overflow")
    return s.rjust(width, "0")


@dataclass
class TableVersionInfo:
    version: int
    created_at: float
    record_count: int | None = None
    schema_json: str | None = None


@dataclass
class _Manifest:
    name: str
    active_version: int | None = None
    next_version: int = 1
    # One entry per retained version: created_at, record_count, the
    # lineage ``dirs``, and ``schema_json`` — the version's schema,
    # recorded at commit. Readers take the schema from here and never
    # infer it from the data files.
    versions: dict[str, dict[str, Any]] = field(default_factory=dict)
    unique_on: list[str] | None = None
    schema_hints: dict[str, str] | None = None
    add_created: str | None = None
    add_monotonic_id: str | None = None
    max_monotonic_id: int = 0
    # Hive-style partition columns for every version write. At scale this is
    # what makes cursor reads, upsert merges, and time filters prune files.
    partition_by: list[str] | None = None
    # File-level min/max statistics (Delta/Iceberg-style data skipping).
    # Collected per immutable lineage directory at write time from parquet
    # footers (metadata-only reads — never a data scan), keyed
    # {dir: {relative_file: {col: [min, max]}}}. ``read_pruned`` uses them
    # to drop whole files before Spark ever lists them — at 100 TB this is
    # what keeps a cursor read or a time filter from touching millions of
    # irrelevant files.
    stats_columns: list[str] | None = None
    dir_stats: dict[str, dict[str, dict[str, list]]] = field(default_factory=dict)
    # Range-cluster every write on these columns (repartitionByRange +
    # sortWithinPartitions): files get tight, disjoint min/max ranges, so
    # the footer stats above actually prune. The Delta OPTIMIZE ZORDER
    # idea, applied eagerly at write time for single-column lineorder.
    cluster_by: list[str] | None = None
    # Multi-dimensional clustering: Z-ORDER (bit-interleaved quantile
    # ranks) instead of lexicographic range order. ``cluster_by`` gives
    # perfect pruning on its FIRST column and next to none on the rest;
    # interleaving spreads locality across all listed dimensions so a
    # filter on ANY of them prunes files (the Delta OPTIMIZE ZORDER BY
    # layout, applied eagerly at write time). Mutually exclusive with
    # ``cluster_by``; columns must be numeric/timestamp.
    zorder_by: list[str] | None = None
    # Hash-bucketed layout for CO-LOCATED JOINS: written with
    # ``bucketBy(num_buckets, *bucket_by).sortBy(*bucket_by)``, read back
    # through ``read_bucketed()`` (a catalog binding over the same files).
    # Two stores bucketed the same way join with ZERO exchanges — the fact
    # join that never shuffles at 100 TB. Orthogonal to stats pruning;
    # mutually exclusive with cluster_by/zorder_by/partition_by.
    bucket_by: list[str] | None = None
    num_buckets: int | None = None
    # Auto-compact: when an append stretches the version lineage past this
    # many directories, rewrite it into one (bounds file-count growth on
    # append-heavy tables without a separate maintenance job).
    compact_after: int | None = None
    # schema "roles" (node.py:196-200): ordering resolution for as_stream()
    strictly_monotonic_ordering: str | None = None
    created_ordering: str | None = None
    # Write-time data expectations: {name: SQL boolean expr over the batch
    # columns}. Violation counts are observed DURING the write job (one
    # pass, no extra scan). Mode: "record" keeps the batch and records the
    # counts per version; "fail" rejects the batch (pointer never flips);
    # "drop" filters violating rows out (still counted).
    expectations: dict[str, str] | None = None
    expectations_mode: str = "record"
    # Highest Structured Streaming batch id committed into this store
    # (append_stream_batch). Persisted in the SAME manifest write as the
    # version pointer flip, so a replayed micro-batch after a crash is
    # detected and skipped — exactly-once into the managed table.
    last_stream_batch_id: int = -1
    # Strict schema governance: when True, appends/upserts whose columns
    # don't EXACTLY match the declared schema raise SchemaMismatchError
    # instead of evolving (the opt-in counterpart to the default
    # widen/null-fill/cast behavior).
    strict_schema: bool = False
    # Optimistic-concurrency fence (Delta-protocol-style): bumped on every
    # manifest commit. A handle that loaded seq N may only commit if the
    # on-disk manifest still carries seq N — otherwise another writer got
    # there first and the commit raises ConcurrentWriteError instead of
    # clobbering their pointer flip.
    commit_seq: int = 0

    def to_json(self) -> dict[str, Any]:
        return dict(self.__dict__)

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "_Manifest":
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in d.items() if k in known})


class TableStore:
    """One named, versioned table on disk. Thread-unsafe by design: the
    engine serializes writers per store (the reference is single-writer —
    one node execution owns a table write at a time)."""

    def __init__(self, root: str, name: str, spark: SparkSession):
        self.root = root
        self.name = name
        self.spark = spark
        self.path = os.path.join(root, name)
        os.makedirs(self.path, exist_ok=True)
        # Spark's legacy INT96 parquet timestamps carry NO footer min/max,
        # which would silently disable data skipping on every timestamp
        # column. Switch the session to TIMESTAMP_MICROS once and leave it
        # there: a per-write option is ignored, and a scoped set/restore
        # would have to hold a lock across the lazy write — the node's
        # whole computation — serializing concurrent nodes.
        if spark.conf.get(_TS_TYPE_KEY) != "TIMESTAMP_MICROS":
            spark.conf.set(_TS_TYPE_KEY, "TIMESTAMP_MICROS")
        # Batches pinned (persisted) during a write so the id-assignment
        # count job and the write job see identical partitions.
        self._pinned: list[DataFrame] = []
        self.refresh()

    # ---------------- manifest ----------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _load_manifest(self) -> _Manifest:
        """The on-disk manifest. Its text is kept as the committed
        snapshot a failed mutation rolls back to."""
        p = self._manifest_path()
        self._committed: str | None = None
        if os.path.exists(p):
            with open(p) as f:
                self._committed = f.read()
        return self._committed_manifest()

    def _committed_manifest(self) -> _Manifest:
        """A fresh copy of the manifest this handle last loaded or
        committed."""
        if self._committed is None:
            return _Manifest(name=self.name)
        return _Manifest.from_json(json.loads(self._committed))

    def refresh(self) -> None:
        """Reload the manifest from disk (picks up another writer's
        commits); after this the handle may commit again."""
        self._manifest = self._load_manifest()
        self._loaded_seq = self._manifest.commit_seq
        self._allocated: set[int] = set()

    @contextlib.contextmanager
    def _guard(self):
        """The one failure rule for every mutating method: if the body
        raises, the in-memory manifest goes back to the one this handle
        last loaded or committed — an allocated version entry, a config
        change, a monotonic-id advance or a stamped stream batch id of the
        failed call never reaches a later commit. Pinned batches are
        released either way. Nesting is harmless: an inner guard rolls
        back to the same snapshot, and a commit an inner call made is
        already that snapshot."""
        try:
            yield
        except BaseException:
            self._manifest = self._committed_manifest()
            self._allocated.clear()
            raise
        finally:
            self._release()

    def _check_fence(self) -> None:
        """Optimistic-concurrency fence: this handle may only write if the
        on-disk manifest still carries the ``commit_seq`` it loaded or
        last committed. Not atomic across processes (no file lock), but it
        turns the silent lost update of two interleaved handles — the
        realistic hazard — into a hard error."""
        seq = 0
        try:
            with open(self._manifest_path()) as f:
                seq = int(json.load(f).get("commit_seq", 0))
        except (OSError, ValueError):
            pass
        if seq != self._loaded_seq:
            raise ConcurrentWriteError(
                f"store '{self.name}': manifest commit_seq moved "
                f"{self._loaded_seq} -> {seq} under this handle; "
                "another writer committed. refresh() and retry."
            )

    def _commit_manifest(self) -> None:
        # Check-and-swap: the commit is only valid if nobody else
        # committed since this handle's manifest load.
        self._check_fence()
        # A version allocated since the last commit and not made active by
        # this one was never committed (its writer failed or gave up
        # before ``set_active_version``): it must not become history.
        for v in self._allocated - {self._manifest.active_version}:
            self._manifest.versions.pop(str(v), None)
        self._allocated.clear()
        self._manifest.commit_seq = self._loaded_seq + 1
        text = json.dumps(self._manifest.to_json(), indent=1)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # atomic pointer flip
        self._loaded_seq = self._manifest.commit_seq
        self._committed = text

    # ---------------- versions (A9) ----------------
    def version_path(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}")

    def create_new_version(self) -> int:
        """Allocate the next version number and its entry. The entry is
        committed only by the ``set_active_version`` that makes it active:
        any other commit first drops it, so an allocation whose files
        were never written or never flipped to leaves no version behind."""
        # Early fence: a stale handle would allocate the SAME version
        # number another writer already used — its data write would land
        # in (and clobber) their directory before the commit-time check
        # ever runs. Fail before touching disk.
        self._check_fence()
        v = self._manifest.next_version
        self._manifest.next_version += 1
        self._manifest.versions[str(v)] = {"version": v, "created_at": time.time()}
        self._allocated.add(v)
        return v

    def get_active_version(self) -> int | None:
        return self._manifest.active_version

    def has_active_version(self) -> bool:
        v = self._manifest.active_version
        return v is not None and self._lineage_on_disk(v)

    def _lineage_on_disk(self, version: int) -> bool:
        """True iff ``version`` is retained in the manifest and every
        directory of its lineage exists. Checks the lineage, not the
        ``v=N`` directory: a restored or cloned version owns none, and a
        vacuumed version is gone even if its batch directory survives
        inside newer versions' lineage."""
        if str(version) not in self._manifest.versions:
            return False
        dirs = self._version_dirs(version)
        return bool(dirs) and all(
            os.path.isdir(os.path.join(self.path, d)) for d in dirs
        )

    @_mutation
    def set_active_version(self, version: int, record_count: int | None = None) -> None:
        """Flip the pointer to ``version`` — the commit. If the durable
        commit fails, the guard drops the pointer AND the version entry
        ``create_new_version`` registered, so neither this handle's reads
        nor a later commit ever see a version that was never committed."""
        self._manifest.active_version = version
        entry = self._manifest.versions.setdefault(
            str(version), {"version": version, "created_at": time.time()}
        )
        if record_count is not None:
            entry["record_count"] = record_count
        self._commit_manifest()

    @_mutation
    def reset(self) -> None:
        """Point at a fresh null version; old data kept for retention GC
        (`node.py:399-405`)."""
        self._manifest.active_version = None
        self._commit_manifest()

    def history(self) -> list[dict]:
        """Version history, newest first (the DESCRIBE HISTORY analogue):
        one record per retained version with creation time, row count,
        lineage depth, expectation-violation counts, and whether it is
        the active pointer. Bounded driver-side metadata — never touches
        data files."""
        active = self._manifest.active_version
        out = []
        for vs, meta in sorted(
            self._manifest.versions.items(), key=lambda kv: -int(kv[0])
        ):
            v = int(vs)
            out.append(
                {
                    "version": v,
                    "created_at": meta.get("created_at"),
                    "record_count": meta.get("record_count"),
                    "n_dirs": len(meta.get("dirs", [f"v={v}"])),
                    "expectation_violations": meta.get(
                        "expectation_violations"
                    ),
                    "active": v == active,
                    "on_disk": self._lineage_on_disk(v),
                }
            )
        return out

    @_mutation
    def vacuum(self, keep_last: int = 2) -> None:
        """Retention GC: drop all but the newest ``keep_last`` versions
        (never the active one). A directory is deleted only if NO retained
        version's lineage references it — append lineage means old dirs may
        back newer versions. Also reclaims crash-orphaned directories
        (data written, manifest never committed): any on-disk ``v=*`` dir
        that no retained version references and no manifest entry claims."""
        active = self._manifest.active_version
        versions = sorted(int(v) for v in self._manifest.versions)
        keep = set(versions[-keep_last:]) if keep_last > 0 else set()
        if active is not None:
            keep.add(active)
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._version_dirs(v))
        # LOGICAL delete first (manifest commit), PHYSICAL delete after —
        # a crash between the two leaves harmless orphan directories that
        # the next vacuum's orphan sweep reclaims, never a committed
        # manifest referencing directories that no longer exist.
        doomed: list[str] = []
        for v in versions:
            if v in keep:
                continue
            d = f"v={v}"
            if d not in referenced:
                doomed.append(d)
            self._manifest.versions.pop(str(v), None)
        self._manifest.dir_stats = {
            d: s for d, s in self._manifest.dir_stats.items() if d in referenced
        }
        self._commit_manifest()
        for d in doomed:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        # Crash-orphaned dirs: on disk, unreferenced, not in the manifest —
        # and older than a grace period, so an in-flight write from another
        # process (data landed, manifest not yet flipped) is never
        # mistaken for a crash leftover.
        grace = time.time() - 3600
        for entry in os.listdir(self.path):
            full = os.path.join(self.path, entry)
            if (
                entry.startswith("v=")
                and entry not in referenced
                and entry[2:] not in self._manifest.versions
                and os.path.isdir(full)
                and os.path.getmtime(full) < grace
            ):
                shutil.rmtree(full, ignore_errors=True)

    # ---------------- metadata (A12) ----------------
    @property
    def exists(self) -> bool:
        return self.has_active_version()

    @property
    def record_count(self) -> int | None:
        v = self._manifest.active_version
        if v is None:
            return 0
        info = self._manifest.versions.get(str(v), {})
        return info.get("record_count")

    @property
    def schema(self) -> T.StructType | None:
        if not self.has_active_version():
            return None
        return self.version_schema(self._manifest.active_version)

    # ---------------- init config (node.py:269-297) ----------------
    @_mutation
    def configure(
        self,
        schema_hints: dict[str, str] | None = None,
        unique_on: str | list[str] | None = None,
        add_created: str | None = None,
        add_monotonic_id: str | None = None,
        strictly_monotonic_ordering: str | None = None,
        created_ordering: str | None = None,
        partition_by: str | list[str] | None = None,
        stats_columns: str | list[str] | None = None,
        cluster_by: str | list[str] | None = None,
        zorder_by: str | list[str] | None = None,
        bucket_by: str | list[str] | None = None,
        num_buckets: int | None = None,
        compact_after: int | None = None,
        expectations: dict[str, str] | None = None,
        expectations_mode: str | None = None,
        strict_schema: bool | None = None,
    ) -> None:
        m = self._manifest
        if strict_schema is not None:
            m.strict_schema = bool(strict_schema)
        if partition_by is not None:
            m.partition_by = (
                [partition_by] if isinstance(partition_by, str) else list(partition_by)
            )
        if stats_columns is not None:
            m.stats_columns = (
                [stats_columns]
                if isinstance(stats_columns, str)
                else list(stats_columns)
            )
        if cluster_by is not None:
            m.cluster_by = (
                [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
            )
            # Clustered columns are skipping targets by construction.
            for c in m.cluster_by:
                if not m.stats_columns or c not in m.stats_columns:
                    m.stats_columns = (m.stats_columns or []) + [c]
        if zorder_by is not None:
            m.zorder_by = (
                [zorder_by] if isinstance(zorder_by, str) else list(zorder_by)
            )
            if m.cluster_by:
                raise ValueError(
                    "cluster_by and zorder_by are mutually exclusive; "
                    "pick one layout"
                )
            for c in m.zorder_by:
                if not m.stats_columns or c not in m.stats_columns:
                    m.stats_columns = (m.stats_columns or []) + [c]
        if bucket_by is not None:
            m.bucket_by = (
                [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
            )
            m.num_buckets = int(num_buckets or 8)
            if m.cluster_by or m.zorder_by or m.partition_by:
                raise ValueError(
                    "bucket_by is mutually exclusive with cluster_by/"
                    "zorder_by/partition_by"
                )
        if compact_after is not None:
            m.compact_after = compact_after
        if expectations is not None:
            m.expectations = dict(expectations)
        if expectations_mode is not None:
            if expectations_mode not in ("record", "fail", "drop"):
                raise ValueError(
                    f"expectations_mode must be record|fail|drop, "
                    f"got {expectations_mode!r}"
                )
            m.expectations_mode = expectations_mode
        if schema_hints is not None:
            m.schema_hints = schema_hints
        if unique_on is not None:
            m.unique_on = [unique_on] if isinstance(unique_on, str) else list(unique_on)
        if add_created is not None:
            m.add_created = add_created
            m.created_ordering = m.created_ordering or add_created
        if add_monotonic_id is not None:
            m.add_monotonic_id = add_monotonic_id
            m.strictly_monotonic_ordering = m.strictly_monotonic_ordering or add_monotonic_id
        if strictly_monotonic_ordering is not None:
            m.strictly_monotonic_ordering = strictly_monotonic_ordering
        if created_ordering is not None:
            m.created_ordering = created_ordering
        self._commit_manifest()

    @property
    def unique_on(self) -> list[str] | None:
        return self._manifest.unique_on

    @property
    def ordering_field(self) -> str | None:
        """Stream default-ordering resolution (node.py:196-200): strictly
        monotonic role first, then created role."""
        m = self._manifest
        return m.strictly_monotonic_ordering or m.created_ordering

    # ---------------- version lineage ----------------
    def _version_dirs(self, version: int) -> list[str]:
        """Ordered immutable directories backing a version. Legacy entries
        (pre-lineage manifests) default to the version's own directory."""
        entry = self._manifest.versions.get(str(version), {})
        return list(entry.get("dirs") or [f"v={version}"])

    def version_schema(self, version: int) -> T.StructType:
        """The schema ``read_version(version)`` returns: the version's
        manifest record in read form (partition columns last, every field
        nullable). A version committed without a record is inferred once;
        the result is kept on its entry and persisted by the next commit."""
        entry = self._manifest.versions.get(str(version), {})
        if not entry.get("schema_json"):
            entry["schema_json"] = self._infer_schema(
                self._version_dirs(version)
            ).json()
        return _read_schema(
            T.StructType.fromJson(json.loads(entry["schema_json"])),
            self._manifest.partition_by,
        )

    def _infer_schema(self, dirs: list[str]) -> T.StructType:
        """Footer inference over a lineage — the only place a schema is
        discovered from this store's data files (one Spark job per
        directory). Columns merge by name in lineage order; directories
        without parquet files are skipped."""
        fields: dict[str, T.StructField] = {}
        for d in dirs:
            if self._list_parquet(d):
                df = self.spark.read.parquet(os.path.join(self.path, d))
                for f in df.schema.fields:
                    fields.setdefault(f.name, f)
        return T.StructType(list(fields.values()))

    def _read_lineage(
        self, version: int, kept: dict[str, list[str]] | None = None
    ) -> DataFrame:
        """The one lineage reader behind ``read``, ``read_version`` and
        ``read_pruned``: every directory of ``version`` (or only its
        ``kept`` files) opened with the version's recorded schema, so no
        directory pays a footer-inference job and columns an older
        directory lacks read as NULL. Directories stay separate reads:
        one multi-root read would take ``v=N`` for a partition directory
        and fail on partitioned stores. Each part is projected to the
        schema's column order before the union: a directory written under
        another ``partition_by`` returns its partition columns elsewhere."""
        schema = self.version_schema(version)
        parts = []
        for d in self._version_dirs(version):
            base = os.path.join(self.path, d)
            paths = (
                [base]
                if kept is None
                else [os.path.join(self.path, f) for f in kept.get(d, [])]
            )
            if paths:
                parts.append(
                    self.spark.read.schema(schema)
                    .option("basePath", base)
                    .parquet(*paths)
                    .select(*schema.names)
                )
        if not parts:
            # everything pruned: the steady-state "no new data" cursor tick
            return local_relation(self.spark, [], schema)
        return functools.reduce(DataFrame.union, parts)

    # ---------------- file statistics (data skipping) ----------------
    def _stats_targets(self) -> list[str]:
        """Columns to collect file-level min/max for: the configured
        ``stats_columns`` plus the stream-ordering fields (so cursor reads
        prune for free). Partition columns are excluded — they live in
        directory names, not file footers, and Spark's partition discovery
        already prunes them."""
        m = self._manifest
        cols: list[str] = list(m.stats_columns or [])
        for c in (m.strictly_monotonic_ordering, m.created_ordering):
            if c and c not in cols:
                cols.append(c)
        pcols = set(m.partition_by or [])
        return [c for c in cols if c not in pcols]

    def _collect_file_stats(self, dirname: str) -> None:
        """Harvest per-file min/max for the stats targets from parquet
        footers of a freshly written lineage directory. Metadata-only:
        reads each footer (a few KB), never data pages — the same cost
        profile as a Delta commit's stats collection. Driver-side loop is
        O(files in this batch); at extreme file counts the walk could be
        distributed over ``sc.parallelize(files)``, but a single write's
        file count is bounded by its partition count."""
        targets = self._stats_targets()
        if not targets:
            return
        import pyarrow.parquet as pq

        base = os.path.join(self.path, dirname)
        stats: dict[str, dict[str, list]] = {}
        for dirpath, _dirs, files in os.walk(base):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                try:
                    md = pq.ParquetFile(full).metadata
                except Exception:
                    continue
                fstats: dict[str, list] = {}
                for ci in range(md.num_columns):
                    name = md.row_group(0).column(ci).path_in_schema if md.num_row_groups else None
                    if name not in targets:
                        continue
                    lo = hi = None
                    ok = md.num_row_groups > 0
                    for rg in range(md.num_row_groups):
                        cc = md.row_group(rg).column(ci)
                        st = cc.statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        emin, emax = _stat_encode(st.min), _stat_encode(st.max)
                        if emin is None or emax is None:
                            ok = False
                            break
                        lo = emin if lo is None or emin < lo else lo
                        hi = emax if hi is None or emax > hi else hi
                    if ok and lo is not None:
                        fstats[name] = [lo, hi]
                if fstats:
                    stats[rel] = fstats
        if stats:
            self._manifest.dir_stats[dirname] = stats

    def _list_parquet(self, dirname: str) -> list[str]:
        out = []
        base = os.path.join(self.path, dirname)
        for dirpath, _dirs, files in os.walk(base):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(dirpath, fn), self.path))
        return sorted(out)

    def prune_files(
        self, filters: list[tuple[str, str, Any]], version: int | None = None
    ) -> tuple[dict[str, list[str]], int]:
        """File-level skipping: per lineage directory, the relative paths
        whose [min, max] intervals can satisfy every conjunct. Files (or
        whole directories) without stats are conservatively kept. Returns
        ({dir: kept_files}, total_file_count)."""
        v = self._manifest.active_version if version is None else version
        if v is None:
            raise FileNotFoundError(f"table '{self.name}' has no active version")
        tz = self._session_tz()
        kept: dict[str, list[str]] = {}
        total = 0
        for d in self._version_dirs(v):
            dstats = self._manifest.dir_stats.get(d, {})
            files = self._list_parquet(d)
            total += len(files)
            kept[d] = [
                rel
                for rel in files
                if _file_may_match(dstats.get(rel), filters, tz)
            ]
        return kept, total

    def _session_tz(self):
        """Spark's session timezone as a tzinfo — the basis Spark uses to
        interpret naive datetime literals. None if unresolvable (pruning
        then skips instant-vs-naive comparisons, conservatively)."""
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(self.spark.conf.get("spark.sql.session.timeZone"))
        except Exception:
            return None

    def read_pruned(self, filters: list[tuple[str, str, Any]]) -> DataFrame:
        """Read with file-level data skipping: semantically identical to
        ``read().filter(<filters>)`` but files whose footer stats prove no
        row can match are never given to Spark. Filters are conjunctive
        ``(column, op, value)`` with op in =, <, <=, >, >=. The residual
        filter is still applied (stats pruning is a conservative superset)
        and still pushes down to the surviving scans."""
        if not self.has_active_version():
            raise FileNotFoundError(f"table '{self.name}' has no active version")
        kept, _total = self.prune_files(filters)
        out = self._read_lineage(self._manifest.active_version, kept)
        for col, op, val in filters:
            out = out.filter(_filter_expr(col, op, val))
        return out

    def read_bucketed(self) -> DataFrame:
        """Catalog-bound bucketed read: binds the active version's files
        as a bucketed table (``CLUSTERED BY ... INTO n BUCKETS`` over the
        same location) so a join between two stores bucketed the same way
        plans with ZERO exchanges — the co-located fact join at 100 TB.
        Plain ``read()`` still works (bucket layout is ordinary parquet);
        only this path carries the bucket metadata into the planner.
        Requires a single-directory active version (appends build lineage
        — ``compact()`` re-buckets into one)."""
        import re as _re

        m = self._manifest
        if not m.bucket_by:
            raise ValueError(
                f"table '{self.name}' is not bucketed; configure(bucket_by=...)"
            )
        if not self.has_active_version():
            raise FileNotFoundError(f"table '{self.name}' has no active version")
        dirs = self._version_dirs(m.active_version)
        if len(dirs) != 1:
            raise ValueError(
                "bucketed read needs a single-directory version; "
                "run compact() first"
            )
        loc = os.path.join(self.path, dirs[0])
        schema = self.version_schema(m.active_version)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        bcols = ", ".join(f"`{c}`" for c in m.bucket_by)
        base = f"bds_{_re.sub('[^A-Za-z0-9_]', '_', self.name)}"
        ident = f"{base}_v{m.active_version}_bucketed"
        # Stale bindings of older versions would dangle once vacuum removes
        # their directories — drop every version's binding for this store.
        for t in self.spark.catalog.listTables():
            if t.name.startswith(f"{base}_v") and t.name.endswith("_bucketed"):
                self.spark.sql(f"drop table if exists `{t.name}`")
        self.spark.sql(
            f"create table `{ident}` ({cols}) using parquet "
            f"clustered by ({bcols}) sorted by ({bcols}) "
            f"into {m.num_buckets or 8} buckets location '{loc}'"
        )
        return self.spark.table(ident)

    # ---------------- read (A1) ----------------
    def read(self) -> DataFrame:
        """The active version's rows, exactly as stored — no row count or
        other metadata rides on the frame (a consumer that needs a size
        asks Spark's plan statistics, which cost no job)."""
        if not self.has_active_version():
            raise FileNotFoundError(f"table '{self.name}' has no active version")
        return self._read_lineage(self._manifest.active_version)

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of any retained version (TableVersion access,
        node.py:84-114). Stable across later appends: a version's lineage
        directories are immutable once committed. Vacuumed versions raise —
        a version whose manifest entry is gone must never silently return a
        partial lineage (its own batch dir may survive as part of newer
        versions' lineage)."""
        if not self._lineage_on_disk(version):
            raise FileNotFoundError(
                f"table '{self.name}' has no version {version} (vacuumed?)"
            )
        return self._read_lineage(version)

    @_mutation
    def restore(self, version: int) -> int:
        """Delta-style RESTORE TABLE: make an old version's contents the
        new ACTIVE version as a fresh commit — no data copy, the new
        version entry references the old version's immutable lineage
        directories. History is preserved (the restore is itself a
        version); returns the new version number."""
        if str(version) not in self._manifest.versions:
            raise FileNotFoundError(
                f"table '{self.name}' has no version {version} (vacuumed?)"
            )
        dirs = self._version_dirs(version)
        info = self._manifest.versions[str(version)]
        v = self.create_new_version()
        entry = self._manifest.versions[str(v)]
        entry["dirs"] = dirs
        entry["restored_from"] = version
        if info.get("schema_json"):
            entry["schema_json"] = info["schema_json"]
        self.set_active_version(v, record_count=info.get("record_count"))
        return v

    def clone_shallow(
        self, target: "TableStore", version: int | None = None
    ) -> int:
        """Delta-style SHALLOW CLONE: make ``target``'s active version
        reference THIS table's immutable lineage directories — zero data
        copied, zero data read. The clone then diverges independently:
        its appends/replaces land under its own path, its vacuum only
        ever deletes its own ``v=N`` directories (cross-table absolute
        references are structurally out of its reach), and the source is
        never affected by anything done to the clone. The dev/test/
        what-if workflow at 100 TB — branch the table, not the bytes.

        What carries over: the version's lineage (by absolute path), its
        record count and schema record, the source's file-level
        data-skipping stats for those directories (``read_pruned`` on
        the clone prunes exactly like the source), and the
        ``partition_by``/``stats_columns`` layout config that describes
        the referenced files. Bucketed-join config does NOT carry (the
        catalog binding is path-scoped); the clone reads plain.

        The standard shallow-clone caveat applies (same as Delta's):
        VACUUM ON THE SOURCE can delete directories the clone still
        references — retention policy on a cloned-from table must keep
        the cloned version, or the clone must be deep-copied (one
        ``write_replace(clone.read())``) before the source is vacuumed.
        The clone's manifest records ``cloned_from`` so operators can
        audit the dependency; returns the clone's new version number."""
        v = version if version is not None else self._manifest.active_version
        if v is None or str(v) not in self._manifest.versions:
            raise FileNotFoundError(
                f"table '{self.name}' has no version {v!r} to clone"
            )
        rel_dirs = self._version_dirs(v)
        abs_dirs = [os.path.join(self.path, d) for d in rel_dirs]
        info = self._manifest.versions[str(v)]
        with target._guard():
            tv = target.create_new_version()
            entry = target._manifest.versions[str(tv)]
            entry["dirs"] = abs_dirs
            if info.get("schema_json"):
                entry["schema_json"] = info["schema_json"]
            entry["cloned_from"] = {
                "table": self.name,
                "path": self.path,
                "version": v,
            }
            for rel, ab in zip(rel_dirs, abs_dirs):
                stats = self._manifest.dir_stats.get(rel)
                if stats:
                    # re-key per-file entries: stats files are recorded
                    # relative to the OWNING table's path; the clone's
                    # prune_files lists them relative to ITS path
                    target._manifest.dir_stats[ab] = {
                        os.path.relpath(
                            os.path.join(self.path, f), target.path
                        ): v2
                        for f, v2 in stats.items()
                    }
            if self._manifest.partition_by and not target._manifest.partition_by:
                target._manifest.partition_by = list(self._manifest.partition_by)
            if self._manifest.stats_columns and not target._manifest.stats_columns:
                target._manifest.stats_columns = list(self._manifest.stats_columns)
            target.set_active_version(tv, record_count=info.get("record_count"))
        return tv

    def read_at(self, timestamp: float) -> DataFrame:
        """Time-travel read AS OF TIMESTAMP (Delta's ``TIMESTAMP AS OF``
        analogue): the newest retained version whose commit time is at or
        before ``timestamp`` (unix seconds). Raises when every retained
        version is newer (nothing existed yet at that time)."""
        best = None
        for vs, meta in self._manifest.versions.items():
            created = meta.get("created_at")
            if created is not None and created <= timestamp:
                if best is None or int(vs) > best:
                    best = int(vs)
        if best is None:
            raise FileNotFoundError(
                f"table '{self.name}' has no version at or before {timestamp}"
            )
        return self.read_version(best)

    def read_or_empty(self, schema: T.StructType | None = None) -> DataFrame:
        if self.has_active_version():
            return self.read()
        return local_relation(self.spark, [], schema or T.StructType([]))

    # ---------------- write decoration ----------------
    def _apply_hints(self, df: DataFrame) -> DataFrame:
        hints = self._manifest.schema_hints or {}
        for col, tname in hints.items():
            if col in df.columns and tname in FIELD_TYPE_MAP:
                df = df.withColumn(col, F.col(col).cast(FIELD_TYPE_MAP[tname]))
        return df

    def _decorate(self, df: DataFrame) -> DataFrame:
        """add_created / add_monotonic_id columns (node.py:285-294)."""
        m = self._manifest
        df = self._apply_hints(df)
        if m.add_created and m.add_created not in df.columns:
            df = df.withColumn(m.add_created, F.current_timestamp())
        if m.add_monotonic_id and m.add_monotonic_id not in df.columns:
            df = self._with_monotonic_ids(df)
        return df

    def _with_monotonic_ids(self, df: DataFrame) -> DataFrame:
        """Dense, strictly increasing base32 ids for the incoming batch —
        fully distributed and JVM-side.

        One light count job computes per-partition row counts; cumulative
        offsets turn them into a global dense sequence; each partition then
        numbers its own rows in parallel (``row_number`` partitioned by
        partition id — NO single-task global sort). Base32 encoding is
        ``conv``/``lpad`` (Hive conv's 0-9A-V alphabet == ours) — NO
        Python UDF on the write path. The batch is persisted first so the
        count job and the write job see identical partitions
        (spark_partition_id / monotonically_increasing_id are
        nondeterministic across recomputations); batches are the unit of
        ingest, bounded, so pinning one is fine even at table scale.

        Advances ``max_monotonic_id`` by the batch size here — every write
        verb (append/replace/upsert) therefore bumps the counter exactly
        once, durably at its manifest commit.
        """
        m = self._manifest
        tagged = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._pinned.append(tagged)
        counts = sorted(
            (r["__pid"], r["n"])
            for r in tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        offsets: dict[int, int] = {}
        acc = m.max_monotonic_id
        for pid, n in counts:
            offsets[pid] = acc
            acc += n
        m.max_monotonic_id = acc
        if offsets:
            off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
            base = F.element_at(off_map, F.col("__pid"))
        else:
            base = F.lit(0)
        seq = base + F.row_number().over(Window.partitionBy("__pid").orderBy("__mid"))
        b32 = F.lpad(F.upper(F.conv(seq.cast("string"), 10, 32)), 13, "0")
        return tagged.withColumn(m.add_monotonic_id, b32).drop("__pid", "__mid")

    def _release(self) -> None:
        while self._pinned:
            self._pinned.pop().unpersist()

    # ---------------- writes (A4, A5, A6, A7) ----------------
    def _write(self, df: DataFrame, path: str, mode: str, **options) -> None:
        """Write ``df`` in the store's layout; ``options`` are writer
        options scoped to this one write (never session conf, which
        concurrent writers share).

        A clustered write (``zorder_by`` or ``cluster_by``) holds each
        file to at most advisory-size-worth of rows: the writing
        session's ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
        over Spark's per-row size estimate, as a ``maxRecordsPerFile``
        option (the smaller one wins when the caller passes its own).
        The range exchange starts from ``spark.sql.shuffle.partitions``
        (the core count by default) and AQE only merges partitions, so
        without the cap the file count would track the host's cores, not
        the data.
        Each range partition is sorted on the key, so its split files
        cover contiguous, tight ranges."""
        cb = self._manifest.cluster_by
        zb = self._manifest.zorder_by
        zorder = bool(zb) and all(c in df.columns for c in zb)
        cluster = not zorder and bool(cb) and all(c in df.columns for c in cb)
        if zorder or cluster:
            cap = _rows_per_advisory_partition(df)
            cap = min(cap, options.get("maxRecordsPerFile", cap))
            options["maxRecordsPerFile"] = cap
        if zorder:
            # Z-order: bit-interleave per-column quantile ranks into one
            # curve value, then range-cluster on it. Every listed dimension
            # gets partial locality in every file → footer stats prune on
            # any of them. Costs one approxQuantile pass + one range
            # shuffle per write; reads on the non-leading dimensions win
            # it back (cluster_by prunes only its first column).
            zcol = "__z"
            df = (
                df.withColumn(zcol, _zorder_value(df, zb))
                .repartitionByRange(zcol)
                .sortWithinPartitions(zcol)
                .drop(zcol)
            )
        elif cluster:
            # Range-cluster so each file covers a tight, near-disjoint
            # range of the cluster key → footer stats prune hard. One
            # extra range shuffle per write; reads win it back every time.
            df = df.repartitionByRange(*cb).sortWithinPartitions(*cb)
        # Static overwrite even if the session asks for dynamic: a version
        # directory is always written whole, so nothing a failed write
        # with the same (reused) version number left there survives.
        w = df.write.mode(mode).option("partitionOverwriteMode", "static")
        w = w.options(**options)
        if self._manifest.partition_by:
            w = w.partitionBy(*self._manifest.partition_by)
        bb = self._manifest.bucket_by
        if bb and all(c in df.columns for c in bb):
            # Bucketed layouts must go through saveAsTable (bucket ids ride
            # the file names + catalog metadata). Write as a throwaway
            # EXTERNAL table on the version path, then drop the catalog
            # entry — files stay; read_bucketed() re-binds them.
            import uuid as _uuid

            tmp = f"__bds_bw_{_uuid.uuid4().hex[:12]}"
            try:
                (
                    w.bucketBy(self._manifest.num_buckets or 8, *bb)
                    .sortBy(*bb)
                    .option("path", path)
                    .saveAsTable(tmp)
                )
            finally:
                self.spark.sql(f"drop table if exists {tmp}")
            return
        w.parquet(path)

    def _write_counted(
        self, df: DataFrame, path: str, **options
    ) -> tuple[int, dict[str, int]]:
        """Overwrite-write ``df`` to ``path`` and return its row count and
        per-expectation violation counts, captured via ``df.observe``
        DURING the write job — one pass, never a re-read of the written
        output (which doubles I/O at scale).

        Expectations ride the same observation: per-constraint violation
        counts are aggregated during the write (zero extra scans at any
        data size). Mode ``drop`` attaches the observe BELOW the filter so
        dropped rows are still counted; ``fail`` raises after the write but
        BEFORE the caller flips the manifest pointer, so a rejected batch
        is never visible (same crash-safety as a mid-write failure)."""
        m = self._manifest
        exps = m.expectations or {}
        drop = bool(exps) and m.expectations_mode == "drop"
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        # One NULL policy across all three modes (SQL CHECK semantics: a
        # constraint evaluating to NULL passes). Without the coalesce the
        # modes disagreed — NULL was not counted as a violation yet drop
        # mode's filter(expr) removed the row (kept + violations != total).
        def _passes(expr: str):
            return F.coalesce(F.expr(expr), F.lit(True))

        for name, expr in exps.items():
            metrics.append(
                F.count(F.when(~_passes(expr), 1)).alias(f"__exp_{name}")
            )
        if drop:
            keep_all = functools.reduce(
                lambda a, b: a & b, (_passes(e) for e in exps.values())
            )
            metrics.append(F.count(F.when(keep_all, 1)).alias("__kept"))
        df = df.observe(obs, *metrics)
        if drop:
            for expr in exps.values():
                df = df.filter(_passes(expr))
        self._write(df, path, "overwrite", **options)
        self._collect_file_stats(os.path.relpath(path, self.path))
        got = obs.get
        violations = {name: int(got[f"__exp_{name}"]) for name in exps}
        bad = {k: v for k, v in violations.items() if v}
        if bad and m.expectations_mode == "fail":
            raise ValueError(
                f"table '{self.name}': expectation(s) violated, batch "
                f"rejected (pointer not flipped): {bad}"
            )
        return int(got["__kept"]) if drop else int(got["n"]), violations

    def _write_version(
        self,
        df: DataFrame,
        lineage: list[str] | None = None,
        carried: int | None = 0,
        **options,
    ) -> tuple[int, int]:
        """The one data-write commit, run inside a guarded verb: allocate a
        version, write ``df`` as its own directory (counted, expectations
        observed), put the lineage (``lineage`` + that directory), the
        schema and the violation counts on its entry, and flip the pointer
        through ``set_active_version``. ``carried`` is the row count the
        ``lineage`` prefix brings along (None: unknown, so the version's
        count is unknown too); ``options`` are writer options for this
        write only. Returns (version, rows written)."""
        v = self.create_new_version()
        n, violations = self._write_counted(df, self.version_path(v), **options)
        entry = self._manifest.versions[str(v)]
        entry["dirs"] = [*(lineage or []), f"v={v}"]
        # The version's schema (incl. partition and decoration columns);
        # every read opens its lineage with it (see ``version_schema``).
        entry["schema_json"] = df.schema.json()
        if self._manifest.expectations:
            # data-quality audit trail, O(1) metadata
            entry["expectation_violations"] = violations
        self.set_active_version(
            v, record_count=None if carried is None else carried + n
        )
        return v, n

    def expectation_violations(self, version: int | None = None) -> dict[str, int]:
        """Violation counts recorded for ``version`` (default: active)."""
        v = version if version is not None else self._manifest.active_version
        return dict(
            self._manifest.versions.get(str(v), {}).get(
                "expectation_violations", {}
            )
        )

    def _check_strict_schema(self, df: DataFrame, target: T.StructType) -> None:
        if not self._manifest.strict_schema:
            return
        incoming = set(df.columns)
        declared = {f.name for f in target.fields}
        extra = sorted(incoming - declared)
        missing = sorted(declared - incoming)
        if extra or missing:
            raise SchemaMismatchError(
                f"store '{self.name}' (strict_schema): batch columns do not "
                f"match the declared schema; extra={extra} missing={missing}"
            )

    @_mutation
    def write_replace(self, df: DataFrame) -> int:
        """New version containing exactly these rows (A6 replace)."""
        return self._write_version(self._decorate(df))[0]

    @_mutation
    def append(self, df: DataFrame) -> None:
        """Append rows (A4). Copy-on-write: the batch lands in a NEW
        directory and the new version's lineage = previous dirs + it, so no
        committed version directory is ever mutated. A crash mid-write
        leaves an unreferenced directory — readers and time travel are
        unaffected until the manifest pointer flips."""
        df = self._decorate(df)
        if not self.has_active_version():
            self._write_version(df)
            return
        prev = self._manifest.active_version
        existing = self.version_schema(prev)
        self._check_strict_schema(df, existing)
        v, _ = self._write_version(
            _align_columns(df, existing),
            lineage=self._version_dirs(prev),
            carried=self._manifest.versions[str(prev)].get("record_count"),
        )
        ca = self._manifest.compact_after
        if ca is not None and len(self._version_dirs(v)) > ca:
            self.compact()

    @_mutation
    def append_stream_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Idempotent micro-batch append for Structured Streaming
        ``foreachBatch`` sinks: a batch id at or below the last committed
        one is a checkpoint replay and is skipped. The id is recorded in
        the same atomic manifest commit as the version pointer flip, so
        data and progress can never disagree (exactly-once, the streaming
        analogue of the stream-cursor commit order in engine/context.py).
        Returns True when the batch was ingested."""
        return self._stream_batch(self.append, df, batch_id)

    @_mutation
    def upsert_stream_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Idempotent micro-batch UPSERT for ``foreachBatch`` sinks — the
        update-mode analogue of ``append_stream_batch``: a streaming
        aggregation emits updated rows per key each micro-batch, and this
        merges them into the managed table on ``unique_on``. Same
        exactly-once contract: the batch id rides the atomic manifest flip
        and replays are skipped."""
        return self._stream_batch(self.upsert, df, batch_id)

    def _stream_batch(self, write, df: DataFrame, batch_id: int) -> bool:
        """Skip a replayed batch id, else stamp the id and ``write`` the
        batch: the write's pointer flip commits data and id together. If
        the write raises before its flip, the guard drops the stamp with
        the rest of the uncommitted state, so a retry of this batch is
        ingested, not skipped; a failure after the flip (a post-commit
        compaction) keeps it, so replay stays a no-op."""
        if batch_id <= self._manifest.last_stream_batch_id:
            return False
        self._manifest.last_stream_batch_id = batch_id
        write(df)
        return True

    @_mutation
    def compact(self, max_records_per_file: int = 4_000_000) -> int:
        """Rewrite the active version's lineage into one directory (file-
        count hygiene after many appends). Same data, new version.

        Also bin-packs small files: a partitioned store is shuffled by its
        partition columns first, so every incoming task holds whole
        partition values and small files collapse instead of inheriting
        one-file-per-upstream-task from the lineage read (36 appended
        micro-batches otherwise leave ~batches×cells small files in the
        compacted dir — measured: 172 files over 36 lineage dirs compact
        to 8, one per partition value). Hot partitions do
        NOT serialize through one task: a per-partition-value count (one
        extra agg scan, acceptable for a maintenance op) assigns each
        value ``ceil(rows / max_records_per_file)`` salt splits (capped at
        1024), so a skewed value rewrites across a bounded number of
        parallel tasks, and the write's ``maxRecordsPerFile`` option caps
        the output file size on every path. An unpartitioned store keeps
        the plain rewrite: its file count equals the scan's task count,
        already bounded by maxPartitionBytes."""
        df = self.read()
        pcols = self._manifest.partition_by
        if pcols:
            keys = [F.col(c) for c in pcols]
            if max_records_per_file > 0:
                splits = (
                    df.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("__pn"))
                    .select(
                        *pcols,
                        F.least(
                            F.lit(1024),
                            F.ceil(F.col("__pn") / F.lit(max_records_per_file)),
                        )
                        .cast("int")
                        .alias("__nsplit"),
                    )
                )
                df = (
                    df.join(F.broadcast(splits), on=pcols, how="left")
                    .withColumn(
                        "__salt",
                        F.pmod(
                            F.xxhash64(F.monotonically_increasing_id()),
                            F.coalesce(F.col("__nsplit"), F.lit(1)),
                        ),
                    )
                    .repartition(*keys, F.col("__salt"))
                    .drop("__nsplit", "__salt")
                )
            else:
                df = df.repartition(*keys)
        cap = (
            {"maxRecordsPerFile": max_records_per_file}
            if max_records_per_file > 0
            else {}
        )
        return self._write_version(df, **cap)[0]

    @_mutation
    def delete_where(self, condition: str) -> int:
        """Managed DELETE (Delta DML parity): copy-on-write rewrite that
        drops rows matching the SQL ``condition``; commits as a new
        version (time travel sees the pre-delete data). Returns the
        number of rows deleted. NULL-evaluating conditions keep the row
        (SQL DELETE semantics: only TRUE deletes)."""
        old = self.read()
        cond = F.coalesce(F.expr(condition), F.lit(False))
        before = self.record_count
        _, n = self._write_version(old.filter(~cond))
        return (before - n) if before is not None else -1

    @_mutation
    def update_where(self, assignments: dict[str, str], condition: str) -> int:
        """Managed UPDATE (Delta DML parity): copy-on-write rewrite
        applying ``{column: SQL expr}`` to rows matching ``condition``;
        other rows pass through unchanged. Returns the number of rows
        updated (condition TRUE only, as in SQL UPDATE)."""
        old = self.read()
        cond = F.coalesce(F.expr(condition), F.lit(False))
        bad = [c for c in assignments if c not in old.columns]
        if bad:
            raise ValueError(f"unknown columns in UPDATE: {bad}")
        n_updated = old.filter(cond).count()
        updated = old.select(
            *[
                F.when(cond, F.expr(assignments[c])).otherwise(F.col(c))
                .cast(old.schema[c].dataType)
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in old.columns
            ]
        )
        self._write_version(updated)
        return n_updated

    def changes_between(
        self, from_version: int, to_version: int, keys: list[str] | None = None
    ) -> DataFrame:
        """Change feed between two versions (Delta CDF analogue): rows
        classified as ``insert`` / ``delete`` / ``update_preimage`` /
        ``update_postimage`` by the merge keys (defaults to the store's
        ``unique_on``). A full-outer null-safe key join of the two
        snapshots; value comparison over all shared non-key columns.
        Output: the union of changed rows with a ``_change_type``
        column, keys first."""
        ks = keys or self._manifest.unique_on
        if not ks:
            raise ValueError("changes_between needs merge keys (unique_on)")
        old = self.read_version(from_version)
        new = self.read_version(to_version)
        shared = [c for c in old.columns if c in new.columns and c not in ks]
        cond = None
        for k in ks:
            e = F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}"))
            cond = e if cond is None else (cond & e)
        # presence flags must distinguish "row absent" from "key is NULL":
        # a definitely-non-null marker per side. The output projections
        # iterate old.columns/new.columns (the USER schemas) directly —
        # the prefixed copies and the __op/__np markers are never exposed,
        # so user columns that themselves start with "__" survive intact.
        o = old.select(
            F.lit(1).alias("__op"), *[F.col(c).alias(f"__o_{c}") for c in old.columns]
        )
        n = new.select(
            F.lit(1).alias("__np"), *[F.col(c).alias(f"__n_{c}") for c in new.columns]
        )
        j = o.join(n, cond, "full_outer")
        changed_vals = None
        for c in shared:
            ne = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
            changed_vals = ne if changed_vals is None else (changed_vals | ne)
        if changed_vals is None:
            changed_vals = F.lit(False)
        inserts = j.filter(F.col("__op").isNull()).select(
            F.lit("insert").alias("_change_type"),
            *[F.col(f"__n_{c}").alias(c) for c in new.columns],
        )
        deletes = j.filter(F.col("__np").isNull()).select(
            F.lit("delete").alias("_change_type"),
            *[F.col(f"__o_{c}").alias(c) for c in old.columns],
        )
        both = j.filter(F.col("__op").isNotNull() & F.col("__np").isNotNull()).filter(
            changed_vals
        )
        pre = both.select(
            F.lit("update_preimage").alias("_change_type"),
            *[F.col(f"__o_{c}").alias(c) for c in old.columns],
        )
        post = both.select(
            F.lit("update_postimage").alias("_change_type"),
            *[F.col(f"__n_{c}").alias(c) for c in new.columns],
        )
        return inserts.unionByName(deletes, allowMissingColumns=True).unionByName(
            pre, allowMissingColumns=True
        ).unionByName(post, allowMissingColumns=True)

    @_mutation
    def apply_changes(self, changes: DataFrame, keys: list[str] | None = None) -> None:
        """CDC consumer (the ``changes_between`` counterpart): apply a
        change feed — delete rows whose keys carry ``delete``, upsert the
        ``insert``/``update_postimage`` rows — in ONE new-version commit.
        Replaying a source's feed onto a replica converges the replica to
        the source snapshot (see the replication test)."""
        ks = keys or self._manifest.unique_on
        if not ks:
            raise ValueError("apply_changes needs merge keys (unique_on)")
        if "_change_type" not in changes.columns:
            raise ValueError("changes frame lacks _change_type")
        deletes = changes.filter(F.col("_change_type") == "delete").select(ks)
        upserts = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type")
        old = self.read_or_empty(upserts.schema)
        survivors = _join_nullsafe(old, deletes, ks, "left_anti")
        survivors = _join_nullsafe(survivors, upserts, ks, "left_anti")
        self._write_version(survivors.unionByName(upserts, allowMissingColumns=True))

    def stats_drift(
        self,
        from_version: int,
        to_version: int,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Per-column distribution drift between two versions — the
        corpus-governance report behind "did the new crawl batch shift
        the data?": one row per ``(column, metric)`` with the metric's
        value in each version, stringified for a uniform schema
        ``(column, metric, old, new)``.

        Metrics: ``row_count`` (table-level, column ``<table>``);
        ``schema`` rows for added/removed/type-changed columns (from
        the schemas alone — no scan); and per shared ATOMIC column
        ``nulls``, ``min``, ``max``, ``distinct`` (typed min/max, exact
        distinct — all deterministic; array/struct/map columns report
        ``nulls`` only). Each side is ONE aggregate job over its
        version snapshot; results are bounded (columns × metrics) and
        assembled driver-side. Exact ``countDistinct`` per column costs
        one expand pass — pass ``columns=[...]`` to scope a wide table.
        Complements :meth:`changes_between` (row-level feed, needs
        keys): drift needs no keys and stays cheap when almost
        everything changed."""
        from pyspark.sql import types as T

        old = self.read_version(from_version)
        new = self.read_version(to_version)
        o_types = {f.name: f.dataType for f in old.schema.fields}
        n_types = {f.name: f.dataType for f in new.schema.fields}
        rows: list[tuple] = []
        for c in sorted(set(o_types) | set(n_types)):
            ot = o_types.get(c) and o_types[c].simpleString()
            nt = n_types.get(c) and n_types[c].simpleString()
            if ot != nt:
                rows.append((c, "schema", ot, nt))
        shared = [
            c
            for c in old.columns
            if c in n_types and (columns is None or c in columns)
        ]

        def atomic(dt) -> bool:
            return isinstance(dt, T.AtomicType)

        def side(df, types):
            aggs = [F.count(F.lit(1)).cast("long").alias("__rows")]
            for c in shared:
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
                )
                if atomic(types[c]):
                    aggs.append(
                        F.min(F.col(c)).cast("string").alias(f"__min_{c}")
                    )
                    aggs.append(
                        F.max(F.col(c)).cast("string").alias(f"__max_{c}")
                    )
                    aggs.append(
                        F.count_distinct(F.col(c)).alias(f"__dist_{c}")
                    )
            return df.agg(*aggs).collect()[0]  # bounded: one row

        o, n = side(old, o_types), side(new, n_types)
        rows.append(("<table>", "row_count", str(o["__rows"]), str(n["__rows"])))
        for c in shared:
            rows.append((c, "nulls", str(o[f"__nulls_{c}"]), str(n[f"__nulls_{c}"])))
            if atomic(o_types[c]) and atomic(n_types[c]):
                for m in ("min", "max", "dist"):
                    rows.append(
                        (
                            c,
                            {"dist": "distinct"}.get(m, m),
                            None if o[f"__{m}_{c}"] is None else str(o[f"__{m}_{c}"]),
                            None if n[f"__{m}_{c}"] is None else str(n[f"__{m}_{c}"]),
                        )
                    )
        return local_relation(
            self.spark, rows,
            "column string, metric string, old string, new string",
        )

    @_mutation
    def truncate(self) -> None:
        """Delete all rows, keep schema (A7)."""
        if not self.has_active_version():
            return
        schema = self.version_schema(self._manifest.active_version)
        self._write_version(local_relation(self.spark, [], schema))

    @_mutation
    def upsert(self, df: DataFrame) -> None:
        """Insert-or-update on ``unique_on`` (A5, node.py:318-334).

        Join-based merge: old rows not matched by key survive; matched keys
        take the new row; unmatched new rows insert. Written as a new
        version + pointer flip (atomic). At scale: this is a shuffled
        anti-join + union — same shape as a Delta MERGE rewrite; partition
        the store on a key prefix to scope the rewrite. The monotonic-id
        counter advances inside ``_decorate`` (per incoming batch), so ids
        never repeat across successive upserts.
        """
        keys = self._manifest.unique_on
        if not keys:
            raise ValueError(
                f"table '{self.name}' has no unique_on configured; call init(unique_on=...)"
            )
        # Dedup incoming batch on the key (last wins within the batch).
        df = self._decorate(df).dropDuplicates(keys)
        if self.has_active_version():
            old = self.read()
            self._check_strict_schema(df, old.schema)
            df = _align_columns(df, old.schema)
            survivors = self._upsert_survivors(old, df, keys)
            df = survivors.unionByName(df, allowMissingColumns=True)
        self._write_version(df)

    def _upsert_survivors(
        self, old: DataFrame, df: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Old rows that survive the merge. Partition-scoped when the store
        is partitioned: only partitions the merge actually touches join
        against the new keys; every other partition passes through behind a
        partition-pruning filter (no shuffle, no join). When the partition
        columns are NOT part of the merge key (keys can migrate between
        partitions), the touched set additionally includes the partitions
        of old rows matching incoming keys, found via a narrow semi-join —
        see inline comments. At scale this turns an all-partitions
        full-row shuffle merge into one scoped to the written keys — the
        Delta/Iceberg dynamic-partition MERGE shape."""
        pcols = self._manifest.partition_by
        if not pcols or any(c not in df.columns for c in pcols):
            return _join_nullsafe(old, df, keys, "left_anti")
        if set(pcols) <= set(keys):
            # Partition columns are part of the merge key: a key can never
            # move between partitions, so the batch's own partitions are
            # exactly the touched set — no look at old needed.
            touched = [
                tuple(r[c] for c in pcols)
                for r in df.select(*pcols).distinct().collect()
            ]
        else:
            # Key migration possible (e.g. unique_on=[k], partition_by=
            # [day], k moves from day=1 to day=2): the stale old row lives
            # in a partition the batch doesn't write. Derive the touched
            # set from the OLD rows matching incoming keys — a NARROW
            # semi-join (keys + partition cols only, not full rows) —
            # unioned with the batch's partitions. The migrating key's old
            # partition is provably included: its old row matches the
            # incoming key, so the semi-join emits its partition tuple.
            # Full-row work then stays scoped to touched partitions; the
            # narrow semi-join shuffle is the bounded price.
            proj = list(dict.fromkeys([*keys, *pcols]))
            old_parts = _join_nullsafe(
                old.select(*proj), df, keys, "left_semi"
            ).select(*pcols)
            touched_df = old_parts.union(df.select(*pcols)).distinct().limit(1001)
            touched = [tuple(r[c] for c in pcols) for r in touched_df.collect()]
        if not touched:
            return old
        if len(touched) > 1000:
            # Predicate would be unwieldy; fall back to the global merge.
            return _join_nullsafe(old, df, keys, "left_anti")
        conds = []
        for t in touched:
            c = F.lit(True)
            for col, v in zip(pcols, t):
                c = c & (
                    F.col(col).isNull() if v is None else (F.col(col) == F.lit(v))
                )
            conds.append(c)
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        # coalesce: a null comparison must land a row in exactly one branch.
        in_touched = F.coalesce(cond, F.lit(False))
        untouched = old.filter(~in_touched)
        scoped = _join_nullsafe(old.filter(in_touched), df, keys, "left_anti")
        return untouched.unionByName(scoped)


def _rows_per_advisory_partition(df: DataFrame) -> int:
    """Rows of ``df`` that fill one advisory-size partition: the session's
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (parsed by Spark's
    own byte-string parser) over Spark's per-row size estimate, ``8 +
    schema.defaultSize`` (``EstimationUtils.getSizePerRow``). Read from
    ``df``'s own session: a streaming micro-batch runs in the stream's
    cloned session, not the store's."""
    spark = df.sparkSession
    target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, int(target) // (8 + df._jdf.schema().defaultSize()))


def _zorder_value(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-curve value column: per-column quantile-rank buckets (``bits``
    bits each; boundaries from ONE approxQuantile pass over this batch)
    bit-interleaved into a single long. Rank-based (not min/max-uniform)
    bucketing keeps the curve balanced under skew — the same idea as
    Delta ZORDER's range-partition ids. Nulls rank lowest (bucket 0);
    per Spark comparison semantics NaN ranks highest. The bucket fold and
    the interleave are pure codegen'd column expressions — the only jobs
    are the quantile pass and the range shuffle the caller adds."""
    n = len(cols)
    nb = (1 << bits) - 1  # boundaries per column
    probs = [i / (nb + 1) for i in range(1, nb + 1)]
    numeric = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    quantiles = numeric.approxQuantile(cols, probs, 0.001)
    z = F.lit(0).cast("long")
    for ci, (c, bnds) in enumerate(zip(cols, quantiles)):
        if not bnds:  # empty batch: approxQuantile found no rows
            continue
        v = F.coalesce(F.col(c).cast("double"), F.lit(float("-inf")))

        # bucket = #boundaries strictly below v. The predicate (v > b_i)
        # is monotone over the sorted boundary list, so a balanced
        # WHEN-tree binary search gives the same count in ``bits``
        # codegen'd comparisons — the previous 255-step interpreted
        # ``aggregate`` fold ran the lambda (and re-evaluated the cast)
        # once per boundary per row per column.
        def _search(lo: int, hi: int):  # bucket value in [lo, hi]
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                v > F.lit(float(bnds[mid])), _search(mid + 1, hi)
            ).otherwise(_search(lo, mid))

        bucket = _search(0, len(bnds))
        for bit in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)).cast("long"),
                bit * n + ci,
            )
    return z


def _join_nullsafe(
    old: DataFrame, new: DataFrame, keys: list[str], how: str
) -> DataFrame:
    """Old rows with (``how="left_semi"``) or without (``"left_anti"``) a
    key match in ``new``, treating NULL key values as equal (``<=>``). A
    plain ``on=keys`` anti-join never matches NULL=NULL, so an upsert of a
    NULL-keyed row would duplicate it instead of replacing it."""
    o, n = old.alias("__o"), new.select(*keys).alias("__n")
    cond = None
    for k in keys:
        c = F.col(f"__o.{k}").eqNullSafe(F.col(f"__n.{k}"))
        cond = c if cond is None else cond & c
    return o.join(n, cond, how).select(*[F.col(f"__o.{c}") for c in old.columns])


def _stat_encode(v: Any, tz: Any = None) -> Any:
    """Normalize a parquet-footer stat (or a filter literal) into a
    JSON-storable, order-preserving key.

    Timestamps need care: Spark writes instant-typed (TIMESTAMP_MICROS,
    adjusted-to-UTC) columns whose footer stats pyarrow reports as
    tz-AWARE datetimes, while a user's filter literal is usually a NAIVE
    datetime that Spark interprets in the session timezone. Comparing ISO
    strings of the two is wrong on any non-UTC driver (off by the UTC
    offset — silent mis-pruning). So: aware datetimes encode to epoch
    microseconds (tz-independent); naive datetimes encode to epoch micros
    via the caller-supplied session ``tz`` when given, else to an ISO
    string (only comparable against other naive encodings, e.g. NTZ
    columns). dates → ISO strings (no timezone ambiguity). Types whose
    comparison semantics are unsafe (bytes, NaN, Decimal) return None →
    the column is skipped / the file conservatively kept."""
    import datetime as _dt

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        import math

        return None if math.isnan(v) else v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            return int(v.timestamp() * 1_000_000)
        if tz is not None:
            return int(v.replace(tzinfo=tz).timestamp() * 1_000_000)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _file_may_match(
    fstats: dict[str, list] | None,
    filters: list[tuple[str, str, Any]],
    tz: Any = None,
) -> bool:
    """Can any row in a file with these [min, max] stats satisfy every
    conjunct? Unknown columns/files → True (never prune on missing info).
    ``tz`` is the Spark session timezone, used to encode naive datetime
    literals to the same epoch-micros basis as instant-typed column stats;
    without it (or for aware-stat/naive-literal type mismatches) the
    comparison is skipped and the file conservatively kept."""
    import datetime as _dt

    if fstats is None:
        return True
    for col, op, val in filters:
        rng = fstats.get(col)
        ev = _stat_encode(val)
        if rng is None or ev is None:
            continue
        lo, hi = rng
        if (
            isinstance(ev, str)
            and isinstance(lo, (int, float))
            and isinstance(val, _dt.datetime)
            and tz is not None
        ):
            # instant-typed column stats (epoch micros) vs naive literal:
            # interpret the literal in the session tz, as Spark itself does
            ev = _stat_encode(val, tz)
        both_num = isinstance(lo, (int, float)) and isinstance(ev, (int, float))
        both_str = isinstance(lo, str) and isinstance(ev, str)
        if not (both_num or both_str):
            continue  # mismatched encodings — don't compare
        if op == "=" and not (lo <= ev <= hi):
            return False
        if op == ">" and not (hi > ev):
            return False
        if op == ">=" and not (hi >= ev):
            return False
        if op == "<" and not (lo < ev):
            return False
        if op == "<=" and not (lo <= ev):
            return False
    return True


def _filter_expr(col: str, op: str, val: Any):
    c = F.col(col)
    if op == "=":
        return c == F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    raise ValueError(f"unsupported pruning op: {op!r}")


def _read_schema(
    schema: T.StructType, partition_by: list[str] | None
) -> T.StructType:
    """``schema`` in read form: partition columns last (in ``partition_by``
    order) and every field nullable, nested ones included."""
    pcols = [c for c in partition_by or [] if c in schema.names]
    fields = [f for f in schema.fields if f.name not in pcols]
    fields += [schema[c] for c in pcols]
    return _nullable(T.StructType(fields))


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _align_columns(df: DataFrame, target: T.StructType) -> DataFrame:
    """Cast/reorder incoming columns to the existing table schema; add
    missing columns as nulls (schema-from-first-write semantics)."""
    cols = []
    for f_ in target.fields:
        if f_.name in df.columns:
            cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    extras = [c for c in df.columns if c not in {f_.name for f_ in target.fields}]
    return df.select(*cols, *[F.col(c) for c in extras])


def apply_agg_delta(
    agg: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
    sum_type: str = "decimal(18,2)",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Incremental aggregate maintenance from a change feed (the
    materialized-view delta rule for COUNT/SUM group-bys, applied to
    ``changes_between`` output): inserts and update POST-images add,
    deletes and update PRE-images subtract, so the maintained aggregate
    after ONE group-delta pass equals a full recompute — without ever
    re-reading the base table. The ``changes`` frame must already carry
    the GROUP columns (derive them in the projection if the view keys
    are computed) plus the raw value columns named by ``sum_cols``
    keys; ``sum_cols`` maps value column → aggregate column name in
    ``agg``.

    Exactness contract: sums accumulate in ``sum_type`` DECIMAL —
    integer arithmetic, so delta-application is EXACTLY equal to
    recomputation at any partitioning (the same reason the repo's
    money sums are decimal). Groups whose count reaches zero are
    DROPPED (a recompute would not emit them). Scale shape: one hash
    agg over the (incremental) change feed + one full-outer join with
    the current aggregate on the group key — never a base-table scan;
    this is what makes a 100 TB base with a per-batch change feed
    maintainable at change-feed cost."""
    sign = F.when(
        F.col(change_type_col).isin("insert", "update_postimage"), F.lit(1)
    ).when(
        F.col(change_type_col).isin("delete", "update_preimage"), F.lit(-1)
    )
    aggs = [F.sum(sign).cast("long").alias("__dn")]
    for src, dst in sum_cols.items():
        aggs.append(
            F.sum(sign.cast(sum_type) * F.col(src).cast(sum_type))
            .cast(sum_type)
            .alias(f"__d_{dst}")
        )
    delta = changes.groupBy(*group_cols).agg(*aggs)
    # NULL-SAFE key join: a NULL group key is a real group to an
    # aggregate (GROUP BY collects NULLs together), but a plain join
    # would never match the two sides' NULL rows — the maintained view
    # would split the NULL group and diverge from a recompute.
    d = delta.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        "__dn",
        *[F.col(f"__d_{dst}") for dst in sum_cols.values()],
    )
    cond = None
    for c in group_cols:
        e = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = e if cond is None else (cond & e)
    zero_long = F.lit(0).cast("long")
    merged = agg.join(d, cond, "full").select(
        *[
            F.coalesce(F.col(c), F.col(f"__g_{c}")).alias(c)
            for c in group_cols
        ],
        (
            F.coalesce(F.col(count_col), zero_long)
            + F.coalesce(F.col("__dn"), zero_long)
        ).cast("long").alias(count_col),
        *[
            (
                F.coalesce(F.col(dst), F.lit(0).cast(sum_type))
                + F.coalesce(F.col(f"__d_{dst}"), F.lit(0).cast(sum_type))
            ).cast(sum_type).alias(dst)
            for dst in sum_cols.values()
        ],
    )
    return merged.filter(F.col(count_col) > 0)
