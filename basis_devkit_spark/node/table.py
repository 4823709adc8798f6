"""Live ``Table`` — the reference's central abstraction, Spark-backed.

Behavioral spec: `/root/reference/patterns/node/node.py:117-414` (docstrings
are the contract; the reference ships only stubs). Key semantics kept:

- ``read(as_format='records'|'dataframe', chunksize)`` over the *active
  TableVersion* (node.py:141-154)
- writes are buffered and flushed in batches (node.py:305-307, 407-414)
- ``replace`` == reset + append into a fresh version (node.py:336-345)
- ``upsert`` needs ``unique_on`` (node.py:318-334)
- ``init`` configures schema hints / unique_on / add_created /
  add_monotonic_id (node.py:269-297)
- unconnected tables are inert dummies (node.py:232-238)

Spark-first: ``read_dataframe`` returns the lazily-planned DataFrame over
the active version's parquet — filters/projections written on it push down
to the scan. ``as_format='records'`` collects to the driver and is gated by
a row-count guard at scale.
"""

from __future__ import annotations

import re
from typing import Any, Iterator, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_devkit_spark.session import sql_over_views
from basis_devkit_spark.storage.store import TableStore

Records = list[dict[str, Any]]
WriteInput = Union[DataFrame, pd.DataFrame, Records, dict]

# Hard guard: .read(as_format='records') materializes on the driver; at
# 100 TB that's a mistake, not a request. Chunked iteration is the gated path.
_RECORDS_COLLECT_LIMIT = 10_000_000

# Conservative SQL-WHERE conjunct extraction for stats-pruned view binding
# (read_sql): only `col op literal` conjuncts of a single top-level WHERE,
# only when the clause provably has no disjunction/nesting. Anything the
# grammar doesn't cover simply skips pruning (Catalyst row-group pruning
# still applies on the full file list) — soundness over coverage.
_SQL_CONJUNCT_RE = re.compile(
    r"^\s*(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*(=|<=|>=|<|>)\s*"
    r"('[^']*'|-?\d+(?:\.\d+)?)\s*$"
)
_SQL_CLAUSE_END_RE = re.compile(
    r"\b(group\s+by|order\s+by|limit|having|union|intersect|except|qualify|window)\b",
    re.I,
)


def _prunable_filters(
    sql: str, view_name: str, stats_columns: list[str]
) -> list[tuple[str, str, Any]]:
    """Extract (col, op, val) pruning filters from ``sql``'s WHERE clause —
    ONLY when provably sound: single SELECT, single WHERE, no OR and no
    parentheses in the clause (so every AND-split piece is a top-level
    conjunct, and any subset of conjuncts is a valid pruning predicate).
    Unparseable conjuncts are skipped, never guessed."""
    if not stats_columns:
        return []
    low = sql.lower()
    if low.count("select") != 1:
        return []
    wheres = [m.start() for m in re.finditer(r"\bwhere\b", low)]
    if len(wheres) != 1:
        return []
    clause = sql[wheres[0] + len("where") :]
    m = _SQL_CLAUSE_END_RE.search(clause)
    if m:
        clause = clause[: m.start()]
    if re.search(r"\bor\b", clause, re.I) or "(" in clause:
        return []
    stats_low = {c.lower(): c for c in stats_columns}
    out: list[tuple[str, str, Any]] = []
    for conj in re.split(r"\band\b", clause, flags=re.I):
        mm = _SQL_CONJUNCT_RE.match(conj)
        if not mm:
            continue
        qual, col, op, lit = mm.groups()
        if qual and qual.lower() != view_name.lower():
            continue
        if col.lower() not in stats_low:
            continue
        val: Any
        if lit.startswith("'"):
            val = lit[1:-1]
        else:
            val = float(lit) if "." in lit else int(lit)
        out.append((stats_low[col.lower()], op, val))
    return out


class TableVersion:
    """One physical snapshot of a Table (node.py:84-114)."""

    def __init__(self, table: "Table", version: int):
        self._table = table
        self.version = version

    @property
    def name(self) -> str:
        return self._table.name

    @property
    def storage_path(self) -> str:
        return self._table._store.version_path(self.version)

    @property
    def storage(self) -> str:
        """Storage location descriptor (node.py:96-100)."""
        return self.storage_path

    @property
    def exists(self) -> bool:
        """True iff the snapshot is still retained: a manifest entry whose
        whole lineage is on disk (restored and cloned versions own no
        directory of their own)."""
        return self._table._store._lineage_on_disk(self.version)

    @property
    def schema(self):
        """Schema of this snapshot (node.py:101-105), as recorded in the
        manifest; None once vacuumed."""
        if not self.exists:
            return None
        return self._table._store.version_schema(self.version)

    @property
    def record_count(self) -> int | None:
        """Row count of this snapshot (node.py:106-110): manifest-recorded
        when available, else counted from the version's lineage; None once
        vacuumed."""
        if not self.exists:
            return None
        store = self._table._store
        info = store._manifest.versions.get(str(self.version), {})
        n = info.get("record_count")
        if n is None:
            n = store.read_version(self.version).count()
        return n


class Table:
    def __init__(
        self,
        name: str,
        mode: str = "r",
        description: str | None = None,
        schema: str | None = None,
        required: bool = True,
    ):
        self.name = name
        self.mode = mode
        self.description = description
        self.declared_schema = schema
        self.required = required
        # bound by the engine at node-bind time
        self._store: TableStore | None = None
        self._spark: SparkSession | None = None
        self._write_buffer: list[DataFrame] = []
        self._signals: list[str] = []
        # stream cursor scratch state; the engine replaces this with the
        # node's durable State via _exec_ctx at bind time
        self._stream_state: dict[str, Any] = {}
        self._exec_ctx = None
        # bind-at-declaration: if a node execution is active, wire this
        # port to its store now (SURVEY §3.3 declaration/bind phases)
        from basis_devkit_spark.engine import context as _ctx

        active = _ctx.current()
        if active is not None:
            active.register_table(self)

    # ---------------- binding ----------------
    def bind(self, store: TableStore, spark: SparkSession) -> None:
        self._store = store
        self._spark = spark

    @property
    def is_connected(self) -> bool:
        """False for ports not wired in graph.yml (node.py:232-238)."""
        return self._store is not None

    def _require_store(self) -> TableStore:
        if self._store is None:
            raise RuntimeError(
                f"Table port '{self.name}' is not connected to a store"
            )
        return self._store

    # ---------------- metadata (A12) ----------------
    @property
    def sql_name(self) -> str:
        """Name usable in a SQL statement (node.py:240-247); we register the
        active version as a temp view under this name."""
        return self.name

    def __str__(self) -> str:
        return self.sql_name

    @property
    def schema(self):
        return self._require_store().schema

    @property
    def record_count(self) -> int | None:
        store = self._require_store()
        n = store.record_count
        if n is None and store.exists:
            n = store.read().count()
        return n

    @property
    def exists(self) -> bool:
        return self._require_store().exists

    # ---------------- versioning (A9) ----------------
    def history(self) -> list[dict]:
        """Version history, newest first (DESCRIBE HISTORY analogue) —
        bounded metadata records, no data-file reads."""
        return self._require_store().history()

    def read_at(self, timestamp: float):
        """Time-travel read AS OF TIMESTAMP (unix seconds): the newest
        version committed at or before that time."""
        return self._require_store().read_at(timestamp)

    def delete_where(self, condition: str) -> int:
        """Managed DELETE (copy-on-write, new version); returns rows
        deleted."""
        n = self._require_store().delete_where(condition)
        self._signals.append("update")
        return n

    def update_where(self, assignments: dict, condition: str) -> int:
        """Managed UPDATE (copy-on-write, new version); returns rows
        updated."""
        n = self._require_store().update_where(assignments, condition)
        self._signals.append("update")
        return n

    def get_active_version(self) -> TableVersion | None:
        store = self._require_store()
        v = store.get_active_version()
        return TableVersion(self, v) if v is not None else None

    def has_active_version(self) -> bool:
        return self._require_store().has_active_version()

    def create_new_version(self) -> TableVersion:
        return TableVersion(self, self._require_store().create_new_version())

    def set_active_version(self, tv: TableVersion) -> None:
        self._require_store().set_active_version(tv.version)
        self._signals.append("update")

    def reset(self) -> None:
        """Fresh null version; existing data retained for GC (node.py:399-405)."""
        self.flush()
        self._require_store().reset()
        self._signals.append("reset")

    # ---------------- init (node.py:269-297) ----------------
    def init(
        self,
        schema: dict[str, str] | str | None = None,
        schema_hints: dict[str, str] | None = None,
        unique_on: str | list[str] | None = None,
        add_created: str | bool | None = None,
        add_monotonic_id: str | bool | None = None,
        auto_indexes: bool = True,  # no-op on Spark (no indexes); kept for parity
        partition_by: str | list[str] | None = None,  # engine extension: scale
        stats_columns: str | list[str] | None = None,  # file-skipping stats
        cluster_by: str | list[str] | None = None,  # range-clustered writes
        compact_after: int | None = None,  # auto-compact lineage bound
        expectations: dict[str, str] | None = None,  # write-time constraints
        expectations_mode: str | None = None,  # record | fail | drop
    ) -> None:
        hints = dict(schema_hints or {})
        if isinstance(schema, dict):
            hints.update(schema)
        self._require_store().configure(
            schema_hints=hints or None,
            unique_on=unique_on,
            add_created=("created" if add_created is True else add_created) or None,
            add_monotonic_id=("id" if add_monotonic_id is True else add_monotonic_id)
            or None,
            partition_by=partition_by,
            stats_columns=stats_columns,
            cluster_by=cluster_by,
            compact_after=compact_after,
            expectations=expectations,
            expectations_mode=expectations_mode,
        )

    # ---------------- reads (A1-A3) ----------------
    def read_dataframe(self, chunksize: int | None = None):
        """Spark DataFrame over the active version (lazy; pushdown-friendly).

        With ``chunksize``: iterator of pandas chunks (Arrow batches) — the
        scale-safe way to move data driver-side (node.py:156-166).
        """
        self.flush()
        df = self._require_store().read()
        if chunksize is None:
            return df
        return _pandas_chunks(df, chunksize)

    def read_where(self, filters: list[tuple[str, str, Any]]):
        """Filtered read with file-level data skipping: identical rows to
        ``read_dataframe().filter(...)`` but files whose footer min/max
        stats prove no match are dropped before Spark lists them (see
        ``TableStore.read_pruned``). Streams use this for cursor reads."""
        self.flush()
        return self._require_store().read_pruned(filters)

    def read(
        self, as_format: str = "records", chunksize: int | None = None
    ) -> Any:
        """node.py:141-154. 'records' → list[dict] (driver-side, gated);
        'dataframe' → pandas DataFrame for parity with the reference API.
        Use ``read_dataframe()`` for the distributed handle."""
        self.flush()
        df = self._require_store().read()
        if chunksize is not None:
            chunks = _pandas_chunks(df, chunksize)
            if as_format == "records":
                return (c.to_dict("records") for c in chunks)
            return chunks
        n = self.record_count or 0
        if n > _RECORDS_COLLECT_LIMIT:
            raise MemoryError(
                f"refusing to collect {n} rows to the driver; pass chunksize "
                "or use read_dataframe()"
            )
        pdf = df.toPandas()
        return pdf.to_dict("records") if as_format == "records" else pdf

    def _sql_over_view(self, sql: str) -> DataFrame:
        """Run ``sql`` with the active version bound as a temp view under
        ``sql_name``. When the WHERE clause carries provably-conjunctive
        predicates on stats columns, the view binds over ``read_pruned`` —
        footer-stats file skipping BEFORE Spark lists the lineage — instead
        of the full file list (Catalyst row-group pruning still applies
        either way; this removes whole files from the plan)."""
        store = self._require_store()
        filters = _prunable_filters(
            sql, self.sql_name, store._manifest.stats_columns or []
        )
        bound = store.read_pruned(filters) if filters else store.read()
        return sql_over_views(self._spark, {self.sql_name: bound}, sql)

    def read_sql(
        self, sql: str, as_format: str = "records", chunksize: int | None = None
    ) -> Any:
        """Run a SQL select; this table interpolates via str(self)
        (node.py:168-189). Registers the active version as a temp view
        (stats-pruned when the WHERE allows — see ``_sql_over_view``)."""
        self.flush()
        df = self._sql_over_view(sql)
        if as_format == "dataframe" and chunksize is None:
            return df.toPandas()
        if chunksize is not None:
            chunks = _pandas_chunks(df, chunksize)
            if as_format == "records":
                return (c.to_dict("records") for c in chunks)
            return chunks
        return df.toPandas().to_dict("records")

    def read_sql_dataframe(self, sql: str) -> DataFrame:
        """Spark-native variant: lazy DataFrame result (stats-pruned view
        binding, same as ``read_sql``)."""
        self.flush()
        return self._sql_over_view(sql)

    # ---------------- writes (A4-A8, buffered per node.py:305-307) ----------------
    def _to_df(self, records: WriteInput) -> DataFrame:
        spark = self._spark
        if isinstance(records, DataFrame):
            return records
        if isinstance(records, pd.DataFrame):
            return spark.createDataFrame(records)
        if isinstance(records, dict):
            records = [records]
        if isinstance(records, list):
            if not records:
                return None
            return spark.createDataFrame(pd.DataFrame.from_records(records))
        raise TypeError(f"unsupported records type {type(records)}")

    def append(self, records: WriteInput) -> None:
        """Buffered append (node.py:299-316); committed at flush()."""
        self._require_store()
        df = self._to_df(records)
        if df is not None:
            self._write_buffer.append(df)

    def flush(self) -> None:
        """Force buffered writes to storage (node.py:407-414): union all
        buffered batches → one distributed write."""
        if not self._write_buffer:
            return
        batches = self._write_buffer
        self._write_buffer = []
        df = batches[0]
        for b in batches[1:]:
            df = df.unionByName(b, allowMissingColumns=True)
        store = self._require_store()
        created = not store.exists
        store.append(df)
        self._signals.append("create" if created else "update")

    def upsert(self, records: WriteInput) -> None:
        """Insert-or-update on unique_on (node.py:318-334). Not buffered:
        each upsert is a merge commit."""
        self.flush()
        df = self._to_df(records)
        if df is None:
            return
        store = self._require_store()
        created = not store.exists
        store.upsert(df)
        self._signals.append("create" if created else "update")

    def replace(self, records: WriteInput) -> None:
        """reset + append → fresh version with exactly these rows
        (node.py:336-345)."""
        self._write_buffer = []
        df = self._to_df(records)
        store = self._require_store()
        if df is None:
            store.truncate()
        else:
            store.write_replace(df)
        self._signals.append("update")

    def truncate(self) -> None:
        """Destructive delete-all-rows keep-schema (node.py:347-354)."""
        self._write_buffer = []
        self._require_store().truncate()
        self._signals.append("update")

    def execute_sql(self, sql: str) -> None:
        """Any statement creating/inserting/altering THIS table
        (node.py:356-373). We support `CREATE TABLE <self> AS <select>` and
        `INSERT INTO <self> <select>` shapes rendered against temp views."""
        import re

        self.flush()
        spark = self._spark
        store = self._require_store()
        m_create = re.match(
            rf"\s*create\s+(?:or\s+replace\s+)?table\s+{re.escape(self.sql_name)}\s+as\s+(.*)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        m_insert = re.match(
            rf"\s*insert\s+into\s+{re.escape(self.sql_name)}\s+(.*)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        m = m_create or m_insert
        views = {self.sql_name: store.read()} if store.exists else {}
        df = sql_over_views(spark, views, m.group(1) if m else sql)
        if m_create:
            store.write_replace(df)
            self._signals.append("create")
        elif m_insert:
            store.append(df)
            self._signals.append("update")
        else:
            self._signals.append("update")

    # ---------------- signals (A10) ----------------
    def signal_create(self) -> None:
        self._signals.append("create")

    def signal_update(self) -> None:
        self._signals.append("update")

    def signal_reset(self) -> None:
        self._signals.append("reset")

    def consume_signals(self) -> list[str]:
        s, self._signals = self._signals, []
        return s

    # ---------------- streams ----------------
    def as_stream(self, order_by: str | None = None, starting_value: Any = None):
        """Stateful exactly-once cursor view (node.py:191-214). Default
        ordering: schema strictly-monotonic role, else created role, else
        error."""
        from basis_devkit_spark.node.stream import Stream

        store = self._require_store()
        order_by = order_by or store.ordering_field
        if order_by is None:
            raise ValueError(
                f"table '{self.name}' has no default ordering; pass order_by="
            )
        stream = Stream(self, order_by, starting_value)
        # Register with the execution context so the engine checkpoints the
        # cursor automatically after outputs commit (exactly-once ordering,
        # node.py:43-47) — node code does not have to call checkpoint().
        ctx = getattr(self, "_exec_ctx", None)
        if ctx is not None:
            ctx.register_stream(stream)
        return stream


def _pandas_chunks(df: DataFrame, chunksize: int) -> Iterator[pd.DataFrame]:
    """Arrow-batched driver-side iteration without materializing the whole
    dataset (node.py:145,152 chunksize semantics)."""
    buf: list = []
    n = 0
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row.asDict(recursive=True))
        n += 1
        if n >= chunksize:
            yield pd.DataFrame.from_records(buf)
            buf, n = [], 0
    if buf:
        yield pd.DataFrame.from_records(buf)
