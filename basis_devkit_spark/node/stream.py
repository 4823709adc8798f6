"""Stream — stateful, exactly-once cursor view of a Table.

Behavioral spec: `/root/reference/patterns/node/node.py:18-81`:
- records yielded in ``order_by`` order, each exactly once
- "when a record is yielded it is marked as consumed" — in-memory cursor
  advance; durable only at checkpoint()/commit
- ``rollback()`` discards progress since last checkpoint (node.py:54-63)
- ``rewind()`` to beginning; ``seek(v)`` → **strictly greater than** v
  (node.py:65-76)

Spark realization (SURVEY §2.C): incremental batch — a pushdown-friendly
``filter(col(order_by) > cursor)`` over the table's active version. The
cursor lives in the node's State and is persisted only after the node's
outputs commit (exactly-once ordering, node.py:43-47). At scale, partition
the store by a prefix of the ordering field so the cursor read prunes files.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from basis_devkit_spark.node.table import Table


class Stream:
    def __init__(self, table: "Table", order_by: str, starting_value: Any = None):
        self.table = table
        self.order_by = order_by
        self._cursor_key = f"__stream_cursor__{table.name}__{order_by}"
        state = table._store and _node_state(table)
        persisted = state.get(self._cursor_key) if state else None
        self._committed: Any = persisted if persisted is not None else starting_value
        self._position: Any = self._committed

    # ---------------- consumption (A13) ----------------
    def read_dataframe(self) -> DataFrame:
        """Unconsumed records as a lazy DataFrame, ordered. The filter is
        strictly-greater-than (seek semantics node.py:74-75) and pushes down
        to the parquet scan."""
        if self._position is None:
            df = self.table.read_dataframe()
        else:
            # File-skipping read: footer min/max stats on the ordering
            # field drop already-consumed files entirely (the filter is
            # also applied and still pushes down into surviving scans).
            df = self.table.read_where([(self.order_by, ">", self._position)])
        return df.orderBy(self.order_by)

    def consume_records(self, with_metadata: bool = False) -> Iterator[dict]:
        """Yield each unconsumed record once, in order (node.py:40-52).
        Cursor advances as records are yielded (consumed-on-yield)."""
        df = self.read_dataframe()
        for row in df.toLocalIterator(prefetchPartitions=True):
            rec = row.asDict(recursive=True)
            self._position = rec[self.order_by]
            if with_metadata:
                yield {"record": rec, self.order_by: self._position}
            else:
                yield rec

    def __iter__(self) -> Iterator[dict]:
        return self.consume_records()

    def consume_dataframe(self) -> DataFrame:
        """Batch-consume: return all unconsumed records as a DataFrame and
        advance the in-memory cursor to their max (distributed-friendly
        alternative to the record iterator)."""
        df = self.read_dataframe()
        mx = df.agg(F.max(self.order_by).alias("m")).collect()[0]["m"]
        if mx is not None:
            self._position = mx
        return df

    @property
    def order_by_field(self) -> str:
        """The field records are ordered by (node.py:78-81)."""
        return self.order_by

    # ---------------- progress control (A14, A15) ----------------
    def checkpoint(self) -> None:
        """Persist consumption progress now (node.py:54-58)."""
        self.commit()
        _persist_state(self.table)

    def rollback(self) -> None:
        """Roll back to last checkpoint (node.py:60-63)."""
        self._position = self._committed

    def rewind(self) -> None:
        """Back to the beginning (node.py:65-68)."""
        self._position = None

    def seek(self, value: Any) -> None:
        """Next read starts strictly greater than ``value`` (node.py:70-76)."""
        self._position = value

    def commit(self) -> None:
        """Engine hook: called after the node's outputs commit — sets the
        consumed-on-yield cursor in the node's state, which the engine then
        persists once for all of the node's streams (exactly-once,
        node.py:43-47)."""
        self._committed = self._position
        _node_state(self.table)[self._cursor_key] = _to_jsonable(self._committed)


def _node_state(table: "Table") -> dict:
    ctx = table._exec_ctx
    return ctx.state_dict if ctx is not None else table._stream_state


def _persist_state(table: "Table") -> None:
    if table._exec_ctx is not None:
        table._exec_ctx.persist_state()


def _to_jsonable(v: Any) -> Any:
    from datetime import date, datetime

    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v
