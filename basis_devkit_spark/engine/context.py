"""Execution context: binds SDK objects declared in node code to live
stores at construction time.

The reference's node protocol (SURVEY §3.3): a node module declares
``Table("name", "r")`` / ``Parameter(...)`` / ``State()`` at module level
and then uses them directly. In our engine, the engine pushes a context
before importing/exec-ing the node module; each SDK constructor registers
itself with the active context and is bound immediately (ports wired per
graph.yml ``inputs:``/``outputs:``; unconnected → inert dummy,
node.py:232-238).
"""

from __future__ import annotations

import threading
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    from basis_devkit_spark.engine.engine import Engine
    from basis_devkit_spark.graph.spec import NodeSpec
    from basis_devkit_spark.node.table import Table
    from basis_devkit_spark.node.state import State

_local = threading.local()


def current() -> "ExecutionContext | None":
    return getattr(_local, "ctx", None)


class ExecutionContext:
    def __init__(self, engine: "Engine", node: "NodeSpec"):
        self.engine = engine
        self.node = node
        self.tables: list[Table] = []
        self.states: list[State] = []
        self.streams: list[Any] = []
        self.state_dict: dict[str, Any] = engine.state_store.load(node.id or "")
        self.signals: dict[str, list[str]] = {}

    # ---------------- context stack ----------------
    def __enter__(self) -> "ExecutionContext":
        _local.ctx = self
        return self

    def __exit__(self, *exc) -> None:
        _local.ctx = None

    # ---------------- SDK registration ----------------
    def register_table(self, table: "Table") -> None:
        self.tables.append(table)
        node = self.node
        port = table.name
        store_name = None
        if "r" in table.mode and port in node.inputs:
            store_name = node.inputs[port]
        if "w" in table.mode and port in node.outputs:
            store_name = node.outputs[port]
        # fall back: a port named identically to a store binds directly
        if store_name is None and port in self.engine.graph_store_names():
            store_name = port
        if store_name is not None:
            table.bind(self.engine.store(store_name), self.engine.spark)
        table._exec_ctx = self

    def register_stream(self, stream: Any) -> None:
        self.streams.append(stream)

    def register_state(self, state: "State") -> None:
        self.states.append(state)
        state.bind(
            self.state_dict,
            limit_s=self.engine.execution_limit_s,
            persist_cb=self.persist_state,
        )

    def resolve_parameter(self, param) -> None:
        values = self.node.parameters or {}
        if param.name in values:
            param.bind(values[param.name])
        elif param.name is None and param.required:
            # anonymous declaration (decorator-style default template):
            # defer — the executor re-declares it under the arg name
            return
        else:
            param.bind()

    # ---------------- commit (SURVEY §3.3 step 5) ----------------
    def persist_state(self) -> None:
        self.engine.state_store.save(self.node.id or "", self.state_dict)

    def commit(self) -> None:
        """Flush table buffers, then persist state/cursors — outputs commit
        before cursors advance (exactly-once ordering, node.py:43-47).

        Streams opened via ``Table.as_stream`` are committed here by the
        engine: a node that consumed records makes its progress durable
        automatically once its outputs have flushed — without this, every
        run would silently reprocess all records unless node code remembered
        to call ``checkpoint()`` itself. Each stream only sets its cursor
        in ``state_dict``; the state file is written once, after all of
        them."""
        for t in self.tables:
            if t.is_connected and "w" in t.mode:
                t.flush()
        for s in self.streams:
            s.commit()
        self.persist_state()
        for t in self.tables:
            # key signals by STORE name (ports are node-local; downstream
            # wiring references stores)
            target = t._store.name if t._store is not None else t.name
            self.signals.setdefault(target, []).extend(t.consume_signals())

    @property
    def new_run_requested(self) -> dict | None:
        for s in self.states:
            if s.new_run_requested:
                return s.new_run_requested
        return None
