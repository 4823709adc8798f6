"""Engine — loads a graph and executes its nodes on Spark.

Replaces the reference's server side (opaque in the devkit): node
execution protocol per SURVEY §3.3, signal-driven DAG scheduling per
`node.py:387-397`, cron triggers per `trigger:` fields.

Node kinds:
- **SQL node** (`.sql` file): Jinja-rendered (``{{ table }}`` → temp view
  name, ``{{ param }}`` → SQL literal), run via ``spark.sql``, result
  committed as a new version of the node's single output store
  (`create.py:239-244` template semantics).
- **Python node** (`.py` file): module executed with an active
  ExecutionContext so module-level ``Table/Parameter/State`` declarations
  bind live (class-style SDK, the documented contract).
- **Webhook**: an ingestion port — ``engine.webhook_receive(name, payload)``
  appends the payload to the webhook's auto-created table
  (`create.py:177-197`).
- **Component** (`uses:`): resolved from a local registry of Python
  factory functions (inline expansion at parse time is handled for
  subgraph files; components resolve to callables registered via
  ``engine.register_component``).
"""

from __future__ import annotations

import os
import re
import runpy
import threading
import time
from collections import defaultdict, deque
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from datetime import datetime
from typing import Any, Callable

import jinja2
from pyspark.sql import DataFrame, SparkSession

from basis_devkit_spark.engine.context import ExecutionContext
from basis_devkit_spark.engine.cron import cron_matches
from basis_devkit_spark.graph.loader import load_graph
from basis_devkit_spark.graph.spec import GraphSpec, NodeSpec
from basis_devkit_spark.session import sql_over_views
from basis_devkit_spark.storage.state import StateStore
from basis_devkit_spark.storage.store import TableStore


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


class _SqlParam(str):
    """Renders as a SQL literal in templates but still str-usable."""

    def __new__(cls, value: Any):
        return super().__new__(cls, _sql_literal(value))


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        storage_root: str,
        execution_limit_s: float = 600.0,
    ):
        self.spark = spark
        self.storage_root = storage_root
        os.makedirs(storage_root, exist_ok=True)
        self.state_store = StateStore(storage_root)
        self.execution_limit_s = execution_limit_s
        self.graph: GraphSpec | None = None
        self._stores: dict[str, TableStore] = {}
        self._stores_lock = threading.Lock()
        self._components: dict[str, Callable[..., None]] = {}
        self._run_log: list[dict[str, Any]] = []
        # HTTP request/response bridge: responses posted by node code via
        # respond_to_request, consumed by the webhook HTTP server.
        self._request_responses: dict[str, Any] = {}
        self._responses_lock = threading.Lock()

    # ---------------- graph ----------------
    def load_graph(self, path: str) -> GraphSpec:
        self.graph = load_graph(path)
        return self.graph

    def graph_store_names(self) -> set[str]:
        return self.graph.store_names() if self.graph else set()

    # ---------------- build-once artifacts ----------------
    def artifact_store_names(self) -> set[str]:
        """Stores declared ``artifact: true`` in graph.yml — build-once
        operator artifacts (merge tables, vocabularies, centroids,
        quantizer stats, codebooks, index cells)."""
        if self.graph is None:
            return set()
        return {s.name for s in self.graph.stores if s.artifact}

    def _is_fit_node(self, node) -> bool:
        """A FIT node writes ONLY artifact stores — the build-once
        producer run_graph skips once its artifacts exist. A node that
        also writes a regular table is NOT a fit node (its table output
        must stay fresh)."""
        arts = self.artifact_store_names()
        outs = set(node.outputs.values())
        return bool(outs) and outs <= arts

    def _artifacts_built(self, node) -> bool:
        return all(
            self.store(s).has_active_version()
            for s in node.outputs.values()
        )

    def artifact_usage(self) -> dict[str, list[str]]:
        """node id -> the artifact stores it READS (graph wiring, no
        plan compilation) — the inspection surface that shows which
        queries consume which build-once artifact; producers appear via
        their outputs in ``graph.yml`` itself."""
        arts = self.artifact_store_names()
        out: dict[str, list[str]] = {}
        for n in self.graph.functions if self.graph else []:
            used = sorted(set(n.inputs.values()) & arts)
            if used:
                out[n.id] = used
        return out

    # ---------------- stores ----------------
    def store(self, name: str) -> TableStore:
        """The engine's one cached handle for store ``name``. Locked: two
        concurrent nodes touching a store first must share one handle — a
        second handle would commit against a stale ``commit_seq``."""
        with self._stores_lock:
            st = self._stores.get(name)
            if st is None:
                st = self._stores[name] = self._open_store(name)
            return st

    def _open_store(self, name: str) -> TableStore:
        st = TableStore(self.storage_root, name, self.spark)
        spec = None
        if self.graph is not None:
            spec = next((s for s in self.graph.stores if s.name == name), None)
        if spec is not None:
            cfg = {
                k: getattr(spec, k)
                for k in (
                    "unique_on",
                    "partition_by",
                    "cluster_by",
                    "zorder_by",
                    "bucket_by",
                    "num_buckets",
                    "stats_columns",
                    "expectations",
                    "expectations_mode",
                    "strictly_monotonic_ordering",
                    "created_ordering",
                    "strict_schema",
                )
                if getattr(spec, k, None) is not None
            }
            if cfg:
                st.configure(**cfg)
        return st

    def seed_store(self, name: str, df: DataFrame) -> None:
        """Register external data (e.g. a testdata parquet) as the active
        version of a store."""
        self.store(name).write_replace(df)

    def table_df(self, name: str) -> DataFrame:
        return self.store(name).read()

    def run_sql(self, sql: str, tables: list[str] | None = None) -> DataFrame:
        """Arbitrary SQL over the managed catalog: registers the named
        stores (default: every store with data) as temp views and runs the
        statement — the engine-level equivalent of ``Table.read_sql``
        (node.py:168-189) across tables."""
        names = tables if tables is not None else sorted(
            set(self._stores) | self.graph_store_names()
        )
        views = {}
        for name in names:
            st = self.store(name)
            if st.exists:
                views[name] = st.read()
        return sql_over_views(self.spark, views, sql)

    def vacuum_all(self, keep_last: int = 2) -> None:
        """Retention GC over every materialized store (node.py:403-404)."""
        for st in self._stores.values():
            st.vacuum(keep_last=keep_last)

    # ---------------- components ----------------
    def register_component(self, key: str, fn: Callable[..., None]) -> None:
        """`uses: org/component@v1` → a Python callable(engine, node_spec)."""
        self._components[key] = fn

    # ---------------- node execution ----------------
    def run_node(self, node: NodeSpec | str) -> ExecutionContext:
        if isinstance(node, str):
            node = self._node_by_id_or_name(node)
        ctx = ExecutionContext(self, node)
        started = time.monotonic()
        kind = node.kind
        with ctx:
            if kind == "sql":
                self._run_sql_node(ctx, node)
            elif kind == "python":
                self._run_python_node(ctx, node)
            elif kind == "webhook":
                pass  # push-driven; nothing to do on a scheduled run
            elif kind == "component":
                fn = self._components.get(node.uses or "")
                if fn is None:
                    raise KeyError(f"component not registered: {node.uses}")
                fn(self, node)
                # components write through the engine API directly; mark
                # their declared outputs dirty for downstream propagation
                for s in node.outputs.values():
                    ctx.signals.setdefault(s, []).append("update")
            else:
                raise ValueError(f"cannot run node kind {kind}")
        ctx.commit()
        self._run_log.append(
            {
                "node": node.id,
                "kind": kind,
                "seconds": time.monotonic() - started,
                "signals": dict(ctx.signals),
            }
        )
        return ctx

    def _node_by_id_or_name(self, key: str) -> NodeSpec:
        assert self.graph is not None, "load_graph first"
        for n in self.graph.functions:
            if key in (n.id, n.node_file, n.webhook, n.title):
                return n
        raise KeyError(f"no node {key!r} in graph")

    def _node_dir(self) -> str:
        return (self.graph.path if self.graph and self.graph.path else ".")

    def _render_sql_node(self, node: NodeSpec) -> tuple[str, dict[str, DataFrame]]:
        """Render a SQL node's template against the current stores and
        parameters (secret:// refs resolved): the final SQL text and the
        input frames to bind as temp views while it runs."""
        sql_path = os.path.join(self._node_dir(), node.node_file)
        with open(sql_path) as f:
            template = f.read()
        # Each connected input store is viewed under both its port name and
        # store name; {{ port }} renders to the view name.
        tpl_ctx: dict[str, Any] = {}
        views: dict[str, DataFrame] = {}
        for port, store_name in node.inputs.items():
            st = self.store(store_name)
            if st.exists:
                views[store_name] = views[port] = st.read()
            tpl_ctx[port] = store_name
            tpl_ctx[store_name] = store_name
        for name, value in (node.parameters or {}).items():
            # secret://name refs resolve here for SQL nodes, same as the
            # Parameter bind path does for python nodes (node/params.py).
            from basis_devkit_spark.secrets import maybe_resolve_ref

            tpl_ctx[name] = _SqlParam(maybe_resolve_ref(value))
        rendered = jinja2.Template(template).render(**tpl_ctx)
        return rendered.strip().rstrip(";"), views

    def explain_node(self, key: str, mode: str = "formatted") -> dict[str, str]:
        """Rendered SQL + Spark physical plan for a SQL node — the
        plan-inspection surface (``cli explain``). Python nodes have no
        static plan; returns their file path instead."""
        node = self._node_by_id_or_name(key)
        arts = sorted(
            set(node.inputs.values()) & self.artifact_store_names()
        )
        extra = {"artifacts": ", ".join(arts)} if arts else {}
        if not (node.node_file or "").endswith(".sql"):
            return {
                "node": node.id or key,
                "kind": "python" if node.node_file else (node.kind or "other"),
                "note": "no static plan (not a SQL node)",
                **extra,
            }
        rendered, views = self._render_sql_node(node)
        df = sql_over_views(self.spark, views, rendered)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
        return {"node": node.id or key, "sql": rendered, "plan": plan, **extra}

    def _run_sql_node(self, ctx: ExecutionContext, node: NodeSpec) -> None:
        rendered, views = self._render_sql_node(node)
        result = sql_over_views(self.spark, views, rendered)
        if len(node.outputs) > 1:
            raise ValueError(
                f"SQL node '{node.display_name}' has {len(node.outputs)} outputs; "
                "a SQL node writes its SELECT result to exactly one output store"
            )
        if node.outputs:
            out_store = self.store(next(iter(node.outputs.values())))
            created = not out_store.exists
            out_store.write_replace(result)
            ctx.signals.setdefault(out_store.name, []).append(
                "create" if created else "update"
            )

    def _run_python_node(self, ctx: ExecutionContext, node: NodeSpec) -> None:
        py_path = os.path.join(self._node_dir(), node.node_file)
        # run the module with the context active: Table/Parameter/State
        # constructors bind against ctx (bind-at-declaration)
        ns = runpy.run_path(py_path, run_name=f"__node_{node.id}__")
        # decorator-style nodes: module exec only *defines* @node functions;
        # invoke each with ports injected (port name = argument name)
        from basis_devkit_spark.node.decorator import build_node_kwargs

        for obj in ns.values():
            if callable(obj) and getattr(obj, "__is_node__", False):
                obj(**build_node_kwargs(obj))

    # ---------------- webhooks (A22) ----------------
    def webhook_receive(self, webhook_name: str, payload: dict | list[dict]) -> None:
        """HTTP-ingest equivalent: append payload record(s) to the webhook's
        auto-created output table (`create.py:177-197`), then one
        ``_dataflow`` run downstream: each node with a signalled input runs
        once, after all of its producers; re-runs honour request_new_run."""
        import pandas as pd

        records = payload if isinstance(payload, list) else [payload]
        store = self.store(webhook_name)
        df = self.spark.createDataFrame(pd.DataFrame.from_records(records))
        store.append(df)
        self._dataflow(set(), {webhook_name})

    def respond_to_request(self, request_key: str, payload: Any) -> None:
        """Answer a waiting webhook request (node.py:544-553): the payload
        becomes the HTTP response body for the POST whose rows carry this
        ``patterns_request_key``. Outside an HTTP context the payload is
        just recorded (log-visible no-op, as in the devkit)."""
        self._run_log.append(
            {"respond_to_request": request_key, "payload_type": type(payload).__name__}
        )
        # Bound the buffer: responses are popped only by waiting HTTP
        # requests, so unconsumed ones (fire-and-forget posts) would
        # accumulate for the process lifetime. FIFO-evict beyond a cap.
        # Locked: concurrent nodes respond from their worker threads.
        with self._responses_lock:
            self._request_responses[request_key] = payload
            while len(self._request_responses) > 1000:
                self._request_responses.pop(next(iter(self._request_responses)))

    def take_request_response(self, request_key: str) -> Any | None:
        """Pop the response recorded for ``request_key`` (webhook server
        hook); None if no node responded during propagation."""
        with self._responses_lock:
            return self._request_responses.pop(request_key, None)

    # ---------------- DAG scheduling (A10, A19, A23) ----------------
    def _store_edges(
        self,
    ) -> tuple[dict[str, NodeSpec], dict[str, int], dict[str, list[NodeSpec]]]:
        """Producer -> consumer edges over store wiring: (nodes by id,
        in-degree per node id, consumers per producer id)."""
        assert self.graph is not None
        producers: dict[str, list[NodeSpec]] = defaultdict(list)
        for n in self.graph.functions:
            for s in n.outputs.values():
                producers[s].append(n)
            if n.webhook:
                producers[n.webhook].append(n)
        indeg: dict[str, int] = {}
        edges: dict[str, list[NodeSpec]] = defaultdict(list)
        for n in self.graph.functions:
            indeg.setdefault(n.id, 0)
            for s in n.inputs.values():
                for p in producers.get(s, []):
                    if p.id != n.id:
                        edges[p.id].append(n)
                        indeg[n.id] = indeg.get(n.id, 0) + 1
        return {n.id: n for n in self.graph.functions}, indeg, edges

    def topo_order(self) -> list[NodeSpec]:
        """Topological order of function nodes via store wiring."""
        by_id, indeg, edges = self._store_edges()
        q = deque(sorted((nid for nid, d in indeg.items() if d == 0)))
        out: list[NodeSpec] = []
        while q:
            nid = q.popleft()
            out.append(by_id[nid])
            for m in edges[nid]:
                indeg[m.id] -= 1
                if indeg[m.id] == 0:
                    q.append(m.id)
        if len(out) != len(by_id):
            # cycle: fall back to declaration order for the remainder
            done = {n.id for n in out}
            out.extend(n for n in self.graph.functions if n.id not in done)
        return out

    def _dataflow(
        self,
        roots: set[str] | None,
        signalled: set[str],
        max_reruns: int = 10,
        parallelism: int | None = None,
    ) -> None:
        """The one scheduler, behind ``run_graph``, ``webhook_receive``,
        ``trigger`` and ``tick``. ``roots=None`` is a full pass: every
        non-webhook node runs, except fit nodes whose artifacts are built.
        Otherwise only the ``roots`` (node ids) and what is downstream of
        them or of the ``signalled`` stores: a root always runs, any other
        node only if an input was signalled by the seed or by a node that
        finished before it (node.py:387-397).

        A node is submitted once every earlier node in ``topo_order()``
        that CONFLICTS with it (shares a store, one of them writing it)
        has finished. That one rule runs a consumer once, after all of its
        producers, serializes writers of a store (manifest commits are
        read-modify-write) and keeps a cycle's read/write order, so a graph
        whose nodes declare their I/O gets the result of a sequential run.
        NOT ordered: writes to undeclared stores (a ``Table`` bound by the
        port-name fallback of ``ExecutionContext.register_table``, a
        component writing through the engine API) and state shared outside
        the engine (module globals, files) — declare such I/O in
        ``graph.yml`` (``run_graph`` also takes ``parallelism=1``). Up to
        ``parallelism`` nodes (default: ``defaultParallelism``) run at once
        on driver threads. ``request_new_run`` re-runs follow the pass, at
        most ``max_reruns`` per node. The first node failure stops new
        submissions; running nodes finish (commits stand), then it raises."""
        assert self.graph is not None, "load_graph first"
        sc = self.spark.sparkContext
        if parallelism is None:
            parallelism = sc.defaultParallelism
        parallelism = max(1, parallelism)
        caller_props = sc._jsc.sc().getLocalProperties()

        def _run(node: NodeSpec) -> ExecutionContext:
            # worker threads start without Spark local properties: carry
            # the caller's (job group, scheduler pool) as a direct call would
            sc._jsc.sc().setLocalProperties(caller_props.clone())
            return self.run_node(node)

        reruns: dict[str, int] = defaultdict(int)
        rerun_queue: deque[NodeSpec] = deque()

        def _after(node: NodeSpec, ctx) -> None:
            if ctx.new_run_requested and reruns[node.id] < max_reruns:
                reruns[node.id] += 1
                rerun_queue.append(node)

        def _skip(node: NodeSpec) -> bool:
            if roots is not None:
                return node.id not in roots and signalled.isdisjoint(node.inputs.values())
            # build-once artifact producer with all artifacts present:
            # skipped — the refit-free run never rescans raw history.
            # Refit paths: explicit run_node()/trigger(), or a streaming
            # maintainer (c21-style) keeping the artifact fresh.
            if self._is_fit_node(node) and self._artifacts_built(node):
                self._run_log.append(
                    {
                        "node": node.id,
                        "kind": node.kind,
                        "seconds": 0.0,
                        "signals": {},
                        "skipped": "artifact built",
                    }
                )
                return True
            return False

        if roots is None:
            order = [n for n in self.topo_order() if n.kind != "webhook"]
        else:
            # static reach: roots and readers of stores the seed reaches
            order, reach = [], set(signalled)
            for n in self.topo_order():
                if n.id in roots or reach & set(n.inputs.values()):
                    order.append(n)
                    reach.update(n.outputs.values())
        io = [(set(n.inputs.values()), set(n.outputs.values())) for n in order]
        # each node with the earlier nodes it conflicts with
        waiting = [
            (
                n,
                {
                    order[j].id
                    for j in range(i)
                    if writes & (io[j][0] | io[j][1]) or reads & io[j][1]
                },
            )
            for i, (n, (reads, writes)) in enumerate(zip(order, io))
        ]
        finished: set[str] = set()
        running: dict[Any, NodeSpec] = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            while True:
                # submit ready nodes in topo order while workers are free;
                # a skipped node finishes at once and may unblock more
                i = 0
                while error is None and i < len(waiting) and len(running) < parallelism:
                    node, deps = waiting[i]
                    if not deps <= finished:
                        i += 1
                        continue
                    del waiting[i]
                    if _skip(node):
                        finished.add(node.id)
                    else:
                        running[pool.submit(_run, node)] = node
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    node = running.pop(fut)
                    try:
                        ctx = fut.result()
                    except BaseException as exc:  # re-raised once running nodes finish
                        error = error or exc
                        continue
                    finished.add(node.id)
                    signalled.update(s for s, sigs in ctx.signals.items() if sigs)
                    _after(node, ctx)
        if error is not None:
            raise error
        while rerun_queue:
            node = rerun_queue.popleft()
            _after(node, self.run_node(node))

    def run_graph(
        self, max_reruns: int = 10, parallelism: int | None = None
    ) -> list[dict[str, Any]]:
        """One full batch pass (``_dataflow``): every node once, up to
        ``parallelism`` at a time (``1``: one by one), plus at most
        ``max_reruns`` request_new_run re-runs per node."""
        self._dataflow(None, set(), max_reruns, parallelism)
        return self._run_log

    def trigger(self, node_key: str) -> None:
        """Manual trigger (`patterns trigger` equivalent): one dataflow run
        rooted at the node, which always runs (a built fit node too); each
        downstream node with a signalled input runs once, after all of its
        producers; re-runs honour ``request_new_run``."""
        self._dataflow({self._node_by_id_or_name(node_key).id}, set())

    def due_nodes(self, at: datetime) -> list[NodeSpec]:
        """Nodes whose cron `trigger:` matches the given minute (A23)."""
        assert self.graph is not None
        return [
            n
            for n in self.graph.functions
            if n.trigger and cron_matches(n.trigger, at)
        ]

    def tick(self, at: datetime | None = None) -> list[str]:
        """One scheduler tick: ONE dataflow run rooted at every cron-due
        node, so a consumer shared by due nodes runs once, after all of
        them; re-runs honour ``request_new_run``. Returns the due ids."""
        ran = [n.id for n in self.due_nodes(at or datetime.now())]
        self._dataflow(set(ran), set())
        return ran

    def run_scheduler(
        self,
        poll_seconds: float = 30.0,
        max_ticks: int | None = None,
        now_fn: Callable[[], datetime] | None = None,
    ) -> int:
        """Cron scheduler loop (A23): evaluate every node's ``trigger:``
        each minute boundary, run due nodes + propagate. ``max_ticks``
        bounds the loop (None = run until interrupted); ``now_fn`` is
        injectable for tests. Returns total nodes run."""
        now_fn = now_fn or datetime.now
        ran_total = 0
        ticks = 0
        last_minute: str | None = None
        while max_ticks is None or ticks < max_ticks:
            now = now_fn()
            minute = now.strftime("%Y-%m-%dT%H:%M")
            if minute != last_minute:
                last_minute = minute
                ran_total += len(self.tick(now))
                ticks += 1
            if max_ticks is not None and ticks >= max_ticks:
                break
            time.sleep(poll_seconds)
        return ran_total

    @property
    def run_log(self) -> list[dict[str, Any]]:
        return self._run_log
