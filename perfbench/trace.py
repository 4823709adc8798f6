"""Span recorder for the traced run.

At runtime it wraps the public entry points of each layer of
``basis_devkit_spark`` (``session``, ``graph``, ``engine``, ``node``,
``storage``, ``operators``) so every call records a span: name, start,
end, parent. While a span is open, the Spark jobs it triggers carry the
span's job group, so the stage metrics Spark's status store keeps (read
from the driver's UI REST endpoint, localhost only) can be charged to the
innermost span. Spans stay in memory; ``dump`` writes them out at the end.

A layer's self time is its span's duration minus the time its child spans
cover. Because Spark is lazy, an operator's span measures plan building
only; the data work shows up in whatever action forces it, mostly storage
writes and ``Table.read_sql``.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from collections import defaultdict
from typing import Any, Callable
from urllib.parse import urlparse

LAYERS = ("session", "graph", "engine", "node", "storage", "operators")
SPARK_STATS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "shuffle_write_bytes",
    "input_bytes",
)


class Span:
    __slots__ = ("id", "parent", "name", "phase", "start", "end", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str, phase: str):
        self.id = sid
        self.parent = parent
        self.name = name
        self.phase = phase
        self.start = time.perf_counter()
        self.end = self.start
        self.attrs: dict[str, Any] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "phase": self.phase,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class SpanRecorder:
    """Records spans while ``enabled``; a disabled recorder's wrappers call
    straight through, so the untraced phase of a traced run pays one
    attribute check per call."""

    def __init__(self) -> None:
        self.enabled = False
        self.phase = "setup"
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []

    # ---------------- spans ----------------
    def _spark_context(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, span: Span | None) -> None:
        sc = self._spark_context()
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"bds-{span.id}", span.name)

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, name, self.phase)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        # spans nest strictly (one thread), so the top is this span
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    # ---------------- runtime wrapping ----------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_exit: Callable[[Span, tuple, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_exit(span, args, result)`` may attach attributes."""
        original = getattr(owner, attr)
        rec = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            span = rec.open(name)
            if span is None:
                return original(*args, **kwargs)
            try:
                result = original(*args, **kwargs)
            finally:
                rec.close(span)
            if on_exit is not None:
                on_exit(span, args, result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ---------------- aggregation ----------------
    def measured(self) -> list[Span]:
        return [s for s in self.spans if s.phase == "measure"]

    @staticmethod
    def self_times(spans: list[Span]) -> dict[int, float]:
        own = {s.id: s.seconds for s in spans}
        for s in spans:
            if s.parent in own:
                own[s.parent] -= s.seconds
        return own

    def by_name(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        own = self.self_times(spans)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for s in spans:
            agg = out[s.name]
            agg["calls"] += 1
            agg["total_s"] += s.seconds
            agg["self_s"] += own[s.id]
        return out

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.to_json() for s in self.spans]}, f)


class _SpanCtx:
    def __init__(self, rec: SpanRecorder, name: str):
        self.rec = rec
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.rec.open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.rec.close(self.span)


def install_layer_spans(rec: SpanRecorder) -> None:
    """Wrap the public functions each layer metric is built from."""
    import basis_devkit_spark as bds
    from basis_devkit_spark import session
    from basis_devkit_spark.engine import engine as engine_mod
    from basis_devkit_spark.graph import loader
    from basis_devkit_spark.node.stream import Stream
    from basis_devkit_spark.node.table import Table
    from basis_devkit_spark.operators import events as ops_events
    from basis_devkit_spark.operators import timeseries as ops_ts
    from basis_devkit_spark.storage.store import TableStore

    rec.wrap(session, "get_spark", "session.get_spark")
    rec.wrap(bds, "get_spark", "session.get_spark")
    rec.wrap(loader, "load_graph", "graph.load_graph")
    # Engine.load_graph calls the name it imported into its own module
    rec.wrap(engine_mod, "load_graph", "graph.load_graph")

    Engine = engine_mod.Engine
    for fn in ("run_graph", "run_node", "webhook_receive"):
        rec.wrap(Engine, fn, f"engine.{fn}")

    for fn in ("read_sql", "read_dataframe", "append", "flush", "upsert", "replace"):
        rec.wrap(Table, fn, f"node.Table.{fn}")
    rec.wrap(Stream, "consume_dataframe", "node.Stream.consume_dataframe")

    def lineage(span: Span, args: tuple, _result: Any) -> None:
        store = args[0]
        v = store.get_active_version()
        if v is not None:
            span.attrs["lineage_dirs"] = len(store._version_dirs(v))
            span.attrs["store"] = store.name

    def pruned(span: Span, _args: tuple, result: Any) -> None:
        kept, total = result
        span.attrs["files_kept"] = sum(len(v) for v in kept.values())
        span.attrs["files_total"] = total

    rec.wrap(TableStore, "read", "storage.read", lineage)
    rec.wrap(TableStore, "read_pruned", "storage.read_pruned", lineage)
    rec.wrap(TableStore, "prune_files", "storage.prune_files", pruned)
    for fn in ("append", "upsert", "write_replace", "set_active_version"):
        rec.wrap(TableStore, fn, f"storage.{fn}")

    for fn in ("session_stats", "funnel", "dau_wau_stickiness"):
        rec.wrap(ops_events, fn, f"operators.events.{fn}")
    rec.wrap(ops_ts, "zscore_anomalies", "operators.timeseries.zscore_anomalies")


# ---------------- Spark status store (UI REST) ----------------
def _get_json(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def spark_stage_metrics(rec: SpanRecorder, sc, settle_s: float = 10.0) -> dict[str, dict[str, float]]:
    """Per-layer sums of Spark job/stage/task metrics for the measured
    spans, keyed ``layer -> stat``, plus ``"all"``. Jobs are attributed to
    the innermost open span through their job group; jobs outside any
    measured span are ignored. Reads only the driver's own UI endpoint and
    refuses any host other than localhost."""
    base = sc.uiWebUrl
    if not base or urlparse(base).hostname not in ("localhost", "127.0.0.1"):
        raise RuntimeError(f"Spark UI not on localhost: {base!r}")
    api = f"{base}/api/v1/applications/{sc.applicationId}"
    # the status store is fed asynchronously by the listener bus: wait
    # until no job is still running
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _get_json(f"{api}/jobs")
        if not any(j["status"] == "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _get_json(f"{api}/stages")
        if s["status"] in ("COMPLETE", "FAILED")
    }
    attempts: dict[int, list[dict]] = defaultdict(list)
    for (sid, _a), s in stages.items():
        attempts[sid].append(s)

    spans = {s.id: s for s in rec.measured()}
    # jobs of the benchmark's own spans (output checks) are not charged
    layer_of = {
        f"bds-{i}": s.name.split(".", 1)[0]
        for i, s in spans.items()
        if not s.name.startswith("bench.")
    }
    out: dict[str, dict[str, float]] = {
        k: dict.fromkeys(SPARK_STATS, 0.0) for k in (*LAYERS, "all")
    }
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        layer = layer_of.get(job.get("jobGroup", ""))
        if layer is None:
            continue
        rows = [out[layer], out["all"]]
        for row in rows:
            row["jobs"] += 1
        for sid in job.get("stageIds", []):
            if sid in seen or sid not in attempts:
                continue  # skipped (reused shuffle) or charged to an earlier job
            seen.add(sid)
            for s in attempts[sid]:
                for row in rows:
                    row["stages"] += 1
                    row["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    row["tasks_failed"] += s.get("numFailedTasks", 0)
                    row["executor_run_s"] += s.get("executorRunTime", 0) / 1000.0
                    row["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                    row["input_bytes"] += s.get("inputBytes", 0)
    return out
