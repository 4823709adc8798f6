"""Per-layer metrics of the traced run: one more measured stretch with every
layer's spans on, summarised as ``<layer>.<function>.<stat>``."""

from __future__ import annotations

import os
import statistics
from typing import Any

from perfbench.trace import SpanRecorder, spark_stage_metrics
from perfbench.workloads import Phase, Workload, measure

TIMED = (
    "engine.run_graph",
    "engine.run_node",
    "engine.webhook_receive",
    "node.Table.read_sql",
    "node.Table.read_dataframe",
    "node.Table.append",
    "node.Table.flush",
    "node.Table.upsert",
    "node.Table.replace",
    "node.Stream.consume_dataframe",
    "storage.read",
    "storage.read_pruned",
    "storage.append",
    "storage.upsert",
    "storage.write_replace",
    "storage.set_active_version",
)
OPERATORS = (
    "operators.events.session_stats",
    "operators.events.funnel",
    "operators.events.dau_wau_stickiness",
    "operators.timeseries.zscore_anomalies",
)
SETUP = ("session.get_spark", "graph.load_graph")
SPARK_LAYERS = ("engine", "node", "storage")


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[p] = os.path.getsize(p)
    return out


def _manifest_bytes(root: str) -> int:
    from basis_devkit_spark.storage.store import MANIFEST

    total = 0
    for dirpath, _dirs, files in os.walk(root):
        if MANIFEST in files:
            total += os.path.getsize(os.path.join(dirpath, MANIFEST))
    return total


def layer_metrics(
    wl: Workload, rec: SpanRecorder, spark, seconds: float, untraced: Phase
) -> tuple[dict[str, float], list[str]]:
    """Run ``wl`` traced for ``seconds`` more; return the per-layer metrics
    and printable per-op lines."""
    engine = getattr(wl, "engine", None)
    log_start = len(engine.run_log) if engine is not None else 0
    files_before = _parquet_files(wl.root)
    first_span = len(rec.spans)
    rec.phase = "measure"
    rec.enabled = True
    traced = measure(wl, seconds)
    rec.enabled = False

    spans = rec.spans[first_span:]
    agg = rec.by_name(spans)
    setup = rec.by_name([s for s in rec.spans if s.phase == "setup"])
    m: dict[str, float] = {}
    for name in SETUP:
        m[f"{name}.total_s"] = setup.get(name, {}).get("total_s", 0.0)
    for name in TIMED:
        a = agg.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for stat in ("calls", "total_s", "self_s"):
            m[f"{name}.{stat}"] = a[stat]
    for name in OPERATORS:
        m[f"{name}.plan_s"] = agg.get(name, {}).get("total_s", 0.0)

    # pass wall time not covered by node runs: scheduling, skips, logging
    by_id = {s.id: s for s in spans}
    gap = {s.id: s.seconds for s in spans if s.name == "engine.run_graph"}
    for s in spans:
        if s.name == "engine.run_node" and s.parent in gap:
            gap[s.parent] -= s.seconds
    m["engine.schedule_gap_s"] = sum(gap.values())
    m["engine.nodes_skipped"] = (
        sum("skipped" in e for e in engine.run_log[log_start:]) if engine is not None else 0
    )
    m["node.Stream.rows_consumed"] = rec.counters.get("node.Stream.rows_consumed", 0)

    reads = [s for s in spans if s.name == "storage.read" and "lineage_dirs" in s.attrs]
    m["storage.read.lineage_dirs"] = (
        statistics.mean(s.attrs["lineage_dirs"] for s in reads) if reads else 0.0
    )
    m["storage.read.lineage_dirs_max"] = max((s.attrs["lineage_dirs"] for s in reads), default=0)
    prunes = [s for s in spans if s.name == "storage.prune_files"]
    total_files = sum(s.attrs["files_total"] for s in prunes)
    m["storage.prune.files_kept_ratio"] = (
        sum(s.attrs["files_kept"] for s in prunes) / total_files if total_files else 1.0
    )
    files_after = _parquet_files(wl.root)
    new = [p for p in files_after if p not in files_before]
    m["storage.files_written"] = len(new)
    m["storage.bytes_written"] = sum(files_after[p] for p in new)
    m["storage.manifest_bytes"] = _manifest_bytes(wl.root)

    sc = spark.sparkContext
    stage = spark_stage_metrics(rec, sc)
    for stat, v in stage["all"].items():
        m[f"spark.{stat}"] = v
    for layer in SPARK_LAYERS:
        m[f"spark.{layer}.jobs"] = stage[layer]["jobs"]
        m[f"spark.{layer}.executor_run_s"] = stage[layer]["executor_run_s"]

    base = statistics.median(untraced.main())
    m["trace.overhead_s"] = statistics.median(traced.main()) - base
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / base
    m["trace.ops"] = len(traced.ops)
    m["trace.spans"] = len(spans)
    return m, _op_lines(spans, by_id, wl.main_op)


def _op_lines(spans: list, by_id: dict[int, Any], main_op: str) -> list[str]:
    """One line per traced op: latency, the longest lineage its storage reads
    (plain or pruned) walked, and the self time of those reads and of
    storage appends inside it."""
    own = SpanRecorder.self_times(spans)

    def root(s):
        while s.parent in by_id:
            s = by_id[s.parent]
        return s

    per_op: dict[int, dict[str, float]] = {}
    for s in spans:
        r = root(s)
        if r.name != f"bench.{main_op}":
            continue
        row = per_op.setdefault(r.id, {"lineage": 0, "read": 0.0, "append": 0.0})
        if s.name in ("storage.read", "storage.read_pruned"):
            row["lineage"] = max(row["lineage"], s.attrs.get("lineage_dirs", 0))
            row["read"] += own[s.id]
        elif s.name == "storage.append":
            row["append"] += own[s.id]
    lines = []
    for i, (rid, row) in enumerate(sorted(per_op.items())):
        lines.append(
            f"# traced {main_op} {i}: {by_id[rid].seconds:.3f} s, "
            f"lineage_dirs={row['lineage']}, storage.read(_pruned).self_s={row['read']:.3f}, "
            f"storage.append.self_s={row['append']:.3f}"
        )
    return lines
