"""The benchmark's workloads, each one closed-loop client on one thread.

A workload sets itself up once (graph load, seeding, warm-up), then runs
*cycles*: a fixed unit of work that starts from the same store state every
time, so the latency of step k of a cycle means the same thing in every run
however many cycles the run had time for. Each operation is timed alone;
its output check runs after the clock stops.

- ``batch_events``: one cycle is one ``Engine.run_graph()`` pass of
  ``examples/event_analytics`` over the seeded events.
- ``ingest_stream``: one cycle restores the ``events`` and
  ``running_totals`` stores to their seeded versions, then makes
  ``INGEST_STEPS`` ``Engine.webhook_receive("events", batch)`` calls of
  ``examples/incremental_stream``. Event ids keep rising across cycles, so
  the stream cursor never needs rewinding.
- ``serve_sql``: one cycle restores the served store to its seeded
  version, then issues ``SERVE_MIX``: ``Table.read_sql`` point lookups,
  ``ts``-range scans and small group-bys, with ``Table.append`` + ``flush``
  writes at fixed places.

Inputs come from ``gen`` with the run's seed; references from ``reference``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import gen, reference
from perfbench.trace import SpanRecorder

# input sizes (see BENCHMARK.json for why each workload exists)
BATCH_VISITS = 6_000  # ~9.4k events over 30 days, 2k Zipf users
BATCH_WARMUP_PASSES = 1
INGEST_SEED_VISITS = 1_500  # ~2.3k-event seed table over one day
INGEST_BATCH_VISITS = 8  # ~12 events per webhook call, 10 minutes of traffic
INGEST_STEPS = 4
INGEST_WARMUP_STEPS = 2
SERVE_VISITS = 20_000  # ~31k events over 30 days
SERVE_SEED_FILES = 16
SERVE_WRITE_VISITS = 25  # ~40 events per interleaved write
# P point lookup, R ts-range scan, G small group-by, W append + flush
SERVE_MIX = "PPRPGWPRPPGPWRPGPRWP"
SERVE_WARMUP_MIX = "PRGWPRGW"


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    step: int


@dataclass
class Context:
    spark: Any
    work: str
    rng: np.random.Generator
    rec: SpanRecorder
    repo: str
    ops: list[Op] = field(default_factory=list)
    input_bytes: int = 0

    def storage_root(self, name: str) -> str:
        return os.path.join(self.work, f"store-{name}")

    def timed(self, kind: str, step: int, fn: Callable[[], Any], check: Callable[[Any], bool]) -> Op:
        """Run one operation under the clock, then its output check. A
        raised error or a wrong output marks the op failed; the run goes
        on."""
        with self.rec.span(f"bench.{kind}"):
            t = time.perf_counter()
            try:
                result, raised = fn(), None
            except Exception as e:  # an op failure is a result, not a crash
                result, raised = None, e
            seconds = time.perf_counter() - t
        ok = raised is None
        if raised is not None:
            print(f"# {kind} step {step} failed: {raised!r}", flush=True)
        else:
            with self.rec.span("bench.check"):
                ok = bool(check(result))
            if not ok:
                print(f"# {kind} step {step}: wrong result", flush=True)
        op = Op(kind, seconds, ok, step)
        self.ops.append(op)
        return op


@dataclass
class Phase:
    """The ops of one measured stretch of whole cycles."""

    ops: list[Op]
    stored_per_input: float
    main_op: str

    def main(self) -> list[float]:
        return self.of(self.main_op)

    def of(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind]


def measure(wl: "Workload", seconds: float) -> Phase:
    """Run whole cycles until ``seconds`` have passed and at least
    ``wl.min_cycles`` have run."""
    ctx = wl.ctx
    first = len(ctx.ops)
    deadline = time.perf_counter() + seconds
    stored = None
    cycles = 0
    while True:
        wl.cycle()
        cycles += 1
        if stored is None:  # after one cycle, so run length cannot move it
            stored = wl.stored_bytes() / ctx.input_bytes
        if cycles >= wl.min_cycles and time.perf_counter() >= deadline:
            break
    return Phase(ctx.ops[first:], stored, wl.main_op)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Workload:
    name = ""
    main_op = ""
    cores = 2  # Spark local[cores]; the rest is left to the client, JIT and GC
    # Op latency still falls over the first cycles as the JIT warms up, so a
    # fixed minimum keeps a slow host from shrinking the sample to the
    # slowest, earliest ops.
    min_cycles = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = ctx.storage_root(self.name)

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        return _dir_bytes(self.root)

    def feed(self, pdf: pd.DataFrame) -> pd.DataFrame:
        self.ctx.input_bytes += gen.arrow_bytes(pdf)
        return pdf


class BatchEvents(Workload):
    name = "batch_events"
    main_op = "pass"
    cores = 4  # the graph's four level-0 nodes can use them all
    min_cycles = 3

    def setup(self) -> None:
        from basis_devkit_spark import Engine

        ctx = self.ctx
        events = self.feed(gen.events(ctx.rng, BATCH_VISITS))
        self.expected = reference.user_rollup(events)
        self.engine = Engine(ctx.spark, self.root)
        self.engine.load_graph(os.path.join(ctx.repo, "examples", "event_analytics"))
        self.engine.seed_store("events", ctx.spark.createDataFrame(events))
        for i in range(BATCH_WARMUP_PASSES):
            self.ctx.timed("warmup", i, self.engine.run_graph, self.check)

    def check(self, _log) -> bool:
        got = self.engine.table_df("user_rollup").toPandas()
        return reference.same_rows(got, self.expected)

    def cycle(self) -> None:
        self.ctx.timed(self.main_op, 0, self.engine.run_graph, self.check)


class IngestStream(Workload):
    name = "ingest_stream"
    main_op = "increment"
    min_cycles = 2

    def setup(self) -> None:
        from basis_devkit_spark import Engine

        ctx = self.ctx
        seed = self.feed(gen.events(ctx.rng, INGEST_SEED_VISITS, span_s=gen.DAY_S))
        self.seed_totals = reference.type_totals(seed)
        self.next_id = len(seed)
        self.next_s = gen.DAY_S
        self.engine = Engine(ctx.spark, self.root)
        self.engine.load_graph(os.path.join(ctx.repo, "examples", "incremental_stream"))
        self.engine.seed_store("events", ctx.spark.createDataFrame(seed))
        self.engine.run_graph()
        self.events = self.engine.store("events")
        self.totals = self.engine.store("running_totals")
        self.seed_versions = (
            self.events.get_active_version(),
            self.totals.get_active_version(),
        )
        self.sent = seed.iloc[:0]
        self.run_steps("warmup", INGEST_WARMUP_STEPS)

    def restore(self) -> None:
        v_events, v_totals = self.seed_versions
        self.events.restore(v_events)
        self.totals.restore(v_totals)
        self.sent = self.sent.iloc[:0]
        self.folded = int(self.seed_totals["n"].sum())

    def next_batch(self) -> pd.DataFrame:
        span = 600.0
        batch = self.feed(
            gen.events(
                self.ctx.rng,
                INGEST_BATCH_VISITS,
                start_id=self.next_id,
                start_s=self.next_s,
                span_s=span,
            )
        )
        self.next_id += len(batch)
        self.next_s += span
        return batch

    def check_totals(self, _result=None) -> bool:
        got = self.engine.table_df("running_totals").toPandas()
        want = reference.add_totals(self.seed_totals, reference.type_totals(self.sent))
        # rows the stream consumed, as seen in what it folded into totals
        folded = int(got["n"].sum())
        if self.ctx.rec.enabled:
            self.ctx.rec.counters["node.Stream.rows_consumed"] += folded - self.folded
        self.folded = folded
        return reference.same_rows(got, want)

    def run_steps(self, kind: str, n: int) -> None:
        self.restore()
        for step in range(n):
            batch = self.next_batch()
            records = batch.to_dict("records")
            self.sent = pd.concat([self.sent, batch], ignore_index=True)
            self.ctx.timed(
                kind,
                step,
                lambda: self.engine.webhook_receive("events", records),
                self.check_totals,
            )

    def cycle(self) -> None:
        self.run_steps(self.main_op, INGEST_STEPS)


class ServeSql(Workload):
    name = "serve_sql"
    main_op = "query"

    def setup(self) -> None:
        from basis_devkit_spark import Table
        from basis_devkit_spark.storage.store import TableStore

        ctx = self.ctx
        spark = ctx.spark
        seed = self.feed(gen.events(ctx.rng, SERVE_VISITS))
        self.seed = seed
        self.visible = seed
        self.next_id = len(seed)
        self.ref = reference.Reference(seed)
        self.store = TableStore(self.root, "events", spark)
        self.store.configure(cluster_by=["user_id"], stats_columns=["user_id", "ts"])
        # A served table is laid out once at load time: range-cluster the
        # seed into several files so footer stats can skip most of them
        # (the session otherwise coalesces a small write into one file).
        layout = {
            "spark.sql.shuffle.partitions": str(SERVE_SEED_FILES),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        prev = {k: spark.conf.get(k) for k in layout}
        for k, v in layout.items():
            spark.conf.set(k, v)
        try:
            self.store.write_replace(spark.createDataFrame(seed))
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        self.seed_version = self.store.get_active_version()
        self.table = Table("events")
        self.table.bind(self.store, spark)
        self.run_mix("warmup", SERVE_WARMUP_MIX)

    def query(self, kind: str) -> str:
        rng = self.ctx.rng
        if kind == "P":
            u = int(gen.zipf_users(rng, 1, 2_000)[0])
            return (
                "select count(*) as n, sum(value) as s, max(ts) as last_ts "
                f"from events where user_id = {u}"
            )
        if kind == "R":
            start = gen.EPOCH + pd.Timedelta(hours=int(rng.integers(0, 30 * 24 - 2)))
            end = start + pd.Timedelta(hours=2)
            return (
                "select event_type, count(*) as n, sum(value) as s from events "
                f"where ts >= '{start}' and ts < '{end}' group by event_type"
            )
        u = int(rng.integers(0, 2_000 - 25))
        return (
            "select user_id, count(*) as n, max(value) as top from events "
            f"where user_id >= {u} and user_id < {u + 25} group by user_id"
        )

    def write(self) -> None:
        rng = self.ctx.rng
        rows = self.feed(
            gen.events(
                rng,
                SERVE_WRITE_VISITS,
                start_id=self.next_id,
                start_s=30 * gen.DAY_S + float(rng.uniform(0, gen.DAY_S)),
                span_s=3_600.0,
            )
        )
        self.next_id += len(rows)
        self.pending = rows
        self.table.append(rows)
        self.table.flush()

    def check_write(self, _result) -> bool:
        self.visible = pd.concat([self.visible, self.pending], ignore_index=True)
        self.ref.set_rows(self.visible)
        return self.store.read().count() == len(self.visible)

    def run_mix(self, phase: str, mix: str) -> None:
        self.store.restore(self.seed_version)
        self.visible = self.seed
        self.ref.set_rows(self.seed)
        for step, kind in enumerate(mix):
            if kind == "W":
                self.ctx.timed("warmup" if phase == "warmup" else "write", step, self.write, self.check_write)
                continue
            sql = self.query(kind)
            self.ctx.timed(
                "warmup" if phase == "warmup" else self.main_op,
                step,
                lambda: self.table.read_sql(sql, as_format="dataframe"),
                lambda got: reference.same_rows(got, self.ref.sql(sql)),
            )

    def cycle(self) -> None:
        self.run_mix("measure", SERVE_MIX)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (BatchEvents, IngestStream, ServeSql)
}
