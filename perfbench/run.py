"""perfbench: the repository's benchmark, driving only the public API.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Workloads, metrics and bounds are declared in ``BENCHMARK.json``; the
``serve_sql`` workload is not among them but runs the same way. A run
starts Spark on ``local[k]`` (k = the workload's ``cores``, at most the
machine's), sets the workload up from
a fresh storage root, runs its cycles in a closed loop for ``--seconds``
(and at least the workload's ``min_cycles``),
checks every output against an independent reference, and prints each
metric by name with its unit, then one JSON line::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first runs the
same loop untraced, then again with every layer's public functions wrapped
in spans (``trace.py``), and reports the per-layer metrics plus the tracing
overhead; spans are written to ``perfbench/out/``.

Everything a run writes (stores, Spark scratch, warehouse, JVM temp files)
lives under ``perfbench/.work/`` and is removed at the end; the run then
checks that no other file of the checkout changed.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
# what a run may create inside the checkout (all git-ignored)
SCRATCH = ("perfbench/.work", "perfbench/out", ".bench_build")


def tree_snapshot(root: Path) -> dict[str, tuple[int, int]]:
    skip = {root / s for s in SCRATCH} | {root / ".git"}
    out: dict[str, tuple[int, int]] = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if Path(dirpath, d) not in skip]
        for fn in files:
            p = Path(dirpath, fn)
            st = p.lstat()
            out[str(p.relative_to(root))] = (st.st_size, st.st_mtime_ns)
    return out


def isolate(work: Path, cpus: int) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into
    ``work``; returns the Spark confs that go with it."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": str(work / "tmp"),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "TZ": "UTC",
        }
    )
    time.tzset()
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


def end_to_end(phase, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(phase.main()),
        "bytes_stored_per_input_byte": phase.stored_per_input,
    }


def issue_lines(name: str, phase, e2e: dict[str, float], failed: int, attempted: int) -> list[tuple[str, float, str, str]]:
    """The workload's metrics under their user-facing names."""
    lat = phase.main()
    n = f"n={len(lat)}"
    tail = f"n={len(lat)}; fewer than 10 samples above p90" if len(lat) < 100 else f"n={len(lat)}"
    rows = [("setup_s", e2e["setup_s"], "s", "session start, graph load, seeding, warm-up")]
    if name.startswith("batch"):
        rows.append(("pass_p50_s", e2e["op_p50_s"], "s", n))
    elif name.startswith("ingest"):
        rows += [
            ("increment_p50_s", e2e["op_p50_s"], "s", n),
            ("increment_p90_s", p90(lat), "s", tail),
        ]
    else:
        writes = phase.of("write")
        rows += [
            ("query_p50_s", e2e["op_p50_s"], "s", n),
            ("query_p90_s", p90(lat), "s", tail),
            ("queries_per_s", len(lat) / sum(o.seconds for o in phase.ops), "1/s", "queries over busy time incl. writes"),
            ("write_p50_s", statistics.median(writes), "s", f"n={len(writes)}"),
        ]
    rows += [
        ("ops_per_s", len(phase.ops) / sum(o.seconds for o in phase.ops), "1/s", f"all ops over busy time, n={len(phase.ops)}"),
        ("failed_ops_ratio", failed / attempted, "ratio", f"{failed}/{attempted}"),
        ("bytes_stored_per_input_byte", e2e["bytes_stored_per_input_byte"], "ratio", "after the first measured cycle"),
    ]
    return rows


def run(args, spec: dict, work: Path) -> tuple[dict, list[str]]:
    import numpy as np

    from perfbench.layers import layer_metrics
    from perfbench.trace import SpanRecorder, install_layer_spans
    from perfbench.workloads import WORKLOADS, Context, measure

    import basis_devkit_spark as bds

    cpus = max(1, min(WORKLOADS[args.workload].cores, os.cpu_count() or 1))
    conf = isolate(work, cpus)
    rec = SpanRecorder()
    if args.trace:
        install_layer_spans(rec)
        rec.enabled = True  # setup spans: session start and graph load

    t0 = time.perf_counter()
    spark = bds.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, str(work), np.random.default_rng(args.seed), rec, str(ROOT))
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        rec.enabled = False
        phase = measure(wl, args.seconds)
        e2e = end_to_end(phase, setup_s)
        lines = [
            f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} local[{cpus}]",
        ]
        failed = sum(not o.ok for o in ctx.ops)
        lines.append("# all op latencies (s): " + " ".join(f"{o.kind}:{o.seconds:.3f}" for o in ctx.ops))
        lines += [
            f"{k:<30} {v:.6g} {u}  ({note})"
            for k, v, u, note in issue_lines(args.workload, phase, e2e, failed, len(ctx.ops))
        ]
        if args.trace:
            metrics, more = layer_metrics(wl, rec, spark, args.seconds, phase)
            lines += more
            out = BENCH / "out"
            out.mkdir(exist_ok=True)
            rec.dump(
                str(out / f"spans-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": metrics},
            )
            rec.uninstall()
            section = spec["per_layer"]
        else:
            metrics = e2e
            section = spec["end_to_end"]
        failed = sum(not o.ok for o in ctx.ops)
        result = {
            "correct": failed == 0,
            "attempted": len(ctx.ops),
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                for m in section
            },
        }
        return result, lines
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # BENCHMARK.json lists the workloads the benchmark measures; serve_sql
    # is left out of it to keep all runs within their time budget, and can
    # still be run by hand.
    names = [w["name"] for w in spec["workloads"]] + ["serve_sql"]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    missing = [p for p in ("basis_devkit_spark", "examples") if not (ROOT / p).is_dir()]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {missing})", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    before = tree_snapshot(ROOT)
    work = BENCH / ".work" / f"{args.workload}-{os.getpid()}"
    try:
        result, lines = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = tree_snapshot(ROOT)
    changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
    if changed:
        print(f"perfbench: the run changed files of the checkout: {changed[:10]}", file=sys.stderr)
        result["correct"] = False
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
