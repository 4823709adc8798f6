"""Engine features beyond the minimum slice: webhooks, components,
signal propagation, cron ticks, request_new_run."""

import textwrap
from datetime import datetime

import pytest

from basis_devkit_spark.engine import Engine


def write_app(tmp_path, yml, **files):
    tmp_path.mkdir(parents=True, exist_ok=True)
    (tmp_path / "graph.yml").write_text(textwrap.dedent(yml))
    for name, content in files.items():
        p = tmp_path / name.replace("__", "/")
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(textwrap.dedent(content))
    return str(tmp_path)


def test_webhook_ingest_and_downstream_propagation(spark, tmp_path):
    """Webhook payload lands in its auto-created table; downstream SQL node
    fires via signal propagation (node.py:387-397)."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - webhook: hook
          - node_file: agg.sql
            id: aggnode1
            inputs:
              hook: hook
            outputs:
              out: totals
        stores:
          - table: totals
        """,
        **{"agg.sql": "select kind, count(*) as n from {{ hook }} group by kind"},
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.webhook_receive("hook", [{"kind": "a"}, {"kind": "b"}, {"kind": "a"}])
    got = {r.kind: r.n for r in eng.table_df("totals").collect()}
    assert got == {"a": 2, "b": 1}
    # respond hook is a logged no-op
    eng.respond_to_request("req-1", {"ok": True})
    assert any("respond_to_request" in str(e) for e in eng.run_log)


def test_component_registration_and_run(spark, tmp_path):
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - uses: org/doubler@v1
            id: compnode1
            inputs:
              src: numbers
            outputs:
              dst: doubled
        stores:
          - table: numbers
          - table: doubled
        """,
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("numbers", spark.createDataFrame([(1,), (2,)], "x int"))

    def doubler(engine, node):
        src = engine.store(node.inputs["src"]).read()
        engine.store(node.outputs["dst"]).write_replace(
            src.selectExpr("x * 2 as x")
        )

    eng.register_component("org/doubler@v1", doubler)
    eng.run_graph()
    assert sorted(r.x for r in eng.table_df("doubled").collect()) == [2, 4]


def test_unregistered_component_errors(spark, tmp_path):
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - uses: org/ghost@v1
            id: g1
        """,
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    with pytest.raises(KeyError, match="component not registered"):
        eng.run_graph()


def test_cron_due_nodes_and_tick(spark, tmp_path):
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: n.sql
            id: cronnode
            trigger: '30 3 * * *'
            inputs:
              src: src
            outputs:
              out: out
        stores:
          - table: src
          - table: out
        """,
        **{"n.sql": "select count(*) as n from {{ src }}"},
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("src", spark.createDataFrame([(1,), (2,)], "x int"))
    assert eng.due_nodes(datetime(2026, 8, 13, 3, 30)) != []
    assert eng.due_nodes(datetime(2026, 8, 13, 3, 31)) == []
    ran = eng.tick(datetime(2026, 8, 13, 3, 30))
    assert ran == ["cronnode"]
    assert eng.table_df("out").collect()[0].n == 2


def test_request_new_run_chunked_processing(spark, tmp_path):
    """A node that processes its input in chunks via request_new_run until
    done (the reference's 10-min-budget resumable pattern, node.py:482-500)."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: chunker.py
            id: chunknode
            inputs:
              src_t: src
            outputs:
              dst_t: dst
        stores:
          - table: src
          - table: dst
        """,
        **{
            "chunker.py": """
            from basis_devkit_spark import Table, State
            from pyspark.sql import functions as F

            src = Table("src_t", "r")
            dst = Table("dst_t", "w")
            state = State()

            done = state.get_value("offset", 0)
            batch = src.read_dataframe().filter(
                (F.col("x") >= done) & (F.col("x") < done + 2)
            )
            dst.append(batch)
            state.set_value("offset", done + 2)
            if done + 2 < 6:
                state.request_new_run()
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("src", spark.createDataFrame([(i,) for i in range(6)], "x int"))
    eng.run_graph()
    assert sorted(r.x for r in eng.table_df("dst").collect()) == [0, 1, 2, 3, 4, 5]


def test_decorator_style_node(spark, tmp_path):
    """Newer SDK style per the reference's own fixtures
    (tests/configuration/utils.py:6-14): @node def f(out=OutputTable, ...)."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: deco.py
            id: deconode
            inputs:
              src: numbers
            outputs:
              dst: tripled
            parameters:
              factor: 3
        stores:
          - table: numbers
          - table: tripled
        """,
        **{
            "deco.py": """
            from basis_devkit_spark import *
            from pyspark.sql import functions as F

            @node
            def triple(src=InputTable, dst=OutputTable, factor=Parameter(type="int", default=2), state=State):
                df = src.read_dataframe()
                dst.replace(df.withColumn("x", F.col("x") * factor))
                state.set_value("factor_used", factor)
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("numbers", spark.createDataFrame([(1,), (2,)], "x int"))
    eng.run_graph()
    assert sorted(r.x for r in eng.table_df("tripled").collect()) == [3, 6]
    assert eng.state_store.load("deconode")["factor_used"] == 3


def test_decorator_style_input_stream(spark, tmp_path):
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: deco.py
            id: streamnode
            inputs:
              src: evts
            outputs:
              dst: firsts
        stores:
          - table: evts
          - table: firsts
        """,
        **{
            "deco.py": """
            from basis_devkit_spark import *

            @node
            def consume(src=InputStream, dst=OutputTable):
                seen = [r["eid"] for r in src]
                dst.replace([{"eid": e} for e in seen])
                src.checkpoint()
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    evts = eng.store("evts")
    evts.configure(strictly_monotonic_ordering="eid")
    evts.write_replace(spark.createDataFrame([(i,) for i in range(3)], "eid int"))
    eng.run_graph()
    assert sorted(r.eid for r in eng.table_df("firsts").collect()) == [0, 1, 2]
    # second run: cursor persisted -> no new records -> replace([]) keeps empty
    eng.run_graph()
    assert eng.table_df("firsts").count() == 0


def test_stream_progress_persists_without_explicit_checkpoint(spark, tmp_path):
    """ADVICE r01: the ENGINE must checkpoint stream cursors after outputs
    commit — a node that consumes a stream and never calls checkpoint()
    still must not reprocess records on the next run (consumed-on-yield,
    progress preserved across executions, node.py:43-47)."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: deco.py
            id: streamnode2
            inputs:
              src: evts2
            outputs:
              dst: seen2
        stores:
          - table: evts2
          - table: seen2
        """,
        **{
            "deco.py": """
            from basis_devkit_spark import *

            @node
            def consume(src=InputStream, dst=OutputTable):
                seen = [r["eid"] for r in src]
                dst.replace([{"eid": e} for e in seen])
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    evts = eng.store("evts2")
    evts.configure(strictly_monotonic_ordering="eid")
    evts.write_replace(spark.createDataFrame([(i,) for i in range(3)], "eid int"))
    eng.run_graph()
    assert sorted(r.eid for r in eng.table_df("seen2").collect()) == [0, 1, 2]
    eng.run_graph()  # no checkpoint() in node code — engine must have committed
    assert eng.table_df("seen2").count() == 0
    # new records resume after the durable cursor
    evts.append(spark.createDataFrame([(7,)], "eid int"))
    eng.run_graph()
    assert sorted(r.eid for r in eng.table_df("seen2").collect()) == [7]


def test_salted_join_rejects_unsupported_how(spark):
    from basis_devkit_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(1, 2.0)], "k int, w double")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(a, b, "k", how="full_outer")


def test_engine_run_sql_across_stores(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"))
    eng.seed_store("a", spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string"))
    eng.seed_store("b", spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, w double"))
    got = eng.run_sql("select a.v, b.w from a join b on a.k = b.k order by a.k").collect()
    assert [(r.v, r.w) for r in got] == [("x", 10.0), ("y", 20.0)]


def test_engine_vacuum_all(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"))
    df = spark.createDataFrame([(1,)], "x int")
    for _ in range(4):
        eng.store("t").write_replace(df)
    eng.vacuum_all(keep_last=1)
    assert len(eng.store("t")._manifest.versions) == 1
    assert eng.table_df("t").count() == 1


def test_kitchen_sink_app(spark, tmp_path):
    """One app exercising every node kind together: webhook ingest → SQL
    rollup → class-style python enrich → decorator-style filter →
    component sink, through subgraph wiring and signal propagation."""
    app = write_app(
        tmp_path / "app",
        """
        title: kitchen sink
        functions:
          - webhook: clicks
          - node_file: hourly.sql
            id: sqlnode
            inputs:
              clicks: clicks
            outputs:
              out: hourly
          - node_file: enrich.py
            id: pynode
            inputs:
              hourly_in: hourly
            outputs:
              enriched: enriched
          - node_file: filter.py
            id: deconode
            inputs:
              src: enriched
            outputs:
              dst: final
            parameters:
              min_n: 2
          - uses: org/counter@v1
            id: compnode
            inputs:
              src: final
            outputs:
              dst: counts
        stores:
          - table: hourly
          - table: enriched
          - table: final
          - table: counts
        """,
        **{
            "hourly.sql": """
            select kind, count(*) as n from {{ clicks }} group by kind
            """,
            "enrich.py": """
            from basis_devkit_spark import Table
            from pyspark.sql import functions as F
            src = Table("hourly_in", "r")
            dst = Table("enriched", "w")
            dst.replace(src.read_dataframe().withColumn("loud", F.upper("kind")))
            """,
            "filter.py": """
            from basis_devkit_spark import *
            from pyspark.sql import functions as F

            @node
            def keep_frequent(src=InputTable, dst=OutputTable, min_n=Parameter(type="int", default=1)):
                dst.replace(src.read_dataframe().filter(F.col("n") >= min_n))
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.register_component(
        "org/counter@v1",
        lambda engine, node: engine.store(node.outputs["dst"]).write_replace(
            engine.store(node.inputs["src"]).read().selectExpr("count(*) as total")
        ),
    )
    eng.webhook_receive(
        "clicks",
        [{"kind": "a"}, {"kind": "a"}, {"kind": "b"}, {"kind": "c"}, {"kind": "c"}],
    )
    # webhook propagation ran the whole chain
    final = {(r.kind, r.n, r.loud) for r in eng.table_df("final").collect()}
    assert final == {("a", 2, "A"), ("c", 2, "C")}
    assert eng.table_df("counts").collect()[0].total == 2


def test_run_scheduler_single_tick(spark, tmp_path):
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: n.sql
            id: schednode
            trigger: '* * * * *'
            inputs:
              src: src
            outputs:
              out: out
        stores:
          - table: src
          - table: out
        """,
        **{"n.sql": "select count(*) as n from {{ src }}"},
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("src", spark.createDataFrame([(1,)], "x int"))
    ran = eng.run_scheduler(poll_seconds=0.01, max_ticks=1, now_fn=lambda: datetime(2026, 8, 13, 4, 0))
    assert ran == 1
    assert eng.table_df("out").collect()[0].n == 1


def test_node_crash_leaves_no_partial_commit(spark, tmp_path):
    """Atomicity: a node that buffers writes then raises must leave the
    output store unchanged (flush/commit happens only on success) and its
    state unpersisted."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: crasher.py
            id: crashnode
            inputs:
              src_t: src
            outputs:
              dst_t: dst
        stores:
          - table: src
          - table: dst
        """,
        **{
            "crasher.py": """
            from basis_devkit_spark import Table, State
            src = Table("src_t", "r")
            dst = Table("dst_t", "w")
            state = State()
            dst.append([{"x": 999}])       # buffered, not committed
            state.set_value("poisoned", True)
            raise RuntimeError("node blew up mid-execution")
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("src", spark.createDataFrame([(1,)], "x int"))
    eng.store("dst").write_replace(spark.createDataFrame([(0,)], "x int"))
    with pytest.raises(RuntimeError, match="blew up"):
        eng.run_node("crashnode")
    # output untouched, state not persisted
    assert [r.x for r in eng.table_df("dst").collect()] == [0]
    assert eng.state_store.load("crashnode") == {}


def test_store_expectations_from_graph_yaml(spark, tmp_path):
    """Declarative store config in graph.yml: expectations in drop mode
    filter a SQL node's output during its managed write."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: pass.sql
            id: passnode1
            inputs:
              src: raw
            outputs:
              out: clean
        stores:
          - table: raw
          - table: clean
            expectations:
              v_nonneg: v >= 0
            expectations_mode: drop
        """,
        **{"pass.sql": "select * from {{ src }}"},
    )
    from basis_devkit_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("raw", spark.createDataFrame([(1,), (-2,), (3,)], "v int"))
    eng.run_graph()
    assert {r.v for r in eng.table_df("clean").collect()} == {1, 3}
    assert eng.store("clean").expectation_violations() == {"v_nonneg": 1}


def test_store_layout_from_graph_yaml(spark, tmp_path):
    """Declarative layout config: bucket_by/num_buckets (and zorder_by on
    another store) flow from graph.yml into TableStore.configure, so a
    node's managed write lands bucketed and read_bucketed() binds it."""
    from pyspark.sql import functions as F

    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: pass.sql
            id: passnode1
            inputs:
              src: raw
            outputs:
              out: bucketed
        stores:
          - table: raw
          - table: bucketed
            bucket_by: [k]
            num_buckets: 4
        """,
        **{"pass.sql": "select * from {{ src }}"},
    )
    from basis_devkit_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store(
        "raw",
        spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
    )
    eng.run_graph()
    st = eng.store("bucketed")
    assert st._manifest.bucket_by == ["k"] and st._manifest.num_buckets == 4
    df = st.read_bucketed()
    assert df.count() == 1000
    # bucketing is exploited where it pays: a group-by on the bucket key
    # needs NO exchange (the scan itself is hash-distributed on k)
    g = df.groupBy("k").agg(F.sum("v").alias("s"))
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan


def test_run_graph_parallel_levels_match_sequential(spark, tmp_path):
    """parallelism>1 submits each topo level's independent nodes
    concurrently; results must equal the sequential run, downstream nodes
    still see committed upstream outputs, and topo_levels groups the
    diamond correctly."""
    yml = """
    functions:
      - node_file: a.sql
        id: brancha
        inputs: { src: numbers }
        outputs: { out: doubled }
      - node_file: b.sql
        id: branchb
        inputs: { src: numbers }
        outputs: { out: squared }
      - node_file: j.sql
        id: joiner
        inputs: { d: doubled, s: squared }
        outputs: { out: joined }
    stores:
      - table: numbers
      - table: doubled
      - table: squared
      - table: joined
    """
    files = {
        "a.sql": "select n, n * 2 as v from {{ src }}",
        "b.sql": "select n, n * n as w from {{ src }}",
        "j.sql": "select d.n, d.v, s.w from {{ d }} d join {{ s }} s on d.n = s.n",
    }

    def build(root):
        app = write_app(root / "app", yml, **files)
        eng = Engine(spark, str(root / "store"))
        eng.load_graph(app)
        eng.seed_store(
            "numbers", spark.createDataFrame([(i,) for i in range(20)], "n int")
        )
        return eng

    eng_p = build(tmp_path / "par")
    levels = [[n.id for n in lvl] for lvl in eng_p.topo_levels()]
    assert levels == [["brancha", "branchb"], ["joiner"]]
    eng_p.run_graph(parallelism=4)
    got_p = {(r.n, r.v, r.w) for r in eng_p.table_df("joined").collect()}

    eng_s = build(tmp_path / "seq")
    eng_s.run_graph()
    got_s = {(r.n, r.v, r.w) for r in eng_s.table_df("joined").collect()}
    assert got_p == got_s
    assert got_p == {(i, 2 * i, i * i) for i in range(20)}


def test_run_graph_parallel_shared_output_serialized(spark, tmp_path):
    """Two same-level nodes writing the SAME output store must not race
    the manifest: the wave split serializes them, and both commits land
    (append semantics would differ, but write_replace means last wins —
    the invariant here is no lost/corrupt manifest, exactly 2 versions)."""
    yml = """
    functions:
      - node_file: a.sql
        id: w1
        inputs: { src: numbers }
        outputs: { out: t }
      - node_file: b.sql
        id: w2
        inputs: { src: numbers }
        outputs: { out: t }
    stores:
      - table: numbers
      - table: t
    """
    files = {
        "a.sql": "select n from {{ src }}",
        "b.sql": "select n + 100 as n from {{ src }}",
    }
    app = write_app(tmp_path / "app", yml, **files)
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("numbers", spark.createDataFrame([(1,), (2,)], "n int"))
    eng.run_graph(parallelism=4)
    st = eng.store("t")
    assert st.get_active_version() >= 2  # both commits landed, in order
    vals = sorted(r.n for r in st.read().collect())
    assert vals in ([1, 2], [101, 102])  # one full result, never a mix


def test_run_graph_parallel_stress_wide_level(spark, tmp_path):
    """8 independent SQL nodes + a fan-in node under parallelism=8, run
    twice on the same engine (idempotent write_replace) — exercises
    concurrent store commits, temp-view registration, and the write-conf
    lock; every branch output and the fan-in must be exact."""
    branches = "".join(
        f"""
      - node_file: b{i}.sql
        id: br{i}
        inputs: {{ src: numbers }}
        outputs: {{ out: out{i} }}"""
        for i in range(8)
    )
    fan_inputs = "\n".join(f"          i{i}: out{i}" for i in range(8))
    yml = f"""
    functions:{branches}
      - node_file: fan.sql
        id: fan
        inputs:
{fan_inputs}
        outputs: {{ out: total }}
    stores:
      - table: numbers
{chr(10).join(f'      - table: out{i}' for i in range(8))}
      - table: total
    """
    files = {
        f"b{i}.sql": f"select n, n * {i + 1} as v from {{{{ src }}}}"
        for i in range(8)
    }
    files["fan.sql"] = " union all ".join(
        f"select v from {{{{ i{i} }}}}" for i in range(8)
    )
    app = write_app(tmp_path / "app", yml, **files)
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    n_rows = 50
    eng.seed_store(
        "numbers", spark.createDataFrame([(i,) for i in range(n_rows)], "n int")
    )
    expect_total = sum(i * (b + 1) for i in range(n_rows) for b in range(8))
    for _ in range(2):
        eng.run_graph(parallelism=8)
        for b in range(8):
            got = sorted(r.v for r in eng.table_df(f"out{b}").collect())
            assert got == [i * (b + 1) for i in range(n_rows)], f"branch {b}"
        assert eng.table_df("total").agg({"v": "sum"}).collect()[0][0] == expect_total


def test_all_layouts_parallel_graph_then_ml_scoring(spark, tmp_path):
    """Cross-feature stress: one parallel graph run writes the SAME source
    through all four layouts (plain, cluster_by, zorder_by, bucket_by);
    every read path agrees; a bucketed co-located join and a fresh
    ML fit+score both work in the same session afterwards (regression for
    the trainingSummary->SparkSession task-serialization bug, which
    surfaced only after a bucketed saveAsTable)."""
    from pyspark.sql import functions as F

    yml = """
    functions:
      - node_file: p.sql
        id: n_plain
        inputs: { src: raw }
        outputs: { out: t_plain }
      - node_file: p.sql
        id: n_clu
        inputs: { src: raw }
        outputs: { out: t_clu }
      - node_file: p.sql
        id: n_zo
        inputs: { src: raw }
        outputs: { out: t_zo }
      - node_file: p.sql
        id: n_bkt
        inputs: { src: raw }
        outputs: { out: t_bkt }
    stores:
      - table: raw
      - table: t_plain
      - table: t_clu
        cluster_by: [x]
      - table: t_zo
        zorder_by: [x, y]
      - table: t_bkt
        bucket_by: [x]
        num_buckets: 4
    """
    app = write_app(tmp_path / "app", yml, **{"p.sql": "select * from {{ src }}"})
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    src = spark.range(5000).select(
        F.col("id").alias("x"),
        (F.hash("id") % 1000).alias("y"),
        (F.col("id") % 7).alias("v"),
    )
    eng.seed_store("raw", src)
    for _ in range(2):  # repeat: version flips, re-bucketing, re-binding
        eng.run_graph(parallelism=4)
    want = sorted((r.x, r.y, r.v) for r in src.collect())
    for t in ("t_plain", "t_clu", "t_zo", "t_bkt"):
        got = sorted((r.x, r.y, r.v) for r in eng.table_df(t).collect())
        assert got == want, t
    # zorder store prunes and agrees under read_pruned
    zo = eng.store("t_zo")
    assert zo.read_pruned([("x", "<", 100)]).count() == 100
    # bucketed co-located self-join: zero exchanges, right count
    bkt = eng.store("t_bkt")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = bkt.read_bucketed().alias("a"), bkt.read_bucketed().alias("b")
        j = a.join(b, F.col("a.x") == F.col("b.x"))
        assert "Exchange hashpartitioning" not in (
            j._jdf.queryExecution().executedPlan().toString()
        )
        assert j.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # ML fit + score in the SAME session still serializes tasks fine
    from basis_devkit_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    docs = spark.createDataFrame(
        [(i, "clean common words here", 1) for i in range(30)]
        + [(50 + i, f"zzq{i} qqz{i} xx{i}", 0) for i in range(30)],
        "doc_id int, text string, label int",
    )
    model = train_quality_classifier(docs, "text", "label", max_iter=5)
    assert score_quality(model, docs).count() == 60


def test_event_analytics_pipeline_through_engine(spark, tmp_path):
    """User-style app: python node sessionizes events into a store, SQL
    node rolls sessions up per user — end-to-end through graph loading,
    topo execution, and versioned commits."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: sess.py
            inputs:
              events: events
            outputs:
              out: sessions
          - node_file: per_user.sql
            inputs:
              sessions: sessions
            outputs:
              out: user_sessions
        stores:
          - table: events
          - table: sessions
          - table: user_sessions
        """,
        **{
            "sess.py": """
            from basis_devkit_spark import *

            @node
            def sess(events=InputTable, out=OutputTable):
                from basis_devkit_spark.operators.events import session_stats
                out.replace(session_stats(events.read_dataframe(), gap_minutes=30))
            """,
            "per_user.sql": """
            select user_id, count(*) as n_sessions, sum(n_events) as n_events
            from {{ sessions }} group by user_id
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    eng.seed_store("events", ev)
    eng.run_graph()
    per_user = {r["user_id"]: r for r in eng.table_df("user_sessions").collect()}
    assert len(per_user) == ev.select("user_id").distinct().count()
    # total events conserved through sessionization + rollup
    assert sum(r["n_events"] for r in per_user.values()) == ev.count()


def test_funnel_empty_step_yields_zero_not_error(spark):
    from basis_devkit_spark.operators.events import funnel

    df = spark.createDataFrame(
        [(1, "a", __import__("datetime").datetime(2024, 1, 1))],
        ["user_id", "event_type", "ts"],
    )
    out = {r["step"]: r["users"] for r in funnel(df, ["a", "zz", "c"]).collect()}
    assert out == {1: 1, 2: 0, 3: 0}


def test_pretrain_pipeline_example_app(spark, tmp_path):
    """The examples/pretrain_pipeline app runs end-to-end: quality gates
    -> per-domain cap -> exact+MinHash dedup (best-quality keeper) ->
    benchmark decontamination -> PII redaction -> perplexity curation ->
    sequence packing, each stage a versioned store commit."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/pretrain_pipeline")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eng.seed_store("documents", docs)
    # benchmark = a handful of corpus docs -> those must be removed as
    # contaminated downstream
    eng.seed_store("benchmark_docs", docs.filter(F.col("doc_id") < 5))
    # DSIR target: a small "high-quality" slice whose n-gram profile the
    # selection stage should steer toward (two sources stand in for it)
    eng.seed_store("target_docs", docs.filter(F.col("source").isin("src0", "src1")))
    eng.run_graph()

    n_docs = docs.count()
    n_clean = eng.table_df("clean_docs").count()
    n_dedup = eng.table_df("deduped_docs").count()
    final = eng.table_df("final_docs")
    n_final = final.count()
    packed = eng.table_df("packed_sequences")

    assert 0 < n_clean <= n_docs
    # per-domain cap: every registrable domain holds <= max_per_domain
    # (graph.yml: 3) docs, the domain column rides along, and the stage
    # genuinely dropped rows at this corpus/URL mix
    capped = eng.table_df("capped_docs")
    n_capped = capped.count()
    assert 0 < n_capped < n_clean
    assert "domain" in capped.columns
    assert (
        capped.groupBy("domain").count().agg(F.max("count")).first()[0] <= 3
    )
    n_dedup = eng.table_df("deduped_docs").count()
    assert 0 < n_dedup <= n_capped
    assert 0 < n_final < n_dedup  # planted benchmark overlap was removed
    # no benchmark doc survives
    assert final.filter(F.col("doc_id") < 5).count() == 0
    # redaction stage: row-preserving, typed count columns present
    red = eng.table_df("redacted_docs")
    assert red.count() == n_final
    for col in ("n_email", "n_ip", "n_ssn", "n_phone"):
        assert col in red.columns
        assert red.filter(F.col(col) < 0).count() == 0
    # perplexity curation: head+middle kept (~2/3 of survivors), labels
    # valid, tail gone
    cur = eng.table_df("curated_docs")
    n_cur = cur.count()
    assert 0 < n_cur < n_final
    assert cur.filter(~F.col("label").isin(["head", "middle"])).count() == 0
    # DSIR selection: keep_fraction=0.5 of the curated survivors, chosen
    # by target-resemblance score — row count is exactly floor(n_cur/2)
    sel = eng.table_df("selected_docs")
    n_sel = sel.count()
    assert n_sel == n_cur // 2
    assert sel.join(cur, "doc_id").count() == n_sel  # subset of curated
    # learned tokenizer: merge table persisted (16 rows), every selected
    # doc got a positive exact subword count
    assert eng.table_df("bpe_merges").count() == 16
    tok = eng.table_df("tokenized_docs")
    assert tok.count() == n_sel
    assert tok.filter(F.col("n_bpe_tokens") <= 0).count() == 0
    # packing conserves the SELECTED docs, by REAL tokenizer counts
    assert packed.agg(F.sum("n_docs")).collect()[0][0] == n_sel
    assert packed.agg(F.sum("total_tokens")).collect()[0][0] == (
        tok.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    )
    assert packed.filter(F.col("chunk_id") < 0).count() == 0
    # the layout is the HASH-SHUFFLED one over BPE counts (shuffle=true
    # default): byte-identical to sequence_pack_shuffled on the
    # tokenize stage's output, and genuinely different from id order
    from basis_devkit_spark.operators.text import sequence_pack_shuffled

    expect = (
        sequence_pack_shuffled(
            tok, budget=512, id_col="doc_id", n_tokens_col="n_bpe_tokens"
        )
        .groupBy(F.col("seq_id").alias("chunk_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(packed) == key(expect)
    # in id order, chunks partition the sorted id line: every chunk's
    # [first_doc, last_doc] ranges are disjoint. The shuffled layout
    # interleaves them — assert at least one overlap exists.
    ranges = sorted(
        (r["first_doc"], r["last_doc"]) for r in packed.collect()
    )
    assert any(
        ranges[i][1] > ranges[i + 1][0] for i in range(len(ranges) - 1)
    ), "packed layout looks like id order, expected hash-shuffled"


def test_artifact_stores_build_once_and_refit_free_rerun(spark, tmp_path):
    """The build-once artifact convention (r10 verdict task 5) at the
    ENGINE level: graph.yml declares the tokenizer stores
    ``artifact: true``; the fit node (whose outputs are all artifacts)
    runs on the first pass, and a re-run SKIPS it — the refit-free run
    never rescans raw history for the tokenizer (artifact versions
    untouched). Explicit run_node() remains the refit path, and
    artifact_usage()/explain_node() report which nodes read which
    artifact."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/pretrain_pipeline")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eng.seed_store("documents", docs)
    eng.seed_store("benchmark_docs", docs.filter(F.col("doc_id") < 5))
    eng.seed_store(
        "target_docs", docs.filter(F.col("source").isin("src0", "src1"))
    )
    eng.run_graph()

    assert eng.artifact_store_names() == {"bpe_merges", "bpe_vocab"}
    ran = [
        e for e in eng.run_log
        if e["node"] == "tokenizer_fit" and "skipped" not in e
    ]
    assert len(ran) == 1  # fit ran once (artifacts absent)
    vm = eng.store("bpe_merges").get_active_version()
    vv = eng.store("bpe_vocab").get_active_version()
    n_tok = eng.table_df("tokenized_docs").count()
    assert n_tok > 0

    # re-run: the fit is skipped, artifacts untouched; the apply node
    # still runs off the persisted artifacts (no refit, no raw-history
    # rescan for the tokenizer)
    eng.run_graph()
    skips = [e for e in eng.run_log if e.get("skipped") == "artifact built"]
    assert [e["node"] for e in skips] == ["tokenizer_fit"]
    assert eng.store("bpe_merges").get_active_version() == vm
    assert eng.store("bpe_vocab").get_active_version() == vv
    assert eng.table_df("tokenized_docs").count() == n_tok

    # inspection surface: consumers of each artifact are declared
    assert eng.artifact_usage() == {"tokenize": ["bpe_merges", "bpe_vocab"]}
    ex = eng.explain_node("tokenize")
    assert ex["artifacts"] == "bpe_merges, bpe_vocab"

    # the parallel scheduler path skips built fit nodes too
    eng.run_graph(parallelism=2)
    skips2 = [e for e in eng.run_log if e.get("skipped") == "artifact built"]
    assert [e["node"] for e in skips2] == ["tokenizer_fit", "tokenizer_fit"]
    assert eng.store("bpe_merges").get_active_version() == vm

    # explicit refit path still works and commits new artifact versions
    eng.run_node("tokenizer_fit")
    assert eng.store("bpe_merges").get_active_version() > vm
    assert eng.store("bpe_vocab").get_active_version() > vv


def test_event_analytics_example_app(spark, tmp_path):
    """examples/event_analytics runs end-to-end with python + SQL nodes."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/event_analytics")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    eng.seed_store("events", ev)
    eng.run_graph()

    roll = eng.table_df("user_rollup")
    assert roll.count() == ev.select("user_id").distinct().count()
    assert roll.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    steps = {r["step"]: r["users"] for r in eng.table_df("funnel_steps").collect()}
    assert set(steps) == {1, 2, 3} and steps[1] >= steps[2] >= steps[3]
    # anomalies table exists (may be empty at this scale) with the right shape
    assert set(eng.table_df("rate_anomalies").columns) == {
        "user_id", "bucket_ts", "n_events", "zscore"
    }
    # engagement stickiness: one row per active day, ratio in (0, 1]
    stick = eng.table_df("engagement")
    n_days = ev.select(F.to_date("ts")).where(F.col("ts").isNotNull()).distinct().count()
    assert stick.count() == n_days
    assert stick.filter(
        (F.col("stickiness") <= 0) | (F.col("stickiness") > 1)
        | (F.col("dau") > F.col("wau"))
    ).count() == 0


def test_incremental_stream_example_app(spark, tmp_path):
    """examples/incremental_stream: two engine runs with an append in
    between — the rollup advances by exactly the new records (stream
    cursor exactly-once), and a third run with no new data is a no-op."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/incremental_stream")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    first = ev.filter(F.col("event_id") < 500)
    rest = ev.filter(F.col("event_id") >= 500)

    eng.seed_store("events", first)
    eng.run_graph()
    t1 = {r["event_type"]: r for r in eng.table_df("running_totals").collect()}
    assert sum(r["n"] for r in t1.values()) == first.count()

    eng.store("events").append(rest)
    eng.run_graph()
    t2 = {r["event_type"]: r for r in eng.table_df("running_totals").collect()}
    assert sum(r["n"] for r in t2.values()) == ev.count()

    eng.run_graph()  # no new records -> totals unchanged
    t3 = {r["event_type"]: r for r in eng.table_df("running_totals").collect()}
    assert {k: (v["n"], v["total"]) for k, v in t2.items()} == {
        k: (v["n"], v["total"]) for k, v in t3.items()
    }


def test_warehouse_dim_example_app(spark, tmp_path):
    """examples/warehouse_dim: SCD2 merge + point-in-time enrichment.
    Orders before the update's effective date see the OLD balance;
    orders after see the NEW one."""
    import datetime as dt

    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/warehouse_dim")

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    dim = cust.select(
        "c_custkey", "c_acctbal",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 500.0).alias("c_acctbal"),
        F.lit("1997-01-01").cast("timestamp").alias("effective_ts"),
    )
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    eng.seed_store("customer_dim", dim)
    eng.seed_store("dim_updates", updates)
    eng.seed_store("orders", orders)
    eng.run_graph()

    enr = eng.table_df("enriched_orders")
    assert enr.count() == orders.count()  # every order matched exactly one interval
    bal = {r["c_custkey"]: r["c_acctbal"] for r in cust.collect()}
    probe = enr.join(
        orders.select("o_orderkey", "o_custkey"), "o_orderkey"
    ).filter(F.col("o_custkey") % 3 == 0)
    pre = probe.filter(F.col("o_orderdate") < "1997-01-01").collect()
    post = probe.filter(F.col("o_orderdate") >= "1997-01-01").collect()
    assert pre and post
    assert all(abs(r["acctbal_at_order_time"] - bal[r["o_custkey"]]) < 1e-6 for r in pre)
    assert all(
        abs(r["acctbal_at_order_time"] - (bal[r["o_custkey"]] + 500.0)) < 1e-6
        for r in post
    )


def test_retrieval_serving_example_app(spark, tmp_path):
    """examples/retrieval_serving: index artifacts persist as versioned
    stores and the hybrid query serves from them."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/retrieval_serving")
    eng.seed_store(
        "documents",
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng.seed_store("embeddings", emb)
    eng.run_graph()

    dim = emb.select(F.size("embedding")).first()[0]
    assert eng.table_df("quantizer").count() == dim
    cells = eng.table_df("index_cells")
    assert cells.count() == emb.count()
    assert set(cells.columns) == {"vec_id", "cell", "codes"}
    res = eng.table_df("results")
    rows = res.orderBy("rank").collect()
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    assert all(r["score"] > 0 for r in rows)


def test_corpus_health_example_app(spark, tmp_path):
    """examples/corpus_health runs end-to-end: per-doc signals, Zipf
    fit, per-source KL, k-means topic report, one-row summary gate."""
    from pyspark.sql import functions as F

    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph("examples/corpus_health")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    eng.seed_store("documents", docs)
    eng.seed_store("embeddings", emb)
    eng.run_graph()

    sig = eng.table_df("doc_signals")
    assert sig.count() == docs.count()  # every doc scored, none dropped
    assert sig.filter(F.col("entropy_bits") <= 0).count() == 0
    zipf = eng.table_df("zipf_report").collect()
    assert len(zipf) == 1 and zipf[0]["zipf_slope"] < 0
    div = eng.table_df("source_divergence")
    assert div.count() == docs.select("source").distinct().count()
    assert div.filter(F.col("kl_bits") < 0).count() == 0  # KL >= 0
    clus = eng.table_df("topic_clusters")
    assert clus.count() == 8
    assert clus.agg(F.sum("n_vecs")).collect()[0][0] == emb.count()
    summ = eng.table_df("health_summary").collect()
    assert len(summ) == 1 and summ[0]["n_docs"] == docs.count()


def test_store_cache_one_handle_under_concurrent_first_touch(
    spark, tmp_path, monkeypatch
):
    """Threads touching a store for the first time at once must all get
    the engine's single cached handle — a second handle would commit
    against a stale commit_seq (ConcurrentWriteError) or read a stale
    manifest. Handle construction is slowed to widen the race."""
    import sys
    import threading
    import time

    from basis_devkit_spark.engine import engine as engine_mod

    opened = []

    class SlowStore(engine_mod.TableStore):
        def __init__(self, *a, **kw):
            time.sleep(0.05)
            super().__init__(*a, **kw)
            opened.append(self)

    monkeypatch.setattr(engine_mod, "TableStore", SlowStore)
    eng = Engine(spark, str(tmp_path / "store"))
    start = threading.Barrier(16, timeout=30)
    got = []

    def touch():
        start.wait()
        got.append(eng.store("x"))

    threads = [threading.Thread(target=touch) for _ in range(16)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 and all(h is got[0] for h in got)
    assert len(opened) == 1


_DATAFLOW_YML = """
functions:
  - uses: t/a@v1
    id: a
    outputs: { out: ta }
  - uses: t/b@v1
    id: b
    inputs: { src: ta }
    outputs: { out: tb }
  - uses: t/s@v1
    id: s
    outputs: { out: ts }
stores:
  - table: ta
  - table: tb
  - table: ts
"""


@pytest.mark.parametrize("parallelism", [None, 4])
def test_run_graph_starts_node_when_its_inputs_commit(spark, tmp_path, parallelism):
    """Dataflow, not level barriers: in a chain a -> b beside an
    independent node s, b starts as soon as a commits — while s (same
    topological level as a) is still running. s waits for b's signal;
    a level-by-level or sequential run makes b wait for s instead."""
    import threading

    b_ran = threading.Event()
    seen = {}
    app = write_app(tmp_path / "app", _DATAFLOW_YML)
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.register_component("t/a@v1", lambda engine, node: None)
    eng.register_component("t/b@v1", lambda engine, node: b_ran.set())
    eng.register_component(
        "t/s@v1", lambda engine, node: seen.update(b_during_s=b_ran.wait(20))
    )
    kwargs = {} if parallelism is None else {"parallelism": parallelism}
    eng.run_graph(**kwargs)
    assert seen == {"b_during_s": True}
    assert {e["node"] for e in eng.run_log} == {"a", "b", "s"}


def test_run_graph_failure_stops_submission_and_reraises(spark, tmp_path):
    """A node raising during a concurrent pass: run_graph re-raises that
    error, the node downstream of it never runs, and the commit of an
    independent node that was already running stands."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: boom.py
            id: boom
            inputs: { src: numbers }
            outputs: { out: broken }
          - node_file: after.sql
            id: downstream
            inputs: { src: broken }
            outputs: { out: after }
          - node_file: indep.sql
            id: zz_indep
            inputs: { src: numbers }
            outputs: { out: kept }
        stores:
          - table: numbers
          - table: broken
          - table: after
          - table: kept
        """,
        **{
            "boom.py": """
            raise RuntimeError("node boom failed")
            """,
            "after.sql": "select * from {{ src }}",
            "indep.sql": "select n * 10 as n from {{ src }}",
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("numbers", spark.createDataFrame([(1,), (2,)], "n int"))
    with pytest.raises(RuntimeError, match="node boom failed"):
        eng.run_graph()
    assert [e["node"] for e in eng.run_log] == ["zz_indep"]
    assert not eng.store("after").has_active_version()
    assert sorted(r.n for r in eng.table_df("kept").collect()) == [10, 20]


_DIAMOND_YML = """
functions:
  - webhook: hook
  - uses: t/noop@v1
    id: a
    inputs: { src: hook }
    outputs: { out: ta }
  - uses: t/noop@v1
    id: c
    inputs: { x: ta, y: tb }
    outputs: { out: tc }
  - uses: t/noop@v1
    id: b
    inputs: { src: ta }
    outputs: { out: tb }
stores:
  - table: ta
  - table: tb
  - table: tc
"""


@pytest.mark.parametrize("entry", ["webhook_receive", "trigger"])
def test_signal_run_runs_consumer_once_after_all_producers(spark, tmp_path, entry):
    """Diamond a -> b -> c plus a -> c: a signal-driven run (webhook
    ingest or a manual trigger of a) runs c exactly once, after b — never
    first against a stale tb and again once b commits."""
    app = write_app(tmp_path / "app", _DIAMOND_YML)
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.register_component("t/noop@v1", lambda engine, node: None)
    if entry == "webhook_receive":
        eng.webhook_receive("hook", [{"x": 1}])
    else:
        eng.trigger("a")
    ran = [e["node"] for e in eng.run_log]
    assert sorted(ran) == ["a", "b", "c"]
    assert ran.index("b") < ran.index("c")


def test_webhook_consumer_request_new_run_processes_every_chunk(spark, tmp_path):
    """A webhook-fed node that works in chunks via request_new_run gets
    its re-runs inside the same webhook_receive (node.py:482-500)."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - webhook: hook
          - node_file: chunker.py
            id: chunknode
            inputs:
              src_t: hook
            outputs:
              dst_t: dst
        stores:
          - table: dst
        """,
        **{
            "chunker.py": """
            from basis_devkit_spark import Table, State
            from pyspark.sql import functions as F

            src = Table("src_t", "r")
            dst = Table("dst_t", "w")
            state = State()

            done = state.get_value("offset", 0)
            batch = src.read_dataframe().filter(
                (F.col("x") >= done) & (F.col("x") < done + 2)
            )
            dst.append(batch)
            state.set_value("offset", done + 2)
            if done + 2 < 6:
                state.request_new_run()
            """,
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.webhook_receive("hook", [{"x": i} for i in range(6)])
    assert sorted(r.x for r in eng.table_df("dst").collect()) == [0, 1, 2, 3, 4, 5]
    assert [e["node"] for e in eng.run_log] == ["chunknode"] * 3


def test_webhook_fan_out_overlaps_independent_consumers(spark, tmp_path):
    """Two consumers of one webhook that share no other store run at the
    same time: each sees the other start while it is still running."""
    import threading

    started = {"p": threading.Event(), "q": threading.Event()}
    seen = {}

    def consumer(me, other):
        def run(engine, node):
            started[me].set()
            seen[me] = started[other].wait(10)

        return run

    app = write_app(
        tmp_path / "app",
        """
        functions:
          - webhook: hook
          - uses: t/p@v1
            id: p
            inputs: { src: hook }
            outputs: { out: tp }
          - uses: t/q@v1
            id: q
            inputs: { src: hook }
            outputs: { out: tq }
        stores:
          - table: tp
          - table: tq
        """,
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.register_component("t/p@v1", consumer("p", "q"))
    eng.register_component("t/q@v1", consumer("q", "p"))
    eng.webhook_receive("hook", [{"x": 1}])
    assert seen == {"p": True, "q": True}


def test_webhook_failure_stops_propagation_and_reraises(spark, tmp_path):
    """A consumer raising during webhook propagation: webhook_receive
    re-raises its error, the node downstream of it never runs, and the
    commit of an independent consumer stands."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - webhook: hook
          - node_file: boom.py
            id: boom
            inputs: { src: hook }
            outputs: { out: broken }
          - node_file: after.sql
            id: downstream
            inputs: { src: broken }
            outputs: { out: after }
          - node_file: indep.sql
            id: zz_indep
            inputs: { src: hook }
            outputs: { out: kept }
        stores:
          - table: broken
          - table: after
          - table: kept
        """,
        **{
            "boom.py": """
            raise RuntimeError("node boom failed")
            """,
            "after.sql": "select * from {{ src }}",
            "indep.sql": "select n * 10 as n from {{ src }}",
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    with pytest.raises(RuntimeError, match="node boom failed"):
        eng.webhook_receive("hook", [{"n": 1}, {"n": 2}])
    assert [e["node"] for e in eng.run_log] == ["zz_indep"]
    assert not eng.store("after").has_active_version()
    assert sorted(r.n for r in eng.table_df("kept").collect()) == [10, 20]


def test_tick_runs_shared_consumer_of_due_nodes_once(spark, tmp_path):
    """Two cron nodes due in the same minute feed one consumer: the tick
    is one run, so the consumer runs once, after both."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - uses: t/noop@v1
            id: cron1
            trigger: '30 3 * * *'
            outputs: { out: t1 }
          - uses: t/noop@v1
            id: cron2
            trigger: '30 3 * * *'
            outputs: { out: t2 }
          - uses: t/noop@v1
            id: both
            inputs: { x: t1, y: t2 }
            outputs: { out: t3 }
        stores:
          - table: t1
          - table: t2
          - table: t3
        """,
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.register_component("t/noop@v1", lambda engine, node: None)
    assert eng.tick(datetime(2026, 8, 13, 3, 30)) == ["cron1", "cron2"]
    ran = [e["node"] for e in eng.run_log]
    assert sorted(ran) == ["both", "cron1", "cron2"]
    assert ran[-1] == "both"


def test_webhook_skips_consumer_of_unsignalled_store(spark, tmp_path):
    """A node whose producer committed no signal (declared its output
    but wrote nothing) is not run by webhook propagation."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - webhook: hook
          - node_file: quiet.py
            id: quiet
            inputs: { src_t: hook }
            outputs: { dst_t: quiet_out }
          - node_file: after.sql
            id: after
            inputs: { src: quiet_out }
            outputs: { out: after_out }
        stores:
          - table: quiet_out
          - table: after_out
        """,
        **{
            "quiet.py": """
            from basis_devkit_spark import Table

            src = Table("src_t", "r")
            dst = Table("dst_t", "w")
            """,
            "after.sql": "select * from {{ src }}",
        },
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.webhook_receive("hook", [{"x": 1}])
    assert [e["node"] for e in eng.run_log] == ["quiet"]
    assert not eng.store("after_out").has_active_version()


def test_respond_to_request_buffer_concurrent_eviction(spark, tmp_path):
    """Node threads responding at once past the 1000-entry cap: the FIFO
    eviction never races (no KeyError / dict-changed-size error) and the
    buffer ends at the cap."""
    import sys
    import threading

    eng = Engine(spark, str(tmp_path / "store"))
    start = threading.Barrier(8, timeout=30)
    errors = []

    def respond(r, t):
        start.wait()
        try:
            for i in range(2000):
                eng.respond_to_request(f"req-{r}-{t}-{i}", {"i": i})
        except Exception as exc:  # collected: a thread's error is not raised
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for r in range(3):
            threads = [
                threading.Thread(target=respond, args=(r, t)) for t in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    assert errors == []
    assert len(eng._request_responses) == 1000


def test_failed_run_leaves_no_version_in_output_store(spark, tmp_path):
    """A node whose output fails a store expectation makes run_graph
    raise; rerunning with fixed data through the same cached store
    handle commits a version, and nothing from the failed run shows up
    in the store's history."""
    app = write_app(
        tmp_path / "app",
        """
        functions:
          - node_file: pass.sql
            id: passnode
            inputs:
              src: raw
            outputs:
              out: clean
        stores:
          - table: raw
          - table: clean
            expectations:
              v_nonneg: v >= 0
            expectations_mode: fail
        """,
        **{"pass.sql": "select * from {{ src }}"},
    )
    eng = Engine(spark, str(tmp_path / "store"))
    eng.load_graph(app)
    eng.seed_store("raw", spark.createDataFrame([(1,)], "v int"))
    eng.run_graph()
    eng.seed_store("raw", spark.createDataFrame([(2,), (-1,)], "v int"))
    with pytest.raises(Exception, match="v_nonneg"):
        eng.run_graph()
    eng.seed_store("raw", spark.createDataFrame([(2,), (3,)], "v int"))
    eng.run_graph()

    clean = eng.store("clean")
    h = clean.history()
    assert [e["version"] for e in h] == [2, 1]
    assert all(e["on_disk"] for e in h)
    assert [e["record_count"] for e in h] == [2, 1]
    assert sorted(r.v for r in clean.read_version(2).collect()) == [2, 3]
