"""§2.A devkit-verb queries: framework semantics (upsert, streams, SQL-node
path) expressed as driver-checkable queries. These run the REAL engine code
paths (TableStore merge, Stream cursor) against temp storage, with ANSI-SQL
oracles expressing the contracted result."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_devkit_spark.session import local_relation

from basis_devkit_spark.queries import load, register


@register(
    "a01_table_scan",
    "select l_orderkey, l_linenumber, l_quantity from lineitem",
    doc="managed-table scan of the active version",
)
def a01(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "a03_read_sql",
    """
    select o_orderstatus, count(*) as n from orders group by o_orderstatus
    """,
    doc="Table.read_sql: register active version as view, run SQL over it",
)
def a03(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a03_")
    store = TableStore(tmp, "orders", spark)
    store.write_replace(load(spark, sf, "orders"))
    t = Table("orders", "r")
    t.bind(store, spark)
    return t.read_sql_dataframe(
        "select o_orderstatus, count(*) as n from orders group by o_orderstatus"
    )


@register(
    "a05_upsert",
    """
    with old as (
      select o_orderkey, o_totalprice from orders where o_orderkey % 2 = 0
    ), new as (
      select o_orderkey, o_totalprice * 2 as o_totalprice
      from orders where o_orderkey % 3 = 0
    )
    select o_orderkey, o_totalprice from old
    where o_orderkey not in (select o_orderkey from new)
    union all
    select o_orderkey, o_totalprice from new
    """,
    doc="real TableStore.upsert (unique_on merge) vs merge-semantics SQL",
)
def a05(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a05_")
    store = TableStore(tmp, "t", spark)
    t = Table("t", "w")
    t.bind(store, spark)
    t.init(unique_on="o_orderkey")
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.flush()
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
    )
    return t.read_dataframe()


@register(
    "a06_replace",
    """
    select o_orderkey, o_totalprice from orders where o_orderkey % 5 = 0
    """,
    doc="Table.replace: fresh version holds exactly the new rows",
)
def a06(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a06_")
    store = TableStore(tmp, "t", spark)
    t = Table("t", "w")
    t.bind(store, spark)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    t.append(orders.limit(50))
    t.flush()
    t.replace(orders.filter(F.col("o_orderkey") % 5 == 0))
    return t.read_dataframe()


@register(
    "a13_stream_consume",
    """
    select event_id, event_type, user_id from events where event_id > 500
    """,
    doc="stream cursor read: strictly-greater-than pushdown filter",
)
def a13(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a13_")
    store = TableStore(tmp, "events", spark)
    store.write_replace(load(spark, sf, "events"))
    t = Table("events", "r")
    t.bind(store, spark)
    stream = t.as_stream(order_by="event_id", starting_value=500)
    return stream.read_dataframe().select("event_id", "event_type", "user_id")


@register(
    "a08_execute_sql_ctas",
    """
    select o_orderstatus, cast(sum(cast(o_totalprice as decimal(18,2))) as double)
           as total from orders group by o_orderstatus
    """,
    doc="Table.execute_sql CREATE TABLE ... AS over the managed catalog",
)
def a08(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a08_")
    src_store = TableStore(tmp, "orders_src", spark)
    src_store.write_replace(load(spark, sf, "orders"))
    src_store.read().createOrReplaceTempView("orders_src")

    out_store = TableStore(tmp, "agg_out", spark)
    t = Table("agg_out", "w")
    t.bind(out_store, spark)
    t.execute_sql(
        "create table agg_out as select o_orderstatus, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total "
        "from orders_src group by o_orderstatus"
    )
    return t.read_dataframe()


@register(
    "a07_truncate",
    "select o_orderkey, o_totalprice from orders where 1 = 0",
    doc="truncate: all rows gone, schema kept",
)
def a07(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a07_")
    store = TableStore(tmp, "t", spark)
    t = Table("t", "w")
    t.bind(store, spark)
    t.append(load(spark, sf, "orders").select("o_orderkey", "o_totalprice"))
    t.flush()
    t.truncate()
    return t.read_dataframe()


@register(
    "a09_version_rollback",
    "select o_orderkey, o_totalprice from orders",
    doc="versioning: replace creates v2; rolling the pointer back restores v1",
)
def a09(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a09_")
    store = TableStore(tmp, "t", spark)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    v1 = store.write_replace(orders)
    store.write_replace(orders.limit(3))  # v2 active
    store.set_active_version(v1)  # pointer rollback
    return store.read()


@register(
    "a02_read_chunks",
    "select c_custkey, c_acctbal from customer",
    doc="Table.read_dataframe(chunksize): pandas chunk iteration reassembles "
    "the table exactly (A2)",
)
def a02(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a02_")
    store = TableStore(tmp, "customer", spark)
    store.write_replace(load(spark, sf, "customer").select("c_custkey", "c_acctbal"))
    t = Table("customer", "r")
    t.bind(store, spark)
    chunks = list(t.read_dataframe(chunksize=200))
    assert all(len(c) <= 200 for c in chunks)
    return spark.createDataFrame(
        pd.concat(chunks, ignore_index=True), schema=store.read().schema
    )


@register(
    "a04_append",
    """
    select o_orderkey, o_totalprice from orders where o_orderkey % 7 = 0
    union all
    select o_orderkey, o_totalprice from orders where o_orderkey % 7 = 1
    """,
    doc="copy-on-write append (A4): two appended batches, each in its own "
    "immutable lineage directory; read = union of the lineage",
)
def a04(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a04_")
    store = TableStore(tmp, "t", spark)
    t = Table("t", "w")
    t.bind(store, spark)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    t.append(orders.filter(F.col("o_orderkey") % 7 == 0))
    t.flush()
    t.append(orders.filter(F.col("o_orderkey") % 7 == 1))
    t.flush()
    return t.read_dataframe()


@register(
    "a06b_partitioned_store",
    """
    select o_orderkey, o_totalprice, o_orderstatus
    from orders where o_orderstatus = 'O'
    """,
    doc="partition_by store config: hive-layout write; the status filter "
    "prunes to one partition directory at the file index (A6 + B1)",
)
def a06b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a06b_")
    store = TableStore(tmp, "orders", spark)
    store.configure(partition_by="o_orderstatus")
    store.write_replace(
        load(spark, sf, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
    )
    return store.read().filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


@register(
    "a09b_time_travel",
    "select o_orderkey, o_totalprice from orders where o_orderkey % 4 = 0",
    doc="time travel (A9): read_version(v1) is byte-stable after later "
    "appends (lineage dirs are immutable once committed)",
)
def a09b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a09b_")
    store = TableStore(tmp, "t", spark)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    v1 = store.write_replace(orders.filter(F.col("o_orderkey") % 4 == 0))
    store.append(orders.filter(F.col("o_orderkey") % 4 == 1))
    store.append(orders.filter(F.col("o_orderkey") % 4 == 2))
    return store.read_version(v1)


@register(
    "a14_stream_checkpoint",
    """
    select event_id, event_type, user_id from (
      select event_id, event_type, user_id,
             row_number() over (order by event_id) as rn
      from events
    ) where rn > 300
    """,
    doc="stream checkpoint/rollback (A14): consume 300 records, checkpoint, "
    "consume 200 more, roll back — the read resumes after record #300",
)
def a14(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a14_")
    store = TableStore(tmp, "events", spark)
    store.write_replace(load(spark, sf, "events"))
    t = Table("events", "r")
    t.bind(store, spark)
    stream = t.as_stream(order_by="event_id")
    it = stream.consume_records()
    for _ in range(300):
        next(it)
    stream.checkpoint()
    for _ in range(200):
        next(it)
    stream.rollback()  # discard the 200 past the checkpoint
    return stream.read_dataframe().select("event_id", "event_type", "user_id")


@register(
    "a15_stream_seek",
    "select event_id, event_type, user_id from events where event_id > 750",
    doc="stream rewind + seek (A15): consume some, rewind to start, seek(750) "
    "— next read is strictly greater than the sought value",
)
def a15(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a15_")
    store = TableStore(tmp, "events", spark)
    store.write_replace(load(spark, sf, "events"))
    t = Table("events", "r")
    t.bind(store, spark)
    stream = t.as_stream(order_by="event_id")
    it = stream.consume_records()
    for _ in range(100):
        next(it)
    stream.rewind()
    stream.seek(750)
    return stream.read_dataframe().select("event_id", "event_type", "user_id")


@register(
    "a17_state_persistence",
    """
    select * from (values ('cursor', '42'), ('phase', 'two')) as t(key, value)
    """,
    doc="state kv persistence (A17): StateStore save → fresh instance load "
    "round-trips the node's state document",
)
def a17(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.storage.state import StateStore

    tmp = tempfile.mkdtemp(prefix="bds_a17_")
    StateStore(tmp).save("node1", {"cursor": "42", "phase": "two"})
    reloaded = StateStore(tmp).load("node1")  # fresh instance, disk read
    rows = sorted(reloaded.items())
    return local_relation(spark, rows, "key string, value string")


@register(
    "a19_rerun_chunked",
    "select o_orderkey, o_totalprice from orders where o_orderkey <= 6000",
    doc="request_new_run chunked processing (A19): node appends one 1500-key "
    "range per run and re-enqueues itself until the input is exhausted",
)
def a19(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import textwrap

    from basis_devkit_spark.engine import Engine

    tmp = tempfile.mkdtemp(prefix="bds_a19_")
    app = os.path.join(tmp, "app")
    os.makedirs(app)
    with open(os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
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
                """
            )
        )
    with open(os.path.join(app, "chunker.py"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                from basis_devkit_spark import Table, State
                from pyspark.sql import functions as F

                src = Table("src_t", "r")
                dst = Table("dst_t", "w")
                state = State()

                lo = state.get_value("offset", -1500)  # first range covers key 0
                batch = src.read_dataframe().filter(
                    (F.col("o_orderkey") > lo)
                    & (F.col("o_orderkey") <= lo + 1500)
                )
                dst.append(batch)
                state.set_value("offset", lo + 1500)
                if lo + 1500 < 6000:
                    state.request_new_run()
                """
            )
        )
    eng = Engine(spark, os.path.join(tmp, "store"))
    eng.load_graph(app)
    eng.seed_store(
        "src",
        load(spark, sf, "orders")
        .filter(F.col("o_orderkey") <= 6000)
        .select("o_orderkey", "o_totalprice"),
    )
    eng.run_graph()
    return eng.table_df("dst")


@register(
    "a20_parameters",
    """
    select o_orderkey, o_totalprice from orders
    where o_totalprice > 100000.0 and o_orderkey <= 30000
    """,
    doc="graph.yml parameters (A20): SQL node template renders "
    "{{ threshold }} from the node's parameters block",
)
def a20(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import textwrap

    from basis_devkit_spark.engine import Engine

    tmp = tempfile.mkdtemp(prefix="bds_a20_")
    app = os.path.join(tmp, "app")
    os.makedirs(app)
    with open(os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                functions:
                  - node_file: filt.sql
                    id: filtnode
                    inputs:
                      src: orders_in
                    outputs:
                      out: filtered
                    parameters:
                      threshold: 100000.0
                      keycap: 30000
                stores:
                  - table: orders_in
                  - table: filtered
                """
            )
        )
    with open(os.path.join(app, "filt.sql"), "w") as f:
        f.write(
            "select o_orderkey, o_totalprice from {{ src }}\n"
            "where o_totalprice > {{ threshold }} and o_orderkey <= {{ keycap }}"
        )
    eng = Engine(spark, os.path.join(tmp, "store"))
    eng.load_graph(app)
    eng.seed_store(
        "orders_in",
        load(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
    )
    eng.run_graph()
    return eng.table_df("filtered")


@register(
    "a22_webhook_ingest",
    """
    select kind, count(*) as n
    from (values ('a'), ('b'), ('a'), ('c'), ('a')) as t(kind)
    group by kind
    """,
    doc="webhook ingest + propagation (A22): payload lands in the webhook's "
    "auto-created table; the downstream SQL node fires on the signal",
)
def a22(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import textwrap

    from basis_devkit_spark.engine import Engine

    tmp = tempfile.mkdtemp(prefix="bds_a22_")
    app = os.path.join(tmp, "app")
    os.makedirs(app)
    with open(os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                functions:
                  - webhook: hook
                  - node_file: agg.sql
                    id: aggnode
                    inputs:
                      hook: hook
                    outputs:
                      out: totals
                stores:
                  - table: totals
                """
            )
        )
    with open(os.path.join(app, "agg.sql"), "w") as f:
        f.write("select kind, count(*) as n from {{ hook }} group by kind")
    eng = Engine(spark, os.path.join(tmp, "store"))
    eng.load_graph(app)
    eng.webhook_receive(
        "hook",
        [{"kind": k} for k in ["a", "b", "a", "c", "a"]],
    )
    return eng.table_df("totals")


@register(
    "a23_cron_schedule",
    """
    select ts from generate_series(
      timestamp '2024-01-01 00:00:00',
      timestamp '2024-01-01 03:45:00',
      interval 15 minute
    ) as t(ts)
    """,
    doc="cron schedule computation (A23): next_fire chain for "
    "'*/15 0-3 1 1 *' matches an independent 15-minute series",
)
def a23(spark: SparkSession, sf: str) -> DataFrame:
    from datetime import datetime

    from basis_devkit_spark.engine.cron import next_fire

    fires = []
    at = datetime(2023, 12, 31, 23, 59)
    for _ in range(16):
        at = next_fire("*/15 0-3 1 1 *", at)
        fires.append((at,))
    return local_relation(spark, fires, "ts timestamp")


@register(
    "c08_incremental_rollup",
    """
    select cast(date_trunc('hour', ts) as timestamp) as window_start,
           event_type, count(*) as n_events
    from events group by 1, 2
    """,
    doc="incremental materialized rollup (C1+C3+A13): a stream node consumes "
    "new events per run and additively merges hourly counts into a rollup "
    "table; two runs over a split feed must equal one full recompute — the "
    "exactly-once + cursor-resume contract, end to end through the engine",
)
def c08(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import textwrap

    from basis_devkit_spark.engine import Engine

    tmp = tempfile.mkdtemp(prefix="bds_c08_")
    app = os.path.join(tmp, "app")
    os.makedirs(app)
    with open(os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                functions:
                  - node_file: rollup.py
                    id: rollnode
                    inputs:
                      src_t: src
                    outputs:
                      dst_t: rollup
                stores:
                  - table: src
                  - table: rollup
                """
            )
        )
    with open(os.path.join(app, "rollup.py"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                from basis_devkit_spark import Table
                from pyspark.sql import functions as F

                src = Table("src_t", "r")
                roll = Table("dst_t", "w")

                batch = src.as_stream(order_by="event_id").consume_dataframe()
                inc = (
                    batch.groupBy(
                        F.window("ts", "1 hour").alias("w"), "event_type"
                    )
                    .agg(F.count(F.lit(1)).alias("n_events"))
                    .select(
                        F.col("w.start").alias("window_start"),
                        "event_type",
                        "n_events",
                    )
                )
                if roll.exists:
                    merged = (
                        roll.read_dataframe()
                        .unionByName(inc)
                        .groupBy("window_start", "event_type")
                        .agg(F.sum("n_events").alias("n_events"))
                    )
                else:
                    merged = inc
                roll.replace(merged)
                """
            )
        )
    eng = Engine(spark, os.path.join(tmp, "store"))
    eng.load_graph(app)
    events = load(spark, sf, "events").select("event_id", "event_type", "ts")
    eng.seed_store("src", events.filter(F.col("event_id") <= 6000))
    eng.run_graph()  # run 1: first tranche
    eng.store("src").append(events.filter(F.col("event_id") > 6000))
    eng.run_graph()  # run 2: resumes at the cursor, merges the delta
    return eng.table_df("rollup")


@register(
    "b02_csv_scan",
    "select n_nationkey, n_name, n_regionkey from nation",
    doc="CSV source round-trip: managed write → csv read with explicit schema",
)
def b02(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.sources import read_csv, write_csv

    tmp = tempfile.mkdtemp(prefix="bds_b02_")
    write_csv(load(spark, sf, "nation"), tmp)
    return read_csv(
        spark, tmp, schema="n_nationkey int, n_name string, n_regionkey int"
    )


@register(
    "b02b_jsonl_scan",
    "select r_regionkey, r_name from region",
    doc="JSON-lines source round-trip",
)
def b02b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.sources import read_json, write_json

    tmp = tempfile.mkdtemp(prefix="bds_b02b_")
    write_json(load(spark, sf, "region"), tmp)
    return read_json(spark, tmp, schema="r_regionkey int, r_name string")


@register(
    "a24_component_binding",
    """
    select o_orderkey, o_totalprice, o_totalprice * 3 as scaled
    from orders where o_orderkey <= 200
    """,
    doc="uses: org/name@v1 fetched from the local registry; inputs/outputs/"
    "parameters mappings from graph.yml bind the component's exposed ports",
)
def a24(spark: SparkSession, sf: str) -> DataFrame:
    """Publishes a scaler component (exposes src_t/dst_t, Parameter factor),
    then runs a consumer graph whose `uses:` node maps ports to parent
    stores and overrides factor=3 — the full reference component contract
    (download.py:9-21 key resolution, upload.py:74-97 publish)."""
    import os
    import textwrap

    from basis_devkit_spark.engine import Engine
    from basis_devkit_spark.graph.components import publish_component

    tmp = tempfile.mkdtemp(prefix="bds_a24_")
    comp = os.path.join(tmp, "comp")
    os.makedirs(comp)
    with open(os.path.join(comp, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                exposes:
                  inputs: [src_t]
                  outputs: [dst_t]
                functions:
                  - node_file: scale.py
                    id: scale
                    inputs:
                      src: src_t
                    outputs:
                      dst: dst_t
                    parameters:
                      factor: 2
                """
            )
        )
    with open(os.path.join(comp, "scale.py"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                from basis_devkit_spark import *
                from pyspark.sql import functions as F

                @node
                def scale(src=InputTable, dst=OutputTable,
                          factor=Parameter(type="int", default=2)):
                    df = src.read_dataframe()
                    dst.replace(
                        df.withColumn("scaled", F.col("o_totalprice") * factor)
                    )
                """
            )
        )
    registry = os.path.join(tmp, "registry")
    os.environ["BASIS_DEVKIT_SPARK_COMPONENTS"] = registry
    publish_component(comp, "testorg/scaler@v1", registry=registry)

    app = os.path.join(tmp, "app")
    os.makedirs(app)
    with open(os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            textwrap.dedent(
                """
                functions:
                  - uses: testorg/scaler@v1
                    id: scalenode
                    inputs:
                      src_t: orders_in
                    outputs:
                      dst_t: scaled_out
                    parameters:
                      factor: 3
                stores:
                  - table: orders_in
                  - table: scaled_out
                """
            )
        )
    eng = Engine(spark, os.path.join(tmp, "store"))
    eng.load_graph(app)
    eng.seed_store(
        "orders_in",
        load(spark, sf, "orders")
        .filter(F.col("o_orderkey") <= 200)
        .select("o_orderkey", "o_totalprice"),
    )
    eng.run_graph()
    return eng.table_df("scaled_out").select("o_orderkey", "o_totalprice", "scaled")


@register(
    "a25_stats_pruned_read",
    """
    select l_orderkey, l_linenumber, l_quantity, l_shipdate
    from lineitem where l_orderkey > 12000
    """,
    doc="file-level data skipping: manifest footer min/max stats drop files "
    "a range filter cannot match before Spark lists them (Delta-style); "
    "result identical to a plain filtered scan",
)
def a25(spark: SparkSession, sf: str) -> DataFrame:
    """Writes lineitem range-partitioned on l_orderkey into a managed store
    with stats_columns, then reads through ``TableStore.read_pruned`` — the
    data-skipping path a 100 TB cursor/time filter takes. The oracle is the
    equivalent plain SQL filter: pruning must never change results."""
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a25_")
    store = TableStore(tmp, "lineitem", spark)
    store.configure(stats_columns=["l_orderkey"])
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    )
    store.write_replace(li.repartitionByRange(8, "l_orderkey"))
    return store.read_pruned([("l_orderkey", ">", 12000)])


@register(
    "a26_write_expectations",
    """
    select event_id, event_type, value
    from events
    where value >= 1.0 and event_type is not null
    """,
    doc="write-time data expectations (drop mode): violating rows filtered "
    "during the write itself (observe-based single pass, counts recorded "
    "on the version) — surviving table == the oracle's WHERE clause",
)
def a26(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore

    tmp = _tf.mkdtemp(prefix="bds_a26_")
    st = TableStore(tmp, "events", spark)
    st.configure(
        expectations={
            "value_min": "value >= 1.0",
            "type_notnull": "event_type is not null",
        },
        expectations_mode="drop",
    )
    st.write_replace(
        load(spark, sf, "events").select("event_id", "event_type", "value")
    )
    # sanity: the recorded counts must reconcile with what was dropped
    assert sum(1 for _ in st.expectation_violations()) == 2
    return st.read()


@register(
    "a28_zorder_pruned_read",
    """
    select event_id, user_id, value
    from events
    where value > 90.0 and user_id < 200
    """,
    doc="Z-order clustered store (bit-interleaved quantile ranks on "
    "user_id+value): read_pruned skips files on EITHER dimension's filter "
    "— result must equal the plain filtered scan exactly",
)
def a28(spark: SparkSession, sf: str) -> DataFrame:
    """Writes events into a store Z-ordered on (user_id, value) — the
    multi-dimensional layout (store.py _zorder_value) — then reads through
    the data-skipping path with filters on BOTH dimensions. Pruning is a
    conservative superset, so the result must be identical to the oracle's
    WHERE; the layout's pruning WIN is asserted in
    tests/test_storage.py::test_zorder_prunes_on_every_dimension."""
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a28_")
    store = TableStore(tmp, "events", spark)
    store.configure(zorder_by=["user_id", "value"])
    ev = load(spark, sf, "events").select("event_id", "user_id", "value")
    store.write_replace(ev)
    return store.read_pruned([("value", ">", 90.0), ("user_id", "<", 200)])


@register(
    "a29_bucketed_colocated_join",
    """
    select c.c_custkey, count(*) as n_orders,
           round(sum(o.o_totalprice), 2) as spend
    from orders o join customer c on o.o_custkey = c.c_custkey
    where c.c_mktsegment = 'BUILDING'
    group by c.c_custkey
    """,
    doc="hash-bucketed store layout: orders and customer bucketed on the "
    "join key, read through the catalog binding (read_bucketed) and "
    "joined with ZERO exchanges (plan-asserted in-query) — result must "
    "equal the plain join",
)
def a29(spark: SparkSession, sf: str) -> DataFrame:
    """Writes orders+customer into stores bucketed on the join key
    (store.py bucket_by= / read_bucketed) and joins them co-located. The
    zero-shuffle property is asserted HERE (broadcast disabled for the
    probe) as well as plan-gated in tests — the oracle equality then
    proves the bucketed layout changes nothing about results."""
    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a29_")
    so = TableStore(tmp, "orders_b", spark)
    so.configure(bucket_by=["o_custkey"], num_buckets=8)
    so.write_replace(
        load(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    )
    sc = TableStore(tmp, "customer_b", spark)
    sc.configure(bucket_by=["c_custkey"], num_buckets=8)
    sc.write_replace(
        load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    )
    o = so.read_bucketed()
    c = sc.read_bucketed().filter(F.col("c_mktsegment") == "BUILDING")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = joined._jdf.queryExecution().executedPlan().toString()
        assert probe.count("Exchange hashpartitioning") == 0, "bucketed join shuffled"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return joined.groupBy("c_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )


@register(
    "a30_vacuum_retention",
    """
    select c_custkey, c_acctbal from customer where c_acctbal > 5000
    """,
    doc="vacuum retention: three versions written, vacuum(keep_last=2) "
    "deletes the oldest from disk; the ACTIVE version must still read "
    "exactly (pointer untouched), and the dropped version's files are "
    "gone while the kept previous version still time-travels",
)
def a30(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os

    from basis_devkit_spark.storage.store import TableStore

    tmp = tempfile.mkdtemp(prefix="bds_a30_")
    store = TableStore(tmp, "cust", spark)
    c = load(spark, sf, "customer").select("c_custkey", "c_acctbal")
    v1 = store.write_replace(c.filter(F.col("c_acctbal") > 9000))
    v2 = store.write_replace(c.filter(F.col("c_acctbal") > 7000))
    store.write_replace(c.filter(F.col("c_acctbal") > 5000))
    store.vacuum(keep_last=2)
    assert not _os.path.isdir(store.version_path(v1)), "v1 should be deleted"
    assert store.read_version(v2).count() > 0, "kept version must time-travel"
    return store.read()


@register(
    "a27_parallel_graph_run",
    """
    with rev as (
      select o_custkey, round(sum(o_totalprice), 2) as spend
      from orders group by o_custkey
    ), cnt as (
      select o_custkey, count(*) as n_orders from orders group by o_custkey
    )
    select rev.o_custkey as o_custkey, rev.spend, cnt.n_orders
    from rev join cnt on rev.o_custkey = cnt.o_custkey
    where rev.spend > 1000000
    """,
    doc="dataflow graph execution: two independent SQL nodes run "
    "concurrently (run_graph(parallelism=4)), a third starts once both "
    "commit and joins their outputs — results must equal the equivalent "
    "single-query relation exactly",
)
def a27(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os
    import textwrap as _tw

    from basis_devkit_spark.engine import Engine

    tmp = tempfile.mkdtemp(prefix="bds_a27_")
    app = _os.path.join(tmp, "app")
    _os.makedirs(app)
    with open(_os.path.join(app, "graph.yml"), "w") as f:
        f.write(
            _tw.dedent(
                """
                functions:
                  - node_file: rev.sql
                    id: rev1
                    inputs: { src: orders }
                    outputs: { out: rev }
                  - node_file: cnt.sql
                    id: cnt1
                    inputs: { src: orders }
                    outputs: { out: cnt }
                  - node_file: join.sql
                    id: join1
                    inputs: { r: rev, c: cnt }
                    outputs: { out: big_spenders }
                stores:
                  - table: orders
                  - table: rev
                  - table: cnt
                  - table: big_spenders
                """
            )
        )
    with open(_os.path.join(app, "rev.sql"), "w") as f:
        f.write(
            "select o_custkey, round(sum(o_totalprice), 2) as spend "
            "from {{ src }} group by o_custkey"
        )
    with open(_os.path.join(app, "cnt.sql"), "w") as f:
        f.write(
            "select o_custkey, count(*) as n_orders from {{ src }} group by o_custkey"
        )
    with open(_os.path.join(app, "join.sql"), "w") as f:
        f.write(
            "select r.o_custkey, r.spend, c.n_orders from {{ r }} r "
            "join {{ c }} c on r.o_custkey = c.o_custkey where r.spend > 1000000"
        )
    eng = Engine(spark, _os.path.join(tmp, "store"))
    eng.load_graph(_os.path.join(app, "graph.yml"))
    eng.seed_store("orders", load(spark, sf, "orders"))
    eng.run_graph(parallelism=4)
    return eng.table_df("big_spenders")


@register(
    "a31_dml_delete_update",
    """
    select o_orderkey,
           case when o_orderkey % 7 = 0
                then cast(cast(o_totalprice * 1.1 as decimal(18,4)) as double)
                else o_totalprice end as o_totalprice
    from orders
    where not (o_totalprice < 50000)
    """,
    doc="managed DML (Delta parity): DELETE WHERE + UPDATE WHERE as "
    "copy-on-write rewrites with new-version commits; result must equal "
    "the equivalent filter + CASE projection",
)
def a31(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore

    tmp = _tf.mkdtemp(prefix="bds_a31_")
    store = TableStore(tmp, "t", spark)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    store.write_replace(orders)
    store.delete_where("o_totalprice < 50000")
    store.update_where(
        {"o_totalprice": "cast(cast(o_totalprice * 1.1 as decimal(18,4)) as double)"},
        "o_orderkey % 7 = 0",
    )
    return store.read()


@register(
    "a32_change_feed",
    """
    with v1 as (
      select o_orderkey as k, o_totalprice as p from orders where o_orderkey % 2 = 0
    ), v2 as (
      select o_orderkey as k,
             case when o_orderkey % 6 = 0 then o_totalprice * 2
                  else o_totalprice end as p
      from orders where o_orderkey % 3 = 0
    )
    select 'insert' as _change_type, k, p from v2
    where k not in (select k from v1)
    union all
    select 'delete', k, p from v1
    where k not in (select k from v2)
    union all
    select 'update_preimage', v1.k, v1.p from v1 join v2 on v1.k = v2.k
    where v1.p <> v2.p
    union all
    select 'update_postimage', v2.k, v2.p from v1 join v2 on v1.k = v2.k
    where v1.p <> v2.p
    """,
    doc="change feed between two real store versions (Delta CDF "
    "analogue): REPLACE even-keyed orders, then REPLACE multiple-of-3 "
    "keys with some prices doubled; changes_between must equal the "
    "set-algebra classification",
)
def a32(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore

    tmp = _tf.mkdtemp(prefix="bds_a32_")
    store = TableStore(tmp, "t", spark)
    store.configure(unique_on="k")
    orders = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    store.write_replace(orders.filter(F.col("k") % 2 == 0))
    v1 = store.get_active_version()
    store.write_replace(
        orders.filter(F.col("k") % 3 == 0).withColumn(
            "p", F.when(F.col("k") % 6 == 0, F.col("p") * 2).otherwise(F.col("p"))
        )
    )
    v2 = store.get_active_version()
    return store.changes_between(v1, v2)


@register(
    "a33_stats_drift",
    """
    with v1 as (
      select o_orderkey as k, o_totalprice as p
      from orders where o_orderkey % 2 = 0
    ), v2 as (
      select o_orderkey as k,
             case when o_orderkey % 6 = 0 then o_totalprice * 2
                  else o_totalprice end as p,
             cast(o_orderkey % 7 as double) as extra
      from orders where o_orderkey % 3 = 0
    )
    select 'extra' as "column", 'schema' as "metric",
           cast(null as varchar) as "old", 'double' as "new"
    union all
    select '<table>', 'row_count',
           cast((select count(*) from v1) as varchar),
           cast((select count(*) from v2) as varchar)
    union all
    select 'k', 'nulls',
           cast((select count(*) - count(k) from v1) as varchar),
           cast((select count(*) - count(k) from v2) as varchar)
    union all
    select 'k', 'min',
           cast((select min(k) from v1) as varchar),
           cast((select min(k) from v2) as varchar)
    union all
    select 'k', 'max',
           cast((select max(k) from v1) as varchar),
           cast((select max(k) from v2) as varchar)
    union all
    select 'k', 'distinct',
           cast((select count(distinct k) from v1) as varchar),
           cast((select count(distinct k) from v2) as varchar)
    union all
    select 'p', 'nulls',
           cast((select count(*) - count(p) from v1) as varchar),
           cast((select count(*) - count(p) from v2) as varchar)
    union all
    select 'p', 'min',
           cast((select min(p) from v1) as varchar),
           cast((select min(p) from v2) as varchar)
    union all
    select 'p', 'max',
           cast((select max(p) from v1) as varchar),
           cast((select max(p) from v2) as varchar)
    union all
    select 'p', 'distinct',
           cast((select count(distinct p) from v1) as varchar),
           cast((select count(distinct p) from v2) as varchar)
    """,
    doc="per-column stats drift between two real store versions "
    "(stats_drift, the corpus-governance 'did the new batch shift the "
    "data?' report): REPLACE even-keyed orders, then REPLACE multiple-"
    "of-3 keys with some prices doubled plus an ADDED column — one "
    "(column, metric, old, new) row per drift fact: the schema "
    "addition, table row_count, and nulls/min/max/exact-distinct per "
    "shared column. Each side is one bounded aggregate job over its "
    "version snapshot; the oracle recomputes every cell from the same "
    "literal version predicates (double->varchar reprs agree: both "
    "engines print shortest round-trip decimals below 1e7)",
)
def a33(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore

    tmp = _tf.mkdtemp(prefix="bds_a33_")
    store = TableStore(tmp, "t", spark)
    orders = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    store.write_replace(orders.filter(F.col("k") % 2 == 0))
    v1 = store.get_active_version()
    store.write_replace(
        orders.filter(F.col("k") % 3 == 0)
        .withColumn(
            "p",
            F.when(F.col("k") % 6 == 0, F.col("p") * 2).otherwise(F.col("p")),
        )
        .withColumn("extra", (F.col("k") % 7).cast("double"))
    )
    v2 = store.get_active_version()
    return store.stats_drift(v1, v2)


@register(
    "a35_clone_shallow",
    """
    with li as (
      select l_orderkey as k, l_quantity as q from lineitem
    )
    select 'clone' as relation,
           cast(count(*) as bigint) as n_rows,
           cast(sum(cast(q as decimal(18,2))) as double) as sum_qty
    from li where k % 7 in (0, 1)
    union all
    select 'source',
           cast(count(*) as bigint),
           cast(sum(cast(q as decimal(18,2))) as double)
    from li where k % 7 = 2
    """,
    doc="zero-copy shallow clone (clone_shallow, Delta SHALLOW CLONE "
    "semantics): seed a store with the k%7=0 lineitem slice, clone it "
    "(the clone's version REFERENCES the source's immutable lineage "
    "dirs by absolute path — zero bytes copied or read), then diverge "
    "BOTH sides: append k%7=1 to the clone, replace the source with "
    "k%7=2. The report proves full independence — the clone reads "
    "union(0,1), the source reads exactly 2; the oracle recomputes "
    "both relations from the literal predicates. Zero-copy itself is "
    "pytest-asserted (no parquet under the clone's path; the clone's "
    "vacuum structurally cannot reach cross-table absolute refs)",
)
def a35(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore

    tmp = _tf.mkdtemp(prefix="bds_a35_")
    li = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").alias("q"),
    )
    src = TableStore(tmp, "src", spark)
    src.write_replace(li.filter(F.col("k") % 7 == 0))
    clone = TableStore(tmp, "clone", spark)
    src.clone_shallow(clone)
    clone.append(li.filter(F.col("k") % 7 == 1))
    src.write_replace(li.filter(F.col("k") % 7 == 2))

    def rep(store: TableStore, name: str) -> DataFrame:
        return store.read().agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("q").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )

    return rep(clone, "clone").unionAll(rep(src, "source"))


@register(
    "a36_incremental_view_maintenance",
    """
    with v2 as (
      select o_orderkey as k,
             case when o_orderkey % 6 = 0 then o_totalprice * 2
                  else o_totalprice end as p
      from orders where o_orderkey % 3 = 0
    )
    select cast(k % 10 as bigint) as bucket,
           cast(count(*) as bigint) as n_rows,
           cast(sum(cast(p as decimal(18,2))) as double) as sum_p
    from v2 group by bucket
    """,
    doc="incremental materialized-view maintenance from the change "
    "feed (apply_agg_delta over changes_between — the COUNT/SUM delta "
    "rule): build a bucketed aggregate over version 1 of a real store, "
    "REPLACE the base with version 2 (different keys, some prices "
    "doubled), then bring the aggregate current by applying ONLY the "
    "CDF delta — inserts/post-images add, deletes/pre-images "
    "subtract, decimal-exact sums, zero-count groups dropped. The "
    "result must equal a direct aggregate of version 2 (the oracle "
    "recomputes exactly that from the literal predicates); the base "
    "is never re-read — change-feed cost, not base-scan cost",
)
def a36(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore, apply_agg_delta

    tmp = _tf.mkdtemp(prefix="bds_a36_")
    base = TableStore(tmp, "base", spark)
    base.configure(unique_on="k")
    orders = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    bucket = (F.col("k") % 10).cast("long").alias("bucket")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy(bucket).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("p").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_p"),
        )

    base.write_replace(orders.filter(F.col("k") % 2 == 0))
    v1 = base.get_active_version()
    view = TableStore(tmp, "view", spark)
    view.configure(unique_on="bucket")
    view.write_replace(agg_of(base.read()))

    base.write_replace(
        orders.filter(F.col("k") % 3 == 0).withColumn(
            "p",
            F.when(F.col("k") % 6 == 0, F.col("p") * 2).otherwise(
                F.col("p")
            ),
        )
    )
    v2 = base.get_active_version()
    changes = base.changes_between(v1, v2).select(
        "_change_type", bucket, "p"
    )
    view.write_replace(
        apply_agg_delta(
            view.read(), changes, ["bucket"], {"p": "sum_p"}
        )
    )
    return view.read().select(
        "bucket", "n_rows", F.col("sum_p").cast("double").alias("sum_p")
    )
