"""Storage-core semantics (SURVEY §5.2 item 3): versioning, upsert,
monotonic ids, schema hints, vacuum, state store."""

import json
import os

import pytest
from pyspark.sql import functions as F

from basis_devkit_spark.storage.state import StateStore
from basis_devkit_spark.storage.store import TableStore, encode_base32


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(str(tmp_path), "t", spark)


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def test_append_creates_then_extends(store, spark):
    store.append(_df(spark, [(1, "a")]))
    assert store.record_count == 1
    v1 = store.get_active_version()
    store.append(_df(spark, [(2, "b"), (3, "c")]))
    assert store.record_count == 3
    # copy-on-write: append commits a NEW version whose lineage reuses v1's
    # directory untouched; time travel of v1 is stable.
    assert store.get_active_version() != v1
    assert store.read_version(v1).count() == 1


def test_replace_makes_new_version(store, spark):
    store.append(_df(spark, [(1, "a")]))
    v1 = store.get_active_version()
    store.write_replace(_df(spark, [(9, "z")]))
    assert store.get_active_version() != v1
    assert [r.k for r in store.read().collect()] == [9]
    # old version still on disk until vacuum
    assert os.path.isdir(store.version_path(v1))


def test_truncate_keeps_schema(store, spark):
    store.append(_df(spark, [(1, "a")]))
    store.truncate()
    assert store.record_count == 0
    assert [f.name for f in store.read().schema.fields] == ["k", "v"]


def test_upsert_requires_unique_on(store, spark):
    store.append(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unique_on"):
        store.upsert(_df(spark, [(1, "b")]))


def test_upsert_merges(store, spark):
    store.configure(unique_on=["k"])
    store.upsert(_df(spark, [(1, "a"), (2, "b")]))
    store.upsert(_df(spark, [(2, "B"), (3, "c")]))
    got = {r.k: r.v for r in store.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_reset_points_at_null_version(store, spark):
    store.append(_df(spark, [(1, "a")]))
    store.reset()
    assert not store.has_active_version()


def test_vacuum_drops_old_versions(store, spark):
    for i in range(4):
        store.write_replace(_df(spark, [(i, "x")]))
    versions = sorted(int(v) for v in store._manifest.versions)
    store.vacuum(keep_last=2)
    remaining = sorted(int(v) for v in store._manifest.versions)
    assert len(remaining) == 2
    assert store.get_active_version() in remaining
    assert not os.path.isdir(store.version_path(versions[0]))


def test_schema_hints_cast(store, spark):
    store.configure(schema_hints={"k": "Text", "v": "Text"})
    store.append(_df(spark, [(1, "a")]))
    types = {f.name: f.dataType.simpleString() for f in store.read().schema.fields}
    assert types["k"] == "string"


def test_monotonic_id_strictly_increasing_across_commits(store, spark):
    store.configure(add_monotonic_id="mid")
    store.append(_df(spark, [(1, "a"), (2, "b")]))
    store.append(_df(spark, [(3, "c")]))
    ids = [r.mid for r in store.read().orderBy("k").collect()]
    assert ids == sorted(ids)
    assert len(set(ids)) == 3
    # base32, fixed width, lexicographic == numeric
    assert all(len(i) == 13 for i in ids)


def test_add_created_column(store, spark):
    store.configure(add_created="created_at")
    store.append(_df(spark, [(1, "a")]))
    row = store.read().collect()[0]
    assert row.created_at is not None


def test_encode_base32_ordering():
    vals = [0, 1, 31, 32, 1000, 10**12]
    encs = [encode_base32(v) for v in vals]
    assert encs == sorted(encs)
    with pytest.raises(ValueError):
        encode_base32(-1)


def test_failed_append_leaves_active_version_intact(store, spark, monkeypatch):
    """Crash-injection: a write failure mid-append must leave the active
    version byte-identical and invisible to readers (copy-on-write + manifest
    pointer flip as the only commit point)."""
    store.append(_df(spark, [(1, "a"), (2, "b")]))
    v1 = store.get_active_version()
    vdir = store.version_path(v1)
    snapshot = {
        f: os.path.getmtime(os.path.join(vdir, f)) for f in sorted(os.listdir(vdir))
    }

    def boom(df, path, mode):
        raise RuntimeError("disk on fire")

    monkeypatch.setattr(store, "_write", boom)
    with pytest.raises(RuntimeError):
        store.append(_df(spark, [(3, "c")]))
    monkeypatch.undo()
    assert store.get_active_version() == v1
    after = {
        f: os.path.getmtime(os.path.join(vdir, f)) for f in sorted(os.listdir(vdir))
    }
    assert after == snapshot  # no file in the committed dir was touched
    assert store.read().count() == 2


def test_time_travel_stable_across_appends(store, spark):
    store.append(_df(spark, [(1, "a")]))
    v1 = store.get_active_version()
    before = [(r.k, r.v) for r in store.read_version(v1).collect()]
    store.append(_df(spark, [(2, "b")]))
    store.append(_df(spark, [(3, "c")]))
    assert [(r.k, r.v) for r in store.read_version(v1).collect()] == before
    assert store.read().count() == 3


def test_monotonic_ids_unique_across_upserts(store, spark):
    """ADVICE r01: upsert must advance the monotonic counter — successive
    upserts may never reuse ids."""
    store.configure(unique_on=["k"], add_monotonic_id="mid")
    store.upsert(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    store.upsert(_df(spark, [(4, "d"), (5, "e")]))
    ids = [r.mid for r in store.read().collect()]
    assert len(ids) == len(set(ids)) == 5


def test_monotonic_id_plan_is_jvm_side(store, spark):
    """The id-assignment plan must contain no Python UDF (BatchEvalPython)
    and no single-partition global sort/exchange — the write path has to
    stay distributed at 100 TB."""
    store.configure(add_monotonic_id="mid")
    df = spark.range(0, 1000, 1, 8).selectExpr("id as k", "cast(id as string) as v")
    decorated = store._decorate(df)
    plan = decorated._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan
    assert "SinglePartition" not in plan
    ids = [r.mid for r in decorated.collect()]
    assert len(set(ids)) == 1000
    assert all(len(i) == 13 for i in ids)
    # matches the documented base32 alphabet exactly
    assert min(ids) == encode_base32(1)
    store._release()


def test_write_is_single_job(store, spark):
    """Commit-time counts ride the write job via df.observe — a plain
    write_replace must launch exactly ONE Spark job (no re-read of output,
    no pre-count of input)."""
    sc = spark.sparkContext
    group = "jobcount-write"
    sc.setJobGroup(group, "probe")
    try:
        store.write_replace(_df(spark, [(1, "a"), (2, "b")]))
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1


def test_state_store_roundtrip(tmp_path):
    ss = StateStore(str(tmp_path))
    ss.save("n1", {"cursor": 42, "name": "x"})
    assert ss.load("n1") == {"cursor": 42, "name": "x"}
    ss.reset("n1")
    assert ss.load("n1") == {}


def test_partitioned_store_prunes(spark, tmp_path):
    store = TableStore(str(tmp_path), "pt", spark)
    store.configure(partition_by=["d"])
    df = spark.createDataFrame(
        [(i, f"2026-01-{(i % 3) + 1:02d}") for i in range(30)], "k int, d string"
    )
    store.write_replace(df)
    # hive layout on disk
    vdir = store.version_path(store.get_active_version())
    assert os.path.isdir(os.path.join(vdir, "d=2026-01-01"))
    back = store.read()
    assert back.count() == 30
    # partition pruning visible in the plan
    plan = back.filter(F.col("d") == "2026-01-02")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d" in plan
    # appends keep the layout
    store.append(spark.createDataFrame([(99, "2026-01-01")], "k int, d string"))
    assert store.read().count() == 31


def test_partitioned_upsert_scopes_merge_and_preserves_untouched(spark, tmp_path):
    """Upsert on a partitioned store: touched partitions merge on the key,
    untouched partitions pass through unchanged; results identical to a
    global merge."""
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.configure(unique_on=["p", "k"], partition_by="p")
    base = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "k int, p string, val double",
    )
    store.write_replace(base)
    # Batch touches only partition 'a': update k=0, insert k=100.
    batch = spark.createDataFrame(
        [(0, "a", 999.0), (100, "a", 111.0)], "k int, p string, val double"
    )
    store.upsert(batch)
    got = {(r.k, r.p): r.val for r in store.read().collect()}
    assert got[(0, "a")] == 999.0 and got[(100, "a")] == 111.0
    # Untouched partitions byte-identical.
    for i in range(30):
        p = ["a", "b", "c"][i % 3]
        if p != "a":
            assert got[(i, p)] == float(i)
    assert len(got) == 31


def test_partitioned_upsert_join_is_partition_pruned(spark, tmp_path):
    """The survivors plan must show the anti-join reading only touched
    partitions (PartitionFilters on that scan branch)."""
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.configure(unique_on=["p", "k"], partition_by="p")
    base = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "k int, p string, val double",
    )
    store.write_replace(base)
    batch = spark.createDataFrame([(0, "a", 9.0)], "k int, p string, val double")
    batch = store._apply_hints(batch)
    survivors = store._upsert_survivors(store.read(), batch, ["p", "k"])
    plan = survivors._sc._jvm.PythonSQLUtils.explainString(
        survivors._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # At least one scan carries a non-trivial partition predicate on p.
    assert any("p#" in ln or "(p" in ln or "p =" in ln for ln in pf_lines), pf_lines


def test_partitioned_upsert_null_partition_value(spark, tmp_path):
    """Rows with a NULL partition value merge correctly under the scoped
    path: the NULL partition lands in the touched set (null-safe semi-join
    + isNull branch in the partition predicate)."""
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.configure(unique_on="k", partition_by="p")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0)],
        "k int, p string, val double",
    )
    store.write_replace(base)
    # Touch only the NULL partition.
    store.upsert(
        spark.createDataFrame([(2, None, 22.0)], "k int, p string, val double")
    )
    got = {r.k: (r.p, r.val) for r in store.read().collect()}
    assert got[2][1] == 22.0 and got[1] == ("a", 1.0) and got[3] == ("b", 3.0)
    assert len(got) == 3


def test_upsert_key_moving_between_partitions_stays_unique(spark, tmp_path):
    """When unique_on does NOT include the partition column, a key whose
    partition value changes must still be merged — the touched-partition
    set includes the stale row's partition (derived from old rows matching
    incoming keys via the narrow semi-join)."""
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.configure(unique_on="k", partition_by="day")
    store.write_replace(
        spark.createDataFrame([(1, "d1", 1.0), (2, "d1", 2.0)],
                              "k int, day string, val double")
    )
    store.upsert(
        spark.createDataFrame([(1, "d2", 99.0)], "k int, day string, val double")
    )
    rows = {(r.k): (r.day, r.val) for r in store.read().collect()}
    assert len(rows) == 2                  # k=1 exists exactly once
    assert rows[1] == ("d2", 99.0)
    assert rows[2] == ("d1", 2.0)


def test_upsert_key_migration_scoped_partition_pruned(spark, tmp_path):
    """Key-migration upsert is partition-SCOPED, not a global merge: with
    k=1 migrating d1→d2 and d3 untouched, the survivors plan joins only
    {d1, d2} (PartitionFilters on the join branch) while d3 passes through
    behind a pruning filter; the merged result is still exact."""
    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.configure(unique_on="k", partition_by="day")
    base = spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0), (4, "d3", 4.0)],
        "k int, day string, val double",
    )
    store.write_replace(base)
    batch = spark.createDataFrame(
        [(1, "d2", 99.0)], "k int, day string, val double"
    )
    batch = store._apply_hints(batch)
    survivors = store._upsert_survivors(store.read(), batch, ["k"])
    plan = survivors._sc._jvm.PythonSQLUtils.explainString(
        survivors._jdf.queryExecution(), "formatted"
    )
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    # The join branch's scan is scoped to the touched partitions d1/d2.
    assert any("d1" in ln or "d2" in ln for ln in pf_lines), plan
    # End-to-end: migrating key merged once, untouched partitions intact.
    store.upsert(batch)
    rows = {r.k: (r.day, r.val) for r in store.read().collect()}
    assert rows == {
        1: ("d2", 99.0), 2: ("d1", 2.0), 3: ("d2", 3.0), 4: ("d3", 4.0)
    }


def test_read_version_raises_after_vacuum(spark, tmp_path):
    """Regression: a vacuumed version must raise, not silently return only
    its own batch directory (its dir can survive inside newer lineages)."""
    import pytest as _pytest

    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.write_replace(spark.createDataFrame([(1,)], "x int"))  # v1
    for i in range(2, 6):
        store.append(spark.createDataFrame([(i,)], "x int"))     # v2..v5
    store.vacuum(keep_last=2)
    with _pytest.raises(FileNotFoundError, match="version 2"):
        store.read_version(2)
    # Retained versions still read fully.
    assert store.read().count() == 5


def test_vacuum_reclaims_crash_orphan_dirs(spark, tmp_path):
    """A directory written by a crashed job (no manifest entry) is removed
    by vacuum; referenced lineage dirs are untouched."""
    import os as _os

    from basis_devkit_spark.storage.store import TableStore

    store = TableStore(str(tmp_path), "t", spark)
    store.write_replace(spark.createDataFrame([(1,)], "x int"))
    orphan = _os.path.join(store.path, "v=999")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("x")
    # Backdate past the 1h in-flight-writer grace period.
    _os.utime(orphan, (0, 0))
    store.vacuum(keep_last=2)
    assert not _os.path.exists(orphan)
    assert store.read().count() == 1


def test_upsert_null_key_replaces_not_duplicates(spark, tmp_path):
    """Regression: NULL key values merge via null-safe equality — the old
    NULL-keyed row is replaced, not kept alongside the new one. Covers
    both the scoped path (partition col in the key) and global fallback."""
    from basis_devkit_spark.storage.store import TableStore

    # Scoped path: partition col in unique_on, NULL partition value.
    st1 = TableStore(str(tmp_path / "s1"), "t", spark)
    st1.configure(unique_on=["p", "k"], partition_by="p")
    st1.write_replace(
        spark.createDataFrame([(None, 1, 1.0), ("a", 2, 2.0)],
                              "p string, k int, val double")
    )
    st1.upsert(
        spark.createDataFrame([(None, 1, 9.0)], "p string, k int, val double")
    )
    rows = sorted(
        ((r.p, r.k, r.val) for r in st1.read().collect()),
        key=lambda t: (t[0] or "", t[1]),
    )
    assert rows == [(None, 1, 9.0), ("a", 2, 2.0)]

    # Global path: NULL in a plain unique_on key.
    st2 = TableStore(str(tmp_path / "s2"), "t", spark)
    st2.configure(unique_on="k")
    st2.write_replace(
        spark.createDataFrame([(None, 1.0), (2, 2.0)], "k int, val double")
    )
    st2.upsert(spark.createDataFrame([(None, 99.0)], "k int, val double"))
    got = sorted(
        ((r.k, r.val) for r in st2.read().collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert got == [(2, 2.0), (None, 99.0)]


# ---------------- file-level data skipping ----------------


def test_stats_pruned_read_skips_files(spark, tmp_path):
    """Footer min/max stats must drop files a range filter can't match,
    and the pruned read must return exactly what read().filter() returns."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns=["k"])
    df = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    # range-partitioned write → files with disjoint k ranges
    st.write_replace(df.repartitionByRange(8, "k"))
    pruned = st.read_pruned([("k", ">", 900)])
    expected = {(r.k, r.v) for r in st.read().filter(F.col("k") > 900).collect()}
    got = {(r.k, r.v) for r in pruned.collect()}
    assert got == expected and len(got) == 99
    n_all = len(st.read().inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_all == 8 and n_pruned < n_all


def test_stats_prune_across_append_lineage(spark, tmp_path):
    """Each append's directory gets its own stats; pruning works across the
    whole lineage and never loses rows."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns=["k"])
    st.append(spark.range(0, 100).select(F.col("id").cast("int").alias("k")))
    st.append(spark.range(100, 200).select(F.col("id").cast("int").alias("k")))
    st.append(spark.range(200, 300).select(F.col("id").cast("int").alias("k")))
    pruned = st.read_pruned([("k", ">=", 250)])
    assert sorted(r.k for r in pruned.collect()) == list(range(250, 300))
    # only the last append's file(s) survive pruning
    assert len(pruned.inputFiles()) < len(st.read().inputFiles())


def test_stats_prune_all_files_returns_empty_with_schema(spark, tmp_path):
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns=["k"])
    st.write_replace(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    out = st.read_pruned([("k", ">", 100)])
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]


def test_stats_prune_conservative_without_stats(spark, tmp_path):
    """A store that never collected stats must behave exactly like
    read().filter() — no file is ever wrongly dropped."""
    st = TableStore(str(tmp_path), "t", spark)  # no stats_columns, no ordering
    st.write_replace(spark.createDataFrame([(1, "a"), (5, "b")], "k int, v string"))
    out = st.read_pruned([("k", ">=", 5)])
    assert [(r.k, r.v) for r in out.collect()] == [(5, "b")]


def test_stream_cursor_read_prunes_files(spark, tmp_path):
    """A stream whose ordering column has stats must skip files wholly
    below the cursor (the 100 TB cursor-read path)."""
    from basis_devkit_spark.node import Table

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(strictly_monotonic_ordering="seq")
    st.write_replace(
        spark.range(0, 400)
        .select(F.col("id").alias("seq"), (F.col("id") * 2).alias("x"))
        .repartitionByRange(4, "seq")
    )
    t = Table("t", "r")
    t.bind(st, spark)
    s = t.as_stream(order_by="seq")
    s.seek(350)
    df = s.read_dataframe()
    assert [r.seq for r in df.collect()] == list(range(351, 400))
    assert len(df.inputFiles()) < len(st.read().inputFiles())


def test_stats_prune_on_timestamp_column(spark, tmp_path):
    import datetime as dt

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns=["ts"])
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(hours=i), i) for i in range(96)]
    st.write_replace(
        spark.createDataFrame(rows, "ts timestamp, n int").repartitionByRange(4, "ts")
    )
    cut = base + dt.timedelta(hours=90)
    out = st.read_pruned([("ts", ">", cut)])
    assert sorted(r.n for r in out.collect()) == list(range(91, 96))
    assert len(out.inputFiles()) < 4


def test_int96_session_still_writes_prunable_timestamps(spark, tmp_path):
    """A session configured for INT96 parquet timestamps (no footer
    min/max) must still get TIMESTAMP_MICROS store writes: the write
    records dir_stats min/max for the timestamp column and read_pruned
    skips files on it."""
    import datetime as dt

    s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    st = TableStore(str(tmp_path), "t", s)
    st.configure(stats_columns=["ts"])
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(hours=i), i) for i in range(96)]
    st.write_replace(
        s.createDataFrame(rows, "ts timestamp, n int").repartitionByRange(4, "ts")
    )
    file_stats = [
        f for d in st._manifest.dir_stats.values() for f in d.values()
    ]
    assert len(file_stats) == 4
    assert all(len(f["ts"]) == 2 for f in file_stats)
    cut = base + dt.timedelta(hours=90)
    out = st.read_pruned([("ts", ">", cut)])
    assert sorted(r.n for r in out.collect()) == list(range(91, 96))
    assert len(out.inputFiles()) < len(st.read().inputFiles()) == 4


def test_stats_prune_timestamp_non_utc_session(spark, tmp_path):
    """Regression: instant-typed footer stats are UTC epochs while a naive
    filter literal is interpreted in the SESSION timezone — on a non-UTC
    session the two must still compare on the same epoch basis (the old
    ISO-string comparison silently pruned matching files, losing rows)."""
    import datetime as dt

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    try:
        st = TableStore(str(tmp_path), "t", spark)
        st.configure(stats_columns=["ts"])
        base = dt.datetime(2024, 1, 1)
        rows = [(base + dt.timedelta(hours=i), i) for i in range(96)]
        st.write_replace(
            spark.createDataFrame(rows, "ts timestamp, n int").repartitionByRange(
                4, "ts"
            )
        )
        cut = base + dt.timedelta(hours=90)
        out = st.read_pruned([("ts", ">", cut)])
        expect = sorted(
            r.n for r in st.read().filter(F.col("ts") > F.lit(cut)).collect()
        )
        assert sorted(r.n for r in out.collect()) == expect == list(range(91, 96))
        # and it still actually prunes (not just conservatively keeps all)
        assert len(out.inputFiles()) < 4
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_stats_survive_vacuum_and_compact(spark, tmp_path):
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns=["k"])
    for lo in (0, 100, 200):
        st.append(
            spark.range(lo, lo + 100).select(F.col("id").cast("int").alias("k"))
        )
    st.compact()
    st.vacuum(keep_last=1)
    # stats for vacuumed dirs are gone; active lineage still prunable
    active_dirs = st._version_dirs(st.get_active_version())
    assert set(st._manifest.dir_stats) <= set(active_dirs)
    out = st.read_pruned([("k", "<", 50)])
    assert sorted(r.k for r in out.collect()) == list(range(0, 50))


def test_cluster_by_writes_enable_pruning(spark, tmp_path):
    """cluster_by range-clusters every write, so even an UNSORTED incoming
    batch produces files with tight disjoint ranges that a point/range
    filter prunes."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(cluster_by="k")
    # shuffled input: ids in hash order, nothing presorted
    df = (
        spark.range(0, 2000)
        .select((F.xxhash64("id") % 2000).alias("k"), F.col("id").alias("v"))
    )
    # tiny test batch: stop AQE coalescing the range shuffle to 1 file
    # (at real scale its ~64MB size target is exactly the right behavior)
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        st.write_replace(df)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    total = len(st.read().inputFiles())
    out = st.read_pruned([("k", ">=", 1900)])
    assert len(out.inputFiles()) < total
    exp = {(r.k, r.v) for r in st.read().filter(F.col("k") >= 1900).collect()}
    assert {(r.k, r.v) for r in out.collect()} == exp


def test_auto_compact_bounds_lineage(spark, tmp_path):
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(compact_after=3)
    for lo in range(0, 600, 100):
        st.append(
            spark.range(lo, lo + 100).select(F.col("id").cast("int").alias("k"))
        )
    dirs = st._version_dirs(st.get_active_version())
    assert len(dirs) <= 3 + 1  # compaction keeps lineage bounded
    assert st.record_count == 600
    assert sorted(r.k for r in st.read().collect()) == list(range(600))


# ---------------- write-time expectations (observe-based, single pass) ----


def test_expectations_record_mode(spark, tmp_path):
    """record: batch lands intact; per-expectation violation counts are
    persisted on the version entry (observed during the write job)."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(
        expectations={"v_nonneg": "v >= 0", "k_notnull": "k is not null"},
    )
    st.write_replace(
        spark.createDataFrame(
            [(1, 10.0), (2, -3.0), (None, -1.0)], "k int, v double"
        )
    )
    assert st.record_count == 3  # record mode keeps everything
    assert st.expectation_violations() == {"v_nonneg": 2, "k_notnull": 1}


def test_expectations_fail_mode_rejects_batch(spark, tmp_path):
    """fail: the pointer never flips — the table still shows the previous
    version after a rejected write (crash-equivalent safety)."""
    import pytest as _pytest

    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(expectations={"v_nonneg": "v >= 0"}, expectations_mode="fail")
    st.write_replace(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    with _pytest.raises(ValueError, match="v_nonneg"):
        st.write_replace(
            spark.createDataFrame([(2, -5.0)], "k int, v double")
        )
    assert [r.k for r in st.read().collect()] == [1]  # old version intact
    # a clean batch commits again afterwards
    st.append(spark.createDataFrame([(3, 2.0)], "k int, v double"))
    assert {r.k for r in st.read().collect()} == {1, 3}


def test_expectations_drop_mode_filters_and_counts(spark, tmp_path):
    """drop: violating rows are filtered out of the written version but
    still counted (observe sits below the filter); record_count reflects
    the KEPT rows, including a row violating two expectations at once."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(
        expectations={"v_nonneg": "v >= 0", "k_notnull": "k is not null"},
        expectations_mode="drop",
    )
    st.write_replace(
        spark.createDataFrame(
            [(1, 10.0), (2, -3.0), (None, -1.0), (4, 0.0)],
            "k int, v double",
        )
    )
    assert {r.k for r in st.read().collect()} == {1, 4}
    assert st.record_count == 2  # double-violating row counted once
    assert st.expectation_violations() == {"v_nonneg": 2, "k_notnull": 1}


def test_expectations_null_passes_in_every_mode(spark, tmp_path):
    """A row where the expectation expr evaluates to NULL (e.g. v >= 0 with
    v NULL) PASSES in all three modes — SQL CHECK-constraint semantics, one
    policy everywhere: not a violation in record, not dropped in drop, not
    a rejection in fail; kept + violations == total always."""
    from basis_devkit_spark.storage.store import TableStore

    rows = [(1, 10.0), (2, None), (3, -1.0)]
    # record: NULL not counted as violation
    st = TableStore(str(tmp_path / "rec"), "t", spark)
    st.configure(expectations={"v_nonneg": "v >= 0"})
    st.write_replace(spark.createDataFrame(rows, "k int, v double"))
    assert st.record_count == 3
    assert st.expectation_violations() == {"v_nonneg": 1}
    # drop: NULL row is KEPT; kept(2) + violations(1) == total(3)
    sd = TableStore(str(tmp_path / "drop"), "t", spark)
    sd.configure(expectations={"v_nonneg": "v >= 0"}, expectations_mode="drop")
    sd.write_replace(spark.createDataFrame(rows, "k int, v double"))
    assert {r.k for r in sd.read().collect()} == {1, 2}
    assert sd.record_count == 2
    assert sd.expectation_violations() == {"v_nonneg": 1}
    # fail: an all-NULL batch is admitted (no violation)
    sf = TableStore(str(tmp_path / "fail"), "t", spark)
    sf.configure(expectations={"v_nonneg": "v >= 0"}, expectations_mode="fail")
    sf.write_replace(spark.createDataFrame([(9, None)], "k int, v double"))
    assert sf.record_count == 1


# ------------------------------------------------------------- Z-order layout
def _mk_xy(spark, n=20_000, seed=11):
    """Two independent uniform dimensions — the layout-sensitivity probe:
    range clustering on x gives y-filters no pruning; Z-order must."""
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.hash(F.col("id"), F.lit(seed)) % 10_000).alias("x"),
        (F.hash(F.col("id"), F.lit(seed + 1)) % 10_000).alias("y"),
    )
    return df.select("rid", F.abs("x").alias("x"), F.abs("y").alias("y"))


def test_zorder_write_roundtrip_exact(spark, tmp_path):
    df = _mk_xy(spark, n=5_000)
    store = TableStore(str(tmp_path), "zt", spark)
    store.configure(zorder_by=["x", "y"])
    store.write_replace(df)
    got = sorted((r.rid, r.x, r.y) for r in store.read().collect())
    want = sorted((r.rid, r.x, r.y) for r in df.collect())
    assert got == want


def test_zorder_prunes_on_every_dimension(spark, tmp_path):
    """The reason zorder_by exists: cluster_by=['x'] prunes y-filters not
    at all, Z-order prunes files for BOTH dimensions."""
    df = _mk_xy(spark)
    rng = TableStore(str(tmp_path / "rng"), "t", spark)
    rng.configure(cluster_by=["x"], stats_columns=["x", "y"])
    zo = TableStore(str(tmp_path / "zo"), "t", spark)
    zo.configure(zorder_by=["x", "y"])
    # At sf-test sizes AQE coalesces the range shuffle to one partition
    # (one file — nothing to prune). Pin a small advisory size so the
    # write produces the multi-file layout any real table has.
    keys = (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "8192")
    try:
        rng.write_replace(df)
        zo.write_replace(df)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    def kept(store, filters):
        files, total = store.prune_files(filters)
        return sum(len(v) for v in files.values()), total

    y_filter = [("y", ">", 9_000)]
    x_filter = [("x", "<", 1_000)]
    rng_y, rng_total = kept(rng, y_filter)
    zo_y, zo_total = kept(zo, y_filter)
    assert rng_total > 4 and zo_total > 4  # enough files to mean anything
    # range layout cannot skip anything for the non-leading dimension
    assert rng_y == rng_total
    # Z-order must skip a real fraction of files on y AND on x
    assert zo_y < zo_total * 0.8, (zo_y, zo_total)
    zo_x, _ = kept(zo, x_filter)
    assert zo_x < zo_total * 0.8, (zo_x, zo_total)
    # and pruning never changes results
    want = df.filter(F.col("y") > 9_000).count()
    assert zo.read_pruned(y_filter).count() == want


def test_clustered_write_file_count_follows_bytes_not_cores(spark, tmp_path):
    """A clustered write holds each file to advisory-size-worth of rows,
    so the same write makes the same multi-file layout whatever the
    shuffle partition count (the core count by default) is. compact()'s
    own smaller record cap still wins over the advisory-derived one."""
    import glob

    import pyarrow.parquet as pq

    df = _mk_xy(spark)
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    counts = {}
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
        for parts in (2, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            st = TableStore(str(tmp_path / f"p{parts}"), "t", spark)
            st.configure(cluster_by=["x"], stats_columns=["x"])
            st.write_replace(df)
            counts[parts] = st.prune_files([])[1]
            assert st.read().count() == df.count()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert counts[2] > 16 and counts[16] > 16, counts

    zo = TableStore(str(tmp_path / "zo"), "t", spark)
    zo.configure(zorder_by=["x", "y"])
    zo.write_replace(df)
    cap = 500
    zo.compact(max_records_per_file=cap)
    vdir = zo.version_path(zo.get_active_version())
    rows = [
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(vdir, "*.parquet"))
    ]
    assert sum(rows) == df.count()
    assert max(rows) <= cap, rows


def test_zorder_and_cluster_by_are_exclusive(spark, tmp_path):
    store = TableStore(str(tmp_path), "zc", spark)
    store.configure(cluster_by=["x"])
    with pytest.raises(ValueError):
        store.configure(zorder_by=["x", "y"])


# ---------------------------------------------------------- bucketed layout
def test_bucketed_store_colocated_join_no_shuffle(spark, tmp_path):
    """Two stores bucketed the same way must join with ZERO hash
    exchanges (co-located sort-merge join) — the fact join that never
    shuffles at 100 TB — and the result must equal the plain join."""
    a = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    sa = TableStore(str(tmp_path / "a"), "ta", spark)
    sa.configure(bucket_by=["k"], num_buckets=8)
    sa.write_replace(a)
    sb = TableStore(str(tmp_path / "b"), "tb", spark)
    sb.configure(bucket_by=["k"], num_buckets=8)
    sb.write_replace(b)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sa.read_bucketed().join(sb.read_bucketed(), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        assert j.count() == 50_000
        # plain read still works and agrees
        assert sa.read().count() == 50_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_store_append_then_compact_rebuckets(spark, tmp_path):
    st = TableStore(str(tmp_path), "tc", spark)
    st.configure(bucket_by=["k"], num_buckets=4)
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    st.write_replace(mk(0, 100))
    st.append(mk(100, 200))
    with pytest.raises(ValueError, match="compact"):
        st.read_bucketed()
    st.compact()
    assert st.read_bucketed().count() == 200


def test_bucket_by_exclusive_with_other_layouts(spark, tmp_path):
    st = TableStore(str(tmp_path), "tx", spark)
    st.configure(cluster_by=["k"])
    with pytest.raises(ValueError):
        st.configure(bucket_by=["k"])


def test_concurrent_writer_lost_update_detected(spark, tmp_path):
    """Two live handles on one store: the slower writer must get
    ConcurrentWriteError instead of silently clobbering the faster one's
    pointer flip; refresh() re-arms it."""
    from basis_devkit_spark.storage.store import ConcurrentWriteError, TableStore

    a = TableStore(str(tmp_path), "t", spark)
    a.write_replace(spark.range(3).toDF("x"))

    b = TableStore(str(tmp_path), "t", spark)  # loads seq from a's commit
    a.write_replace(spark.range(5).toDF("x"))  # a commits again

    import pytest as _pytest

    with _pytest.raises(ConcurrentWriteError):
        b.write_replace(spark.range(7).toDF("x"))
    # a's data survived the attempted clobber
    assert a.read().count() == 5

    b.refresh()
    b.write_replace(spark.range(7).toDF("x"))
    a.refresh()
    assert a.read().count() == 7


def test_append_schema_evolution_contract(spark, tmp_path):
    """Pins the schema-evolution behavior on append:
    - a NEW column widens the table; old rows read back NULL for it
    - a MISSING column is null-filled in the appended batch
    - a type-mismatched column is cast to the table's declared type
      (schema-from-first-write wins)"""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(spark.createDataFrame([(1, "a", 10)], ["id", "x", "n"]))

    # widen: new 'score' column
    st.append(spark.createDataFrame([(2, "b", 20, 9.5)], ["id", "x", "n", "score"]))
    rows = {r["id"]: r for r in st.read().collect()}
    assert set(st.read().columns) == {"id", "x", "n", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    # missing 'x' is null-filled; string '30' cast to the table's long n
    st.append(spark.createDataFrame([(3, "30")], ["id", "n"]))
    rows = {r["id"]: r for r in st.read().collect()}
    assert rows[3]["x"] is None and rows[3]["n"] == 30
    assert isinstance(rows[3]["n"], int)

    # time travel: the pre-widening version still reads with its own schema
    versions = sorted(int(v) for v in st._manifest.versions)
    old = st.read_version(versions[0])
    assert "score" not in old.columns


def test_history_describes_versions(spark, tmp_path):
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(spark.range(3).toDF("x"))
    st.append(spark.range(2).toDF("x"))
    st.write_replace(spark.range(7).toDF("x"))

    h = st.history()
    assert [e["version"] for e in h] == sorted(
        (e["version"] for e in h), reverse=True
    )
    active = [e for e in h if e["active"]]
    assert len(active) == 1 and active[0]["record_count"] == 7
    # the append version carries lineage depth 2 (previous dir + its own)
    by_count = {e["record_count"]: e for e in h}
    assert by_count[5]["n_dirs"] == 2
    assert all(e["on_disk"] for e in h)
    assert all(e["created_at"] is not None for e in h)


def test_failed_upsert_commit_leaves_table_intact(spark, tmp_path, monkeypatch):
    """Crash injection at the pointer flip during UPSERT: the active
    version must stay untouched, and a retry after the fault clears
    succeeds with the merged result."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(unique_on="k")
    st.write_replace(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))

    real = st._commit_manifest
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("disk full (injected)")
        return real()

    monkeypatch.setattr(st, "_commit_manifest", flaky)
    import pytest as _pytest

    with _pytest.raises(OSError):
        st.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    # pointer never flipped: reads still see the original rows
    assert sorted(map(tuple, st.read().collect())) == [(1, "a"), (2, "b")]

    st.upsert(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    assert sorted(map(tuple, st.read().collect())) == [(1, "a"), (2, "B"), (3, "c")]
    # vacuum reclaims the orphaned crash directory without touching live data
    st.vacuum(keep_last=1)
    assert sorted(map(tuple, st.read().collect())) == [(1, "a"), (2, "B"), (3, "c")]


def test_vacuum_commits_manifest_before_deleting_dirs(spark, tmp_path, monkeypatch):
    """Crash between vacuum's manifest commit and the physical deletes
    must leave only harmless orphan dirs — never a committed manifest
    referencing directories that are gone."""
    import shutil as _shutil

    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    for i in range(4):
        st.write_replace(spark.range(i + 1).toDF("x"))

    # simulate the crash: physical deletes never happen
    monkeypatch.setattr(_shutil, "rmtree", lambda *a, **k: None)
    st.vacuum(keep_last=1)
    monkeypatch.undo()

    # fresh handle: manifest is already vacuumed, every remaining entry's
    # dirs exist, active reads fine
    st2 = TableStore(str(tmp_path), "t", spark)
    assert st2.read().count() == 4
    assert all(e["on_disk"] for e in st2.history())
    # the undeleted dirs are orphans on disk, invisible to the manifest
    import os as _os

    on_disk = {d for d in _os.listdir(str(tmp_path / "t")) if d.startswith("v=")}
    referenced = {d for e in st2._manifest.versions.values() for d in e.get("dirs", [])}
    assert on_disk - referenced  # orphans exist, harmlessly


def test_read_at_timestamp_time_travel(spark, tmp_path):
    import time as _time

    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(spark.range(2).toDF("x"))
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    st.write_replace(spark.range(5).toDF("x"))

    assert st.read_at(t_after_v1).count() == 2      # snapshot as of then
    assert st.read_at(_time.time()).count() == 5    # now -> active
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        st.read_at(t_after_v1 - 1e6)                # before any version


def test_restore_old_version_as_new_commit(spark, tmp_path):
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(spark.range(3).toDF("x"))
    v1 = st.get_active_version()
    st.write_replace(spark.range(9).toDF("x"))

    v3 = st.restore(v1)
    assert st.read().count() == 3                       # contents restored
    assert st.get_active_version() == v3 and v3 != v1   # as a NEW commit
    assert st.read_version(v3).count() == 3             # readable by number
    h = st.history()
    assert h[0]["version"] == v3 and h[0]["active"]
    assert any(e["record_count"] == 9 for e in h)       # history preserved
    # restore survives vacuum as long as its lineage is retained
    st.append(spark.range(2).toDF("x"))
    assert st.read().count() == 5


def test_strict_schema_rejects_drift(spark, tmp_path):
    import pytest as _pytest

    from basis_devkit_spark.storage.store import SchemaMismatchError, TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(strict_schema=True, unique_on="id")
    st.write_replace(spark.createDataFrame([(1, "a")], ["id", "x"]))

    with _pytest.raises(SchemaMismatchError, match="extra=\\['y'\\]"):
        st.append(spark.createDataFrame([(2, "b", 1.0)], ["id", "x", "y"]))
    with _pytest.raises(SchemaMismatchError, match="missing=\\['x'\\]"):
        st.upsert(spark.createDataFrame([(2,)], ["id"]))
    # exact-match writes still work; type coercion still applies
    st.append(spark.createDataFrame([(2, "b")], ["id", "x"]))
    assert st.read().count() == 2
    # and the default store remains evolving
    st2 = TableStore(str(tmp_path), "t2", spark)
    st2.write_replace(spark.createDataFrame([(1, "a")], ["id", "x"]))
    st2.append(spark.createDataFrame([(2, "b", 1.0)], ["id", "x", "y"]))
    assert "y" in st2.read().columns


def test_delete_where_and_update_where(spark, tmp_path):
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)], ["id", "x", "v"]
        )
    )
    v1 = st.get_active_version()

    # NULL-evaluating condition keeps the row (only TRUE deletes)
    assert st.delete_where("x = 'a'") == 1
    assert sorted(r["id"] for r in st.read().collect()) == [2, 3]

    assert st.update_where({"v": "v * 2"}, "id = 2") == 1
    rows = {r["id"]: r for r in st.read().collect()}
    assert rows[2]["v"] == 40.0 and rows[3]["v"] == 30.0

    # time travel still sees the pre-DML data
    assert st.read_version(v1).count() == 3
    # updating an unknown column is an error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        st.update_where({"nope": "1"}, "id = 2")


def test_changes_between_versions_cdf(spark, tmp_path):
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(unique_on="id")
    st.write_replace(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "x"])
    )
    v1 = st.get_active_version()
    st.write_replace(
        spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], ["id", "x"])
    )
    v2 = st.get_active_version()

    ch = {(r["_change_type"], r["id"]): r["x"]
          for r in st.changes_between(v1, v2).collect()}
    assert ch == {
        ("delete", 1): "a",
        ("update_preimage", 2): "b",
        ("update_postimage", 2): "B",
        ("insert", 4): "d",
    }
    # unchanged row 3 absent; reverse direction flips the classification
    rev = {(r["_change_type"], r["id"]) for r in st.changes_between(v2, v1).collect()}
    assert ("insert", 1) in rev and ("delete", 4) in rev


def test_cdc_round_trip_replication_converges(spark, tmp_path):
    """changes_between -> apply_changes replication: a replica that
    replays the source's feed converges to the source snapshot exactly."""
    from basis_devkit_spark.storage.store import TableStore

    src = TableStore(str(tmp_path / "src"), "t", spark)
    src.configure(unique_on="id")
    src.write_replace(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "x"])
    )
    v1 = src.get_active_version()

    replica = TableStore(str(tmp_path / "rep"), "t", spark)
    replica.configure(unique_on="id")
    replica.write_replace(src.read_version(v1))  # initial sync

    src.write_replace(
        spark.createDataFrame([(2, "B"), (4, "d"), (5, "e")], ["id", "x"])
    )
    v2 = src.get_active_version()

    replica.apply_changes(src.changes_between(v1, v2))
    assert sorted(map(tuple, replica.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )


def test_cdc_replication_random_mutation_rounds(spark, tmp_path):
    """Randomized: 4 rounds of random snapshot mutations; the replica
    replays each round's feed and must converge every time."""
    import numpy as np

    from basis_devkit_spark.storage.store import TableStore

    rng = np.random.default_rng(5)

    def snapshot():
        ids = sorted(rng.choice(20, size=rng.integers(5, 15), replace=False))
        return [(int(i), f"v{int(rng.integers(0, 4))}") for i in ids]

    src = TableStore(str(tmp_path / "src"), "t", spark)
    src.configure(unique_on="id")
    src.write_replace(spark.createDataFrame(snapshot(), ["id", "x"]))
    prev = src.get_active_version()

    rep = TableStore(str(tmp_path / "rep"), "t", spark)
    rep.configure(unique_on="id")
    rep.write_replace(src.read())

    for _ in range(4):
        src.write_replace(spark.createDataFrame(snapshot(), ["id", "x"]))
        cur = src.get_active_version()
        rep.apply_changes(src.changes_between(prev, cur))
        assert sorted(map(tuple, rep.read().collect())) == sorted(
            map(tuple, src.read().collect())
        )
        prev = cur


def test_commit_failure_discards_uncommitted_version_entry(spark, tmp_path):
    """ADVICE r4: when the manifest commit fails, the in-memory manifest
    must roll back to committed truth ENTIRELY — not just the active
    pointer. Otherwise the version entry registered by
    create_new_version survives in memory, the next successful commit
    persists it, and history()/read_at() surface a version that was
    never the table's committed state."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    v1 = st.get_active_version()
    committed_versions = set(st._manifest.versions)

    ghost = st.create_new_version()
    orig = st._commit_manifest

    def boom():
        raise OSError("disk full")

    st._commit_manifest = boom
    try:
        with pytest.raises(OSError):
            st.set_active_version(ghost)
    finally:
        st._commit_manifest = orig

    # pointer restored AND the ghost version entry is gone from memory
    assert st.get_active_version() == v1
    assert set(st._manifest.versions) == committed_versions
    # a later unrelated commit persists only committed-truth-derived
    # state: a fresh handle sees a consistent manifest whose active
    # version exists in its own version table (the ghost number is
    # legitimately REUSED by the next writer after the rollback).
    st.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    st2 = TableStore(str(tmp_path), "t", spark)
    disk_versions = {int(v) for v in st2._manifest.versions}
    assert st2.get_active_version() in disk_versions
    assert st2.read().count() == 2


def test_abandoned_allocation_never_reaches_a_later_commit(spark, tmp_path):
    """A version allocated through the public ``create_new_version`` and
    never flipped to (its caller wrote no files, or failed) is not
    history: the next commit of another version drops it, in this handle
    and on disk. The allocate -> write files -> ``set_active_version``
    path still commits its version, also when another commit came in
    between."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(_df(spark, [(1, "a")]))
    ghost = st.create_new_version()
    st.write_replace(_df(spark, [(2, "b")]))
    got = [(h["version"], h["on_disk"]) for h in st.history()]
    assert (ghost, False) not in got
    assert got == [(ghost + 1, True), (1, True)]
    fresh = TableStore(str(tmp_path), "t", spark)
    assert str(ghost) not in fresh._manifest.versions
    assert [h["version"] for h in fresh.history()] == [ghost + 1, 1]

    v = st.create_new_version()
    st.configure(stats_columns="k")  # an unrelated commit in between
    _df(spark, [(3, "c")]).write.parquet(st.version_path(v))
    st.set_active_version(v)
    assert [(r.k, r.v) for r in st.read().collect()] == [(3, "c")]
    assert st.history()[0]["version"] == v
    assert st.history()[0]["created_at"] is not None


def test_changes_between_preserves_dunder_named_columns(spark, tmp_path):
    """ADVICE r4: a user column that happens to start with '__' must not
    be silently dropped from the change feed (the internal __op/__np
    markers are selected by exact name, not by prefix)."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path), "t", spark)
    st.configure(unique_on="id")
    st.write_replace(
        spark.createDataFrame([(1, "a", "m1"), (2, "b", "m2")],
                              ["id", "x", "__meta"])
    )
    v1 = st.get_active_version()
    st.write_replace(
        spark.createDataFrame([(1, "a", "M1"), (3, "c", "m3")],
                              ["id", "x", "__meta"])
    )
    v2 = st.get_active_version()
    ch = st.changes_between(v1, v2)
    assert "__meta" in ch.columns
    got = {(r["_change_type"], r["id"]): r["__meta"] for r in ch.collect()}
    assert got == {
        ("update_preimage", 1): "m1",
        ("update_postimage", 1): "M1",
        ("delete", 2): "m2",
        ("insert", 3): "m3",
    }


def test_compact_splits_hot_partition_and_caps_file_size(spark, tmp_path):
    """compact() on a partitioned store must not serialize a hot
    partition value through one task/one file: with max_records_per_file
    set, the skewed value's rewrite lands as multiple bounded files while
    small partitions still collapse to one."""
    import glob

    store = TableStore(str(tmp_path), "hot", spark)
    store.configure(partition_by=["p"])
    hot = spark.createDataFrame(
        [(i, "hot") for i in range(1000)], "k int, p string"
    )
    cold = spark.createDataFrame([(i, "cold") for i in range(10)], "k int, p string")
    store.write_replace(hot.unionByName(cold))
    for j in range(3):  # fragment the store a bit
        store.append(
            spark.createDataFrame([(10_000 + j, "hot")], "k int, p string")
        )
    store.compact(max_records_per_file=100)
    assert store.read().count() == 1013
    vdir = store.version_path(store.get_active_version())
    hot_files = glob.glob(os.path.join(vdir, "p=hot", "*.parquet"))
    cold_files = glob.glob(os.path.join(vdir, "p=cold", "*.parquet"))
    assert len(hot_files) >= 2, hot_files  # salted: parallel tasks, capped files
    assert len(cold_files) == 1, cold_files  # small partition still bin-packs
    # every hot file respects the record cap
    import pyarrow.parquet as pq

    for f in hot_files:
        assert pq.ParquetFile(f).metadata.num_rows <= 100


def test_concurrent_compactions_keep_their_own_file_caps(spark, tmp_path):
    """compact()'s file cap is a per-write option: two partitioned stores
    compacted at once on two threads each keep their own cap, and the
    session's maxRecordsPerFile is unchanged afterwards."""
    import glob
    import threading

    import pyarrow.parquet as pq

    key = "spark.sql.files.maxRecordsPerFile"
    before = spark.conf.get(key, None)
    caps = {"a": 50, "b": 200}
    stores = {}
    for name in caps:
        st = TableStore(str(tmp_path), name, spark)
        st.configure(partition_by=["p"])
        st.write_replace(
            spark.createDataFrame(
                [(i, f"p{i % 2}") for i in range(1000)], "k int, p string"
            )
        )
        stores[name] = st
    barrier = threading.Barrier(len(stores))
    errors = []

    def run(name):
        try:
            for _ in range(3):
                barrier.wait(timeout=120)
                stores[name].compact(max_records_per_file=caps[name])
        except Exception as e:  # reported by the main thread below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(n,)) for n in stores]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert spark.conf.get(key, None) == before
    for name, st in stores.items():
        vdir = st.version_path(st.get_active_version())
        rows = [
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(vdir, "p=*", "*.parquet"))
        ]
        assert sum(rows) == 1000, (name, rows)
        assert max(rows) <= caps[name], (name, rows)


def test_stats_drift_between_versions(spark, tmp_path):
    """Corpus-governance drift report: row counts, per-column nulls /
    typed min / max / exact distinct across two versions, schema rows
    for added columns, nulls-only for array columns — all hand-computed."""
    from basis_devkit_spark.storage.store import TableStore

    st = TableStore(str(tmp_path / "root"), "t", spark)
    st.write_replace(
        spark.createDataFrame(
            [(1, "a", [1]), (2, "b", None), (3, None, [2])],
            "k long, s string, arr array<int>",
        )
    )
    v1 = st.get_active_version()
    st.write_replace(
        spark.createDataFrame(
            [(2, "b", None, 1.5), (9, "zz", [9], 2.5), (9, "zz", None, None)],
            "k long, s string, arr array<int>, q double",
        )
    )
    v2 = st.get_active_version()
    rep = {
        (r["column"], r["metric"]): (r["old"], r["new"])
        for r in st.stats_drift(v1, v2).collect()
    }
    assert rep[("<table>", "row_count")] == ("3", "3")
    assert rep[("q", "schema")] == (None, "double")
    assert rep[("k", "min")] == ("1", "2")
    assert rep[("k", "max")] == ("3", "9")
    assert rep[("k", "distinct")] == ("3", "2")
    assert rep[("s", "nulls")] == ("1", "0")
    assert rep[("s", "max")] == ("b", "zz")
    assert rep[("arr", "nulls")] == ("1", "2")
    assert ("arr", "min") not in rep  # non-atomic: nulls only
    assert ("q", "nulls") not in rep  # not shared between versions
    # column scoping skips the expensive distinct on unlisted columns
    scoped = {
        (r["column"], r["metric"])
        for r in st.stats_drift(v1, v2, columns=["k"]).collect()
    }
    assert ("s", "nulls") not in scoped and ("k", "distinct") in scoped


def test_clone_shallow_zero_copy_and_divergence(spark, tmp_path):
    """Shallow clone references the source's files (zero bytes copied),
    reads identically, then diverges independently: appends land under
    the clone's own path, the source never changes, and the clone's
    vacuum cannot touch source directories."""
    src = TableStore(str(tmp_path), "src", spark)
    src.configure(stats_columns="k")
    src.append(_df(spark, [(1, "a"), (2, "b")]))
    src.append(_df(spark, [(3, "c")]))
    clone = TableStore(str(tmp_path), "clone", spark)
    v = src.clone_shallow(clone)
    # identical read, recorded provenance, no parquet under the clone
    assert sorted(r["k"] for r in clone.read().collect()) == [1, 2, 3]
    assert clone.record_count == 3
    entry = clone._manifest.versions[str(v)]
    assert entry["cloned_from"]["table"] == "src"
    clone_files = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(clone.path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert clone_files == []  # zero-copy: no data under the clone
    # stats carried: pruning on the clone skips files like the source
    kept, total = clone.prune_files([("k", "=", 3)])
    assert sum(len(v2) for v2 in kept.values()) < total  # files skipped
    pruned = clone.read_pruned([("k", "=", 3)]).collect()
    assert [r["k"] for r in pruned] == [3]
    # divergence: clone writes stay local; source unchanged
    clone.append(_df(spark, [(9, "z")]))
    assert sorted(r["k"] for r in clone.read().collect()) == [1, 2, 3, 9]
    assert sorted(r["k"] for r in src.read().collect()) == [1, 2, 3]
    # the clone's vacuum never deletes source data (absolute refs are
    # structurally out of reach of its v=N deletion rule)
    clone.write_replace(_df(spark, [(42, "w")]))
    clone.vacuum(keep_last=1)
    assert sorted(r["k"] for r in src.read().collect()) == [1, 2, 3]


def test_clone_shallow_of_old_version_and_missing(spark, tmp_path):
    """Cloning pins a specific VERSION (time-travel clone); cloning a
    vacuumed/unknown version raises."""
    src = TableStore(str(tmp_path), "src2", spark)
    src.write_replace(_df(spark, [(1, "a")]))
    v1 = src.get_active_version()
    src.write_replace(_df(spark, [(2, "b")]))
    clone = TableStore(str(tmp_path), "clone2", spark)
    src.clone_shallow(clone, version=v1)
    assert [r["k"] for r in clone.read().collect()] == [1]
    with pytest.raises(FileNotFoundError):
        src.clone_shallow(TableStore(str(tmp_path), "c3", spark), version=99)


def test_apply_agg_delta_equals_recompute(spark, tmp_path):
    """The materialized-view delta rule: after any mix of inserts,
    deletes, and updates, applying the CDF delta to the stale aggregate
    equals a full recompute — including groups that vanish (count -> 0
    must DROP the row) and groups born in the delta."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.storage.store import apply_agg_delta

    base = TableStore(str(tmp_path), "b", spark)
    base.configure(unique_on="k")
    df1 = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 5.0)],
        "k long, g string, p double",
    )
    base.write_replace(df1)
    v1 = base.get_active_version()

    def agg_of(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("p").cast("decimal(18,2)"))
            .cast("decimal(18,2)").alias("sum_p"),
        )

    stale = agg_of(base.read())
    # v2: g2 vanishes, g1 loses k=1 and updates k=2, g3 is born
    df2 = spark.createDataFrame(
        [(2, "g1", 25.0), (9, "g3", 7.0)], "k long, g string, p double"
    )
    base.write_replace(df2)
    v2 = base.get_active_version()
    changes = base.changes_between(v1, v2).select("_change_type", "g", "p")
    got = {
        r["g"]: (r["n_rows"], float(r["sum_p"]))
        for r in apply_agg_delta(
            stale, changes, ["g"], {"p": "sum_p"}
        ).collect()
    }
    want = {
        r["g"]: (r["n_rows"], float(r["sum_p"]))
        for r in agg_of(base.read()).collect()
    }
    assert got == want == {"g1": (1, 25.0), "g3": (1, 7.0)}
    assert "g2" not in got  # zero-count group dropped, not emitted as 0
    # NULL group keys are a REAL group to an aggregate: the delta join
    # must merge them null-safely, never split them
    base.write_replace(
        spark.createDataFrame(
            [(1, None, 3.0), (2, "g1", 4.0)], "k long, g string, p double"
        )
    )
    v3 = base.get_active_version()
    stale2 = agg_of(base.read())
    base.write_replace(
        spark.createDataFrame(
            [(1, None, 5.0), (7, None, 2.0)], "k long, g string, p double"
        )
    )
    v4 = base.get_active_version()
    ch2 = base.changes_between(v3, v4).select("_change_type", "g", "p")
    got2 = {
        r["g"]: (r["n_rows"], float(r["sum_p"]))
        for r in apply_agg_delta(
            stale2, ch2, ["g"], {"p": "sum_p"}
        ).collect()
    }
    want2 = {
        r["g"]: (r["n_rows"], float(r["sum_p"]))
        for r in agg_of(base.read()).collect()
    }
    assert got2 == want2 == {None: (2, 7.0)}


def _jobs_launched(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, #Spark jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fields(schema):
    """(name, type, nullable) per field."""
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_restore_carries_schema_record(spark, tmp_path):
    """The restored version's manifest entry records the source version's
    schema, so an everything-pruned read of it needs no Spark job."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(stats_columns="k")
    st.write_replace(_df(spark, [(1, "a"), (2, "b")]))
    v1 = st.get_active_version()
    st.write_replace(spark.range(5).toDF("x"))
    v3 = st.restore(v1)
    entries = st._manifest.versions
    assert entries[str(v3)]["schema_json"] == entries[str(v1)]["schema_json"]
    assert TableStore(str(tmp_path), "t", spark).schema == st.version_schema(v1)
    out, jobs = _jobs_launched(
        spark, "jobcount-restore", lambda: st.read_pruned([("k", ">", 100)])
    )
    assert jobs == 0
    assert out.columns == ["k", "v"] and out.count() == 0


def test_table_version_exists_after_restore_and_clone(spark, tmp_path):
    """A restored or cloned version owns no ``v=N`` directory; the live
    ``TableVersion`` must still see it through its lineage."""
    from basis_devkit_spark.node.table import Table

    src = TableStore(str(tmp_path), "src", spark)
    src.write_replace(_df(spark, [(1, "a"), (2, "b")]))
    v1 = src.get_active_version()
    src.write_replace(_df(spark, [(3, "c")]))
    src.restore(v1)
    clone = TableStore(str(tmp_path), "clone", spark)
    src.clone_shallow(clone)
    for store in (src, clone):
        t = Table(store.name)
        t.bind(store, spark)
        tv = t.get_active_version()
        assert store.exists and tv.exists
        assert [f.name for f in tv.schema.fields] == ["k", "v"]
        assert tv.record_count == 2


def test_partition_values_keep_their_written_type(spark, tmp_path):
    """String partition values that look like numbers or dates read back
    as the strings that were written, through every read path, and a
    later non-numeric value appends cleanly."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(partition_by=["code", "day"], stats_columns="k")
    schema = "k int, code string, day string"
    st.write_replace(
        spark.createDataFrame(
            [(1, "007", "2024-01-01"), (2, "010", "2024-01-02")], schema
        ).withColumn("tags", F.array(F.lit("t")))  # non-null, nested non-null
    )
    v1 = st.get_active_version()
    for df in (st.read(), st.read_version(v1), st.read_pruned([("k", ">=", 1)])):
        assert df.dtypes == [
            ("k", "int"), ("tags", "array<string>"),
            ("code", "string"), ("day", "string"),
        ]
        assert sorted((r.code, r.day) for r in df.collect()) == [
            ("007", "2024-01-01"),
            ("010", "2024-01-02"),
        ]
    # the recorded schema is exactly what a read returns: partition
    # columns last, every field nullable
    assert st.read_version(v1).schema == st.version_schema(v1) == st.schema
    st.append(spark.createDataFrame([(3, "abc", "today")], schema))
    assert sorted(r.code for r in st.read().collect()) == ["007", "010", "abc"]


def test_empty_append_to_partitioned_store_stays_readable(spark, tmp_path):
    """An empty batch appended to a partitioned store leaves a directory
    with no parquet files in the lineage; reads must still work."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(partition_by="p")
    st.write_replace(spark.createDataFrame([(1, "x"), (2, "y")], "k int, p string"))
    st.append(spark.createDataFrame([], "k int, p string"))
    assert st.get_active_version() == 2
    assert st.record_count == 2
    assert sorted(r.k for r in st.read().collect()) == [1, 2]
    assert st.read_version(2).count() == 2
    st.append(spark.createDataFrame([(3, "x")], "k int, p string"))
    assert sorted(r.k for r in st.read().collect()) == [1, 2, 3]


def test_reads_after_partition_by_change_keep_column_values(spark, tmp_path):
    """Lineage directories written under different ``partition_by``
    return their columns in different orders; every read lines them up
    by name, so old rows keep their own values."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(partition_by="a", stats_columns="k")
    schema = "k int, a string, b string, c int"
    st.write_replace(spark.createDataFrame([(1, "a1", "b1", 10)], schema))
    st.configure(partition_by=["a", "b"])
    st.append(spark.createDataFrame([(2, "a2", "b2", 20)], schema))
    st.configure(partition_by=["c", "a"])
    st.append(spark.createDataFrame([(3, "a3", "b3", 30)], schema))
    v = st.get_active_version()
    want = [(1, "a1", "b1", 10), (2, "a2", "b2", 20), (3, "a3", "b3", 30)]
    for df in (
        st.read(),
        st.read_version(v),
        st.read_pruned([("k", ">=", 1)]),
        TableStore(str(tmp_path), "t", spark).read(),
    ):
        assert _fields(df.schema) == _fields(st.version_schema(v))
        assert sorted((r.k, r.a, r.b, r.c) for r in df.collect()) == want


def test_lineage_reads_launch_no_jobs(spark, tmp_path):
    """Building a read over a 5-directory lineage plans against the
    manifest's recorded schema: no footer-inference job per directory
    (modelled on ``test_write_is_single_job``)."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(partition_by="p", stats_columns="k")
    st.write_replace(spark.createDataFrame([(0, "a")], "k int, p string"))
    for i in range(1, 5):
        st.append(spark.createDataFrame([(i, "ab"[i % 2])], "k int, p string"))
    v = st.get_active_version()
    assert len(st._version_dirs(v)) == 5
    fresh = TableStore(str(tmp_path), "t", spark)  # nothing cached in memory
    (full, old, pruned), jobs = _jobs_launched(
        spark,
        "jobcount-read",
        lambda: (
            fresh.read(),
            fresh.read_version(v - 1),
            fresh.read_pruned([("k", ">=", 3)]),
        ),
    )
    assert jobs == 0
    assert sorted(r.k for r in full.collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.k for r in old.collect()) == [0, 1, 2, 3]
    assert sorted(r.k for r in pruned.collect()) == [3, 4]


def test_version_without_schema_record_is_inferred(spark, tmp_path):
    """A version committed without a schema record — the public
    create_new_version -> write files -> set_active_version path, or a
    manifest from before schema records — is inferred from the footers on
    first read; the next commit persists it, so later reads plan with no
    Spark job."""
    import json as _json

    from pyspark.sql import types as T

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(_df(spark, [(1, "a")]))
    st.append(spark.createDataFrame([(2, "b", 2.5)], "k int, v string, w double"))
    with open(st._manifest_path()) as f:
        m = _json.load(f)
    for entry in m["versions"].values():
        entry.pop("schema_json", None)
    with open(st._manifest_path(), "w") as f:
        _json.dump(m, f)
    legacy = TableStore(str(tmp_path), "t", spark)
    rows = sorted(map(tuple, legacy.read().collect()))
    assert rows == [(1, "a", None), (2, "b", 2.5)]

    # a record written as the raw frame schema (partition column first,
    # non-nullable fields) is served in read form everywhere
    raw = TableStore(str(tmp_path), "raw", spark)
    raw.configure(partition_by="p", stats_columns="k")
    raw.write_replace(
        spark.createDataFrame([("x", 1)], "p string, k int").withColumn(
            "n", F.lit(1)
        )
    )
    with open(raw._manifest_path()) as f:
        m = _json.load(f)
    m["versions"][str(m["active_version"])]["schema_json"] = T.StructType(
        [
            T.StructField("p", T.StringType(), False),
            T.StructField("k", T.IntegerType(), False),
            T.StructField("n", T.IntegerType(), False),
        ]
    ).json()
    with open(raw._manifest_path(), "w") as f:
        _json.dump(m, f)
    raw = TableStore(str(tmp_path), "raw", spark)
    read_schema = _fields(raw.read().schema)
    assert [name for name, _, _ in read_schema] == ["k", "n", "p"]
    assert all(nullable for _, _, nullable in read_schema)
    assert _fields(raw.schema) == read_schema
    assert _fields(raw.read_pruned([("k", ">", 100)]).schema) == read_schema
    raw.append(spark.createDataFrame([(2, 2, "y")], "k int, n int, p string"))
    assert sorted(map(tuple, raw.read().collect())) == [(1, 1, "x"), (2, 2, "y")]

    v = legacy.create_new_version()
    _df(spark, [(3, "c")]).write.parquet(legacy.version_path(v))
    legacy.set_active_version(v)
    assert "schema_json" not in legacy._manifest.versions[str(v)]
    assert [(r.k, r.v) for r in legacy.read().collect()] == [(3, "c")]
    legacy.append(_df(spark, [(4, "d")]))  # commits the inferred records
    fresh = TableStore(str(tmp_path), "t", spark)
    assert "schema_json" in fresh._manifest.versions[str(v)]
    _, jobs = _jobs_launched(
        spark, "jobcount-legacy", lambda: fresh.read_version(v)
    )
    assert jobs == 0


# ------------- failure rule: a mutation flips the pointer or changes nothing


def _disk_manifest(st):
    with open(st._manifest_path()) as f:
        return json.load(f)


def _bad_batch(spark, failure):
    """A batch the write rejects: an expectation violation, or a row that
    makes the Spark write job itself fail."""
    v = -5.0 if failure == "expectation" else 2.0
    df = spark.createDataFrame([(2, v)], "k int, v double")
    if failure == "raise_error":
        boom = F.when(F.col("k") == 2, F.raise_error(F.lit("boom")))
        df = df.withColumn("v", boom.otherwise(F.col("v")))
    return df


@pytest.mark.parametrize("failure", ["expectation", "raise_error"])
@pytest.mark.parametrize(
    "verb, want",
    [("write_replace", [3]), ("append", [1, 3]), ("upsert", [1, 3])],
)
def test_failed_write_leaves_no_version_behind(spark, tmp_path, verb, want, failure):
    """A rejected or crashed write leaves nothing the next commit could
    persist: history and the on-disk manifest list only committed
    versions, the failed write's number is reused, and the next good
    version holds exactly its own rows."""
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(
        unique_on="k",
        expectations={"v_nonneg": "v >= 0"},
        expectations_mode="fail",
    )
    st.write_replace(spark.createDataFrame([(1, 1.0)], "k int, v double"))
    with pytest.raises(Exception, match="v_nonneg|boom"):
        getattr(st, verb)(_bad_batch(spark, failure))
    assert [e["version"] for e in st.history()] == [1]
    getattr(st, verb)(spark.createDataFrame([(3, 3.0)], "k int, v double"))

    h = st.history()
    assert [e["version"] for e in h] == [2, 1]
    assert all(e["on_disk"] for e in h)
    m = _disk_manifest(st)
    assert sorted(m["versions"]) == ["1", "2"] and m["active_version"] == 2
    assert sorted(r.k for r in st.read_version(2).collect()) == want
    assert st.record_count == len(want)


@pytest.mark.parametrize(
    "first, rejected",
    [
        ({"cluster_by": ["x"]}, {"zorder_by": ["x", "y"]}),
        ({"partition_by": ["p"]}, {"bucket_by": ["k"], "num_buckets": 4}),
        ({}, {"expectations": {"x_pos": "x > 0"}, "expectations_mode": "bogus"}),
    ],
)
def test_rejected_configure_changes_nothing(spark, tmp_path, first, rejected):
    """A configure call that raises leaves the config as it was, in
    memory and in the manifest the next commit writes."""
    config = (
        "partition_by", "stats_columns", "cluster_by", "zorder_by",
        "bucket_by", "num_buckets", "expectations", "expectations_mode",
    )
    st = TableStore(str(tmp_path), "t", spark)
    st.configure(**first)
    before = {k: getattr(st._manifest, k) for k in config}
    with pytest.raises(ValueError):
        st.configure(**rejected)
    assert {k: getattr(st._manifest, k) for k in config} == before
    st.write_replace(
        spark.createDataFrame([(1, 1, 2, "a")], "k int, x int, y int, p string")
    )
    m = _disk_manifest(st)
    assert {k: m[k] for k in config} == before


@pytest.mark.parametrize("rejection", ["expectation", "strict_schema"])
def test_monotonic_ids_stay_dense_across_rejected_batch(spark, tmp_path, rejection):
    """Ids advance only with a committed batch: a rejected batch's ids
    are handed out again to the next one."""
    from basis_devkit_spark.storage.store import SchemaMismatchError

    st = TableStore(str(tmp_path), "t", spark)
    if rejection == "expectation":
        st.configure(
            add_monotonic_id="id",
            expectations={"v_nonneg": "v >= 0"},
            expectations_mode="fail",
        )
        bad = _df(spark, [(2, 1.0), (3, -1.0)], "k int, v double")
        err = ValueError
    else:
        st.configure(add_monotonic_id="id", strict_schema=True)
        bad = _df(
            spark, [(2, 1.0, "x"), (3, 1.0, "y")], "k int, v double, extra string"
        )
        err = SchemaMismatchError
    st.append(_df(spark, [(0, 1.0), (1, 1.0)], "k int, v double"))
    with pytest.raises(err):
        st.append(bad)
    st.append(_df(spark, [(4, 1.0)], "k int, v double"))
    ids = sorted(int(r.id, 32) for r in st.read().collect())
    assert ids == [1, 2, 3]
    assert _disk_manifest(st)["max_monotonic_id"] == 3


def test_flip_time_concurrent_write_leaves_handle_stale(spark, tmp_path, monkeypatch):
    """Another writer commits between this handle's data write and its
    pointer flip: the flip raises ConcurrentWriteError, and the handle
    keeps its last committed manifest and stays fenced — every write
    raises — until refresh()."""
    from basis_devkit_spark.storage.store import ConcurrentWriteError

    st = TableStore(str(tmp_path), "t", spark)
    st.write_replace(spark.range(3).toDF("x"))
    real = st._write_counted

    def write_then_other_commit(*args, **kwargs):
        out = real(*args, **kwargs)
        m = _disk_manifest(st)
        m["commit_seq"] += 1
        with open(st._manifest_path(), "w") as f:
            json.dump(m, f)
        return out

    monkeypatch.setattr(st, "_write_counted", write_then_other_commit)
    with pytest.raises(ConcurrentWriteError):
        st.write_replace(spark.range(5).toDF("x"))
    monkeypatch.undo()
    assert st.get_active_version() == 1
    assert [e["version"] for e in st.history()] == [1]
    with pytest.raises(ConcurrentWriteError):
        st.write_replace(spark.range(7).toDF("x"))
    assert st.read().count() == 3

    st.refresh()
    st.write_replace(spark.range(7).toDF("x"))
    assert st.read().count() == 7
    assert [e["version"] for e in st.history()] == [2, 1]


def test_reused_version_dir_is_overwritten_whole(spark, tmp_path):
    """The write that reuses a failed write's version number replaces the
    whole orphan directory, even under dynamic partition overwrite: no
    partition of the rejected batch resurfaces."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        st = TableStore(str(tmp_path), "t", spark)
        st.configure(
            partition_by="p",
            expectations={"v_nonneg": "v >= 0"},
            expectations_mode="fail",
        )
        schema = "k int, v double, p string"
        st.write_replace(spark.createDataFrame([(1, 1.0, "a")], schema))
        with pytest.raises(ValueError, match="v_nonneg"):
            st.write_replace(spark.createDataFrame([(2, -1.0, "b")], schema))
        st.write_replace(spark.createDataFrame([(3, 3.0, "c")], schema))
    finally:
        spark.conf.set(key, prev)
    assert st.get_active_version() == 2
    assert [r.k for r in st.read().collect()] == [3]
