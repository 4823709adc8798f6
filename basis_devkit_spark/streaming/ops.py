"""Structured Streaming operators (SURVEY §2.C).

The reference's streaming model is incremental micro-batch over ordered
tables (Stream cursor, node.py:18-81) — implemented batch-side in
``node/stream.py``. This module is the *push-source* realization: true
Structured Streaming for sources that arrive continuously (webhook drops,
file landings), with watermarks for late data and checkpointed
exactly-once sinks — the same semantics the cursor gives batch tables.

All functions take/return streaming DataFrames; callers own the
``start()``/``awaitTermination`` lifecycle.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def read_stream_directory(
    spark: SparkSession,
    path: str,
    format: str = "json",
    schema: T.StructType | str | None = None,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """File-landing source (webhook drop dir): each new file is a
    micro-batch. Schema is REQUIRED by Structured Streaming for json/csv."""
    reader = spark.readStream.format(format).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    keys: Iterable[str] = (),
    watermark: str = "1 hour",
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (C3 + C6). ``aggs`` maps
    column → agg fn name; default counts rows."""
    out_names = [f"{fn}_{c}" for c, fn in (aggs or {}).items()] or ["n_events"]
    agg_exprs = (
        [getattr(F, fn)(c).alias(f"{fn}_{c}") for c, fn in (aggs or {}).items()]
        or [F.count(F.lit(1)).alias("n_events")]
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(*agg_exprs)
        .select(F.col("w.start").alias("window_start"), *keys, *out_names)
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str = "15 minutes",
    keys: Iterable[str] = (),
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window counts (C4)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    keys: Iterable[str] = ("user_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows with gap timeout (C5)."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n_events",
        )
    )


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Cross-batch stateful dedup bounded by the watermark (C7): state for
    a key is droppable once the watermark passes — bounded memory at scale,
    unlike unbounded dropDuplicates."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def drop_late_events(
    df: DataFrame,
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    delay: str = "10 minutes",
    bucket_size: int = 8192,
) -> DataFrame:
    """Deterministic batch replay of the watermark late-data policy (C6).

    Processing order is ``arrival_col``; the watermark after each arrival
    is (max event time seen so far) − ``delay``; a row is LATE — dropped —
    iff its event time is below the watermark established *before* it
    arrived (the same rule ``withWatermark`` applies in a live stream,
    replayed exactly for batch verification).

    Scale design: the naive form is one exclusive running max over a
    no-partition window — a single-task global sort (the anti-pattern).
    Instead the prefix max is computed distributed in two passes:
    per-bucket maxima (tiny agg, |buckets| = n/bucket_size rows) get an
    exclusive cumulative max on the bucket list, broadcast back; each
    bucket then computes its within-bucket exclusive running max in
    parallel. exclusive_prefix_max(row) == greatest(prior-bucket cummax,
    within-bucket exclusive max) — exact, with no global shuffle of the
    data.
    """
    from pyspark.sql.window import Window

    b = F.floor(F.col(arrival_col) / F.lit(bucket_size)).alias("__b")
    df2 = df.withColumn("__b", b)
    bmax = df2.groupBy("__b").agg(F.max(ts_col).alias("__bmax"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bmax.withColumn("__prevmax", F.max("__bmax").over(wb)).select(
        "__b", "__prevmax"
    )
    wr = (
        Window.partitionBy("__b")
        .orderBy(arrival_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df2.join(F.broadcast(bprev), "__b", "left")
        .withColumn(
            "__runmax",
            F.greatest(F.max(ts_col).over(wr), F.col("__prevmax")),
        )
        .withColumn("__wm", F.col("__runmax") - F.expr(f"INTERVAL {delay}"))
        .filter(F.col("__wm").isNull() | (F.col(ts_col) >= F.col("__wm")))
        .drop("__b", "__prevmax", "__runmax", "__wm")
    )


def stateful_running_agg(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    idle_timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    reference's per-node State, pushed to executors): running per-key count
    and sum that survives across micro-batches; key state expires after
    ``idle_timeout_ms`` of *processing-time* inactivity
    (``ProcessingTimeTimeout`` — event-time expiry would require a
    watermark + ``EventTimeTimeout``)."""
    key_type = df.schema[key_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("key", key_type),
            T.StructField("n_total", T.LongType()),
            T.StructField("sum_total", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    use_timeout = idle_timeout_ms > 0

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if use_timeout and state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        if use_timeout:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "n_total": [n], "sum_total": [s]})

    return (
        df.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def _foreach_batch_sink(
    df: DataFrame,
    write,
    checkpoint_dir: str,
    trigger_seconds: int | None,
    output_mode: str = "update",
):
    """The one sink shape behind every ``stream_*_to_store``: each
    micro-batch goes to ``write(batch_df, batch_id)``, progress lives in
    ``checkpoint_dir``, and ``trigger_seconds`` (when set) fixes a
    processing-time trigger. Returns the unstarted writer."""
    w = df.writeStream.foreachBatch(write).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode(output_mode)
    if trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w


def stream_append_to_store(
    df: DataFrame,
    store,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming sink into a MANAGED ``TableStore``:
    ``foreachBatch`` + ``store.append_stream_batch`` — each micro-batch
    appends through the store's normal versioned commit (copy-on-write
    lineage, expectations, stats), and the batch id rides the same atomic
    manifest flip, so checkpoint replays after a crash are skipped instead
    of double-ingested. This is the managed-table upgrade of
    ``stream_to_managed_table`` (raw parquet sink, below)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        store.append_stream_batch(batch_df, batch_id)

    return _foreach_batch_sink(
        df, _write, checkpoint_dir, trigger_seconds, "append"
    )


def stream_to_managed_table(
    df: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
):
    """Checkpointed parquet sink into a managed store directory —
    exactly-once via Structured Streaming's offset/commit log (the
    streaming analog of the batch commit protocol in storage/store.py)."""
    return (
        df.writeStream.format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: rows pair when they share
    ``on`` and ``right_ts`` falls in [left_ts, left_ts + max_delay] — the
    click→conversion attribution shape.

    Both sides carry watermarks plus the time-range condition, which is
    what lets Structured Streaming BOUND the join state: a buffered left
    row can be dropped once the right watermark passes left_ts+max_delay
    (without the range condition the state grows forever). Columns must be
    disjoint apart from ``on``; rename before joining."""
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"interval {max_delay}")
        )
    )
    out = lw.join(rw, cond, how)
    # drop the duplicated join key from the right side
    return out.drop(F.col(f"r.{on}"))


def stream_upsert_to_store(
    df: DataFrame,
    store,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming UPSERT sink into a managed ``TableStore`` —
    the update-mode companion of ``stream_append_to_store``: a streaming
    aggregation emits each key's updated row per micro-batch and the
    foreachBatch merge keeps exactly the latest state per ``unique_on``
    key in the managed table (configure the store's ``unique_on`` first).
    Batch-id idempotency rides the store's atomic manifest commit."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        store.upsert_stream_batch(batch_df, batch_id)

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)


def stream_merge_to_store(
    df: DataFrame,
    store,
    checkpoint_dir: str,
    merge_fn,
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming MERGE sink — the general form of
    ``stream_upsert_to_store`` for state whose per-key combine is not
    last-write-wins (sketch registers MAX/SUM-merge, counters add, …):
    each micro-batch is passed through ``merge_fn(batch_df, existing)``
    (``existing`` = the store's current frame, or ``None`` before the
    first commit) and the result upserts on the store's ``unique_on``
    key. Batch-id idempotency rides the store's atomic manifest commit,
    so replays after a crash re-merge nothing."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        existing = store.read() if store.has_active_version() else None
        store.upsert_stream_batch(merge_fn(batch_df, existing), batch_id)

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)


def stream_pack_append_to_store(
    df: DataFrame,
    layout_store,
    state_store,
    checkpoint_dir: str,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    trigger_seconds: int | None = None,
    prepare_fn=None,
):
    """Exactly-once INCREMENTAL sequence packing (c23) — the streaming
    completion of the last batch-only pretrain stage: every other
    ``sequence_pack*`` form is a global prefix over the whole corpus,
    so a new crawl batch forces a full repack; here each micro-batch is
    laid out by ``operators.text.sequence_pack_append`` starting from
    the PERSISTED pack cursor (``state_store``: one row —
    (state_id, total_tokens, last_seq_id, last_seq_offset)), so the
    per-batch cost is batch-sized and packed history is never re-read
    and never rewritten (seq ids/offsets are pure functions of the
    absolute cumulative token count).

    Exactly-once: both stores use the batch-id idempotent
    ``upsert_stream_batch`` contract (``layout_store`` keyed on
    ``id_col``, ``state_store`` on ``state_id``). The layout commit
    happens FIRST; on a crash between the two commits the replay
    recomputes the same layout from the still-pre-batch cursor, the
    layout store skips it (batch id already stamped), and only the
    state commit applies — the pair converges without a cross-store
    transaction. Two-batch == one-shot byte parity is the c23 oracle."""
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        pack_append_batch(
            layout_store, state_store, batch_df, batch_id, budget,
            id_col=id_col, text_col=text_col, n_tokens_col=n_tokens_col,
            prepare_fn=prepare_fn,
        )

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)


def pack_append_batch(
    layout_store,
    state_store,
    batch_df: DataFrame,
    batch_id: int,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    prepare_fn=None,
) -> None:
    """One micro-batch of the incremental pack —
    :func:`stream_pack_append_to_store`'s foreachBatch body, public so
    the crash/replay contract is directly testable: read the pre-batch
    cursor (one state row), lay out the batch from it, commit layout
    then state, each under the store's batch-id idempotency. Replays of
    a fully-committed batch are no-ops in both stores; a replay after a
    crash BETWEEN the commits recomputes the identical layout from the
    still-pre-batch cursor, the layout store skips it, and only the
    state commit applies."""
    from basis_devkit_spark.operators.lineage import release_plan_blocks
    from basis_devkit_spark.operators.text import (
        sequence_pack_append,
        sequence_pack_state,
    )

    if prepare_fn is not None:
        # per-batch pre-step against FIXED artifacts (e.g. tokenize on
        # ingest — c24 chains bpe_token_counts_indexed here): a pure
        # per-row function, so the replayed batch prepares identically
        batch_df = prepare_fn(batch_df)
    cursor = 0
    if state_store.has_active_version():
        row = state_store.read().collect()  # one row by construction
        if row:
            cursor = int(row[0]["total_tokens"])
    layout = sequence_pack_append(
        batch_df, budget, id_col=id_col, text_col=text_col,
        n_tokens_col=n_tokens_col, cursor_tokens=cursor,
    ).localCheckpoint(eager=True)
    # materialized once: the layout upsert and the state agg must see
    # the SAME rows, and the lineage must not re-read the micro-batch
    # source after it advances
    try:
        layout_store.upsert_stream_batch(layout, batch_id)
        state_store.upsert_stream_batch(
            sequence_pack_state(layout, budget, cursor_tokens=cursor),
            batch_id,
        )
    finally:
        release_plan_blocks(layout)


def transition_count_batch(
    counts_store,
    state_store,
    batch_df: DataFrame,
    batch_id: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    event_col: str = "event_type",
) -> None:
    """One micro-batch of streaming transition-matrix maintenance —
    :func:`stream_transition_counts_to_store`'s foreachBatch body,
    public so the crash/replay and BOUNDARY contracts are directly
    testable. The subtle part every naive implementation gets wrong:
    the first event of a user's batch transitions FROM the user's last
    event of the PREVIOUS batch — dropping cross-batch pairs silently
    undercounts exactly the long-lived users. ``state_store`` persists
    one row per user (last ts/id/event); each batch contributes its
    within-batch lag pairs PLUS the boundary pairs joined from that
    cursor state.

    Exactly-once without a cross-store transaction (the c23 argument):
    the counts delta commits FIRST under batch-id idempotency, the
    per-user cursor second; a replay after a crash between the two
    recomputes the identical delta from the still-pre-batch cursors,
    the counts store skips it, and only the cursor commit applies.
    Requires in-order arrival per user (event-time-ordered batches —
    the same contract as the pack cursor)."""
    from pyspark.sql import Window as _W

    from basis_devkit_spark.operators.lineage import release_plan_blocks

    ev = batch_df.select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"), F.col(event_col).alias("e"),
    ).localCheckpoint(eager=True)
    # within-batch pairs + this batch's first/last event per user
    try:
        w = _W.partitionBy("u").orderBy("t", "i")
        pairs = ev.select(
            F.lag("e").over(w).alias("state"), F.col("e").alias("next")
        ).filter(F.col("state").isNotNull())
        firsts = ev.groupBy("u").agg(
            F.min(F.struct("t", "i", "e")).alias("__f"),
            F.max(F.struct("t", "i", "e")).alias("__l"),
        )
        if state_store.has_active_version():
            prev = state_store.read().select(
                F.col("u"), F.col("last_event").alias("state")
            )
            boundary = firsts.join(prev, "u").select(
                "state", F.col("__f.e").alias("next")
            )
            pairs = pairs.unionByName(boundary)
        delta = pairs.groupBy("state", "next").agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions")
        )
        existing = (
            counts_store.read()
            if counts_store.has_active_version()
            else None
        )
        if existing is not None:
            prev_c = existing.select(
                "state", "next",
                F.col("n_transitions").alias("__pn"),
            )
            zero = F.lit(0).cast("long")
            delta = delta.join(prev_c, ["state", "next"], "full").select(
                "state", "next",
                (
                    F.coalesce(F.col("n_transitions"), zero)
                    + F.coalesce(F.col("__pn"), zero)
                ).cast("long").alias("n_transitions"),
            )
        counts_store.upsert_stream_batch(delta, batch_id)
        new_state = firsts.select(
            "u",
            F.col("__l.t").alias("last_ts"),
            F.col("__l.i").alias("last_event_id"),
            F.col("__l.e").alias("last_event"),
        )
        state_store.upsert_stream_batch(new_state, batch_id)
    finally:
        release_plan_blocks(ev)


def stream_transition_counts_to_store(
    df: DataFrame,
    counts_store,
    state_store,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    event_col: str = "event_type",
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming transition-matrix maintenance (c31): the
    e04 Markov counts kept current per micro-batch at batch cost — the
    per-user cursor state makes CROSS-BATCH transitions exact, so the
    maintained counts equal the one-shot batch computation
    byte-for-byte (the c23/c28 contract). See
    :func:`transition_count_batch` for the two-store commit order."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        transition_count_batch(
            counts_store, state_store, batch_df, batch_id,
            user_col=user_col, ts_col=ts_col, id_col=id_col,
            event_col=event_col,
        )

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)


def novelty_gate_batch(
    report_store,
    hash_store,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of the c34 novelty-gated ingest: score the
    batch's per-doc novelty against the CURRENT maintained
    paragraph-hash store (report commits FIRST, keyed on ``id_col``),
    then fold the batch's own paragraph hashes into the store (keyed
    on the hash). Crash between the two commits: the replay recomputes
    the same novelty from the still-pre-batch hash store, the report
    store skips it (batch id already stamped), and only the hash
    commit applies — the pair converges without a cross-store
    transaction (the c23 pack / c31 cursor contract)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        paragraph_hashes,
        snapshot_novelty,
    )

    if hash_store.has_active_version():
        old = hash_store.read().select("para_hash")
    else:
        spark = batch_df.sparkSession
        old = spark.range(0).select(F.col("id").alias("para_hash"))
    rep = snapshot_novelty(
        batch_df, id_col=id_col, text_col=text_col, old_hashes=old
    )
    report_store.upsert_stream_batch(rep, batch_id)
    new_h = (
        paragraph_hashes(batch_df, id_col, text_col)
        .select(F.col("__h").alias("para_hash"))
        .distinct()
    )
    hash_store.upsert_stream_batch(new_h, batch_id)


def stream_novelty_gate_to_store(
    df: DataFrame,
    report_store,
    hash_store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_seconds: int | None = None,
):
    """Exactly-once streaming novelty gate (c34): every incoming dump
    batch is scored against the paragraph hashes of EVERYTHING
    ingested before it — the d80 cross-snapshot report kept current at
    batch cost, so re-crawls are flagged (and can be dropped) at the
    door instead of after a full dedup pass. State is 8-byte hashes
    only; per batch: one explode + distinct + hash equi-join + per-doc
    aggregate."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        novelty_gate_batch(
            report_store, hash_store, batch_df, batch_id,
            id_col=id_col, text_col=text_col,
        )

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)


def cusum_batch(
    rows_store,
    state_store,
    batch_df: DataFrame,
    batch_id: int,
    value_col: str = "value",
    group_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    target: float = 0.0,
    slack: float = 0.0,
    threshold: float = 5.0,
    out_round: int = 6,
) -> None:
    """One micro-batch of streaming CUSUM maintenance (c35): the e22
    changepoint chart kept current at batch cost, per-row statistics
    equal to the one-shot batch computation byte-for-byte. The carry
    per series is TWO integers per side: the prefix total ``P_last``
    and the floored running minimum ``M = min(0, min prefix)`` — the
    closed form's whole state, so a mega-series costs the same 4
    longs as an idle one. For a batch row with batch-relative prefix
    ``p_t`` and batch-relative running min ``bmin_t``::

        S_t = (P_last + p_t) − min(M_prev, P_last + bmin_t)

    which equals the global closed form because min over a split
    sequence is the min of the parts' mins.

    Two-store commit, crash-convergent without a transaction (the
    c23/c31 argument): the scored rows upsert FIRST under batch-id
    idempotency (keyed on ``id_col``), the per-series cursor second; a
    replay recomputes identical rows from the still-pre-batch cursor.
    Requires in-order arrival per series (event-time-ordered batches —
    the pack/transition cursor contract)."""
    from pyspark.sql import Window as _W

    from basis_devkit_spark.operators.lineage import release_plan_blocks

    scale = 10 ** out_round
    mu = int(round(float(target) * scale))
    kk = int(round(float(slack) * scale))
    hh = int(round(float(threshold) * scale))
    ev = batch_df.select(
        F.col(group_col).alias("g"), F.col(id_col).alias("i"),
        F.col(ts_col).alias("t"), F.col(value_col).alias("x"),
    ).localCheckpoint(eager=True)
    try:
        w = _W.partitionBy("g").orderBy("t", "i")
        run = w.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        v = F.floor(F.col("x").cast("double") * scale + 0.5).cast("long")
        dpos = F.coalesce(v - F.lit(mu) - F.lit(kk), F.lit(0))
        dneg = F.coalesce(F.lit(mu) - v - F.lit(kk), F.lit(0))
        staged = ev.select(
            "g", "i", "t", "x", v.alias("__v"),
            F.sum(dpos).over(run).alias("pp"),
            F.sum(dneg).over(run).alias("pn"),
        ).select(
            "*",
            F.min("pp").over(run).alias("bp"),
            F.min("pn").over(run).alias("bn"),
        )
        if state_store.has_active_version():
            carry = state_store.read().select(
                F.col("g").alias("__cg"),
                F.col("pp_last").alias("__cpp"),
                F.col("pp_min").alias("__cmp"),
                F.col("pn_last").alias("__cpn"),
                F.col("pn_min").alias("__cmn"),
            )
            # null-safe key: a NULL-group series must keep its carry too
            staged = staged.join(
                carry, F.col("g").eqNullSafe(F.col("__cg")), "left"
            ).drop("__cg")
        else:
            zl = F.lit(None).cast("long")
            staged = staged.select(
                "*", zl.alias("__cpp"), zl.alias("__cmp"),
                zl.alias("__cpn"), zl.alias("__cmn"),
            )
        z = F.lit(0).cast("long")
        cpp, cpn = F.coalesce("__cpp", z), F.coalesce("__cpn", z)
        cmp_, cmn = F.coalesce("__cmp", z), F.coalesce("__cmn", z)
        spos = (cpp + F.col("pp")) - F.least(cmp_, cpp + F.col("bp"))
        sneg = (cpn + F.col("pn")) - F.least(cmn, cpn + F.col("bn"))
        lit_scale = F.lit(float(scale))
        rows = staged.select(
            F.col("g").alias(group_col),
            F.col("i").alias(id_col),
            F.col("t").alias(ts_col),
            F.col("x").alias(value_col),
            F.when(F.col("__v").isNotNull(), spos / lit_scale).alias(
                "cusum_pos"
            ),
            F.when(F.col("__v").isNotNull(), sneg / lit_scale).alias(
                "cusum_neg"
            ),
            F.coalesce(
                F.col("__v").isNotNull()
                & ((spos > F.lit(hh)) | (sneg > F.lit(hh))),
                F.lit(False),
            ).cast("int").alias("is_alarm"),
        )
        rows_store.upsert_stream_batch(rows, batch_id)
        last = F.max(
            F.struct(F.col("t"), F.col("i"), F.col("pp"), F.col("pn"))
        ).alias("__l")
        new_state = (
            staged.groupBy("g")
            .agg(
                last,
                F.min("bp").alias("__bp"),
                F.min("bn").alias("__bn"),
                F.first(cpp).alias("__cpp0"),
                F.first(cpn).alias("__cpn0"),
                F.first(cmp_).alias("__cmp0"),
                F.first(cmn).alias("__cmn0"),
            )
            .select(
                "g",
                (F.col("__cpp0") + F.col("__l.pp")).alias("pp_last"),
                F.least(
                    F.col("__cmp0"), F.col("__cpp0") + F.col("__bp")
                ).alias("pp_min"),
                (F.col("__cpn0") + F.col("__l.pn")).alias("pn_last"),
                F.least(
                    F.col("__cmn0"), F.col("__cpn0") + F.col("__bn")
                ).alias("pn_min"),
            )
        )
        state_store.upsert_stream_batch(new_state, batch_id)
    finally:
        release_plan_blocks(ev)


def stream_cusum_to_store(
    df: DataFrame,
    rows_store,
    state_store,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    **kw,
):
    """Exactly-once streaming CUSUM sink (c35): see
    :func:`cusum_batch` for the carry math and the two-store commit
    order. ``kw`` forwards the e22 parameters (value/group/ts/id
    columns, target, slack, threshold)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        cusum_batch(rows_store, state_store, batch_df, batch_id, **kw)

    return _foreach_batch_sink(df, _write, checkpoint_dir, trigger_seconds)
